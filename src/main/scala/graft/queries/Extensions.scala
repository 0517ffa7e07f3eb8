package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.{AsOf, Dedup, Density, Graph, Integrity, Multimodal, Sample, Similarity, TextOps}

/** Mandated extension surface (SURVEY.md §2.4 / BASELINE.json north_star):
  * dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard), similarity search
  * (brute-force + hyperplane-LSH), text analysis (tokens, quality, lang-ID,
  * fingerprints) and multimodal binary plumbing — each as a verifiable
  * query with a DuckDB oracle mirroring the exact arithmetic (md5-based
  * hashing for portability; sequential double folds for vector math).
  */
object Extensions extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Spread a small-file table across the cluster before CPU-heavy per-row
    * work — conditional on actual input partitioning (no-op at cluster
    * scale); see [[graft.operators.Par.spread]].
    */
  private def spread(df: DataFrame): DataFrame = graft.operators.Par.spread(df)

  private val enStop = Seq("the", "a", "of", "and", "to", "is")

  /** Sketch-verdict boolean builders (VERDICT r12 #4) — single source for
    * the gates below AND for VerdictGateSpec, which proves each boolean
    * CAN go false: the oracles only ever assert TRUE, so without the
    * teeth spec a comparison bug that made a verdict vacuously true
    * would stay driver-green forever.
    */
  /** HLL verdict: the estimate landed within `eps` relative error of the
    * exact distinct count.
    */
  private[graft] def hllWithinEps(approx: Column, exact: Column,
                                  eps: Double): Column =
    abs(approx.cast("double") - exact.cast("double")) <=
      lit(eps) * exact.cast("double")

  /** Tie-aware rank verdict: the sketch value's possible rank interval
    * [lt+1, le] (lt = count strictly below it, le = count at-or-below)
    * intersects the guaranteed band [target − err, target + err].
    */
  private[graft] def rankWithinErr(lt: Column, le: Column, target: Column,
                                   err: Column): Column =
    (lt + lit(1.0) <= target + err) && (le >= target - err)

  /** Subset verdict: zero surfaced-but-not-in-truth pairs. */
  private[graft] def subsetOk(extra: Column): Column = extra <= lit(0L)

  /** Recall verdict: hits cover at least `bound` of the truth set (holds
    * vacuously for empty truth — nothing to recall).
    */
  private[graft] def recallAtLeast(hit: Column, truth: Column,
                                   bound: Double): Column =
    hit.cast("double") >= lit(bound) * truth.cast("double")

  /** Shared oracle CTEs for 3-shingle sets over documents. */
  private val shCte = """
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2],' ') AS shingle
      FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents) dd,
           LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1,1))) AS i) ii),
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)"""

  /** Oracle for the x2_minhash_* verdict gates: DuckDB replays the exact
    * 3-shingle Jaccard pair count at the 0.8 threshold (the truth set the
    * Spark side joins against) and asserts the two booleans TRUE — their
    * falsifiability lives in VerdictGateSpec. One row → trivially
    * total-ordered.
    */
  private val minhashVerdictOracle = s"""
      WITH $shCte
      SELECT CAST(count(*) AS BIGINT) AS n_exact,
             TRUE AS surfaced_subset, TRUE AS recall_ok
      FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
      WHERE CAST(ni AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - ni AS DOUBLE)
            >= CAST(0.8 AS DOUBLE)"""

  /** Shared body for the x2_minhash_* verdict gates:
    * [[graft.operators.Dedup.lshAudit]]'s one-row scorecard (production
    * xxhash64 surfaced pairs vs exact-Jaccard truth off ONE shared
    * shingle materialization — composing the two operators would explode
    * the corpus twice) rendered through the verdict boolean builders.
    * DedupSpec proves the audit counts equal the independent
    * minHashLsh + jaccardPairs composition.
    */
  private def minhashVerdictGate(s: SparkSession, dir: String,
                                 k: Int, bands: Int,
                                 minRecall: Double): DataFrame =
    Dedup.lshAudit(t(s, dir, "documents"), "doc_id", "text",
        n = 3, k = k, bands = bands, threshold = 0.8)
      .select(col("n_exact"),
        subsetOk(col("n_extra")).as("surfaced_subset"),
        recallAtLeast(col("n_hit"), col("n_exact"), minRecall)
          .as("recall_ok"))

  /** Co-order graph over lineitem: an edge src < dst between two `key`s
    * (l_suppkey or l_partkey) sharing an order, over the (l_orderkey,
    * key) rows of `li`; not deduplicated.
    */
  private def coOrderPairs(li: DataFrame, key: String): DataFrame =
    li.as("a").join(li.as("b"), "l_orderkey")
      .filter(col(s"a.$key") < col(s"b.$key"))
      .select(col(s"a.$key").as("src"), col(s"b.$key").as("dst"))

  /** Distinct [[coOrderPairs]] over the distinct (l_orderkey, key) rows
    * of lineitem, `sample` applied first. Distinct BEFORE the self-join:
    * duplicate keys within an order would blow the join output up
    * quadratically just to be distinct-ed away after.
    */
  private def coOrderEdges(s: SparkSession, dir: String, key: String,
                           sample: Option[Column] = None): DataFrame = {
    val li = t(s, dir, "lineitem").select("l_orderkey", key)
    coOrderPairs(sample.fold(li)(p => li.filter(p)).distinct(), key)
      .distinct()
  }

  /** Both directions of every edge (src, dst). */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))

  /** Oracle side of [[coOrderEdges]], the body of a `pr AS (...)` CTE:
    * distinct co-order edges over `key` of the lineitem rows in `from`.
    */
  private def coOrderSql(key: String, from: String = "lineitem"): String = s"""
        SELECT DISTINCT a.$key AS src, b.$key AS dst
        FROM $from a JOIN $from b
          ON a.l_orderkey = b.l_orderkey AND a.$key < b.$key"""

  /** `li`: lineitem's (l_orderkey, key) rows, with `s4` sampled to
    * key % 4 = 0 — the sample the _s4 companions replay at sf1.
    */
  private def liCte(key: String, s4: Boolean): String =
    s"li AS (SELECT l_orderkey, $key FROM lineitem" +
      (if (s4) s"\n                  WHERE $key % 4 = 0)" else ")")

  /** The `pr AS (...)` CTE of [[coOrderSql]]; with `s4`, over the sampled
    * [[liCte]].
    */
  private def coOrderPr(key: String, s4: Boolean): String =
    if (s4) s"${liCte(key, s4)},\n      pr AS (${coOrderSql(key, "li")})"
    else s"pr AS (${coOrderSql(key)})"

  /** Spark side of the _s4 sample ([[liCte]]). */
  private def s4Sample(key: String, s4: Boolean): Option[Column] =
    Option.when(s4)(col(key) % 4 === 0)

  /** The canonical u < v part co-order pairs `e0` of x8_kcore and
    * x8_ktruss, over [[liCte]].
    */
  private def partE0Cte(s4: Boolean): String = s"""
      WITH ${liCte("l_partkey", s4)},
      e0 AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
             FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey),"""

  /** PageRank round `i`'s inflow per node: Σ rank // outdeg of round
    * i − 1 over the edge CTE `edges`, left-joined onto every node.
    */
  private def rankInflow(i: Int, edges: String): String = s"""
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS id, sum(r.rank // d.outdeg) AS i
          FROM $edges e JOIN deg d ON e.src = d.src JOIN r${i - 1} r ON r.id = e.src
          GROUP BY e.dst) f ON f.id = n.id)"""

  /** Both directions of every co-order edge in `pr`. */
  private val coOrderEg = """eg AS (SELECT src, dst FROM pr
             UNION ALL SELECT dst AS src, src AS dst FROM pr)"""

  /** Portable MinHash over [[shCte]]'s `sh`, the oracle side of
    * `Dedup.minHashLsh(portable = true)` at k = 16 and 4 bands: md5
    * signature slots `sig` and per-band hashes `bandv` (doc_id, band, bh).
    */
  private val portableBandCte = """sig AS (SELECT doc_id,
        """ + (0 until 16).map(j =>
          s"min(md5('$j|'||shingle)) AS m$j").mkString(",\n        ") + """
        FROM sh GROUP BY doc_id),
      bandv AS (
        """ + (0 until 4).map { b =>
          val ms = (b * 4 until (b + 1) * 4).map(j => s"m$j").mkString("||'|'||")
          s"SELECT doc_id, $b AS band, md5($ms) AS bh FROM sig"
        }.mkString("\n        UNION ALL\n        ") + """),"""

  /** Oracle side of [[langIdPred]]: per document its gold `lang` and the
    * stopword-count `predicted` language (`pred`).
    */
  private val langIdPredCte = """
      WITH scored AS (
        SELECT lang,
          len(list_filter(string_split(text,' '), tk -> tk IN ('the','a','of','and','to','is'))) AS s_en,
          len(list_filter(string_split(text,' '), tk -> tk IN ('el','la','de','y','que','es'))) AS s_es,
          len(list_filter(string_split(text,' '), tk -> tk IN ('le','les','des','et','une','est'))) AS s_fr,
          len(list_filter(string_split(text,' '), tk -> tk IN ('der','die','das','und','ist','ein'))) AS s_de
        FROM documents),
      pred AS (
        SELECT lang,
          CASE WHEN s_en > 0 AND s_en >= greatest(s_en,s_es,s_fr,s_de) THEN 'en'
               WHEN s_es > 0 AND s_es >= greatest(s_en,s_es,s_fr,s_de) THEN 'es'
               WHEN s_fr > 0 AND s_fr >= greatest(s_en,s_es,s_fr,s_de) THEN 'fr'
               WHEN s_de > 0 AND s_de >= greatest(s_en,s_es,s_fr,s_de) THEN 'de'
               ELSE 'und' END AS predicted
        FROM scored)"""

  /** (lang, predicted) per document, by TextOps.langId. */
  private def langIdPred(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "documents"))
      .select(col("lang"),
        TextOps.langId(TextOps.tokens(col("text"))).as("predicted"))

  /** DSIR importance model (TextOps.dsirScores): hashed-bigram `bg`
    * features per doc and the per-bucket target/raw `ratio` in `m`.
    */
  private val dsirModelCte = """
      WITH tk AS (SELECT doc_id, source, string_split(text,' ') AS toks
                  FROM documents),
      bg AS (SELECT doc_id, source,
               substring(md5(array_to_string(toks[i:i+1],' ')), 1, 2)
                 AS bucket
             FROM tk, LATERAL (SELECT unnest(range(1, len(toks))) AS i) ii),
      rc AS (SELECT bucket, count(*) AS rc FROM bg GROUP BY bucket),
      tc AS (SELECT bucket, count(*) AS tc FROM bg
             WHERE source = 'src0' GROUP BY bucket),
      tot AS (SELECT (SELECT sum(rc) FROM rc) AS r_tot,
                     (SELECT coalesce(sum(tc), 0) FROM tc) AS t_tot),
      m AS (SELECT rc.bucket,
              (CAST(coalesce(tc.tc, 0) + 1 AS DOUBLE)
                 / CAST(t_tot + 256 AS DOUBLE))
              * (CAST(r_tot + 256 AS DOUBLE)
                 / CAST(rc.rc + 1 AS DOUBLE)) AS ratio
            FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot)"""

  /** Each doc's DSIR score over [[dsirModelCte]]. */
  private val dsirScoreCte = """,
      sc AS (SELECT doc_id,
               CAST(sum(CAST(floor(ratio * 1e6) AS HUGEINT)) AS DOUBLE)
                 / 1e6 / CAST(count(*) AS DOUBLE) AS score
             FROM bg JOIN m USING (bucket) GROUP BY doc_id)"""

  /** Bigram LM (TextOps.bigramLmScore) over the token lists in `tk`:
    * p(w2|w1) in `p`, per-doc bigram count and fixed-point sum in `sc`.
    */
  private val bigramLmCte = """
      bg AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg
             FROM tk, LATERAL (SELECT unnest(range(1, len(toks))) AS i) ii),
      c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
      c2w AS (SELECT bg, c2, string_split(bg,' ')[1] AS w1 FROM c2),
      c1 AS (SELECT w1, sum(c2) AS c1 FROM c2w GROUP BY w1),
      p AS (SELECT bg, CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
            FROM c2w JOIN c1 USING (w1)),
      sc AS (SELECT doc_id, count(*) AS n_bigrams,
               sum(CAST(floor(p * 1e12) AS HUGEINT)) AS s
             FROM bg JOIN p USING (bg) GROUP BY doc_id)"""

  /** The CCNet buckets' per-doc mean bigram probability `sc2` over
    * [[bigramLmCte]].
    */
  private val ccnetScoreCte = s"""
      WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks
                  FROM documents),$bigramLmCte,
      sc2 AS (SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
                CAST(s AS DOUBLE) / 1e12 / CAST(n_bigrams AS DOUBLE)
                  AS avg_p
              FROM sc)"""

  /** 16-bit SimHash bits b0..b15 per doc over distinct tokens `tk` (doc_id,
    * tok), the oracle side of Dedup.simhash.
    */
  private val simhashBitsCte = """bits AS (SELECT doc_id,
        """ + (0 until 16).map(i =>
          s"""CASE WHEN sum(CASE WHEN substr(md5(tok),${i + 1},1) IN
             ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0
             THEN '1' ELSE '0' END AS b$i""").mkString(",\n        ") + """
        FROM tk GROUP BY doc_id)"""

  /** Two synchronous label-propagation rounds (Graph.labelPropagate)
    * over the symmetric supplier co-order graph: labels `l2`.
    */
  private val labelPropCte = s"""
      WITH pr AS (${coOrderSql("l_suppkey")}),
      $coOrderEg,
      nodes AS (SELECT DISTINCT src AS id FROM eg),
      l0 AS (SELECT id, id AS label FROM nodes),
      n1 AS (SELECT e.dst AS id, l.label, count(*) AS c
             FROM eg e JOIN l0 l ON l.id = e.src GROUP BY 1, 2),
      t1 AS (SELECT id, label FROM (
               SELECT id, label,
                 row_number() OVER (PARTITION BY id
                   ORDER BY c DESC, label) AS rn FROM n1) WHERE rn = 1),
      l1 AS (SELECT l0.id, coalesce(t1.label, l0.label) AS label
             FROM l0 LEFT JOIN t1 ON t1.id = l0.id),
      n2 AS (SELECT e.dst AS id, l.label, count(*) AS c
             FROM eg e JOIN l1 l ON l.id = e.src GROUP BY 1, 2),
      t2 AS (SELECT id, label FROM (
               SELECT id, label,
                 row_number() OVER (PARTITION BY id
                   ORDER BY c DESC, label) AS rn FROM n2) WHERE rn = 1),
      l2 AS (SELECT l1.id, coalesce(t2.label, l1.label) AS label
             FROM l1 LEFT JOIN t2 ON t2.id = l1.id)"""

  /** Positional 8-token shingles `sh` (doc_id, pos, g) of every document. */
  private val gram8Cte = """
      WITH sh AS (
        SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7],' ') AS g
        FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-6,1))) AS i) ii)"""

  /** Rank `rn` of each 8-shingle match in `m` along its diagonal — runs of
    * consecutive matches share pa − rn.
    */
  private val diagRankCte = """
      r AS (SELECT da, db, pa, pb, pa - pb AS diag,
              row_number() OVER (PARTITION BY da, db, pa - pb
                                 ORDER BY pa) AS rn
            FROM m)"""

  /** x2_substring_dedup's report: per pair the longest shared run and
    * its anchor matches, from the islands of [[diagRankCte]].
    */
  private val islandReport = """,
      isl AS (SELECT da, db, count(*) AS cnt,
                     min(pa) AS pa0, min(pb) AS pb0
              FROM r GROUP BY da, db, diag, pa - rn)
      SELECT da, db, CAST(max(cnt) + 7 AS BIGINT) AS longest_run,
             CAST(sum(cnt) AS BIGINT) AS n_anchor_matches,
             CAST(min(pa0) AS BIGINT) AS min_pa,
             CAST(min(pb0) AS BIGINT) AS min_pb
      FROM isl GROUP BY da, db ORDER BY da, db"""

  /** x3_pq's encode / LUT / rank over the codebook `cb` (cid, j, cv):
    * the 3 nearest corpus vectors per query by asymmetric distance.
    */
  private val pqAdcTail = """
      c AS (SELECT vec_id AS nid, vv FROM v WHERE vec_id >= 10),
      cd AS (SELECT nid, j, cid,
               row_number() OVER (PARTITION BY nid, j ORDER BY
                 list_dot_product(sv2, sv2) - 2.0*list_dot_product(sv2, cv)
                   + list_dot_product(cv, cv) ASC, cid) AS rk
             FROM (SELECT nid, CASE j WHEN 0 THEN vv[1:32] ELSE vv[33:64] END AS sv2,
                          j, cid, cv
                   FROM c, cb)),
      codes AS (SELECT nid, j, cid FROM cd WHERE rk = 1),
      q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id < 10),
      lut AS (SELECT qid, j, cid,
                list_dot_product(qs, qs) - 2.0*list_dot_product(qs, cv)
                  + list_dot_product(cv, cv) AS d2
              FROM (SELECT qid, CASE j WHEN 0 THEN qv[1:32] ELSE qv[33:64] END AS qs,
                           j, cid, cv
                    FROM q, cb)),
      est AS (SELECT l.qid, s.nid, sum(l.d2) AS est_d2
              FROM codes s JOIN lut l ON l.j = s.j AND l.cid = s.cid
              GROUP BY l.qid, s.nid),
      r AS (SELECT qid, nid, est_d2,
              row_number() OVER (PARTITION BY qid ORDER BY est_d2 ASC, nid) AS rnk
            FROM est)
      SELECT qid, rnk, nid, est_d2 FROM r WHERE rnk <= 3 ORDER BY qid, rnk"""

  /** x3_pq's Spark side: `iters` Lloyd iterations per subspace codebook,
    * then the 3-NN ADC scan.
    */
  private def pqKnn(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cbs = Similarity.pqTrain(e, "vec_id", "embedding",
      m = 2, k = 4, iters = iters)
    Similarity.knnPq(
        e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
        "vec_id", "embedding", cbs, k = 3)
      .withColumnRenamed("rank", "rnk")
      .orderBy("qid", "rnk")
  }

  /** The `k` best candidates per query by cosine `sim` in `sc` (qid,
    * nid, sim), ranked sim DESC, nid.
    */
  private def topBySim(k: Int): String = s"""
      r AS (SELECT qid, nid, sim,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
            FROM sc)
      SELECT qid, rnk, nid, sim FROM r WHERE rnk <= $k ORDER BY qid, rnk"""

  /** IVF probe over the 8 lowest-id embeddings as centroids: each query's
    * top-2 cells `q` and the corpus cell members `c`, argmax-cosine
    * assignment with the cid ASC tie rule.
    */
  private val ivfProbeCte = """
      WITH ctr AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 8),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      asn AS (SELECT v.vec_id, vv, cid,
                row_number() OVER (PARTITION BY v.vec_id ORDER BY
                  list_dot_product(vv, cv)
                    / sqrt(list_dot_product(vv, vv) * list_dot_product(cv, cv))
                    DESC, cid) AS rk
              FROM v, ctr),
      cell AS (SELECT vec_id, vv, cid AS cell FROM asn WHERE rk = 1),
      q AS (SELECT vec_id AS qid, vv AS qv, cid AS cell FROM asn
            WHERE vec_id < 10 AND rk <= 2),
      c AS (SELECT vec_id AS nid, vv AS cv2, cell FROM cell WHERE vec_id >= 10)"""

  /** Exact cosine of each probed (query, corpus) pair sharing a cell. */
  private val ivfScoreCte = """
      sc AS (SELECT qid, nid,
               list_dot_product(qv, cv2)
                 / sqrt(list_dot_product(qv, qv) * list_dot_product(cv2, cv2)) AS sim
             FROM q JOIN c USING (cell)),"""

  /** The media gates' input: doc ids below 100. */
  private def mediaIds(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select("doc_id")
      .filter(col("doc_id") < 100)

  /** `media` written to a fresh landing directory as doc-<id>.<ext> files
    * and read back through Spark's binaryFile source — the file-ingest
    * path of the *_files gates.
    */
  private def landedMedia(s: SparkSession, media: Dataset[Multimodal.MediaRow],
                          prefix: String, ext: String): Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    val landing = graft.Scratch.fresh(prefix)
    Multimodal.writeMediaFiles(media, landing, ext)
    s.read.format("binaryFile")
      .option("pathGlobFilter", s"*.$ext").load(landing)
      .select(
        regexp_extract(col("path"), s"doc-(\\d+)\\.$ext$$", 1)
          .cast("long").as("id"),
        col("content"),
        struct(lit(ext).as("format"), lit(0).as("width"),
          lit(0).as("height")).as("meta"))
      .as[Multimodal.MediaRow]
  }

  /** Each AVI frame as a PNG media row with composite id video*16 +
    * frame_no, which rides through the Decoder seam (nf <= 5 < 16, gate
    * ids < 100 — collision-free by construction).
    */
  private def frameRows(frames: DataFrame): Dataset[Multimodal.MediaRow] = {
    import frames.sparkSession.implicits._
    frames.select(
        (col("id") * 16 + col("frame_no")).as("id"),
        col("frame").as("content"),
        struct(lit("png").as("format"), lit(0).as("width"),
          lit(0).as("height")).as("meta"))
      .as[Multimodal.MediaRow]
  }

  /** Oracle of the synthetic grey PNGs' decoded size and pixel stats. */
  private val pngStatsOracle = """
      WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (3*doc_id) % 9 AS h
                 FROM documents WHERE doc_id < 100),
      px AS (SELECT doc_id, w, h, (7*x.x + 13*y.y + doc_id) % 256 AS g
             FROM d,
               LATERAL (SELECT unnest(range(0, w)) AS x) x,
               LATERAL (SELECT unnest(range(0, h)) AS y) y)
      SELECT doc_id AS id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
             CAST(sum(g) AS BIGINT) AS sum_r,
             CAST(min(g) AS BIGINT) AS min_r,
             CAST(max(g) AS BIGINT) AS max_r
      FROM px GROUP BY doc_id, w, h ORDER BY id"""

  /** Spark side of [[pngStatsOracle]] from decoded features. */
  private def pngStats(feats: Dataset[Multimodal.MediaFeatures]): DataFrame =
    feats.toDF().select(col("id"),
        element_at(col("codes"), 1).as("w"),
        element_at(col("codes"), 2).as("h"),
        element_at(col("codes"), 3).as("sum_r"),
        element_at(col("codes"), 4).as("min_r"),
        element_at(col("codes"), 5).as("max_r"))
      .orderBy("id")

  /** The synthetic WAVs' per-sample stereo values `s` (doc_id, n, i, l, r). */
  private val wavSamplesCte = """
      WITH d AS (SELECT doc_id, 256 + doc_id % 64 AS n
                 FROM documents WHERE doc_id < 100),
      s AS (SELECT doc_id, n, i.i AS i,
              ((7*i.i + doc_id) % 65536) - 32768 AS l,
              ((11*i.i + 2*doc_id) % 65536) - 32768 AS r
            FROM d, LATERAL (SELECT unnest(range(0, n)) AS i) i),"""

  /** The synthetic AVIs' frames `fr` (doc_id, w, h, f). */
  private val aviFramesCte = """
      WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (3*doc_id) % 9 AS h,
                        2 + doc_id % 4 AS nf
                 FROM documents WHERE doc_id < 100),
      fr AS (SELECT doc_id, w, h, f.f AS f
             FROM d, LATERAL (SELECT unnest(range(0, nf)) AS f) f),"""

  /** Quarantine tally per `kind`: rows, decoded, quarantined (odd ids are
    * the truncated payloads).
    */
  private val decodeTallyOracle = """
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_decoded,
             CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_quarantined
      FROM documents WHERE doc_id < 100
      GROUP BY 1 ORDER BY kind"""

  /** Spark side of [[decodeTallyOracle]] from decoded features. */
  private def decodeTally(kinded: DataFrame): DataFrame =
    kinded
        .groupBy("kind")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(size(col("codes")) > 0, 1L).otherwise(0L))
            .as("n_decoded"),
          sum(when(size(col("codes")) === 0, 1L).otherwise(0L))
            .as("n_quarantined"))
        .orderBy("kind")

  /** Cosine `sim` of every doc pair sharing a term, over term counts
    * `tf` (doc_id, tok, tf).
    */
  private val tfCosineCte = """
      n2 AS (SELECT doc_id, sum(tf*tf) AS n2 FROM tf GROUP BY doc_id),
      num AS (SELECT a.doc_id AS da, b.doc_id AS db, sum(a.tf*b.tf) AS num
              FROM tf a JOIN tf b
                ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      sim AS (SELECT da, db,
                CAST(num AS DOUBLE)
                  / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))) AS sim
              FROM num JOIN n2 x ON x.doc_id = da JOIN n2 y ON y.doc_id = db)"""

  /** Rebuilt text per doc from its surviving segments `kept` (doc_id, pos,
    * seg), with its segment count from `segs`.
    */
  private val segmentRebuild = """
      tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg
              FROM segs GROUP BY doc_id),
      reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                     string_agg(seg, ' ' ORDER BY pos) AS text_kept
              FROM kept GROUP BY doc_id)
      SELECT t.doc_id, n_seg,
             coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept,
             coalesce(text_kept, '') AS text_kept
      FROM tot t LEFT JOIN reb ON t.doc_id = reb.doc_id
      ORDER BY t.doc_id"""

  /** Chi-square pieces over the contingency counts `h` (row, b, c):
    * margins, cell deviations and the 1e-6-grid statistic `q6`.
    */
  private def chiSqCte(row: String): String = s"""
      rt AS (SELECT $row, sum(c) AS rt FROM h GROUP BY $row),
      ct AS (SELECT b, sum(c) AS ct FROM h GROUP BY b),
      n AS (SELECT sum(c) AS n FROM h),
      d AS (SELECT (SELECT count(*) FROM rt) AS r,
                   (SELECT count(*) FROM ct) AS k),
      t AS (SELECT CAST(CAST(n.n AS HUGEINT) * h.c - rt.rt * ct.ct
                        AS DOUBLE) AS dev,
                   CAST(CAST(n.n AS HUGEINT) * rt.rt * ct.ct
                        AS DOUBLE) AS den
            FROM h JOIN rt USING ($row) JOIN ct USING (b) CROSS JOIN n),
      q AS (SELECT coalesce(sum(CAST(floor(dev * dev / den * 1e6)
                                     AS HUGEINT)), 0) AS q6 FROM t)"""

  /** The chi-square report columns over [[chiSqCte]]: dof, chi2 and
    * Cramér's v.
    */
  private val chiSqStats = """
        CAST((d.r - 1) * (d.k - 1) AS BIGINT) AS dof,
        CAST(q.q6 AS DOUBLE) / 1e6 AS chi2,
        CASE WHEN n.n > 0 AND least(d.r, d.k) > 1 THEN
          sqrt((CAST(q.q6 AS DOUBLE) / 1e6)
               / CAST(CAST(n.n AS HUGEINT) * (least(d.r, d.k) - 1)
                      AS DOUBLE))
        END AS v"""

  /** The rank tests' input: (g = l_returnflag, v = floor(l_quantity)). */
  private val flagQtyCte = """
      WITH base AS (SELECT l_returnflag AS g,
                      CAST(floor(l_quantity) AS BIGINT) AS v
                    FROM lineitem),"""

  /** Spark side of [[flagQtyCte]]. */
  private def flagQty(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_returnflag").as("g"),
      floor(col("l_quantity")).cast("long").as("v"))

  /** Per-group count, sum and sum of squares of `x` for the view and
    * purchase events of `g`, grouped by its first column.
    */
  private val viewPurchaseMoments = """
              sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n1,
              sum(CASE WHEN event_type = 'view'
                    THEN CAST(x AS HUGEINT) END) AS s1,
              sum(CASE WHEN event_type = 'view'
                    THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT) END) AS ss1,
              sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n2,
              sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(x AS HUGEINT) END) AS s2,
              sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT) END) AS ss2
            FROM g GROUP BY 1)"""

  /** Winnowing fingerprints `fp` (window 4) over md5-hashed 3-shingles
    * `sh` (doc_id, pos, h).
    */
  private val winnowCte = """
      WITH sh AS (
        SELECT doc_id, i - 1 AS pos,
               md5(array_to_string(toks[i:i+2],' ')) AS h
        FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1,1))) AS i) ii),
      w AS (SELECT doc_id,
              min(h) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
            FROM sh)"""

  /** Sorted-neighbourhood candidates `cand` (da < db): docs within 8
    * ranks of each other in their language's 24-char key order `ord`.
    */
  private val snmCandCte = """
      ord AS (SELECT doc_id, lang,
                row_number() OVER (PARTITION BY lang
                  ORDER BY substr(text, 1, 24), doc_id) AS rn
              FROM documents),
      cand AS (SELECT least(a.doc_id, b.doc_id) AS da,
                      greatest(a.doc_id, b.doc_id) AS db
               FROM ord a JOIN ord b
                 ON a.lang = b.lang AND b.rn > a.rn AND b.rn <= a.rn + 8)"""

  /** Four BPE merge rounds from `t0` (carrying columns `keep`): round r's
    * adjacent-pair counts `sh<r>`, its top pair `b<r>` (columns
    * `merge(r)`) and `t<r>`, the text of t(r − 1) with that pair merged.
    */
  private def bpeRounds(merge: Int => String, keep: String): String =
    (1 to 4).map { r =>
      s"""sh$r AS (
        SELECT array_to_string(toks[i:i+1],' ') AS pair
        FROM (SELECT string_split(text,' ') AS toks FROM t${r - 1}) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks),1))) AS i) ii),
      b$r AS (SELECT ${merge(r)}
              FROM (SELECT pair, count(*) AS c FROM sh$r GROUP BY 1)
              ORDER BY c DESC, pair LIMIT 1),
      t$r AS (SELECT $keep
                     replace(text, coalesce((SELECT pair FROM b$r), ''),
                             coalesce((SELECT merged FROM b$r), '')) AS text
              FROM t${r - 1})"""
    }.mkString(",\n      ")

  /** A BPE round's top pair and its merged token, for [[bpeRounds]]. */
  private val bpeMerge: Int => String = _ => "pair, replace(pair, ' ', '_') AS merged"

  /** The 4-round BPE merge table as (pair, merged) — a bounded collect by
    * contract (exactly rounds rows).
    */
  private def bpeVocab(docs: DataFrame): Seq[(String, String)] =
    TextOps.bpeLearnVocab(docs, "doc_id", "text", rounds = 4)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** The fixed linear quality model (TextOps.linearQualityScore) over
    * the text column `text`.
    */
  private def qualityScore(text: Column): Column =
    TextOps.linearQualityScore(text, bias = -2.0, wTtr = 3.0, wStop = 5.0,
      wAvgLen = 0.25, stopwords = enStop)

  /** Oracle side of [[qualityScore]] over `text`. */
  private val qualityScoreSql = """
          -2.0 + 3.0 * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                        / CAST(len(string_split(text,' ')) AS DOUBLE))
               + 5.0 * (CAST(len(list_filter(string_split(text,' '),
                          tk -> tk IN ('the','a','of','and','to','is'))) AS DOUBLE)
                        / CAST(len(string_split(text,' ')) AS DOUBLE))
               + 0.25 * (CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
                         / CAST(len(string_split(text,' ')) AS DOUBLE))"""

  /** a1/a2's oracle: each click's `p` ("last" or "next") purchase by
    * DuckDB's ASOF JOIN under the time comparison `op`.
    */
  private def asOfOracle(op: String, p: String): String = s"""
      SELECT e.user_id, e.event_id, epoch_ms(e.ts) AS ms,
             epoch_ms(p.ts) AS ${p}_purchase_ms,
             p.value AS ${p}_purchase_value
      FROM (SELECT * FROM events WHERE event_type = 'click') e
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON e.user_id = p.user_id AND e.ts $op p.ts
      ORDER BY e.user_id, e.event_id"""

  /** The as-of gates' inputs from events: clicks (user_id, event_id, ts)
    * and purchases (user_id, ts, <p>_purchase_ms, <p>_purchase_value).
    */
  private def clicksAndPurchases(s: SparkSession, dir: String,
                                 p: String): (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("user_id", "event_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        unix_millis(col("ts")).as(s"${p}_purchase_ms"),
        col("value").as(s"${p}_purchase_value"))
    (clicks, purchases)
  }

  /** The as-of gates' output: each click with its `p` purchase. */
  private def asOfReport(joined: DataFrame, p: String): DataFrame =
    joined.select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        col(s"${p}_purchase_ms"), col(s"${p}_purchase_value"))
      .orderBy("user_id", "event_id")

  /** Oracle of the exact 3-shingle Jaccard >= 0.8 pairs (x2_jaccard_*). */
  private val jaccardPairsOracle = s"""
      WITH $shCte
      SELECT da, db,
        CAST(ni AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - ni AS DOUBLE) AS jacc
      FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
      WHERE CAST(ni AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - ni AS DOUBLE)
            >= CAST(0.8 AS DOUBLE)
      ORDER BY da, db"""

  /** The CCNet bucket report over per-doc buckets `j`. */
  private val ccnetReport = """
      SELECT lang, CAST(bucket AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
             min(avg_p) AS min_p, max(avg_p) AS max_p
      FROM j GROUP BY lang, bucket ORDER BY lang, bucket"""

  /** Brute-force search inputs: queries `q` (vec_id < 10) and corpus `c`. */
  private val queryCorpusCte = """
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id >= 10),"""

  /** Hyperplane-LSH bucket `b` of every embedding, the 4 lowest-id
    * embeddings as planes (sign bits in plane-id order).
    */
  private val lshBucketCte = """
      WITH p AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv
                 FROM embeddings WHERE vec_id < 4),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      b AS (SELECT v.vec_id, vv,
              string_agg(CASE WHEN list_dot_product(vv, pv) >= CAST(0 AS DOUBLE)
                              THEN '1' ELSE '0' END, '' ORDER BY pid) AS bucket
            FROM v, p GROUP BY v.vec_id, vv)"""

  /** Near-dup pairs (`pr`, da < db) at exact 3-shingle Jaccard >= 0.8
    * over [[shCte]], and their symmetric edge list `eg` (src, dst).
    */
  private val nearDupEdgesCte = """
      pr AS (
        SELECT da, db
        FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
        WHERE CAST(ni AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - ni AS DOUBLE)
              >= CAST(0.8 AS DOUBLE)),
      eg AS (SELECT da AS src, db AS dst FROM pr
             UNION ALL SELECT db, da FROM pr),"""

  /** Oracle side of [[graft.operators.Dedup.resolveClusters]]: `reach`
    * is the transitive closure of every `key` of `from` over the
    * symmetric edge CTE `edges` (src, dst) — recursive, so the query
    * opens WITH RECURSIVE.
    */
  private def reachCte(key: String, from: String,
                       edges: String = "eg"): String = s"""
      reach(id, r) AS (
        SELECT $key, $key FROM $from
        UNION
        SELECT e.src, rc.r FROM $edges e JOIN reach rc ON e.dst = rc.id)"""

  /** Each node's cluster: the least id that reaches it ([[reachCte]]). */
  private val clCte = """,
      cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)"""

  /** The curation capstones' near-dup CTEs after their own `sh`: shingle
    * counts, pair intersections, the Jaccard >= 0.8 pairs `pr` and their
    * symmetric edge list `eg`.
    */
  private val curationNearDupCte = """
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pr AS (SELECT da, db
             FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
             WHERE CAST(ni AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - ni AS DOUBLE)
                   >= CAST(0.8 AS DOUBLE)),
      eg AS (SELECT da AS src, db AS dst FROM pr UNION ALL SELECT db, da FROM pr),"""

  /** x7_cluster_split's oracle after its leading CTEs `head` (which
    * define sh/cnt/inter over the document set `docs`): per-split doc
    * and cluster counts, plus the near-dup pairs straddling splits.
    */
  private def clusterSplitOracle(head: String, docs: String): String = s"""
      WITH RECURSIVE $head,$nearDupEdgesCte${reachCte("doc_id", docs)}$clCte,
      s AS (SELECT id, cluster,
              CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 2) < 'cc'
                   THEN 'train' ELSE 'test' END AS split
            FROM cl),
      st AS (SELECT split, count(*) AS n_docs,
               count(DISTINCT cluster) AS n_clusters
             FROM s GROUP BY 1),
      x AS (SELECT count(*) AS n_cross
            FROM pr JOIN s a ON a.id = pr.da JOIN s b ON b.id = pr.db
            WHERE a.split <> b.split)
      SELECT split, CAST(n_docs AS BIGINT) AS n_docs,
             CAST(n_clusters AS BIGINT) AS n_clusters,
             CAST(n_cross AS BIGINT) AS n_cross
      FROM st, x ORDER BY split"""

  /** x7_cluster_split's body over `docs`: hashSplit on the near-dup
    * cluster id, per-split counts and the straddling-pair count.
    */
  private def clusterSplit(docs: DataFrame): DataFrame = {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8)
    val labels = Dedup.resolveClusters(docs, "doc_id", pairs)
      .withColumnRenamed("id", "doc_id")
    val lab = docs.select("doc_id").join(labels, "doc_id")
      .withColumn("split", graft.operators.Sample.hashSplit(
        "cluster", Seq(("cc", "train")), "test"))
    val stats = lab.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster").as("n_clusters"))
    val sp = lab.select(col("doc_id"), col("split"))
    val cross = pairs
      .join(sp.select(col("doc_id").as("da"), col("split").as("sa")), "da")
      .join(sp.select(col("doc_id").as("db"), col("split").as("sb")), "db")
      .filter(col("sa") =!= col("sb"))
      .agg(count(lit(1)).as("n_cross"))
    stats.crossJoin(broadcast(cross)).orderBy("split")
  }

  /** x8_pagerank_dangling; with `s4`, its companion on the
    * l_suppkey % 4 sample.
    */
  private def pageRankDanglingGate(name: String, s4: Boolean): QueryDef =
    QueryDef(name, Some(s"""
      WITH ${coOrderPr("l_suppkey", s4)},
      nodes AS (SELECT DISTINCT id FROM
        (SELECT src AS id FROM pr UNION ALL SELECT dst FROM pr)),
      deg AS (SELECT src, count(*) AS outdeg FROM pr GROUP BY src),
      nn AS (SELECT count(*) AS c FROM nodes),
      r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank FROM nodes)""" +
      (1 to 3).map { i =>
        s""",
      s${i - 1} AS (SELECT coalesce(sum(rank), 0) AS s FROM r${i - 1} n
        WHERE NOT EXISTS (SELECT 1 FROM deg d WHERE d.src = n.id)),
      r$i AS (SELECT n.id,
        CAST(150000000 + (17 * (coalesce(f.i, 0)
          + (SELECT s FROM s${i - 1}) // (SELECT c FROM nn))) // 20
          AS BIGINT) AS rank${rankInflow(i, "pr")}"""
      }.mkString + """
      SELECT id, rank FROM r3 ORDER BY id""")) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_suppkey", s4Sample("l_suppkey", s4))
      Graph.pageRankInt(pairs, iters = 3, dangling = true).orderBy("id")
    }

  /** x8_hits; with `s4`, its companion on the l_suppkey % 4 sample. The
    * oracle unrolls two hub/authority rounds.
    */
  private def hitsGate(name: String, s4: Boolean): QueryDef =
    QueryDef(name, Some(s"""
      WITH ${coOrderPr("l_suppkey", s4)},
      nodes AS (SELECT DISTINCT id FROM
        (SELECT src AS id FROM pr UNION ALL SELECT dst AS id FROM pr)),
      h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes),""" +
      (1 to 2).map { i =>
        s"""
      a${i}p AS (SELECT e.dst AS id, sum(h.h) AS ap
              FROM pr e JOIN h${i - 1} h ON h.id = e.src GROUP BY e.dst),
      a${i}m AS (SELECT max(ap) AS am FROM a${i}p),
      a$i AS (SELECT id, (ap * 1000000) // am AS a FROM a${i}p, a${i}m),
      h${i}p AS (SELECT e.src AS id, sum(a.a) AS hp
              FROM pr e JOIN a$i a ON a.id = e.dst GROUP BY e.src),
      h${i}m AS (SELECT max(hp) AS hm FROM h${i}p),
      h$i AS (SELECT id, (hp * 1000000) // hm AS h FROM h${i}p, h${i}m)"""
      }.mkString(",") + """
      SELECT n.id, CAST(coalesce(h2.h, 0) AS BIGINT) AS hub,
             CAST(coalesce(a2.a, 0) AS BIGINT) AS auth
      FROM nodes n LEFT JOIN h2 ON h2.id = n.id LEFT JOIN a2 ON a2.id = n.id
      ORDER BY n.id""")) { (s, dir) =>
      val edges = coOrderEdges(s, dir, "l_suppkey", s4Sample("l_suppkey", s4))
      Graph.hitsInt(edges, iters = 2).orderBy("id")
    }

  /** x8_triangles over the co-order pairs CTE `pr` (each gate keeps its
    * own); `sample` is the Spark side of a sampled `pr`.
    */
  private def trianglesGate(name: String, pr: String,
                            sample: Option[Column]): QueryDef =
    QueryDef(name, Some(s"""
      WITH $pr,
      w AS (SELECT p1.src AS a, p1.dst AS b, p2.dst AS c
            FROM pr p1 JOIN pr p2 ON p1.dst = p2.src),
      tri AS (SELECT w.a, w.b, w.c
              FROM w JOIN pr p3 ON p3.src = w.a AND p3.dst = w.c),
      n AS (SELECT unnest([a, b, c]) AS id FROM tri)
      SELECT id, CAST(count(*) AS BIGINT) AS triangles
      FROM n GROUP BY id ORDER BY id""")) { (s, dir) =>
      // The pair table feeds three join sides — persist it or the
      // lineitem self-join recomputes per branch (harness unpersists
      // between queries).
      val pairs = coOrderEdges(s, dir, "l_suppkey", sample)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Graph.triangleCounts(pairs).orderBy("id")
    }

  /** x8_linkpred at `minCommon`; with `s4`, its companion on the
    * l_partkey % 4 sample.
    */
  private def linkPredGate(name: String, s4: Boolean,
                           minCommon: Int): QueryDef =
    QueryDef(name, Some(s"""
      WITH ${coOrderPr("l_partkey", s4)},
      $coOrderEg,
      deg AS (SELECT src AS id, count(*) AS d FROM eg GROUP BY 1),
      w AS (SELECT a.src AS z, a.dst AS u, b.dst AS v
            FROM eg a JOIN eg b ON a.src = b.src AND a.dst < b.dst),
      sc AS (SELECT u, v, CAST(count(*) AS BIGINT) AS cn,
               CAST(sum(1000000000 // dz.d) AS BIGINT) AS ra
             FROM w JOIN deg dz ON w.z = dz.id
             GROUP BY u, v HAVING count(*) >= $minCommon),
      ne AS (SELECT sc.* FROM sc LEFT JOIN pr
               ON pr.src = sc.u AND pr.dst = sc.v
             WHERE pr.src IS NULL)
      SELECT ne.u, ne.v, ne.cn, ne.ra,
             CAST(CAST(CAST(du.d AS DECIMAL(38,0)) * dv.d AS DECIMAL(38,0))
               AS VARCHAR) AS pa
      FROM ne JOIN deg du ON du.id = ne.u
              JOIN deg dv ON dv.id = ne.v
      ORDER BY u, v""")) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_partkey", s4Sample("l_partkey", s4))
      // pa (degree product) stays DECIMAL(38,0) inside the operator —
      // hub degrees overflow BIGINT at scale — but the GATE renders it
      // as a string (SURVEY §5.2 output-type contract).
      graft.operators.Graph.linkPredict(pairs, minCommon = minCommon)
        .withColumn("pa", col("pa").cast("string"))
        .orderBy("u", "v")
    }

  /** x8_ktruss: a k-truss over two peel rounds, which the oracle unrolls
    * (triangle enumeration on the canonical u < v list, each triangle
    * credited to its three edges); with `s4`, on the l_partkey % 4
    * sample.
    */
  private def kTrussGate(name: String, s4: Boolean, k: Long): QueryDef =
    QueryDef(name, Some(s"""${partE0Cte(s4)}
      ${(1 to 2).map { r =>
        s"""t$r AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             FROM e${r - 1} e1 JOIN e${r - 1} e2 ON e2.u = e1.v
             JOIN e${r - 1} e3 ON e3.u = e1.u AND e3.v = e2.v),
      s$r AS (SELECT u, v, count(*) AS sup FROM (
                SELECT a AS u, b AS v FROM t$r
                UNION ALL SELECT b AS u, c AS v FROM t$r
                UNION ALL SELECT a AS u, c AS v FROM t$r) GROUP BY u, v),
      e$r AS (SELECT u, v, sup FROM s$r WHERE sup >= ${k - 2})"""
      }.mkString(",\n      ")}
      SELECT u, v, CAST(sup AS BIGINT) AS sup
      FROM e2 ORDER BY u, v"""), bench = !s4) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val pairs = coOrderPairs(
        s4Sample("l_partkey", s4).fold(li)(p => li.filter(p)), "l_partkey")
      graft.operators.Graph.kTrussPeel(pairs, k = k, rounds = 2)
        .orderBy("u", "v")
    }

  val defs: Seq[QueryDef] = Seq(

    // ---------------- X5: text analysis ----------------

    QueryDef("x5_token_stats", Some("""
      WITH t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(len(string_split(text,' '))) AS BIGINT) AS sum_tokens
                 FROM documents GROUP BY lang),
           d AS (SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
                 FROM (SELECT lang, unnest(string_split(text,' ')) AS tok FROM documents)
                 GROUP BY lang)
      SELECT t.lang, n_docs, sum_tokens, n_distinct
      FROM t JOIN d USING(lang) ORDER BY lang"""), bench = true) { (s, dir) =>
      val d = spread(t(s, dir, "documents"))
        .withColumn("toks", TextOps.tokens(col("text")))
      val base = d.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).as("sum_tokens"))
      val dist = d.select(col("lang"), explode(col("toks")).as("tok"))
        .groupBy("lang").agg(countDistinct("tok").as("n_distinct"))
      base.join(dist, "lang").orderBy("lang")
    },

    QueryDef("x5_quality", Some(s"""
      SELECT doc_id,
        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
          / CAST(len(string_split(text,' ')) AS DOUBLE) AS ttr,
        CAST(len(list_filter(string_split(text,' '),
               tk -> tk IN ('the','a','of','and','to','is'))) AS DOUBLE)
          / CAST(len(string_split(text,' ')) AS DOUBLE) AS stop_ratio,
        CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
          / CAST(len(string_split(text,' ')) AS DOUBLE) AS avg_tok_len
      FROM documents ORDER BY doc_id LIMIT 100""")) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks).cast("double")
      spread(t(s, dir, "documents")).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (size(array_distinct(toks)).cast("double") / nTok).as("ttr"),
        (TextOps.vocabCount(toks, enStop).cast("double") / nTok).as("stop_ratio"),
        ((length(col("text")) - size(toks) + 1).cast("double") / nTok)
          .as("avg_tok_len"))
        .orderBy("doc_id").limit(100)
    },

    // Text canonicalization via the native one-pass TextClean expression
    // (NFC + control/format-char strip + space collapse + trim), the first
    // stage of any web-scrape ingest. The input is salted with a tab, a
    // decomposed accent (e + U+0301 -> é under NFC) and a zero-width space
    // (U+200B, category Cf) so every cleaning step is load-bearing. The
    // oracle mirrors it as nfc_normalize + two regexp_replace + trim;
    // the expression does all four in one String traversal and stays
    // inside whole-stage codegen.
    // Corpus drift (TextOps.tokenDrift): per-token two-sample χ² between
    // the even- and odd-id halves of the corpus. χ² (not KL) so the whole
    // statistic is rational — no logarithm, whose last-ulp rounding is
    // engine-specific, ever enters; products of exact counts stay below
    // 2^53, so the fixed double tree is bit-identical cross-engine.
    QueryDef("x5_drift", Some("""
      WITH ta AS (SELECT unnest(string_split(text,' ')) AS token
                  FROM documents WHERE doc_id % 2 = 0),
      tb AS (SELECT unnest(string_split(text,' ')) AS token
             FROM documents WHERE doc_id % 2 = 1),
      ca AS (SELECT token, count(*) AS c1 FROM ta GROUP BY token),
      cb AS (SELECT token, count(*) AS c2 FROM tb GROUP BY token),
      j AS (SELECT coalesce(ca.token, cb.token) AS token,
                   coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
            FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
      sm AS (SELECT token, c1, c2, c1 + 1 AS a, c2 + 1 AS b FROM j),
      tt AS (SELECT sum(a) AS n1, sum(b) AS n2 FROM sm)
      SELECT token, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
             ((CAST(n2 AS DOUBLE) * CAST(a AS DOUBLE)
               - CAST(n1 AS DOUBLE) * CAST(b AS DOUBLE))
              * (CAST(n2 AS DOUBLE) * CAST(a AS DOUBLE)
                 - CAST(n1 AS DOUBLE) * CAST(b AS DOUBLE)))
             / ((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))) AS chi2
      FROM sm, tt ORDER BY token""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextOps.tokenDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "text")
        .orderBy("token")
    },

    QueryDef("x5_clean", Some("""
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               nfc_normalize(concat(text, chr(9), ' cafe', chr(769),
                                    ' ', chr(8203), 'x')),
               '[\p{Cc}\p{Cf}]', ' ', 'g'), ' +', ' ', 'g')) AS clean
      FROM documents ORDER BY doc_id LIMIT 200""")) { (s, dir) =>
      spread(t(s, dir, "documents")).select(
        col("doc_id"),
        org.apache.spark.sql.graft.TextClean.of(
          concat(col("text"), lit("\t cafe\u0301 \u200bx"))).as("clean"))
        .orderBy("doc_id").limit(200)
    },

    QueryDef("x5_langid", Some(s"""$langIdPredCte
      SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2 ORDER BY lang, predicted""")) { (s, dir) =>
      langIdPred(s, dir)
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    },

    // BPE-ish token counting by regex extraction — the pattern is
    // RE2-compatible (no lookaround) so the oracle engine tokenizes
    // byte-identically.
    QueryDef("x5_bpe_tokens", Some(s"""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '${TextOps.bpePattern}')) AS BIGINT)
          AS n_bpe,
        CAST(len(list_distinct(regexp_extract_all(text, '${TextOps.bpePattern}')))
          AS BIGINT) AS n_bpe_distinct
      FROM documents ORDER BY doc_id LIMIT 100""")) { (s, dir) =>
      val toks = TextOps.regexTokens(col("text"))
      spread(t(s, dir, "documents"))
        .select(col("doc_id"),
          size(toks).cast("long").as("n_bpe"),
          size(array_distinct(toks)).cast("long").as("n_bpe_distinct"))
        .orderBy("doc_id").limit(100)
    },

    // TF-IDF salient terms — log-free rarity score tf·N/df (one multiply,
    // one divide, same order in both engines → bit-identical doubles; log
    // variants differ across libm implementations so hashing would break).
    // Top-3 bigrams per doc under a total (score desc, bigram) tie order.
    QueryDef("x5_tfidf", Some("""
      WITH sh AS (
        SELECT doc_id, array_to_string(toks[i:i+1],' ') AS bigram
        FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks),1))) AS i) ii),
      tf AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS tf
             FROM sh GROUP BY 1, 2),
      df AS (SELECT bigram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
             FROM sh GROUP BY 1),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      sc AS (SELECT doc_id, bigram,
               CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)
                 AS score
             FROM tf JOIN df USING (bigram), n),
      rk AS (SELECT doc_id, bigram, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, bigram) AS rnk
             FROM sc)
      SELECT doc_id, bigram, score, rnk FROM rk WHERE rnk <= 3
      ORDER BY doc_id, rnk""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sh = spread(docs).select(col("doc_id"),
        explode(org.apache.spark.sql.graft.WordShingles.of(col("text"), 2))
          .as("bigram"))
      val tf = sh.groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))
      val dfreq = sh.groupBy("bigram").agg(countDistinct("doc_id").as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("bigram"))
      tf.join(dfreq, "bigram").crossJoin(broadcast(n))
        .withColumn("score",
          col("tf").cast("double") * col("n_docs").cast("double")
            / col("df").cast("double"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "bigram", "score", "rnk")
        .orderBy("doc_id", "rnk")
    },

    // BM25 retrieval — rational idf (no libm log), dyadic k1=1.5/b=0.75,
    // left-associated per-term sum: every double is bit-identical
    // cross-engine, so the scores themselves hash-gate, not just ranks.
    QueryDef("x5_bm25", Some("""
      WITH tok AS (
        SELECT doc_id, len(string_split(text,' ')) AS dl,
               unnest(string_split(text,' ')) AS term
        FROM documents),
      stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(len(string_split(text,' '))) AS BIGINT) AS sum_dl
                FROM documents),
      tf AS (SELECT doc_id, CAST(dl AS BIGINT) AS dl, term,
                    CAST(count(*) AS BIGINT) AS tf
             FROM tok WHERE term IN ('batch','customer','stream')
             GROUP BY 1, 2, 3),
      dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df0 FROM tf GROUP BY 1),
      sc AS (SELECT doc_id, dl, term,
               (CAST((n_docs - df0) * 2 + 1 AS DOUBLE)
                  / CAST(df0 * 2 + 1 AS DOUBLE))
               * (CAST(tf AS DOUBLE) * 2.5)
               / (CAST(tf AS DOUBLE)
                  + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                      / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
                 AS s
             FROM tf JOIN dfreq USING (term), stats),
      agg AS (SELECT doc_id, dl,
                coalesce(max(CASE WHEN term = 'batch' THEN s END),
                         CAST(0 AS DOUBLE))
                + coalesce(max(CASE WHEN term = 'customer' THEN s END),
                           CAST(0 AS DOUBLE))
                + coalesce(max(CASE WHEN term = 'stream' THEN s END),
                           CAST(0 AS DOUBLE)) AS score
              FROM sc GROUP BY 1, 2)
      SELECT doc_id, dl, score FROM agg
      ORDER BY score DESC, doc_id LIMIT 10"""),
      bench = true) { (s, dir) =>
      TextOps.bm25(t(s, dir, "documents"), "doc_id", "text",
          terms = Seq("batch", "customer", "stream"), topK = 10)
    },

    // Vocabulary build — the tokenizer-prep pass: bigram term + document
    // frequencies with a min-df cut. One explode + one groupBy shuffle;
    // partial aggregation absorbs the token stream map-side.
    QueryDef("x5_vocab", Some("""
      WITH sh AS (
        SELECT doc_id, array_to_string(toks[i:i+1],' ') AS bigram
        FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks),1))) AS i) ii)
      SELECT bigram, CAST(count(*) AS BIGINT) AS tf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM sh GROUP BY bigram HAVING count(DISTINCT doc_id) >= 3
      ORDER BY bigram""")) { (s, dir) =>
      spread(t(s, dir, "documents"))
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graft.WordShingles.of(col("text"), 2))
            .as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
        .filter(col("df") >= 3)
        .orderBy("bigram")
    },

    QueryDef("x5_fingerprint", Some("""
      SELECT substr(md5(text),1,1) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
      FROM documents GROUP BY 1 ORDER BY bucket""")) { (s, dir) =>
      t(s, dir, "documents")
        .select(TextOps.md5Fingerprint(col("text")).as("fp"))
        .groupBy(substring(col("fp"), 1, 1).as("bucket"))
        .agg(count(lit(1)).as("n_docs"), countDistinct("fp").as("n_unique"))
        .orderBy("bucket")
    },

    QueryDef("x5_rollhash", Some("""
      SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(text,''), c -> CAST(ascii(c) AS BIGINT))),
          (a, b) -> (a * 31 + b) % 1000000007) AS rhash
      FROM documents ORDER BY doc_id LIMIT 50""")) { (s, dir) =>
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), TextOps.rollingHash(col("text")).as("rhash"))
        .orderBy("doc_id").limit(50)
    },

    // Winnowing fingerprints (MOSS): sliding-window minima over 3-gram
    // md5 hashes at w=4 — any shared run of >= 6 words between two docs
    // shares a fingerprint. Lexicographic hex minima are engine-portable.
    QueryDef("x5_winnow", Some(s"""$winnowCte
      SELECT DISTINCT doc_id, fp FROM w
      ORDER BY doc_id, fp LIMIT 500""")) { (s, dir) =>
      TextOps.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
          k = 3, w = 4)
        .orderBy("doc_id", "fp").limit(500)
    },

    // Asymmetric near-containment over winnowing fingerprints: the
    // quote/mirror detector symmetric Jaccard misses — a paragraph
    // wholly copied into a much longer doc has tiny Jaccard but
    // containment ~= 1. Integer cross-multiplied threshold (7/10),
    // boilerplate fingerprints (doc-freq > 20) dropped on both sides.
    QueryDef("x2_containment", Some(s"""$winnowCte,
      fps AS (SELECT DISTINCT doc_id, fp FROM w),
      rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20),
      keep AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r USING (fp)),
      sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS na
                FROM keep GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db,
                       CAST(count(*) AS BIGINT) AS ni
                FROM keep a JOIN keep b
                  ON a.fp = b.fp AND a.doc_id <> b.doc_id
                GROUP BY 1, 2)
      SELECT da, db, ni, na,
             CAST(ni AS DOUBLE) / CAST(na AS DOUBLE) AS contain
      FROM inter JOIN sizes s ON s.doc_id = da
      WHERE ni * 10 >= na * 7
      ORDER BY da, db""")) { (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 3, w = 4, minNum = 7, minDen = 10, maxDocFreq = 20)
        .orderBy("da", "db")
    },

    // ---------------- X1: exact dedup ----------------

    QueryDef("x1_dedup", Some("""
      SELECT array_to_string(string_split(text,' ')[1:3],' ') AS key3,
             CAST(min(doc_id) AS BIGINT) AS doc_id
      FROM documents GROUP BY 1 ORDER BY key3, doc_id"""),
      bench = true) { (s, dir) =>
      val d = t(s, dir, "documents").withColumn("key3",
        array_join(slice(TextOps.tokens(col("text")), 1, 3), " "))
      Dedup.exactKeepFirst(d, Seq("key3"), "doc_id")
        .select("key3", "doc_id").orderBy("key3", "doc_id")
    },

    QueryDef("x1_dedup_count", Some("""
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM (SELECT DISTINCT user_id, event_type FROM events)""")) { (s, dir) =>
      Dedup.exactKeepFirst(t(s, dir, "events"), Seq("user_id", "event_type"),
          "event_id")
        .agg(count(lit(1)).as("n"))
    },

    // ---------------- X2: near-dup ----------------

    QueryDef("x2_jaccard_pairs", Some(jaccardPairsOracle), bench = true) { (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy("da", "db")
    },

    // Same semantics through the PPJoin prefix-filtered candidate path —
    // the exact-optimization crossover for boilerplate-heavy corpora where
    // full posting-list self-joins explode. Identical oracle by design.
    QueryDef("x2_jaccard_prefix", Some(jaccardPairsOracle)) { (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.8, prefixFilter = true)
        .orderBy("da", "db")
    },

    QueryDef("x2_minhash_lsh", Some(s"""
      WITH $shCte,
      $portableBandCte
      cand AS (
        SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        FROM bandv x JOIN bandv y
          ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
      SELECT c.da AS da, c.db AS db,
        CAST(i.ni AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - i.ni AS DOUBLE) AS jacc
      FROM cand c JOIN inter i ON i.da = c.da AND i.db = c.db
      JOIN cnt ca ON ca.doc_id = c.da JOIN cnt cb ON cb.doc_id = c.db
      WHERE CAST(i.ni AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - i.ni AS DOUBLE)
            >= CAST(0.8 AS DOUBLE)
      ORDER BY 1, 2""")) { (s, dir) =>
      Dedup.minHashLsh(t(s, dir, "documents"), "doc_id", "text",
          n = 3, k = 16, bands = 4, threshold = 0.8, portable = true)
        .orderBy("da", "db")
    },

    // Measured LSH recall (Dedup.lshRecall): of all exact-Jaccard >= 0.8
    // pairs, the fraction the (k=16, bands=4) banding stage surfaces as
    // candidates — the quality-control number behind x2_minhash_lsh's
    // parameter choice, run on a sample before a full-corpus pass. Truth
    // from the inverted index, candidates from band collisions, scorecard
    // = one full-outer join of the two distinct pair sets + one aggregate.
    QueryDef("x2_lsh_recall", Some(s"""
      WITH $shCte,
      truth AS (
        SELECT da, db
        FROM inter JOIN cnt ca ON ca.doc_id = da
                   JOIN cnt cb ON cb.doc_id = db
        WHERE CAST(ni AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - ni AS DOUBLE)
              >= CAST(0.8 AS DOUBLE)),
      $portableBandCte
      cand AS (
        SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        FROM bandv x JOIN bandv y
          ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      hit AS (SELECT count(*) AS nh FROM truth JOIN cand USING (da, db))
      SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
             CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
             CAST(nh AS BIGINT) AS n_hit,
             CAST(nh AS DOUBLE) /
               CAST((SELECT count(*) FROM truth) AS DOUBLE) AS recall
      FROM hit""")) { (s, dir) =>
      Dedup.lshRecall(t(s, dir, "documents"), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.8, portable = true)
    },

    // Incremental NEAR-dup (Dedup.incrementalNearDup): new-batch docs
    // (20% split) probed against the standing corpus via cross-side LSH
    // band collisions + exact verify — the daily-crawl near-dup path.
    // Signatures are per-doc, so the oracle computes them over all docs
    // and restricts candidates to cross-set collisions.
    QueryDef("x1_incr_neardup", Some(s"""
      WITH $shCte,
      $portableBandCte
      cand AS (
        SELECT DISTINCT x.doc_id AS na, y.doc_id AS ca
        FROM bandv x JOIN bandv y ON x.band = y.band AND x.bh = y.bh
        WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0)
      SELECT c.na AS new_id, c.ca AS corpus_id,
        CAST(i.ni AS DOUBLE) / CAST(cn.n_sh + cc.n_sh - i.ni AS DOUBLE) AS jacc
      FROM cand c
      JOIN inter i ON i.da = least(c.na, c.ca) AND i.db = greatest(c.na, c.ca)
      JOIN cnt cn ON cn.doc_id = c.na JOIN cnt cc ON cc.doc_id = c.ca
      WHERE CAST(i.ni AS DOUBLE) / CAST(cn.n_sh + cc.n_sh - i.ni AS DOUBLE)
            >= CAST(0.8 AS DOUBLE)
      ORDER BY new_id, corpus_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.incrementalNearDup(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.8,
          portable = true)
        .orderBy("new_id", "corpus_id")
    },

    // Production-hash (xxhash64 MinHashAgg) gates in driver-checkable
    // VERDICT form (VERDICT r13 #2 — the last three rows-only gates).
    // The surfaced pair set is hash-function-dependent, so DuckDB cannot
    // replay it — but the exact-verify stage makes two properties
    // checkable: every surfaced pair IS an exact-Jaccard pair (the verify
    // filter is the same arithmetic the truth set uses → surfaced ⊆
    // exact), and the surfaced share of the truth set is the banding's
    // measured recall, lower-bounded per (k, bands) config. The gate
    // emits the DuckDB-replayable exact pair count plus the two booleans
    // (single-source builders above, both-polarity-tested in
    // VerdictGateSpec). Bench note: the benched work now includes the
    // exact-truth join — the three lines re-baseline at r14 (PLANS).
    QueryDef("x2_minhash_fast", Some(minhashVerdictOracle), bench = true) {
      (s, dir) =>
        // k=16 / 4 bands (r=4): the s-curve at the 0.8 threshold gives a
        // per-pair surface probability of 1-(1-0.8^4)^4 ≈ 0.88 at s=0.8
        // exactly, higher above it. Measured xxhash64 recall
        // (PLANS.md round 14, item 2): 1.0 at sf0.001/0.01, 0.9961
        // at sf0.1, 0.9995 at sf1 — bound 0.75 leaves the s-curve's
        // worst-case headroom under any data drift.
        minhashVerdictGate(s, dir, k = 16, bands = 4, minRecall = 0.75)
    },

    // Production signature width: k=64 (16 bands × r=4) through the same
    // single-buffer aggregate — the plan still carries ONE aggregate
    // expression, which is the point of MinHashAgg. Benched to keep the
    // wide-signature path honest at sf0.1. s-curve at s=0.8:
    // 1-(1-0.8^4)^16 ≈ 0.9998; measured 1.0 at all four scales → bound 0.9.
    QueryDef("x2_minhash_k64", Some(minhashVerdictOracle), bench = true) {
      (s, dir) =>
        minhashVerdictGate(s, dir, k = 64, bands = 16, minRecall = 0.9)
    },

    // Production signature width: k=128 / 32 bands through the same
    // one-buffer MinHashAgg (one aggregate expression regardless of k, so
    // doubling k doubles per-row hash work but NOT the aggregate count —
    // the timed gate that prices the production config against k=64).
    // s-curve at s=0.8: 1-(1-0.8^4)^32 ≈ 1-5e-8; measured 1.0 at all
    // four scales → bound 0.9.
    QueryDef("x2_minhash_k128", Some(minhashVerdictOracle), bench = true) {
      (s, dir) =>
        minhashVerdictGate(s, dir, k = 128, bands = 32, minRecall = 0.9)
    },

    // Near-dup RESOLUTION: pair evidence → connected components → one
    // cluster id (min doc id of the component) per document. The oracle
    // mirrors the min-label fixpoint with a recursive transitive-closure
    // CTE over the same exact-Jaccard pairs.
    QueryDef("x2_dedup_resolve", Some(s"""
      WITH RECURSIVE $shCte,$nearDupEdgesCte${reachCte("doc_id", "documents")}
      SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster
      FROM reach GROUP BY id ORDER BY doc_id"""), bench = true) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      Dedup.resolveClusters(docs, "doc_id", pairs)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // The deduped corpus itself (keep the canonical doc per cluster):
    // per-language doc counts before/after resolution — the end-to-end
    // product a training pipeline consumes.
    QueryDef("x2_dedup_corpus", Some(s"""
      WITH RECURSIVE $shCte,$nearDupEdgesCte${reachCte("doc_id", "documents")}$clCte
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(*) FILTER (WHERE id = cluster) AS BIGINT) AS n_kept
      FROM documents JOIN cl ON doc_id = id
      GROUP BY lang ORDER BY lang""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      val labels = Dedup.resolveClusters(docs, "doc_id", pairs)
      val kept = Dedup.dedupByClusters(docs, "doc_id", labels)
        .groupBy("lang").agg(count(lit(1)).as("n_kept0"))
      // Left join: a language whose every doc lost to a canonical doc of
      // another language would vanish from `kept` (oracle says 0).
      docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_kept0"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    },

    // Cluster-leakage-safe split: hashSplit ∘ resolveClusters — the
    // split hash runs on the NEAR-DUP CLUSTER id, not the doc id, so a
    // document can never share a cluster with a test example of its own
    // near-duplicate (the eval-contamination bug doc-level splits
    // have). The gate pins the property itself: n_cross = near-dup
    // pairs straddling splits, provably 0 by construction.
    QueryDef("x7_cluster_split",
      Some(clusterSplitOracle(shCte, "documents"))) { (s, dir) =>
      clusterSplit(t(s, dir, "documents"))
    },

    // Oracle-replayable cluster-split companion (same jaccardPairs ∘
    // resolveClusters ∘ hashSplit code path): the FULL x7_cluster_split
    // sf1 oracle exhausts DuckDB's temp disk on the 50k-doc shingle
    // self-join, so the 100x claim was asserted, not checked. This gate
    // runs on contiguous 64-doc blocks with block-index % 3 == 0 — a
    // sample that PRESERVES near-duplicate pairs (fixture pairs land in
    // kept×kept blocks; adjacent GenData pairs share a block except at
    // boundaries) while cutting the shingle-join pair space ~9x, within
    // DuckDB's sf1 replay envelope.
    QueryDef("x7_cluster_split_s3", Some(clusterSplitOracle("""docs AS (
        SELECT * FROM documents WHERE (doc_id // 64) % 3 = 0),
      sh AS (
        SELECT DISTINCT doc_id, array_to_string(toks[i:i+2],' ') AS shingle
        FROM (SELECT doc_id, string_split(text,' ') AS toks FROM docs) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1,1))) AS i) ii),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)""",
        "docs"))) { (s, dir) =>
      clusterSplit(t(s, dir, "documents")
        .filter(expr("(doc_id div 64) % 3 = 0")))
    },

    // Cluster resolution keeping the BEST member (here: most tokens, min-id
    // tiebreak) instead of the min-id canonical — the pick real curation
    // makes. Same recursive-CTE cluster map as x2_dedup_resolve, plus an
    // argmax window.
    QueryDef("x2_keep_best", Some(s"""
      WITH RECURSIVE $shCte,$nearDupEdgesCte${reachCte("doc_id", "documents")}$clCte,
      scored AS (
        SELECT doc_id, cluster,
               CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        FROM documents JOIN cl ON doc_id = id),
      best AS (
        SELECT doc_id, n_tok, row_number() OVER
          (PARTITION BY cluster ORDER BY n_tok DESC, doc_id) AS rn
        FROM scored)
      SELECT doc_id, n_tok FROM best WHERE rn = 1 ORDER BY doc_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      val labels = Dedup.resolveClusters(docs, "doc_id", pairs)
      Dedup.dedupByClustersBest(docs, "doc_id", "n_tok", labels)
        .select("doc_id", "n_tok")
        .orderBy("doc_id")
    },

    // Edit-distance near-dup: shingle-blocked candidates, Levenshtein over
    // a 60-char prefix (bounded DP — the scale guard), exact integer gate.
    QueryDef("x2_editdist", Some(s"""
      WITH $shCte
      SELECT da, db, CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
      FROM inter
      JOIN (SELECT doc_id, substr(text, 1, 60) AS pre FROM documents) a
        ON a.doc_id = da
      JOIN (SELECT doc_id, substr(text, 1, 60) AS pre FROM documents) b
        ON b.doc_id = db
      WHERE levenshtein(a.pre, b.pre) <= 12
      ORDER BY da, db""")) { (s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, prefixLen = 60, maxDist = 12)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy("da", "db")
    },

    QueryDef("x2_simhash", Some(s"""
      WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok
                  FROM documents),
      $simhashBitsCte
      SELECT """ + (0 until 16).map(i => s"b$i").mkString("||") + """ AS simhash,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(min(doc_id) AS BIGINT) AS min_doc
      FROM bits GROUP BY 1 HAVING count(*) > 1 ORDER BY simhash""")) { (s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
        .groupBy("simhash")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("simhash")
    },

    // SimHash Hamming-band near-dup pairs (Dedup.simhashPairs): nibble
    // bands bound candidates (pigeonhole-complete for Hamming <= 3),
    // exact Hamming verify on collisions. The oracle, free of scale
    // concerns, verifies against the plain all-pairs Hamming join.
    QueryDef("x2_simhash_pairs", Some(s"""
      WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok
                  FROM documents WHERE doc_id % 5 = 0),
      $simhashBitsCte,
      sig AS (SELECT doc_id, """ +
        (0 until 16).map(i => s"b$i").mkString("||") + """ AS sh FROM bits),
      pr AS (SELECT a.doc_id AS da, b.doc_id AS db, a.sh AS sa, b.sh AS sb
             FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
      h AS (SELECT da, db, """ + (1 to 16).map(i =>
          s"CASE WHEN substr(sa,$i,1) != substr(sb,$i,1) THEN 1 ELSE 0 END")
          .mkString(" + ") + """ AS hamming
            FROM pr)
      SELECT da, db, CAST(hamming AS INT) AS hamming
      FROM h WHERE hamming <= 2 ORDER BY da, db""")) { (s, dir) =>
      Dedup.simhashPairs(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          "doc_id", "text", maxHamming = 2)
        .orderBy("da", "db")
    },

    // ---------------- X3: similarity search ----------------

    QueryDef("x3_knn", Some(s"""$queryCorpusCte
      sc AS (SELECT qid, nid,
               list_dot_product(qv,cv)
                 / sqrt(list_dot_product(qv,qv) * list_dot_product(cv,cv)) AS sim
             FROM q, c),${topBySim(5)}"""),
      bench = true) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.knnBruteForce(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // Maximum inner-product search (Similarity.mipsBruteForce): top-k by
    // RAW dot product — the recommender/relevance retrieval objective
    // where magnitude carries signal and cosine normalization is wrong.
    // Scale path is the Bachrach-2014 norm augmentation onto the LSH
    // index (rank equivalence pinned in SimilaritySpec); this gate is
    // the oracle-exact brute baseline.
    QueryDef("x3_mips", Some(s"""$queryCorpusCte
      sc AS (SELECT qid, nid, list_dot_product(qv, cv) AS score
             FROM q, c),
      r AS (SELECT qid, nid, score,
              row_number() OVER (PARTITION BY qid
                ORDER BY score DESC, nid) AS rnk
            FROM sc)
      SELECT qid, rnk, nid, score FROM r WHERE rnk <= 5
      ORDER BY qid, rnk""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.mipsBruteForce(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // Metadata-FILTERED vector search: top-k among only the corpus
    // vectors passing a label predicate — the vector-database filter
    // clause. The predicate composes BEFORE scoring (a plain Catalyst
    // filter that pushes into the corpus scan), so the filtered search
    // costs less than the unfiltered one rather than post-filtering a
    // larger candidate list and under-filling k.
    QueryDef("x3_filtered_knn", Some("""
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id >= 10 AND label % 3 = 0),
      sc AS (SELECT qid, nid,
               list_dot_product(qv,cv)
                 / sqrt(list_dot_product(qv,qv) * list_dot_product(cv,cv))
                 AS sim
             FROM q, c),
      r AS (SELECT qid, nid, sim,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid)
                AS rnk
            FROM sc)
      SELECT qid, rnk, nid, sim FROM r WHERE rnk <= 3
      ORDER BY qid, rnk""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.knnBruteForce(
          e.filter(col("vec_id") >= 10 && col("label") % 3 === 0),
          e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    QueryDef("x3_ann_buckets", Some("""
      WITH p AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv
                 FROM embeddings WHERE vec_id < 4),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      b AS (SELECT v.vec_id,
              string_agg(CASE WHEN list_dot_product(vv, pv) >= CAST(0 AS DOUBLE)
                              THEN '1' ELSE '0' END, '' ORDER BY pid) AS bucket
            FROM v, p GROUP BY v.vec_id)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(min(vec_id) AS BIGINT) AS min_vec
      FROM b GROUP BY bucket ORDER BY bucket""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.hyperplaneBuckets(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 4), "vec_id", "embedding")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec"))
        .orderBy("bucket")
    },

    // Bucketed ANN top-k: neighbors ranked within the query's LSH bucket —
    // the scale path when brute force is impossible. Recall < 1 by design;
    // the oracle mirrors the same buckets so results still hash-match.
    QueryDef("x3_ann_knn", Some(s"""$lshBucketCte,
      q AS (SELECT vec_id AS qid, vv AS qv, bucket FROM b WHERE vec_id < 10),
      c AS (SELECT vec_id AS nid, vv AS cv, bucket FROM b WHERE vec_id >= 10),
      s AS (SELECT qid, nid, q.bucket,
              list_dot_product(qv, cv)
                / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS sim
            FROM q JOIN c USING (bucket)),
      r AS (SELECT qid, nid, bucket, sim,
              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
            FROM s)
      SELECT qid, rnk, nid, sim, bucket FROM r WHERE rnk <= 3
      ORDER BY qid, rnk""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.knnLsh(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          "vec_id", "embedding",
          e.filter(col("vec_id") < 4), "vec_id", "embedding", k = 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // Multi-table LSH ANN: two independent hash tables; candidate = bucket
    // collision in EITHER (union → distinct), which recovers most of the
    // recall a single table loses. Oracle mirrors both bucket assignments
    // and the union.
    QueryDef("x3_ann_multi", Some(s"""
      WITH p1 AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv
                  FROM embeddings WHERE vec_id < 4),
      p2 AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv
             FROM embeddings WHERE vec_id >= 4 AND vec_id < 8),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      b1 AS (SELECT v.vec_id, vv,
               string_agg(CASE WHEN list_dot_product(vv, pv) >= CAST(0 AS DOUBLE)
                               THEN '1' ELSE '0' END, '' ORDER BY pid) AS bkt
             FROM v, p1 GROUP BY v.vec_id, vv),
      b2 AS (SELECT v.vec_id, vv,
               string_agg(CASE WHEN list_dot_product(vv, pv) >= CAST(0 AS DOUBLE)
                               THEN '1' ELSE '0' END, '' ORDER BY pid) AS bkt
             FROM v, p2 GROUP BY v.vec_id, vv),
      bb AS (SELECT b1.vec_id, b1.vv AS vv, b1.bkt AS k1, b2.bkt AS k2
             FROM b1 JOIN b2 ON b1.vec_id = b2.vec_id),
      q AS (SELECT vec_id AS qid, vv AS qv, k1, k2 FROM bb WHERE vec_id < 10),
      c AS (SELECT vec_id AS nid, vv AS cv, k1, k2 FROM bb WHERE vec_id >= 10),
      cand AS (
        SELECT qid, qv, nid, cv FROM q JOIN c ON q.k1 = c.k1
        UNION
        SELECT qid, qv, nid, cv FROM q JOIN c ON q.k2 = c.k2),
      sc AS (SELECT qid, nid,
               list_dot_product(qv, cv)
                 / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS sim
             FROM cand),${topBySim(3)}""")) {
      (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.knnLshMulti(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          "vec_id", "embedding",
          Seq(e.filter(col("vec_id") < 4),
            e.filter(col("vec_id") >= 4 && col("vec_id") < 8)),
          "vec_id", "embedding", k = 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // IVF-flat ANN: 8-centroid coarse quantizer, nprobe=2. The oracle
    // mirrors the argmax cell assignment (sim DESC, cid ASC tie rule) and
    // the per-query top-2 probe cells.
    QueryDef("x3_ivf", Some(s"""$ivfProbeCte,$ivfScoreCte${topBySim(3)}""")) {
      (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.knnIvf(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          "vec_id", "embedding",
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 3, nprobe = 2)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // Measured ANN recall (Similarity.recallAtK): per query, how much of
    // the exact top-3 the IVF nprobe=2 search returns — the embedding-side
    // companion to x2_lsh_recall, and the acceptance number that decides
    // nprobe before trusting the index at corpus scale. One full-outer
    // join of two rankings + one aggregate; never corpus-sized.
    QueryDef("x3_recall", Some("""
      WITH q0 AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 10),
      c0 AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
             FROM embeddings WHERE vec_id >= 10),
      ex AS (SELECT qid, nid FROM (
               SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY
                 list_dot_product(qv,cv) / sqrt(list_dot_product(qv,qv)
                   * list_dot_product(cv,cv)) DESC, nid) AS rnk
               FROM q0, c0) WHERE rnk <= 3),
      ctr AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ctv
              FROM embeddings WHERE vec_id < 8),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      asn AS (SELECT v.vec_id, vv, cid,
                row_number() OVER (PARTITION BY v.vec_id ORDER BY
                  list_dot_product(vv, ctv)
                    / sqrt(list_dot_product(vv, vv)
                           * list_dot_product(ctv, ctv)) DESC, cid) AS rk
              FROM v, ctr),
      q AS (SELECT vec_id AS qid, vv AS qv, cid AS cell FROM asn
            WHERE vec_id < 10 AND rk <= 2),
      c AS (SELECT vec_id AS nid, vv AS cv2, cid AS cell FROM asn
            WHERE vec_id >= 10 AND rk = 1),
      ap AS (SELECT qid, nid FROM (
               SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY
                 list_dot_product(qv, cv2) / sqrt(list_dot_product(qv, qv)
                   * list_dot_product(cv2, cv2)) DESC, nid) AS rnk
               FROM q JOIN c USING (cell)) WHERE rnk <= 3)
      SELECT coalesce(ex.qid, ap.qid) AS qid,
             CAST(count(ex.nid) AS BIGINT) AS n_exact,
             CAST(count(ap.nid) AS BIGINT) AS n_approx,
             CAST(count(CASE WHEN ex.nid IS NOT NULL
                             AND ap.nid IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_hit,
             CAST(count(CASE WHEN ex.nid IS NOT NULL
                             AND ap.nid IS NOT NULL THEN 1 END) AS DOUBLE)
               / CAST(count(ex.nid) AS DOUBLE) AS recall
      FROM ex FULL JOIN ap ON ex.qid = ap.qid AND ex.nid = ap.nid
      GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10)
      val queries = e.filter(col("vec_id") < 10)
      val exact = Similarity.knnBruteForce(corpus, queries,
        "vec_id", "embedding", k = 3)
      val approx = Similarity.knnIvf(corpus, queries, "vec_id", "embedding",
        e.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 3, nprobe = 2)
      Similarity.recallAtK(exact, approx, "qid", "nid").orderBy("qid")
    },

    // IVF with a TRAINED quantizer: one deterministic Lloyd iteration
    // (decimal-exact per-dimension means make the trained centroids
    // bit-reproducible, so the oracle can replay the iteration in SQL:
    // seed with the 6 lowest-id vectors, assign by argmax cosine, average
    // each dimension on the fixed-point 1e-10 grid, re-assign, probe top-2
    // cells).
    QueryDef("x3_ivf_trained", Some(s"""
      WITH sd AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                         CAST(embedding AS DOUBLE[]) AS sv
                  FROM embeddings ORDER BY vec_id LIMIT 6),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      a0 AS (SELECT vec_id, vv, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY
                 list_dot_product(vv, sv)
                   / sqrt(list_dot_product(vv, vv) * list_dot_product(sv, sv))
                   DESC, cid) AS rk
             FROM v, sd),
      asn0 AS (SELECT vec_id, vv, cid AS cell FROM a0 WHERE rk = 1),
      dims AS (SELECT cell, i AS dim, vv[i] AS x
               FROM asn0, LATERAL (SELECT unnest(range(1, len(vv) + 1)) AS i) ii),
      upd AS (SELECT cell AS cid, dim,
                CAST(sum(CAST(floor(x * 10000000000.0) AS BIGINT)) AS DOUBLE)
                  / 10000000000.0 / CAST(count(*) AS DOUBLE) AS m
              FROM dims GROUP BY cell, dim),
      cl AS (SELECT cid, list(m ORDER BY dim) AS cv FROM upd GROUP BY cid),
      c1 AS (SELECT sd.cid, COALESCE(cl.cv, sd.sv) AS cv
             FROM sd LEFT JOIN cl USING (cid)),
      a1 AS (SELECT v.vec_id, vv, cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(vv, cv)
                   / sqrt(list_dot_product(vv, vv) * list_dot_product(cv, cv))
                   DESC, cid) AS rk
             FROM v, c1),
      cell1 AS (SELECT vec_id, vv, cid AS cell FROM a1 WHERE rk = 1),
      q AS (SELECT vec_id AS qid, vv AS qv, cid AS cell FROM a1
            WHERE vec_id < 10 AND rk <= 2),
      c AS (SELECT vec_id AS nid, vv AS cv2, cell FROM cell1 WHERE vec_id >= 10),$ivfScoreCte${topBySim(3)}""")) {
      (s, dir) =>
      val e = t(s, dir, "embeddings")
      val trained = Similarity.kmeansCentroids(e, "vec_id", "embedding",
        k = 6, iters = 1)
      Similarity.knnIvf(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          "vec_id", "embedding",
          Similarity.centroidsDF(s, trained), "cid", "vec",
          k = 3, nprobe = 2)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // Per-cell inertia (Similarity.cellInertia): within-cell sum of
    // squared residuals against the assigned centroid, residuals gridded
    // to 1e5 fixed-point — the "is my IVF quantizer any good" diagnostic,
    // exact in integers so the SSE itself hash-gates. Assignment is the
    // same zero-shuffle argmax projection as the index build; only the
    // |cells|-sized aggregate shuffles.
    QueryDef("x3_inertia", Some("""
      WITH ctr AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 8),
      v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      asn AS (SELECT v.vec_id, vv, cid, cv,
                row_number() OVER (PARTITION BY v.vec_id ORDER BY
                  list_dot_product(vv, cv)
                    / sqrt(list_dot_product(vv, vv) * list_dot_product(cv, cv))
                    DESC, cid) AS rk
              FROM v, ctr),
      cell AS (SELECT vec_id, vv, cid AS cell, cv FROM asn WHERE rk = 1),
      d AS (SELECT cell,
              CAST(floor(vv[i] * 100000.0) AS BIGINT)
                - CAST(floor(cv[i] * 100000.0) AS BIGINT) AS r
            FROM cell,
                 LATERAL (SELECT unnest(range(1, len(vv) + 1)) AS i) ii),
      agg AS (SELECT cell, CAST(sum(r * r) AS BIGINT) AS inertia FROM d
              GROUP BY cell),
      n AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM cell GROUP BY cell)
      SELECT n.cell, n.n, agg.inertia
      FROM n JOIN agg ON n.cell = agg.cell ORDER BY n.cell""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.cellInertia(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), "vec_id", "embedding", scale = 1e5)
        .orderBy("cell")
    },

    // Density clustering (Density.dbscan) over events in (user, value)
    // space: grid-blocked DBSCAN — eps-grid on the first two coordinates
    // (complete blocking: an eps-ball fits in the 3x3 cell neighborhood),
    // exact all-dim distance residual, core test |N_eps|+1 >= minPts,
    // clusters = min-label components over core-core pairs, borders take
    // the min cluster among core neighbors, noise absent. The user axis
    // makes point density scale-INVARIANT (the user population grows with
    // SF), so cluster sizes stay bounded and cluster count scales
    // linearly at every SF — the regime the grid prunes for. The oracle
    // replays the same grid (as an exploded 9-offset equi-join), the same
    // dot-fold distance identity and the same canonical labels through a
    // recursive CTE.
    QueryDef("x3_dbscan", Some(s"""
      WITH RECURSIVE g AS (
        SELECT event_id AS id,
               CAST(user_id AS DOUBLE) AS x, value/100.0 AS y,
               CAST(floor(CAST(user_id AS DOUBLE)/0.05) AS BIGINT) AS cx,
               CAST(floor((value/100.0)/0.05) AS BIGINT) AS cy
        FROM events),
      offs AS (SELECT dx, dy FROM (SELECT unnest([-1,0,1]) AS dx),
                                  (SELECT unnest([-1,0,1]) AS dy)),
      pr AS (SELECT id, x, y, cx+dx AS px, cy+dy AS py FROM g, offs),
      nb AS (
        SELECT a.id AS ia, b.id AS ib
        FROM pr a JOIN g b
          ON a.px = b.cx AND a.py = b.cy AND a.id <> b.id
         AND list_dot_product([a.x,a.y],[a.x,a.y])
             - 2.0*list_dot_product([a.x,a.y],[b.x,b.y])
             + list_dot_product([b.x,b.y],[b.x,b.y])
             <= CAST(0.05 AS DOUBLE)*CAST(0.05 AS DOUBLE)),
      cores AS (SELECT ia AS id FROM nb GROUP BY ia
                HAVING count(*) + 1 >= 4),
      ce AS (SELECT ia AS src, ib AS dst FROM nb
             WHERE ia IN (SELECT id FROM cores)
               AND ib IN (SELECT id FROM cores)),${reachCte("id", "cores", "ce")}$clCte,
      border AS (
        SELECT nb.ia AS id, min(cl.cluster) AS cluster
        FROM nb JOIN cl ON nb.ib = cl.id
        WHERE nb.ia NOT IN (SELECT id FROM cores)
        GROUP BY nb.ia)
      SELECT id, CAST(cluster AS BIGINT) AS cluster, is_core FROM (
        SELECT id, cluster, TRUE AS is_core FROM cl
        UNION ALL SELECT id, cluster, FALSE FROM border)
      ORDER BY id""")) { (s, dir) =>
      val pts = t(s, dir, "events").select(col("event_id").as("id"),
        array(col("user_id").cast("double"),
          col("value") / lit(100.0)).as("pt"))
      Density.dbscan(pts, "id", "pt", eps = 0.05, minPts = 4).orderBy("id")
    },

    // PQ-compressed ANN (Similarity.pqTrain/knnPq): m=2 subspaces × k=4
    // codes, lowest-id seeds as the codebook (iters=0 — Lloyd replay is
    // already proven by x3_ivf_trained), asymmetric-distance scoring over
    // the compressed code scan. The oracle replays codebook build, corpus
    // encoding, the per-(query, code) LUT, and the 2-term distance sum
    // (FP addition is commutative, so the 2-addend grouped sum is exact).
    QueryDef("x3_pq", Some(s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      sd AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vv AS sv
             FROM (SELECT vec_id, vv FROM v ORDER BY vec_id LIMIT 4)),
      cb AS (SELECT cid, 0 AS j, sv[1:32] AS cv FROM sd
             UNION ALL SELECT cid, 1, sv[33:64] FROM sd),$pqAdcTail""")) {
      (s, dir) => pqKnn(s, dir, iters = 0)
    },

    // PQ with TRAINED codebooks: one decimal-exact Lloyd iteration per
    // subspace (same trainer as IVF — cosine assignment, exact decimal
    // means), then the x3_pq encode/LUT/rank. The oracle replays the
    // per-subspace iteration and the ADC scoring end to end.
    QueryDef("x3_pq_trained", Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),""" +
      (0 until 2).map { j =>
        val lo = j * 32 + 1; val hi = (j + 1) * 32
        s"""
      sub$j AS (SELECT vec_id, vv[$lo:$hi] AS sv FROM v),
      sd$j AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, sv
               FROM (SELECT vec_id, sv FROM sub$j ORDER BY vec_id LIMIT 4)),
      a$j AS (SELECT s.vec_id, s.sv, d.cid,
                row_number() OVER (PARTITION BY s.vec_id ORDER BY
                  list_dot_product(s.sv, d.sv)
                    / sqrt(list_dot_product(s.sv, s.sv)
                           * list_dot_product(d.sv, d.sv)) DESC, d.cid) AS rk
              FROM sub$j s, sd$j d),
      asn$j AS (SELECT vec_id, sv, cid AS cell FROM a$j WHERE rk = 1),
      dims$j AS (SELECT cell, i AS dim, sv[i] AS x
                 FROM asn$j, LATERAL (SELECT unnest(range(1, 33)) AS i) ii),
      upd$j AS (SELECT cell AS cid, dim,
                  CAST(sum(CAST(floor(x * 10000000000.0) AS BIGINT)) AS DOUBLE)
                    / 10000000000.0 / CAST(count(*) AS DOUBLE) AS m
                FROM dims$j GROUP BY cell, dim),
      cl$j AS (SELECT cid, list(m ORDER BY dim) AS cv FROM upd$j GROUP BY cid),
      c$j AS (SELECT sd$j.cid, COALESCE(cl$j.cv, sd$j.sv) AS cv
              FROM sd$j LEFT JOIN cl$j USING (cid)),"""
      }.mkString + s"""
      cb AS (SELECT cid, 0 AS j, cv FROM c0 UNION ALL SELECT cid, 1, cv FROM c1),$pqAdcTail""")) {
      (s, dir) => pqKnn(s, dir, iters = 1)
    },

    // As-of join: each click event picks up the user's most recent
    // purchase at-or-before its timestamp. DuckDB's native ASOF JOIN is
    // the oracle; the Spark side is the union + keyed-window formulation
    // (one shuffle, no range explosion).
    QueryDef("a1_asof", Some(asOfOracle(">=", "last")), bench = true) { (s, dir) =>
      val (clicks, purchases) = clicksAndPurchases(s, dir, "last")
      asOfReport(AsOf.joinAsOf(clicks, purchases, Seq("user_id"), "ts", "ts",
          Seq("last_purchase_ms", "last_purchase_value")), "last")
    },

    // Forward as-of: each click picks up the user's NEXT purchase at-or-
    // after its timestamp — same one-shuffle window plan, descending scan.
    QueryDef("a2_asof_fwd", Some(asOfOracle("<=", "next"))) { (s, dir) =>
      val (clicks, purchases) = clicksAndPurchases(s, dir, "next")
      asOfReport(AsOf.joinAsOf(clicks, purchases, Seq("user_id"), "ts", "ts",
          Seq("next_purchase_ms", "next_purchase_value"), forward = true),
        "next")
    },

    // As-of with a STALENESS BOUND (AsOf.joinAsOfTolerance): the nearest
    // past purchase matches only within 48h — pandas merge_asof
    // `tolerance` semantics, the contract real feature lookups need (a
    // stale quote is not a quote). Pure post-projection on the same
    // one-shuffle as-of plan; the oracle nulls matches past the bound.
    QueryDef("a3_asof_tol", Some("""
      SELECT user_id, event_id, ms,
             CASE WHEN ms - last_purchase_ms <= 172800000
                  THEN last_purchase_ms END AS last_purchase_ms,
             CASE WHEN ms - last_purchase_ms <= 172800000
                  THEN last_purchase_value END AS last_purchase_value
      FROM (
        SELECT e.user_id, e.event_id, epoch_ms(e.ts) AS ms,
               epoch_ms(p.ts) AS last_purchase_ms,
               p.value AS last_purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') e
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON e.user_id = p.user_id AND e.ts >= p.ts)
      ORDER BY user_id, event_id""")) { (s, dir) =>
      val (clicks, purchases) = clicksAndPurchases(s, dir, "last")
      asOfReport(AsOf.joinAsOfTolerance(clicks, purchases, Seq("user_id"),
          "ts", "ts", Seq("last_purchase_ms", "last_purchase_value"),
          toleranceMs = 48L * 3600 * 1000), "last")
    },

    // Nearest as-of (AsOf.joinAsOfNearest): each click attaches the
    // purchase CLOSEST in time in either direction, ties to the past —
    // merge_asof(direction='nearest'). One union + one per-user window
    // shuffle (two sorts); exact integer-millisecond gap comparison.
    // The oracle composes DuckDB's two directional ASOF joins and
    // replays the same tie rule.
    QueryDef("a4_asof_nearest", Some("""
      WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, epoch_ms(ts) AS pms, value
            FROM events WHERE event_type = 'purchase'),
      b AS (SELECT e.user_id, e.event_id, e.ms, p.pms AS bms,
                   p.value AS bval
            FROM e ASOF LEFT JOIN p
              ON e.user_id = p.user_id AND e.ms >= p.pms),
      f AS (SELECT e.user_id, e.event_id, p.pms AS fms, p.value AS fval
            FROM e ASOF LEFT JOIN p
              ON e.user_id = p.user_id AND e.ms <= p.pms)
      SELECT b.user_id, b.event_id, b.ms,
        CASE WHEN fms IS NULL THEN bms WHEN bms IS NULL THEN fms
             WHEN b.ms - bms <= fms - b.ms THEN bms ELSE fms END
          AS near_ms,
        CASE WHEN fms IS NULL THEN bval WHEN bms IS NULL THEN fval
             WHEN b.ms - bms <= fms - b.ms THEN bval ELSE fval END
          AS near_value,
        CASE WHEN bms IS NULL AND fms IS NULL THEN NULL
             WHEN fms IS NULL THEN 'b' WHEN bms IS NULL THEN 'f'
             WHEN b.ms - bms <= fms - b.ms THEN 'b' ELSE 'f' END
          AS asof_dir
      FROM b JOIN f USING (user_id, event_id)
      ORDER BY user_id, event_id""")) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_millis(col("ts")).as("pms"),
          unix_millis(col("ts")).as("near_ms"),
          col("value").as("near_value"))
      AsOf.joinAsOfNearest(clicks, purchases, Seq("user_id"),
          "ms", "pms", Seq("near_ms", "near_value"))
        .select(col("user_id"), col("event_id"), col("ms"),
          col("near_ms"), col("near_value"), col("asof_dir"))
        .orderBy("user_id", "event_id")
    },

    // KLL-style quantile sketch (approx_percentile) — driver-checkable
    // verdict form (VERDICT r12 #4). The sketch VALUE is engine-specific,
    // but its rank-error GUARANTEE is not: Spark's QuantileSummaries
    // promises the returned v has some rank r with |r − q·n| <= n/acc.
    // With ties v's possible ranks span [count(<v)+1, count(<=v)], so the
    // verdict is that interval intersecting [q·n − err, q·n + err]
    // (err = n/acc + 1 slack). The booleans hold for ANY value meeting
    // the guarantee — deterministic even if the sketch wobbles with
    // partial-merge order — and DuckDB replays n exactly and asserts
    // them. Exact order-statistic companion: q6_quantiles.
    QueryDef("x5_approx_pctl", Some("""
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      val appr = li.groupBy("l_returnflag")
        .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
            .as("v50"),
          percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000))
            .as("v90"))
      val n = col("n").cast("double")
      val err = n / lit(10000.0) + lit(1.0)
      li.join(broadcast(appr), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") < col("v50"), 1L).otherwise(0L))
            .as("lt50"),
          sum(when(col("l_quantity") <= col("v50"), 1L).otherwise(0L))
            .as("le50"),
          sum(when(col("l_extendedprice") < col("v90"), 1L).otherwise(0L))
            .as("lt90"),
          sum(when(col("l_extendedprice") <= col("v90"), 1L).otherwise(0L))
            .as("le90"))
        .select(col("l_returnflag"), col("n"),
          rankWithinErr(col("lt50").cast("double"), col("le50").cast("double"),
            n * lit(0.5), err).as("p50_rank_ok"),
          rankWithinErr(col("lt90").cast("double"), col("le90").cast("double"),
            n * lit(0.9), err).as("p90_rank_ok"))
        .orderBy("l_returnflag")
    },

    // HLL sketch (approx_count_distinct) — driver-checkable verdict form
    // (VERDICT r12 #4). Spark's HLL++ registers are max-merged
    // (order-independent → the estimate is deterministic), but the VALUE
    // is still engine-specific, so the gate outputs what IS replayable:
    // the exact per-lang distinct count (DuckDB computes it) plus a
    // BOOLEAN that the sketch landed within 5× the configured 1% rsd —
    // a 5-sigma envelope the estimator clears with overwhelming
    // probability — HLL++ error is probabilistic, not guaranteed, so a
    // new dataset/scale could legitimately land outside it; if this
    // verdict ever flips on fresh data, widen eps (a false alarm), don't
    // suspect the engine. Exact companion:
    // x5_token_stats.
    QueryDef("x5_approx_distinct", Some("""
      SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS exact_tokens,
             TRUE AS within_eps
      FROM (SELECT lang, unnest(string_split(text,' ')) AS tok
            FROM documents)
      GROUP BY lang ORDER BY lang""")) { (s, dir) =>
      spread(t(s, dir, "documents"))
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("lang")
        .agg(countDistinct("tok").as("exact_tokens"),
          approx_count_distinct("tok", 0.01).as("approx_tokens"))
        .select(col("lang"), col("exact_tokens"),
          hllWithinEps(col("approx_tokens"), col("exact_tokens"), 0.05)
            .as("within_eps"))
        .orderBy("lang")
    },

    // Embedding-cosine near-dup: LSH bucket blocking + exact cosine verify,
    // mirrored exactly in the oracle (same data-derived planes, same
    // sequential-fold cosine).
    QueryDef("x2_cosine_dup", Some(s"""$lshBucketCte
      SELECT x.vec_id AS da, y.vec_id AS db,
        list_dot_product(x.vv, y.vv)
          / sqrt(list_dot_product(x.vv, x.vv) * list_dot_product(y.vv, y.vv)) AS cos
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      WHERE list_dot_product(x.vv, y.vv)
          / sqrt(list_dot_product(x.vv, x.vv) * list_dot_product(y.vv, y.vv))
          >= CAST(0.4 AS DOUBLE)
      ORDER BY da, db""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.cosineDupPairs(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 4), "vec_id", "embedding", threshold = 0.4)
        .orderBy("da", "db")
    },

    // ---------------- X7: deterministic sampling ----------------

    // Curriculum ordering (Sample.curriculum): per-language quality
    // tiers (ntile over token count DESC — band 1 is the best material)
    // with a deterministic md5 shuffle position inside each band.
    // Reading (band, pos) front to back is the curriculum-learning
    // schedule with adjacent examples de-correlated — why pipelines
    // shuffle within tiers instead of feeding a raw quality sort. Two
    // window passes over one stratum-keyed exchange.
    QueryDef("x7_curriculum", Some("""
      WITH sc AS (SELECT doc_id, lang,
                    len(string_split(text,' ')) AS score FROM documents),
      b AS (SELECT doc_id, lang, score,
              ntile(4) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
                AS band
            FROM sc),
      p AS (SELECT doc_id, lang, band,
              row_number() OVER (PARTITION BY lang, band
                ORDER BY md5('curr|'||CAST(doc_id AS VARCHAR)), doc_id)
                AS pos
            FROM b)
      SELECT doc_id, lang, CAST(band AS INT) AS band, CAST(pos AS INT) AS pos
      FROM p ORDER BY lang, band, pos""")) { (s, dir) =>
      val d = t(s, dir, "documents")
        .withColumn("score", size(TextOps.tokens(col("text"))))
      Sample.curriculum(d, "lang", "doc_id", "score", bands = 4)
        .select("doc_id", "lang", "band", "pos")
        .orderBy("lang", "band", "pos")
    },

    // Hash-Bernoulli ~25% sample: membership derives from md5(doc_id), so
    // the same docs are sampled under any partitioning / cluster size /
    // retry — df.sample()'s per-partition RNG can't promise that.
    QueryDef("x7_sample", Some("""
      SELECT doc_id, lang FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
      ORDER BY doc_id""")) { (s, dir) =>
      val d = t(s, dir, "documents")
      d.filter(Sample.bernoulliPortable("doc_id", "40"))
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // Stratified fixed-size sample: 20 docs per language, hash-ordered —
    // every stratum contributes deterministically, one window shuffle.
    QueryDef("x7_stratified", Some("""
      WITH r AS (
        SELECT doc_id, lang,
          row_number() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
      SELECT doc_id, lang FROM r WHERE rn <= 20
      ORDER BY lang, doc_id""")) { (s, dir) =>
      Sample.stratified(t(s, dir, "documents"), "lang", "doc_id", 20)
        .select("doc_id", "lang").orderBy("lang", "doc_id")
    },

    // Deterministic global shuffle: training-order materialization as a
    // reproducible pseudo-random total order (md5(seed|id) sort key). At
    // scale this is one range exchange; here the top-200 prefix gates it.
    QueryDef("x7_shuffle", Some("""
      SELECT doc_id, md5('42|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents ORDER BY shuffle_key, doc_id LIMIT 200""")) { (s, dir) =>
      Sample.deterministicShuffle(t(s, dir, "documents"), "doc_id", "42")
        .select("doc_id", "shuffle_key").limit(200)
    },

    // ---------------- segment dedup / incremental dedup ----------------

    // EXACT substring dedup (Dedup.substringDedup — the Lee et al. 2022
    // suffix-array family, re-expressed relationally; r10 verdict
    // next-round #5): every doc pair sharing an exact >= 8-token run,
    // with the longest shared run measured exactly via the
    // diagonal-islands identity (a t-token shared run = t−7 consecutive
    // same-diagonal positional 8-shingle matches). Sharing an 8-shingle
    // is EQUIVALENT to sharing a run >= 8, so the anchor join has perfect
    // recall with no sketch — the form that catches partially-copied
    // documents whose shared region straddles segment/CDC boundaries.
    QueryDef("x2_substring_dedup", Some(s"""$gram8Cte,
      m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
            FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id),$diagRankCte$islandReport""")) { (s, dir) =>
      Dedup.substringDedup(t(s, dir, "documents"), "doc_id", "text",
          minRun = 8)
        .orderBy("da", "db")
    },

    // The 100 TB boilerplate valve of x2_substring_dedup, oracle-proven:
    // grams shared by more than maxDf docs (license headers, navigation
    // chrome — the df² pair bombs) are dropped BEFORE the pair join, so
    // only rare shared runs surface. maxDf = 2 on this corpus keeps the
    // adjacent near-dup pairs (their shared runs are df-2 by
    // construction) while cutting the cross-corpus template grams —
    // the oracle replays the df cut relationally.
    QueryDef("x2_substring_dedup_df", Some(s"""$gram8Cte,
      keep AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df
                              FROM sh GROUP BY g) WHERE df <= 2),
      shk AS (SELECT sh.doc_id, sh.pos, sh.g FROM sh JOIN keep USING (g)),
      m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
            FROM shk a JOIN shk b ON a.g = b.g AND a.doc_id < b.doc_id),$diagRankCte$islandReport""")) { (s, dir) =>
      Dedup.substringDedup(t(s, dir, "documents"), "doc_id", "text",
          minRun = 8, maxDf = Some(2L))
        .orderBy("da", "db")
    },

    // Exact substring REMOVAL (Dedup.substringRemove — the second half
    // of the Lee et al. pipeline, r11 verdict stretch #7): every token
    // position covered by a >= 8-token run shared with an EARLIER doc is
    // dropped; the earliest doc keeps its copy, so each duplicated span
    // survives exactly once. The oracle replays the island lattice of
    // x2_substring_dedup, explodes each island's db-side interval to a
    // distinct (doc, pos) drop set, and rebuilds surviving text — the
    // same keyed-equi-work shape as the Spark plan (no BETWEEN joins).
    QueryDef("x2_substring_rm", Some(s"""$gram8Cte,
      m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
            FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id),$diagRankCte,
      isl AS (SELECT da, db, count(*) AS cnt, min(pb) AS pb0
              FROM r GROUP BY da, db, diag, pa - rn),
      drp AS (SELECT DISTINCT db AS doc_id, pb0 + u.i AS pos
              FROM isl, LATERAL (SELECT unnest(range(cnt + 7)) AS i) u),
      toks AS (SELECT doc_id, i - 1 AS pos, ws[i] AS w
               FROM (SELECT doc_id, string_split(text,' ') AS ws
                     FROM documents) dd,
                    LATERAL (SELECT unnest(range(1, len(dd.ws) + 1)) AS i) ii)
      SELECT t.doc_id,
        CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(count(d.pos) AS BIGINT) AS n_dropped,
        coalesce(string_agg(CASE WHEN d.pos IS NULL THEN t.w END,
                            ' ' ORDER BY t.pos), '') AS text_kept
      FROM toks t LEFT JOIN drp d ON t.doc_id = d.doc_id AND t.pos = d.pos
      GROUP BY t.doc_id ORDER BY t.doc_id""")) { (s, dir) =>
      Dedup.substringRemove(t(s, dir, "documents"), "doc_id", "text",
          minRun = 8)
        .orderBy("doc_id")
    },

    // Corpus-wide segment-level exact dedup (the line/paragraph-dedup step
    // of web curation, on fixed 8-word segments): keep only the first
    // occurrence of every distinct segment, rebuild docs from survivors.
    QueryDef("x6_segment_dedup", Some(s"""
      WITH toks AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      segs AS (
        SELECT doc_id, i AS pos, array_to_string(ws[(i*8+1):(i*8+8)],' ') AS seg
        FROM toks, LATERAL (SELECT unnest(range(CAST(ceil(len(ws)/8.0) AS BIGINT))) AS i) ii),
      kept AS (SELECT doc_id, pos, seg FROM (
          SELECT doc_id, pos, seg,
                 row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
          FROM segs) WHERE rn = 1),$segmentRebuild"""), bench = true) { (s, dir) =>
      Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("doc_id")
    },

    // Boilerplate strip (TextOps.stripBoilerplate): segments appearing in
    // >= 2 distinct docs of the SAME SOURCE are removed from every doc —
    // frequency defines boilerplate (vs segment dedup's keep-first, which
    // leaves one copy). Doc frequency on the (source, seg, doc)-distinct
    // table; seg-keyed join back; one groupBy(doc) reassembly.
    QueryDef("x6_boilerplate", Some(s"""
      WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS ws
                    FROM documents),
      segs AS (
        SELECT doc_id, source, i AS pos,
               array_to_string(ws[(i*8+1):(i*8+8)],' ') AS seg
        FROM toks, LATERAL (SELECT unnest(range(CAST(ceil(len(ws)/8.0)
                                                AS BIGINT))) AS i) ii),
      dfq AS (SELECT source, seg, count(DISTINCT doc_id) AS df
              FROM segs GROUP BY 1, 2),
      kept AS (SELECT doc_id, pos, seg
               FROM segs JOIN dfq USING (source, seg) WHERE df < 2),$segmentRebuild""")) { (s, dir) =>
      TextOps.stripBoilerplate(t(s, dir, "documents"), "doc_id", "text",
          segWords = 8, minDf = 2, scopeCols = Seq("source"))
        .orderBy("doc_id")
    },

    // Corpus-duplication diagnostic (TextOps.dupNgramStats): per doc, the
    // fraction of its 5-gram occurrences that appear in ≥1 OTHER document
    // — the memorization-risk number that motivates segment dedup and
    // decontamination. Doc-frequency built on the per-(doc, gram) count
    // table (map-side combine), gram-keyed join back, never doc × doc.
    QueryDef("x6_dup_ngrams", Some("""
      WITH g AS (SELECT doc_id, array_to_string(toks[i:i+4],' ') AS g
                 FROM (SELECT doc_id, string_split(text,' ') AS toks
                       FROM documents) dd,
                 LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-3,1)))
                          AS i) ii),
      gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
      dfq AS (SELECT g, count(*) AS df FROM gc GROUP BY g)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN df >= 2 THEN c ELSE 0 END) AS BIGINT)
               AS n_dup,
             CAST(sum(CASE WHEN df >= 2 THEN c ELSE 0 END) AS DOUBLE)
               / CAST(sum(c) AS DOUBLE) AS dup_frac
      FROM gc JOIN dfq USING (g)
      GROUP BY doc_id ORDER BY doc_id""")) { (s, dir) =>
      TextOps.dupNgramStats(t(s, dir, "documents"), "doc_id", "text", n = 5)
        .orderBy("doc_id")
    },

    // Order-aware novelty (TextOps.noveltyStats): per doc, the fraction
    // of its distinct 3-grams first introduced BY it (min-doc_id
    // attribution) — the corpus-freshness curve behind "stop crawling
    // this source". Directional where x6_dup_ngrams is symmetric.
    QueryDef("x5_novelty", Some(s"""
      WITH $shCte,
      f AS (SELECT shingle, min(doc_id) AS fid FROM sh GROUP BY shingle)
      SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_distinct,
        CAST(sum(CASE WHEN sh.doc_id = f.fid THEN 1 ELSE 0 END) AS BIGINT)
          AS n_novel,
        CAST(sum(CASE WHEN sh.doc_id = f.fid THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(count(*) AS DOUBLE) AS novel_frac
      FROM sh JOIN f USING (shingle)
      GROUP BY sh.doc_id ORDER BY doc_id""")) { (s, dir) =>
      TextOps.noveltyStats(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },

    // Content-defined chunk dedup: boundaries from word content (md5 band),
    // not positions — early insertions don't shift downstream chunks, so
    // shifted copies still dedup. Expected chunk ~8 words.
    QueryDef("x6_cdc_dedup", Some("""
      WITH w AS (
        SELECT doc_id, i - 1 AS pos, ws[i] AS word,
               CASE WHEN substr(md5(ws[i]),1,1) IN ('0','1')
                    THEN 1 ELSE 0 END AS brk
        FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
             LATERAL (SELECT unnest(range(1, len(ws)+1)) AS i) ii),
      c AS (SELECT doc_id, pos, word,
              coalesce(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
            FROM w),
      ch AS (SELECT doc_id, chunk, string_agg(word, ' ' ORDER BY pos) AS ctext
             FROM c GROUP BY doc_id, chunk),
      kept AS (SELECT doc_id, chunk, ctext FROM (
          SELECT doc_id, chunk, ctext,
                 row_number() OVER (PARTITION BY ctext
                   ORDER BY doc_id, chunk) AS rn
          FROM ch) WHERE rn = 1),
      tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
              FROM ch GROUP BY doc_id),
      reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                     string_agg(ctext, ' ' ORDER BY chunk) AS text_kept
              FROM kept GROUP BY doc_id)
      SELECT t.doc_id, n_chunks,
             coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept,
             coalesce(text_kept, '') AS text_kept
      FROM tot t LEFT JOIN reb ON t.doc_id = reb.doc_id
      ORDER BY t.doc_id""")) { (s, dir) =>
      Dedup.cdcChunkDedup(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Incremental (delta-vs-corpus) exact dedup: new docs whose content
    // hash is unseen in the standing corpus. Hash-only anti-join — the
    // corpus never re-shuffles its documents, only 32-char digests.
    QueryDef("x1_incremental", Some("""
      SELECT n.doc_id, n.lang, n.source, n.n_chars
      FROM documents n
      WHERE n.doc_id % 10 < 2
        AND NOT EXISTS (SELECT 1 FROM documents c
                        WHERE c.doc_id % 10 >= 2 AND md5(c.text) = md5(n.text))
      ORDER BY n.doc_id""")) { (s, dir) =>
      val d = t(s, dir, "documents")
      val newBatch = d.filter(col("doc_id") % 10 < 2)
      val corpus = d.filter(col("doc_id") % 10 >= 2)
      Dedup.incrementalDedup(newBatch, corpus, "text")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    // ---------------- X5: repetition + redaction ----------------

    // Gopher-style repetition metrics: duplicate-word fraction and the
    // most-frequent-bigram share — boilerplate/template-spam signals that
    // length and stopword ratios miss.
    QueryDef("x5_repetition", Some("""
      WITH toks AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      w AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
                   CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
            FROM toks),
      bg AS (SELECT doc_id, array_to_string(ws[i:i+1],' ') AS bg
             FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(ws),1))) AS i) ii),
      bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
      bga AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n,
                     CAST(sum(c) AS BIGINT) AS n_bigrams
              FROM bgc GROUP BY doc_id)
      SELECT w.doc_id, n_words, n_distinct,
        CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE)/CAST(n_words AS DOUBLE)
          AS dup_word_frac,
        top_bigram_n,
        CAST(top_bigram_n AS DOUBLE)/CAST(n_bigrams AS DOUBLE)
          AS top_bigram_frac
      FROM w JOIN bga ON w.doc_id = bga.doc_id
      ORDER BY w.doc_id LIMIT 100""")) { (s, dir) =>
      TextOps.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id").limit(100)
    },

    // Pattern redaction (PII scrub shape): replace-all semantics with a
    // per-doc audit count. The corpus has no real PII, so the gate adds a
    // corpus-hitting name pattern to prove the rewrite actually fires;
    // the email pattern exercises the zero-hit path.
    QueryDef("x5_redact", Some("""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '\b(customer|supplier)\b'))
             + len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
          AS n_hits,
        regexp_replace(
          regexp_replace(text, '\b(customer|supplier)\b', '<NAME>', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
          AS text_redacted
      FROM documents ORDER BY doc_id LIMIT 100""")) { (s, dir) =>
      val pats = Seq(
        "\\b(customer|supplier)\\b" -> "<NAME>",
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>")
      spread(t(s, dir, "documents")).select(
        col("doc_id"),
        TextOps.redactHits(col("text"), pats.map(_._1)).cast("long")
          .as("n_hits"),
        TextOps.redact(col("text"), pats).as("text_redacted"))
        .orderBy("doc_id").limit(100)
    },

    // ---------------- X6: end-to-end corpus curation ----------------

    // The composite pipeline a training-data run actually executes, as ONE
    // gated query: quality filter (length + type-token ratio) → exact
    // prefix dedup → near-dup pair generation → cluster resolution → kept
    // corpus, reported as per-language yields at each stage. Every stage is
    // an operator gated individually elsewhere; this gate proves they
    // compose.
    QueryDef("x6_curation", Some(s"""
      WITH RECURSIVE
      q AS (SELECT doc_id, lang, text FROM documents
            WHERE len(string_split(text, ' ')) >= 25
              AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / CAST(len(string_split(text, ' ')) AS DOUBLE)
                  >= CAST(0.35 AS DOUBLE)),
      ex AS (SELECT min(doc_id) AS doc_id FROM q
             GROUP BY array_to_string(string_split(text, ' ')[1:3], ' ')),
      exd AS (SELECT q.* FROM q JOIN ex USING (doc_id)),
      sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM exd) dd,
                  LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1, 1))) AS i) ii),$curationNearDupCte${reachCte("doc_id", "exd")}$clCte
      SELECT d.lang,
        CAST(count(*) AS BIGINT) AS n_raw,
        CAST(sum(CASE WHEN qq.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_quality,
        CAST(sum(CASE WHEN ex2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_exact,
        CAST(sum(CASE WHEN cl.id IS NOT NULL AND cl.id = cl.cluster
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_final
      FROM documents d
      LEFT JOIN (SELECT doc_id FROM q) qq ON d.doc_id = qq.doc_id
      LEFT JOIN ex ex2 ON d.doc_id = ex2.doc_id
      LEFT JOIN cl ON d.doc_id = cl.id
      GROUP BY d.lang ORDER BY d.lang""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks)
      val quality = docs.filter(nTok >= 25 &&
        (size(array_distinct(toks)).cast("double") / nTok.cast("double"))
          >= 0.35)
      val exact = Dedup.exactKeepFirst(
          quality.withColumn("key3", array_join(slice(toks, 1, 3), " ")),
          Seq("key3"), "doc_id")
        .drop("key3")
      val pairs = Dedup.jaccardPairs(exact, "doc_id", "text",
        n = 3, threshold = 0.8)
      val labels = Dedup.resolveClusters(exact, "doc_id", pairs)
      val kept = Dedup.dedupByClusters(exact, "doc_id", labels)
      def stage(df: DataFrame, name: String): DataFrame =
        df.groupBy("lang").agg(count(lit(1)).as(name))
      stage(docs, "n_raw")
        .join(stage(quality, "n_quality0"), Seq("lang"), "left")
        .join(stage(exact, "n_exact0"), Seq("lang"), "left")
        .join(stage(kept, "n_final0"), Seq("lang"), "left")
        .select(col("lang"), col("n_raw"),
          coalesce(col("n_quality0"), lit(0L)).as("n_quality"),
          coalesce(col("n_exact0"), lit(0L)).as("n_exact"),
          coalesce(col("n_final0"), lit(0L)).as("n_final"))
        .orderBy("lang")
    },

    // ---------------- X4: multimodal binary plumbing ----------------

    QueryDef("x4_binary_meta", Some("""
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
        CAST(sum((octet_length(encode(text)) % 640)
                 * ((octet_length(encode(text)) * 7) % 480)) AS BIGINT) AS sum_pix,
        CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_uniq
      FROM documents GROUP BY source ORDER BY source""")) { (s, dir) =>
      val bin = encode(col("text"), "UTF-8")
      val blen = length(bin)
      t(s, dir, "documents")
        .select(col("source"), blen.as("blen"), md5(bin).as("chash"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("blen")).as("sum_bytes"),
          sum((col("blen") % 640) * ((col("blen") * 7) % 480)).as("sum_pix"),
          countDistinct("chash").as("n_uniq"))
        .orderBy("source")
    },

    // Batched mapPartitions decode path: binary content → StubDecoder
    // "features" (md5-hex char codes — portable, so the whole typed-Dataset
    // plumbing gets an exact oracle; a real codec slots into the same seam).
    QueryDef("x4_decode", Some("""
      SELECT doc_id AS id,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        """ + (0 until 8).map(j =>
          s"CAST(ascii(substr(md5(text),${j + 1},1)) AS BIGINT) AS c$j")
          .mkString(",\n        ") + """
      FROM documents ORDER BY id LIMIT 100"""),
      bench = true) { (s, dir) =>
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text")
      val feats = Multimodal.extractFeatures(media, Multimodal.StubDecoder)
      feats.toDF()
        .select(Seq(col("id"), col("nBytes").as("n_bytes")) ++
          (0 until 8).map(j => element_at(col("codes"), j + 1).as(s"c$j")): _*)
        .orderBy("id").limit(100)
    },

    // REAL codec through the same Decoder seam (Multimodal.ImageIoDecoder,
    // JDK javax.imageio — zero new deps): generated gray PNGs with
    // gray(x,y) = (7x + 13y + id) mod 256 are ENCODED, then DECODED back
    // by ImageIO inside the batched mapPartitions path, and the gate
    // compares exact per-image pixel statistics (sum/min/max of the red
    // plane) against the generator's closed form replayed per pixel in
    // SQL. PNG is lossless, so a correct decode reproduces the formula
    // bit-for-bit — pixel statistics, not digest stand-ins.
    QueryDef("x4_decode_px", Some(s"""$pngStatsOracle""")) { (s, dir) =>
      val ids = mediaIds(s, dir)
      val media = Multimodal.syntheticPngs(ids, "doc_id")
      val feats = Multimodal.extractFeatures(media, Multimodal.ImageIoDecoder)
      pngStats(feats)
    },

    // Full-color decode: three INDEPENDENT per-channel closed forms
    // (r = 7x+13y+id, g = 11x+5y+2id, b = 3x+17y+5id, each mod 256), so
    // a decoder reading the wrong plane cannot pass — the r9 gray gate
    // had R = G = B by construction. Same lossless-PNG replay: the
    // oracle re-evaluates all three formulas per pixel.
    QueryDef("x4_decode_rgb", Some("""
      WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (3*doc_id) % 9 AS h
                 FROM documents WHERE doc_id < 100),
      px AS (SELECT doc_id, w, h,
               (7*x.x + 13*y.y + doc_id) % 256 AS r,
               (11*x.x + 5*y.y + 2*doc_id) % 256 AS g,
               (3*x.x + 17*y.y + 5*doc_id) % 256 AS b
             FROM d,
               LATERAL (SELECT unnest(range(0, w)) AS x) x,
               LATERAL (SELECT unnest(range(0, h)) AS y) y)
      SELECT doc_id AS id, CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
             CAST(sum(r) AS BIGINT) AS sum_r, CAST(min(r) AS BIGINT) AS min_r,
             CAST(max(r) AS BIGINT) AS max_r,
             CAST(sum(g) AS BIGINT) AS sum_g, CAST(min(g) AS BIGINT) AS min_g,
             CAST(max(g) AS BIGINT) AS max_g,
             CAST(sum(b) AS BIGINT) AS sum_b, CAST(min(b) AS BIGINT) AS min_b,
             CAST(max(b) AS BIGINT) AS max_b
      FROM px GROUP BY doc_id, w, h ORDER BY id""")) { (s, dir) =>
      val ids = mediaIds(s, dir)
      val media = Multimodal.syntheticRgbPngs(ids, "doc_id")
      val feats = Multimodal.extractFeatures(media, Multimodal.ImageIoDecoder)
      val field = Seq("w", "h", "sum_r", "min_r", "max_r",
        "sum_g", "min_g", "max_g", "sum_b", "min_b", "max_b")
      feats.toDF().select(col("id") +:
          field.zipWithIndex.map { case (f, i) =>
            element_at(col("codes"), i + 1).as(f) }: _*)
        .orderBy("id")
    },

    // REAL-FILE media ingestion (VERDICT r9 "what's missing" #3): the
    // generated PNGs are written as individual files into a fresh landing
    // dir (distributed writeMediaFiles — the reference's S8 ingest
    // boundary is files), read back through Spark's `binaryFile` source,
    // id parsed from the path, and decoded by the SAME ImageIoDecoder —
    // the pixel-statistics oracle is unchanged because the closed form
    // doesn't care how the bytes arrived. Closes the last simulated seam
    // in X4: schema, path parsing, and binary-scan pruning are now the
    // production path (MultimodalSpec asserts the content column prunes
    // from metadata-only reads).
    QueryDef("x4_binary_files", Some(s"""$pngStatsOracle""")) { (s, dir) =>
      val ids = mediaIds(s, dir)
      val rows = landedMedia(s,
        Multimodal.syntheticPngs(ids, "doc_id"), "x4bin", "png")
      val feats = Multimodal.extractFeatures(rows, Multimodal.ImageIoDecoder)
      pngStats(feats)
    },

    // Poison-row quarantine at the decode seam: by id mod 4 the payload
    // is an intact PNG / 16-byte-truncated PNG / intact JPEG / truncated
    // JPEG. Intact images always decode; truncated ones MUST quarantine
    // to empty codes without killing the task — the JPEG paths throw
    // unchecked exceptions (CMMException & co), which is exactly what the
    // NonFatal catch exists for (ADVICE r9). JPEG pixels are
    // codec-dependent and never gated; decoded-vs-quarantined COUNTS are
    // portable, so the oracle derives them from the id partition alone.
    QueryDef("x4_quarantine", Some(s"""
      SELECT CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'png_trunc'
                             WHEN 2 THEN 'jpg' ELSE 'jpg_trunc' END AS kind,$decodeTallyOracle""")) { (s, dir) =>
      val ids = mediaIds(s, dir)
      val media = Multimodal.syntheticMixed(ids, "doc_id")
      val feats = Multimodal.extractFeatures(media, Multimodal.ImageIoDecoder)
      decodeTally(feats.toDF()
        .withColumn("kind",
          when(pmod(col("id"), lit(4)) === 0, "png")
            .when(pmod(col("id"), lit(4)) === 1, "png_trunc")
            .when(pmod(col("id"), lit(4)) === 2, "jpg")
            .otherwise("jpg_trunc")))
    },

    // REAL audio decode (r10 verdict next-round #3 — the second modality
    // through the Decoder seam, the ImageIoDecoder treatment for sound):
    // generated stereo 16-bit PCM WAVs with two INDEPENDENT per-channel
    // sample closed forms are decoded by WavDecoder (JDK
    // javax.sound.sampled, zero deps) inside the same batched
    // mapPartitions path, and the decoded per-channel statistics —
    // sum/min/max/zero-crossings — replay exactly in SQL from the
    // generator formulas because PCM is lossless. A decoder that
    // deinterleaved at the wrong stride or read one plane twice cannot
    // pass.
    QueryDef("x4_audio_decode", Some(s"""$wavSamplesCte
      g AS (SELECT doc_id, n, i, l, r,
              lag(l) OVER (PARTITION BY doc_id ORDER BY i) AS pl,
              lag(r) OVER (PARTITION BY doc_id ORDER BY i) AS pr
            FROM s)
      SELECT doc_id AS id, CAST(8000 AS BIGINT) AS rate,
             CAST(2 AS BIGINT) AS channels, CAST(n AS BIGINT) AS n_frames,
             CAST(sum(l) AS BIGINT) AS sum_l,
             CAST(min(l) AS BIGINT) AS min_l,
             CAST(max(l) AS BIGINT) AS max_l,
             CAST(sum(CASE WHEN pl IS NOT NULL
                            AND ((l >= 0) != (pl >= 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS zc_l,
             CAST(sum(r) AS BIGINT) AS sum_r,
             CAST(min(r) AS BIGINT) AS min_r,
             CAST(max(r) AS BIGINT) AS max_r,
             CAST(sum(CASE WHEN pr IS NOT NULL
                            AND ((r >= 0) != (pr >= 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS zc_r
      FROM g GROUP BY doc_id, n ORDER BY id""")) { (s, dir) =>
      val ids = mediaIds(s, dir)
      val media = Multimodal.syntheticWavs(ids, "doc_id")
      val feats = Multimodal.extractFeatures(media, Multimodal.WavDecoder)
      val field = Seq("rate", "channels", "n_frames",
        "sum_l", "min_l", "max_l", "zc_l",
        "sum_r", "min_r", "max_r", "zc_r")
      feats.toDF().select(col("id") +:
          field.zipWithIndex.map { case (f, i) =>
            element_at(col("codes"), i + 1).as(f) }: _*)
        .orderBy("id")
    },

    // REAL-FILE audio ingestion: the generated WAVs are written as
    // individual files (distributed writeMediaFiles — the S8 ingest
    // boundary), read back through Spark's `binaryFile` source, id
    // parsed from the path, decoded by the SAME WavDecoder. The
    // statistics oracle is unchanged — the closed form doesn't care how
    // the bytes arrived (the x4_binary_files recipe for the audio
    // modality).
    QueryDef("x4_audio_files", Some(s"""$wavSamplesCte
      g AS (SELECT doc_id, n, i, l, r,
              lag(l) OVER (PARTITION BY doc_id ORDER BY i) AS pl
            FROM s)
      SELECT doc_id AS id, CAST(n AS BIGINT) AS n_frames,
             CAST(sum(l) AS BIGINT) AS sum_l,
             CAST(min(l) AS BIGINT) AS min_l,
             CAST(max(l) AS BIGINT) AS max_l,
             CAST(sum(CASE WHEN pl IS NOT NULL
                            AND ((l >= 0) != (pl >= 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS zc_l
      FROM g GROUP BY doc_id, n ORDER BY id""")) { (s, dir) =>
      val ids = mediaIds(s, dir)
      val rows = landedMedia(s,
        Multimodal.syntheticWavs(ids, "doc_id"), "x4wav", "wav")
      val feats = Multimodal.extractFeatures(rows, Multimodal.WavDecoder)
      feats.toDF().select(col("id"),
          element_at(col("codes"), 3).as("n_frames"),
          element_at(col("codes"), 4).as("sum_l"),
          element_at(col("codes"), 5).as("min_l"),
          element_at(col("codes"), 6).as("max_l"),
          element_at(col("codes"), 7).as("zc_l"))
        .orderBy("id")
    },

    // Audio poison-row quarantine: odd ids are WAVs truncated to 16
    // bytes (RIFF magic + partial header — the container parse itself
    // fails), even ids intact. Truncated payloads must quarantine to
    // empty codes without killing the task; the decoded-vs-quarantined
    // counts are portable, so the oracle derives them from the id
    // partition alone (the x4_quarantine recipe).
    QueryDef("x4_audio_quarantine", Some(s"""
      SELECT CASE doc_id % 2 WHEN 0 THEN 'wav' ELSE 'wav_trunc' END AS kind,$decodeTallyOracle""")) { (s, dir) =>
      val ids = mediaIds(s, dir)
      val media = Multimodal.syntheticMixedWavs(ids, "doc_id")
      val feats = Multimodal.extractFeatures(media, Multimodal.WavDecoder)
      decodeTally(feats.toDF()
        .withColumn("kind",
          when(pmod(col("id"), lit(2)) === 0, "wav").otherwise("wav_trunc")))
    },

    // REAL video container decode (r10 verdict stretch #8 — retires the
    // byte-block sampleFrames simulation for real containers): generated
    // RIFF/AVI payloads are walked chunk-by-chunk (Multimodal
    // .parseAviFrames — generic RIFF walk, even-padding, movi descent),
    // every frame payload decoded by the SAME ImageIoDecoder (the
    // MJPEG-per-frame shape; PNG frames here so the per-frame pixel
    // statistics replay losslessly). Frame f of video id carries
    // gray(x,y) = (7x+13y+id+19f) mod 256 — every frame of every video
    // differs, so a parser that misses frames, double-reads a chunk, or
    // mis-seeks past the padding cannot pass. Frame count per video is
    // implied by the row set (2 + id mod 4 rows per id).
    QueryDef("x4_video_decode", Some(s"""$aviFramesCte
      px AS (SELECT doc_id, w, h, f,
               (7*x.x + 13*y.y + doc_id + 19*f) % 256 AS g
             FROM fr,
               LATERAL (SELECT unnest(range(0, w)) AS x) x,
               LATERAL (SELECT unnest(range(0, h)) AS y) y)
      SELECT doc_id AS id, CAST(f AS BIGINT) AS frame_no,
             CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
             CAST(sum(g) AS BIGINT) AS sum_g,
             CAST(min(g) AS BIGINT) AS min_g,
             CAST(max(g) AS BIGINT) AS max_g
      FROM px GROUP BY doc_id, f, w, h ORDER BY id, frame_no""")) {
      (s, dir) =>
      val ids = mediaIds(s, dir)
      val frames = Multimodal.parseAviFrames(
        Multimodal.syntheticAvis(ids, "doc_id"))
      val rows = frameRows(frames)
      val feats = Multimodal.extractFeatures(rows, Multimodal.ImageIoDecoder)
      feats.toDF().select(
          (col("id") / 16).cast("long").as("id"),
          pmod(col("id"), lit(16)).cast("long").as("frame_no"),
          element_at(col("codes"), 1).as("w"),
          element_at(col("codes"), 2).as("h"),
          element_at(col("codes"), 3).as("sum_g"),
          element_at(col("codes"), 4).as("min_g"),
          element_at(col("codes"), 5).as("max_g"))
        .orderBy("id", "frame_no")
    },

    // REAL-FILE video ingestion: generated AVIs written as individual
    // files (distributed writeMediaFiles), read back through the
    // `binaryFile` source, id parsed from the path, container-walked by
    // the SAME parseAviFrames and frame-decoded by the SAME
    // ImageIoDecoder — the x4_binary_files / x4_audio_files recipe for
    // the third modality. Reduced projection: per-video frame count and
    // the exact cross-frame pixel-sum total. Benched (VERDICT r13 #6):
    // the real-file multimodal ingestion line the cross-round perf
    // series lacked.
    QueryDef("x4_video_files", Some(s"""$aviFramesCte
      px AS (SELECT doc_id, f,
               (7*x.x + 13*y.y + doc_id + 19*f) % 256 AS g
             FROM fr,
               LATERAL (SELECT unnest(range(0, w)) AS x) x,
               LATERAL (SELECT unnest(range(0, h)) AS y) y)
      SELECT doc_id AS id, CAST(count(DISTINCT f) AS BIGINT) AS n_frames,
             CAST(sum(g) AS BIGINT) AS sum_g
      FROM px GROUP BY doc_id ORDER BY id"""), bench = true) { (s, dir) =>
      val ids = mediaIds(s, dir)
      val vids = landedMedia(s,
        Multimodal.syntheticAvis(ids, "doc_id"), "x4avi", "avi")
      val frames = Multimodal.parseAviFrames(vids)
      val rows = frameRows(frames)
      val feats = Multimodal.extractFeatures(rows, Multimodal.ImageIoDecoder)
      feats.toDF()
        .select((col("id") / 16).cast("long").as("id"),
          pmod(col("id"), lit(16)).cast("long").as("frame_no"),
          element_at(col("codes"), 3).as("sum_g"))
        .groupBy("id")
        .agg(countDistinct(col("frame_no")).as("n_frames"),
          sum("sum_g").as("sum_g"))
        .orderBy("id")
    },

    // Video poison-row quarantine: odd ids are AVIs truncated to 16
    // bytes — the container walk finds no movi list and must emit ZERO
    // frame rows without killing the task; even ids parse all their
    // frames. The oracle derives both counts from the id partition
    // (frames per even video = 2 + id mod 4).
    QueryDef("x4_video_quarantine", Some("""
      SELECT CASE doc_id % 2 WHEN 0 THEN 'avi' ELSE 'avi_trunc' END AS kind,
             CAST(count(*) AS BIGINT) AS n_videos,
             CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 2 + doc_id % 4
                           ELSE 0 END) AS BIGINT) AS n_frames
      FROM documents WHERE doc_id < 100
      GROUP BY 1 ORDER BY kind""")) { (s, dir) =>
      val ids = mediaIds(s, dir)
      val frames = Multimodal.parseAviFrames(
        Multimodal.syntheticMixedAvis(ids, "doc_id"))
      val cnt = frames.groupBy("id").agg(count(lit(1)).as("nf"))
      ids.select(col("doc_id").cast("long").as("id"))
        .join(cnt, Seq("id"), "left")
        .withColumn("kind",
          when(pmod(col("id"), lit(2)) === 0, "avi").otherwise("avi_trunc"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n_videos"),
          sum(coalesce(col("nf"), lit(0L))).as("n_frames"))
        .orderBy("kind")
    },

    // Perceptual-hash near-dup media pairs (Multimodal.avgHash +
    // phashPairs): 8-bit average-hash over the batched mapPartitions
    // decode, nibble-band blocking (pigeonhole-complete for Hamming ≤ 1),
    // exact bit_count(xor) verify on candidates only. The oracle, free of
    // scale concerns, verifies against the plain all-pairs Hamming join.
    QueryDef("x4_phash", Some("""
      WITH c AS (SELECT doc_id, md5(text) AS h FROM documents),
      s AS (SELECT doc_id, h,
        """ + (1 to 8).map(j => s"ascii(substr(h,$j,1))")
          .mkString(" + ") + """ AS tot FROM c),
      p AS (SELECT doc_id,
        """ + (1 to 8).map(j =>
          s"CASE WHEN 8*ascii(substr(h,$j,1)) > tot THEN ${1L << (j - 1)} ELSE 0 END")
          .mkString("\n        + ") + """ AS phash FROM s)
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(a.phash AS BIGINT) AS pa, CAST(b.phash AS BIGINT) AS pb,
             CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
      FROM p a JOIN p b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 1
      ORDER BY da, db""")) { (s, dir) =>
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text")
      val feats = Multimodal.extractFeatures(media, Multimodal.StubDecoder)
      val hashes = Multimodal.avgHash(feats.toDF(), "id", "codes")
      Multimodal.phashPairs(hashes, "id", "phash", maxHamming = 1)
        .orderBy("da", "db")
    },

    // Byte-plane resize (crop/pad to a fixed 16x12 target): per-source
    // counts of truncated vs padded docs and exact in/out byte totals —
    // all integer arithmetic, so the stub resize gates exactly.
    QueryDef("x4_resize", Some("""
      SELECT source,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN octet_length(encode(text)) > 192
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_trunc,
        CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_in,
        CAST(count(*) * 192 AS BIGINT) AS sum_out
      FROM documents GROUP BY source ORDER BY source""")) { (s, dir) =>
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text")
      val resized = Multimodal.resize(media.toDF(), targetW = 16, targetH = 12)
      val src = t(s, dir, "documents").select(col("doc_id").as("id"), col("source"))
      resized.join(src, "id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("truncated").cast("long")).as("n_trunc"),
          sum(col("origBytes").cast("long")).as("sum_in"),
          sum(length(col("content")).cast("long")).as("sum_out"))
        .orderBy("source")
    },

    // Video-style frame sampling: every 2nd 32-byte block of the content
    // becomes a frame row; gate the per-doc frame count and sampled byte
    // total (pure integer arithmetic — exact in any engine).
    QueryDef("x4_frames", Some("""
      WITH m AS (
        SELECT doc_id, octet_length(encode(text)) AS len,
               (octet_length(encode(text)) + 31) // 32 AS nb
        FROM documents
        WHERE octet_length(encode(text)) > 0)
      SELECT doc_id AS id,
        CAST((nb - 1) // 2 + 1 AS BIGINT) AS n_frames,
        CAST(32 * ((nb - 1) // 2) +
          (CASE WHEN ((nb - 1) // 2) * 2 = nb - 1
                THEN len - 32 * (nb - 1) ELSE 32 END) AS BIGINT) AS sum_fb
      FROM m ORDER BY id LIMIT 100""")) { (s, dir) =>
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.sampleFrames(media, frameBytes = 32, stride = 2)(s)
        .groupBy("id")
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame")).cast("long")).as("sum_fb"))
        .orderBy("id").limit(100)
    },

    // Keyframe selection (Multimodal.keyframes): static-scene collapse
    // over the sampled frame stream — a frame is kept when its bytes
    // differ from the previous sampled frame. The payload carries a
    // 128-byte low-entropy prefix (a repeated 16-byte pattern) so the
    // leading strided frames are bit-identical and the collapse is
    // exercised, with the natural text tail staying distinct. The
    // oracle replays the same 32-byte/stride-2 slicing on the hex
    // rendering (byte equality ≡ hex equality).
    QueryDef("x4_keyframes", Some("""
      WITH m AS (SELECT doc_id,
               hex(encode(repeat('ABCDEFGHIJKLMNOP', 8) || text)) AS hx,
               octet_length(encode(repeat('ABCDEFGHIJKLMNOP', 8) || text))
                 AS len
             FROM documents),
      f AS (SELECT doc_id, i AS frame_no,
              substring(hx, CAST(64 * i + 1 AS BIGINT), 64) AS frame
            FROM m, LATERAL (SELECT unnest(range(0, (len + 31) // 32, 2))
                             AS i) ii),
      k AS (SELECT doc_id, frame_no,
              CASE WHEN lag(frame) OVER (PARTITION BY doc_id
                                         ORDER BY frame_no)
                   IS DISTINCT FROM frame THEN 1 ELSE 0 END AS is_key
            FROM f)
      SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(is_key) AS BIGINT) AS n_key
      FROM k GROUP BY 1 ORDER BY id LIMIT 200""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("text",
          concat(expr("repeat('ABCDEFGHIJKLMNOP', 8)"), col("text")))
      val media = Multimodal.fromText(docs, "doc_id", "text")
      Multimodal.keyframes(
          Multimodal.sampleFrames(media, frameBytes = 32, stride = 2)(s))
        .groupBy("id")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("is_key"), 1L).otherwise(0L)).as("n_key"))
        .orderBy("id").limit(200)
    },

    // The MODERN curation pipeline end-to-end: quality-model scoring →
    // near-dup resolution keeping the best (longest) cluster member →
    // per-language token-budget mixture. Round-3 operators composed into
    // one gate; per-language yields at every stage.
    QueryDef("x6_curation2", Some(s"""
      WITH RECURSIVE
      q AS (SELECT doc_id, lang, text,
                   CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
            FROM documents
            WHERE -2.0
              + 3.0 * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                       / CAST(len(string_split(text,' ')) AS DOUBLE))
              + 5.0 * (CAST(len(list_filter(string_split(text,' '),
                         tk -> tk IN ('the','a','of','and','to','is'))) AS DOUBLE)
                       / CAST(len(string_split(text,' ')) AS DOUBLE))
              + 0.25 * (CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
                        / CAST(len(string_split(text,' ')) AS DOUBLE))
              >= CAST(0.7 AS DOUBLE)),
      sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
             FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM q) dd,
                  LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1, 1))) AS i) ii),$curationNearDupCte${reachCte("doc_id", "q")}$clCte,
      best AS (SELECT q.doc_id, q.lang, q.n_tok,
                 row_number() OVER (PARTITION BY cl.cluster
                   ORDER BY q.n_tok DESC, q.doc_id) AS rn
               FROM q JOIN cl ON q.doc_id = cl.id),
      keep AS (SELECT doc_id, lang, n_tok FROM best WHERE rn = 1),
      bud AS (SELECT doc_id, lang, n_tok,
                sum(n_tok) OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM keep),
      fin AS (SELECT doc_id, n_tok FROM bud
              WHERE cum - n_tok < (CASE lang WHEN 'en' THEN 2000 ELSE 800 END))
      SELECT d.lang, CAST(count(*) AS BIGINT) AS n_raw,
        CAST(sum(CASE WHEN q2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_quality,
        CAST(sum(CASE WHEN k2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept,
        CAST(sum(CASE WHEN f2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_budget,
        CAST(coalesce(sum(CASE WHEN f2.doc_id IS NOT NULL THEN f2.n_tok END), 0)
          AS BIGINT) AS sum_tok
      FROM documents d
      LEFT JOIN (SELECT doc_id FROM q) q2 ON d.doc_id = q2.doc_id
      LEFT JOIN keep k2 ON d.doc_id = k2.doc_id
      LEFT JOIN fin f2 ON d.doc_id = f2.doc_id
      GROUP BY d.lang ORDER BY d.lang""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val score = qualityScore(col("text"))
      val q = spread(docs).filter(score >= 0.7)
        .withColumn("n_tok", size(TextOps.tokens(col("text"))).cast("long"))
      val pairs = Dedup.jaccardPairs(q, "doc_id", "text", n = 3, threshold = 0.8)
      val labels = Dedup.resolveClusters(q, "doc_id", pairs)
      val keep = Dedup.dedupByClustersBest(q, "doc_id", "n_tok", labels)
      val fin = Sample.tokenBudget(keep, "lang", "doc_id", "n_tok",
        Map("en" -> 2000L), default = 800L)
      def stage(df: DataFrame, name: String): DataFrame =
        df.groupBy("lang").agg(count(lit(1)).as(name))
      docs.groupBy("lang").agg(count(lit(1)).as("n_raw"))
        .join(stage(q, "n_quality0"), Seq("lang"), "left")
        .join(stage(keep, "n_kept0"), Seq("lang"), "left")
        .join(fin.groupBy("lang").agg(count(lit(1)).as("n_budget0"),
          sum("n_tok").as("sum_tok0")), Seq("lang"), "left")
        .select(col("lang"), col("n_raw"),
          coalesce(col("n_quality0"), lit(0L)).as("n_quality"),
          coalesce(col("n_kept0"), lit(0L)).as("n_kept"),
          coalesce(col("n_budget0"), lit(0L)).as("n_budget"),
          coalesce(col("sum_tok0"), lit(0L)).as("sum_tok"))
        .orderBy("lang")
    },

    // The FULL pretraining corpus build, end to end (third capstone):
    // benchmark carve-out → boilerplate strip → quality model →
    // exact dedup → near dedup (keep longest) → semantic dedup
    // (SemDeDup over the embedding table where embeddings exist) →
    // decontamination vs the benchmark shingles → per-language token
    // budget → 256-token packing → 4096-char shards → leakage-safe
    // split (hash of the NEAR-DUP CLUSTER label, so a cluster can never
    // straddle train/val/test). Every stage is an existing green
    // operator; the gate prices the whole composition — per-language
    // survivor counts at every stage plus pack/shard/split tallies.
    // Benched (VERDICT r13 #6): the heaviest composition in the engine,
    // now a headline line so its cross-round perf series exists.
    QueryDef("x6_curation3", Some(s"""
      WITH RECURSIVE
      raw AS (SELECT doc_id, lang, source, text FROM documents
              WHERE doc_id % 17 <> 0),
      bh AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
      tk0 AS (SELECT doc_id, source, string_split(text,' ') AS ws FROM raw),
      segs AS (SELECT doc_id, source, i AS pos,
                     array_to_string(ws[(i*8+1):(i*8+8)],' ') AS seg
               FROM tk0, LATERAL (SELECT unnest(range(CAST(ceil(len(ws)/8.0)
                                                   AS BIGINT))) AS i) ii),
      dfq AS (SELECT source, seg, count(DISTINCT doc_id) AS df
              FROM segs GROUP BY 1, 2),
      ks AS (SELECT doc_id, pos, seg
             FROM segs JOIN dfq USING (source, seg) WHERE df < 2),
      strp AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS ctext
               FROM ks GROUP BY doc_id),
      st AS (SELECT s.doc_id, r.lang, s.ctext FROM strp s JOIN raw r USING (doc_id)),
      q AS (SELECT doc_id, lang, ctext,
                   CAST(len(string_split(ctext,' ')) AS BIGINT) AS n_tok
            FROM st
            WHERE -2.0
              + 3.0 * (CAST(len(list_distinct(string_split(ctext,' '))) AS DOUBLE)
                       / CAST(len(string_split(ctext,' ')) AS DOUBLE))
              + 5.0 * (CAST(len(list_filter(string_split(ctext,' '),
                         tw -> tw IN ('the','a','of','and','to','is'))) AS DOUBLE)
                       / CAST(len(string_split(ctext,' ')) AS DOUBLE))
              + 0.25 * (CAST(length(ctext) - len(string_split(ctext,' ')) + 1 AS DOUBLE)
                        / CAST(len(string_split(ctext,' ')) AS DOUBLE))
              >= CAST(0.7 AS DOUBLE)),
      exm AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(ctext)),
      exd AS (SELECT q.* FROM q JOIN exm USING (doc_id)),
      sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2],' ') AS shingle
             FROM (SELECT doc_id, string_split(ctext,' ') AS toks FROM exd) dd,
                  LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1,1))) AS i) ii),$curationNearDupCte${reachCte("doc_id", "exd")}$clCte,
      bst AS (SELECT exd.*, row_number() OVER (PARTITION BY cl.cluster
                ORDER BY exd.n_tok DESC, exd.doc_id) AS rn
              FROM exd JOIN cl ON exd.doc_id = cl.id),
      nr AS (SELECT doc_id, lang, ctext, n_tok FROM bst WHERE rn = 1),
      ctr AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id < 8),
      sv AS (SELECT n.doc_id AS id, CAST(e.embedding AS DOUBLE[]) AS vv
             FROM nr n JOIN embeddings e ON e.vec_id = n.doc_id),
      asn AS (SELECT id, vv, cid, row_number() OVER (PARTITION BY id ORDER BY
                list_dot_product(vv, cv)
                  / sqrt(list_dot_product(vv, vv) * list_dot_product(cv, cv))
                  DESC, cid) AS rk
              FROM sv, ctr),
      cel AS (SELECT id, vv, cid AS cell FROM asn WHERE rk = 1),
      drp AS (SELECT DISTINCT b.id FROM cel a JOIN cel b
              ON a.cell = b.cell AND a.id < b.id
              WHERE list_dot_product(a.vv, b.vv)
                      / sqrt(list_dot_product(a.vv, a.vv)
                             * list_dot_product(b.vv, b.vv))
                    >= CAST(0.35 AS DOUBLE)),
      sem AS (SELECT * FROM nr WHERE doc_id NOT IN (SELECT id FROM drp)),
      tsh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2],' ') AS shingle
              FROM (SELECT doc_id, string_split(ctext,' ') AS toks FROM sem) dd,
                   LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1,1))) AS i) ii),
      bsh AS (SELECT DISTINCT array_to_string(toks[i:i+2],' ') AS shingle
              FROM (SELECT string_split(text,' ') AS toks FROM bh) dd,
                   LATERAL (SELECT unnest(range(1, greatest(len(dd.toks)-1,1))) AS i) ii),
      scn AS (SELECT t.doc_id, count(*) AS n_sh,
                     CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_hit
              FROM tsh t LEFT JOIN bsh b ON t.shingle = b.shingle
              GROUP BY t.doc_id),
      cont AS (SELECT doc_id FROM scn
               WHERE CAST(n_hit AS DOUBLE) / CAST(n_sh AS DOUBLE)
                     >= CAST(0.5 AS DOUBLE)),
      cln AS (SELECT * FROM sem WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      bud AS (SELECT doc_id, lang, ctext, n_tok,
                sum(n_tok) OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM cln),
      fin AS (SELECT doc_id, lang, ctext, n_tok FROM bud
              WHERE cum - n_tok < (CASE lang WHEN 'en' THEN 2000 ELSE 800 END)),
      pk AS (SELECT doc_id, lang, n_tok,
               (sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id)
                 - n_tok) // 256 AS pack,
               (sum(length(ctext)) OVER (PARTITION BY lang ORDER BY doc_id)
                 - length(ctext)) // 4096 AS byte_shard
             FROM fin),
      sp AS (SELECT pk.*,
               CASE WHEN substr(md5(CAST(cl.cluster AS VARCHAR)),1,2) < 'e6'
                    THEN 'train'
                    WHEN substr(md5(CAST(cl.cluster AS VARCHAR)),1,2) < 'f3'
                    THEN 'val'
                    ELSE 'test' END AS split
             FROM pk JOIN cl ON pk.doc_id = cl.id),
      agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_budget,
                CAST(sum(n_tok) AS BIGINT) AS sum_tok,
                CAST(count(DISTINCT pack) AS BIGINT) AS n_packs,
                CAST(count(DISTINCT byte_shard) AS BIGINT) AS n_shards,
                CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_train,
                CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_val,
                CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_test
              FROM sp GROUP BY lang),
      base AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_raw,
                 CAST(sum(CASE WHEN s2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_strip,
                 CAST(sum(CASE WHEN q2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_quality,
                 CAST(sum(CASE WHEN e2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_exact,
                 CAST(sum(CASE WHEN nr2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_near,
                 CAST(sum(CASE WHEN sm2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_sem,
                 CAST(sum(CASE WHEN c2.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_clean
               FROM documents d
               LEFT JOIN (SELECT doc_id FROM st) s2 ON d.doc_id = s2.doc_id
               LEFT JOIN (SELECT doc_id FROM q) q2 ON d.doc_id = q2.doc_id
               LEFT JOIN (SELECT doc_id FROM exd) e2 ON d.doc_id = e2.doc_id
               LEFT JOIN (SELECT doc_id FROM nr) nr2 ON d.doc_id = nr2.doc_id
               LEFT JOIN (SELECT doc_id FROM sem) sm2 ON d.doc_id = sm2.doc_id
               LEFT JOIN (SELECT doc_id FROM cln) c2 ON d.doc_id = c2.doc_id
               GROUP BY d.lang)
      SELECT b.lang, b.n_raw, b.n_strip, b.n_quality, b.n_exact, b.n_near,
             b.n_sem, b.n_clean,
             coalesce(a.n_budget, CAST(0 AS BIGINT)) AS n_budget,
             coalesce(a.sum_tok, CAST(0 AS BIGINT)) AS sum_tok,
             coalesce(a.n_packs, CAST(0 AS BIGINT)) AS n_packs,
             coalesce(a.n_shards, CAST(0 AS BIGINT)) AS n_shards,
             coalesce(a.n_train, CAST(0 AS BIGINT)) AS n_train,
             coalesce(a.n_val, CAST(0 AS BIGINT)) AS n_val,
             coalesce(a.n_test, CAST(0 AS BIGINT)) AS n_test
      FROM base b LEFT JOIN agg a USING (lang) ORDER BY lang"""), bench = true) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val bench = docs.filter(col("doc_id") % 17 === 0)
      val raw = docs.filter(col("doc_id") % 17 =!= 0)
      val st = TextOps.stripBoilerplate(raw, "doc_id", "text",
          segWords = 8, minDf = 2, scopeCols = Seq("source"))
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("text_kept").as("ctext"))
        .join(raw.select("doc_id", "lang"), "doc_id")
      val score = qualityScore(col("ctext"))
      val q = st.filter(score >= 0.7)
        .withColumn("n_tok", size(TextOps.tokens(col("ctext"))).cast("long"))
      val ex = Dedup.exactKeepFirst(q.withColumn("__h", md5(col("ctext"))),
          Seq("__h"), "doc_id").drop("__h")
      val pairs = Dedup.jaccardPairs(ex, "doc_id", "ctext",
        n = 3, threshold = 0.8)
      val labels = Dedup.resolveClusters(ex, "doc_id", pairs)
      val near = Dedup.dedupByClustersBest(ex, "doc_id", "n_tok", labels)
      val svEmb = emb.join(near.select(col("doc_id").as("vec_id")), "vec_id")
      val semKeep = Similarity.semanticDedup(svEmb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        threshold = 0.35)
      val semDropped = svEmb.select(col("vec_id").as("doc_id"))
        .join(semKeep.select(col("id").as("doc_id")), Seq("doc_id"),
          "left_anti")
      val afterSem = near.join(semDropped, Seq("doc_id"), "left_anti")
      val contam = Dedup.contamination(
          afterSem.select(col("doc_id"), col("ctext").as("text")), bench,
          "doc_id", "text", n = 3)
        .filter(col("frac") >= 0.5).select("doc_id")
      val clean = afterSem.join(contam, Seq("doc_id"), "left_anti")
      val fin = Sample.tokenBudget(clean, "lang", "doc_id", "n_tok",
        Map("en" -> 2000L), default = 800L)
      val packed = Multimodal.shardAssign(fin, "doc_id", col("n_tok"),
          "lang", 256L)
        .withColumnRenamed("shard", "pack").drop("n_bytes")
      val sharded = Multimodal.shardAssign(packed, "doc_id",
          length(col("ctext")).cast("long"), "lang", 4096L)
        .withColumnRenamed("shard", "byte_shard")
      val split = sharded
        .join(labels.withColumnRenamed("id", "doc_id")
          .select("doc_id", "cluster"), "doc_id")
        .withColumn("split", Sample.hashSplit("cluster",
          Seq("e6" -> "train", "f3" -> "val"), "test"))
      // Per-stage counting: eight lang-keyed aggregates left-joined back
      // together. A ONE-aggregation stage-tagged-union rewrite (VERDICT
      // r14 #3) was built, proven output-identical, and REVERTED in r15:
      // isolated bench children at matched calm calibrations measured the
      // union form at 22.20 s vs 9.58 s for this shape (2.3× REGRESSION;
      // stage count 48 → 92) — the separate count branches share their
      // exchanges via ReuseExchange, which the tagged union (with its
      // multi-distinct Expand under the single aggregate) defeats, so
      // every branch recomputed its chain prefix. Evidence:
      // OPTIMIZATION_r15.md §2.1.
      def stage(df: DataFrame, name: String): DataFrame =
        df.groupBy("lang").agg(count(lit(1)).as(name))
      val finAgg = split.groupBy("lang").agg(
        count(lit(1)).as("n_budget0"), sum("n_tok").as("sum_tok0"),
        countDistinct("pack").as("n_packs0"),
        countDistinct("byte_shard").as("n_shards0"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train0"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val0"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test0"))
      docs.groupBy("lang").agg(count(lit(1)).as("n_raw"))
        .join(stage(st, "n_strip0"), Seq("lang"), "left")
        .join(stage(q, "n_quality0"), Seq("lang"), "left")
        .join(stage(ex, "n_exact0"), Seq("lang"), "left")
        .join(stage(near, "n_near0"), Seq("lang"), "left")
        .join(stage(afterSem, "n_sem0"), Seq("lang"), "left")
        .join(stage(clean, "n_clean0"), Seq("lang"), "left")
        .join(finAgg, Seq("lang"), "left")
        .select(col("lang"), col("n_raw"),
          coalesce(col("n_strip0"), lit(0L)).as("n_strip"),
          coalesce(col("n_quality0"), lit(0L)).as("n_quality"),
          coalesce(col("n_exact0"), lit(0L)).as("n_exact"),
          coalesce(col("n_near0"), lit(0L)).as("n_near"),
          coalesce(col("n_sem0"), lit(0L)).as("n_sem"),
          coalesce(col("n_clean0"), lit(0L)).as("n_clean"),
          coalesce(col("n_budget0"), lit(0L)).as("n_budget"),
          coalesce(col("sum_tok0"), lit(0L)).as("sum_tok"),
          coalesce(col("n_packs0"), lit(0L)).as("n_packs"),
          coalesce(col("n_shards0"), lit(0L)).as("n_shards"),
          coalesce(col("n_train0"), lit(0L)).as("n_train"),
          coalesce(col("n_val0"), lit(0L)).as("n_val"),
          coalesce(col("n_test0"), lit(0L)).as("n_test"))
        .orderBy("lang")
    },

    // Exact media dedup by content digest (Multimodal.dedupBinary): the
    // keep-first window shuffles digests, never payloads. Gate: kept-set
    // size and byte total — exact integers.
    QueryDef("x4_dedup", Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_kept,
        CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes
      FROM documents
      WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
      """)) { (s, dir) =>
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.dedupBinary(media.toDF(), "id", "content")
        .agg(count(lit(1)).as("n_kept"),
          sum(length(col("content")).cast("long")).as("sum_bytes"))
    },

    // Deterministic train/val/test split (Sample.hashSplit): ~90/5/5 by
    // md5-prefix buckets — the same doc lands in the same split forever,
    // so eval sets stay uncontaminated as the corpus is re-curated.
    QueryDef("x7_split", Some("""
      WITH s AS (
        SELECT source,
          CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'e6' THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'f3' THEN 'val'
               ELSE 'test' END AS split
        FROM documents)
      SELECT source, split, CAST(count(*) AS BIGINT) AS n
      FROM s GROUP BY source, split ORDER BY source, split""")) { (s, dir) =>
      t(s, dir, "documents")
        .withColumn("split", Sample.hashSplit("doc_id",
          Seq("e6" -> "train", "f3" -> "val"), "test"))
        .groupBy("source", "split").agg(count(lit(1)).as("n"))
        .orderBy("source", "split")
    },

    // Corpus-frequency quality (TextOps.corpusFreqQuality): per doc, the
    // rare-token fraction and mean document frequency over its distinct
    // tokens — the log-free CCNet-style "looks like the corpus" signal.
    QueryDef("x5_dfquality", Some("""
      WITH dtok AS (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)),
      dfv AS (SELECT tok, count(*) AS df FROM dtok GROUP BY tok)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        CAST(sum(CASE WHEN df < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        CAST(sum(CASE WHEN df < 3 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(count(*) AS DOUBLE) AS rare_frac,
        CAST(sum(df) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_df
      FROM dtok JOIN dfv USING(tok)
      GROUP BY doc_id ORDER BY doc_id LIMIT 200""")) { (s, dir) =>
      TextOps.corpusFreqQuality(t(s, dir, "documents"), "doc_id", "text",
          minDf = 3L)
        .orderBy("doc_id").limit(200)
    },

    // Linear quality-model scoring (TextOps.linearQualityScore): fixed
    // weights over (ttr, stop_ratio, avg_tok_len) in one fixed-order
    // multiply-add chain — identical IEEE doubles in any engine.
    QueryDef("x5_qmodel", Some("""
      SELECT doc_id,
        -2.0 + 3.0 * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                      / CAST(len(string_split(text,' ')) AS DOUBLE))
             + 5.0 * (CAST(len(list_filter(string_split(text,' '),
                        tk -> tk IN ('the','a','of','and','to','is'))) AS DOUBLE)
                      / CAST(len(string_split(text,' ')) AS DOUBLE))
             + 0.25 * (CAST(length(text) - len(string_split(text,' ')) + 1 AS DOUBLE)
                       / CAST(len(string_split(text,' ')) AS DOUBLE)) AS score
      FROM documents ORDER BY doc_id LIMIT 100""")) { (s, dir) =>
      spread(t(s, dir, "documents"))
        .select(col("doc_id"),
          qualityScore(col("text")).as("score"))
        .orderBy("doc_id").limit(100)
    },

    // Integer-exact PageRank (Graph.pageRankInt) over the co-order supplier
    // graph: suppliers sharing an order are linked; 3 iterations of the
    // damping-17/20 integer recurrence. The oracle unrolls the identical
    // recurrence — bit-exact longs, no float drift.
    QueryDef("x8_pagerank", Some(s"""
      WITH pr AS (${coOrderSql("l_suppkey")}),
      eg AS (SELECT src, dst FROM pr UNION ALL SELECT dst AS src, src AS dst FROM pr),
      nodes AS (SELECT DISTINCT src AS id FROM eg),
      deg AS (SELECT src, count(*) AS outdeg FROM eg GROUP BY src),
      r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank FROM nodes)""" +
      (1 to 3).map { i =>
        s""",
      r$i AS (SELECT n.id,
        CAST(150000000 + (17 * coalesce(f.i, 0)) // 20 AS BIGINT) AS rank${rankInflow(i, "eg")}"""
      }.mkString + """
      SELECT id, rank FROM r3 ORDER BY id"""), bench = true) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_suppkey")
      val edges = symmetric(pairs)
      Graph.pageRankInt(edges, iters = 3).orderBy("id")
    },

    // PageRank WITH the canonical dangling-mass redistribution
    // (pageRankInt(dangling = true)) on the DIRECTED co-order graph
    // (edges low→high supplier id, so the highest-keyed suppliers are
    // genuine sinks): every node receives an equal integral share
    // S div n of the sink-drained rank each iteration — canonical
    // semantics, still exact-integer, so it hash-gates. x8_pagerank
    // stays as the documented drain-semantics variant.
    pageRankDanglingGate("x8_pagerank_dangling", s4 = false),

    // Oracle-replayable dangling-PageRank companion (same
    // Graph.pageRankInt code path, dangling = true): the FULL
    // x8_pagerank_dangling sf1 oracle spills >78GB — the dangling-mass
    // redistribution makes every unrolled iteration dense — so its sf1
    // correctness rested on sf0.1 alone (r10 verdict, missing #2). This
    // gate runs the identical recurrence on the l_suppkey % 4 subsample
    // of the co-purchase graph (~16x fewer edges, ~64x less iteration
    // mass), which DuckDB replays at sf1, carrying the 100x-scale value
    // evidence for the dangling family the x8_ktruss_s4 way.
    pageRankDanglingGate("x8_pagerank_dangling_s4", s4 = true),

    // Personalized PageRank (Graph.personalizedPageRankInt): teleport
    // restricted to a seed set — "rank relative to these suppliers", the
    // recommendation/relevance variant. Same integer recurrence and plan
    // shape as x8_pagerank (one edge join + aggregate per iteration);
    // seeds start at scale, everything else at 0, so mass provably drains
    // from the seed neighborhood. Oracle unrolls 3 rounds.
    QueryDef("x8_ppr", Some(s"""
      WITH pr AS (${coOrderSql("l_suppkey")}),
      eg AS (SELECT src, dst FROM pr UNION ALL SELECT dst AS src, src AS dst FROM pr),
      nodes AS (SELECT DISTINCT src AS id,
                  CASE WHEN src % 10 = 0 THEN 1 ELSE 0 END AS sd
                FROM eg),
      deg AS (SELECT src, count(*) AS outdeg FROM eg GROUP BY src),
      r0 AS (SELECT id, sd, CAST(sd * 1000000000 AS BIGINT) AS rank
             FROM nodes)""" +
      (1 to 3).map { i =>
        s""",
      r$i AS (SELECT n.id, n.sd,
        CAST(n.sd * 150000000 + (17 * coalesce(f.i, 0)) // 20 AS BIGINT)
          AS rank${rankInflow(i, "eg")}"""
      }.mkString + """
      SELECT id, rank FROM r3 ORDER BY id""")) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_suppkey")
      val edges = symmetric(pairs)
      val seeds = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 10 === 0)
      Graph.personalizedPageRankInt(edges, seeds, iters = 3).orderBy("id")
    },

    // HITS hubs/authorities on the DIRECTED co-purchase graph (edges
    // point low→high supplier id), exact fixed-point integer arithmetic:
    // long sums + max-normalizing integral division each half-step, so
    // the scores hash-gate. Two unrolled iterations in the oracle.
    hitsGate("x8_hits", s4 = false),

    // Oracle-replayable HITS companion (same Graph.hitsInt code path):
    // the FULL x8_hits sf1 oracle pins >18GB of non-spillable hash
    // blocks across the unrolled hub/authority iterations, leaving the
    // family's sf1 correctness resting on sf0.1 alone (r10 verdict,
    // missing #2). Identical two-iteration recurrence on the
    // l_suppkey % 4 subsample — DuckDB replays it at sf1.
    hitsGate("x8_hits_s4", s4 = true),

    // Synchronous label propagation on the symmetrized co-purchase
    // graph: most-frequent neighbor label per round, smallest-label
    // ties — all-integer and round-synchronous, so the (normally
    // run-order-dependent) LPA is exactly reproducible. Two unrolled
    // rounds in the oracle.
    QueryDef("x8_labelprop", Some(s"""$labelPropCte
      SELECT id, CAST(label AS BIGINT) AS label FROM l2
      ORDER BY id""")) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_suppkey")
      val edges = symmetric(pairs)
      Graph.labelPropagate(edges, rounds = 2).orderBy("id")
    },

    // Overlapping token-window chunking (TextOps.chunkTokens): 16-token
    // windows every 12 tokens — the RAG/context-window splitting pass.
    // Pure projection+explode; the oracle replays the identical integer
    // chunk-boundary arithmetic with DuckDB's 1-based inclusive slices.
    QueryDef("x6_chunk", Some("""
      WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      ch AS (SELECT doc_id, i AS chunk_id,
               array_to_string(toks[i*12+1 : i*12+16], ' ') AS chunk,
               len(toks[i*12+1 : i*12+16]) AS n_tok
             FROM tk, LATERAL (SELECT unnest(range(0,
               (greatest(len(toks)-16, 0) + 11) // 12 + 1)) AS i) ii)
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, chunk,
             CAST(n_tok AS BIGINT) AS n_tok
      FROM ch ORDER BY doc_id, chunk_id""")) { (s, dir) =>
      TextOps.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
          width = 16, stride = 12)
        .orderBy("doc_id", "chunk_id")
    },

    // Bigram-LM corpus scoring (TextOps.bigramLmScore): train p(w2|w1)
    // over the corpus, score each doc by its mean bigram probability on
    // the fixed-point 1e-12 grid — the log-free, gate-exact form of the
    // CCNet perplexity filter.
    QueryDef("x5_bigram_lm", Some(s"""
      WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),$bigramLmCte
      SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
             CAST(s AS DOUBLE) / 1e12 / CAST(n_bigrams AS DOUBLE) AS avg_p
      FROM sc ORDER BY doc_id""")) { (s, dir) =>
      TextOps.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Stupid-backoff trigram LM (TextOps.backoffLmScore, Brants et al.
    // 2007): counts trained on the src0 reference slice, every document
    // scored by its mean trigram score with 0.4/0.16 backoff — the
    // CCNet "train on Wikipedia, score the crawl" step in the log-free
    // gate-exact formulation. Unseen trigrams exercise the backoff
    // chain; OOV final tokens score 0.
    QueryDef("x5_backoff_lm", Some("""
      WITH tk AS (SELECT doc_id, source, string_split(text,' ') AS toks
                  FROM documents),
      rtk AS (SELECT toks FROM tk WHERE source = 'src0'),
      tri AS (SELECT array_to_string(toks[i:i+2],' ') AS tg,
                     count(*) AS c123
              FROM rtk, LATERAL (SELECT unnest(range(1,
                     greatest(len(toks)-1,1))) AS i) ii
              GROUP BY tg),
      bi AS (SELECT array_to_string(toks[i:i+1],' ') AS bg, count(*) AS cb
             FROM rtk, LATERAL (SELECT unnest(range(1, len(toks))) AS i) ii
             GROUP BY bg),
      unic AS (SELECT w, count(*) AS cu
               FROM (SELECT unnest(toks) AS w FROM rtk) GROUP BY w),
      n AS (SELECT sum(cu) AS n FROM unic),
      occ AS (SELECT doc_id, array_to_string(toks[i:i+2],' ') AS tg,
                     toks[i] || ' ' || toks[i+1] AS bg12,
                     toks[i+1] || ' ' || toks[i+2] AS bg23,
                     toks[i+1] AS w2, toks[i+2] AS w3
              FROM tk, LATERAL (SELECT unnest(range(1,
                     greatest(len(toks)-1,1))) AS i) ii),
      s AS (SELECT doc_id,
              CASE WHEN tri.c123 IS NOT NULL THEN
                     CAST(tri.c123 AS DOUBLE) / CAST(c12.cb AS DOUBLE)
                   WHEN c23.cb IS NOT NULL THEN
                     CAST(0.4 AS DOUBLE)
                       * (CAST(c23.cb AS DOUBLE) / CAST(u2.cu AS DOUBLE))
                   WHEN u3.cu IS NOT NULL THEN
                     CAST(0.16 AS DOUBLE)
                       * (CAST(u3.cu AS DOUBLE) / CAST(n.n AS DOUBLE))
                   ELSE CAST(0.0 AS DOUBLE) END AS s
            FROM occ LEFT JOIN tri USING (tg)
              LEFT JOIN bi c12 ON occ.bg12 = c12.bg
              LEFT JOIN bi c23 ON occ.bg23 = c23.bg
              LEFT JOIN unic u2 ON occ.w2 = u2.w
              LEFT JOIN unic u3 ON occ.w3 = u3.w
              CROSS JOIN n)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
             CAST(sum(CAST(floor(s * 1e12) AS HUGEINT)) AS DOUBLE) / 1e12
               / CAST(count(*) AS DOUBLE) AS score
      FROM s GROUP BY doc_id ORDER BY doc_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextOps.backoffLmScore(docs,
          docs.filter(col("source") === "src0"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // DSIR importance scores (TextOps.dsirScores, Xie et al. 2023):
    // hashed-bigram importance ratios of the src0 target slice vs the
    // whole corpus, per-doc mean ratio — the "select crawl data that
    // looks like the target domain" sampler weight, log-free so it
    // gate-hashes. 256 md5 buckets; model is a 256-row broadcast.
    QueryDef("x6_dsir", Some(s"""$dsirModelCte
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             CAST(sum(CAST(floor(ratio * 1e6) AS HUGEINT)) AS DOUBLE) / 1e6
               / CAST(count(*) AS DOUBLE) AS score
      FROM bg JOIN m USING (bucket)
      GROUP BY doc_id ORDER BY doc_id""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextOps.dsirScores(docs, docs.filter(col("source") === "src0"),
          "doc_id", "text", hexDigits = 2)
        .orderBy("doc_id")
    },

    // DSIR selection (TextOps.dsirSelect): keep the top quarter of the
    // corpus by importance score and report per-source acceptance — the
    // resampling half of x6_dsir, whose acceptance skew toward the
    // target domain's sources is the operator's whole point.
    QueryDef("x6_dsir_select", Some(s"""$dsirModelCte$dsirScoreCte,
      r AS (SELECT doc_id,
              row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
              count(*) OVER () AS n
            FROM sc),
      k AS (SELECT doc_id FROM r WHERE rn <= floor(n * 0.25))
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS keep_frac
      FROM documents d LEFT JOIN k ON d.doc_id = k.doc_id
      GROUP BY d.source ORDER BY d.source"""),
      bench = true) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextOps.dsirSelect(docs, docs.filter(col("source") === "src0"),
          "doc_id", "text", "source", keepFrac = 0.25, hexDigits = 2)
        .orderBy("source")
    },

    // DSIR threshold selection (TextOps.dsirSelectThreshold): the 100 TB
    // form of x6_dsir_select — the keep cut is the keepFrac quantile of a
    // 25% hash-sample's scores (sample-sized rank, one-row broadcast,
    // scalar compare in the corpus scan), never a global sort. Same
    // per-source acceptance report; kept count matches the exact form up
    // to sampling error and threshold ties.
    QueryDef("x6_dsir_select_t", Some(s"""$dsirModelCte$dsirScoreCte,
      samp AS (SELECT doc_id, score FROM sc
               WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'),
      r AS (SELECT score,
              row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
              count(*) OVER () AS ms
            FROM samp),
      thr AS (SELECT max(CASE WHEN rn = floor(ms * 0.25) THEN score END)
                AS t,
              CAST(count(*) AS BIGINT) AS n_sample FROM r),
      k AS (SELECT doc_id FROM sc, thr WHERE score >= t)
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS keep_frac,
             thr.n_sample AS n_sample,
             thr.t IS NOT NULL AS has_threshold
      FROM documents d CROSS JOIN thr LEFT JOIN k ON d.doc_id = k.doc_id
      GROUP BY d.source, thr.n_sample, thr.t ORDER BY d.source"""),
      bench = true) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextOps.dsirSelectThreshold(docs,
          docs.filter(col("source") === "src0"),
          "doc_id", "text", "source", keepFrac = 0.25, hexDigits = 2,
          sampleHexCeil = "40")
        .orderBy("source")
    },

    // CCNet head/middle/tail LM-score buckets (TextOps.lmScoreBuckets,
    // Wenzek et al. 2019): per-language terciles of the bigram-LM
    // corpus-likelihood — the "keep head+middle, drop tail" curation
    // cut, gated by per-bucket doc/bigram totals and the score range.
    QueryDef("x6_ccnet_buckets", Some(s"""$ccnetScoreCte,
      j AS (SELECT d.lang, sc2.doc_id, sc2.n_bigrams, sc2.avg_p,
              ntile(3) OVER (PARTITION BY d.lang
                ORDER BY sc2.avg_p DESC, sc2.doc_id) AS bucket
            FROM sc2 JOIN documents d USING (doc_id))$ccnetReport"""),
      bench = true) { (s, dir) =>
      TextOps.lmScoreBuckets(t(s, dir, "documents"), "doc_id", "text",
          "lang", buckets = 3)
        .orderBy("lang", "bucket")
    },

    // CCNet threshold buckets (TextOps.lmScoreBucketsThreshold): the
    // 100 TB form of x6_ccnet_buckets — per-language tercile cut scores
    // read off a 50% hash-sample's ranks (sample-sized per-group sort),
    // broadcast as one row per language, and every doc bucketed by a
    // codegen'd compare chain. Tile populations match the exact ntile up
    // to sampling error; cut-score ties land in the better bucket.
    QueryDef("x6_ccnet_buckets_t", Some(s"""$ccnetScoreCte,
      samp AS (SELECT d.lang, sc2.avg_p,
                 row_number() OVER (PARTITION BY d.lang
                   ORDER BY sc2.avg_p DESC, sc2.doc_id) AS rn,
                 count(*) OVER (PARTITION BY d.lang) AS ms
               FROM sc2 JOIN documents d USING (doc_id)
               WHERE substr(md5(CAST(sc2.doc_id AS VARCHAR)), 1, 2) < '80'),
      cuts AS (SELECT lang,
                 min(CASE WHEN rn = floor(ms * 1 / 3) THEN avg_p END) AS cc1,
                 min(CASE WHEN rn = floor(ms * 2 / 3) THEN avg_p END) AS cc2
               FROM samp GROUP BY lang),
      j AS (SELECT d.lang, sc2.doc_id, sc2.n_bigrams, sc2.avg_p,
              1 + (CASE WHEN sc2.avg_p < c.cc1 THEN 1 ELSE 0 END)
                + (CASE WHEN sc2.avg_p < c.cc2 THEN 1 ELSE 0 END) AS bucket
            FROM sc2 JOIN documents d USING (doc_id)
            LEFT JOIN cuts c ON d.lang = c.lang)$ccnetReport"""),
      bench = true) { (s, dir) =>
      TextOps.lmScoreBucketsThreshold(t(s, dir, "documents"), "doc_id",
          "text", "lang", buckets = 3, sampleHexCeil = "80")
        .orderBy("lang", "bucket")
    },

    // Weighted source interleaving (Sample.interleaveByWeight): stride
    // scheduling — ascending virtual time rank/weight consumes sources
    // proportionally to their weights at every prefix. The mixture
    // SCHEDULE, where x7_mixture gates the proportions.
    QueryDef("x7_interleave", Some("""
      WITH d AS (SELECT doc_id, source FROM documents
                 WHERE source IN ('src0','src1','src2')),
      r AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source
                ORDER BY md5('ep1|' || CAST(doc_id AS VARCHAR)), doc_id) AS src_rank
            FROM d),
      v AS (SELECT doc_id, source, CAST(src_rank AS INT) AS src_rank,
              CAST(src_rank AS DOUBLE) /
                CASE source WHEN 'src0' THEN 4.0 WHEN 'src1' THEN 2.0
                            ELSE 1.0 END AS vtime
            FROM r)
      SELECT doc_id, source, src_rank, vtime
      FROM v ORDER BY vtime, source, doc_id LIMIT 60""")) { (s, dir) =>
      Sample.interleaveByWeight(
          t(s, dir, "documents").select("doc_id", "source"),
          "source", "doc_id",
          weights = Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0),
          seed = "ep1")
        .select("doc_id", "source", "src_rank", "vtime")
        .orderBy("vtime", "source", "doc_id")
        .limit(60)
    },

    // SQ8 scalar-quantized ANN (Similarity.knnSq8): corpus stored as
    // per-vector (min, max) + one byte per dimension, dequantized inline
    // and ranked asymmetrically — the training-free 4x compression rung.
    // The oracle replays the quantize/dequantize arithmetic exactly.
    QueryDef("x3_sq8", Some(s"""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      c AS (SELECT vec_id AS nid, vv,
              list_aggregate(vv, 'min') AS mn,
              list_aggregate(vv, 'max') AS mx
            FROM v WHERE vec_id >= 10),
      cod AS (SELECT nid, mn, mx,
                list_transform(vv, x ->
                  least(coalesce(CAST(floor((x - mn) / nullif((mx - mn)/255.0, 0.0)) AS INT), 0), 255)) AS codes
              FROM c),
      rec AS (SELECT nid,
                list_transform(codes, cd -> mn + CAST(cd AS DOUBLE) * ((mx - mn)/255.0)) AS rv
              FROM cod),
      q AS (SELECT vec_id AS qid, vv AS qv FROM v WHERE vec_id < 10),
      sc AS (SELECT qid, nid,
               list_dot_product(qv, rv)
                 / sqrt(list_dot_product(qv, qv) * list_dot_product(rv, rv)) AS sim
             FROM q, rec),${topBySim(3)}""")) {
      (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.knnSq8(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // Signed random projection (Johnson-Lindenstrauss, Rademacher ±1):
    // the matrix entry is md5-derived from (seed, j, i) so every task
    // regenerates it — no table, no broadcast. Each output coordinate is
    // an exact left-to-right fold of negated inputs, so the projected
    // values themselves hash-gate cross-engine.
    QueryDef("x3_rproj", Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
                 FROM embeddings WHERE vec_id < 20),
      p AS (SELECT vec_id,
              list_transform(range(0, 8), j ->
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(range(1, len(vv) + 1), i ->
                    CASE WHEN substr(md5(concat('jl', ':',
                           CAST(j AS VARCHAR), ':',
                           CAST(i - 1 AS VARCHAR))), 1, 1) < '8'
                         THEN vv[i] ELSE -vv[i] END)),
                  (a, b) -> a + b)) AS rp
            FROM v)
      SELECT vec_id, j, rp[j + 1] AS y
      FROM p, LATERAL (SELECT unnest(range(0, 8)) AS j) jj
      ORDER BY vec_id, j""")) { (s, dir) =>
      Similarity.randomProject(
          t(s, dir, "embeddings").filter(col("vec_id") < 20),
          "vec_id", "embedding", dOut = 8, seed = "jl")
        .select(col("vec_id"), posexplode(col("rp")).as(Seq("j", "y")))
        .withColumn("j", col("j").cast("long"))
        .orderBy("vec_id", "j")
    },

    // Semantic decontamination (Similarity.semanticDecontaminate): drop
    // training vectors within cosine 0.35 of ANY benchmark vector — the
    // embedding-space analogue of x6_decontam, exact via a broadcast
    // anti join (benchmarks are eval-suite-sized by contract).
    QueryDef("x6_semdecontam", Some("""
      WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS bv
                 FROM embeddings WHERE vec_id < 10),
      t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS tv
            FROM embeddings WHERE vec_id >= 10)
      SELECT vec_id FROM t
      WHERE NOT EXISTS (SELECT 1 FROM b
        WHERE list_dot_product(tv, bv)
                / sqrt(list_dot_product(tv, tv) * list_dot_product(bv, bv))
              >= CAST(0.35 AS DOUBLE))
      ORDER BY vec_id""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.semanticDecontaminate(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          "vec_id", "embedding", threshold = 0.35)
        .select("vec_id")
        .orderBy("vec_id")
    },

    // Contrastive triplet mining (Similarity.mineTriplets): nearest
    // neighbor as the positive, md5-hash-order draws as deterministic
    // uniform negatives — the (anchor, positive, negative) prep for
    // embedding training.
    QueryDef("x3_triplets", Some(s"""$queryCorpusCte
      sc AS (SELECT qid, nid,
               list_dot_product(qv, cv)
                 / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS sim,
               row_number() OVER (PARTITION BY qid
                 ORDER BY list_dot_product(qv, cv)
                   / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv))
                   DESC, nid) AS rk
             FROM q, c),
      pos AS (SELECT qid, nid AS pos_id, sim AS pos_sim FROM sc WHERE rk = 1),
      neg AS (SELECT p.qid, p.pos_id, p.pos_sim, c.nid AS neg_id,
                row_number() OVER (PARTITION BY p.qid ORDER BY
                  md5(CAST(p.qid AS VARCHAR) || '|' || CAST(c.nid AS VARCHAR)),
                  c.nid) AS neg_rank
              FROM pos p, c WHERE c.nid != p.pos_id)
      SELECT qid, pos_id, pos_sim, CAST(neg_rank AS INT) AS neg_rank, neg_id
      FROM neg WHERE neg_rank <= 2 ORDER BY qid, neg_rank""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.mineTriplets(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          "vec_id", "embedding", nNeg = 2)
        .orderBy("qid", "neg_rank")
    },

    // Sparse bag-of-words cosine pairs (Dedup.sparseCosinePairs): the
    // tf-idf-retrieval-style frequency-sensitive sibling of
    // x2_jaccard_pairs, same inverted-index discipline. Integer-exact
    // numerator and norms; one IEEE division at the end.
    QueryDef("x2_sparse_cosine", Some(s"""
      WITH tf AS (SELECT doc_id, tok, count(*) AS tf
                  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok
                        FROM documents) tt
                  GROUP BY doc_id, tok),$tfCosineCte
      SELECT da, db, sim FROM sim WHERE sim >= CAST(0.98 AS DOUBLE)
      ORDER BY da, db""")) { (s, dir) =>
      Dedup.sparseCosinePairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.98, allowUnigramDebug = true)
        .orderBy("da", "db")
    },

    // Shingle-frequency sparse cosine (Dedup.sparseCosinePairs with
    // shingleN=4): the SCALE form of x2_sparse_cosine. The fixture's
    // unigram vocabulary is 26 tokens, so the unpruned unigram pair mass
    // Σ df² is ~2e10 at sf1 (quadratic by definition — that variant is
    // gate-checked at sf0.01/0.1 only); 4-shingles carry the same
    // frequency-sensitive cosine with measured pair mass 1.5e7 at sf1.
    QueryDef("x2_sparse_cosine_sh", Some(s"""
      WITH sh AS (SELECT doc_id, array_to_string(toks[i:i+3],' ') AS tok
                  FROM (SELECT doc_id, string_split(text,' ') AS toks
                        FROM documents) dd,
                       LATERAL (SELECT unnest(range(1,
                          greatest(len(dd.toks)-2, 1))) AS i) ii),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM sh GROUP BY 1, 2),$tfCosineCte
      SELECT da, db, sim FROM sim WHERE sim >= CAST(0.8 AS DOUBLE)
      ORDER BY da, db""")) { (s, dir) =>
      Dedup.sparseCosinePairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, shingleN = 4)
        .orderBy("da", "db")
    },

    // IVF-PQ composite index (Similarity.knnIvfPq): coarse cells from the
    // 8 lowest-id embeddings, per-RESIDUAL product quantization (m=2
    // subspaces, 8-entry codebooks seeded from the lowest-id corpus
    // residuals), nprobe=2 probes, ADC ranking. The oracle replays cell
    // assignment, residual subtraction, encoding, the per-(query, cell)
    // LUT, and the ADC sum end to end.
    QueryDef("x3_ivfpq", Some("""
      WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
      ctr AS (SELECT vec_id AS cid, vv AS cv FROM v WHERE vec_id < 8),
      a AS (SELECT v.vec_id, v.vv, c.cid, c.cv,
              row_number() OVER (PARTITION BY v.vec_id ORDER BY
                list_dot_product(vv, cv)
                  / sqrt(list_dot_product(vv, vv) * list_dot_product(cv, cv))
                  DESC, cid) AS rk
            FROM v, ctr c),
      asn AS (SELECT vec_id, vv, cid AS cell, cv FROM a WHERE rk = 1),
      res AS (SELECT vec_id, cell,
                list_transform(range(1, 65), i -> vv[i] - cv[i]) AS rv
              FROM asn),
      sd AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, rv
             FROM (SELECT vec_id, rv FROM res WHERE vec_id >= 20
                   ORDER BY vec_id LIMIT 8)),
      cb AS (SELECT code, 0 AS j, rv[1:32] AS cbv FROM sd
             UNION ALL SELECT code, 1, rv[33:64] FROM sd),
      c AS (SELECT vec_id AS nid, cell, rv FROM res WHERE vec_id >= 20),
      cd AS (SELECT nid, cell, j, code,
               row_number() OVER (PARTITION BY nid, j ORDER BY
                 list_dot_product(sv, sv) - 2.0*list_dot_product(sv, cbv)
                   + list_dot_product(cbv, cbv) ASC, code) AS rk
             FROM (SELECT nid, cell, j, code, cbv,
                     CASE j WHEN 0 THEN rv[1:32] ELSE rv[33:64] END AS sv
                   FROM c, cb)),
      codes AS (SELECT nid, cell, j, code FROM cd WHERE rk = 1),
      qp AS (SELECT vec_id AS qid, vv, cid AS cell, cv FROM a
             WHERE vec_id >= 10 AND vec_id < 20 AND rk <= 2),
      qres AS (SELECT qid, cell,
                 list_transform(range(1, 65), i -> vv[i] - cv[i]) AS qrv
               FROM qp),
      lut AS (SELECT qid, cell, j, code,
                list_dot_product(qs, qs) - 2.0*list_dot_product(qs, cbv)
                  + list_dot_product(cbv, cbv) AS d2
              FROM (SELECT qid, cell, j, code, cbv,
                      CASE j WHEN 0 THEN qrv[1:32] ELSE qrv[33:64] END AS qs
                    FROM qres, cb)),
      est AS (SELECT l.qid, s.nid, sum(l.d2) AS est_d2
              FROM codes s JOIN lut l
                ON l.cell = s.cell AND l.j = s.j AND l.code = s.code
              GROUP BY l.qid, s.nid),
      r AS (SELECT qid, nid, est_d2,
              row_number() OVER (PARTITION BY qid
                ORDER BY est_d2 ASC, nid) AS rnk
            FROM est)
      SELECT qid, rnk, nid, est_d2 FROM r WHERE rnk <= 3
      ORDER BY qid, rnk"""),
      bench = true) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val ctr = e.filter(col("vec_id") < 8)
      val res = Similarity.residuals(e, "vec_id", "embedding",
        ctr, "vec_id", "embedding")
      val cbs = Similarity.pqTrain(res.filter(col("vec_id") >= 20),
        "vec_id", "embedding", m = 2, k = 8, iters = 0)
      Similarity.knnIvfPq(
          e.filter(col("vec_id") >= 20),
          e.filter(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding", ctr, "vec_id", "embedding",
          cbs, k = 3, nprobe = 2)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // Semantic dedup (Similarity.semanticDedup, the SemDeDup recipe):
    // quantizer cells from the 8 lowest-id embeddings, drop every vector
    // with a lower-id same-cell neighbor at cosine >= 0.35, keep the rest.
    // The oracle replays cell assignment (argmax cosine, min-cid ties) and
    // the greedy min-id keep rule with the same sequential-fold vector
    // arithmetic as the x3 gates.
    QueryDef("x2_semdedup", Some("""
      WITH ctr AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id < 8),
      v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vv
            FROM embeddings),
      asn AS (SELECT id, vv, cid,
                row_number() OVER (PARTITION BY id ORDER BY
                  list_dot_product(vv, cv)
                    / sqrt(list_dot_product(vv, vv) * list_dot_product(cv, cv))
                    DESC, cid) AS rk
              FROM v, ctr),
      cell AS (SELECT id, vv, cid AS cell FROM asn WHERE rk = 1),
      drp AS (SELECT DISTINCT b.id
              FROM cell a JOIN cell b ON a.cell = b.cell AND a.id < b.id
              WHERE list_dot_product(a.vv, b.vv)
                      / sqrt(list_dot_product(a.vv, a.vv)
                             * list_dot_product(b.vv, b.vv))
                    >= CAST(0.35 AS DOUBLE))
      SELECT id AS vec_id, CAST(cell AS BIGINT) AS cell
      FROM cell WHERE id NOT IN (SELECT id FROM drp)
      ORDER BY vec_id"""),
      bench = true) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.semanticDedup(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          threshold = 0.35)
        .select(col("id").as("vec_id"), col("cell"))
        .orderBy("vec_id")
    },

    // Per-node triangle counts (Graph.triangleCounts) over the co-order
    // supplier graph — the clustering-coefficient numerator community
    // detection and spam-farm analysis start from. Ordered triples a<b<c
    // count each triangle once and bound wedge fan-out; two equijoins plus
    // one aggregate, no adjacency collected.
    trianglesGate("x8_triangles", """pr AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
                  FROM lineitem a JOIN lineitem b
                    ON a.l_orderkey = b.l_orderkey
                   AND a.l_suppkey < b.l_suppkey)""", None),

    // Oracle-replayable triangle-count companion (same
    // Graph.triangleCounts code path): the FULL x8_triangles sf1 oracle
    // hits the same ~495M-wedge wall as x8_linkpred (OOM at 18GB,
    // temp-disk exhaustion at 60GB+spill) while the Spark side
    // bloom-prunes wedges in-pipeline — so the parent's 100x value
    // claim was asserted, not checked (r10 verdict, missing #2). Same
    // per-node counts on the l_suppkey % 4 subsample (~64x fewer
    // wedges), replayable by DuckDB at sf1.
    trianglesGate("x8_triangles_s4", s"""${liCte("l_suppkey", s4 = true)},
      pr AS (SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
             FROM li a JOIN li b
               ON a.l_orderkey = b.l_orderkey
              AND a.l_suppkey < b.l_suppkey)""",
      s4Sample("l_suppkey", s4 = true)),

    // Bounded k-core peeling (Graph.kCorePeel) on the co-purchase part
    // graph: three cascading degree-threshold rounds — the densest-
    // subgraph filter behind spam-farm pruning and community cores. Each
    // round is one degree aggregate + two semi joins on node id; the
    // oracle unrolls the identical rounds as CTEs.
    QueryDef("x8_kcore", Some(s"""${partE0Cte(s4 = false)}
      ${(1 to 3).map { r =>
        s"""d$r AS (SELECT n, count(*) AS c
             FROM (SELECT u AS n FROM e${r - 1}
                   UNION ALL SELECT v FROM e${r - 1}) GROUP BY n),
      k$r AS (SELECT n, c FROM d$r WHERE c >= 90),
      e$r AS (SELECT u, v FROM e${r - 1}
              WHERE u IN (SELECT n FROM k$r) AND v IN (SELECT n FROM k$r))"""
      }.mkString(",\n      ")}
      SELECT CAST(n AS BIGINT) AS id, CAST(c AS BIGINT) AS degree
      FROM k3 ORDER BY id""")) { (s, dir) =>
      val pairs = coOrderPairs(
        t(s, dir, "lineitem").select("l_orderkey", "l_partkey"), "l_partkey")
        .distinct()
      Graph.kCorePeel(pairs, k = 90L, rounds = 3).orderBy("id")
    },

    // Hashing-trick bag-of-words (TextOps.hashFeatures): tokens bucketed
    // by their first md5 nibble (16 buckets), counted per (doc, bucket) —
    // fixed-width sparse features with NO vocabulary table to build or
    // broadcast; bucketing is a pure codegen projection the oracle
    // replays verbatim.
    QueryDef("x5_hash_features", Some("""
      WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
      SELECT doc_id, substring(md5(tok), 1, 1) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM tk GROUP BY doc_id, bucket
      ORDER BY doc_id, bucket""")) { (s, dir) =>
      TextOps.hashFeatures(t(s, dir, "documents"), "doc_id", "text",
          hexDigits = 1)
        .orderBy("doc_id", "bucket")
    },

    // Multi-source BFS hop distance (Graph.bfsHops) over the co-order part
    // graph, bounded at 2 hops. The frontier form expands each node once
    // (anti join against the settled set); the oracle's recursive CTE
    // explores every path and min-aggregates after — same answer, but only
    // the frontier form survives a dense 100 TB graph.
    QueryDef("x8_bfs", Some(s"""
      WITH RECURSIVE pr AS (${coOrderSql("l_partkey")}),
      eg AS (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
      seeds AS (SELECT DISTINCT src AS id FROM eg WHERE src % 100 = 0),
      bfs(id, h) AS (
        SELECT id, 0 FROM seeds
        UNION ALL
        SELECT e.dst, b.h + 1 FROM bfs b JOIN eg e ON e.src = b.id
        WHERE b.h < 2)
      SELECT id, CAST(min(h) AS BIGINT) AS hop
      FROM bfs GROUP BY id ORDER BY id"""),
      bench = true) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_partkey")
      val edges = symmetric(pairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 100 === 0)
      Graph.bfsHops(edges, seeds, maxHops = 2).orderBy("id")
    },

    // Weighted shortest paths (Graph.ssspRounds) over a thinned co-order
    // part graph, 3 Bellman-Ford rounds with frontier pruning: only nodes
    // improved last round relax their edges, so round cost tracks the
    // frontier, not the graph. Weights derive from node ids (exact in
    // both engines); the oracle's recursive CTE enumerates every ≤3-edge
    // path and min-aggregates after — same bounded-hops answer, but only
    // the frontier form survives a dense 100 TB graph.
    QueryDef("x8_sssp", Some(s"""
      WITH RECURSIVE pr AS (${coOrderSql("l_partkey")}
        WHERE a.l_orderkey % 5 = 0),
      eg AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM pr
             UNION ALL SELECT dst, src, 1 + (src + dst) % 5 FROM pr),
      seeds AS (SELECT DISTINCT src AS id FROM eg WHERE src % 100 = 0),
      sp(id, d, h) AS (
        SELECT id, CAST(0 AS BIGINT), 0 FROM seeds
        UNION ALL
        SELECT e.dst, b.d + e.w, b.h + 1 FROM sp b JOIN eg e ON e.src = b.id
        WHERE b.h < 3)
      SELECT id, CAST(min(d) AS BIGINT) AS dist
      FROM sp GROUP BY id ORDER BY id"""),
      bench = true) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_partkey",
        Some(col("l_orderkey") % 5 === 0))
      val edges = symmetric(pairs)
        .withColumn("w", lit(1L) + (col("src") + col("dst")) % 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 100 === 0)
      Graph.ssspRounds(edges, seeds, rounds = 3).orderBy("id")
    },

    // Landmark closeness (Graph.landmarkHops/closenessFromLandmarks): k
    // landmark BFSs in ONE labeled sweep — the Eppstein-Wang sampled
    // estimator for closeness centrality, which is how closeness is
    // actually computed at scale (n full BFSs are off the table). Per
    // node: landmarks reaching it within 2 hops, exact hop sum, one IEEE
    // division. The oracle enumerates every <=2-hop path per landmark and
    // min-aggregates.
    QueryDef("x8_closeness", Some(s"""
      WITH RECURSIVE pr AS (${coOrderSql("l_partkey")}
        WHERE a.l_orderkey % 5 = 0),
      eg AS (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
      lms AS (SELECT DISTINCT src AS lm FROM eg WHERE src % 100 = 0),
      b(id, lm, h) AS (
        SELECT lm, lm, 0 FROM lms
        UNION ALL
        SELECT e.dst, b.lm, b.h + 1 FROM b JOIN eg e ON e.src = b.id
        WHERE b.h < 2),
      m AS (SELECT id, lm, min(h) AS h FROM b GROUP BY id, lm)
      SELECT id, CAST(count(*) AS BIGINT) AS n_lm,
        CAST(sum(h) AS BIGINT) AS dist_sum,
        CASE WHEN sum(h) > 0
             THEN CAST(count(*) AS DOUBLE) / CAST(sum(h) AS DOUBLE)
        END AS closeness
      FROM m GROUP BY id ORDER BY id""")) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_partkey",
        Some(col("l_orderkey") % 5 === 0))
      val edges = symmetric(pairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lms = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 100 === 0)
      Graph.closenessFromLandmarks(edges, lms, maxHops = 2).orderBy("id")
    },

    // Hash-driven walks (Graph.hashWalk): the DeepWalk corpus primitive
    // made exactly reproducible — at step t a walker moves to the
    // out-neighbor minimizing md5(salt:walker:t:neighbor); the hash plays
    // the RNG but the walk corpus is a pure function of (graph, seeds,
    // salt), regenerable byte-identically. Per step: one edge equijoin +
    // a WindowGroupLimit arg-min per walker. Oracle unrolls the three
    // steps as CTEs with the same hash arg-min.
    QueryDef("x8_walk", Some(s"""
      WITH pr AS (${coOrderSql("l_partkey")}
        WHERE a.l_orderkey % 5 = 0),
      eg AS (SELECT src, dst FROM pr UNION ALL SELECT dst, src FROM pr),
      s0 AS (SELECT DISTINCT src AS walker, src AS cur FROM eg
             WHERE src % 100 = 0),
      ${(1 to 3).map { t =>
        s"""n$t AS (SELECT s.walker, e.dst,
               row_number() OVER (PARTITION BY s.walker
                 ORDER BY md5(concat_ws(':', 'wk',
                   CAST(s.walker AS VARCHAR), '$t',
                   CAST(e.dst AS VARCHAR))), e.dst) AS rn
             FROM s${t - 1} s JOIN eg e ON e.src = s.cur),
      s$t AS (SELECT walker, dst AS cur FROM n$t WHERE rn = 1)"""
      }.mkString(",\n      ")}
      SELECT walker, step, node FROM (
        SELECT walker, 0 AS step, cur AS node FROM s0
        ${(1 to 3).map(t =>
          s"UNION ALL SELECT walker, $t, cur FROM s$t").mkString("\n        ")})
      ORDER BY walker, step""")) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_partkey",
        Some(col("l_orderkey") % 5 === 0))
      val edges = symmetric(pairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 100 === 0)
      Graph.hashWalk(edges, seeds, steps = 3, salt = "wk")
        .orderBy("walker", "step")
    },

    // Exact per-language heavy hitters (Stats.topKByCount): top-3 tokens
    // by frequency, ties totalized by token — one (lang, tok) aggregate
    // then WindowGroupLimit partial top-k; the exact companion to
    // sketch-based frequent items.
    QueryDef("x5_heavy_hitters", Some("""
      WITH tc AS (SELECT lang, tok, count(*) AS cnt
                  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
                        FROM documents)
                  GROUP BY lang, tok),
      r AS (SELECT lang, tok, cnt,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY cnt DESC, tok) AS rk
            FROM tc)
      SELECT lang, tok, CAST(cnt AS BIGINT) AS cnt, CAST(rk AS INT) AS rk
      FROM r WHERE rk <= 3 ORDER BY lang, rk""")) { (s, dir) =>
      val toks = spread(t(s, dir, "documents"))
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
      graft.operators.Stats.topKByCount(toks, Seq("lang"), "tok", k = 3)
        .orderBy("lang", "rk")
    },

    // Count-min sketch frequency estimates vs truth: md5-derived hash
    // rows make the sketch deterministic under any partitioning, so the
    // estimates (not just bounds) hash-gate. depth=3, 256 buckets/row;
    // the estimate is the min across rows and only ever over-counts.
    QueryDef("x5_cms", Some("""
      WITH tok AS (SELECT unnest(string_split(text,' ')) AS term
                   FROM documents),
      truec AS (SELECT term, CAST(count(*) AS BIGINT) AS true_cnt
                FROM tok GROUP BY 1),
      top AS (SELECT term, true_cnt FROM truec
              ORDER BY true_cnt DESC, term LIMIT 20),
      rws AS (SELECT unnest(range(0, 3)) AS r),
      sk AS (SELECT r,
               substr(md5(concat('cms', CAST(r AS VARCHAR), ':', term)),
                      1, 2) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
             FROM tok, rws GROUP BY 1, 2),
      q AS (SELECT t.term, t.true_cnt, r.r,
              substr(md5(concat('cms', CAST(r.r AS VARCHAR), ':', t.term)),
                     1, 2) AS bucket
            FROM top t, rws r),
      est AS (SELECT term, true_cnt, min(cnt) AS est
              FROM q JOIN sk USING (r, bucket) GROUP BY 1, 2)
      SELECT term, true_cnt, est FROM est
      ORDER BY true_cnt DESC, term""")) { (s, dir) =>
      import graft.operators.Stats
      val tok = spread(t(s, dir, "documents"))
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      val top = tok.groupBy("term").agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("term")).limit(20)
      val sk = Stats.countMinSketch(tok, "term", depth = 3, hexDigits = 2)
      Stats.countMinEstimate(sk, top.select("term"), "term",
          depth = 3, hexDigits = 2)
        .join(top, "term")
        .select(col("term"), col("true_cnt"), col("est"))
        .orderBy(col("true_cnt").desc, col("term"))
    },

    // AMS F2 sketch vs truth: five ±1-signed counters estimate the
    // second frequency moment (self-join size) of the token stream;
    // signed long sums are order-free, so the estimate (median of Z_r²)
    // hash-gates exactly alongside the true Σf².
    QueryDef("x5_ams", Some("""
      WITH tok AS (SELECT unnest(string_split(text,' ')) AS term
                   FROM documents),
      truec AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2_true
                FROM (SELECT count(*) AS c FROM tok GROUP BY term)),
      rws AS (SELECT unnest(range(0, 5)) AS r),
      z AS (SELECT r, CAST(sum(CASE WHEN substr(md5(concat('ams',
                     CAST(r AS VARCHAR), ':', term)), 1, 1) < '8'
                   THEN 1 ELSE -1 END) AS BIGINT) AS z
            FROM tok, rws GROUP BY r),
      est AS (SELECT list_sort(list(z * z))[3] AS f2_est FROM z)
      SELECT f2_true, f2_est FROM truec, est""")) { (s, dir) =>
      import graft.operators.Stats
      val tok = spread(t(s, dir, "documents"))
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      val truec = tok.groupBy("term").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("f2_true"))
      val est = Stats.amsSketch(tok, "term", depth = 5)
        .agg(element_at(sort_array(collect_list(col("z") * col("z"))), 3)
          .as("f2_est"))
      truec.crossJoin(est)
    },

    // One BPE training round: globally most frequent adjacent pair
    // (smallest-pair ties), merged corpus-wide by a greedy
    // non-overlapping left-to-right replace — identical scanner
    // semantics in both engines, so the merged text hash-gates.
    QueryDef("x5_bpe_merge", Some("""
      WITH sh AS (
        SELECT array_to_string(toks[i:i+1],' ') AS pair
        FROM (SELECT string_split(text,' ') AS toks FROM documents) dd,
             LATERAL (SELECT unnest(range(1, greatest(len(dd.toks),1))) AS i) ii),
      best AS (SELECT pair, replace(pair, ' ', '_') AS merged
               FROM (SELECT pair, count(*) AS c FROM sh GROUP BY 1)
               ORDER BY c DESC, pair LIMIT 1)
      SELECT doc_id, pair AS best_pair,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_before,
             CAST(len(string_split(replace(text, pair, merged), ' '))
               AS BIGINT) AS n_after
      FROM documents, best ORDER BY doc_id LIMIT 100""")) { (s, dir) =>
      TextOps.bpeMergeRound(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("best_pair"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_before"),
          size(TextOps.tokens(col("text_merged"))).cast("long")
            .as("n_after"))
        .orderBy("doc_id").limit(100)
    },

    // BPE vocabulary LEARNING (TextOps.bpeLearnVocab): the merge round
    // iterated 4 times — each round's global argmax pair (smallest-pair
    // ties) merged corpus-wide by literal codegen replace before the
    // next round counts bigrams over the merged text. The oracle unrolls
    // the identical recurrence; the ranked merge table (rank, pair,
    // merged, freq) hash-gates.
    QueryDef("x5_bpe_vocab", Some(s"""
      WITH t0 AS (SELECT doc_id, text FROM documents),
      ${bpeRounds(r => s"""CAST($r AS BIGINT) AS rank, pair,
                     replace(pair, ' ', '_') AS merged,
                     CAST(c AS BIGINT) AS freq""", "doc_id,")}
      SELECT rank, pair, merged, freq FROM (
        SELECT * FROM b1 UNION ALL SELECT * FROM b2
        UNION ALL SELECT * FROM b3 UNION ALL SELECT * FROM b4)
      ORDER BY rank""")) { (s, dir) =>
      TextOps.bpeLearnVocab(t(s, dir, "documents"), "doc_id", "text",
          rounds = 4)
        .orderBy("rank")
    },

    // BPE ENCODE (TextOps.bpeEncode): the learned 4-round merge table
    // applied in rank order to the corpus — train-then-tokenize, the
    // inference half of x5_bpe_vocab. The oracle unrolls the identical
    // recurrence and reads the final merged corpus t4; raw vs encoded
    // token counts hash-gate the compression the vocab bought.
    QueryDef("x5_bpe_encode", Some(s"""
      WITH t0 AS (SELECT doc_id, text FROM documents),
      ${bpeRounds(bpeMerge, "doc_id,")}
      SELECT t0.doc_id, t4.text AS text_encoded,
             CAST(len(string_split(t0.text, ' ')) AS BIGINT) AS n_tokens_raw,
             CAST(len(string_split(t4.text, ' ')) AS BIGINT)
               AS n_tokens_encoded
      FROM t0 JOIN t4 ON t0.doc_id = t4.doc_id
      ORDER BY t0.doc_id LIMIT 100""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextOps.bpeEncode(docs, "text", bpeVocab(docs))
        .select(col("doc_id"), col("text_encoded"), col("n_tokens_raw"),
          col("n_tokens_encoded"))
        .orderBy("doc_id").limit(100)
    },

    // Tokenizer fertility (per-language BPE compression): the learned
    // 4-round merge table applied corpus-wide, then tokens-per-word by
    // language — the multilingual "does the tokenizer serve every
    // language equally" diagnostic (a language with poor compression
    // pays more sequence length per word). Reuses the x5_bpe_encode
    // recurrence; one IEEE division per language.
    QueryDef("x5_bpe_fertility", Some(s"""
      WITH t0 AS (SELECT doc_id, lang, text FROM documents),
      ${bpeRounds(bpeMerge, "doc_id, lang,")}
      SELECT t0.lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(t0.text, ' '))) AS BIGINT)
               AS sum_raw,
             CAST(sum(len(string_split(t4.text, ' '))) AS BIGINT)
               AS sum_enc,
             CAST(sum(len(string_split(t4.text, ' '))) AS DOUBLE)
               / CAST(sum(len(string_split(t0.text, ' '))) AS DOUBLE)
               AS compression
      FROM t0 JOIN t4 ON t0.doc_id = t4.doc_id
      GROUP BY t0.lang ORDER BY t0.lang""")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextOps.bpeEncode(docs, "text", bpeVocab(docs))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens_raw").as("sum_raw"),
          sum("n_tokens_encoded").as("sum_enc"))
        .withColumn("compression",
          col("sum_enc").cast("double") / col("sum_raw").cast("double"))
        .orderBy("lang")
    },

    // Per-nation min-max feature scaling (Stats.minMaxScale): one window
    // exchange computes (min, max); the scaling is a pure IEEE projection
    // the oracle replays verbatim — the normalization pass before any
    // distance-based model.
    QueryDef("x9_minmax", Some("""
      SELECT c_custkey,
             CASE WHEN hi = lo THEN CAST(0 AS DOUBLE)
                  ELSE (c_acctbal - lo) / (hi - lo) END AS scaled
      FROM (SELECT c_custkey, c_acctbal,
              min(c_acctbal) OVER (PARTITION BY c_nationkey) AS lo,
              max(c_acctbal) OVER (PARTITION BY c_nationkey) AS hi
            FROM customer)
      ORDER BY c_custkey""")) { (s, dir) =>
      graft.operators.Stats.minMaxScale(t(s, dir, "customer"),
          Seq("c_nationkey"), "c_acctbal")
        .select(col("c_custkey"), col("scaled"))
        .orderBy("c_custkey")
    },

    // Grouped top-k via the native bounded-heap aggregate (TopKAgg /
    // Stats.groupedTopK): the 3 longest docs per language, smallest-id
    // tiebreak. Partial heaps merge map-side, so at most k·|groups| values
    // per partition reach the exchange — no partition sort, no full-data
    // window shuffle. The oracle is the equivalent row_number form.
    QueryDef("x9_group_topk", Some("""
      SELECT lang, rnk, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars,
               CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
        FROM documents) WHERE rnk <= 3 ORDER BY lang, rnk""")) { (s, dir) =>
      val d = t(s, dir, "documents")
        .withColumn("tv", struct((-col("n_chars")).as("nn"), col("doc_id")))
      graft.operators.Stats.groupedTopK(d, Seq("lang"), col("tv"), k = 3)
        .select(col("lang"), col("rnk"), col("v.doc_id").as("doc_id"),
          (-col("v.nn")).as("n_chars"))
        .orderBy("lang", "rnk")
    },

    // Predicted join size (Stats.joinSizeEstimate): |events ⋈ orders| on
    // the customer key from the two per-key histograms — Σ c_A(k)·c_B(k)
    // exactly, plus the hottest key's share (the salting trigger). The
    // diagnostic costs two histogram scans, never the join it predicts;
    // argmax key resolves inside the one aggregate via min(struct).
    QueryDef("x9_join_size", Some("""
      WITH hl AS (SELECT user_id AS k, count(*) AS cl
                  FROM events GROUP BY 1),
      hr AS (SELECT o_custkey AS k, count(*) AS cr FROM orders GROUP BY 1),
      c AS (SELECT k, cl * cr AS r FROM hl JOIN hr USING (k))
      SELECT n_keys, est_rows, top_key, top_rows,
             CAST(top_rows AS DOUBLE) / CAST(est_rows AS DOUBLE) AS top_frac
      FROM (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(r) AS BIGINT) AS est_rows FROM c),
           (SELECT k AS top_key, CAST(r AS BIGINT) AS top_rows
            FROM c ORDER BY r DESC, k LIMIT 1)""")) { (s, dir) =>
      graft.operators.Stats.joinSizeEstimate(
        t(s, dir, "events"), "user_id", t(s, dir, "orders"), "o_custkey")
    },

    // Gini skew diagnostic over the per-user event distribution — the
    // pre-join check that decides plain shuffle vs salting vs AQE skew
    // join. Sorted-rank identity in exact integers; the statistic is one
    // IEEE division, so the value itself gates.
    QueryDef("x9_skew", Some("""
      WITH h AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
      r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS i FROM h),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(c) AS BIGINT) AS total,
                   CAST(sum(i * c) AS BIGINT) AS ic FROM r)
      SELECT n_keys, total,
             CAST(ic * 2 - (n_keys + 1) * total AS BIGINT) AS gini_num,
             CAST(ic * 2 - (n_keys + 1) * total AS DOUBLE)
               / CAST(n_keys * total AS DOUBLE) AS gini
      FROM a""")) { (s, dir) =>
      graft.operators.Stats.giniSkew(t(s, dir, "events"), Seq("user_id"))
    },

    // k-anonymity audit (Stats.kAnonymize) over customer quasi-identifiers
    // (nation, market segment), k=12, two-level generalization ladder:
    // level 2 = cell releasable as-is, 1 = only the nation stratum reaches
    // k, 0 = suppress. One aggregate to the cell histogram; the stratum
    // window runs on cells, not rows — all integers, the decision gates.
    QueryDef("x9_kanon", Some("""
      WITH g AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
                        count(*) AS n
                 FROM customer GROUP BY 1, 2),
      w AS (SELECT nat, seg, n, sum(n) OVER (PARTITION BY nat) AS n1 FROM g)
      SELECT CAST(nat AS BIGINT) AS nat, seg, CAST(n AS BIGINT) AS n,
             CAST(n1 AS BIGINT) AS n_stratum,
             CAST(CASE WHEN n >= 12 THEN 2 WHEN n1 >= 12 THEN 1 ELSE 0 END
                  AS INT) AS level
      FROM w ORDER BY nat, seg""")) { (s, dir) =>
      graft.operators.Stats.kAnonymize(
          t(s, dir, "customer").select(col("c_nationkey").as("nat"),
            col("c_mktsegment").as("seg")),
          "nat", "seg", k = 12L)
        .orderBy("nat", "seg")
    },

    // One-pass column profiling (Stats.profile): null/distinct/min/max per
    // column from a SINGLE scan (multi-distinct plans one Expand), the
    // wide row unpivoted by a stack projection — the oracle's per-column
    // UNION ALL re-scans instead, which is exactly the plan shape the
    // operator exists to avoid at 100 TB.
    QueryDef("x9_profile", Some("""
      SELECT 'o_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count(o_custkey) AS BIGINT) AS n_null,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
             CAST(min(o_custkey) AS VARCHAR) AS min_s,
             CAST(max(o_custkey) AS VARCHAR) AS max_s
      FROM orders
      UNION ALL
      SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(o_orderdate) AS BIGINT),
             CAST(count(DISTINCT o_orderdate) AS BIGINT),
             CAST(min(o_orderdate) AS VARCHAR),
             CAST(max(o_orderdate) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(o_orderstatus) AS BIGINT),
             CAST(count(DISTINCT o_orderstatus) AS BIGINT),
             CAST(min(o_orderstatus) AS VARCHAR),
             CAST(max(o_orderstatus) AS VARCHAR)
      FROM orders
      ORDER BY col_name""")) { (s, dir) =>
      graft.operators.Stats.profile(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderdate", "o_orderstatus"))
        .orderBy("col_name")
    },

    // Exact distributed Gram matrix (Similarity.gramMatrix + the native
    // VecSumAgg TypedImperativeAggregate): 16-dim upper triangle over
    // fixed-point-gridded embeddings. One scan, zero data shuffles — only
    // one 136-long buffer moves per partition; the oracle's explode +
    // GROUP BY pos shuffles rows×136 cells, exactly the plan the custom
    // aggregate exists to avoid. Integer arithmetic end to end, so a
    // normally ungateable linear-algebra reduction hash-matches.
    QueryDef("x3_gram", Some("""
      WITH g AS (SELECT list_transform(embedding[1:16],
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
                   AS v
                 FROM embeddings),
      idx AS (SELECT unnest(range(0, 16)) AS i),
      p AS (SELECT i.i AS i, j.j AS j, g.v[i.i + 1] * g.v[j.j + 1] AS prod
            FROM g, idx i,
                 LATERAL (SELECT unnest(range(i.i, 16)) AS j) j)
      SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
             CAST(sum(prod) AS BIGINT) AS s
      FROM p GROUP BY i, j ORDER BY i, j""")) { (s, dir) =>
      Similarity.gramMatrix(
          t(s, dir, "embeddings")
            .select(slice(col("embedding"), 1, 16).as("v")),
          "v", d = 16, scale = 1e6)
        .orderBy("i", "j")
    },

    // Association rules over order baskets (Stats.assocPairs): pairwise
    // support / confidence / lift, minSupport=2, top-50 by lift. The pair
    // space is generated per basket (cost Σ|basket|², never all-items²);
    // conf and lift are single divisions of exact integers, so the scores
    // themselves hash-gate — lift being exp(PMI), this is the engine's
    // co-occurrence-strength surface without a cross-engine log.
    // Order-independent dataset fingerprint (Integrity.fingerprint): md5
    // per canonically-rendered row, two disjoint 15-hex-digit slices
    // summed as DECIMAL(38,0) — commutative, so the checksum is invariant
    // to partitioning/row order/engine, the "did the 100 TB copy arrive
    // intact" one-row handshake. Oracle replays the digest arithmetic
    // with DuckDB's hex-cast. Gate output renders the wide-decimal sums
    // as STRINGS (SURVEY §5.2 output-type contract: DECIMAL(p>18) gate
    // columns trip the driver's hash canonicalization); the operator
    // keeps exact DECIMAL(38,0) internals.
    QueryDef("x10_checksum", Some("""
      WITH d AS (SELECT md5(concat_ws('|',
          coalesce(CAST(doc_id AS VARCHAR), chr(1)),
          coalesce(lang, chr(1)),
          coalesce(text, chr(1)))) AS h FROM documents)
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(CAST('0x'||substr(h,1,15) AS BIGINT) AS HUGEINT))
          AS VARCHAR) AS ck_lo,
        CAST(sum(CAST(CAST('0x'||substr(h,17,15) AS BIGINT) AS HUGEINT))
          AS VARCHAR) AS ck_hi
      FROM d"""), bench = true) { (s, dir) =>
      Integrity.fingerprint(t(s, dir, "documents"),
          Seq("doc_id", "lang", "text"))
        .select(col("n"), col("ck_lo").cast("string").as("ck_lo"),
          col("ck_hi").cast("string").as("ck_hi"))
    },

    // Per-group fingerprints (Integrity.fingerprintBy): bisect WHERE two
    // copies diverge without re-reading matching groups.
    QueryDef("x10_checksum_by", Some("""
      WITH d AS (SELECT lang, md5(concat_ws('|',
          coalesce(CAST(doc_id AS VARCHAR), chr(1)),
          coalesce(text, chr(1)))) AS h FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(CAST('0x'||substr(h,1,15) AS BIGINT) AS HUGEINT))
          AS VARCHAR) AS ck_lo,
        CAST(sum(CAST(CAST('0x'||substr(h,17,15) AS BIGINT) AS HUGEINT))
          AS VARCHAR) AS ck_hi
      FROM d GROUP BY lang ORDER BY lang""")) { (s, dir) =>
      Integrity.fingerprintBy(t(s, dir, "documents"),
          Seq("lang"), Seq("doc_id", "text"))
        .select(col("lang"), col("n"),
          col("ck_lo").cast("string").as("ck_lo"),
          col("ck_hi").cast("string").as("ck_hi"))
        .orderBy("lang")
    },

    QueryDef("x10_assoc", Some("""
      WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                  FROM lineitem),
      nb AS (SELECT count(DISTINCT bk) AS n FROM it),
      ic AS (SELECT it, count(*) AS c FROM it GROUP BY 1),
      p AS (SELECT x.it AS a, y.it AS b, count(*) AS n_ab
            FROM it x JOIN it y ON x.bk = y.bk AND x.it < y.it
            GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
             CAST(ca.c AS BIGINT) AS n_a, CAST(cb.c AS BIGINT) AS n_b,
             CAST(n_ab AS DOUBLE) / CAST(ca.c AS DOUBLE) AS conf,
             CAST(nb.n * n_ab AS DOUBLE)
               / CAST(ca.c * cb.c AS DOUBLE) AS lift
      FROM p JOIN ic ca ON p.a = ca.it JOIN ic cb ON p.b = cb.it, nb
      ORDER BY lift DESC, a, b LIMIT 50""")) { (s, dir) =>
      graft.operators.Stats.assocPairs(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minSupport = 2L)
        .orderBy(col("lift").desc, col("a"), col("b")).limit(50)
    },

    // Classifier calibration (reliability bins): the x5_qmodel quality
    // score binned to integer buckets, observed positive rate per bin —
    // the eval pass that decides whether a quality filter's scores mean
    // anything. Counts are exact; the rate is one integer division. No
    // score sums (double→decimal casts are not engine-portable), so the
    // whole diagram gates.
    QueryDef("x9_calibration", Some(s"""
      WITH scored AS (
        SELECT CAST(floor($qualityScoreSql) AS BIGINT)
          AS bin,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents)
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_pos
      FROM scored GROUP BY bin ORDER BY bin""")) { (s, dir) =>
      spread(t(s, dir, "documents"))
        .select(floor(qualityScore(col("text"))).cast("long").as("bin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
        .select(col("bin"), col("n"), col("n_pos"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("frac_pos"))
        .orderBy("bin")
    },

    // Padding-waste diagnostic: per language, fixed-size batches of 16
    // docs under two composition orders — hash (random) vs length-sorted
    // — and the padding each implies when batches pad to their longest
    // member. The integer arithmetic (waste = n·max − Σlen per batch)
    // gates exactly, and the length-sorted column quantifies what
    // x6_pack-style length grouping saves. Batching windows run per
    // language — the composer shards, never a global sort.
    QueryDef("x6_padding", Some("""
      WITH t AS (SELECT doc_id, lang,
                   CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
                 FROM documents),
      b AS (SELECT lang, n_tok,
              (row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) // 16
                AS rb,
              (row_number() OVER (PARTITION BY lang
                 ORDER BY n_tok, doc_id) - 1) // 16 AS lb
            FROM t),
      rw AS (SELECT lang, rb, count(*) * max(n_tok) - sum(n_tok) AS pad,
               sum(n_tok) AS tok FROM b GROUP BY lang, rb),
      lw AS (SELECT lang, lb, count(*) * max(n_tok) - sum(n_tok) AS pad
             FROM b GROUP BY lang, lb),
      ra AS (SELECT lang, sum(pad) AS rand_pad, sum(tok) AS tok FROM rw
             GROUP BY lang),
      la AS (SELECT lang, sum(pad) AS sorted_pad FROM lw GROUP BY lang)
      SELECT ra.lang, CAST(tok AS BIGINT) AS n_tok,
             CAST(rand_pad AS BIGINT) AS rand_pad,
             CAST(sorted_pad AS BIGINT) AS sorted_pad,
             CAST(rand_pad AS DOUBLE) / CAST(rand_pad + tok AS DOUBLE)
               AS rand_pad_frac,
             CAST(sorted_pad AS DOUBLE) / CAST(sorted_pad + tok AS DOUBLE)
               AS sorted_pad_frac
      FROM ra JOIN la ON ra.lang = la.lang ORDER BY ra.lang""")) { (s, dir) =>
      val B = 16
      val t0 = spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      val wr = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val wl = Window.partitionBy("lang").orderBy("n_tok", "doc_id")
      val b = t0
        .withColumn("rb", ((row_number().over(wr) - 1) / B).cast("long"))
        .withColumn("lb", ((row_number().over(wl) - 1) / B).cast("long"))
      val rw = b.groupBy("lang", "rb")
        .agg((count(lit(1)) * max("n_tok") - sum("n_tok")).as("pad"),
          sum("n_tok").as("tok"))
      val lw = b.groupBy("lang", "lb")
        .agg((count(lit(1)) * max("n_tok") - sum("n_tok")).as("pad"))
      val ra = rw.groupBy("lang")
        .agg(sum("pad").as("rand_pad"), sum("tok").as("tok"))
      val la = lw.groupBy("lang").agg(sum("pad").as("sorted_pad"))
      ra.join(la, "lang")
        .select(col("lang"), col("tok").as("n_tok"),
          col("rand_pad"), col("sorted_pad"),
          (col("rand_pad").cast("double")
            / (col("rand_pad") + col("tok")).cast("double"))
            .as("rand_pad_frac"),
          (col("sorted_pad").cast("double")
            / (col("sorted_pad") + col("tok")).cast("double"))
            .as("sorted_pad_frac"))
        .orderBy("lang")
    },

    // Corpus concentration (Pareto curve head): sources ranked by doc
    // count, cumulative share of the corpus — "how much of my training
    // set is the top-k domains", the diagnostic behind source-mixing
    // decisions. Shares are exact-integer divisions; the ranked window
    // runs on the source histogram, not the data.
    QueryDef("x9_pareto", Some("""
      WITH h AS (SELECT source, count(*) AS c FROM documents
                 GROUP BY source),
      tot AS (SELECT sum(c) AS n FROM h),
      r AS (SELECT source, c,
              row_number() OVER (ORDER BY c DESC, source) AS rk,
              sum(c) OVER (ORDER BY c DESC, source
                           ROWS UNBOUNDED PRECEDING) AS cum
            FROM h)
      SELECT CAST(rk AS INT) AS rk, source, CAST(c AS BIGINT) AS c,
             CAST(cum AS BIGINT) AS cum,
             CAST(cum AS DOUBLE) / CAST(n AS DOUBLE) AS cum_share
      FROM r, tot ORDER BY rk LIMIT 10""")) { (s, dir) =>
      val h = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("c").desc, col("source"))
      val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("rk", row_number().over(w))
        .withColumn("cum", sum("c").over(wc))
        .crossJoin(broadcast(h.agg(sum("c").as("n"))))
        .select(col("rk"), col("source"), col("c"), col("cum"),
          (col("cum").cast("double") / col("n").cast("double"))
            .as("cum_share"))
        .orderBy("rk").limit(10)
    },

    // Exact 2-D skyline (Stats.skyline): documents Pareto-optimal on
    // (length, lexical richness) — no other doc is ≥ on both with > on
    // one. Dominance resolved against the per-length histogram's
    // strict-prefix running max (distinct-x-sized window), never an
    // all-pairs test; integer dims, so the front itself hash-gates.
    QueryDef("x9_skyline", Some("""
      WITH d AS (SELECT doc_id, n_chars,
               CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)
                 AS n_uniq
             FROM documents),
      px AS (SELECT n_chars, max(n_uniq) AS my FROM d GROUP BY n_chars),
      f AS (SELECT n_chars, my,
              max(my) OVER (ORDER BY n_chars DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gt
            FROM px)
      SELECT doc_id, d.n_chars, n_uniq
      FROM d JOIN f ON d.n_chars = f.n_chars
      WHERE n_uniq = my AND (gt IS NULL OR gt < n_uniq)
      ORDER BY doc_id""")) { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(array_distinct(TextOps.tokens(col("text"))))
            .cast("long").as("n_uniq"))
      graft.operators.Stats.skyline(d, "n_chars", "n_uniq")
        .select("doc_id", "n_chars", "n_uniq")
        .orderBy("doc_id")
    },

    // Exact ROC-AUC of the quality model as an is-English classifier
    // (Stats.aucOnGrid): scores quantized to a 1e-2 grid, AUC with the
    // standard tie correction — exact integer numerator, one final
    // division, cumulative window on the grid-sized histogram. The rank
    // metric that normally can't hash-gate, gating.
    QueryDef("x9_auc", Some(s"""
      WITH scored AS (
        SELECT CAST(floor(100.0 * ($qualityScoreSql)) AS BIGINT)
          AS bin,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents),
      hist AS (SELECT bin, sum(pos) AS np, sum(1 - pos) AS nn
               FROM scored GROUP BY bin),
      cum AS (SELECT bin, np, nn,
                sum(nn) OVER (ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) - nn AS nn_below
              FROM hist)
      SELECT CAST(sum(np) AS BIGINT) AS n_pos,
             CAST(sum(nn) AS BIGINT) AS n_neg,
             CAST(sum(2 * nn_below * np + nn * np) AS BIGINT) AS auc_num,
             CAST(sum(2 * nn_below * np + nn * np) AS DOUBLE)
               / CAST(2 * sum(np) * sum(nn) AS DOUBLE) AS auc
      FROM cum""")) { (s, dir) =>
      val score = qualityScore(col("text"))
      graft.operators.Stats.aucOnGrid(
        spread(t(s, dir, "documents")).select(
          floor(lit(100.0) * score).cast("long").as("bin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos")),
        "bin", "pos")
    },

    // Per-class precision / recall / F1 from the language-ID confusion
    // matrix (x5_langid's counts) — the classifier-eval reduction. All
    // three class tables are |classes|-sized; precision and recall are
    // single exact-integer divisions, F1 one fixed-shape expression over
    // them — identical IEEE evaluation in both engines.
    QueryDef("x9_prf", Some(s"""$langIdPredCte,
      act AS (SELECT lang, count(*) AS act_n FROM pred GROUP BY 1),
      prd AS (SELECT predicted, count(*) AS pred_n FROM pred GROUP BY 1),
      tp AS (SELECT lang, count(*) AS tp FROM pred
             WHERE lang = predicted GROUP BY 1),
      m AS (SELECT a.lang, coalesce(t.tp, 0) AS tp, a.act_n,
                   coalesce(p.pred_n, 0) AS pred_n
            FROM act a LEFT JOIN tp t ON a.lang = t.lang
                       LEFT JOIN prd p ON a.lang = p.predicted),
      pr AS (SELECT lang, CAST(tp AS BIGINT) AS tp,
               CAST(act_n AS BIGINT) AS act_n,
               CAST(pred_n AS BIGINT) AS pred_n,
               CASE WHEN pred_n = 0 THEN CAST(0 AS DOUBLE)
                 ELSE CAST(tp AS DOUBLE) / CAST(pred_n AS DOUBLE) END AS p,
               CAST(tp AS DOUBLE) / CAST(act_n AS DOUBLE) AS r
             FROM m)
      SELECT lang, tp, act_n, pred_n, p AS precision_, r AS recall_,
             CASE WHEN p + r = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
                  ELSE 2 * p * r / (p + r) END AS f1
      FROM pr ORDER BY lang""")) { (s, dir) =>
      val pred = langIdPred(s, dir)
      val act = pred.groupBy("lang").agg(count(lit(1)).as("act_n"))
      val prd = pred.groupBy("predicted").agg(count(lit(1)).as("pred_n"))
      val tp = pred.filter(col("lang") === col("predicted"))
        .groupBy("lang").agg(count(lit(1)).as("tp"))
      val p = col("p"); val r = col("r")
      act
        .join(tp, Seq("lang"), "left_outer")
        .join(prd.withColumnRenamed("predicted", "lang"), Seq("lang"),
          "left_outer")
        .select(col("lang"), coalesce(col("tp"), lit(0L)).as("tp"),
          col("act_n"), coalesce(col("pred_n"), lit(0L)).as("pred_n"))
        .withColumn("p", when(col("pred_n") === 0, lit(0.0))
          .otherwise(col("tp").cast("double") / col("pred_n").cast("double")))
        .withColumn("r", col("tp").cast("double") / col("act_n").cast("double"))
        .select(col("lang"), col("tp"), col("act_n"), col("pred_n"),
          p.as("precision_"), r.as("recall_"),
          when(p + r === 0.0, lit(0.0))
            .otherwise(lit(2) * p * r / (p + r)).as("f1"))
        .orderBy("lang")
    },

    // Per-day two-sample KS drift (Stats.ksTwoSample): view-vs-purchase
    // value distributions compared by exact ECDFs — ties absorbed at each
    // distinct value, every ECDF point an exact-integer division, so the
    // statistic itself gates. The cumulative window runs on the per-day
    // distinct-value table, partitioned by day — the numeric companion to
    // x5_drift's token χ².
    QueryDef("x9_ks", Some("""
      WITH d AS (
        SELECT CAST(ts AS DATE) AS d, value AS x,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        FROM events WHERE event_type IN ('view', 'purchase')),
      cnt AS (SELECT d, x, sum(1 - b) AS ca, sum(b) AS cb
              FROM d GROUP BY d, x),
      cum AS (SELECT d, x, ca, cb,
                sum(ca) OVER (PARTITION BY d ORDER BY x
                              ROWS UNBOUNDED PRECEDING) AS cca,
                sum(cb) OVER (PARTITION BY d ORDER BY x
                              ROWS UNBOUNDED PRECEDING) AS ccb
              FROM cnt),
      tot AS (SELECT d, sum(ca) AS n_a, sum(cb) AS n_b FROM cnt
              GROUP BY d HAVING sum(ca) > 0 AND sum(cb) > 0)
      SELECT cum.d, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             max(abs(CAST(cca AS DOUBLE) / CAST(n_a AS DOUBLE)
                     - CAST(ccb AS DOUBLE) / CAST(n_b AS DOUBLE))) AS ks
      FROM cum JOIN tot ON cum.d = tot.d
      GROUP BY cum.d, n_a, n_b ORDER BY cum.d""")) { (s, dir) =>
      graft.operators.Stats.ksTwoSample(
          t(s, dir, "events")
            .filter(col("event_type").isin("view", "purchase"))
            .select(col("ts").cast("date").as("d"), col("value"),
              col("event_type")),
          Seq("d"), "value", col("event_type") === "purchase")
        .orderBy("d")
    },

    // Group-aware (leakage-safe) train/val/test split: membership is a
    // pure function of the GROUP key (source), so all documents of a
    // source land in one split — the contamination guarantee per-row
    // splits (x7_split) can't give. Same md5-prefix assignment, shuffle-
    // free; the gate's (split, n_sources, n_docs) audit proves both the
    // split sizes and that no source straddles splits.
    QueryDef("x7_group_split", Some("""
      WITH s AS (
        SELECT source, doc_id,
          CASE WHEN substr(md5(source),1,2) < 'e6' THEN 'train'
               WHEN substr(md5(source),1,2) < 'f3' THEN 'val'
               ELSE 'test' END AS split
        FROM documents)
      SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM s GROUP BY split ORDER BY split""")) { (s, dir) =>
      t(s, dir, "documents")
        .withColumn("split", Sample.hashSplit("source",
          Seq("e6" -> "train", "f3" -> "val"), "test"))
        .groupBy("split")
        .agg(countDistinct("source").as("n_sources"),
          count(lit(1)).as("n_docs"))
        .orderBy("split")
    },

    // Tukey-fence outlier counts per event type (Stats.iqrOutliers):
    // quartiles are exact order statistics under a total order — every
    // bound is a real data value, so the whole fence computation is
    // engine-portable; k = 1.0 (exactly representable) tightens the
    // fences enough to exercise both tails on this distribution.
    QueryDef("x9_outliers", Some("""
      WITH r AS (SELECT event_type, value, event_id,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
                 FROM events),
      q AS (SELECT event_type, value,
              max(CASE WHEN rn = ceil(n * 0.25) THEN value END)
                OVER (PARTITION BY event_type) AS q1,
              max(CASE WHEN rn = ceil(n * 0.75) THEN value END)
                OVER (PARTITION BY event_type) AS q3
            FROM r)
      SELECT event_type, CAST(q1 AS DOUBLE) AS q1, CAST(q3 AS DOUBLE) AS q3,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value < q1 - (q3 - q1) * 1.0
                             OR value > q3 + (q3 - q1) * 1.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_out
      FROM q GROUP BY event_type, q1, q3
      ORDER BY event_type""")) { (s, dir) =>
      graft.operators.Stats.iqrOutliers(t(s, dir, "events"),
          Seq("event_type"), "value", "event_id", k = 1.0)
        .groupBy("event_type", "q1", "q3")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_out"))
        .select(col("event_type"), col("q1"), col("q3"), col("n"),
          col("n_out"))
        .orderBy("event_type")
    },

    // Robust (median/IQR) scaling per nation (Stats.robustScale): exact
    // rank-based quartiles under a total order, then one subtract + one
    // divide — the outlier-immune normalizer, engine-portable because
    // every bound is a real data value.
    QueryDef("x9_robust_scale", Some("""
      WITH r AS (SELECT c_custkey, c_nationkey, c_acctbal,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal, c_custkey) AS rn,
                   count(*) OVER (PARTITION BY c_nationkey) AS n
                 FROM customer),
      q AS (SELECT c_custkey, c_acctbal,
              max(CASE WHEN rn = ceil(n * 0.5) THEN c_acctbal END)
                OVER (PARTITION BY c_nationkey) AS med,
              max(CASE WHEN rn = ceil(n * 0.25) THEN c_acctbal END)
                OVER (PARTITION BY c_nationkey) AS q1,
              max(CASE WHEN rn = ceil(n * 0.75) THEN c_acctbal END)
                OVER (PARTITION BY c_nationkey) AS q3
            FROM r)
      SELECT c_custkey, CASE WHEN q3 = q1 THEN CAST(0 AS DOUBLE)
                             ELSE (c_acctbal - med) / (q3 - q1) END AS scaled
      FROM q ORDER BY c_custkey""")) { (s, dir) =>
      graft.operators.Stats.robustScale(t(s, dir, "customer"),
          Seq("c_nationkey"), "c_acctbal", "c_custkey")
        .select(col("c_custkey"), col("scaled"))
        .orderBy("c_custkey")
    },

    // Smoothed target encoding (Stats.targetEncode): rare categories
    // shrink toward the global prior — sums decimal-exact, the blend a
    // three-op IEEE expression mirrored verbatim in the oracle; the
    // global mean is a one-row broadcast.
    QueryDef("x9_target_encode", Some("""
      WITH g AS (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                             AS DOUBLE) / CAST(count(*) AS DOUBLE) AS gm
                 FROM orders),
      c AS (SELECT o_orderpriority, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                        AS DOUBLE) AS s
            FROM orders GROUP BY o_orderpriority)
      SELECT c.o_orderpriority, CAST(c.n AS BIGINT) AS n,
             (c.s + CAST(10 AS DOUBLE) * g.gm)
               / (CAST(c.n AS DOUBLE) + CAST(10 AS DOUBLE)) AS te
      FROM c, g ORDER BY o_orderpriority""")) { (s, dir) =>
      graft.operators.Stats.targetEncode(t(s, dir, "orders"),
          "o_orderpriority", "o_totalprice", m = 10.0)
        .orderBy("o_orderpriority")
    },

    // Equal-frequency binning (Stats.quantileBins): per-flag price
    // quartiles via ntile under a total order — bucket membership is
    // standard-SQL deterministic, so per-bin counts and extrema gate
    // exactly; the sort parallelizes across groups.
    QueryDef("x9_qbins", Some("""
      WITH b AS (SELECT l_returnflag,
                   ntile(4) OVER (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                     AS bin,
                   l_extendedprice AS v
                 FROM lineitem)
      SELECT l_returnflag, CAST(bin AS INT) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi
      FROM b GROUP BY l_returnflag, bin
      ORDER BY l_returnflag, bin""")) { (s, dir) =>
      graft.operators.Stats.quantileBins(t(s, dir, "lineitem"),
          Seq("l_returnflag"), "l_extendedprice",
          Seq("l_orderkey", "l_linenumber"), n = 4)
        .groupBy(col("l_returnflag"), col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        .orderBy("l_returnflag", "bin")
    },

    // Deterministic label indexing (Stats.stringIndex): lexicographic
    // vocabulary indices built over the DISTINCT set only (the global
    // sort touches |V| rows, not the corpus), then broadcast-joined back
    // for per-label counts.
    QueryDef("x9_stringindex", Some("""
      WITH m AS (SELECT p_brand,
                   CAST(row_number() OVER (ORDER BY p_brand) - 1 AS BIGINT)
                     AS idx
                 FROM (SELECT DISTINCT p_brand FROM part)),
      j AS (SELECT m.idx, m.p_brand FROM part p
            JOIN m ON m.p_brand = p.p_brand)
      SELECT p_brand, idx, CAST(count(*) AS BIGINT) AS n
      FROM j GROUP BY p_brand, idx ORDER BY idx""")) { (s, dir) =>
      val part = t(s, dir, "part")
      val mapping = graft.operators.Stats.stringIndex(part, "p_brand")
      part.select(col("p_brand").as("pb"))
        .join(broadcast(mapping), col("pb") === mapping("p_brand"))
        .groupBy("p_brand", "idx")
        .agg(count(lit(1)).as("n"))
        .orderBy("idx")
    },

    // Link prediction (Graph.linkPredict) on the part co-purchase graph:
    // non-adjacent part pairs ranked by common neighbors, with the
    // resource-allocation index in exact scaled-integer form
    // (sum of 1e9 div deg(z) — floor division, so the normally
    // FP-order-fragile RA score hash-gates) and preferential attachment.
    // The oracle replays wedge enumeration relationally.
    //
    // minCommon calibration: expected common-neighbor count for a random
    // pair is ~d̄²/n (avg degree is ~117 at BOTH gate SFs while n grows
    // 10x, so the signal band CONTRACTS with scale — measured non-adjacent
    // max cn: 31 at sf0.01, 11 at sf0.1). 10 sits inside the band at both
    // gate SFs (322k rows at sf0.01, 16 at sf0.1), so the 10x oracle
    // sweep carries non-empty evidence; a production corpus re-derives
    // the cut from its own d̄²/n.
    linkPredGate("x8_linkpred", s4 = false, minCommon = 10),

    // Oracle-replayable link-prediction companion (same
    // Graph.linkPredict code path): the FULL x8_linkpred sf1 oracle
    // pins >18GB enumerating ~495M wedges (then >49GB of temp disk when
    // allowed to spill), so the parent had no sf1 value evidence (r10
    // verdict, missing #2). Same scoring on the l_partkey % 4 subsample
    // (~64x fewer wedges). minCommon recalibration: node subsampling at
    // 1/4 keeps ~1/4 of each pair's common neighbors, and the signal
    // band contracts with scale like the parent's (measured non-adjacent
    // max cn on the subgraph: 10 at sf0.01, 5 at sf0.1) — 3 keeps the
    // sweep non-empty at all three gate scales (28186 rows at sf0.01,
    // 12207 at sf0.1, measured in DuckDB).
    linkPredGate("x8_linkpred_s4", s4 = true, minCommon = 3),

    // Exact lag-1 autocorrelation per event type (Stats.autocorrInt):
    // the n²-scaled identity clears the FP mean out of the textbook
    // estimator — every sum is an exact integer product over the 1e4
    // value grid, one IEEE division at the end, so the seasonality/memory
    // statistic itself hash-gates.
    QueryDef("ts8_autocorr", Some("""
      WITH g AS (
        SELECT event_type,
               CAST(floor(value * 10000) AS BIGINT) AS x,
               lead(CAST(floor(value * 10000) AS BIGINT), 1) OVER (
                 PARTITION BY event_type ORDER BY ts, event_id) AS y
        FROM events),
      a AS (
        SELECT event_type, count(*) AS n,
               sum(CAST(x AS HUGEINT)) AS s,
               sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
               sum(CASE WHEN y IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sh,
               sum(CAST(y AS HUGEINT)) AS st,
               sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
        FROM g GROUP BY 1)
      SELECT event_type, CAST(n AS BIGINT) AS n,
        CASE WHEN (CAST(n AS HUGEINT) * n * sxx - n * s * s) > 0 AND n > 1
          THEN CAST(CAST(n AS HUGEINT) * n * sxy - n * s * (sh + st)
                    + (n - 1) * s * s AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * n * sxx - n * s * s AS DOUBLE)
        END AS acf
      FROM a ORDER BY event_type""")) { (s, dir) =>
      graft.operators.Stats.autocorrInt(t(s, dir, "events"),
          Seq("event_type"), Seq("ts", "event_id"), "value",
          lag = 1, grid = 10000L)
        .orderBy("event_type")
    },

    // Lag-1 cross-correlation (Stats.crossCorrInt) between hourly view
    // and purchase volumes — does this hour's browsing predict next
    // hour's buying? Pearson over exact integer pair sums, one
    // fixed-shape IEEE expression; the two-series sibling of
    // ts8_autocorr.
    QueryDef("ts11_crosscorr", Some("""
      WITH h AS (SELECT date_trunc('hour', ts) AS hr,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
                 FROM events GROUP BY 1),
      p AS (SELECT x, lead(y, 1) OVER (ORDER BY hr) AS y FROM h),
      a AS (SELECT count(*) AS n,
              sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
              sum(CAST(x AS HUGEINT) * x) AS sxx,
              sum(CAST(y AS HUGEINT) * y) AS syy,
              sum(CAST(x AS HUGEINT) * y) AS sxy
            FROM p WHERE y IS NOT NULL)
      SELECT CAST(n AS BIGINT) AS n_pairs,
        CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
          CAST(n * sxy - sx * sy AS DOUBLE)
          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        END AS xcf
      FROM a ORDER BY n_pairs""")) { (s, dir) =>
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      graft.operators.Stats.crossCorrInt(hourly, Seq.empty, Seq("hr"),
          "x", "y", lag = 1, grid = 1L)
        .orderBy("n_pairs")
    },

    // Mann–Kendall trend test (Stats.mannKendall): is each event type's
    // hourly volume monotonically trending — exact-integer S over all
    // ordered bucket pairs, tie-corrected var18 exact, continuity-
    // corrected z as one division + sqrt. Companion to ts12: CUSUM finds
    // WHERE a level shifted, MK decides WHETHER there is a trend at all.
    QueryDef("ts13_mannkendall", Some("""
      WITH d AS (SELECT event_type AS g,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS t,
               CAST(count(*) AS BIGINT) AS v
             FROM events GROUP BY 1, 2),
      p AS (SELECT a.g,
              CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1
                   ELSE 0 END AS sgn
            FROM d a JOIN d b ON a.g = b.g AND a.t < b.t),
      s AS (SELECT g, sum(sgn) AS s FROM p GROUP BY g),
      ti AS (SELECT g,
               sum(CAST(tc AS HUGEINT) * (tc - 1) * (2 * tc + 5)) AS t25
             FROM (SELECT g, v, count(*) AS tc FROM d GROUP BY g, v)
             GROUP BY g),
      nn AS (SELECT g, count(*) AS n FROM d GROUP BY g),
      r AS (SELECT nn.g, nn.n, coalesce(s.s, 0) AS s,
              CAST(nn.n AS HUGEINT) * (nn.n - 1) * (2 * nn.n + 5) - ti.t25
                AS var18
            FROM nn LEFT JOIN s ON nn.g = s.g JOIN ti ON nn.g = ti.g)
      SELECT g AS event_type, CAST(n AS BIGINT) AS n,
             CAST(s AS BIGINT) AS s, CAST(var18 AS BIGINT) AS var18,
             CASE WHEN var18 > 0 THEN
               CAST(s - (CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1
                              ELSE 0 END) AS DOUBLE)
                 / sqrt(CAST(var18 AS DOUBLE) / 18.0)
             END AS z
      FROM r ORDER BY event_type""")) { (s, dir) =>
      val series = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour_s"))
        .agg(count(lit(1)).as("v"))
      graft.operators.Stats.mannKendall(series, "event_type", "hour_s", "v")
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")
    },

    // Theil–Sen robust slope (Stats.theilSen): HOW FAST each event
    // type's hourly volume trends — median of pairwise bucket slopes by
    // pure rank selection under a total order, (lo+hi)/2 as one fixed
    // add/divide. ts13 detects the trend, this sizes it, outliers can't
    // move it.
    QueryDef("ts14_theilsen", Some("""
      WITH d AS (SELECT event_type AS g,
                   epoch_ms(ts) // 3600000 AS t,
                   CAST(count(*) AS BIGINT) AS v
                 FROM events GROUP BY 1, 2),
      sl AS (SELECT a.g, a.t AS t1, b.t AS t2,
               CAST(b.v - a.v AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS sl
             FROM d a JOIN d b ON a.g = b.g AND a.t < b.t),
      r AS (SELECT g, sl,
              row_number() OVER (PARTITION BY g ORDER BY sl, t1, t2) AS rn,
              count(*) OVER (PARTITION BY g) AS k
            FROM sl),
      med AS (SELECT g, CAST(max(k) AS BIGINT) AS n_pairs,
                (min(sl) + max(sl)) / 2.0 AS slope
              FROM r
              WHERE rn = (k + 1) // 2 OR rn = k // 2 + 1
              GROUP BY g)
      SELECT d.g AS event_type, coalesce(med.n_pairs, 0) AS n_pairs,
             med.slope AS slope
      FROM (SELECT DISTINCT g FROM d) d LEFT JOIN med ON d.g = med.g
      ORDER BY event_type""")) { (s, dir) =>
      val series = t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(unix_millis(col("ts")) / lit(3600000L)).cast("long")
            .as("hour_t"))
        .agg(count(lit(1)).as("v"))
      graft.operators.Stats.theilSen(series, "event_type", "hour_t", "v")
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")
    },

    // CUSUM mean-shift changepoint (Stats.cusumChangepoint): WHERE each
    // event type's value stream shifted level — argmax_t |N·S_t − t·S_N|
    // on the integer grid, every compared value exact, earliest-t
    // tiebreak, one IEEE division in the report.
    QueryDef("ts12_changepoint", Some("""
      WITH g AS (SELECT event_type,
                   CAST(floor(value * 10000) AS BIGINT) AS x,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY ts, event_id) AS t
                 FROM events),
      c AS (SELECT event_type, t,
              sum(CAST(x AS HUGEINT)) OVER (PARTITION BY event_type
                ORDER BY t) AS st,
              count(*) OVER (PARTITION BY event_type) AS n,
              sum(CAST(x AS HUGEINT)) OVER (PARTITION BY event_type) AS sn
            FROM g),
      d AS (SELECT event_type, t, n, abs(sn) AS asn,
              abs(CAST(n AS HUGEINT) * st - CAST(t AS HUGEINT) * sn) AS dev,
              row_number() OVER (PARTITION BY event_type
                ORDER BY abs(CAST(n AS HUGEINT) * st
                             - CAST(t AS HUGEINT) * sn) DESC, t) AS rk
            FROM c)
      SELECT event_type, CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS t_star,
        CASE WHEN asn > 0
          THEN CAST(dev AS DOUBLE) / CAST(CAST(n AS HUGEINT) * asn AS DOUBLE)
          ELSE 0.0 END AS dev
      FROM d WHERE rk = 1 ORDER BY event_type""")) { (s, dir) =>
      graft.operators.Stats.cusumChangepoint(t(s, dir, "events"),
          Seq("event_type"), Seq("ts", "event_id"), "value", grid = 10000L)
        .orderBy("event_type")
    },

    // Cohen's kappa (Stats.cohenKappa): chance-corrected agreement of the
    // n-gram language-ID heuristic against the gold lang column — kappa
    // is rational in the confusion counts ((n·a − Σrow·col)/(n² −
    // Σrow·col)), so the single-division statistic hash-gates where an
    // FP-accumulated version would not.
    QueryDef("x9_kappa", Some(s"""$langIdPredCte,
      cells AS (SELECT lang AS la, predicted AS lb, count(*) AS c
                FROM pred GROUP BY 1, 2),
      tot AS (SELECT sum(c) AS n FROM cells),
      ag AS (SELECT coalesce(sum(c), 0) AS agree FROM cells WHERE la = lb),
      ch AS (SELECT coalesce(sum(ca * cb), 0) AS chance_num FROM
               (SELECT la, sum(c) AS ca FROM cells GROUP BY 1) a
               JOIN (SELECT lb, sum(c) AS cb FROM cells GROUP BY 1) b
                 ON a.la = b.lb)
      SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
             CAST(CAST(chance_num AS HUGEINT) AS VARCHAR) AS chance_num,
             CASE WHEN n * n <> chance_num
               THEN CAST(n * agree - chance_num AS DOUBLE)
                  / CAST(n * n - chance_num AS DOUBLE) END AS kappa
      FROM tot, ag, ch ORDER BY n""")) { (s, dir) =>
      val pred = langIdPred(s, dir)
      // chance_num (marginal product sum) stays DECIMAL(38,0) inside the
      // operator — it overflows BIGINT past ~3e9 rows — but the GATE
      // renders it as a string (SURVEY §5.2 output-type contract).
      graft.operators.Stats.cohenKappa(pred, "lang", "predicted")
        .withColumn("chance_num", col("chance_num").cast("string"))
        .orderBy("n")
    },

    // Sorted-neighborhood near-dup blocking (Dedup.sortedNeighborhoodPairs)
    // — the merge/purge family next to the inverted index and MinHash
    // banding: sort each language block by a 24-char text prefix, pair
    // rows within 8 sorted positions, verify exact 3-gram Jaccard on the
    // candidates. Candidate volume is O(n·window) by construction — no
    // posting-list skew can blow it up.
    QueryDef("x2_sorted_nbr", Some(s"""
      WITH $shCte,$snmCandCte,
      j AS (SELECT c.da, c.db,
              CAST(i.ni AS DOUBLE) / (ca.n_sh + cb.n_sh - i.ni) AS jacc
            FROM cand c JOIN inter i ON i.da = c.da AND i.db = c.db
            JOIN cnt ca ON ca.doc_id = c.da
            JOIN cnt cb ON cb.doc_id = c.db)
      SELECT da, db, jacc FROM j WHERE jacc >= 0.6 ORDER BY da, db""")) {
      (s, dir) =>
      Dedup.sortedNeighborhoodPairs(t(s, dir, "documents"),
          "doc_id", "text", "lang",
          window = 8, keyLen = 24, n = 3, threshold = 0.6)
        .orderBy("da", "db")
    },

    // Heaps-law vocabulary growth (TextOps.vocabGrowth): per language,
    // cumulative tokens read vs distinct tokens seen at 10 equal-document
    // checkpoints — V(N) ≈ K·N^β, the curve that sizes tokenizer vocabs
    // and exposes templated corpora. Cumulative-distinct via per-token
    // first-occurrence positions, never a running collect_set.
    QueryDef("x5_heaps", Some("""
      WITH perdoc AS (SELECT lang AS blk, doc_id AS id,
                        len(string_split(text, ' ')) AS n_tok
                      FROM documents),
      sliced AS (SELECT blk, id, n_tok,
                   ntile(10) OVER (PARTITION BY blk ORDER BY id) AS slice
                 FROM perdoc),
      da AS (SELECT blk, slice, count(*) AS d, sum(n_tok) AS tk
             FROM sliced GROUP BY 1, 2),
      dc AS (SELECT blk, slice,
               CAST(sum(d) OVER (PARTITION BY blk ORDER BY slice) AS BIGINT)
                 AS cum_docs,
               CAST(sum(tk) OVER (PARTITION BY blk ORDER BY slice) AS BIGINT)
                 AS cum_tokens
             FROM da),
      fo AS (SELECT blk, tok, min(id) AS id FROM
               (SELECT lang AS blk, doc_id AS id,
                  unnest(string_split(text, ' ')) AS tok FROM documents)
             GROUP BY 1, 2),
      nv AS (SELECT s.blk, s.slice, count(*) AS nw
             FROM fo JOIN sliced s ON s.blk = fo.blk AND s.id = fo.id
             GROUP BY 1, 2)
      SELECT dc.blk, CAST(dc.slice AS BIGINT) AS slice, dc.cum_docs,
             dc.cum_tokens,
             CAST(sum(coalesce(nv.nw, 0)) OVER (
               PARTITION BY dc.blk ORDER BY dc.slice) AS BIGINT) AS vocab
      FROM dc LEFT JOIN nv ON nv.blk = dc.blk AND nv.slice = dc.slice
      ORDER BY dc.blk, dc.slice""")) { (s, dir) =>
      TextOps.vocabGrowth(spread(t(s, dir, "documents")),
          "doc_id", "text", "lang", slices = 10)
        .withColumn("slice", col("slice").cast("long"))
        .select("blk", "slice", "cum_docs", "cum_tokens", "vocab")
        .orderBy("blk", "slice")
    },

    // WebDataset-style shard layout (Multimodal.shardAssign): per source,
    // shard boundaries at every 8 KiB of the concatenated payload stream
    // (exclusive-cumsum div target — byte-offset semantics, so the
    // assignment is a pure function of (group, order, sizes) and shard
    // layouts reproduce across runs). Gate aggregates the per-shard
    // manifest a training loader would consume.
    QueryDef("x4_shard", Some("""
      WITH b AS (SELECT source, doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
                 FROM documents),
      a AS (SELECT source, doc_id, n_bytes,
              (sum(n_bytes) OVER (PARTITION BY source ORDER BY doc_id)
               - n_bytes) // 8192 AS shard
            FROM b)
      SELECT source, CAST(shard AS BIGINT) AS shard,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
             CAST(min(doc_id) AS BIGINT) AS first_id,
             CAST(max(doc_id) AS BIGINT) AS last_id
      FROM a GROUP BY source, shard ORDER BY source, shard""")) { (s, dir) =>
      Multimodal.shardAssign(spread(t(s, dir, "documents")),
          "doc_id", length(encode(col("text"), "UTF-8")),
          "source", targetBytes = 8192L)
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_items"),
          sum("n_bytes").as("shard_bytes"),
          min("doc_id").as("first_id"), max("doc_id").as("last_id"))
        .orderBy("source", "shard")
    },

    // Contingency residuals (Stats.contingencyResiduals) over language ×
    // source: which cells are over/under-represented vs independence.
    // The global chi-square is an FP-order-fragile sum of per-cell
    // rationals, so the gate pins the cell-level exact integers (n·O −
    // row·col) and the Pearson standardized residual — one division +
    // one sqrt on exact integers, bit-identical cross-engine.
    QueryDef("x9_residuals", Some("""
      WITH cells AS (SELECT lang AS a, source AS b, count(*) AS observed
                     FROM documents GROUP BY 1, 2),
      r AS (SELECT a, sum(observed) AS row_tot FROM cells GROUP BY 1),
      c AS (SELECT b, sum(observed) AS col_tot FROM cells GROUP BY 1),
      n AS (SELECT sum(observed) AS n FROM cells)
      SELECT cells.a, cells.b, CAST(observed AS BIGINT) AS observed,
             CAST(row_tot AS BIGINT) AS row_tot,
             CAST(col_tot AS BIGINT) AS col_tot,
             CAST(n * observed - row_tot * col_tot AS BIGINT) AS dev_num,
             CAST(n * observed - row_tot * col_tot AS DOUBLE)
               / sqrt(CAST(n * row_tot * col_tot AS DOUBLE)) AS resid
      FROM cells JOIN r USING (a) JOIN c USING (b), n
      ORDER BY a, b""")) { (s, dir) =>
      graft.operators.Stats.contingencyResiduals(
          t(s, dir, "documents"), "lang", "source")
        .withColumn("dev_num", col("dev_num").cast("long"))
        .orderBy("a", "b")
    },

    // Radius similarity search (Similarity.radiusIvf): everything within
    // cosine >= 0.3 of each query through the IVF probe path — cell
    // assignment is a zero-exchange projection, candidates equijoin on
    // cell, the threshold is a codegen residual; no ranking shuffle
    // exists. The oracle replays the same 8-cell / nprobe=2 probe, so
    // the gate pins the IVF recall contract, not brute force.
    QueryDef("x3_radius", Some(s"""$ivfProbeCte
      SELECT qid, nid,
             list_dot_product(qv, cv2)
               / sqrt(list_dot_product(qv, qv) * list_dot_product(cv2, cv2))
               AS sim
      FROM q JOIN c USING (cell)
      WHERE list_dot_product(qv, cv2)
              / sqrt(list_dot_product(qv, qv) * list_dot_product(cv2, cv2))
            >= 0.3
      ORDER BY qid, nid""")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.radiusIvf(
          e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
          "vec_id", "embedding",
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          tau = 0.3, nprobe = 2)
        .orderBy("qid", "nid")
    },

    // Batch perceptron (Stats.perceptronRounds): two training rounds of
    // an is-it-English linear classifier over 16 md5-bucket token-count
    // features. Integer counts + ±1 labels make every margin and weight
    // an exact long, so the TRAINED WEIGHTS hash-gate — reproducible
    // distributed training no FP gradient method can promise. The
    // oracle unrolls both rounds as CTEs.
    QueryDef("x9_perceptron", Some("""
      WITH f AS (SELECT doc_id AS doc, substring(md5(tok), 1, 1) AS bucket,
                   count(*) AS cnt
                 FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                       FROM documents) GROUP BY 1, 2),
      lb AS (SELECT doc_id AS doc,
               CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
             FROM documents),
      fy AS (SELECT f.doc, bucket, cnt, y FROM f JOIN lb USING (doc)),
      w1 AS (SELECT bucket, CAST(sum(y * cnt) AS BIGINT) AS w
             FROM fy GROUP BY 1),
      m2 AS (SELECT fy.doc, fy.y, sum(fy.cnt * w1.w) AS m
             FROM fy JOIN w1 USING (bucket) GROUP BY 1, 2),
      mis2 AS (SELECT doc FROM m2 WHERE y * m <= 0),
      w2 AS (SELECT w1.bucket,
               CAST(w1.w + coalesce(d.dw, 0) AS BIGINT) AS w
             FROM w1 LEFT JOIN
               (SELECT bucket, sum(y * cnt) AS dw FROM fy
                WHERE doc IN (SELECT doc FROM mis2) GROUP BY 1) d
               USING (bucket))
      SELECT CAST(1 AS BIGINT) AS rnd, bucket, w FROM w1
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS rnd, bucket, w FROM w2
      ORDER BY rnd, bucket""")) { (s, dir) =>
      val docs = spread(t(s, dir, "documents"))
      val feats = TextOps.hashFeatures(docs, "doc_id", "text", hexDigits = 1)
      val labels = docs.select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
      graft.operators.Stats.perceptronRounds(feats, "doc_id", "bucket",
          "cnt", labels, "y", rounds = 2)
        .orderBy("rnd", "bucket")
    },

    // Modularity of the label-propagation communities (Graph.modularityInt
    // over x8_labelprop's partition): Q is rational in edge counts —
    // Σ_c(4·m·e_c − d_c²) / (4m²) — so the community-quality score itself
    // hash-gates. The oracle replays two LPA rounds then the exact sum.
    QueryDef("x8_modularity", Some(s"""$labelPropCte,
      lp AS (SELECT p.src, p.dst, a.label AS ls, b.label AS ld
             FROM pr p JOIN l2 a ON a.id = p.src
                       JOIN l2 b ON b.id = p.dst),
      ec AS (SELECT ls AS label, count(*) AS ec FROM lp
             WHERE ls = ld GROUP BY 1),
      dc AS (SELECT label, count(*) AS dcnt FROM (
               SELECT ls AS label FROM lp
               UNION ALL SELECT ld AS label FROM lp) GROUP BY 1),
      mm AS (SELECT count(*) AS m FROM lp),
      tm AS (SELECT dc.label,
               CAST(4 AS HUGEINT) * m * coalesce(ec.ec, 0)
                 - CAST(dc.dcnt AS HUGEINT) * dc.dcnt AS t, m
             FROM dc LEFT JOIN ec USING (label), mm)
      SELECT CAST(m AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS n_comm,
             CAST(sum(t) AS DOUBLE)
               / CAST(4 * CAST(m AS HUGEINT) * m AS DOUBLE) AS q
      FROM tm GROUP BY m ORDER BY m""")) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_suppkey")
      val edges = symmetric(pairs)
      val labels = graft.operators.Graph.labelPropagate(edges, rounds = 2)
      graft.operators.Graph.modularityInt(pairs, labels).orderBy("m")
    },

    // Seasonal-naive forecast skill (TimeSeries.maseNaive): per event
    // type, MAE of the lag-7 forecast scaled by the lag-1 naive baseline
    // — exact integer error sums on the 1e4 grid, cross-multiplied to
    // one division, both lags on one window exchange.
    QueryDef("ts9_mase", Some("""
      WITH g AS (
        SELECT event_type,
               CAST(floor(value * 10000) AS BIGINT) AS x,
               lag(CAST(floor(value * 10000) AS BIGINT), 7) OVER (
                 PARTITION BY event_type ORDER BY ts, event_id) AS xs,
               lag(CAST(floor(value * 10000) AS BIGINT), 1) OVER (
                 PARTITION BY event_type ORDER BY ts, event_id) AS x1
        FROM events),
      a AS (
        SELECT event_type, count(*) AS n,
               sum(abs(x - xs)) AS err_s, count(xs) AS ns,
               sum(abs(x - x1)) AS err_1, count(x1) AS n1
        FROM g GROUP BY 1)
      SELECT event_type, CAST(n AS BIGINT) AS n,
             CAST(err_s AS BIGINT) AS err_s, CAST(err_1 AS BIGINT) AS err_1,
             CASE WHEN err_1 > 0 AND ns > 0
               THEN CAST(CAST(err_s AS HUGEINT) * n1 AS DOUBLE)
                  / CAST(CAST(err_1 AS HUGEINT) * ns AS DOUBLE) END AS mase
      FROM a ORDER BY event_type""")) { (s, dir) =>
      graft.operators.TimeSeries.maseNaive(t(s, dir, "events"),
          Seq("event_type"), Seq("ts", "event_id"), "value",
          season = 7, grid = 10000L)
        .orderBy("event_type")
    },

    // Seasonal index (TimeSeries.seasonalIndex): per-event-type
    // day-of-week multiplicative profile — slot mean over overall mean
    // as exact DECIMAL(38,0) cross-products and one IEEE division, the
    // seasonality a forecast/anomaly baseline removes first.
    QueryDef("ts10_seasonal", Some("""
      WITH g AS (SELECT event_type,
                   CAST(dayofweek(ts) + 1 AS BIGINT) AS slot,
                   CAST(floor(value * 10000) AS HUGEINT) AS x
                 FROM events),
      bs AS (SELECT event_type, slot, count(*) AS cnt, sum(x) AS s
             FROM g GROUP BY 1, 2),
      bk AS (SELECT event_type, sum(cnt) AS tot_n, sum(s) AS tot_s
             FROM bs GROUP BY 1)
      SELECT event_type, slot, CAST(cnt AS BIGINT) AS cnt,
             CASE WHEN CAST(cnt AS HUGEINT) * tot_s <> 0
               THEN CAST(s * tot_n AS DOUBLE)
                  / CAST(CAST(cnt AS HUGEINT) * tot_s AS DOUBLE) END AS idx
      FROM bs JOIN bk USING (event_type)
      ORDER BY event_type, slot""")) { (s, dir) =>
      graft.operators.TimeSeries.seasonalIndex(t(s, dir, "events"),
          Seq("event_type"), dayofweek(col("ts")).cast("long"),
          "value", grid = 10000L)
        .orderBy("event_type", "slot")
    },

    // Per-community conductance (Graph.communityStats) of the
    // nation-of-supplier partition over the co-purchase graph: node
    // count, internal edges, volume, cut and φ = cut/min(vol, 2m−vol)
    // per community — cut and the min are exact integers, one division
    // ends it, so the whole structure report hash-gates.
    QueryDef("x8_conductance", Some(s"""
      WITH pr AS (${coOrderSql("l_suppkey")}),
      lb AS (SELECT s_suppkey AS id, CAST(s_nationkey AS BIGINT) AS label
             FROM supplier),
      lp AS (SELECT la.label AS ls, bb.label AS ld
             FROM pr JOIN lb la ON la.id = pr.src
                     JOIN lb bb ON bb.id = pr.dst),
      mm AS (SELECT count(*) AS m FROM lp),
      nodes AS (SELECT src AS id FROM pr UNION SELECT dst FROM pr),
      nn AS (SELECT label, count(*) AS n_nodes
             FROM nodes JOIN lb USING (id) GROUP BY 1),
      ec AS (SELECT ls AS label, count(*) AS e_in FROM lp
             WHERE ls = ld GROUP BY 1),
      dc AS (SELECT label, count(*) AS vol FROM (
               SELECT ls AS label FROM lp
               UNION ALL SELECT ld AS label FROM lp) GROUP BY 1)
      SELECT nn.label, CAST(nn.n_nodes AS BIGINT) AS n_nodes,
             CAST(coalesce(ec.e_in, 0) AS BIGINT) AS e_in,
             CAST(dc.vol AS BIGINT) AS vol,
             CAST(dc.vol - 2 * coalesce(ec.e_in, 0) AS BIGINT) AS cut,
             CASE WHEN least(dc.vol, 2 * m - dc.vol) > 0
               THEN CAST(dc.vol - 2 * coalesce(ec.e_in, 0) AS DOUBLE)
                  / CAST(least(dc.vol, 2 * m - dc.vol) AS DOUBLE) END AS phi
      FROM nn JOIN dc USING (label) LEFT JOIN ec USING (label), mm
      ORDER BY label""")) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_suppkey")
      val labels = t(s, dir, "supplier")
        .select(col("s_suppkey").as("id"),
          col("s_nationkey").cast("long").as("label"))
      graft.operators.Graph.communityStats(pairs, labels).orderBy("label")
    },

    // Histogram-resolution quantiles (Stats.histQuantiles): p50/p90 at
    // 1/100 lattice resolution — the deterministic scale path where
    // approx_percentile's sketch is engine-specific (x5_approx_pctl can
    // only rows-only gate) and q6's exact rank sort is data-sized. The
    // cumulative window runs over distinct lattice values per key, never
    // the data; error is bounded by the lattice spacing by construction.
    QueryDef("x9_hist_pctl", Some("""
      WITH h AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS g,
                   count(*) AS c
                 FROM events GROUP BY 1, 2),
      cw AS (SELECT event_type, g,
               sum(c) OVER (PARTITION BY event_type ORDER BY g
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n
             FROM h)
      SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN g END) AS DOUBLE)
               / 100 AS p50,
             CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN g END)
               AS DOUBLE) / 100 AS p90
      FROM cw GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      graft.operators.Stats.histQuantiles(t(s, dir, "events"),
          Seq("event_type"), "value", grid = 100L)
        .orderBy("event_type")
    },

    // Measured SNM recall (Dedup.snmRecall): of all exact Jaccard >= 0.6
    // pairs, the fraction the window-8 sorted-neighborhood pass surfaces
    // — the number that prices the window before a corpus run, the SNM
    // counterpart of x2_lsh_recall (precision is 1 by construction: SNM
    // verifies candidates with the same exact arithmetic).
    QueryDef("x2_snm_recall", Some(s"""
      WITH $shCte,
      tr AS (SELECT i.da, i.db FROM inter i
             JOIN cnt ca ON ca.doc_id = i.da
             JOIN cnt cb ON cb.doc_id = i.db
             WHERE CAST(i.ni AS DOUBLE) / (ca.n_sh + cb.n_sh - i.ni) >= 0.6),$snmCandCte,
      fo AS (SELECT c.da, c.db FROM cand c JOIN tr USING (da, db))
      SELECT CAST(t.n AS BIGINT) AS n_truth, CAST(f.n AS BIGINT) AS n_found,
             CASE WHEN t.n > 0
               THEN CAST(f.n AS DOUBLE) / CAST(t.n AS DOUBLE) END AS recall
      FROM (SELECT count(*) AS n FROM tr) t,
           (SELECT count(*) AS n FROM fo) f
      ORDER BY n_truth""")) { (s, dir) =>
      Dedup.snmRecall(t(s, dir, "documents"), "doc_id", "text", "lang",
          window = 8, keyLen = 24, n = 3, threshold = 0.6)
        .orderBy("n_truth")
    },

    // Welch's two-sample t per day (Stats.welchT): view vs purchase value
    // distributions — the parametric A/B-test next to x9_ks. Each group
    // reduces to exact (n, Σx, Σx²) on the grid; t is ONE fixed-shape
    // IEEE expression over single divisions of exact integers, so the
    // statistic hash-gates.
    QueryDef("x9_ttest", Some(s"""
      WITH g AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
                   CAST(floor(value * 10000) AS BIGINT) AS x
                 FROM events WHERE event_type IN ('view', 'purchase')),
      a AS (SELECT d,$viewPurchaseMoments
      SELECT d, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        CASE WHEN n1 > 1 AND n2 > 1
               AND (n1 * ss1 - s1 * s1 > 0 OR n2 * ss2 - s2 * s2 > 0)
          THEN (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             / sqrt(CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
                      / CAST(n1 * (n1 - 1) AS DOUBLE) / CAST(n1 AS DOUBLE)
                  + CAST(n2 * ss2 - s2 * s2 AS DOUBLE)
                      / CAST(n2 * (n2 - 1) AS DOUBLE) / CAST(n2 AS DOUBLE))
        END AS t
      FROM a ORDER BY d""")) { (s, dir) =>
      graft.operators.Stats.welchT(
          t(s, dir, "events").withColumn("d", to_date(col("ts"))),
          Seq("d"), "event_type", "view", "purchase", "value",
          grid = 10000L)
        .orderBy("d")
    },

    // Brown–Forsythe variance homogeneity (Stats.brownForsythe): do the
    // event types have equal value SPREAD — the precondition for pooled-
    // variance stats and the dispersion-drift detector a mean-based t
    // test cannot see. Doubled-median trick keeps every deviation an
    // exact integer; per-group rational terms land on the 1e-6 lattice.
    QueryDef("x9_brownforsythe", Some("""
      WITH base AS (SELECT event_type AS g,
                      CAST(floor(value * 10000) AS BIGINT) AS v
                    FROM events),
      h AS (SELECT g, v, count(*) AS c FROM base GROUP BY 1, 2),
      cw AS (SELECT g, v, c,
               sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
               sum(c) OVER (PARTITION BY g) AS ng
             FROM h),
      med AS (SELECT g,
                min(CASE WHEN cum >= (ng + 1) // 2 THEN v END) AS vlo,
                min(CASE WHEN cum >= ng // 2 + 1 THEN v END) AS vhi
              FROM cw GROUP BY g),
      z AS (SELECT h.g, h.c, abs(2 * h.v - (vlo + vhi)) AS z
            FROM h JOIN med ON h.g = med.g),
      pg AS (SELECT g, sum(c) AS ng,
               sum(CAST(c AS HUGEINT) * z) AS s,
               sum(CAST(c AS HUGEINT) * z * z) AS q
             FROM z GROUP BY g),
      pg2 AS (SELECT g, ng, s, q,
                (s * s * 1000000) // CAST(ng AS HUGEINT) AS b6,
                ((CAST(ng AS HUGEINT) * q - s * s) * 1000000)
                  // CAST(ng AS HUGEINT) AS d6
              FROM pg),
      t AS (SELECT sum(ng) AS n, count(*) AS k, sum(s) AS stot,
              sum(b6) AS b6, sum(d6) AS d6
            FROM pg2)
      SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        CASE WHEN k > 1 AND n > k AND d6 > 0 THEN
          (CAST(n - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))
          * (CAST(b6 AS DOUBLE) / 1e6
             - CAST(stot * stot AS DOUBLE) / CAST(n AS DOUBLE))
          / (CAST(d6 AS DOUBLE) / 1e6)
        END AS w
      FROM t ORDER BY n""")) { (s, dir) =>
      graft.operators.Stats.brownForsythe(
          t(s, dir, "events").select(col("event_type"),
            floor(col("value") * 10000).cast("long").as("v")),
          "event_type", "v")
        .orderBy("n")
    },

    // Cohen's d effect size (Stats.cohensD): HOW LARGE the view-vs-
    // purchase value gap is in pooled standard deviations — the
    // ship/no-ship magnitude companion to x9_ttest's significance
    // (t inflates with n, d does not). Same exact-moment machinery,
    // one fixed IEEE tree per day.
    QueryDef("x9_cohens_d", Some(s"""
      WITH g AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   event_type, CAST(floor(value * 10000) AS BIGINT) AS x
                 FROM events WHERE event_type IN ('view', 'purchase')),
      a AS (SELECT day,$viewPurchaseMoments
      SELECT day, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        CASE WHEN n1 > 1 AND n2 > 1
               AND (n1 * ss1 - s1 * s1 > 0 OR n2 * ss2 - s2 * s2 > 0)
          THEN (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             / sqrt((CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
                       / CAST(n1 AS DOUBLE)
                     + CAST(n2 * ss2 - s2 * s2 AS DOUBLE)
                       / CAST(n2 AS DOUBLE))
                    / CAST(n1 + n2 - 2 AS DOUBLE))
        END AS d
      FROM a ORDER BY day""")) { (s, dir) =>
      graft.operators.Stats.cohensD(
          t(s, dir, "events").withColumn("day", to_date(col("ts"))),
          Seq("day"), "event_type", "view", "purchase", "value",
          grid = 10000L)
        .orderBy("day")
    },

    // Mann-Whitney U (Stats.mannWhitneyU): the distribution-free rank-sum
    // companion to x9_ttest — returned vs regular quantities. On the
    // integer grid, doubled tie-averaged ranks are exact integers, so
    // 2·rank-sum (and with it U and the tie-corrected z) hash-gates; the
    // wide-decimal rank-sum renders as a string per the §5.2 contract.
    QueryDef("x9_mannwhitney", Some("""
      WITH d AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS v,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a
                 FROM lineitem WHERE l_returnflag IN ('R', 'N')),
      h AS (SELECT v, sum(a) AS ca, sum(1 - a) AS cb FROM d GROUP BY v),
      c AS (SELECT v, ca, cb, ca + cb AS t,
              sum(ca + cb) OVER (ORDER BY v) - (ca + cb) AS cb4 FROM h),
      g AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b,
              sum(CAST(ca AS HUGEINT) * (2 * cb4 + t + 1)) AS r_a2,
              sum(CAST(t AS HUGEINT) * t * t - t) AS ties,
              sum(ca + cb) AS nn
            FROM c)
      SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        CAST(r_a2 AS VARCHAR) AS r_a2,
        CAST(r_a2 - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
        CASE WHEN n_a > 0 AND n_b > 0 AND nn > 1
               AND ties < CAST(nn AS HUGEINT) * nn * nn - nn THEN
          (CAST(r_a2 - n_a * (n_a + 1) AS DOUBLE) / 2.0
             - CAST(n_a * n_b AS DOUBLE) / 2.0)
          / sqrt(CAST(n_a * n_b AS DOUBLE) / 12.0
                 * (CAST(nn + 1 AS DOUBLE)
                    - CAST(ties AS DOUBLE)
                      / CAST(CAST(nn AS HUGEINT) * (nn - 1) AS DOUBLE)))
        END AS z
      FROM g ORDER BY n_a""")) { (s, dir) =>
      graft.operators.Stats.mannWhitneyU(
          t(s, dir, "lineitem")
            .withColumn("qbin", floor(col("l_quantity")).cast("long")),
          "l_returnflag", "R", "N", "qbin")
        .withColumn("r_a2", col("r_a2").cast("string"))
        .orderBy("n_a")
    },

    // Spearman rank correlation (Stats.spearmanRho): monotone association
    // between quantity and price on integer grids — doubled average ranks
    // are exact integers, rho is Pearson over exact DECIMAL(38,0) rank
    // moments, one fixed-shape IEEE expression at the end.
    QueryDef("x9_spearman", Some("""
      WITH b AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
                   CAST(floor(l_extendedprice) AS BIGINT) AS y
                 FROM lineitem),
      h AS (SELECT x, y, count(*) AS c FROM b GROUP BY 1, 2),
      rx AS (SELECT v, 2 * cb + t + 1 AS r2 FROM (
               SELECT x AS v, sum(c) AS t,
                      sum(sum(c)) OVER (ORDER BY x) - sum(c) AS cb
               FROM h GROUP BY x)),
      ry AS (SELECT v, 2 * cb + t + 1 AS r2 FROM (
               SELECT y AS v, sum(c) AS t,
                      sum(sum(c)) OVER (ORDER BY y) - sum(c) AS cb
               FROM h GROUP BY y)),
      j AS (SELECT h.c, rx.r2 AS rx2, ry.r2 AS ry2
            FROM h JOIN rx ON h.x = rx.v JOIN ry ON h.y = ry.v),
      a AS (SELECT sum(c) AS n,
              sum(CAST(c AS HUGEINT) * rx2) AS sx,
              sum(CAST(c AS HUGEINT) * ry2) AS sy,
              sum(CAST(c AS HUGEINT) * rx2 * rx2) AS sxx,
              sum(CAST(c AS HUGEINT) * ry2 * ry2) AS syy,
              sum(CAST(c AS HUGEINT) * rx2 * ry2) AS sxy
            FROM j)
      SELECT CAST(n AS BIGINT) AS n,
        CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
          CAST(n * sxy - sx * sy AS DOUBLE)
          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        END AS rho
      FROM a ORDER BY n""")) { (s, dir) =>
      graft.operators.Stats.spearmanRho(
          t(s, dir, "lineitem").select(
            floor(col("l_quantity")).cast("long").as("x"),
            floor(col("l_extendedprice")).cast("long").as("y")),
          "x", "y")
        .orderBy("n")
    },

    // Kendall tau-b (Stats.kendallTauB): pairwise order concordance of
    // quantity vs discount on bounded grids (50 × 11 cells) — the
    // concordance member of the rank family next to x9_spearman. Cell
    // histogram → cell-PAIR sums, tie-corrected, all exact integers to
    // one fixed-shape IEEE expression; conc/disc pair masses render as
    // strings per the §5.2 contract (~n² at scale).
    QueryDef("x9_kendall", Some("""
      WITH b AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
                   CAST(floor(l_discount * 100) AS BIGINT) AS y
                 FROM lineitem),
      h AS (SELECT x, y, count(*) AS c FROM b GROUP BY 1, 2),
      p AS (SELECT
              coalesce(sum(CASE WHEN a.y < bb.y
                THEN CAST(a.c AS HUGEINT) * bb.c END), 0) AS conc,
              coalesce(sum(CASE WHEN a.y > bb.y
                THEN CAST(a.c AS HUGEINT) * bb.c END), 0) AS disc
            FROM h a JOIN h bb ON a.x < bb.x),
      n AS (SELECT sum(c) AS n FROM h),
      tx AS (SELECT coalesce(sum(CAST(t AS HUGEINT) * (t - 1)), 0) AS tx2
             FROM (SELECT sum(c) AS t FROM h GROUP BY x)),
      ty AS (SELECT coalesce(sum(CAST(t AS HUGEINT) * (t - 1)), 0) AS ty2
             FROM (SELECT sum(c) AS t FROM h GROUP BY y))
      SELECT CAST(n AS BIGINT) AS n,
        CAST(conc AS VARCHAR) AS conc, CAST(disc AS VARCHAR) AS disc,
        CASE WHEN CAST(n AS HUGEINT) * (n - 1) - tx2 > 0
              AND CAST(n AS HUGEINT) * (n - 1) - ty2 > 0 THEN
          CAST(2 * (conc - disc) AS DOUBLE)
          / (sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - tx2 AS DOUBLE))
             * sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - ty2 AS DOUBLE)))
        END AS tau
      FROM n, p, tx, ty ORDER BY n""")) { (s, dir) =>
      graft.operators.Stats.kendallTauB(
          t(s, dir, "lineitem").select(
            floor(col("l_quantity")).cast("long").as("x"),
            floor(col("l_discount") * 100).cast("long").as("y")),
          "x", "y")
        .select(col("n"), col("conc").cast("string").as("conc"),
          col("disc").cast("string").as("disc"), col("tau"))
        .orderBy("n")
    },

    // Mood's median test (Stats.moodMedianTest): robust k-group
    // location test — exact-integer grand median from the value
    // histogram, then the chiSquareAssoc lattice-deterministic χ² over
    // the group × above-median table.
    QueryDef("x9_mediantest", Some(s"""$flagQtyCte
      vh AS (SELECT v, count(*) AS c FROM base GROUP BY v),
      m AS (SELECT min(v) AS median FROM (
              SELECT v, sum(c) OVER (ORDER BY v) AS cum,
                     (SELECT sum(c) FROM vh) AS nn FROM vh)
            WHERE cum * 2 >= nn),
      fl AS (SELECT g, CASE WHEN base.v > m.median THEN 1 ELSE 0 END AS b
             FROM base, m),
      h AS (SELECT g, b, count(*) AS c FROM fl GROUP BY 1, 2),${chiSqCte("g")}
      SELECT m.median, CAST(n.n AS BIGINT) AS n,$chiSqStats
      FROM m, n, q, d ORDER BY n""")) { (s, dir) =>
      graft.operators.Stats.moodMedianTest(
          flagQty(s, dir),
          "g", "v")
        .orderBy("n")
    },

    // Jonckheere-Terpstra (Stats.jonckheereTerpstra): does quantity
    // TREND along the lexicographic return-flag order — the directional
    // k-group test next to x9_kruskal. Doubled JT is an exact-integer
    // cell-pair sum; mean and the three-term tie-corrected variance are
    // exact integer marginals down to ONE fixed-shape expression (the
    // N^6-scale numerators multiply as doubles — one IEEE multiply, not
    // a data-ordered sum), so z hash-gates. jt2 ~ N^2/2 renders as a
    // string per the §5.2 contract.
    QueryDef("x9_jonckheere", Some(s"""$flagQtyCte
      h AS (SELECT g, v, count(*) AS c FROM base GROUP BY 1, 2),
      jt AS (SELECT coalesce(sum(CASE
               WHEN a.v < b.v THEN 2 * CAST(a.c AS HUGEINT) * b.c
               WHEN a.v = b.v THEN CAST(a.c AS HUGEINT) * b.c
               ELSE 0 END), 0) AS jt2
             FROM h a JOIN h b ON a.g < b.g),
      tm AS (SELECT sum(t) AS n,
               sum(CAST(t AS HUGEINT) * (t - 1)) AS t2,
               sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS t3,
               sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS t25
             FROM (SELECT sum(c) AS t FROM h GROUP BY v)),
      gm AS (SELECT count(*) AS k,
               sum(CAST(ng AS HUGEINT) * ng) AS nsq,
               sum(CAST(ng AS HUGEINT) * (ng - 1)) AS g2,
               sum(CAST(ng AS HUGEINT) * (ng - 1) * (ng - 2)) AS g3,
               sum(CAST(ng AS HUGEINT) * (ng - 1) * (2 * ng + 5)) AS g25
             FROM (SELECT sum(c) AS ng FROM h GROUP BY g))
      SELECT CAST(tm.n AS BIGINT) AS n, CAST(gm.k AS BIGINT) AS k,
        CAST(jt.jt2 AS VARCHAR) AS jt2,
        CASE WHEN gm.k > 1 AND tm.n > 2
              AND tm.t2 < CAST(tm.n AS HUGEINT) * (tm.n - 1) THEN
          CAST(jt.jt2 - (CAST(tm.n AS HUGEINT) * tm.n - gm.nsq) // 2
               AS DOUBLE)
          / (2.0 * sqrt(
              CAST(CAST(tm.n AS HUGEINT) * (tm.n - 1) * (2 * tm.n + 5)
                   - tm.t25 - gm.g25 AS DOUBLE) / 72.0
              + CAST(tm.t3 AS DOUBLE) * CAST(gm.g3 AS DOUBLE)
                / CAST(36 * CAST(tm.n AS HUGEINT) * (tm.n - 1)
                       * (tm.n - 2) AS DOUBLE)
              + CAST(tm.t2 AS DOUBLE) * CAST(gm.g2 AS DOUBLE)
                / CAST(8 * CAST(tm.n AS HUGEINT) * (tm.n - 1)
                       AS DOUBLE)))
        END AS z
      FROM tm, jt, gm ORDER BY n""")) { (s, dir) =>
      graft.operators.Stats.jonckheereTerpstra(
          flagQty(s, dir),
          "g", "v")
        .orderBy("n")
    },

    // Kruskal-Wallis H (Stats.kruskalWallisH): does the quantity
    // distribution differ across return-status groups? — the k-group
    // rank test next to x9_mannwhitney. Doubled tie-averaged ranks are
    // exact integers; the one cross-group float sum is floor-quantized
    // to the 1e-6 lattice per the x9_chisq technique, so the
    // tie-corrected H hash-gates.
    QueryDef("x9_kruskal", Some(s"""$flagQtyCte
      h AS (SELECT g, v, count(*) AS c FROM base GROUP BY 1, 2),
      tv AS (SELECT v, sum(c) AS t,
               sum(sum(c)) OVER (ORDER BY v) - sum(c) AS cb
             FROM h GROUP BY v),
      pg AS (SELECT g, sum(c) AS n_g,
               sum(CAST(c AS HUGEINT) * (2 * cb + t + 1)) AS r2
             FROM h JOIN tv USING (v) GROUP BY g),
      n AS (SELECT sum(t) AS n,
              sum(CAST(t AS HUGEINT) * t * t - t) AS ties FROM tv),
      k AS (SELECT count(*) AS k FROM pg),
      q AS (SELECT coalesce(sum(CAST(floor(3.0 * CAST(r2 AS DOUBLE)
                * CAST(r2 AS DOUBLE)
                / CAST(CAST(n_g AS HUGEINT) * n.n * (n.n + 1) AS DOUBLE)
                * 1e6) AS HUGEINT)), 0) AS q6
            FROM pg, n)
      SELECT CAST(n.n AS BIGINT) AS n, CAST(k.k AS BIGINT) AS k,
        CASE WHEN n.n > 1 AND k.k > 1
              AND n.ties < CAST(n.n AS HUGEINT) * n.n * n.n - n.n THEN
          ((CAST(q.q6 AS DOUBLE) / 1e6)
           - CAST(3 * (CAST(n.n AS HUGEINT) + 1) AS DOUBLE))
          / (1.0 - CAST(n.ties AS DOUBLE)
             / CAST(CAST(n.n AS HUGEINT) * n.n * n.n - n.n AS DOUBLE))
        END AS h
      FROM n, q, k ORDER BY n""")) { (s, dir) =>
      graft.operators.Stats.kruskalWallisH(
          flagQty(s, dir),
          "g", "v")
        .orderBy("n")
    },

    // Total χ² + Cramér's V (Stats.chiSquareAssoc): one-number
    // independence test between the quantity and discount grids — the
    // summed sibling of x9_residuals (which localizes deviating cells
    // but cannot sum them reproducibly). Per-cell terms are fixed
    // double trees over exact DECIMAL/HUGEINT integers, quantized to
    // the 10⁻⁶ lattice via floor (the only rounding mode identical
    // everywhere) and summed exactly, so the total hash-gates.
    QueryDef("x9_chisq", Some(s"""
      WITH base AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS a,
                      CAST(floor(l_discount * 100) AS BIGINT) AS b
                    FROM lineitem),
      h AS (SELECT a, b, count(*) AS c FROM base GROUP BY 1, 2),${chiSqCte("a")}
      SELECT CAST(n.n AS BIGINT) AS n,$chiSqStats
      FROM n, q, d ORDER BY n""")) { (s, dir) =>
      graft.operators.Stats.chiSquareAssoc(
          t(s, dir, "lineitem").select(
            floor(col("l_quantity")).cast("long").as("a"),
            floor(col("l_discount") * 100).cast("long").as("b")),
          "a", "b")
        .orderBy("n")
    },

    // Gini coefficient (Stats.gini): document-length concentration per
    // language — the "is this corpus dominated by a few documents"
    // summary. Exact positional sums over the per-value histogram, one
    // IEEE division.
    QueryDef("x9_gini", Some("""
      WITH d AS (SELECT lang, CAST(len(text) AS BIGINT) AS v
                 FROM documents),
      h AS (SELECT lang, v, count(*) AS c FROM d GROUP BY 1, 2),
      cu AS (SELECT lang, v, c,
               sum(c) OVER (PARTITION BY lang ORDER BY v) - c AS cb
             FROM h),
      g AS (SELECT lang, sum(c) AS n,
              sum(CAST(v AS HUGEINT) * c) AS total,
              sum(CAST(v AS HUGEINT)
                  * (CAST(c AS HUGEINT) * cb + c * (c + 1) // 2)) AS s
            FROM cu GROUP BY lang)
      SELECT lang, CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total,
        CASE WHEN total > 0 AND n > 0 THEN
          CAST(2 * s - (n + 1) * total AS DOUBLE)
          / CAST(CAST(n AS HUGEINT) * total AS DOUBLE)
        END AS gini
      FROM g ORDER BY lang""")) { (s, dir) =>
      graft.operators.Stats.gini(
          t(s, dir, "documents").withColumn("len", length(col("text"))),
          Seq("lang"), "len")
        .orderBy("lang")
    },

    // Closed-form OLS fit (Stats.olsFit): per-returnflag regression of
    // extendedprice (cent grid) on quantity — slope/intercept/r² from
    // exact DECIMAL(38,0) moments in one map-side-partial aggregate,
    // each statistic one fixed-shape IEEE expression. The trend-fit
    // member of the x9 stats family (ttest = difference, residuals =
    // association, ols = relationship).
    QueryDef("x9_ols", Some("""
      WITH b AS (SELECT l_returnflag AS grp,
                   CAST(floor(l_quantity) AS HUGEINT) AS x,
                   CAST(floor(l_extendedprice * 100) AS HUGEINT) AS y
                 FROM lineitem),
      a AS (SELECT grp, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
            FROM b GROUP BY 1)
      SELECT grp, CAST(n AS BIGINT) AS n,
        CASE WHEN n * sxx - sx * sx > 0 THEN
          CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
        CASE WHEN n * sxx - sx * sx > 0 THEN
          CAST(sy * sxx - sx * sxy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE) END AS icept,
        CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
          CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
            / (CAST(n * sxx - sx * sx AS DOUBLE)
               * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
      FROM a ORDER BY grp""")) { (s, dir) =>
      graft.operators.Stats.olsFit(
          t(s, dir, "lineitem").withColumn("grp", col("l_returnflag")),
          Seq("grp"), "l_quantity", "l_extendedprice", yGrid = 100L)
        .orderBy("grp")
    },

    // Directed strongly connected components (Graph.sccBounded) over
    // the nation trade graph: supplier-nation → customer-nation edges
    // aggregated from the full lineitem stream (the scale work — one
    // distinct-project over three joins), then mutual-reachability
    // components of the ≤25-node condensed graph by path-doubling
    // closure. The oracle replays reachability as a recursive CTE and
    // takes the same min-label-of-mutual-pairs rule.
    QueryDef("x8_scc", Some("""
      WITH RECURSIVE e AS (
        SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
               CAST(c.c_nationkey AS BIGINT) AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      reach(src, dst) AS (
        SELECT id, id FROM n
        UNION
        SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst),
      m AS (SELECT f.src AS id, min(f.dst) AS scc
            FROM reach f JOIN reach g ON f.src = g.dst AND f.dst = g.src
            GROUP BY 1),
      sz AS (SELECT scc, count(*) AS scc_size FROM m GROUP BY 1)
      SELECT m.id, CAST(m.scc AS BIGINT) AS scc,
             CAST(sz.scc_size AS BIGINT) AS scc_size
      FROM m JOIN sz USING (scc) ORDER BY id""")) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val ords = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val edges = li
        .join(ords, li("l_orderkey") === ords("o_orderkey"))
        .join(cust, ords("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey"))
        .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      graft.operators.Graph.sccBounded(edges, maxNodes = 25)
        .orderBy("id")
    },

    // K-truss peeling (Graph.kTrussPeel): 10-truss over the part
    // co-purchase graph, two fixed peel rounds — each edge must close
    // >= 8 triangles with surviving edges. The oracle unrolls the same
    // recurrence (triangle enumeration on the canonical u<v list, each
    // triangle credited to its three edges).
    kTrussGate("x8_ktruss", s4 = false, k = 10L),

    // Oracle-replayable k-truss companion (same Graph.kTrussPeel code
    // path): the FULL x8_ktruss sf1 oracle exhausts DuckDB's temp disk
    // enumerating the 100x triangle set, so the 100x claim was asserted,
    // not checked. This gate peels a 5-truss over the l_partkey % 4
    // subsample of the co-purchase graph — ~64x fewer triangles, which
    // DuckDB replays at sf1 in ~90 s (60165 rows measured) — making the
    // same code path oracle-checkable at 100x gate scale.
    kTrussGate("x8_ktruss_s4", s4 = true, k = 5L),

    // Degree distribution (Graph.degreeHistogram) of the undirected
    // supplier co-purchase graph: nodes per degree + each bucket's
    // share of edge endpoints — the hub-heaviness profile read before
    // choosing skew strategies for the graph family.
    QueryDef("x8_degree_hist", Some(s"""
      WITH pr AS (${coOrderSql("l_suppkey")}),
      eg AS (SELECT src, dst FROM pr
             UNION ALL SELECT dst, src FROM pr),
      deg AS (SELECT src, count(*) AS d FROM eg GROUP BY src),
      h AS (SELECT d AS degree, count(*) AS n_nodes FROM deg GROUP BY 1),
      t AS (SELECT sum(CAST(degree AS HUGEINT) * n_nodes) AS m FROM h)
      SELECT degree, CAST(n_nodes AS BIGINT) AS n_nodes,
             CAST(CAST(degree AS HUGEINT) * n_nodes AS DOUBLE)
               / CAST(m AS DOUBLE) AS endpoint_share
      FROM h, t ORDER BY degree""")) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val a = li.select(col("l_orderkey").as("o"), col("l_suppkey").as("src"))
      val b = li.select(col("l_orderkey").as("o"), col("l_suppkey").as("dst"))
      val pr = a.join(b, Seq("o")).filter(col("src") < col("dst"))
        .select("src", "dst").distinct()
      val eg = pr.unionByName(
        pr.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.degreeHistogram(eg)
        .orderBy("degree")
    },

    // Pairwise correlation matrix (Stats.corrMatrix): quantity /
    // extendedprice / discount moments on floor grids, all accumulated
    // in ONE pass, each Pearson coefficient one fixed-shape IEEE
    // expression over exact DECIMAL(38,0) integers.
    QueryDef("x9_corr", Some("""
      WITH b AS (SELECT CAST(floor(l_quantity) AS HUGEINT) AS q,
                   CAST(floor(l_extendedprice * 100) AS HUGEINT) AS p,
                   CAST(floor(l_discount * 10000) AS HUGEINT) AS d
                 FROM lineitem),
      m AS (SELECT count(*) AS n, sum(q) AS sq, sum(p) AS sp, sum(d) AS sd,
              sum(q * q) AS ssq, sum(p * p) AS ssp, sum(d * d) AS ssd,
              sum(q * p) AS sqp, sum(q * d) AS sqd, sum(p * d) AS spd
            FROM b)
      SELECT col_a, col_b, n, corr FROM (
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
               CAST(n AS BIGINT) AS n,
               CASE WHEN n * ssq - sq * sq > 0 AND n * ssp - sp * sp > 0
                 THEN CAST(n * sqp - sq * sp AS DOUBLE)
                      / (sqrt(CAST(n * ssq - sq * sq AS DOUBLE))
                         * sqrt(CAST(n * ssp - sp * sp AS DOUBLE))) END AS corr
        FROM m
        UNION ALL
        SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
               CASE WHEN n * ssq - sq * sq > 0 AND n * ssd - sd * sd > 0
                 THEN CAST(n * sqd - sq * sd AS DOUBLE)
                      / (sqrt(CAST(n * ssq - sq * sq AS DOUBLE))
                         * sqrt(CAST(n * ssd - sd * sd AS DOUBLE))) END
        FROM m
        UNION ALL
        SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
               CASE WHEN n * ssp - sp * sp > 0 AND n * ssd - sd * sd > 0
                 THEN CAST(n * spd - sp * sd AS DOUBLE)
                      / (sqrt(CAST(n * ssp - sp * sp AS DOUBLE))
                         * sqrt(CAST(n * ssd - sd * sd AS DOUBLE))) END
        FROM m)
      ORDER BY col_a, col_b""")) { (s, dir) =>
      graft.operators.Stats.corrMatrix(t(s, dir, "lineitem"),
          Seq(("l_quantity", 1L), ("l_extendedprice", 100L),
            ("l_discount", 10000L)))
        .orderBy("col_a", "col_b")
    },

    // Mixture diversity (Stats.diversity): per-language Gini impurity
    // and inverse-Simpson "effective number of sources" — the exact
    // rational concentration measures (entropy's log has no
    // cross-engine-exact form; 1 − Σp² and 1/Σp² do).
    QueryDef("x9_diversity", Some("""
      WITH c AS (SELECT lang, source, count(*) AS c FROM documents
                 GROUP BY 1, 2),
      a AS (SELECT lang, sum(c) AS n, count(*) AS n_cats,
              sum(CAST(c AS HUGEINT) * c) AS ss
            FROM c GROUP BY 1)
      SELECT lang, CAST(n AS BIGINT) AS n, CAST(n_cats AS BIGINT) AS n_cats,
             CAST(CAST(n AS HUGEINT) * n - ss AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS gini,
             CAST(CAST(n AS HUGEINT) * n AS DOUBLE)
               / CAST(ss AS DOUBLE) AS eff_cats
      FROM a ORDER BY lang""")) { (s, dir) =>
      graft.operators.Stats.diversity(t(s, dir, "documents"),
          Seq("lang"), "source")
        .orderBy("lang")
    },

    // Benford first-digit screen (Stats.benford): observed digit
    // profile of order totals vs log10(1+1/d). Expectations are
    // 17-digit double literals in BOTH engines (libm log is not
    // correctly rounded and would not gate); frac and dev are single
    // IEEE ops on exact counts.
    QueryDef("x9_benford", Some("""
      WITH b AS (SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                   AS VARCHAR), 1, 1) AS digit
                 FROM orders WHERE o_totalprice >= 1),
      c AS (SELECT digit, count(*) AS cnt FROM b GROUP BY 1),
      t AS (SELECT sum(cnt) AS n FROM c),
      e AS (SELECT digit, cnt,
              CASE digit
                WHEN '1' THEN CAST('0.3010299956639812' AS DOUBLE)
                WHEN '2' THEN CAST('0.17609125905568124' AS DOUBLE)
                WHEN '3' THEN CAST('0.12493873660829992' AS DOUBLE)
                WHEN '4' THEN CAST('0.09691001300805642' AS DOUBLE)
                WHEN '5' THEN CAST('0.07918124604762482' AS DOUBLE)
                WHEN '6' THEN CAST('0.06694678963061322' AS DOUBLE)
                WHEN '7' THEN CAST('0.05799194697768673' AS DOUBLE)
                WHEN '8' THEN CAST('0.05115252244738129' AS DOUBLE)
                WHEN '9' THEN CAST('0.04575749056067514' AS DOUBLE)
              END AS expected
            FROM c)
      SELECT digit, CAST(cnt AS BIGINT) AS cnt,
             CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) AS frac, expected,
             CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) - expected AS dev
      FROM e, t ORDER BY digit""")) { (s, dir) =>
      graft.operators.Stats.benford(t(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")
    },

    // RAKE keyword scores (TextOps.rakeScores): stopword-delimited
    // phrase runs, word degree = Σ phrase length over occurrences,
    // score = degree/frequency — words living in long phrases outrank
    // equally-frequent loners. Exact integer deg/freq, one division.
    QueryDef("x5_rake", Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
      tok AS (SELECT doc_id, i AS pos, toks[i + 1] AS w
              FROM d, LATERAL (SELECT unnest(range(0, len(toks))) AS i) ii),
      m AS (SELECT doc_id, pos, w,
              CASE WHEN w IN ('the', 'a', 'and', 'of', 'to') OR w = ''
                   THEN 1 ELSE 0 END AS stop
            FROM tok),
      seg AS (SELECT doc_id, pos, w, stop,
                sum(stop) OVER (PARTITION BY doc_id ORDER BY pos)
                  AS phrase_id
              FROM m),
      ph AS (SELECT doc_id, phrase_id, count(*) AS plen
             FROM seg WHERE stop = 0 GROUP BY 1, 2),
      wp AS (SELECT s.w, p.plen
             FROM seg s JOIN ph p USING (doc_id, phrase_id)
             WHERE s.stop = 0),
      sc AS (SELECT w, count(*) AS freq, sum(plen) AS deg FROM wp
             GROUP BY 1)
      SELECT w, CAST(freq AS BIGINT) AS freq, CAST(deg AS BIGINT) AS deg,
             CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS score
      FROM sc ORDER BY deg DESC, w"""), bench = true) { (s, dir) =>
      graft.operators.TextOps.rakeScores(t(s, dir, "documents"),
          "doc_id", "text", Seq("the", "a", "and", "of", "to"))
        .orderBy(desc("deg"), col("w"))
    },

    // Zipf rank-frequency head (TextOps.zipfProfile): top-20 tokens
    // with rank and the cnt·rank product Zipf's law holds ~constant —
    // the natural-language-statistics sanity check next to the Heaps
    // vocabulary-growth gate. Rank ties break lexicographically; the
    // rank window orders the vocabulary table, never the corpus.
    QueryDef("x5_zipf", Some("""
      WITH t AS (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents),
      c AS (SELECT w, count(*) AS cnt FROM t WHERE w <> '' GROUP BY 1),
      r AS (SELECT w, cnt,
              row_number() OVER (ORDER BY cnt DESC, w) AS rank
            FROM c)
      SELECT rank, w, CAST(cnt AS BIGINT) AS cnt,
             CAST(cnt * rank AS BIGINT) AS cr
      FROM r WHERE rank <= 20 ORDER BY rank""")) { (s, dir) =>
      graft.operators.TextOps.zipfProfile(t(s, dir, "documents"),
          "text", topK = 20)
        .orderBy("rank")
    },

    // Span-corruption mask stats (TextOps.spanMaskStats): hash-seeded
    // T5-style span starts (md5 nibble, 1/16 rate) each masking 3
    // tokens, overlaps merged by a rolling-max window — the coverage
    // report validated before a denoising objective consumes the mask.
    QueryDef("x6_span_mask", Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
      tok AS (SELECT doc_id, i AS pos
              FROM d, LATERAL (SELECT unnest(range(0, len(toks))) AS i) ii),
      m AS (SELECT doc_id, pos,
              CASE WHEN substr(md5(concat(CAST(doc_id AS VARCHAR), ':',
                     CAST(pos AS VARCHAR))), 1, 1) = '0'
                   THEN 1 ELSE 0 END AS s
            FROM tok),
      w AS (SELECT doc_id, s,
              max(s) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mk
            FROM m)
      SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(s) AS BIGINT) AS n_spans,
             CAST(sum(mk) AS BIGINT) AS n_masked,
             CAST(sum(mk) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS mask_frac
      FROM w GROUP BY 1 ORDER BY id""")) { (s, dir) =>
      graft.operators.TextOps.spanMaskStats(t(s, dir, "documents"),
          "doc_id", "text", spanLen = 3)
        .orderBy("id")
    },

    // Column-level reconciliation (Integrity.reconcileColumns): the
    // after side deletes every 13th order, inserts shifted copies of
    // every 17th, bumps totalprice on every 7th and flips priority on
    // every 11th — the report pins which columns drifted and by how
    // many keys, plus the presence facts, from one full outer join +
    // one schema-sized aggregate.
    QueryDef("x10_reconcile", Some("""
      WITH bs AS (SELECT o_orderkey AS k, o_custkey AS c,
                    CAST(floor(o_totalprice * 100) AS BIGINT) AS tp,
                    o_orderpriority AS pr
                  FROM orders),
      af AS (SELECT k, c,
               CASE WHEN k % 7 = 0 THEN tp + 1 ELSE tp END AS tp,
               CASE WHEN k % 11 = 0 THEN 'X-SHIFTED' ELSE pr END AS pr
             FROM bs WHERE k % 13 <> 0
             UNION ALL
             SELECT k + 100000000, c, tp, pr FROM bs WHERE k % 17 = 0),
      j AS (SELECT b.k AS bk, a.k AS ak,
              b.c AS bc, a.c AS ac, b.tp AS btp, a.tp AS atp,
              b.pr AS bpr, a.pr AS apr
            FROM bs b FULL OUTER JOIN af a ON b.k = a.k),
      t AS (SELECT
              sum(CASE WHEN bk IS NOT NULL AND ak IS NOT NULL
                    THEN 1 ELSE 0 END) AS n_both,
              sum(CASE WHEN bk IS NOT NULL AND ak IS NULL
                    THEN 1 ELSE 0 END) AS n_only_before,
              sum(CASE WHEN bk IS NULL AND ak IS NOT NULL
                    THEN 1 ELSE 0 END) AS n_only_after,
              sum(CASE WHEN bk IS NOT NULL AND ak IS NOT NULL
                    AND bc IS DISTINCT FROM ac THEN 1 ELSE 0 END) AS mm_c,
              sum(CASE WHEN bk IS NOT NULL AND ak IS NOT NULL
                    AND btp IS DISTINCT FROM atp THEN 1 ELSE 0 END) AS mm_tp,
              sum(CASE WHEN bk IS NOT NULL AND ak IS NOT NULL
                    AND bpr IS DISTINCT FROM apr THEN 1 ELSE 0 END) AS mm_pr
            FROM j)
      SELECT col_name, CAST(n_both AS BIGINT) AS n_both,
             CAST(n_only_before AS BIGINT) AS n_only_before,
             CAST(n_only_after AS BIGINT) AS n_only_after,
             CAST(n_mismatch AS BIGINT) AS n_mismatch FROM (
        SELECT 'c' AS col_name, n_both, n_only_before, n_only_after,
               mm_c AS n_mismatch FROM t
        UNION ALL
        SELECT 'tp', n_both, n_only_before, n_only_after, mm_tp FROM t
        UNION ALL
        SELECT 'pr', n_both, n_only_before, n_only_after, mm_pr FROM t)
      ORDER BY col_name""")) { (s, dir) =>
      val base = t(s, dir, "orders").select(
        col("o_orderkey").as("k"), col("o_custkey").as("c"),
        floor(col("o_totalprice") * lit(100.0)).cast("long").as("tp"),
        col("o_orderpriority").as("pr"))
      val after = base.filter(col("k") % 13 =!= 0)
        .withColumn("tp",
          when(col("k") % 7 === 0, col("tp") + 1).otherwise(col("tp")))
        .withColumn("pr",
          when(col("k") % 11 === 0, lit("X-SHIFTED")).otherwise(col("pr")))
        .unionByName(base.filter(col("k") % 17 === 0)
          .withColumn("k", col("k") + 100000000L))
      graft.operators.Integrity.reconcileColumns(base, after, Seq("k"))
        .orderBy("col_name")
    },

    // Referential-integrity audit (Integrity.fkOrphans): orphan and
    // null-key counts for three child→parent relationships — the two
    // real ones hold (0 orphans is the PASS a load validation wants),
    // the third audits against a deliberately partial parent (every
    // 13th order dropped) and pins the nonzero orphan count.
    QueryDef("x10_fk", Some("""
      WITH pk AS (SELECT DISTINCT o_orderkey AS k FROM orders),
      ck AS (SELECT DISTINCT c_custkey AS k FROM customer),
      pp AS (SELECT DISTINCT o_orderkey AS k FROM orders
             WHERE o_orderkey % 13 <> 0),
      u AS (
        SELECT 'lineitem->orders' AS rel, count(*) AS n_child,
               sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
                 AS n_null_key,
               sum(CASE WHEN l.l_orderkey IS NOT NULL AND pk.k IS NULL
                   THEN 1 ELSE 0 END) AS n_orphan
        FROM lineitem l LEFT JOIN pk ON l.l_orderkey = pk.k
        UNION ALL
        SELECT 'lineitem->orders_partial', count(*),
               sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END),
               sum(CASE WHEN l.l_orderkey IS NOT NULL AND pp.k IS NULL
                   THEN 1 ELSE 0 END)
        FROM lineitem l LEFT JOIN pp ON l.l_orderkey = pp.k
        UNION ALL
        SELECT 'orders->customer', count(*),
               sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END),
               sum(CASE WHEN o.o_custkey IS NOT NULL AND ck.k IS NULL
                   THEN 1 ELSE 0 END)
        FROM orders o LEFT JOIN ck ON o.o_custkey = ck.k)
      SELECT rel, CAST(n_child AS BIGINT) AS n_child,
             CAST(n_null_key AS BIGINT) AS n_null_key,
             CAST(n_orphan AS BIGINT) AS n_orphan
      FROM u ORDER BY rel""")) { (s, dir) =>
      import graft.operators.Integrity.fkOrphans
      val li = t(s, dir, "lineitem")
      val ords = t(s, dir, "orders")
      fkOrphans(li, "l_orderkey", ords, "o_orderkey", "lineitem->orders")
        .unionByName(fkOrphans(li, "l_orderkey",
          ords.filter(col("o_orderkey") % 13 =!= 0), "o_orderkey",
          "lineitem->orders_partial"))
        .unionByName(fkOrphans(ords, "o_custkey",
          t(s, dir, "customer"), "c_custkey", "orders->customer"))
        .orderBy("rel")
    },

    // MERGE with schema evolution (Snapshot.upsertEvolve): the update
    // batch carries a column the base lacks — output schema is the
    // by-name union, base rows read null for the new column, updates
    // win on key collision. The write-path complement of the s4
    // mergeSchema read gate.
    QueryDef("e8_evolve", Some("""
      WITH b AS (SELECT o_orderkey AS k, o_custkey AS c,
                   CAST(NULL AS VARCHAR) AS pr, 0 AS src
                 FROM orders WHERE o_orderkey % 3 = 0),
      u AS (SELECT o_orderkey AS k, o_custkey + 1000000 AS c,
              o_orderpriority AS pr, 1 AS src
            FROM orders WHERE o_orderkey % 5 = 0),
      al AS (SELECT * FROM b UNION ALL SELECT * FROM u),
      r AS (SELECT k, c, pr,
              row_number() OVER (PARTITION BY k ORDER BY src DESC) AS rn
            FROM al)
      SELECT k, CAST(c AS BIGINT) AS c, pr FROM r WHERE rn = 1
      ORDER BY k""")) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val base = orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"))
      val upd = orders.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"),
          (col("o_custkey") + 1000000L).as("c"),
          col("o_orderpriority").as("pr"))
      graft.operators.Snapshot.upsertEvolve(base, upd, Seq("k"))
        .orderBy("k")
    },

    // Temporal split with embargo (Sample.temporalSplit): train before
    // the 70% cutoff of the observed ms range, test after cutoff + 24h,
    // the band between dropped — the leakage-safe time-series split.
    // Cutoff arithmetic is exact integers computed in-plan, so split
    // membership hash-gates.
    QueryDef("x7_temporal_split", Some("""
      WITH b AS (SELECT epoch_ms(ts) AS ms, user_id FROM events),
      bounds AS (SELECT min(ms) AS lo, max(ms) AS hi FROM b),
      s AS (SELECT CASE
              WHEN ms < lo + ((hi - lo) * 7) // 10 THEN 'train'
              WHEN ms >= lo + ((hi - lo) * 7) // 10 + 86400000 THEN 'test'
              ELSE 'embargo' END AS split, ms, user_id
            FROM b, bounds)
      SELECT split, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(min(ms) AS BIGINT) AS min_ms,
             CAST(max(ms) AS BIGINT) AS max_ms
      FROM s GROUP BY split ORDER BY split""")) { (s, dir) =>
      graft.operators.Sample.temporalSplit(t(s, dir, "events"), "ts",
          fracNum = 7, fracDen = 10, embargoMs = 86400000L)
        .groupBy("split")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"),
          min("ms").as("min_ms"), max("ms").as("max_ms"))
        .orderBy("split")
    },

    // Degree assortativity (Graph.assortativity) of the supplier
    // co-purchase graph: Newman's r from five exact integer sums and one
    // fixed-shape IEEE expression — hubs-link-to-hubs vs hubs-link-to-
    // leaves, the structure diagnostic that predicts join skew over the
    // edge list.
    QueryDef("x8_assortativity", Some(s"""
      WITH pr AS (${coOrderSql("l_suppkey")}),
      $coOrderEg,
      deg AS (SELECT src AS id, count(*) AS d FROM eg GROUP BY 1),
      j AS (SELECT dj.d AS dj, dk.d AS dk
            FROM eg JOIN deg dj ON dj.id = eg.src
                    JOIN deg dk ON dk.id = eg.dst),
      a AS (SELECT count(*) AS m,
              sum(CAST(dj AS HUGEINT)) AS sj, sum(CAST(dk AS HUGEINT)) AS sk,
              sum(CAST(dj AS HUGEINT) * dk) AS sjk,
              sum(CAST(dj AS HUGEINT) * dj) AS sjj,
              sum(CAST(dk AS HUGEINT) * dk) AS skk
            FROM j)
      SELECT CAST(m AS BIGINT) AS m,
        CASE WHEN m * sjj - sj * sj > 0 AND m * skk - sk * sk > 0
          THEN CAST(m * sjk - sj * sk AS DOUBLE)
             / (sqrt(CAST(m * sjj - sj * sj AS DOUBLE))
                * sqrt(CAST(m * skk - sk * sk AS DOUBLE))) END AS r
      FROM a ORDER BY m""")) { (s, dir) =>
      val pairs = coOrderEdges(s, dir, "l_suppkey")
      graft.operators.Graph.assortativity(pairs).orderBy("m")
    },

    // Weighted record linkage (Dedup.fieldMatchPairs): customers blocked
    // by nation, scored by market-segment (w=3) and account-balance-band
    // (w=2) agreement, surfacing pairs that agree on both — the
    // structured-record ER operator (Fellegi–Sunter with deterministic
    // integer weights) next to the text near-dup family.
    QueryDef("x2_reclink", Some("""
      WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
                   floor(c_acctbal / 500) AS band
                 FROM customer)
      SELECT a.c_custkey AS da, b.c_custkey AS db,
        CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 3 ELSE 0 END
           + CASE WHEN a.band = b.band THEN 2 ELSE 0 END AS BIGINT) AS score
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 3 ELSE 0 END
           + CASE WHEN a.band = b.band THEN 2 ELSE 0 END) >= 5
      ORDER BY da, db""")) { (s, dir) =>
      Dedup.fieldMatchPairs(t(s, dir, "customer"),
          "c_custkey", "c_nationkey",
          Seq(col("c_mktsegment") -> 3L,
            floor(col("c_acctbal") / lit(500)) -> 2L),
          minScore = 5L)
        .orderBy("da", "db")
    },

    // The ER capstone: record-linkage pairs resolved to entity clusters
    // (min-label components over the match graph) and reduced to the
    // per-nation entity count vs raw record count — the master-data
    // "how many real entities do we have" number. Composes
    // fieldMatchPairs + resolveClusters; oracle replays the match SQL
    // plus a recursive min-label CTE.
    QueryDef("x2_reclink_resolve", Some(s"""
      WITH RECURSIVE c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
                   floor(c_acctbal / 500) AS band
                 FROM customer),
      pr AS (SELECT a.c_custkey AS da, b.c_custkey AS db
             FROM c a JOIN c b
               ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
             WHERE (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 3 ELSE 0 END
                  + CASE WHEN a.band = b.band THEN 2 ELSE 0 END) >= 5),
      eg AS (SELECT da AS src, db AS dst FROM pr
             UNION ALL SELECT db, da FROM pr),${reachCte("c_custkey", "customer")}$clCte
      SELECT c_nationkey,
             CAST(count(*) AS BIGINT) AS n_records,
             CAST(count(DISTINCT cluster) AS BIGINT) AS n_entities
      FROM customer JOIN cl ON cl.id = c_custkey
      GROUP BY c_nationkey ORDER BY c_nationkey"""),
      bench = true) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val pairs = Dedup.fieldMatchPairs(cust, "c_custkey", "c_nationkey",
        Seq(col("c_mktsegment") -> 3L,
          floor(col("c_acctbal") / lit(500)) -> 2L),
        minScore = 5L)
      val labels = Dedup.resolveClusters(cust, "c_custkey", pairs)
      cust.join(labels, cust("c_custkey") === labels("id"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_records"),
          countDistinct("cluster").as("n_entities"))
        .orderBy("c_nationkey")
    })
}
