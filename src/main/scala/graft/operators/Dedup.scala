package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (mandated extension X1/X2, SURVEY.md §2.4).
  *
  * Scale posture (100 TB): every method is expressed as shuffle-parallel
  * groupBy/join plans — no driver collect, no cross join. Near-dup candidate
  * generation is always *blocked* (LSH bands or shared-shingle inverted
  * index) so the pair space stays ~linear in input, never n². Exact
  * verification is always restricted to the candidate *pair* set — never to
  * all pairs among candidate *docs*, which can approach the whole corpus on
  * high-background-similarity data.
  */
object Dedup {

  /** Exact dedup: keep the row with the smallest `orderCol` per key group.
    * One shuffle on the key columns; map-side partial aggregation applies.
    * (Spark's dropDuplicates keeps an arbitrary row; this variant is
    * deterministic, which the oracle gate requires.)
    */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Distinct (docId, shingle) pairs for an n-word shingling of `textCol`.
    * Input is spread first iff it arrives under-partitioned (single-file
    * corpus tables) — the shingle explode is per-row CPU that must not run
    * on one task; see [[Par.spread]].
    */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Par.spread(df)
      .select(col(idCol),
        explode(org.apache.spark.sql.graft.WordShingles.of(col(textCol), n))
          .as("shingle"))
      .distinct()

  /** All-pairs n-gram Jaccard >= threshold, via a shared-shingle inverted
    * index: a pair is only materialized if it shares at least one shingle
    * (complete for any threshold > 0).
    *
    * Two EXACT candidate-generation strategies, same provable output:
    *
    *  - default: the full inverted-index self-join — fewest shuffles, the
    *    right plan while posting lists stay moderate;
    *  - `prefixFilter = true`: PPJoin prefix filtering (Xiao et al. WWW'08
    *    Lemma 1) — under any global total shingle order, two sets with
    *    Jaccard >= t must share a shingle among each one's first
    *    `|x| - ceil(t*|x|) + 1` shingles; ordering rarest-df-first makes
    *    those prefix posting lists the shortest ones, so the self-join
    *    touches ~(1-t) of each doc with boilerplate shingles pushed out of
    *    the prefixes. Costs two extra ranking shuffles (df + per-doc
    *    window), so it LOSES below the crossover where the full self-join
    *    is still cheap — switch it on when the posting-list explosion
    *    dominates (web-scale corpora with heavy boilerplate).
    *
    * `maxDocFreq` (lossy, 0 = off) drops shingles appearing in more than
    * that many docs *from candidate generation only* — can lose pairs
    * whose only shared shingles are frequent, never invents a pair.
    * Reported Jaccard is always computed on the UNFILTERED shingle sets.
    *
    * Output: (da, db, jacc) with da < db.
    */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDocFreq: Long = 0L,
      prefixFilter: Boolean = false): DataFrame = {
    // Feeds several plan branches (per-doc counts + both join sides);
    // without materialization Spark re-explodes the corpus per branch.
    // MEMORY_AND_DISK: at scale this is the "materialize the inverted
    // index" step and may spill, which is fine.
    val sh = shingleSet(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Per-doc set sizes for the two branches whose candidates do not
    // carry them (the default branch scores from carried sizes).
    def cnt = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    // The lossy df cut (if any) applies to candidate generation only;
    // scoring always uses the UNFILTERED sets.
    val candInput = rareShingles(sh, maxDocFreq)
    if (prefixFilter)
      scorePairs(pairIntersections(
        prefixCandidates(candInput, idCol, threshold), sh, idCol),
        cnt, idCol, threshold)
    else if (maxDocFreq <= 0) exactPairs(sh, idCol, threshold)
    else scorePairs(pairIntersections(
      sharedShingleIntersections(candInput, idCol).select("da", "db"),
      sh, idCol), cnt, idCol, threshold)
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo's
    * merge/purge blocking): sort each block (e.g. language) by a compact
    * prefix of the text, take every pair within `window` positions of the
    * sorted order as a candidate, verify exact n-gram Jaccard on the
    * candidates only. The THIRD blocking family next to the inverted
    * index ([[jaccardPairs]]) and MinHash banding ([[minHashLsh]]):
    * near-identical records sort adjacent, so candidate volume is
    * O(n·window) BY CONSTRUCTION — no posting-list or band-collision
    * skew can blow it up, the property that makes SNM the classic choice
    * for entity resolution over dirty records.
    *
    * Lossy exactly where the method is: only pairs within the window are
    * examined (a near-dup whose prefix diverges — e.g. a changed first
    * word — sorts apart and is missed; multi-pass with rotated keys is
    * the standard recall fix and composes by unioning candidates).
    * Verification arithmetic is identical to [[jaccardPairs]] — exact
    * intersection counts over unfiltered shingle sets.
    *
    * Scale posture: the per-block sort is ONE range-partitioned sort of
    * (block, sortKey) — Spark's bread-and-butter — and the window pairing
    * is an equijoin of adjacent `window`-sized rank buckets (a rank-bucket
    * b only ever meets b and b+1), never a data-sized cross join. Verify
    * work is linear in candidates ([[pairIntersections]]).
    *
    * @param blockCol rows are only paired within the same block value
    * @return (da, db, jacc) with da < db, jacc >= threshold
    */
  def sortedNeighborhoodPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      window: Int, keyLen: Int, n: Int, threshold: Double): DataFrame = {
    require(window >= 1 && keyLen >= 1, "window and keyLen must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(blockCol))
      .orderBy(substring(col(textCol), 1, keyLen), col(idCol))
    // Both sides of the neighbor join read the rank table; persist so the
    // per-block sort runs once (the table is (block, id, rank) — narrow).
    val ranked = Par.spread(df)
      .select(col(blockCol).as("__blk"), col(idCol),
        row_number().over(w).as("__rn"))
      .withColumn("__b", expr(s"(__rn - 1) div $window"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Neighbor join through rank buckets: a candidate pair (rn_a < rn_b,
    // rn_b − rn_a <= window) always has bucket_b ∈ {bucket_a, bucket_a+1},
    // and the two cases are disjoint — no dedup pass needed.
    val left = ranked.select(col("__blk"), col(idCol).as("__ida"),
        col("__rn").as("__rna"),
        explode(array(col("__b"), col("__b") + 1)).as("__b"))
    val cand = left.join(
        ranked.select(col("__blk"), col(idCol).as("__idb"),
          col("__rn").as("__rnb"), col("__b")),
        Seq("__blk", "__b"))
      .filter(col("__rnb") > col("__rna") &&
        col("__rnb") <= col("__rna") + window)
      .select(least(col("__ida"), col("__idb")).as("da"),
        greatest(col("__ida"), col("__idb")).as("db"))
    val sh = shingleSet(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    scorePairs(pairIntersections(cand, sh, idCol), cnt, idCol, threshold)
  }

  /** ASYMMETRIC near-containment pairs over winnowing fingerprints: doc
    * `da` is (near-)contained in `db` when the shared fraction of da's
    * OWN fingerprint set reaches `minNum/minDen` —
    * `|F(da) ∩ F(db)| · minDen ≥ |F(da)| · minNum` — the
    * quote/mirror/boilerplate-expansion detector symmetric Jaccard
    * misses: a paragraph wholly copied into a 100× longer document has
    * tiny Jaccard but containment ≈ 1. The threshold is an integer
    * cross-multiplication, so membership never hinges on FP rounding.
    *
    * Winnowing (MOSS) supplies the guarantee: any shared run of ≥ w+k−1
    * tokens contributes at least one shared fingerprint, at ~2/(w+1)
    * selection density — so fingerprint containment tracks substring
    * containment at a fraction of the set size.
    *
    * `maxDocFreq` drops corpus-boilerplate fingerprints (appearing in
    * more than that many docs) BEFORE both the intersection and the
    * denominators — both sides of the test see the same filtered world,
    * keeping the ratio meaningful.
    *
    * Scale posture: inverted-index self-join on fingerprint (posting
    * lists bounded by `maxDocFreq`, so the pair explosion is capped at
    * df² per list), one (da, db) count aggregate, doc-sized size join —
    * never an all-pairs product.
    *
    * Output: (da, db, ni, na, contain) — directed; both directions
    * appear when containment is mutual.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int, w: Int, minNum: Long, minDen: Long,
                       maxDocFreq: Long): DataFrame = {
    require(minDen > 0 && minNum >= 0, "threshold must be a ratio >= 0")
    val fps = TextOps.winnowFingerprints(df, idCol, textCol, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq).select("fp")
    val keep = fps.join(rare, "fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = keep.groupBy(idCol).agg(count(lit(1)).as("na"))
    val inter = keep.select(col("fp"), col(idCol).as("da"))
      .join(keep.select(col("fp"), col(idCol).as("db")), "fp")
      .filter(col("da") =!= col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
    inter.join(sizes.withColumnRenamed(idCol, "da"), "da")
      .filter(col("ni") * minDen >= col("na") * minNum)
      .select(col("da"), col("db"), col("ni"), col("na"),
        (col("ni").cast("double") / col("na").cast("double"))
          .as("contain"))
  }

  /** Candidate (da, db) pairs sharing at least one PREFIX shingle — the
    * prefix being each doc's `n - ceil(t*n) + 1` rarest shingles in the
    * global (document frequency, shingle) order. Complete for Jaccard >= t
    * by the PPJoin prefix-filter lemma. Two shuffles to rank (shingle df,
    * per-doc window) + the self-join over prefix posting lists, which are
    * short BY CONSTRUCTION (rarest shingles have the fewest docs).
    */
  private def prefixCandidates(sh: DataFrame, idCol: String,
                               threshold: Double): DataFrame = {
    val dfTab = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__df"), col("shingle"))
    val wN = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val prefix = sh.join(dfTab, "shingle")
      .withColumn("__rn", row_number().over(wDoc))
      .withColumn("__n", count(lit(1)).over(wN))
      .filter(col("__rn") <=
        col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col(idCol), col("shingle"))
    sharedShingleIntersections(prefix, idCol).select("da", "db")
  }

  /** Pair intersection counts via the inverted-index self-join. The join
    * *output* is orders of magnitude larger than its input (freq² pairs per
    * shingle), so input-size-driven planning gets it badly wrong: AQE would
    * happily broadcast the (small) input and/or coalesce the join down to a
    * couple of tasks, serializing a multi-million-row explosion. Pin the
    * plan instead: hash-repartition both sides on the key at full
    * parallelism and force a shuffle merge join.
    *
    * `lengthFilter = Some(t)`: EXACT prune for Jaccard >= t over the very
    * sets being joined — jacc = |∩|/|∪| <= min/max, so any qualifying pair
    * has `min(|A|,|B|) >= t·max(|A|,|B|)`. Applied as a join residual it
    * drops a dissimilar pair at its FIRST shared shingle instead of
    * counting every shared shingle into the (da, db) aggregate — at a 0.8
    * threshold most of the freq² pair stream dies here, before the
    * aggregate hash map and its shuffle. The `- 0.5` slack (sizes are
    * integers) makes double rounding of `t·max` provably unable to prune a
    * boundary pair the final double-compared `jacc >= t` filter would keep.
    * Only sound when `sh` holds the SAME sets the final score uses —
    * callers joining over df-cut/prefix subsets must not pass it.
    *
    * With `lengthFilter` set the output also CARRIES each doc's full set
    * size (`na`, `nb`) — the window already attached `__n` to every row
    * entering the self-join, so every (da, db) group knows both sizes for
    * free (`first` over a constant-per-group column), and callers score
    * with [[scorePairsCarried]] instead of re-aggregating a per-doc count
    * table from the exploded shingle set and joining it on twice
    * (measured r15, OPTIMIZATION_r15.md §1.4: 3.60 → 2.66 s median at
    * sf0.1 on the x2_jaccard_pairs shape, equal-or-better at sf1 — one
    * fewer corpus-sized aggregation pass plus two fewer joins).
    */
  private def sharedShingleIntersections(sh: DataFrame, idCol: String,
      lengthFilter: Option[Double] = None): DataFrame = {
    val p = sh.sparkSession.sparkContext.defaultParallelism
    val withN = lengthFilter match {
      case Some(_) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
        sh.withColumn("__n", count(lit(1)).over(w))
      case None => sh
    }
    val byShingle = withN.repartition(p, col("shingle"))
    val base = col("a.shingle") === col("b.shingle") &&
      col(s"a.$idCol") < col(s"b.$idCol")
    val cond = lengthFilter match {
      case Some(t) => base &&
        least(col("a.__n"), col("b.__n")).cast("double") >=
          lit(t) * greatest(col("a.__n"), col("b.__n")).cast("double") -
            lit(0.5)
      case None => base
    }
    val joined = byShingle.as("a").hint("shuffle_merge")
      .join(byShingle.as("b").hint("shuffle_merge"), cond)
      .groupBy(col(s"a.$idCol").as("da"), col(s"b.$idCol").as("db"))
    lengthFilter match {
      case Some(_) => joined.agg(count(lit(1)).as("ni"),
        first(col("a.__n")).as("na"), first(col("b.__n")).as("nb"))
      case None => joined.agg(count(lit(1)).as("ni"))
    }
  }

  /** (da, db, ni, na, nb) → thresholded (da, db, jacc): the Jaccard score
    * of intersection tables that carry both docs' set sizes
    * ([[sharedShingleIntersections]] with a lengthFilter, or
    * [[scorePairs]] after its two size joins).
    */
  private def scorePairsCarried(inter: DataFrame,
                                threshold: Double): DataFrame =
    inter
      .withColumn("jacc",
        col("ni").cast("double") /
          (col("na") + col("nb") - col("ni")).cast("double"))
      .filter(col("jacc") >= threshold)
      .select("da", "db", "jacc")

  /** Shingle-intersection counts restricted to an explicit candidate-pair
    * set: explode each pair into the left doc's shingles, then equi-join on
    * the right doc's shingles. Work is O(|cand| × shingles/doc) — linear in
    * the candidate pairs — where the inverted-index self-join over candidate
    * *docs* would be quadratic when background similarity makes candidate
    * docs ≈ the whole corpus. Pairs sharing no shingle drop out (jacc 0 —
    * below any positive threshold by construction).
    */
  private def pairIntersections(
      cand: DataFrame, sh: DataFrame, idCol: String): DataFrame =
    cand.join(sh.select(col(idCol).as("da"), col("shingle")), "da")
      .join(sh.select(col(idCol).as("db"), col("shingle")), Seq("db", "shingle"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))

  /** (da, db, ni) + per-doc set sizes → thresholded (da, db, jacc). */
  private def scorePairs(inter: DataFrame, cnt: DataFrame, idCol: String,
                         threshold: Double): DataFrame =
    scorePairsCarried(inter
      .join(cnt.select(col(idCol).as("da"), col("n_sh").as("na")), "da")
      .join(cnt.select(col(idCol).as("db"), col("n_sh").as("nb")), "db"),
      threshold)

  /** All-pairs sparse COSINE similarity over bag-of-words count vectors,
    * through the same inverted-index self-join discipline as
    * [[jaccardPairs]] — a pair is materialized only if it shares a token.
    * Where Jaccard sees *sets*, this sees *frequencies*: near-dups that
    * repeat the shared material different numbers of times score
    * differently, and the score is the classic sparse-vector cosine that
    * tf-idf retrieval stacks use.
    *
    * Gate-exact by construction: the numerator Σ_t tf_a(t)·tf_b(t) and the
    * squared norms Σ_t tf(t)² are sums of exact integer products
    * (accumulated as DECIMAL(38,0) — order-independent, overflow-proof),
    * and the one double division + sqrt at the end is IEEE-identical in
    * any engine. No floating-point accumulation anywhere.
    *
    * `maxDocFreq` (0 = off) prunes tokens above the document-frequency cut
    * from the VECTOR SPACE itself — the standard stopword/boilerplate cut
    * for sparse similarity. Unlike [[jaccardPairs]]' candidate-only cut,
    * pruning here intentionally changes the reported value: the pruned
    * space IS the similarity definition, and it is also what bounds
    * posting-list explosion at corpus scale.
    *
    * `shingleN` (0 = unigrams) switches the vector space to n-word
    * shingle counts. This is the knob that keeps the inverted index
    * sub-quadratic on LOW-CARDINALITY vocabularies: posting-pair mass is
    * Σ_t df_t², and on a corpus whose unigram vocabulary is tiny every
    * token's df is O(corpus) — measured on the sf1 fixture (26 distinct
    * unigrams over 50k docs): unigram mass ≈ 2·10¹⁰ versus 1.5·10⁷ for
    * 4-shingles.
    *
    * SCALE CONTRACT (compile-enforced): at least one posting-list bound
    * must be active — `shingleN > 0` or `maxDocFreq > 0`. Unigrams with
    * no df cap make the self-join provably quadratic (every doc pair
    * sharing any common word is materialized — the measured 2·10¹⁰
    * wall above), so that combination is a small-corpus DEBUGGING mode
    * and must be requested explicitly via `allowUnigramDebug = true`.
    *
    * Output: (da, db, sim) with da < db, sim >= threshold.
    */
  def sparseCosinePairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDocFreq: Long = 0L,
      shingleN: Int = 0, allowUnigramDebug: Boolean = false): DataFrame = {
    require(shingleN > 0 || maxDocFreq > 0 || allowUnigramDebug,
      "sparseCosinePairs: unbounded unigram mode is quadratic " +
        "(posting-pair mass = sum over tokens of df^2 — O(n^2) when any " +
        "token's df is O(corpus)). Set shingleN > 0 (shingle vector " +
        "space) or maxDocFreq > 0 (df cut), or opt into the " +
        "small-corpus debugging mode with allowUnigramDebug = true")
    val unit =
      if (shingleN <= 0) TextOps.tokens(col(textCol))
      else TextOps.shingles(TextOps.tokens(col(textCol)), shingleN)
    val tf = Par.spread(df)
      .select(col(idCol), explode(unit).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
    val space =
      if (maxDocFreq <= 0) tf
      else {
        val keep = tf.groupBy("tok").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDocFreq).select("tok")
        tf.join(keep, "tok")
      }
    // Feeds three branches (norms + both self-join sides) — materialize
    // once, like jaccardPairs' shingle set.
    val sp = space.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n2 = sp.groupBy(idCol)
      .agg(sum((col("tf") * col("tf")).cast("decimal(38,0)")).as("n2"))
    // Same pinned shuffle-merge as sharedShingleIntersections: the join
    // OUTPUT (df² pairs per token) dwarfs its input, so input-sized AQE
    // planning must not broadcast or coalesce it.
    val p = df.sparkSession.sparkContext.defaultParallelism
    val byTok = sp.repartition(p, col("tok"))
    val num = byTok.as("a").hint("shuffle_merge")
      .join(byTok.as("b").hint("shuffle_merge"),
        col("a.tok") === col("b.tok") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("da"), col(s"b.$idCol").as("db"))
      .agg(sum((col("a.tf") * col("b.tf")).cast("decimal(38,0)")).as("num"))
    num
      .join(n2.select(col(idCol).as("da"), col("n2").as("na")), "da")
      .join(n2.select(col(idCol).as("db"), col("n2").as("nb")), "db")
      .withColumn("sim", col("num").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("sim") >= threshold)
      .select("da", "db", "sim")
  }

  /** MinHash signature column j for a shingle: portable variant hashes with
    * md5 (string min — reproducible in any engine), fast variant with
    * xxhash64 (codegen'd long min — what a production cluster should run).
    */
  private def minhashOf(shingle: Column, seed: Int, portable: Boolean): Column =
    if (portable) md5(concat(lit(s"$seed|"), shingle))
    else xxhash64(lit(seed), shingle)

  /** MinHash + LSH banding near-dup pairs, verified with exact Jaccard.
    *
    * Plan shape: shingle explode → k min-hash aggregations (one shuffle on
    * docId) → band hashes → groupBy(band) self-join for candidates (shuffle
    * on band hash, pair space bounded by band collisions) → exact Jaccard
    * verify restricted to the candidate *pairs* (pairIntersections — never
    * the quadratic all-pairs among candidate docs). AQE handles band-bucket
    * skew.
    *
    * Tuning: the s-curve midpoint is (1/bands)^(bands/k); rows-per-band
    * r = k/bands controls how hard low-similarity pairs are suppressed. On
    * corpora with high *background* similarity (shared boilerplate/vocab),
    * r must be >= 4 or the candidate set grows quadratically — r=2 at a
    * background Jaccard of 0.2 admits 4% of ALL pairs per band.
    *
    * The fast (xxhash64) path aggregates all k signature slots in ONE
    * native [[org.apache.spark.sql.graft.MinHashAgg]] buffer — one
    * aggregate expression regardless of k, so production k=128 doesn't plan
    * 128 min() columns. The portable path keeps k separate md5-string
    * min()s (engine-reproducible for the oracle).
    *
    * @param k        signature length (hash functions)
    * @param bands    number of LSH bands; rows per band = k / bands
    * @param portable md5-based hashing (engine-portable, oracle-checkable)
    *                 instead of xxhash64
    */
  def minHashLsh(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, threshold: Double,
      portable: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    // Feeds signature aggregation AND the verify joins — materialize once.
    val sh = shingleSet(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandCandidates(sh, idCol, k, bands, portable)
    // Exact verify, restricted to the candidate pairs.
    val cnt = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    scorePairs(pairIntersections(cand, sh, idCol), cnt, idCol, threshold)
  }

  /** Measured recall of the LSH candidate stage against exact-Jaccard
    * ground truth — the quality-control number for the banding parameters
    * (k, bands): of all true pairs at `threshold`, how many does banding
    * surface as candidates? Run on a sample before committing a (k, bands)
    * choice to a 100 TB dedup pass; the s-curve predicts recall
    * 1-(1-s^r)^b only under the uniform-hashing idealization, and this
    * measures it.
    *
    * Scale posture: truth via the same inverted-index self-join as
    * [[jaccardPairs]] (shared-shingle blocking — no all-pairs), candidates
    * via band collisions; the scorecard is a full-outer join of two
    * distinct pair sets + one aggregate. Intended for a sampled corpus —
    * ground truth at full scale is exactly what LSH exists to avoid.
    *
    * Output: one row (n_truth, n_cand, n_hit, recall) — three exact longs
    * and one IEEE division.
    */
  def lshRecall(df: DataFrame, idCol: String, textCol: String,
                n: Int, k: Int, bands: Int, threshold: Double,
                portable: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val sh = shingleSet(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = exactPairs(sh, idCol, threshold)
      .select(col("da"), col("db"), lit(1L).as("__t"))
    val cand = bandCandidates(sh, idCol, k, bands, portable)
      .withColumn("__c", lit(1L))
    truth.join(cand, Seq("da", "db"), "full_outer")
      .agg(coalesce(sum("__t"), lit(0L)).as("n_truth"),
        coalesce(sum("__c"), lit(0L)).as("n_cand"),
        coalesce(sum(when(col("__t").isNotNull && col("__c").isNotNull, 1L)),
          lit(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_truth").cast("double"))
          .as("recall"))
  }

  /** Audited near-dup pass: the [[minHashLsh]] surfaced pair set AND the
    * exact-Jaccard truth set ([[jaccardPairs]] semantics), reduced to the
    * one-row audit scorecard the x2_minhash_* verdict gates emit —
    * (n_exact, n_extra = surfaced pairs missing from truth, n_hit =
    * surfaced ∩ truth). n_extra is provably 0 when the two intersection
    * paths agree (the surfaced side verifies candidates with the same
    * threshold arithmetic), so a nonzero value is the audit catching a
    * divergence between [[pairIntersections]] and
    * [[sharedShingleIntersections]]; n_hit / n_exact is the banding's
    * measured recall.
    *
    * Why one operator instead of composing minHashLsh + jaccardPairs:
    * both start from the same shingle explosion, and composing them
    * scans and explodes the corpus TWICE. At 100 TB the shingle
    * materialization IS the dominant input cost, so the audit shares ONE
    * persisted shingle set (and its per-doc counts) across the surfaced
    * and truth branches — the same sharing [[lshRecall]] uses. The two
    * intersection computations stay structurally independent (band
    * collisions → pair-restricted counts vs inverted-index self-join),
    * which is what gives the subset verdict its teeth.
    */
  def lshAudit(df: DataFrame, idCol: String, textCol: String,
               n: Int, k: Int, bands: Int, threshold: Double,
               portable: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val sh = shingleSet(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val truth = exactPairs(sh, idCol, threshold)
      .select(col("da"), col("db"), lit(1L).as("__t"))
    val cand = bandCandidates(sh, idCol, k, bands, portable)
    val surfaced = scorePairs(pairIntersections(cand, sh, idCol),
        cnt, idCol, threshold)
      .select(col("da"), col("db"), lit(1L).as("__s"))
    truth.join(surfaced, Seq("da", "db"), "full_outer")
      .agg(
        coalesce(sum("__t"), lit(0L)).as("n_exact"),
        coalesce(sum(when(col("__s").isNotNull && col("__t").isNull, 1L)),
          lit(0L)).as("n_extra"),
        coalesce(sum(when(col("__s").isNotNull && col("__t").isNotNull, 1L)),
          lit(0L)).as("n_hit"))
  }

  /** Weighted multi-field record linkage (the Fellegi–Sunter/Splink
    * shape reduced to deterministic integer weights): candidate pairs
    * from an equality BLOCK, scored by the sum of per-field agreement
    * weights — the structured-record entity-resolution operator next to
    * the text near-dup family (customers/suppliers/products with typos
    * and partial fields rather than documents). A field contributes its
    * weight only when BOTH sides are non-null and equal — a missing
    * value carries zero evidence (the Fellegi–Sunter convention; scoring
    * null<=>null as agreement would inflate scores exactly on the
    * partial-fields data this operator exists for). A pair must reach
    * `minScore` to surface.
    * Integer weights make the score — and therefore the match set —
    * exact under any partitioning (probabilistic FS weights are
    * log-odds; fixed integer approximations of them keep the decision
    * reproducible, the engine-wide discipline).
    *
    * Scale posture: one self-equijoin on the block key (pair space
    * bounded per block — choose blocks as for any ER blocking), scoring
    * as a codegen'd projection; no cross join, nothing driver-side.
    *
    * @param fields (column, weight) agreement terms
    * @return (da, db, score) with da < db, score >= minScore
    */
  def fieldMatchPairs(df: DataFrame, idCol: String, blockCol: String,
                      fields: Seq[(Column, Long)],
                      minScore: Long): DataFrame = {
    require(fields.nonEmpty, "need at least one field")
    val proj = df.select(Seq(col(idCol).as("__id"), col(blockCol).as("__blk"))
      ++ fields.zipWithIndex.map { case ((c, _), i) => c.as(s"__f$i") }: _*)
    val score = fields.indices.map { i =>
      when(col(s"a.__f$i").isNotNull &&
          (col(s"a.__f$i") <=> col(s"b.__f$i")), lit(fields(i)._2))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    proj.as("a").join(proj.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__id") < col("b.__id"))
      .withColumn("score", score)
      .filter(col("score") >= minScore)
      .select(col("a.__id").as("da"), col("b.__id").as("db"), col("score"))
  }

  /** Recall scorecard for sorted-neighborhood blocking — of all exact
    * Jaccard >= threshold pairs ([[jaccardPairs]], the ground truth),
    * the fraction [[sortedNeighborhoodPairs]] surfaces with the given
    * (window, keyLen). Precision is 1 by construction (SNM verifies
    * candidates with the same exact arithmetic), so recall is THE number
    * that prices the window: run it on a sample before choosing the
    * corpus pass, exactly like [[lshRecall]] prices (k, bands).
    *
    * Scale posture: both pair sets are blocked operators; the combine is
    * two one-row counts crossed as broadcasts.
    *
    * @return one row: (n_truth, n_found, recall — null when no truth)
    */
  def snmRecall(df: DataFrame, idCol: String, textCol: String,
                blockCol: String, window: Int, keyLen: Int,
                n: Int, threshold: Double): DataFrame = {
    val t = jaccardPairs(df, idCol, textCol, n, threshold)
      .agg(count(lit(1)).as("n_truth"))
    val f = sortedNeighborhoodPairs(df, idCol, textCol, blockCol,
        window, keyLen, n, threshold)
      .agg(count(lit(1)).as("n_found"))
    t.crossJoin(broadcast(f))
      .select(col("n_truth"), col("n_found"),
        when(col("n_truth") > 0,
          col("n_found").cast("double") / col("n_truth").cast("double"))
          .as("recall"))
  }

  /** (docId, band, bh) LSH band-hash table: all band hashes in ONE
    * posexplode over the signature row — a b-way union here would re-run
    * the signature aggregation once per band branch when the result
    * materializes. The fast path aggregates all k signature slots in one
    * [[org.apache.spark.sql.graft.MinHashAgg]] buffer (one aggregate
    * expression regardless of k); the portable path keeps k md5-string
    * min()s (engine-reproducible for the oracle).
    */
  private def bandHashTable(sh: DataFrame, idCol: String, k: Int, bands: Int,
                            portable: Boolean): DataFrame = {
    val r = k / bands
    if (portable) {
      val sigCols = (0 until k).map(j =>
        min(minhashOf(col("shingle"), j, portable)).as(s"m$j"))
      val sig = sh.groupBy(idCol).agg(sigCols.head, sigCols.tail: _*)
      val bandHashes = (0 until bands).map { b =>
        val cols = (b * r until (b + 1) * r).map(j => col(s"m$j").cast("string"))
        md5(concat_ws("|", cols: _*))
      }
      sig.select(col(idCol), posexplode(array(bandHashes: _*)).as(Seq("band", "bh")))
    } else {
      // One buffer of k longs per doc, one aggregate expression total.
      val sig = sh.groupBy(idCol).agg(
        org.apache.spark.sql.graft.MinHashAgg.of(col("shingle"), k).as("sig"))
      val bandHashes = (0 until bands).map(b =>
        xxhash64(slice(col("sig"), b * r + 1, r)))
      sig.select(col(idCol), posexplode(array(bandHashes: _*)).as(Seq("band", "bh")))
    }
  }

  /** Candidate pairs (da, db), da < db, of docs sharing a band hash.
    * The band table is persisted: it feeds both sides of the self-join,
    * and without that the signature aggregation re-runs once per side.
    */
  private def bandCandidates(sh: DataFrame, idCol: String, k: Int, bands: Int,
                             portable: Boolean): DataFrame = {
    val bandMat = bandHashTable(sh, idCol, k, bands, portable)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandMat.as("x")
      .join(bandMat.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("da"), col(s"y.$idCol").as("db"))
      .distinct()
  }

  /** Exact Jaccard >= `threshold` pairs (da, db, jacc) of the shingle set
    * `sh`: the length-filtered self-join already carries both set sizes.
    */
  private def exactPairs(sh: DataFrame, idCol: String,
                         threshold: Double): DataFrame =
    scorePairsCarried(
      sharedShingleIntersections(sh, idCol, Some(threshold)), threshold)

  /** The lossy df cut: `sh` without shingles in more than `maxDocFreq`
    * docs (0 = keep all) — for candidate generation only.
    */
  private def rareShingles(sh: DataFrame, maxDocFreq: Long): DataFrame =
    if (maxDocFreq <= 0) sh
    else sh.join(sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq).select("shingle"), "shingle")

  /** Incremental NEAR-dup: new-batch docs whose Jaccard similarity to some
    * standing-corpus doc reaches `threshold` — the daily-crawl companion
    * to [[incrementalDedup]] (which only catches byte-identical content).
    * MinHash bands on both sides; candidates are cross-side band
    * collisions only (never corpus×corpus — the standing corpus was
    * already deduped); exact-Jaccard verify restricted to the candidate
    * pairs.
    *
    * Scale posture: the corpus band table and shingle sets are pure
    * functions of the corpus — a production pipeline materializes them
    * once and amortizes across daily batches; per batch, the dominant
    * cost is then proportional to the BATCH, not the corpus (band join
    * against the precomputed index + per-pair verify). Nothing here
    * prevents that: pass a pre-persisted corpus and the plan reuses it.
    *
    * Output: (new_id, corpus_id, jacc), one row per qualifying pair.
    */
  def incrementalNearDup(
      newBatch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, threshold: Double,
      portable: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val shN = shingleSet(newBatch, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shC = shingleSet(corpus, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandHashTable(shN, idCol, k, bands, portable).as("x")
      .join(bandHashTable(shC, idCol, k, bands, portable).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col(s"x.$idCol").as("na"), col(s"y.$idCol").as("ca"))
      .distinct()
    val inter = cand
      .join(shN.select(col(idCol).as("na"), col("shingle")), "na")
      .join(shC.select(col(idCol).as("ca"), col("shingle")), Seq("ca", "shingle"))
      .groupBy("na", "ca").agg(count(lit(1)).as("ni"))
    inter
      .join(shN.groupBy(idCol).agg(count(lit(1)).as("n_a"))
        .withColumnRenamed(idCol, "na"), "na")
      .join(shC.groupBy(idCol).agg(count(lit(1)).as("n_b"))
        .withColumnRenamed(idCol, "ca"), "ca")
      .withColumn("jacc", col("ni").cast("double") /
        (col("n_a") + col("n_b") - col("ni")).cast("double"))
      .filter(col("jacc") >= threshold)
      .select(col("na").as("new_id"), col("ca").as("corpus_id"), col("jacc"))
  }

  /** Edit-distance near-dup pairs over a bounded prefix: candidates come
    * from the shared-shingle inverted index (never all pairs), then the
    * verify computes Levenshtein distance between the first `prefixLen`
    * characters. Bounding the operand length matters twice at scale: the
    * DP is O(prefixLen²) per pair, and unbounded document-length operands
    * would make a single candidate pair arbitrarily expensive. Exact
    * integer distance — reproducible in any engine with the classic
    * Levenshtein definition.
    *
    * `maxDocFreq` mirrors [[jaccardPairs]]: drop shingles appearing in more
    * than that many docs from *candidate generation only* (0 = keep all).
    * Without the cut, boilerplate shingles make the inverted-index self-join
    * quadratic on high-background-similarity corpora — the exact hazard the
    * jaccardPairs cut exists for. Verification always runs on the explicit
    * candidate pairs, so pairs that survive are scored identically.
    *
    * Output: (da, db, dist) with da < db, dist <= maxDist.
    */
  def editDistancePairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, prefixLen: Int, maxDist: Int, maxDocFreq: Long = 0L): DataFrame = {
    val sh = shingleSet(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = sharedShingleIntersections(rareShingles(sh, maxDocFreq), idCol)
      .select("da", "db")
    val pre = df.select(col(idCol),
      substring(col(textCol), 1, prefixLen).as("__pre"))
    cand
      .join(pre.select(col(idCol).as("da"), col("__pre").as("pa")), "da")
      .join(pre.select(col(idCol).as("db"), col("__pre").as("pb")), "db")
      // Bounded-threshold Levenshtein (Spark 3.5+): the DP abandons a pair
      // as soon as its distance provably exceeds maxDist — O(maxDist·len)
      // per pair instead of O(len²), and candidates are overwhelmingly
      // ABOVE the cut on real corpora, so the early exit is the common
      // path. Exact-identical output: the bounded form returns the true
      // distance for every pair within maxDist and -1 (filtered here)
      // otherwise, so the kept (da, db, dist) set matches the unbounded
      // form row for row.
      .withColumn("dist", levenshtein(col("pa"), col("pb"), maxDist))
      .filter(col("dist") >= 0)
      .select("da", "db", "dist")
  }

  /** SimHash bucketing: docs sharing a 16-bit SimHash are near-dup
    * candidates. Returns (docId, simhash). One shuffle-free projection —
    * bucket-join downstream as needed.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.spread(df)
      .select(col(idCol),
        TextOps.simhashBits(array_distinct(TextOps.tokens(col(textCol))))
          .as("simhash"))

  /** SimHash NEAR-DUP PAIRS (the Manku et al. web-dedup recipe): block by
    * the four 4-bit nibble bands of the 16-bit signature — by pigeonhole,
    * any pair within Hamming distance 3 shares at least one exact band —
    * then verify exact Hamming distance on band-collision candidates
    * only. The banding is the same candidate-bounding discipline as
    * MinHash-LSH, but over *bit* signatures: one shuffle on (band, key),
    * pair space bounded by band collisions, never all-pairs.
    *
    * Output: (da, db, hamming) with da < db, hamming <= maxHamming.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band blocking over 16 bits is complete only for Hamming <= 3")
    val sig = simhash(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        substring(col("simhash"), b * 4 + 1, 4)): _*))
        .as(Seq("band", "bkey")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("da"), col(s"b.$idCol").as("db"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct() // a pair may collide in several bands
    val hamming = (1 to 16).map(i =>
      when(substring(col("sa"), i, 1) =!= substring(col("sb"), i, 1), 1)
        .otherwise(0)).reduce(_ + _)
    cand.withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("da", "db", "hamming")
  }

  /** Near-dup *resolution*: a pair list (da, db) → one cluster id per doc —
    * the minimum doc id reachable through the duplicate-pair graph (docs in
    * no pair are their own cluster). This is the step a training pipeline
    * actually runs: pairs are evidence, the deduped corpus is the product.
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * the iterated state is the EDGE SET itself, rewired toward each
    * component's minimum id every round:
    *   large-star(u): every neighbor v > u re-attaches to
    *     m(u) = min(N(u) ∪ {u}) — exactly one (m, v) edge per input edge;
    *   small-star(u): u and its smaller neighbors re-attach to their min.
    * Both phases only ever connect nodes that share a component (edges are
    * rewired along existing paths, never invented), a monotone potential
    * strictly decreases until the edge set is a fixpoint, and the fixpoint
    * is exactly one star per component centered at the component min — the
    * labels fall out of the final edge set with one aggregate.
    *
    * Why not min-label propagation + pointer jumping (the r3–r11 loop
    * here): propagation moves the component min ONE HOP per round across
    * a local-min basin boundary, and pointer jumping cannot accelerate
    * across a boundary the labels have not crossed yet — on chain-shaped
    * clusters (sf1 DBSCAN: ~60-node eps-chains per user) the old loop
    * measured 23 rounds / 51.6 s of a 67 s cold gate, and an offline
    * replay of the same subgraphs showed extra or to-fixpoint jumps do
    * NOT reduce the round count (PLANS round 12). Star contraction
    * rewires edges instead of labels, so a basin that learns a smaller
    * min re-attaches its whole frontier at once: the same subgraphs
    * converge in <= 5 rounds, adversarial 1000-node paths in 11, and
    * 2,300 randomized offline graphs replay the union-find ground truth
    * exactly (ResolveStarSpec re-proves equivalence in-engine).
    *
    * Scale posture: each round is two groupBy+join phases over the
    * current edge set — keyed equi-work, nothing on the driver but the
    * loop counter — and the edge set never grows (one output edge per
    * input edge in large-star; small-star only re-centers stars), so
    * round cost is bounded by the input pair count and collapses toward
    * one star edge per non-min node. Every round is FreshCheckpoint-
    * pinned: plans stay a flat LogicalRDD leaf (per-round Catalyst
    * planning measured 0.7–3 s/round on the old deep-lineage loop —
    * DOMINANT over its 0.3 s execution), stats stay default-sized, and a
    * superseded round's blocks are released as soon as its successor
    * materializes.
    *
    * Output: (id, cluster) for every doc in `df`, cluster = min id of the
    * doc's connected component.
    *
    * `maxRounds` is a loud-failure policy bound, not a tuning knob: star
    * contraction converges in O(log d) rounds for component diameter d
    * (the offline probe set: near-cliques <= 5 rounds, an adversarial
    * 1000-node path 11 rounds — doubling the path adds ~1 round), so the
    * default 25 covers diameters far beyond 2^20 nodes of pure chain.
    * An input that trips the require is pathological by construction
    * (e.g. a single 10^9-node path emitted as near-dup "pairs") and
    * should fail by policy here rather than spin; raise maxRounds
    * explicitly if such a graph is ever legitimate.
    */
  def resolveClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                      maxRounds: Int = 25): DataFrame = {
    // The long casts below must be lossless: a string/decimal id would cast
    // to null silently and every downstream join would drop rows with no
    // error. Restrict to integral id columns (min-id contraction needs a
    // total order closed under min anyway).
    requireIntegral(df.schema(idCol).dataType, s"$idCol (resolveClusters id)")
    requireIntegral(pairs.schema("da").dataType, "pairs.da (resolveClusters)")
    requireIntegral(pairs.schema("db").dataType, "pairs.db (resolveClusters)")
    val ids = df.select(col(idCol).cast("long").as("id"))
    // Round-0 state: the canonical undirected edge view — a < b, self-pairs
    // dropped. Deliberately NOT distinct'd: round 0's aggregates are
    // duplicate-safe under min and its output IS distinct'd, so duplicate
    // pair evidence (LSH emits a pair once per colliding band) inflates
    // exactly one round instead of costing every caller a guaranteed
    // full-pair-set shuffle here (measured ~1 s on the 4.5M-pair sf1
    // record-linkage graph). Convergence stays sound with a dup-bearing
    // round 0: a false converge would need round-1 ⊆ set(e0) with
    // |round-1| = |e0| rows while e0 holds dups — impossible, since then
    // |set(e0)| < |e0| = |round-1| = |set(round-1)| ⊆ |set(e0)|.
    val e0 = pairs.select(
        least(col("da").cast("long"), col("db").cast("long")).as("a"),
        greatest(col("da").cast("long"), col("db").cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
    val stars = org.apache.spark.sql.graft.FreshCheckpoint.rounds { r =>
      var pin = r.pin(e0)
      var e = pin.df
      // No edges: every doc is already a singleton.
      var converged = pin.rows == 0L
      var round = 0
      while (!converged && round < maxRounds) {
        // Large-star: every current edge (u,v), u < v, is rewired to
        // (min(N(u) ∪ {u}), v) — one output edge per input edge, computed
        // from the doubled neighbor view with one aggregate + one equijoin.
        // Duplicates are NOT collapsed here: the small-star aggregate below
        // is duplicate-safe under min, and the round's pinned output is
        // distinct'd once.
        val nbr = e.select(col("a").as("u"), col("b").as("v"))
          .unionByName(e.select(col("b").as("u"), col("a").as("v")))
        val mL = nbr.groupBy("u").agg(min("v").as("mv"))
          .select(col("u"), least(col("u"), col("mv")).as("m"))
        val e1 = nbr.join(mL, "u").filter(col("v") > col("u"))
          .select(col("m").as("a"), col("v").as("b")) // m <= u < v: canonical
        // Small-star: u and all its smaller neighbors re-attach to their
        // min. Every node of e1 survives (as a re-attached smaller neighbor,
        // as the kept min, or via its own (m, u) edge), so no component
        // member is ever dropped mid-contraction.
        val nbr1 = e1.select(col("b").as("u"), col("a").as("v")) // v < u
        val mS = nbr1.groupBy("u").agg(min("v").as("m"))
        val next = nbr1.join(mS, "u")
          .filter(col("m") =!= col("v"))
          .select(col("m").as("a"), col("v").as("b"))
          .unionByName(mS.select(col("m").as("a"), col("u").as("b")))
          .distinct()
        val nextPin = r.pin(next)
        // Fixpoint = exact SET equality with the previous round. The row
        // count (free from the pin's forcing count) screens; only
        // count-equal rounds pay the one-job anti-join that PROVES equality
        // — a count can plateau while edges still churn, and stopping on a
        // plateau would freeze labels mid-contraction.
        converged = nextPin.rows == pin.rows &&
          nextPin.df.join(e, Seq("a", "b"), "left_anti").isEmpty
        // Predecessor pin retired only now: the successor is materialized
        // and nothing reads it again.
        r.release(pin)
        pin = nextPin
        e = pin.df
        round += 1
      }
      require(converged,
        s"star contraction did not converge in $maxRounds rounds")
      pin
    }
    // Fixpoint stars: every non-center node carries exactly one
    // (center, node) edge and centers appear only on the a side. The
    // min-aggregate is defensive (it also collapses the center's
    // duplicate self-rows from the union).
    val labels = stars.select(col("b").as("id"), col("a").as("cluster"))
      .unionByName(stars.select(col("a").as("id"), col("a").as("cluster")))
      .groupBy("id").agg(min("cluster").as("cluster"))
    // Singletons: every doc with no near-dup edge is its own cluster. The
    // final round's pinned blocks stay live — the returned plan reads
    // them (callers/Verify release per-gate via getPersistentRDDs).
    labels.unionByName(
      ids.join(labels.select("id"), Seq("id"), "left_anti")
        .withColumn("cluster", col("id")))
  }

  /** Deduped corpus: keep exactly the canonical (minimum-id) doc of every
    * cluster. One broadcast-able join of the corpus against its cluster map.
    */
  def dedupByClusters(df: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    requireIntegral(df.schema(idCol).dataType, s"$idCol (dedupByClusters id)")
    df.join(labels.filter(col("id") === col("cluster"))
        .select(col("id").as(idCol)), idCol)
  }

  /** Deduped corpus keeping the BEST doc of every cluster instead of the
    * minimum-id one: per cluster, the row maximizing `scoreCol` (min id
    * tiebreak — total order, so the pick is deterministic). This is the
    * resolution real curation runs — near-dup clusters keep their
    * highest-quality member, not an arbitrary canonical. One join of the
    * corpus against its cluster map + one keep-first window on cluster id;
    * `WindowGroupLimit` prunes losers map-side before the exchange.
    */
  def dedupByClustersBest(df: DataFrame, idCol: String, scoreCol: String,
                          labels: DataFrame): DataFrame = {
    requireIntegral(df.schema(idCol).dataType, s"$idCol (dedupByClustersBest id)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.join(labels.withColumnRenamed("id", idCol), idCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "cluster")
  }

  /** Integral-only guard for the id columns the cluster-resolution path
    * casts to long: a string/decimal id would cast to null *silently*, the
    * cluster map would be garbage, and the dedup join would drop every row
    * with no error. Fail loudly at plan time instead.
    */
  private def requireIntegral(dt: org.apache.spark.sql.types.DataType,
                              what: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"integral id column required for $what, got $dt " +
        "(a lossy cast to long would silently null out ids)")
  }

  /** Segment-level exact dedup across the whole corpus: split every doc
    * into consecutive `segWords`-word segments, keep only the FIRST
    * occurrence of each distinct segment corpus-wide (first = smallest
    * (doc id, position)), and rebuild each doc from its surviving segments.
    * This is the line/paragraph-dedup step of web-corpus curation (drop
    * boilerplate repeated across pages) expressed at segment granularity —
    * the corpus here has no newlines, so segments are fixed word windows.
    *
    * Scale posture: two shuffles — one window over the segment hash space
    * (keep-first; AQE skew handling splits hot boilerplate segments'
    * partitions) and one groupBy(doc) to reassemble. Nothing driver-side;
    * segment text itself is the window key, so identical segments co-locate
    * regardless of corpus size.
    *
    * Output: (idCol, n_seg, n_kept, text_kept) for every input doc —
    * docs whose every segment was seen earlier keep n_kept = 0 and an
    * empty text.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segWords: Int): DataFrame = {
    require(segWords > 0, "segWords must be positive")
    val (segs, tot) = TextOps.wordSegments(df, idCol, textCol, segWords, Nil)
    reassemble(tot, keepFirst(segs, "seg", idCol, "pos"),
      idCol, "n_seg", "pos", "seg")
  }

  /** The `pieceCol` strings of a group, space-joined in `posCol` order. */
  private def joinInOrder(posCol: String, pieceCol: String): Column =
    concat_ws(" ",
      transform(array_sort(collect_list(struct(col(posCol), col(pieceCol)))),
        x => x.getItem(pieceCol)))

  /** Rebuilds every doc of `tot` (idCol, totCol) from its `kept` pieces:
    * (idCol, totCol, n_kept, text_kept), the pieces in `posCol` order; a
    * doc with no kept piece gets n_kept = 0 and an empty text.
    */
  private[graft] def reassemble(tot: DataFrame, kept: DataFrame,
                                idCol: String, totCol: String,
                                posCol: String, pieceCol: String): DataFrame = {
    val reb = kept.groupBy(idCol).agg(
      count(lit(1)).cast("long").as("n_kept"),
      joinInOrder(posCol, pieceCol).as("text_kept"))
    tot.join(reb, Seq(idCol), "left")
      .select(col(idCol), col(totCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** The first occurrence of each distinct `pieceCol` corpus-wide, first
    * = smallest (idCol, posCol): the keep-first step of [[segmentDedup]]
    * and [[cdcChunkDedup]].
    */
  private def keepFirst(pieces: DataFrame, pieceCol: String, idCol: String,
                        posCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(pieceCol)).orderBy(col(idCol), col(posCol))
    pieces.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
  }

  /** Content-defined chunk dedup: like [[segmentDedup]], but chunk
    * boundaries come from the CONTENT (a word is a boundary iff the first
    * hex digit of its md5 falls in a 1/8 band), not from fixed positions —
    * so inserting or deleting words early in a document does not shift
    * every downstream chunk, and the unchanged tail still dedups against
    * the original. This is the content-defined-chunking idea from dedup
    * storage systems applied at word granularity; expected chunk length is
    * the reciprocal of the boundary probability (~8 words).
    *
    * Scale posture: explode → one per-doc window (running boundary count —
    * shuffle on doc id) → chunk assembly groupBy → corpus-wide keep-first
    * window on chunk text (AQE splits hot boilerplate chunks) → reassembly.
    * All keyed shuffles; the chunk table feeds two branches (totals +
    * keep-first) and is persisted once, spilling to disk at scale.
    *
    * Output: (idCol, n_chunks, n_kept, text_kept) for every input doc.
    */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Par.spread(df)
      .select(col(idCol),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "word")))
      .withColumn("brk",
        when(substring(md5(col("word")), 1, 1).isin("0", "1"), 1L)
          .otherwise(0L))
    // chunk id = boundaries strictly before this word: a boundary word
    // closes its chunk; the next word starts the new one.
    val wChunk = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ch = toks
      .withColumn("chunk", coalesce(sum("brk").over(wChunk), lit(0L)))
      .groupBy(idCol, "chunk")
      .agg(joinInOrder("pos", "word").as("ctext"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = ch.groupBy(idCol).agg(count(lit(1)).cast("long").as("n_chunks"))
    reassemble(tot, keepFirst(ch, "ctext", idCol, "chunk"),
      idCol, "n_chunks", "chunk", "ctext")
  }

  /** EXACT substring dedup (the Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better" family, re-expressed relationally
    * — r10 verdict next-round #5): every cross-document pair sharing an
    * exact token run of length >= `minRun`, with the pair's LONGEST shared
    * run measured exactly. Catches partially-copied documents whose shared
    * region straddles the fixed boundaries [[segmentDedup]] and
    * [[cdcChunkDedup]] cut on.
    *
    * Method — anchor equivalence instead of suffix arrays: two documents
    * share a run of >= L tokens IFF they share an L-token shingle (the
    * run's first window), so the positional L-shingle self-join is
    * simultaneously candidate generation (perfect recall, no sketch) and
    * the verification lattice. A shared run of t tokens produces exactly
    * t−L+1 shingle matches at CONSECUTIVE a-positions on one DIAGONAL
    * (pa − pb constant); the classic gaps-and-islands window recovers each
    * maximal run as one island, and longest_run = max island + L − 1 —
    * exact, including multiple disjoint shared runs and grams repeated
    * within one document (a repeat lands on another diagonal).
    *
    * Scale posture: one explode + one equi-join keyed on the shingle text
    * (never doc×doc — pair mass is Σ df(g)² over duplicated grams only,
    * i.e. proportional to true shared-run mass) + one keyed window + two
    * aggregates. `maxDf` is the boilerplate valve: grams shared by more
    * than maxDf docs (license headers, navigation chrome) are dropped
    * before the join — at 100 TB a viral 8-gram would otherwise contribute
    * df² pairs that the exact-dedup / cluster-resolution family handles
    * better than a pair list ever could. With maxDf = None the operator
    * is exhaustively exact.
    *
    * Output: (da, db, longest_run, n_anchor_matches, min_pa, min_pb) per
    * pair sharing at least one run — longest_run in tokens; min_pa/min_pb
    * the earliest shared-gram position in each doc (0-based).
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     minRun: Int, maxDf: Option[Long] = None): DataFrame =
    substringIslands(df, idCol, textCol, minRun, maxDf)
      .groupBy("da", "db")
      .agg((max("__cnt") + lit(minRun - 1).cast("long")).as("longest_run"),
        sum("__cnt").as("n_anchor_matches"),
        min("__pa0").as("min_pa"), min("__pb0").as("min_pb"))

  /** The maximal-shared-run ("island") table both [[substringDedup]] and
    * [[substringRemove]] aggregate from: one row per maximal cross-doc
    * shared token run — (da, db, diag, __cnt anchor matches, __pa0/__pb0
    * run start in each doc); run length in tokens = __cnt + minRun − 1.
    * See [[substringDedup]] for the diagonal-islands derivation.
    */
  private def substringIslands(df: DataFrame, idCol: String,
                               textCol: String, minRun: Int,
                               maxDf: Option[Long]): DataFrame = {
    require(minRun >= 2, "minRun must be >= 2 tokens")
    val shg = Par.spread(df).select(col(idCol).as("__id"),
      posexplode(TextOps.shingles(TextOps.tokens(col(textCol)), minRun))
        .as(Seq("pos", "g")))
    val pruned = maxDf match {
      case Some(m) =>
        val keep = shg.groupBy("g")
          .agg(countDistinct(col("__id")).as("__df"))
          .filter(col("__df") <= m).select("g")
        shg.join(keep, "g")
      case None => shg
    }
    val a = pruned.select(col("g"), col("__id").as("da"), col("pos").as("pa"))
    val b = pruned.select(col("g"), col("__id").as("db"), col("pos").as("pb"))
    val m = a.join(b, "g").filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        col("pa").cast("long").as("pa"), col("pb").cast("long").as("pb"))
      .withColumn("diag", col("pa") - col("pb"))
    // (pa, pb) is unique per (da, db, diag) — diag pins pb to pa — so the
    // island id pa − row_number is well-defined with no tiebreak column.
    val wIsl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("da"), col("db"), col("diag")).orderBy(col("pa"))
    m.withColumn("__rn", row_number().over(wIsl))
      .withColumn("__grp", col("pa") - col("__rn"))
      .groupBy("da", "db", "diag", "__grp")
      .agg(count(lit(1)).as("__cnt"),
        min("pa").as("__pa0"), min("pb").as("__pb0"))
  }

  /** Exact substring REMOVAL — the second half of the Lee et al. 2022
    * dedup pipeline (r11 verdict stretch #7): [[substringDedup]] finds
    * the cross-document shared runs; this operator REMOVES them, keeping
    * the occurrence in the earliest document. Semantics, precisely: a
    * token position p of document d is dropped IFF p lies inside a
    * maximal shared run (length >= minRun) between d and some EARLIER
    * document (id order). The earliest document carrying a span keeps it
    * untouched — so every duplicated span survives exactly once in
    * id-earliest position — and transitive chains resolve themselves:
    * for docs A < B < C all sharing a span, B drops it against A and C
    * drops it against both; A keeps it. Within-document repetition is
    * intentionally preserved (the pair lattice is cross-doc, da < db);
    * that is segment/exact dedup's job.
    *
    * Scale posture: everything downstream of the island table is keyed
    * equi-work — dropped positions materialize by exploding each
    * island's [pb0, pb0 + run) interval (linear in true duplicated mass,
    * never doc×doc), distinct to a (doc, pos) drop set, then ONE keyed
    * left join against the token table and one per-doc reassembly
    * aggregate. No range join (a BETWEEN join would plan a nested loop),
    * no per-doc driver logic. `maxDf` is the same boilerplate valve as
    * [[substringDedup]] — at 100 TB, viral template grams must be cut
    * before the pair join, and with the valve on, removal degrades
    * gracefully to "remove rare shared runs only".
    *
    * Output: (idCol, n_tokens, n_dropped, text_kept) — text_kept is the
    * document's surviving tokens in order, space-joined ("" when the
    * whole doc was duplicated from earlier docs).
    */
  def substringRemove(df: DataFrame, idCol: String, textCol: String,
                      minRun: Int, maxDf: Option[Long] = None): DataFrame = {
    val isl = substringIslands(df, idCol, textCol, minRun, maxDf)
    // db-side covered positions: [__pb0, __pb0 + __cnt + minRun − 1).
    val drop = isl.select(col("db").as("__id"),
        explode(sequence(col("__pb0"),
          col("__pb0") + col("__cnt") + lit(minRun.toLong - 2L))).as("pos"))
      .distinct()
      .withColumn("__drop", lit(1L))
    val toks = Par.spread(df).select(col(idCol).as("__id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "w")))
    toks.withColumn("pos", col("pos").cast("long"))
      .join(drop, Seq("__id", "pos"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum("__drop"), lit(0L)).as("n_dropped"),
        concat_ws(" ",
          transform(array_sort(collect_list(
            when(col("__drop").isNull, struct(col("pos"), col("w"))))),
            x => x.getItem("w"))).as("text_kept"))
      .select(col("__id").as(idCol), col("n_tokens"), col("n_dropped"),
        col("text_kept"))
  }

  /** Incremental (new-batch-vs-corpus) exact dedup: rows of `newBatch`
    * whose content hash does not already occur in `corpus`. The daily-crawl
    * pattern — dedup the delta against the standing corpus without ever
    * re-shuffling the corpus content itself, only its hashes.
    *
    * Scale posture: both sides reduce to md5 digests before the anti-join,
    * so the shuffle moves 32-char digests, not documents; AQE broadcasts
    * the digest set when the new batch (or corpus digest set) is small.
    */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame,
                       textCol: String): DataFrame = {
    val seen = corpus.select(md5(col(textCol)).as("__h")).distinct()
    newBatch.join(seen, md5(col(textCol)) === col("__h"), "left_anti")
  }

  /** Benchmark decontamination: per training doc, the fraction of its
    * distinct n-gram shingles that also occur anywhere in `bench` (the
    * eval/benchmark corpus). Training docs with a high fraction leak the
    * benchmark and must be dropped before training.
    *
    * Scale posture: eval suites are tiny next to a 100 TB corpus, so the
    * benchmark shingle set is broadcast — the corpus-side shingles never
    * shuffle for the membership probe; the only corpus shuffle is the
    * per-doc groupBy. Output: (idCol, n_sh, n_hit, frac).
    */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val tsh = shingleSet(train, idCol, textCol, n)
    val bsh = shingleSet(bench, idCol, textCol, n)
      .select("shingle").distinct().withColumn("__hit", lit(1L))
    tsh.join(broadcast(bsh), Seq("shingle"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_sh"),
        coalesce(sum("__hit"), lit(0L)).as("n_hit"))
      .withColumn("frac", col("n_hit").cast("double") / col("n_sh").cast("double"))
  }

  /** Sketch-based decontamination: like [[contamination]], but the
    * benchmark shingle set is a Bloom filter instead of an exact broadcast
    * set — the shape for when the reference vocabulary is itself huge (an
    * 8 MB sketch stands in for billions of shingles). Per-doc hit counts
    * are an UPPER bound (false positives at ~`fpp`, never false
    * negatives), so `frac_ub < threshold` safely clears a doc and only
    * docs above threshold need the exact probe.
    *
    * Scale posture: the sketch is built by one mergeable aggregation
    * (partials OR their bit sets) and collected to the driver — it is
    * config-sized, the same thing Spark's own runtime filters ship as a
    * subquery result. The corpus side then probes a literal: a pure
    * codegen'd projection, zero shuffle beyond the per-doc groupBy.
    */
  def contaminationBloom(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int, expectedItems: Long,
                         fpp: Double): DataFrame = {
    import org.apache.spark.sql.graft.BloomOps
    val bsh = shingleSet(bench, idCol, textCol, n).select("shingle").distinct()
    val sketch = bsh
      .agg(BloomOps.bloomAgg(col("shingle"), expectedItems, fpp).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val hit = BloomOps.mightContain(lit(sketch), col("shingle"))
    shingleSet(train, idCol, textCol, n)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_sh"),
        sum(when(hit, 1L).otherwise(0L)).as("n_hit_ub"))
      .withColumn("frac_ub",
        col("n_hit_ub").cast("double") / col("n_sh").cast("double"))
  }
}
