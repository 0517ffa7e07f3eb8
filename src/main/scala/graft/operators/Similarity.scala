package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (mandated extension X3,
  * SURVEY.md §2.4). Embeddings are ArrayType(FloatType); all math is done in
  * double via the native codegen expressions vec_dot / vec_cosine, no UDFs.
  *
  * Determinism note: the folds are sequential left-to-right, so dot
  * products are bit-reproducible — and bit-identical to any engine that
  * sums a double accumulator sequentially (verified against DuckDB's
  * list_dot_product).
  *
  * Scale posture: the query side of a kNN search must be the small side and
  * is broadcast; the corpus is never shuffled for brute force. LSH bucket
  * assignment is a pure per-row projection against driver-collected plane
  * vectors (planes are small BY CONTRACT — tens of doubles each, ≤64
  * planes) — zero shuffle, zero exchange; only the downstream bucket
  * equijoin shuffles, and only on the bucket key.
  */
object Similarity {

  /** Sequential-fold dot product — native codegen expression. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorFunctions.vecDot(a, b)

  /** Cosine similarity; formula fixed as dot/sqrt(na*nb) for cross-engine
    * reproducibility. Native codegen expression (single pass).
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorFunctions.vecCosine(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** The query side of a search: (qid, qv). Callers broadcast it. */
  private def querySide(queries: DataFrame, idCol: String,
                        vecCol: String): DataFrame =
    queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))

  /** The corpus side of a search, spread first: (nid, cv). */
  private def corpusSide(corpus: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    Par.spread(corpus)
      .select(col(idCol).as("nid"), asDouble(col(vecCol)).as("cv"))

  /** Per-query top-k of a scored candidate set: `row_number` over `qid`
    * in (`score`, nid) order, ranks 1..k kept — Catalyst plans the
    * per-partition sort + filter as a partial top-k. `score` carries its
    * direction (`.desc` for similarities, ascending for distances); nid
    * breaks ties so the ranking is total. Output: (qid, rank, nid, out…).
    */
  private def topKPerQuery(scored: DataFrame, score: Column, k: Int,
                           out: String*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(score, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", Seq("rank", "nid") ++ out: _*)
  }

  /** Brute-force cosine top-k: every query row against every corpus row,
    * query side broadcast (must be small), top-k per query via window rank —
    * Catalyst turns the per-partition sort + filter into an efficient
    * partial top-k. Output: (qid, rank, nid, sim).
    */
  def knnBruteForce(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    bruteForce(corpus, queries, idCol, vecCol, k, cosine, "sim")

  /** Every query against every corpus row, scored by `score(qv, cv)`
    * into column `out`, highest first. Output: (qid, rank, nid, out).
    */
  private def bruteForce(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, score: (Column, Column) => Column, out: String): DataFrame = {
    val q = broadcast(querySide(queries, idCol, vecCol))
    val scored = corpusSide(corpus, idCol, vecCol).crossJoin(q)
      .withColumn(out, score(col("qv"), col("cv")))
    topKPerQuery(scored, col(out).desc, k, out)
  }

  /** Maximum inner-product search (MIPS), brute force: top-k by RAW dot
    * product — the retrieval objective when vector magnitude carries
    * signal (recommender factor models, unnormalized reward/relevance
    * embeddings), where cosine's normalization is wrong. Same shape as
    * [[knnBruteForce]]: broadcast queries, corpus never shuffles for
    * scoring, per-query partial top-k via window rank.
    *
    * Scale path: MIPS reduces to cosine search by norm augmentation
    * (Bachrach et al. 2014) — append sqrt(M² − |x|²) to each corpus
    * vector (M = max corpus norm) and 0 to each query; the augmented
    * vectors share norm M, so augmented-cosine order equals dot order
    * and the [[knnLsh]] bucketed index applies unchanged. The unit spec
    * pins that rank equivalence; the brute form here is the oracle-exact
    * baseline (one codegen'd fold per pair, no libm).
    *
    * Output: (qid, rank, nid, score); ties break on nid.
    */
  def mipsBruteForce(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    bruteForce(corpus, queries, idCol, vecCol, k, dot, "score")

  /** The plane vectors, collected once and ordered by plane id — they are
    * small by contract (an LSH table is ≤64 planes of embedding width), so
    * shipping them to every task as literals is exactly what `broadcast`
    * would do, minus a whole corpus×P shuffle.
    */
  private def collectPlanes(
      planes: DataFrame, planeId: String, planeVec: String): Array[Seq[Double]] =
    planes.select(col(planeId), asDouble(col(planeVec)))
      .orderBy(col(planeId))
      .collect()
      .map(_.getSeq[Double](1))

  /** Bucket id for `vec`: one sign bit per plane, concatenated in plane-id
    * order. A single codegen'd projection — one vec_dot per plane against
    * an array literal.
    */
  private def bucketExpr(vec: Column, planeVecs: Array[Seq[Double]]): Column =
    concat(planeVecs.toIndexedSeq.map(pv =>
      when(dot(vec, typedLit(pv)) >= 0, "1").otherwise("0")): _*)

  /** Random-hyperplane LSH bucket assignment: input columns + `bucket`
    * string. Zero shuffle — the physical plan is scan → project (the
    * crossJoin+groupBy formulation this replaces shuffled the corpus ×P to
    * compute what is a per-row projection).
    */
  def hyperplaneBuckets(
      df: DataFrame, idCol: String, vecCol: String,
      planes: DataFrame, planeId: String, planeVec: String): DataFrame = {
    val pv = collectPlanes(planes, planeId, planeVec)
    Par.spread(df).withColumn("bucket", bucketExpr(asDouble(col(vecCol)), pv))
  }

  /** Embedding-cosine near-duplicate pairs, LSH-blocked: only pairs falling
    * in the same hyperplane bucket are compared (the blocking that makes
    * all-pairs dedup feasible at corpus scale — pair space is per-bucket,
    * never global). Output: (da, db, cos) with da < db, cos >= threshold.
    */
  def cosineDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      planes: DataFrame, planeId: String, planeVec: String,
      threshold: Double): DataFrame = {
    val b = hyperplaneBuckets(df, idCol, vecCol, planes, planeId, planeVec)
      .select(col(idCol), asDouble(col(vecCol)).as("__v"), col("bucket"))
    b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .withColumn("cos", cosine(col("x.__v"), col("y.__v")))
      .filter(col("cos") >= threshold)
      .select(col(s"x.$idCol").as("da"), col(s"y.$idCol").as("db"), col("cos"))
  }

  /** SEMANTIC DEDUP (the SemDeDup recipe): partition the corpus into
    * quantizer cells (argmax-cosine against a small centroid set — seed
    * centroids or [[kmeansCentroids]] output), then within each cell drop
    * every vector that has a lower-id neighbor with cosine >= `threshold`.
    * Greedy min-id keep, the same deterministic canonical-pick rule as
    * [[graft.operators.Dedup.exact]] — duplicates here are ε-balls in
    * embedding space rather than equal strings, which is what catches
    * paraphrases and re-encodings that n-gram methods miss.
    *
    * Scale posture: the centroid set is small by contract (it is the
    * quantizer — collected once, folded into a codegen'd projection, the
    * same zero-shuffle cell assignment as [[knnIvf]]); the pair search
    * self-joins on cell, so the pair space is bounded per cell (pick k ~
    * corpus/expected-cell-size exactly as for IVF) and the corpus is never
    * cross-joined. One shuffle on cell + one anti-join on id.
    *
    * Output: (id, cell) of KEPT vectors — the deduped corpus.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, centIdCol: String,
                    centVecCol: String, threshold: Double): DataFrame = {
    val cents = collectCents(centroids, centIdCol, centVecCol, "semanticDedup")
    val v = Par.spread(df).select(col(idCol).cast("long").as("id"),
        asDouble(col(vecCol)).as("v"))
      .withColumn("cell", cellExpr(col("v"), cents))
    // A coarse quantizer has FEW cells by design — often fewer than the
    // cluster has cores — and the within-cell pair join shuffles on the
    // cell id alone, so at 8 cells at most 8 tasks grind the (quadratic
    // per cell) pair space while the rest of the cluster idles. Salt the
    // join key: side a adds salt = id mod s, side b replicates s ways, so
    // every pair still meets exactly once (at a's salt) but the pair
    // space fans out over cells × s reducers. s is sized from cores vs
    // cell count and collapses to 1 (zero replication) once the cell
    // count alone saturates the cluster — the production IVF regime.
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val s = math.max(1L, math.min(64L, 2L * cores / cents.length))
    val a = v.withColumn("__salt", pmod(col("id"), lit(s)))
    val b = v.withColumn("__salt", explode(
      sequence(lit(0L), lit(s - 1L))))
    val dropped = a.as("a").join(b.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.__salt") === col("b.__salt") &&
          col("a.id") < col("b.id"))
      .filter(cosine(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    v.join(dropped, Seq("id"), "left_anti").select(col("id"), col("cell"))
  }

  /** Bucketed ANN: top-k per query among corpus vectors in the *same* LSH
    * bucket. Recall < 1 by construction; the scale path for corpora where
    * brute force is impossible. Shuffles on bucket, never cross-joins the
    * full corpus.
    */
  def knnLsh(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      planes: DataFrame, planeId: String, planeVec: String, k: Int): DataFrame = {
    val cb = hyperplaneBuckets(corpus, idCol, vecCol, planes, planeId, planeVec)
      .select(col(idCol).as("nid"), asDouble(col(vecCol)).as("cv"), col("bucket"))
    val qb = hyperplaneBuckets(queries, idCol, vecCol, planes, planeId, planeVec)
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"), col("bucket"))
    val scored = cb.join(broadcast(qb), "bucket")
      .withColumn("sim", cosine(col("qv"), col("cv")))
    topKPerQuery(scored, col("sim").desc, k, "sim", "bucket")
  }

  /** `bucket` plus every bucket string at Hamming distance 1 (one flipped
    * bit) — the multi-probe set for one table.
    */
  private def probeSet(bucket: Column, m: Int): Column =
    array((Seq(bucket) ++ (0 until m).map { j =>
      val flipped = when(substring(bucket, j + 1, 1) === "1", "0").otherwise("1")
      concat(substring(bucket, 1, j), flipped, substring(bucket, j + 2, m - j - 1))
    }): _*)

  /** Multi-table LSH ANN: L independent hash tables (one plane set each);
    * a corpus vector is a candidate for a query if they collide in ANY
    * table — the standard recall amplifier (miss probability decays
    * exponentially in L). With `probe1 = true`, each query additionally
    * probes every bucket at Hamming distance 1 per table (multi-probe LSH:
    * near-miss sign bits are the dominant false-negative source, so probing
    * adjacent buckets buys recall without more tables). Candidates are
    * unioned, deduped on (qid, nid), then scored once and ranked. All L
    * bucket assignments are single-pass projections over the same scan;
    * only the candidate equijoins shuffle, and the probe expansion happens
    * on the (small, broadcast) query side only.
    *
    * Output: (qid, rank, nid, sim) — same shape as brute force, so recall
    * is directly measurable against [[knnBruteForce]] ground truth.
    */
  def knnLshMulti(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      planeTables: Seq[DataFrame], planeId: String, planeVec: String,
      k: Int, probe1: Boolean = false): DataFrame = {
    require(planeTables.nonEmpty, "need at least one plane table")
    val tables = planeTables.map(collectPlanes(_, planeId, planeVec))
    // All L bucket ids in one projection over one corpus scan.
    val cb = corpusSide(corpus, idCol, vecCol)
      .select(Seq(col("nid"), col("cv")) ++
        tables.zipWithIndex.map { case (pv, i) =>
          bucketExpr(col("cv"), pv).as(s"b$i") }: _*)
    val qb = querySide(queries, idCol, vecCol)
      .select(Seq(col("qid"), col("qv")) ++
        tables.zipWithIndex.map { case (pv, i) =>
          bucketExpr(col("qv"), pv).as(s"b$i") }: _*)
    // Candidate = collision in any table. The join is per-table equijoin +
    // union + distinct — never an OR-of-keys theta join (which would plan a
    // nested-loop cross product).
    val cand = tables.zipWithIndex.map { case (pv, i) =>
      val qside =
        if (probe1) qb.select(col("qid"), col("qv"),
          explode(probeSet(col(s"b$i"), pv.length)).as("__qb"))
        else qb.select(col("qid"), col("qv"), col(s"b$i").as("__qb"))
      cb.join(broadcast(qside), cb(s"b$i") === qside("__qb"))
        .select(col("qid"), col("qv"), col("nid"), col("cv"))
    }.reduce(_ unionAll _)
      .dropDuplicates("qid", "nid")
    val scored = cand.withColumn("sim", cosine(col("qv"), col("cv")))
    topKPerQuery(scored, col("sim").desc, k, "sim")
  }

  /** Nearest-centroid cell id (IVF coarse quantizer): argmax cosine over
    * the centroid literals, ties to the lowest centroid id. Pure
    * projection via the native VecBestIndex loop — the former
    * greatest + first-match CASE chain re-evaluated the k-way best in
    * every branch (subexpression elimination does not cross `when`
    * boundaries) and generated a method too large for HotSpot to JIT:
    * ~400x slower for the same answer (k=8, dim=64; PLANS.md round-5
    * vector-expression investigation).
    */
  private def cellExpr(vec: Column, cents: Array[(Long, Seq[Double])]): Column =
    element_at(typedLit(cents.map(_._1).toSeq),
      org.apache.spark.sql.graft.VectorFunctions.vecArgmaxCos(vec,
        typedLit(cents.map(_._2).toSeq)) + 1)

  /** The `nprobe` nearest cells for a query vector, as an exploded column:
    * sort struct(-sim, cid) ascending (= sim desc, cid asc — matching the
    * corpus-side tie rule) and take the first nprobe cell ids.
    */
  private def probeCellsExpr(vec: Column, cents: Array[(Long, Seq[Double])],
                             nprobe: Int): Column = {
    val arr = array(cents.map { case (cid, cv) =>
      struct((-cosine(vec, typedLit(cv))).as("ns"), lit(cid).as("cid"))
    }.toSeq: _*)
    transform(slice(array_sort(arr), 1, nprobe), s => s.getField("cid"))
  }

  /** Deterministic Lloyd iterations for IVF centroid training. Seeds are
    * the k lowest-id vectors; assignment is the same argmax-cosine cell
    * rule as [[knnIvf]]; the mean update accumulates each dimension on a
    * FIXED-POINT 1e-10 grid — `floor(x * 1e10)` summed as exact longs —
    * which is exact, order-independent, AND engine-portable: a plain
    * double sum would drift with partial-aggregation order, and a
    * double→DECIMAL cast rounds differently across engines at the grid
    * boundary (observed: DuckDB and the JVM disagree on 1-in-thousands of
    * float inputs, which silently breaks cross-engine bit-equality). The
    * floor of an IEEE product is the same everywhere. Per iteration: one
    * projection + one shuffle on (cell, dim); k×dim rows reach the driver
    * (the centroids live there anyway — they are the quantizer broadcast
    * to every task). Empty cells keep their previous centroid.
    */
  def kmeansCentroids(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Array[Seq[Double]] = {
    require(k >= 1 && iters >= 0, "k >= 1, iters >= 0")
    val base = Par.spread(df)
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
    var cents: Array[Seq[Double]] = base.orderBy("id").limit(k)
      .collect().map(_.getSeq[Double](1))
    for (_ <- 0 until iters) {
      val withIds = cents.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val assigned = base.withColumn("cell", cellExpr(col("v"), withIds))
      // Grid values sum as DECIMAL(38,0): still exact and order-
      // independent, but headroom to ~1e28 vectors — a long accumulator
      // overflows (ANSI: hard failure) near 9e8 rows per cell, a scale a
      // 100 TB corpus actually reaches. Only the final double division
      // happens driver-side, so portability is unchanged.
      val sums = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(sum(Exact.dec(floor(col("x") * lit(1e10)))).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.toArray.clone())
      sums.foreach { r =>
        val cell = r.getLong(0).toInt
        val dim = r.getInt(1)
        next(cell)(dim) =
          r.getDecimal(2).doubleValue() / 1e10 / r.getLong(3).toDouble
      }
      cents = next.map(_.toSeq)
    }
    cents
  }

  /** Trained centroids as the (cid, vec) frame [[knnIvf]] consumes. */
  def centroidsDF(spark: org.apache.spark.sql.SparkSession,
                  cents: Array[Seq[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("cid", "vec")
  }

  /** Squared L2 distance in the fixed three-dot-product form
    * `a·a - 2(a·b) + b·b` — each dot a sequential fold, the combination a
    * fixed expression tree, so the value is bit-identical in any engine
    * with a sequential-fold dot product (the same cross-engine contract as
    * [[cosine]]). PQ uses L2, the standard product-quantization metric.
    */
  private def dist2(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Product-quantization codebooks: the embedding space is split into `m`
    * equal-width subspaces and each gets its own k-centroid quantizer,
    * trained by the same decimal-exact Lloyd iterations as IVF
    * ([[kmeansCentroids]] over the subvector table — `iters = 0` keeps the
    * deterministic lowest-id seeds as the codebook). Codebooks are
    * config-sized (m × k × dim/m doubles) and live on the driver, exactly
    * like IVF centroids and LSH planes.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, iters: Int): Seq[Array[Seq[Double]]] = {
    // Training makes 1 + m·(1 + iters) passes over `df`, which is often
    // an expensive projection itself (e.g. [[residuals]] output —
    // cell-assignment cosines per row): materialize it once. All results
    // are driver-side codebook arrays, so the pin can be dropped
    // immediately after.
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = cached.select(size(col(vecCol))).head().getInt(0)
      require(m >= 1 && dim % m == 0, s"m must divide the dimension ($dim)")
      val sub = dim / m
      (0 until m).map { j =>
        kmeansCentroids(
          cached.select(col(idCol),
            slice(asDouble(col(vecCol)), j * sub + 1, sub).as(vecCol)),
          idCol, vecCol, k, iters)
      }
    } finally cached.unpersist(blocking = false)
  }

  /** Per-subspace code: argmin squared-L2 over the codebook entries, ties
    * to the lowest code. Pure projection against codebook literals —
    * native VecBestIndex loop (argmin via negated score), same
    * JIT-friendliness rationale as [[cellExpr]]; the score is the exact
    * three-dot dist2, so code assignment bits match the CASE-chain form.
    */
  private def codeExpr(subVec: Column, codebook: Array[Seq[Double]]): Column =
    org.apache.spark.sql.graft.VectorFunctions.vecArgminL2(subVec,
      typedLit(codebook.toSeq))

  /** The ADC estimate Σ_j d2(q_j, codebook_j[c_j]) of query vector `q`
    * (subvectors of width `sub`) against the code columns `c0`, `c1`, …,
    * as a fixed left-to-right sum. Each code INDEXES its codebook literal
    * (element_at on an array-of-arrays literal) — no per-code CASE
    * branches, so the whole estimate stays one small codegen projection.
    */
  private def adcEstimate(q: Column, codebooks: Seq[Array[Seq[Double]]],
                          sub: Int): Column =
    codebooks.zipWithIndex.map { case (cb, j) =>
      dist2(slice(q, j * sub + 1, sub),
        element_at(typedLit(cb.toSeq), col(s"c$j") + 1))
    }.reduce(_ + _)

  /** PQ-compressed ANN (asymmetric distance computation): the corpus is
    * reduced to m small integer codes per vector — at production scale the
    * scan reads m bytes instead of dim floats, a 10-100× I/O compression,
    * which is the whole point of PQ — and each query scores candidates by
    * summing per-subspace distances to the CODEBOOK entry the code names
    * (never decompressing the corpus vector). The query side is broadcast;
    * the estimate is [[adcEstimate]], so the corpus pass stays a single
    * small codegen projection + top-k window, no shuffle beyond the
    * partial top-k.
    *
    * Recall < 1 by construction (quantization error); rank by estimated
    * distance with nid tiebreak keeps the output total-ordered and exact
    * to gate. Output: (qid, rank, nid, est_d2).
    */
  def knnPq(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Array[Seq[Double]]], k: Int): DataFrame = {
    require(codebooks.nonEmpty, "need at least one codebook")
    val m = codebooks.length
    val sub = codebooks.head.head.length
    // Corpus → codes: one projection; this frame is what a production
    // pipeline would persist as the compressed index.
    val coded = Par.spread(corpus)
      .select(Seq(col(idCol).as("nid")) ++
        codebooks.zipWithIndex.map { case (cb, j) =>
          codeExpr(slice(asDouble(col(vecCol)), j * sub + 1, sub), cb)
            .as(s"c$j") }: _*)
    val qb = broadcast(querySide(queries, idCol, vecCol))
    val scored = coded.crossJoin(qb)
      .withColumn("est_d2", adcEstimate(col("qv"), codebooks, sub))
    topKPerQuery(scored, col("est_d2"), k, "est_d2")
  }

  /** SQ8 scalar-quantized ANN: each corpus vector is stored as a per-vector
    * (min, max) pair plus one byte per dimension — dim bytes instead of
    * dim floats, the simplest 4× vector compression (the middle rung of
    * the flat → SQ8 → PQ → IVF-PQ ladder; unlike PQ it needs no training).
    * Scoring is asymmetric: the raw query against the dequantized corpus
    * vector, reconstructed inline in the scan — code i maps back to
    * `mn + code * (mx - mn)/255`.
    *
    * Every arithmetic step (range scale, floor-to-code, reconstruction,
    * sequential-fold cosine) is IEEE-exact and mirrored by the oracle, so
    * the quantized ranking gates exactly. Constant vectors (mx == mn)
    * code to 0 and reconstruct to mn via the nullif/coalesce guard —
    * same totalization in both engines.
    *
    * Scale posture: identical to [[knnBruteForce]] (queries broadcast,
    * corpus scanned once, partial top-k window) — the win is the 4×
    * smaller persisted index the scan reads. Output: (qid, rank, nid, sim).
    */
  def knnSq8(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int): DataFrame = {
    val sc = (col("__mx") - col("__mn")) / lit(255.0)
    val c = corpusSide(corpus, idCol, vecCol)
      .withColumn("__mn", array_min(col("cv")))
      .withColumn("__mx", array_max(col("cv")))
      .withColumn("__codes", transform(col("cv"), x =>
        least(coalesce(
          floor((x - col("__mn")) / nullif(sc, lit(0.0))).cast("int"),
          lit(0)), lit(255))))
      .withColumn("__rv", transform(col("__codes"), cd =>
        col("__mn") + cd.cast("double") * sc))
    val qb = broadcast(querySide(queries, idCol, vecCol))
    val scored = c.crossJoin(qb)
      .withColumn("sim", cosine(col("qv"), col("__rv")))
    topKPerQuery(scored, col("sim").desc, k, "sim")
  }

  /** SEMANTIC DECONTAMINATION — drop every training vector whose cosine
    * to ANY benchmark vector reaches `threshold`: the embedding-space
    * analogue of n-gram decontamination
    * ([[graft.operators.Dedup.contamination]]), catching paraphrased or
    * re-encoded eval material that token overlap misses.
    *
    * EXACT, not cell-blocked: the benchmark side is eval-suite-sized by
    * contract, so it broadcasts and the training corpus is scanned once
    * with a per-row any-match — a left anti join on the threshold
    * predicate, no shuffle of the corpus, no recall loss. (A 100 TB-side
    * *benchmark* would be a category error; if one appears, block through
    * [[semanticDedup]]'s quantizer cells instead.)
    *
    * Output: the KEPT training rows (original columns).
    */
  def semanticDecontaminate(train: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val b = broadcast(bench.select(asDouble(col(vecCol)).as("__bv")))
    Par.spread(train).join(b,
      cosine(asDouble(col(vecCol)), col("__bv")) >= threshold, "left_anti")
  }

  /** Contrastive TRIPLET MINING — the (anchor, positive, negative) data
    * prep for embedding training: each anchor's positive is its nearest
    * corpus neighbor by cosine ([[knnBruteForce]] top-1 — swap in an ANN
    * variant at scale), and its `nNeg` negatives are drawn in
    * md5(anchor|candidate) hash order — a deterministic, engine-portable
    * stand-in for uniform sampling (the same draw-by-hash contract as the
    * X7 samplers), with the positive excluded.
    *
    * Scale posture: the anchor set is small by contract (it is the
    * training batch's anchor pool) and broadcasts; the corpus is scanned
    * once for the positive pass and once for the negative draw, each a
    * projection + partial top-k window (WindowGroupLimit prunes losers
    * map-side), never shuffled whole. For harder negatives, pre-filter the
    * candidate side (e.g. same-cell vectors from [[semanticDedup]]'s
    * quantizer) before the draw — the hash order composes with any
    * candidate subset.
    *
    * Output: (qid, pos_id, pos_sim, neg_rank, neg_id), one row per
    * (anchor, negative).
    */
  def mineTriplets(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, nNeg: Int): DataFrame = {
    require(nNeg >= 1, "need at least one negative per anchor")
    val pos = knnBruteForce(corpus, queries, idCol, vecCol, k = 1)
      .select(col("qid"), col("nid").as("pos_id"), col("sim").as("pos_sim"))
    val negCand = Par.spread(corpus).select(col(idCol).as("neg_id"))
      .crossJoin(broadcast(pos))
      .filter(col("neg_id") =!= col("pos_id"))
      .withColumn("__h", md5(concat(col("qid").cast("string"), lit("|"),
        col("neg_id").cast("string"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("__h"), col("neg_id"))
    negCand.withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= nNeg)
      .select("qid", "pos_id", "pos_sim", "neg_rank", "neg_id")
  }

  /** Centroid list collected to the driver in centroid-id order — the
    * coarse quantizer is config-sized by contract (it broadcasts into
    * every cell/probe projection), exactly like LSH planes and PQ
    * codebooks. An empty list fails here, naming the operator `op`.
    */
  private def collectCents(centroids: DataFrame, cidCol: String,
                           cvecCol: String,
                           op: String): Array[(Long, Seq[Double])] = {
    val cents = centroids
      .select(col(cidCol).cast("long"), asDouble(col(cvecCol)))
      .orderBy(col(cidCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(cents.nonEmpty, s"$op needs at least one centroid")
    cents
  }

  /** The assigned cell's centroid vector: one literal map lookup
    * (GetMapValue is codegen and O(k) over a k-entry literal — the former
    * CASE chain carried a full array literal per branch).
    */
  private def centroidVecExpr(cell: Column,
                              cents: Array[(Long, Seq[Double])]): Column =
    element_at(
      map(cents.toIndexedSeq.flatMap { case (cid, cv) =>
        Seq(lit(cid), typedLit(cv)) }: _*),
      cell)

  /** `v` minus the centroid of the `cell` column — set by [[cellExpr]]
    * over the same `v` on the corpus side, by [[probeSide]] on the query
    * side. Native vec_sub, exact IEEE.
    */
  private def residualExpr(v: Column,
                           cents: Array[(Long, Seq[Double])]): Column =
    org.apache.spark.sql.graft.VectorFunctions.vecSub(v,
      centroidVecExpr(col("cell"), cents))

  /** RESIDUAL frame for composite indexes: each vector minus its assigned
    * coarse-cell centroid, carried under the original `vecCol` name so the
    * output feeds [[pqTrain]] unchanged. Pure projection (cell assignment
    * + a native vec_sub against centroid literals) — no shuffle, fully
    * codegen (a zip_with here is CodegenFallback and would expel the whole
    * encode projection from WSCG);
    * subtraction is exact IEEE, so residuals are engine-portable.
    *
    * Output: (idCol, cell, vecCol = residual).
    */
  def residuals(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, cidCol: String,
                cvecCol: String): DataFrame = {
    val cents = collectCents(centroids, cidCol, cvecCol, "residuals")
    Par.spread(df)
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("cell", cellExpr(col("__v"), cents))
      .select(col(idCol), col("cell"),
        residualExpr(col("__v"), cents).as(vecCol))
  }

  /** IVF-PQ composite index (the FAISS-style index layout): the coarse
    * quantizer partitions the corpus into cells, and each vector is stored
    * as (cell id, m-byte PQ code of its RESIDUAL vector-minus-centroid) —
    * residual quantization concentrates the codebook's resolution around
    * each cell instead of the whole space, which is why IVF-PQ beats flat
    * PQ at equal code size. Queries probe their `nprobe` nearest cells,
    * compute a per-(query, cell) residual, and rank candidates in probed
    * cells by asymmetric distance (sum of per-subspace LUT distances to
    * the codebook entry each code names) — the corpus vector is never
    * decompressed.
    *
    * Scale posture: corpus-side work is ONE projection (cell + codes) —
    * the compressed index a production pipeline persists: m bytes + a
    * cell id per vector instead of dim floats. The probe fan-out lives on
    * the small broadcast query side; candidates equijoin on cell, so a
    * query touches only its probed cells' postings. Train codebooks on
    * [[residuals]] output via [[pqTrain]]. The ADC sum is a fixed
    * left-to-right chain; the m = 2 gate form is engine-portable because
    * two-addend FP addition is order-free.
    *
    * Output: (qid, rank, nid, est_d2) — rank by estimated distance,
    * nid tiebreak.
    */
  def knnIvfPq(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      codebooks: Seq[Array[Seq[Double]]], k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    require(codebooks.nonEmpty, "need at least one codebook")
    val cents = collectCents(centroids, cidCol, cvecCol, "knnIvfPq")
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val coded = {
      val cv = Par.spread(corpus)
        .select(col(idCol).as("nid"), asDouble(col(vecCol)).as("__v"))
        .withColumn("cell", cellExpr(col("__v"), cents))
        .withColumn("__rv", residualExpr(col("__v"), cents))
      cv.select(Seq(col("nid"), col("cell")) ++
        codebooks.zipWithIndex.map { case (cb, j) =>
          codeExpr(slice(col("__rv"), j * sub + 1, sub), cb).as(s"c$j")
        }: _*)
    }
    val qb = broadcast(probeSide(queries, idCol, vecCol, cents, nprobe)
      .withColumn("qrv", residualExpr(col("qv"), cents)))
    val scored = coded.join(qb, "cell")
      .withColumn("est_d2", adcEstimate(col("qrv"), codebooks, sub))
    topKPerQuery(scored, col("est_d2"), k, "est_d2")
  }

  /** Signed random projection (the Johnson-Lindenstrauss sketch with a
    * ±1 Rademacher matrix): `y_j = Σ_i sign(j,i) · x_i`, where the sign
    * is derived from md5 of `(seed, j, i)` — a deterministic,
    * engine-portable stand-in for a seeded RNG, so the "random" matrix
    * needs no table, no broadcast, and no state: every task regenerates
    * the same entry from the hash. Signs are ±1 (not Gaussian), which
    * preserves JL distance bounds up to constants (Achlioptas 2001) and
    * keeps each output coordinate an exact left-to-right fold of
    * negations — bit-identical across engines.
    *
    * Scale posture: a pure per-row projection — zero shuffles, zero
    * joins; dOut·dIn work per row inside whole-stage codegen. The
    * standard front-end for cheap ANN / clustering on wide embeddings:
    * project once, run the distance-heavy ops in dOut ≪ dIn dims.
    *
    * Output: (idCol, rp: array<double> of length dOut).
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    dOut: Int, seed: String): DataFrame = {
    require(dOut >= 1, "dOut must be >= 1")
    val vv = asDouble(col(vecCol))
    val proj = transform(sequence(lit(0), lit(dOut - 1)), j =>
      aggregate(
        transform(sequence(lit(1), size(vv)), i =>
          when(substring(md5(concat_ws(":", lit(seed),
              j.cast("string"), (i - 1).cast("string"))), 1, 1) < "8",
            element_at(vv, i))
            .otherwise(-element_at(vv, i))),
        lit(0.0), (acc, v) => acc + v))
    Par.spread(df).select(col(idCol), proj.as("rp"))
  }

  /** IVF-flat ANN: a coarse quantizer (the centroid list — small by
    * contract, collected once like LSH planes) partitions the corpus into
    * cells with a single projection; each query searches only its `nprobe`
    * nearest cells. Corpus-side cost is independent of nprobe (assignment
    * is one argmax projection, the probe fan-out lives on the small
    * broadcast query side), so recall tunes per-query with zero extra
    * corpus passes — the classic IVF trade. nprobe = #centroids degrades
    * gracefully to exact brute force.
    *
    * Output: (qid, rank, nid, sim).
    */
  def knnIvf(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      k: Int, nprobe: Int): DataFrame =
    topKPerQuery(ivfCandidates(corpus, queries, idCol, vecCol, centroids,
      cidCol, cvecCol, nprobe, "knnIvf"), col("sim").desc, k, "sim")

  /** Each query with its `nprobe` nearest cells, one row per probed cell:
    * (qid, qv, cell). The IVF operators broadcast it.
    */
  private def probeSide(queries: DataFrame, idCol: String, vecCol: String,
                        cents: Array[(Long, Seq[Double])],
                        nprobe: Int): DataFrame =
    querySide(queries, idCol, vecCol)
      .withColumn("cell", explode(probeCellsExpr(col("qv"), cents, nprobe)))

  /** The IVF-flat candidate stage shared by [[knnIvf]] and [[radiusIvf]]:
    * the corpus assigned to its cell, equijoined on cell with the
    * broadcast probe side, scored by cosine. A corpus vector lives in
    * exactly one cell and a query's probe cells are distinct, so (qid,
    * nid) pairs are already unique — no dedup. `op` names the operator
    * in the empty-centroid error.
    *
    * Output: (cell, nid, cv, qid, qv, sim).
    */
  private def ivfCandidates(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      nprobe: Int, op: String): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val cents = collectCents(centroids, cidCol, cvecCol, op)
    val cb = corpusSide(corpus, idCol, vecCol)
      .withColumn("cell", cellExpr(col("cv"), cents))
    val qb = broadcast(probeSide(queries, idCol, vecCol, cents, nprobe))
    cb.join(qb, "cell").withColumn("sim", cosine(col("qv"), col("cv")))
  }

  /** RADIUS similarity search — every corpus vector with cosine >= `tau`
    * of each query, the "give me everything this close" companion to
    * top-k: retrieval recall sets, near-dup sweeps around a probe
    * document, density estimates. Same IVF machinery as [[knnIvf]]
    * (argmax-cosine cell assignment against the collected centroid
    * literals, per-query `nprobe` probe cells on the broadcast side),
    * with the window/top-k replaced by the threshold filter — so the
    * result needs NO ranking shuffle at all: assignment is a zero-
    * exchange projection, candidates equijoin on cell, the τ filter is a
    * codegen residual. Recall has the usual IVF contract (a qualifying
    * neighbor in an unprobed cell is missed; nprobe = #cells is exact).
    *
    * Output: (qid, nid, sim) with sim >= tau.
    */
  def radiusIvf(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      tau: Double, nprobe: Int): DataFrame =
    ivfCandidates(corpus, queries, idCol, vecCol, centroids, cidCol,
        cvecCol, nprobe, "radiusIvf")
      .filter(col("sim") >= tau)
      .select("qid", "nid", "sim")

  /** Recall@k scorecard of an approximate neighbor ranking against the
    * exact one — the acceptance number every ANN index ships with ("IVF
    * nprobe=2 holds 0.92 recall on a 10k-query sample"). Pass any two
    * (query, neighbor) tables with the same id columns — brute force vs
    * IVF, PQ, SQ8, or LSH buckets; run on a query SAMPLE, then trust the
    * index at full scale (the whole point is never computing exact truth
    * corpus-wide).
    *
    * Scale posture: one full-outer equi-join of two k·|queries|-sized
    * rankings + one aggregate — cost is rankings-sized, never corpus-
    * sized. Per-query rows keep the diagnostic actionable (which queries
    * miss → which cells are under-probed).
    *
    * Output: (qCol, n_exact, n_approx, n_hit, recall) per query; recall =
    * one IEEE division of two exact longs.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame,
                qCol: String, nCol: String): DataFrame = {
    val e = exact.select(col(qCol), col(nCol)).withColumn("__t", lit(1L))
    val a = approx.select(col(qCol), col(nCol)).withColumn("__c", lit(1L))
    e.join(a, Seq(qCol, nCol), "full_outer")
      .groupBy(qCol)
      .agg(coalesce(sum("__t"), lit(0L)).as("n_exact"),
        coalesce(sum("__c"), lit(0L)).as("n_approx"),
        coalesce(sum(when(col("__t").isNotNull && col("__c").isNotNull, 1L)),
          lit(0L)).as("n_hit"))
      .select(col(qCol), col("n_exact"), col("n_approx"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** Per-cell inertia — within-cell sum of squared residuals against the
    * assigned centroid, the "is my IVF quantizer any good" diagnostic
    * (falling inertia per Lloyd round = training works; one fat cell =
    * rebalance before building the index). Residuals are gridded to
    * fixed-point longs per dimension, so the sums are exact integers —
    * bit-identical under any partitioning, unlike double-accumulated SSE.
    *
    * Scale posture: centroid assignment is the same zero-shuffle argmax
    * projection as the IVF index build (centroids driver-collected, small
    * by contract); the residual fold is a per-row HOF; the only shuffle
    * is the |cells|-sized final aggregate. Overflow budget per cell:
    * rows · d · (2·scale·max|x|)² under 2^63.
    *
    * Output: (cell, n, inertia), inertia in grid² units.
    */
  def cellInertia(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      scale: Double): DataFrame = {
    val cents = collectCents(centroids, cidCol, cvecCol, "cellInertia")
    val resid = aggregate(
      zip_with(gridVec(col("__v"), scale), gridVec(col("__cv"), scale),
        (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    Par.spread(corpus)
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .withColumn("cell", cellExpr(col("__v"), cents))
      .withColumn("__cv", centroidVecExpr(col("cell"), cents))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(resid).as("inertia"))
  }

  /** Each element of `v` on the 1/`scale` lattice: `floor(x·scale)` as a
    * long, so sums of products are exact integers.
    */
  private def gridVec(v: Column, scale: Double): Column =
    transform(v, x => floor(x * lit(scale)).cast("long"))

  /** Exact distributed Gram matrix (upper triangle of Σ xᵢ·xᵢᵀ over the
    * corpus) — the one-pass sufficient statistic behind PCA, whitening,
    * ridge regression, and embedding-space diagnostics. Vectors are
    * gridded to fixed-point longs (`floor(x·scale)`), each row's upper
    * triangle computed by a pure HOF projection, then reduced elementwise
    * by [[org.apache.spark.sql.graft.VecSumAgg]] — so the result is exact
    * integer arithmetic, bit-identical under any partitioning (a
    * double-accumulated Gram matrix cannot gate: partial-sum order
    * perturbs low bits).
    *
    * Scale posture: one scan, zero shuffles of data — the only thing
    * moved is one d(d+1)/2-long buffer per partition (the
    * posexplode+groupBy(pos) formulation would instead shuffle
    * rows × d²/2 cells). Overflow budget: rows · (max|x|·scale)² per cell
    * must stay under 2^63 — at scale=1e6 and unit-ish coordinates that is
    * ~9×10^6 rows per cell; drop `scale` as the corpus grows.
    *
    * Output: (i, j, s) for 0 ≤ i ≤ j < d, row-major; s in grid² units.
    */
  def gramMatrix(df: DataFrame, vecCol: String, d: Int,
                 scale: Double): DataFrame = {
    val g = gridVec(asDouble(col(vecCol)), scale)
    // per-row upper triangle, row-major: products x_i * x_j for j >= i
    val tri = flatten(transform(g, (xi, i) =>
      transform(slice(g, i + 1, lit(d) - i), xj => xi * xj)))
    val n = d * (d + 1) / 2
    val summed = df
      .select(org.apache.spark.sql.graft.VecSumAgg.of(tri, n).as("s"))
    // constant index arrays (constant-folded), zipped with the result
    val ii = flatten(transform(sequence(lit(0), lit(d - 1)),
      i => transform(sequence(i, lit(d - 1)), _ => i)))
    val jj = flatten(transform(sequence(lit(0), lit(d - 1)),
      i => sequence(i, lit(d - 1))))
    summed.select(explode(arrays_zip(ii.as("i"), jj.as("j"), col("s")))
        .as("cell"))
      .select(col("cell.i").as("i"), col("cell.j").as("j"),
        col("cell.s").as("s"))
  }
}
