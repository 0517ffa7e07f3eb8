package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(sf("embeddings"))

  test("cosine: self-similarity is 1, orthogonal is 0, symmetric") {
    val df = Seq(
      (Array(1.0, 0.0), Array(1.0, 0.0)),
      (Array(1.0, 0.0), Array(0.0, 2.0)),
      (Array(1.0, 2.0), Array(3.0, 4.0)),
      (Array(3.0, 4.0), Array(1.0, 2.0))).toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(sims(0) - 1.0) < 1e-12)
    assert(math.abs(sims(1)) < 1e-12)
    assert(sims(2) == sims(3), "cosine is symmetric")
  }

  test("semanticDedup: greedy min-id keep per cell; kept set is dup-free") {
    val cents = emb.filter($"vec_id" < 8)
    val tau = 0.35
    val kept = Similarity.semanticDedup(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding", threshold = tau)
    // recompute cells + sims brute-force for the invariant checks
    val v = emb.select($"vec_id".cast("long").as("id"),
      $"embedding".cast("array<double>").as("v"))
    val pairs = v.as("a").crossJoin(v.as("b"))
      .filter($"a.id" < $"b.id")
      .withColumn("cos", Similarity.cosine($"a.v", $"b.v"))
      .select($"a.id".as("ia"), $"b.id".as("ib"), $"cos")
    val cellOf = kept.select("id", "cell")
    val keptIds = kept.select("id").as[Long].collect().toSet
    val all = v.select("id").as[Long].collect().toSet
    assert(keptIds.subsetOf(all) && keptIds.nonEmpty && keptIds != all,
      "some but not all vectors survive at this threshold")
    // 1) no two KEPT vectors in the same cell are near-duplicates
    val viol = kept.as("x").join(kept.as("y"),
        $"x.cell" === $"y.cell" && $"x.id" < $"y.id")
      .join(pairs, $"x.id" === $"ia" && $"y.id" === $"ib")
      .filter($"cos" >= tau)
    assert(viol.count() == 0, "kept set must be pairwise below threshold")
    // 2) the minimum id of every cell is always kept (nothing below it)
    val minPerCell = Similarity.semanticDedup(emb, "vec_id", "embedding",
      cents, "vec_id", "embedding", threshold = -2.0) // drop everything possible
    val mins = minPerCell.select("id").as[Long].collect().toSet
    assert(mins.subsetOf(keptIds),
      "per-cell min ids survive at any threshold")
  }

  test("knnSq8: reconstruction within one step; high recall vs brute force") {
    val corpus = emb.filter($"vec_id" >= 10)
    val queries = emb.filter($"vec_id" < 10)
    val k = 3
    val sq = Similarity.knnSq8(corpus, queries, "vec_id", "embedding", k)
      .select($"qid", $"nid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bf = Similarity.knnBruteForce(corpus, queries, "vec_id", "embedding", k)
      .select($"qid", $"nid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = bf.map { case (q, want) =>
      (sq(q) & want).size.toDouble / want.size }.sum / bf.size
    info(f"SQ8 recall@$k vs brute force: $recall%.3f")
    assert(recall >= 0.8, s"8-bit quantization must barely perturb top-k: $recall")
    // constant vector: guard path codes to 0 and reconstructs exactly
    val const = Seq((1L, Array.fill(4)(2.5)), (2L, Array.fill(4)(2.5)))
      .toDF("vec_id", "embedding")
    val out = Similarity.knnSq8(const, const.limit(1), "vec_id", "embedding", 1)
      .select("sim").as[Double].collect()
    assert(out.length == 1 && math.abs(out.head - 1.0) < 1e-12,
      "constant vectors reconstruct to themselves")
  }

  test("semanticDecontaminate: exact any-match drop, keeps original schema") {
    val train = emb.filter($"vec_id" >= 10)
    val bench = emb.filter($"vec_id" < 10)
    val tau = 0.35
    val kept = Similarity.semanticDecontaminate(train, bench,
      "vec_id", "embedding", tau)
    assert(kept.columns.toSeq == train.columns.toSeq)
    // brute-force recount of the contaminated set
    val sims = train.select($"vec_id".cast("long").as("tid"),
        $"embedding".cast("array<double>").as("tv"))
      .crossJoin(bench.select($"embedding".cast("array<double>").as("bv")))
      .withColumn("cos", Similarity.cosine($"tv", $"bv"))
      .groupBy("tid").agg(max($"cos").as("mx"))
      .as[(Long, Double)].collect().toMap
    val keptIds = kept.select($"vec_id".cast("long")).as[Long].collect().toSet
    sims.foreach { case (id, mx) =>
      assert(keptIds.contains(id) == (mx < tau),
        s"vec $id: maxSim $mx vs threshold")
    }
    assert(keptIds.nonEmpty && keptIds.size < sims.size,
      "threshold must drop some but not all")
  }

  test("mineTriplets: top-1 positive, hash-drawn negatives, deterministic") {
    val corpus = emb.filter($"vec_id" >= 10)
    val anchors = emb.filter($"vec_id" < 5)
    val out = Similarity.mineTriplets(corpus, anchors,
      "vec_id", "embedding", nNeg = 3)
    val rows = out.as[(Long, Long, Double, Int, Long)].collect()
    assert(rows.length == 5 * 3)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted.toSeq == Seq(1, 2, 3))
      assert(rs.map(_._2).distinct.length == 1, "one positive per anchor")
      assert(rs.forall(r => r._5 != r._2), "negatives exclude the positive")
    }
    // positive agrees with brute-force top-1
    val top1 = Similarity.knnBruteForce(corpus, anchors,
        "vec_id", "embedding", k = 1)
      .select($"qid", $"nid").as[(Long, Long)].collect().toMap
    rows.foreach { case (qid, posId, _, _, _) => assert(top1(qid) == posId) }
    // the draw is anchor-seeded: not every anchor gets the same negatives
    val negSets = rows.groupBy(_._1).values.map(_.map(_._5).toSet).toSeq
    assert(negSets.distinct.length > 1, "hash draw must vary by anchor")
    // and deterministic: a second run returns the identical triplets
    val again = Similarity.mineTriplets(corpus, anchors,
      "vec_id", "embedding", nNeg = 3).as[(Long, Long, Double, Int, Long)]
      .collect()
    assert(rows.sortBy(r => (r._1, r._4)).toSeq ==
      again.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("residuals: zero at the centroids, exact reconstruction elsewhere") {
    val ctr = emb.filter($"vec_id" < 8)
    val res = Similarity.residuals(emb, "vec_id", "embedding",
      ctr, "vec_id", "embedding")
    // a centroid vector is its own cell's center: residual exactly zero
    val atCtr = res.filter($"vec_id" < 8)
      .select(explode($"embedding").as("x")).as[Double].collect()
    assert(atCtr.nonEmpty && atCtr.forall(_ == 0.0))
    // residual + assigned centroid reconstructs the original, bit-exact
    val cents = ctr.select($"vec_id".cast("long"),
        $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    val orig = emb.select($"vec_id".cast("long"),
        $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    res.select($"vec_id".cast("long"), $"cell", $"embedding")
      .as[(Long, Long, Seq[Double])].collect().foreach { case (id, cell, rv) =>
        val rebuilt = rv.zip(cents(cell)).map { case (r, c) => r + c }
        assert(rebuilt == orig(id), s"vec $id must reconstruct exactly")
      }
  }

  test("knnIvfPq: k ranked rows per query; exact L2 with a full codebook") {
    val ctr = emb.filter($"vec_id" === 0) // single cell => no probe loss
    val corpus = emb.filter($"vec_id" >= 10 && $"vec_id" < 26)
    val queries = emb.filter($"vec_id" >= 1 && $"vec_id" < 5)
    val res = Similarity.residuals(corpus, "vec_id", "embedding",
      ctr, "vec_id", "embedding")
    // codebook seeded from ALL 16 corpus residuals: every vector's code
    // names its own residual, so ADC distance degrades to the TRUE
    // residual-space (= original-space, same cell) squared L2
    val cbs = Similarity.pqTrain(res, "vec_id", "embedding",
      m = 2, k = 16, iters = 0)
    val out = Similarity.knnIvfPq(corpus, queries, "vec_id", "embedding",
      ctr, "vec_id", "embedding", cbs, k = 4, nprobe = 1)
    val rows = out.as[(Long, Int, Long, Double)].collect()
    assert(rows.length == 4 * 4)
    assert(rows.groupBy(_._1).forall(_._2.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4)))
    // true L2²
    val vecs = emb.select($"vec_id".cast("long"),
      $"embedding".cast("array<double>")).as[(Long, Seq[Double])]
      .collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    rows.foreach { case (qid, _, nid, est) =>
      assert(math.abs(est - d2(vecs(qid), vecs(nid))) < 1e-9,
        s"full-codebook ADC must equal true squared L2 for ($qid,$nid)")
    }
    // and the ranking is the true-L2 ranking (nid tiebreak)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val got = rs.sortBy(_._2).map(_._3).toSeq
      val want = vecs.keys.filter(n => n >= 10 && n < 26).toSeq
        .sortBy(n => (d2(vecs(qid), vecs(n)), n)).take(4)
      assert(got == want, s"query $qid: $got vs $want")
    }
  }

  test("knnBruteForce returns exactly k ranked neighbors per query") {
    val out = Similarity.knnBruteForce(
      emb.filter($"vec_id" >= 10), emb.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 7)
    val byQ = out.groupBy("qid").agg(count(lit(1)).as("n"), max("rank").as("mx"))
      .as[(Long, Long, Int)].collect()
    assert(byQ.length == 5)
    assert(byQ.forall { case (_, n, mx) => n == 7 && mx == 7 })
    // rank 1 must hold the max similarity
    val r = out.withColumn("mx", max("sim").over(
      org.apache.spark.sql.expressions.Window.partitionBy("qid")))
      .filter($"rank" === 1)
    assert(r.filter($"sim" =!= $"mx").count() == 0)
  }

  test("hyperplaneBuckets: bucket is one bit per plane, partitioning all rows") {
    val planes = emb.filter($"vec_id" < 3)
    val b = Similarity.hyperplaneBuckets(emb, "vec_id", "embedding",
      planes, "vec_id", "embedding")
    assert(b.count() == emb.count())
    val buckets = b.select("bucket").distinct().as[String].collect()
    assert(buckets.forall(s => s.length == 3 && s.forall("01".contains(_))))
  }

  test("knnLsh only pairs within a shared bucket and never exceeds k") {
    val planes = emb.filter($"vec_id" < 2)
    val out = Similarity.knnLsh(
      emb.filter($"vec_id" >= 10), emb.filter($"vec_id" < 5),
      "vec_id", "embedding", planes, "vec_id", "embedding", k = 3)
    val perQ = out.groupBy("qid").agg(count(lit(1)).as("n")).as[(Long, Long)].collect()
    assert(perQ.forall(_._2 <= 3))
  }

  test("hyperplaneBuckets adds zero exchanges beyond its input's (pure projection)") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    // Pre-spread input so Par.spread is a no-op (as on a cluster-scale scan)
    val wide = emb.repartition(8)
    val b = Similarity.hyperplaneBuckets(wide, "vec_id", "embedding",
      emb.filter($"vec_id" < 3), "vec_id", "embedding")
    assert(exchanges(b) == exchanges(wide),
      "bucket assignment must not introduce a shuffle")
  }

  private def topKSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("qid", "nid").as[(Long, Long)].collect().toSet

  test("knnLshMulti with multi-probe: recall >= single-table; >= 0.9 vs brute force") {
    // sf0.01 per the quality bar; the corpus is 500 near-random 64-dim
    // vectors (true top-3 cosine ~0.35) — the hard case for LSH, hence
    // L=4 tables + Hamming-1 probing for the recall target.
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = e.filter($"vec_id" >= 10)
    val queries = e.filter($"vec_id" < 10)
    val tables = (0 until 4).map(i =>
      e.filter($"vec_id" >= i * 4 && $"vec_id" < i * 4 + 4))
    val k = 3
    val truth = topKSet(Similarity.knnBruteForce(corpus, queries,
      "vec_id", "embedding", k))
    val single = topKSet(Similarity.knnLsh(corpus, queries,
      "vec_id", "embedding", tables.head, "vec_id", "embedding", k))
    val multi = topKSet(Similarity.knnLshMulti(corpus, queries,
      "vec_id", "embedding", tables, "vec_id", "embedding", k, probe1 = true))
    val rSingle = (single & truth).size.toDouble / truth.size
    val rMulti = (multi & truth).size.toDouble / truth.size
    info(f"ANN recall vs brute force @k=$k: single-table $rSingle%.3f, "
      + f"4-table+probe $rMulti%.3f")
    assert(rMulti >= rSingle, "adding tables/probes must not lose recall")
    assert(rMulti >= 0.9, f"multi-table recall $rMulti%.3f below 0.9")
  }

  test("kmeansCentroids: bit-identical under any partitioning; trains the quantizer") {
    def train(df: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 6, iters = 2)
    val a = train(emb.repartition(1))
    val b = train(emb.repartition(13))
    assert(a.length == 6 && a.forall(_.length == a.head.length))
    assert(a.toSeq == b.toSeq, "decimal-exact means must be partition-invariant")
    // trained quantizer is usable end-to-end and ranks like any other
    val cents = Similarity.centroidsDF(spark, a)
    val out = Similarity.knnIvf(
      emb.filter($"vec_id" >= 10), emb.filter($"vec_id" < 5),
      "vec_id", "embedding", cents, "cid", "vec", k = 3, nprobe = 2)
    val perQ = out.groupBy("qid").count().as[(Long, Long)].collect()
    assert(perQ.nonEmpty && perQ.forall(_._2 <= 3))
    // cells are populated by more than one seed's neighborhood
    val cells = emb.select(org.apache.spark.sql.functions.col("vec_id")).count()
    assert(cells > 0)
  }

  test("pqTrain/knnPq: codebook shapes, deterministic codes, sane recall") {
    val corpus = emb.filter($"vec_id" >= 10)
    val queries = emb.filter($"vec_id" < 10)
    // near-random embeddings need a fine quantizer: 16 subspaces of 4 dims
    // (coarse 4x4 PQ is chance-level here, like single-table LSH)
    val cbs = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 16, k = 8, iters = 1)
    assert(cbs.length == 16 && cbs.forall(_.length == 8))
    assert(cbs.forall(_.forall(_.length == 4)), "64-dim / m=16 = 4-wide subvectors")
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.knnPq(c, queries, "vec_id", "embedding", cbs, k = 3)
        .select("qid", "rank", "nid").as[(Long, Int, Long)].collect().toSet
    val a = run(corpus.repartition(1))
    val b = run(corpus.repartition(13))
    assert(a == b, "PQ ranking must be partition-invariant")
    // every query gets exactly k results (ADC scans the whole code table)
    val perQ = a.groupBy(_._1).view.mapValues(_.size)
    assert(perQ.values.forall(_ == 3))
    // recall on near-random data is margin-limited; report, don't gate
    val truth = topKSet(Similarity.knnBruteForce(corpus, queries,
      "vec_id", "embedding", 3))
    val recall = (a.map(t => (t._1, t._3)) & truth).size.toDouble / truth.size
    info(f"PQ recall @k=3, m=16, k*=8, 1 iter: $recall%.3f")
    // The ADC guarantee: est(q, u) = sum_j d2(qsub_j, cent[code_j(u)]) >=
    // sum_j min_c d2(qsub_j, cent_c) = est(q, q) when q is itself a corpus
    // vector — so the self pair attains the global-minimum estimate and
    // anything ranked above it must tie exactly (same code vector).
    val selfQ = corpus.filter($"vec_id" < 20)
    val full = Similarity.knnPq(corpus, selfQ, "vec_id", "embedding", cbs,
        k = 10000)
      .select("qid", "nid", "est_d2").as[(Long, Long, Double)].collect()
    val byQ = full.groupBy(_._1)
    byQ.foreach { case (qid, rows) =>
      val minEst = rows.map(_._3).min
      val selfEst = rows.find(_._2 == qid).get._3
      assert(selfEst == minEst,
        s"q$qid: self est $selfEst above global min $minEst")
    }
  }

  test("knnPq: the 16x8 ADC estimate runs as generated code") {
    // One CASE branch per code would pass 64 KB of generated code at 16
    // subspaces x 8 codes; with codegen fallback off, that stage fails
    // instead of running interpreted.
    val cbs = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 16, k = 8, iters = 1)
    val queries = emb.filter($"vec_id" < 10)
    val out = graft.Sessions.withConf(spark)(
        "spark.sql.codegen.fallback" -> "false") {
      Similarity.knnPq(emb.filter($"vec_id" >= 10), queries, "vec_id",
        "embedding", cbs, k = 3).select("qid", "nid").as[(Long, Long)]
        .collect()
    }
    assert(out.length == 3 * queries.count())
  }

  test("pqTrain rejects m not dividing the dimension") {
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(emb, "vec_id", "embedding", m = 7, k = 2, iters = 0)
    }
  }

  test("knnIvf: nprobe = #cells is exactly brute force; recall grows with nprobe") {
    val corpus = emb.filter($"vec_id" >= 10)
    val queries = emb.filter($"vec_id" < 10)
    val cents = emb.filter($"vec_id" < 8)
    val k = 3
    val truth = topKSet(Similarity.knnBruteForce(corpus, queries,
      "vec_id", "embedding", k))
    val full = topKSet(Similarity.knnIvf(corpus, queries, "vec_id", "embedding",
      cents, "vec_id", "embedding", k, nprobe = 8))
    assert(full == truth, "probing every cell must reduce to brute force")
    val r1 = (topKSet(Similarity.knnIvf(corpus, queries, "vec_id", "embedding",
      cents, "vec_id", "embedding", k, nprobe = 1)) & truth).size.toDouble / truth.size
    val r4 = (topKSet(Similarity.knnIvf(corpus, queries, "vec_id", "embedding",
      cents, "vec_id", "embedding", k, nprobe = 4)) & truth).size.toDouble / truth.size
    info(f"IVF recall @k=$k: nprobe=1 $r1%.3f, nprobe=4 $r4%.3f, nprobe=8 1.000")
    assert(r4 >= r1, "more probes must not lose recall")
  }

  test("randomProject: deterministic, linear, zero-preserving, right shape") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, -3.0f, 0.5f)),
      (2L, Seq(2.0f, 4.0f, -6.0f, 1.0f)), // exactly 2x row 1
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(df, "vec_id", "embedding",
        dOut = 6, seed = "jl")
      .as[(Long, Seq[Double])].collect().toMap
    assert(out.values.forall(_.length == 6))
    // same hash-derived matrix every run → doubling input doubles output
    // exactly (multiplication by 2 is FP-exact)
    assert(out(2L) == out(1L).map(_ * 2.0))
    assert(out(3L).forall(_ == 0.0))
    // signs actually vary: a ±1 row of all-equal signs would make y_0 a
    // plain (anti)sum; with 6x4 hash-derived entries at least one differs
    val again = Similarity.randomProject(df, "vec_id", "embedding", 6, "jl")
      .as[(Long, Seq[Double])].collect().toMap
    assert(again == out)
    val other = Similarity.randomProject(df, "vec_id", "embedding", 6, "alt")
      .as[(Long, Seq[Double])].collect().toMap
    assert(other(1L) != out(1L), "seed must change the matrix")
  }

  test("cellInertia: zero at centroids, hand-computed residuals") {
    // centroids: c0=(1,0), c1=(0,1). corpus: the centroids themselves
    // (residual 0) plus (0.8, 0.1) → cell 0, residual on the 10-grid:
    // (8-10)² + (1-0)² = 5
    val cents = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.8f, 0.1f))).toDF("vec_id", "embedding")
    val out = Similarity.cellInertia(corpus, "vec_id", "embedding",
        cents, "vec_id", "embedding", scale = 10.0)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(0L -> ((2L, 5L)), 1L -> ((1L, 0L))))
  }

  test("gramMatrix: hand-computed 2-dim triangle, invariant to partitioning") {
    // vectors (1,2) and (3,4) at scale=1: G = [[1+9, 2+12], [., 4+16]]
    val df = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)).toDF("v")
    val want = Map((0, 0) -> 10L, (0, 1) -> 14L, (1, 1) -> 20L)
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.gramMatrix(d, "v", d = 2, scale = 1.0)
        .as[(Int, Int, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    assert(run(df) == want)
    assert(run(df.repartition(5)) == want)
  }

  test("recallAtK: identical, partial, and disjoint rankings score 1 / 0.5 / 0") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L), (3L, 13L),
      (3L, 14L)).toDF("qid", "nid")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 13L), (3L, 15L),
      (3L, 16L)).toDF("qid", "nid")
    val out = Similarity.recallAtK(exact, approx, "qid", "nid")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) == ((2L, 2L, 2L, 1.0)))
    assert(out(2L) == ((2L, 2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 2L, 0L, 0.0)))
  }

  test("radiusIvf: threshold semantics equal knnIvf with k=all, and tau=-1 probes all") {
    val e = spark.read.parquet(sf("embeddings"))
    val corpus = e.filter($"vec_id" >= 10)
    val queries = e.filter($"vec_id" < 10)
    val cents = e.filter($"vec_id" < 8)
    val viaKnn = Similarity.knnIvf(corpus, queries, "vec_id", "embedding",
        cents, "vec_id", "embedding", k = Int.MaxValue, nprobe = 2)
      .filter($"sim" >= 0.25).select("qid", "nid", "sim")
      .as[(Long, Long, Double)].collect().toSet
    val viaRadius = Similarity.radiusIvf(corpus, queries, "vec_id",
        "embedding", cents, "vec_id", "embedding", tau = 0.25, nprobe = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaRadius == viaKnn)
    assert(viaRadius.forall(_._3 >= 0.25))
  }

  test("mipsBruteForce: dot order, not cosine order; augmentation equivalence") {
    // corpus vec 10 = (2,2): long but 45-degrees off the query -> dot 2,
    // cosine 0.707; vec 11 = (0.9,0.1): near-aligned -> dot 0.9,
    // cosine 0.994. Dot prefers 10, cosine prefers 11.
    val corpus = Seq((10L, Seq(2.0f, 2.0f)), (11L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val mips = Similarity.mipsBruteForce(corpus, queries, "vec_id",
        "embedding", k = 2)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().toSeq
    assert(mips.map(r => (r._2, r._3, r._4)) ==
      Seq((1, 10L, 2.0), (2, 11L, 0.9f.toDouble)))
    // Cosine ranks them the other way (0.9940... vs 1.0): MIPS != kNN.
    val cos = Similarity.knnBruteForce(corpus, queries, "vec_id",
        "embedding", k = 2)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().toSeq
    assert(cos.map(_._3) == Seq(11L, 10L))
    // Norm augmentation (Bachrach et al. 2014): append sqrt(M^2 - |x|^2)
    // to corpus vectors, 0 to queries -> cosine order == dot order, so
    // the bucketed cosine index serves MIPS unchanged.
    val m2 = 8.0 // max corpus norm^2 (vec 10: 2^2 + 2^2)
    val augC = corpus.select($"vec_id", array($"embedding"(0), $"embedding"(1),
      sqrt(lit(m2) - $"embedding"(0) * $"embedding"(0) -
        $"embedding"(1) * $"embedding"(1)).cast("float")).as("embedding"))
    val augQ = queries.select($"vec_id", array($"embedding"(0),
      $"embedding"(1), lit(0.0f)).as("embedding"))
    val augCos = Similarity.knnBruteForce(augC, augQ, "vec_id",
        "embedding", k = 2)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().toSeq
    assert(augCos.map(_._3) == mips.map(_._3)) // rank order restored
  }

  test("every centroid operator rejects an empty centroid frame by name") {
    val corpus = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val none = corpus.filter(lit(false))
    val codebooks = Seq(Array(Seq(1.0, 0.0)))
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "knnIvf" -> (() => Similarity.knnIvf(corpus, corpus, "vec_id",
        "embedding", none, "vec_id", "embedding", k = 1, nprobe = 1)),
      "radiusIvf" -> (() => Similarity.radiusIvf(corpus, corpus, "vec_id",
        "embedding", none, "vec_id", "embedding", tau = 0.5, nprobe = 1)),
      "cellInertia" -> (() => Similarity.cellInertia(corpus, "vec_id",
        "embedding", none, "vec_id", "embedding", scale = 10.0)),
      "residuals" -> (() => Similarity.residuals(corpus, "vec_id",
        "embedding", none, "vec_id", "embedding")),
      "semanticDedup" -> (() => Similarity.semanticDedup(corpus, "vec_id",
        "embedding", none, "vec_id", "embedding", threshold = 0.5)),
      "knnIvfPq" -> (() => Similarity.knnIvfPq(corpus, corpus, "vec_id",
        "embedding", none, "vec_id", "embedding", codebooks, k = 1,
        nprobe = 1)))
    ops.foreach { case (op, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage ==
        s"requirement failed: $op needs at least one centroid", op)
    }
  }
}
