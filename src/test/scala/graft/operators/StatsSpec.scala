package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("histogram: hand-computed buckets, max value clamped into the last") {
    // lo=0, hi=10, 5 buckets of width 2. 10 would floor to bucket 5 —
    // clamped to 4.
    val df = Seq(0.0, 1.9, 2.0, 5.0, 9.9, 10.0).toDF("v")
    val out = Stats.histogram(df, "v", 5).as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 4L -> 2L))
  }

  test("histogram: degenerate constant column lands in bucket 0") {
    val df = Seq(7.5, 7.5, 7.5).toDF("v")
    val out = Stats.histogram(df, "v", 8).as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 3L))
  }

  test("minMaxScale: [0,1] endpoints hit, degenerate group scales to 0") {
    val df = Seq(("a", 10.0), ("a", 20.0), ("a", 15.0),
      ("b", 7.0), ("b", 7.0)).toDF("k", "v")
    val out = Stats.minMaxScale(df, Seq("k"), "v")
      .select($"k", $"v", $"scaled").as[(String, Double, Double)]
      .collect().toSet
    assert(out == Set(("a", 10.0, 0.0), ("a", 20.0, 1.0), ("a", 15.0, 0.5),
      ("b", 7.0, 0.0)))
  }

  test("iqrOutliers: quartiles are order statistics; fences flag by hand") {
    // n=8 sorted: 1,2,3,4,5,6,7,100. q1 = rank ceil(2)=2 → 2;
    // q3 = rank ceil(6)=6 → 6. iqr=4, fences k=1.5: [-4, 12] → 100 out.
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 100.0).zipWithIndex
      .map { case (v, i) => ("g", v, i.toLong) }.toDF("k", "v", "o")
    val out = Stats.iqrOutliers(df, Seq("k"), "v", "o")
    val flagged = out.filter($"is_outlier").select($"v").as[Double]
      .collect().toSeq
    assert(flagged == Seq(100.0))
    val bounds = out.select($"q1", $"q3").distinct()
      .as[(Double, Double)].head()
    assert(bounds == ((2.0, 6.0)))
  }

  test("topKByCount: ranks by count desc with value tiebreak, keeps k") {
    val df = Seq("g" -> "a", "g" -> "a", "g" -> "b", "g" -> "b",
      "g" -> "c", "h" -> "z").toDF("k", "v")
    val out = Stats.topKByCount(df, Seq("k"), "v", k = 2)
      .select($"k", $"v", $"cnt", $"rk").as[(String, String, Long, Int)]
      .collect().toSet
    // a and b tie at 2 — 'a' wins rank 1 lexicographically; c is cut.
    assert(out == Set(("g", "a", 2L, 1), ("g", "b", 2L, 2), ("h", "z", 1L, 1)))
  }

  test("momentsInt: hand-computed numerators") {
    // Group g: x = 1,2,3; y = 2,4,6 (perfectly correlated).
    // n=3, sum_x=6, sum_xx=14, sum_y=12, sum_xy=28, sum_yy=56.
    // var_num_x = 3*14-36 = 6; var_num_y = 3*56-144 = 24;
    // cov_num = 3*28-72 = 12; corr = 12/sqrt(6*24) = 1.
    val df = Seq(("g", 1, 2), ("g", 2, 4), ("g", 3, 6)).toDF("k", "x", "y")
    val r = Stats.momentsInt(df, Seq("k"), "x", "y")
      .select($"n", $"var_num_x", $"var_num_y", $"cov_num")
      .as[(Long, Long, Long, Long)].head()
    assert(r == ((3L, 6L, 24L, 12L)))
  }

  test("momentsInt: bit-identical under repartitioning (long arithmetic)") {
    val df = (1 to 500).map(i => ("g" + (i % 3), i % 97, (i * 7) % 89))
      .toDF("k", "x", "y")
    val a = Stats.momentsInt(df, Seq("k"), "x", "y")
      .orderBy("k").collect().toSeq
    val b = Stats.momentsInt(df.repartition(13), Seq("k"), "x", "y")
      .orderBy("k").collect().toSeq
    assert(a == b)
  }

  test("robustScale: median/IQR by hand, degenerate group scales to 0") {
    // group a: values 1..5 → med=3 (rank 3), q1=2 (rank ceil(1.25)=2),
    // q3=4 (rank 4), iqr=2 → scaled = (v-3)/2
    val df = (1 to 5).map(v => ("a", v.toDouble, v.toLong)) ++
      Seq(("b", 7.0, 10L), ("b", 7.0, 11L))
    val out = Stats.robustScale(df.toDF("k", "v", "id"), Seq("k"), "v", "id")
      .orderBy("k", "id").select("k", "scaled")
      .as[(String, Double)].collect().toSeq
    assert(out == Seq(("a", -1.0), ("a", -0.5), ("a", 0.0), ("a", 0.5),
      ("a", 1.0), ("b", 0.0), ("b", 0.0)))
  }

  test("targetEncode: shrinkage blend by hand; rare category pulls to prior") {
    // global mean = (10+10+10+70)/4 = 25; m = 2
    // cat x: n=3 sum=30 → (30 + 2*25)/(3+2) = 16
    // cat y: n=1 sum=70 → (70 + 2*25)/(1+2) = 40  (vs raw mean 70)
    val df = Seq(("x", 10.0), ("x", 10.0), ("x", 10.0), ("y", 70.0))
      .toDF("cat", "tgt")
    val out = Stats.targetEncode(df, "cat", "tgt", m = 2.0)
      .orderBy("cat").select("cat", "n", "te")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(("x", 3L, 16.0), ("y", 1L, 40.0)))
  }

  test("stringIndex: lexicographic dense 0-based indices over distinct") {
    val df = Seq("c", "a", "b", "a", "c", "c").toDF("cat")
    val out = Stats.stringIndex(df, "cat").orderBy("idx")
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 0L), ("b", 1L), ("c", 2L)))
  }

  test("rollingAnomalies: integer cross-multiplied test, warmup is null") {
    // window = 3 rows (win=2), tau^2 = 1, grid 1:1. The spike at row 4
    // dominates its window's variance (dev2 324 > var_num 162); row 5
    // sees the same spike as context and stays quiet (81 < 162).
    val df = Seq(1.0, 1.0, 1.0, 10.0, 1.0).zipWithIndex
      .map { case (v, i) => ("a", i.toLong, v) }.toDF("k", "t", "v")
    val out = Stats.rollingAnomalies(df, Seq("k"), "v", Seq("t"),
        win = 2, tau2 = 1L, gridScale = 1L)
      .orderBy("t").select("is_anom").as[Option[Boolean]].collect().toSeq
    assert(out == Seq(None, None, Some(false), Some(true), Some(false)))
  }

  test("quantileBins: equal heights with earlier bins taking the extras") {
    // 10 rows into 4 bins → sizes 3,3,2,2 in value order
    val df = (1 to 10).map(i => ("g", i.toDouble, i.toLong))
      .toDF("k", "v", "id")
    val out = Stats.quantileBins(df, Seq("k"), "v", Seq("id"), n = 4)
      .orderBy("id").select("bin").as[Int].collect().toSeq
    assert(out == Seq(1, 1, 1, 2, 2, 2, 3, 3, 4, 4))
  }

  test("countMinSketch: never undercounts, conserves mass, partition-free") {
    val items = (1 to 400).map(i => s"k${i % 23}").toDF("term")
    val sk = Stats.countMinSketch(items, "term", depth = 3, hexDigits = 2)
      .persist()
    // every sketch row holds the full stream mass
    val mass = sk.groupBy("r").agg(sum("cnt").as("m"))
      .select("m").as[Long].collect().toSeq
    assert(mass == Seq(400L, 400L, 400L))
    // estimates are upper bounds on true counts
    val truth = items.groupBy("term").agg(count(lit(1)).as("tc"))
    val est = Stats.countMinEstimate(sk, truth.select("term"), "term", 3, 2)
    val joined = est.join(truth, "term")
      .select("term", "est", "tc").as[(String, Long, Long)].collect()
    assert(joined.length == 23)
    assert(joined.forall { case (_, e, t) => e >= t })
    // identical sketch from any input partitioning
    val sk8 = Stats.countMinSketch(items.repartition(8), "term", 3, 2)
    assert(sk8.orderBy("r", "bucket").collect().toSeq ==
      sk.orderBy("r", "bucket").collect().toSeq)
    sk.unpersist(blocking = true)
  }

  test("amsSketch: counters bounded by mass, exact on a single-key stream") {
    // one distinct key: every occurrence gets the same sign per row, so
    // |z| = n exactly and z² = F2 = n² for every row
    val single = Seq.fill(37)("only").toDF("term")
    val zs = Stats.amsSketch(single, "term", depth = 5)
      .select("z").as[Long].collect()
    assert(zs.length == 5 && zs.forall(z => math.abs(z) == 37L))
    // mixed stream: |z| ≤ stream length, and the sketch is
    // partition-invariant like every sum of longs
    val items = (1 to 300).map(i => s"k${i % 17}").toDF("term")
    val a = Stats.amsSketch(items, "term", 5).orderBy("r").collect().toSeq
    val b = Stats.amsSketch(items.repartition(9), "term", 5)
      .orderBy("r").collect().toSeq
    assert(a == b)
    assert(a.forall(r => math.abs(r.getLong(1)) <= 300))
  }

  test("giniSkew: zero for uniform keys, hand-computed for skewed ones") {
    // uniform: 4 keys x 5 rows each → G = 0
    val uniform = (1 to 20).map(i => s"k${i % 4}").toDF("k")
    val g0 = Stats.giniSkew(uniform, Seq("k"))
      .as[(Long, Long, Long, Double)].head()
    assert(g0 == ((4L, 20L, 0L, 0.0)))
    // counts 1,1,2,4 ascending: num = 2*(1*1+2*1+3*2+4*4) - 5*8 = 10
    // G = 10 / (4*8) = 0.3125
    val skewed = (Seq.fill(1)("a") ++ Seq.fill(1)("b") ++ Seq.fill(2)("c")
      ++ Seq.fill(4)("d")).toDF("k")
    val g1 = Stats.giniSkew(skewed, Seq("k"))
      .as[(Long, Long, Long, Double)].head()
    assert(g1 == ((4L, 8L, 10L, 0.3125)))
  }

  test("kAnonymize: level ladder — cell, stratum, suppress") {
    // stratum A: cells of 3 and 2 (total 5); stratum B: one cell of 1.
    val df = (Seq.fill(3)(("A", "x")) ++ Seq.fill(2)(("A", "y"))
      ++ Seq(("B", "z"))).toDF("q1", "q2")
    val out = Stats.kAnonymize(df, "q1", "q2", k = 3L)
      .as[(String, String, Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out == Map(
      ("A", "x") -> ((3L, 5L, 2)),   // cell itself reaches k
      ("A", "y") -> ((2L, 5L, 1)),   // only the stratum reaches k
      ("B", "z") -> ((1L, 1L, 0))))  // suppress
  }

  test("assocPairs: hand-computed support, confidence, lift") {
    // baskets: {x,y,z}, {x,y}, {x,z}, {y} → N=4
    // pair (x,y): ab=2, ca=3, cb=3 → conf=2/3, lift=4*2/9
    // pair (x,z): ab=2, ca=3, cb=2 → conf=2/3, lift=4*2/6
    // pair (y,z): ab=1 → below minSupport=2
    val df = Seq((1, "x"), (1, "y"), (1, "z"), (2, "x"), (2, "y"),
      (3, "x"), (3, "z"), (4, "y")).toDF("bk", "it")
    val out = Stats.assocPairs(df, "bk", "it", minSupport = 2L)
      .as[(String, String, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(out == Map(
      ("x", "y") -> ((2L, 3L, 3L, 2.0 / 3.0, 8.0 / 9.0)),
      ("x", "z") -> ((2L, 3L, 2L, 2.0 / 3.0, 8.0 / 6.0))))
  }

  test("ksTwoSample: hand-computed D, tie handling, identical → 0") {
    // group g: a = {1, 2}, b = {2, 3}.
    // distinct x: 1 (ca=1), 2 (ca=1, cb=1), 3 (cb=1)
    // F_a: 1/2, 1, 1 ; F_b: 0, 1/2, 1 → D = 1/2 (at x=1 and x=2)
    val df = Seq(("g", 1.0, 0), ("g", 2.0, 0), ("g", 2.0, 1), ("g", 3.0, 1),
      ("h", 5.0, 0), ("h", 5.0, 1)).toDF("k", "x", "b")
    val out = Stats.ksTwoSample(df, Seq("k"), "x", col("b") === 1)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("g") == ((2L, 2L, 0.5)))
    // identical samples → D = 0
    assert(out("h") == ((1L, 1L, 0.0)))
  }

  test("property: ksTwoSample == brute-force ECDF sweep on random samples") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      a <- Gen.nonEmptyListOf(Gen.choose(0, 9))
      b <- Gen.nonEmptyListOf(Gen.choose(0, 9))
    } yield (a.map(_.toDouble), b.map(_.toDouble))
    (1 to 5).foreach { trial =>
      val (a, b) = gen(Gen.Parameters.default, Seed(trial.toLong)).get
      val xs = (a ++ b).distinct.sorted
      val want = xs.map { x =>
        math.abs(a.count(_ <= x).toDouble / a.size
          - b.count(_ <= x).toDouble / b.size)
      }.max
      val df = (a.map(("g", _, 0)) ++ b.map(("g", _, 1))).toDF("k", "x", "b")
      val got = Stats.ksTwoSample(df, Seq("k"), "x", col("b") === 1)
        .as[(String, Long, Long, Double)].head()
      assert(got == (("g", a.size.toLong, b.size.toLong, want)),
        s"trial $trial: a=$a b=$b")
    }
  }

  test("property: giniSkew matches the brute-force sorted-rank formula") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.nonEmptyListOf(Gen.choose(0, 6))
    (1 to 5).foreach { trial =>
      val ks = gen(Gen.Parameters.default, Seed(trial.toLong)).get
      val counts = ks.groupBy(identity).values.map(_.size.toLong)
        .toSeq.sorted
      val n = counts.size.toLong
      val num = counts.zipWithIndex
        .map { case (c, i) => (2L * (i + 1) - n - 1) * c }.sum
      val want = num.toDouble / (n * counts.sum).toDouble
      val got = Stats.giniSkew(ks.map(i => s"k$i").toDF("k"), Seq("k"))
        .as[(Long, Long, Long, Double)].head()
      assert(got == ((n, counts.sum, num, want)), s"trial $trial: $ks")
    }
  }

  test("property: aucOnGrid == brute-force pair counting with ties") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      ps <- Gen.nonEmptyListOf(Gen.choose(-3L, 3L))
      ns <- Gen.nonEmptyListOf(Gen.choose(-3L, 3L))
    } yield (ps, ns)
    (1 to 5).foreach { trial =>
      val (ps, ns) = gen(Gen.Parameters.default, Seed(trial.toLong)).get
      // brute force: 2·#(s⁺ > s⁻) + #(s⁺ = s⁻)
      val num = (for { p <- ps; n <- ns } yield
        if (p > n) 2L else if (p == n) 1L else 0L).sum
      val df = (ps.map((_, 1L)) ++ ns.map((_, 0L))).toDF("bin", "pos")
      val got = Stats.aucOnGrid(df, "bin", "pos")
        .as[(Long, Long, Long, Double)].head()
      val want = (ps.size.toLong, ns.size.toLong, num,
        num.toDouble / (2L * ps.size * ns.size).toDouble)
      assert(got == want, s"trial $trial: pos=$ps neg=$ns")
    }
    // perfect separation → AUC 1; reversed → 0
    val perfect = Stats.aucOnGrid(
      Seq((5L, 1L), (6L, 1L), (1L, 0L)).toDF("bin", "pos"), "bin", "pos")
      .as[(Long, Long, Long, Double)].head()
    assert(perfect._4 == 1.0)
  }

  test("skyline: hand case — dominated, tied-coordinate, and duplicate rows") {
    // (5,1) dominated by (5,3); (3,3) dominated by (5,3); (1,9) survives;
    // duplicate maxima (9,2) twice: neither dominates the other — both stay.
    val df = Seq((1L, 9L), (3L, 3L), (5L, 3L), (5L, 1L), (9L, 2L), (9L, 2L))
      .toDF("x", "y")
    val out = Stats.skyline(df, "x", "y").as[(Long, Long)].collect().toSeq
      .sorted
    assert(out == Seq((1L, 9L), (5L, 3L), (9L, 2L), (9L, 2L)))
  }

  test("property: skyline == brute-force dominance test on random points") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 6L)))
    (1 to 6).foreach { trial =>
      val pts = gen(Gen.Parameters.default, Seed(trial.toLong)).get
      def dominated(p: (Long, Long)) = pts.exists(q =>
        q._1 >= p._1 && q._2 >= p._2 && (q._1 > p._1 || q._2 > p._2))
      val want = pts.filterNot(dominated).sorted
      val got = Stats.skyline(pts.toDF("x", "y"), "x", "y")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == want, s"trial $trial: $pts")
    }
  }

  test("joinSizeEstimate: exact sum of products; smallest-key argmax tiebreak") {
    // keys: 1 -> 2*3=6 rows, 2 -> 3*2=6 rows (tie -> top_key 1), 3 only left.
    val l = Seq(1L, 1L, 2L, 2L, 2L, 3L).toDF("k")
    val r = Seq(1L, 1L, 1L, 2L, 2L).toDF("j")
    val out = Stats.joinSizeEstimate(l, "k", r, "j")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(out == ((2L, 12L, 1L, 6L, 0.5)))
    assert(l.join(r, l("k") === r("j")).count() == out._2)
  }

  test("profile: nulls, distincts, string min/max across mixed types") {
    val df = Seq((Some(3L), "b"), (None, "a"), (Some(1L), "b"))
      .toDF("num", "s")
    val out = Stats.profile(df, Seq("num", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out("num") == ((3L, 1L, 2L, "1", "3")))
    assert(out("s") == ((3L, 0L, 2L, "a", "b")))
  }

  test("autocorrInt: hand-computed lag-1 on 1..4; constant and short series null") {
    val df = Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), ("a", 4L, 4.0),
      ("c", 1L, 5.0), ("c", 2L, 5.0), ("c", 3L, 5.0),
      ("s", 1L, 7.0)).toDF("k", "t", "v")
    val out = Stats.autocorrInt(df, Seq("k"), Seq("t"), "v",
        lag = 1, grid = 1L)
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // 1..4: num*n^2 = 16*20 - 4*10*15 + 3*100 = 20; den*n^2 = 480-400=80.
    assert(out("a") == ((4L, Some(0.25))))
    assert(out("c") == ((3L, None)))   // zero variance
    assert(out("s") == ((1L, None)))   // no lag pair
  }

  test("property: autocorrInt matches the textbook estimator on random series") {
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(200)(rnd.nextInt(1000).toDouble)
    val df = xs.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
      .toDF("k", "t", "v")
    for (lag <- Seq(1, 3)) {
      val got = Stats.autocorrInt(df.repartition(7), Seq("k"), Seq("t"), "v",
          lag = lag, grid = 1L)
        .as[(String, Long, Option[Double])].head()._3.get
      val m = xs.sum / xs.length
      val num = xs.dropRight(lag).zip(xs.drop(lag))
        .map { case (a, b) => (a - m) * (b - m) }.sum
      val den = xs.map(x => (x - m) * (x - m)).sum
      assert(math.abs(got - num / den) < 1e-12)
    }
  }

  test("cohenKappa: textbook 2x2 confusion gives 0.4; degenerate gives null") {
    val rows =
      Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    // chance_num is DECIMAL(38,0) (marginal products overflow LongType
    // past ~3e9 rows); narrow it for the tuple encoder only.
    def narrowed(df: org.apache.spark.sql.DataFrame) = df.select(
      col("n"), col("agree"), col("chance_num").cast("long"), col("kappa"))
    val out = narrowed(Stats.cohenKappa(rows.toDF("a", "b"), "a", "b"))
      .as[(Long, Long, Long, Option[Double])].head()
    assert(out == ((50L, 35L, 1250L, Some(0.4))))
    val const = narrowed(Stats.cohenKappa(
      Seq(("x", "x"), ("x", "x")).toDF("a", "b"), "a", "b"))
      .as[(Long, Long, Long, Option[Double])].head()
    assert(out._1 > 0 && const._4.isEmpty)
  }

  test("contingencyResiduals: hand-computed 2x2 deviations sum to zero per margin") {
    // Cells: (x,p)=30 (x,q)=10 (y,p)=10 (y,q)=50. n=100.
    // dev(x,p) = 100*30 - 40*40 = 1400; resid = 1400/sqrt(100*40*40).
    val df = (Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(50)(("y", "q"))).toDF("u", "v")
    val out = Stats.contingencyResiduals(df, "u", "v")
      .select(col("a"), col("b"), col("observed"), col("row_tot"),
        col("col_tot"), col("dev_num").cast("long"), col("resid"))
      .as[(String, String, Long, Long, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(out(("x", "p"))._6 == 1400L)
    assert(out(("x", "q"))._6 == -1400L)
    assert(out(("y", "p"))._6 == -1400L)
    assert(out(("y", "q"))._6 == 1400L)
    assert(out(("x", "p"))._7 == 1400.0 / math.sqrt(100.0 * 40 * 40))
    // Deviations cancel along every row and column margin.
    assert(out.values.map(_._6).sum == 0L)
  }

  test("perceptronRounds: hand-computed two rounds; round-2 updates only on mistakes") {
    // doc1: {A:2}, y=+1; doc2: {A:1, B:1}, y=-1.
    // Round 1 (all margins 0 -> all update): w(A)=2-1=1, w(B)=-1.
    // Round 2: doc1 margin 2 (correct), doc2 margin 0 (mistake) ->
    // w(A)=1-1=0, w(B)=-1-1=-2.
    val feats = Seq((1L, "A", 2L), (2L, "A", 1L), (2L, "B", 1L))
      .toDF("doc", "bucket", "cnt")
    val labels = Seq((1L, 1L), (2L, -1L)).toDF("doc", "y")
    val out = Stats.perceptronRounds(feats, "doc", "bucket", "cnt",
        labels, "y", rounds = 2)
      .as[(Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map((1L, "A") -> 1L, (1L, "B") -> -1L,
      (2L, "A") -> 0L, (2L, "B") -> -2L))
  }

  test("perceptronRounds: weights are repartition-invariant (exact integers)") {
    val rnd = new scala.util.Random(11)
    val feats = (1L to 60L).flatMap { d =>
      Seq.fill(1 + rnd.nextInt(3))((d, "b" + rnd.nextInt(8),
        1L + rnd.nextInt(5)))
    }.toDF("doc", "bucket", "cnt")
    val labels = (1L to 60L).map(d => (d, if (d % 3 == 0) 1L else -1L))
      .toDF("doc", "y")
    def run(f: org.apache.spark.sql.DataFrame) =
      Stats.perceptronRounds(f, "doc", "bucket", "cnt", labels, "y", 3)
        .as[(Long, String, Long)].collect().toSet
    assert(run(feats.repartition(1)) == run(feats.repartition(13)))
  }

  test("histQuantiles: rank-at-ceil on the lattice; error bounded by spacing") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 5.25), ("b", 5.25), ("b", 9.99)).toDF("k", "v")
    val out = Stats.histQuantiles(df, Seq("k"), "v", grid = 100L)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // a: ranks ceil(5/2)=2 -> 2.0; ceil(45/10)=4 -> 4.0 (values on-lattice).
    assert(out("a") == ((4L, 2.0, 4.0)))
    assert(out("b") == ((3L, 5.25, 9.99)))
    // Against the exact order statistic on random data, within 1/grid.
    val rnd = new scala.util.Random(3)
    val xs = Seq.fill(500)(rnd.nextDouble() * 50)
    val got = Stats.histQuantiles(xs.map(("k", _)).toDF("k", "v"),
        Seq("k"), "v", 100L)
      .as[(String, Long, Double, Double)].head()
    val sorted = xs.sorted
    val exact50 = sorted((xs.length + 1) / 2 - 1)
    val exact90 = sorted((9 * xs.length + 9) / 10 - 1)
    assert(math.abs(got._3 - exact50) <= 0.01 + 1e-12)
    assert(math.abs(got._4 - exact90) <= 0.01 + 1e-12)
  }

  test("welchT: hand-computed statistic; degenerate groups are null") {
    val df = Seq(
      ("k", "a", 1.0), ("k", "a", 2.0), ("k", "a", 3.0),
      ("k", "b", 4.0), ("k", "b", 6.0),
      ("z", "a", 5.0), ("z", "b", 9.0)).toDF("g", "grp", "v")
    val out = Stats.welchT(df, Seq("g"), "grp", "a", "b", "v", grid = 1L)
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // a: n=3 m=2 s²=1; b: n=2 m=5 s²=2 -> t = -3/sqrt(1/3 + 1).
    assert(out("k")._2 == 3L && out("k")._3 == 2L)
    assert(out("k")._4 == Some((2.0 - 5.0) / math.sqrt(1.0 / 3.0 + 1.0)))
    assert(out("z")._4.isEmpty) // single-row groups
  }

  test("welchT: symmetric groups give t = 0; repartition-invariant") {
    val rows = (1 to 40).flatMap(i =>
      Seq(("k", "a", i.toDouble), ("k", "b", i.toDouble)))
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.welchT(d, Seq("k"), "grp", "a", "b", "v", 100L)
        .as[(String, Long, Long, Option[Double])].head()
    val a = run(rows.toDF("k", "grp", "v"))
    assert(a._4 == Some(0.0))
    assert(a == run(rows.toDF("k", "grp", "v").repartition(13)))
  }

  test("olsFit: exact line recovered; constant x is null") {
    // y = 2x + 3 exactly -> slope 2, icept 3, r² 1.
    val df = (1 to 5).map(x => ("k", x.toDouble, 2.0 * x + 3.0)) ++
      Seq(("c", 4.0, 1.0), ("c", 4.0, 9.0)) // constant x
    val out = Stats.olsFit(df.toDF("g", "x", "y"), Seq("g"), "x", "y")
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(out("k") == ("k", 5L, Some(2.0), Some(3.0), Some(1.0)))
    assert(out("c")._3.isEmpty && out("c")._4.isEmpty && out("c")._5.isEmpty)
  }

  test("olsFit: noisy hand-computed fit on grids; repartition-invariant") {
    // x in {1,2,3}, y = {1.0, 2.5, 2.5} with yGrid=10 -> y = {10, 25, 25}:
    // n=3 sx=6 sy=60, sxy=10+50+75=135, sxx=14.
    // num = 3*135-6*60 = 45, den = 3*14-36 = 6 -> slope 7.5,
    // icept = (60*14-6*135)/6 = 5, syy=1350, deny=3*1350-3600=450,
    // r² = 45²/(6*450) = 2025/2700 = 0.75.
    val rows = Seq(("k", 1.0, 1.0), ("k", 2.0, 2.5), ("k", 3.0, 2.5))
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.olsFit(d, Seq("k"), "x", "y", xGrid = 1L, yGrid = 10L)
        .as[(String, Long, Option[Double], Option[Double], Option[Double])]
        .head()
    val a = run(rows.toDF("k", "x", "y"))
    assert(a == (("k", 3L, Some(7.5), Some(5.0), Some(0.75))))
    assert(a == run(rows.toDF("k", "x", "y").repartition(7)))
  }

  test("corrMatrix: perfect, inverse, and constant columns in one pass") {
    // b = 2a (corr 1), c = -a (corr -1 with a, -1 with b), d constant
    // (null with everything).
    val df = (1 to 6).map(i =>
      (i.toDouble, 2.0 * i, -i.toDouble, 7.0)).toDF("a", "b", "c", "d")
    val out = Stats.corrMatrix(df,
        Seq(("a", 1L), ("b", 1L), ("c", 1L), ("d", 1L)))
      .as[(String, String, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // Expected values go through the SAME fixed IEEE shape the operator
    // pins (num / (√di · √dj)) — e.g. √105·√420 ≈ 209.99999999999997,
    // so "perfect" correlation is 1 + 1ulp, identically in any engine.
    def shape(num: Double, di: Double, dj: Double) =
      num / (math.sqrt(di) * math.sqrt(dj))
    assert(out(("a", "b")) == ((6L, Some(shape(210, 105, 420)))))
    assert(out(("a", "c")) == ((6L, Some(shape(-105, 105, 105)))))
    assert(out(("b", "c")) == ((6L, Some(shape(-210, 420, 105)))))
    assert(out(("a", "b"))._2.get > 0.999999 &&
      out(("a", "c"))._2.get < -0.999999)
    assert(out(("a", "d"))._2.isEmpty)
    assert(out(("b", "d"))._2.isEmpty)
    assert(out(("c", "d"))._2.isEmpty)
    assert(out.size == 6) // k(k-1)/2 pairs, no diagonal, no duplicates
  }

  test("diversity: uniform is maximal, constant is zero; exact ratios") {
    // u: 4 cats × 2 each -> gini = 1 - 4·(1/4)² = 0.75, eff = 4.
    // c: one cat -> gini 0, eff 1. s: {3,1} -> gini = (16-10)/16,
    // eff = 16/10.
    val rows = (1 to 8).map(i => ("u", s"c${i % 4}")) ++
      (1 to 5).map(_ => ("c", "only")) ++
      Seq(("s", "a"), ("s", "a"), ("s", "a"), ("s", "b"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.diversity(d, Seq("k"), "cat")
        .as[(String, Long, Long, Double, Double)].collect().toSet
    val got = run(rows.toDF("k", "cat"))
    assert(got == Set(("u", 8L, 4L, 0.75, 4.0), ("c", 5L, 1L, 0.0, 1.0),
      ("s", 4L, 2L, 6.0 / 16.0, 16.0 / 10.0)))
    assert(got == run(rows.toDF("k", "cat").repartition(6)))
  }

  test("benford: digits from the integer part, sub-1 rows excluded") {
    // 120.5 -> '1', 19 -> '1', 2.3 -> '2', 0.4 excluded, 900 -> '9'.
    val df = Seq(120.5, 19.0, 2.3, 0.4, 900.0).toDF("v")
    val out = Stats.benford(df, "v")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("1")._2 == 2L && out("2")._2 == 1L && out("9")._2 == 1L)
    assert(out("1")._3 == 0.5)
    assert(out("1")._4 == 0.3010299956639812)
    assert(out("1")._5 == 0.5 - 0.3010299956639812)
    assert(!out.contains("0") && out.size == 3)
  }

  test("corrMatrix: repartition-invariant on grids") {
    val rows = Seq((1.0, 0.11), (2.0, 0.07), (3.0, 0.93), (4.0, 0.42))
    def run(d: org.apache.spark.sql.DataFrame) =
      Stats.corrMatrix(d, Seq(("x", 1L), ("y", 100L)))
        .as[(String, String, Long, Option[Double])].head()
    assert(run(rows.toDF("x", "y")) ==
      run(rows.toDF("x", "y").repartition(11)))
  }

  test("mannWhitneyU: hand-computed ranks with ties") {
    // a: {1, 2, 2}, b: {2, 3}. Pooled sorted: 1(r1), 2,2,2 (avg r3),
    // 3(r5). R_a = 1 + 3 + 3 = 7 → r_a2 = 14; U_a = 7 − 3·4/2 = 1.
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 2L), ("b", 3L))
      .toDF("g", "v")
    val r = Stats.mannWhitneyU(df, "g", "a", "b", "v")
      .select(col("n_a"), col("n_b"), col("r_a2").cast("long"), col("u_a"))
      .as[(Long, Long, Long, Double)].head()
    assert(r == ((3L, 2L, 14L, 1.0)))
  }

  test("mannWhitneyU: no ties, all of a below b — U_a = 0, z negative") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L)).toDF("g", "v")
    val r = Stats.mannWhitneyU(df, "g", "a", "b", "v")
      .select(col("u_a"), col("z")).as[(Double, Option[Double])].head()
    assert(r._1 == 0.0 && r._2.exists(_ < 0))
  }

  test("spearmanRho: perfect monotone = 1, reversed = -1, and " +
    "partition-invariant") {
    val up = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("x", "y")
    val down = Seq((1L, 40L), (2L, 30L), (3L, 20L), (4L, 10L)).toDF("x", "y")
    val rUp = Stats.spearmanRho(up, "x", "y")
      .as[(Long, Option[Double])].head()
    val rDown = Stats.spearmanRho(down, "x", "y")
      .as[(Long, Option[Double])].head()
    // sqrt(d)·sqrt(d) is one ulp off d in IEEE — the statistic is
    // deterministic (same fixed expression both engines), not exactly ±1.
    assert(rUp._2.exists(r => math.abs(r - 1.0) < 1e-12) &&
      rDown._2.exists(r => math.abs(r + 1.0) < 1e-12))
    val rRep = Stats.spearmanRho(up.repartition(7), "x", "y")
      .as[(Long, Option[Double])].head()
    assert(rUp == rRep)
  }

  test("spearmanRho: constant column has no defined rho") {
    val df = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("x", "y")
    assert(Stats.spearmanRho(df, "x", "y")
      .as[(Long, Option[Double])].head()._2.isEmpty)
  }

  test("gini: perfect equality = 0; hand-computed unequal case") {
    val eq = Seq(("g", 5L), ("g", 5L), ("g", 5L), ("g", 5L)).toDF("k", "v")
    val g0 = Stats.gini(eq, Seq("k"), "v")
      .as[(String, Long, Long, Option[Double])].head()
    assert(g0._4.contains(0.0))
    // {1, 3}: S = 1·1 + 2·3 = 7, T = 4, n = 2 →
    // G = (14 − 3·4)/(2·4) = 0.25.
    val un = Seq(("g", 1L), ("g", 3L)).toDF("k", "v")
    val g1 = Stats.gini(un, Seq("k"), "v")
      .as[(String, Long, Long, Option[Double])].head()
    assert(g1 == (("g", 2L, 4L, Some(0.25))))
  }

  test("crossCorrInt: y lags x by one step — lag-1 xcf is exactly +1 " +
    "shape, lag on the wrong side decorrelates") {
    // x ramps 1..6; y is x shifted: y_{t+1} = x_t → pairing (x_t, y_{t+1})
    // reconstructs (x_t, x_t): perfect positive correlation.
    val rows = Seq((1, 1.0, 9.0), (2, 2.0, 1.0), (3, 3.0, 2.0),
      (4, 4.0, 3.0), (5, 5.0, 4.0), (6, 6.0, 5.0))
    val df = rows.toDF("t", "x", "y")
    val r = Stats.crossCorrInt(df, Seq.empty, Seq("t"), "x", "y",
        lag = 1, grid = 1L)
      .as[(Long, Option[Double])].head()
    assert(r._1 == 5L && r._2.exists(v => math.abs(v - 1.0) < 1e-12))
  }

  test("crossCorrInt: constant series has no defined xcf") {
    val df = Seq((1, 2.0, 5.0), (2, 2.0, 6.0), (3, 2.0, 7.0))
      .toDF("t", "x", "y")
    assert(Stats.crossCorrInt(df, Seq.empty, Seq("t"), "x", "y", 1, 1L)
      .as[(Long, Option[Double])].head()._2.isEmpty)
  }

  test("cusumChangepoint: finds the level-shift position") {
    // 0,0,0,0,10,10,10,10 → max |N·S_t − t·S_N| at the boundary t=4.
    val df = (1 to 8).map(t => ("k", t, if (t <= 4) 0.0 else 10.0))
      .toDF("k", "t", "v")
    val r = Stats.cusumChangepoint(df, Seq("k"), Seq("t"), "v", 1L)
      .as[(String, Long, Long, Double)].head()
    assert(r._2 == 8L && r._3 == 4L && r._4 > 0.4)
  }

  test("cusumChangepoint: constant stream reports zero deviation at t=1 " +
    "and a partition-invariant result") {
    val df = (1 to 9).map(t => ("k", t, 3.0)).toDF("k", "t", "v")
    val run = (d: org.apache.spark.sql.DataFrame) =>
      Stats.cusumChangepoint(d, Seq("k"), Seq("t"), "v", 1L)
        .as[(String, Long, Long, Double)].head()
    val a = run(df)
    assert(a._3 == 1L && a._4 == 0.0 && a == run(df.repartition(5)))
  }

  test("kendallTauB: hand-computed concordance with ties") {
    // (1,1),(2,2),(3,3),(3,1): x-pairs with x1<x2: (1,2)(1,3)(1,3')(2,3)
    // (2,3'): conc = (1,2),(1,3),(2,3) = 3; disc = (2,3') = 1; (1,3')
    // ties on y. n=4, n(n-1)=12, tx2 = 2 (x=3 twice), ty2 = 2 (y=1
    // twice). tau = 2*(3-1)/ (sqrt(10)*sqrt(10)) = 0.4.
    val df = Seq((1L, 1L), (2L, 2L), (3L, 3L), (3L, 1L)).toDF("x", "y")
    val r = Stats.kendallTauB(df, "x", "y")
      .select(col("n"), col("conc").cast("long"), col("disc").cast("long"),
        col("tau"))
      .as[(Long, Long, Long, Option[Double])].head()
    assert(r._1 == 4L && r._2 == 3L && r._3 == 1L)
    assert(r._4.exists(t => math.abs(t - 0.4) < 1e-12))
  }

  test("kendallTauB: perfectly reversed order = -1; constant y undefined") {
    val rev = Seq((1L, 3L), (2L, 2L), (3L, 1L)).toDF("x", "y")
    val t1 = Stats.kendallTauB(rev, "x", "y")
      .select(col("tau")).as[Option[Double]].head()
    assert(t1.exists(t => math.abs(t + 1.0) < 1e-12))
    val const = Seq((1L, 5L), (2L, 5L)).toDF("x", "y")
    assert(Stats.kendallTauB(const, "x", "y")
      .select(col("tau")).as[Option[Double]].head().isEmpty)
  }

  test("moodMedianTest: grand median split, chi2 via the 2x2 machinery") {
    // Values 1..4 in A, 3..6 in B: pooled 1,2,3,3,4,4,5,6 -> N=8,
    // cum(3)=4 >= 4 -> median 3. Above: A={4}:1, B={4,5,6}:3.
    // Table A:(3,1) B:(1,3); n=8 rt=4,4 ct=4,4 -> exp 2 each;
    // chi2 = 4*1/2 = 2 exactly (dev_num = 8*3-16 = 8, term = 64/128=.5).
    val df = (Seq(1L, 2L, 3L, 4L).map(("A", _)) ++
      Seq(3L, 4L, 5L, 6L).map(("B", _))).toDF("g", "v")
    val r = Stats.moodMedianTest(df, "g", "v")
      .as[(Long, Long, Long, Double, Option[Double])].head()
    assert(r._1 == 3L && r._2 == 8L && r._3 == 1L)
    assert(math.abs(r._4 - 2.0) < 3e-6)
    assert(r._5.exists(v => math.abs(v - math.sqrt(r._4 / 8.0)) < 1e-12))
  }

  test("jonckheereTerpstra: hand-computed ascending and descending trend") {
    // A=[1,2], B=[3,4]: all 4 cross pairs ascend -> JT2=8; mean2 =
    // (16-8)/2 = 4; var = [4*3*13 - 2*(2*1*9)]/72 = 120/72; z =
    // (8-4)/(2*sqrt(5/3)) = 2*sqrt(3/5).
    val up = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L)).toDF("g", "v")
    val r = Stats.jonckheereTerpstra(up, "g", "v")
      .as[(Long, Long, String, Option[Double])].head()
    assert(r._1 == 4L && r._2 == 2L && r._3 == "8")
    assert(r._4.exists(z => math.abs(z - 2.0 * math.sqrt(3.0 / 5.0)) < 1e-12))
    val down = Seq(("A", 3L), ("A", 4L), ("B", 1L), ("B", 2L)).toDF("g", "v")
    val d = Stats.jonckheereTerpstra(down, "g", "v")
      .as[(Long, Long, String, Option[Double])].head()
    assert(d._3 == "0")
    assert(d._4.exists(z => math.abs(z + 2.0 * math.sqrt(3.0 / 5.0)) < 1e-12))
  }

  test("jonckheereTerpstra: tie-corrected variance; degenerate nulls") {
    // A=[1,1], B=[1,2]: JT2 = 2 ties + 2 ascending = 6; mean2 = 4;
    // var = 54/72 + 0 + 24/96 = 1.0 exactly; z = 1.0.
    val tied = Seq(("A", 1L), ("A", 1L), ("B", 1L), ("B", 2L)).toDF("g", "v")
    val r = Stats.jonckheereTerpstra(tied, "g", "v")
      .as[(Long, Long, String, Option[Double])].head()
    assert(r._3 == "6" && r._4.exists(z => math.abs(z - 1.0) < 1e-12))
    val oneG = Seq(("A", 1L), ("A", 2L), ("A", 3L)).toDF("g", "v")
    assert(Stats.jonckheereTerpstra(oneG, "g", "v")
      .as[(Long, Long, String, Option[Double])].head()._4.isEmpty)
    val allTie = Seq(("A", 5L), ("B", 5L), ("C", 5L)).toDF("g", "v")
    assert(Stats.jonckheereTerpstra(allTie, "g", "v")
      .as[(Long, Long, String, Option[Double])].head()._4.isEmpty)
  }

  test("jonckheereTerpstra: partition-invariant") {
    val rows = (1L to 600L).map(i => ("g" + (i % 3), (i * i * i) % 29))
    val a = Stats.jonckheereTerpstra(rows.toDF("g", "v"), "g", "v")
      .as[(Long, Long, String, Option[Double])].head()
    val b = Stats.jonckheereTerpstra(rows.toDF("g", "v").repartition(23),
        "g", "v")
      .as[(Long, Long, String, Option[Double])].head()
    assert(a == b && a._1 == 600L && a._2 == 3L)
  }

  test("kruskalWallisH: hand-computed two-group no-tie case") {
    // A=[1,2], B=[3,4]: ranks 1..4, R_A=3, R_B=7.
    // H = 12/(4*5)*(9/2 + 49/2) - 3*5 = 2.4, no tie correction.
    val df = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L)).toDF("g", "v")
    val r = Stats.kruskalWallisH(df, "g", "v")
      .as[(Long, Long, Option[Double])].head()
    assert(r._1 == 4L && r._2 == 2L)
    assert(r._3.exists(h => math.abs(h - 2.4) < 3e-6))
  }

  test("kruskalWallisH: tie-corrected case and degenerate nulls") {
    // A=[1,1], B=[1,2]: v=1 t=3 rank2=4, v=2 t=1 rank2=8.
    // R2_A=8, R2_B=12; H_raw = (192+432)/40 - 15 = 0.6;
    // ties=24, C = 1 - 24/60 = 0.6; H = 1.0 (matches scipy.kruskal).
    val tied = Seq(("A", 1L), ("A", 1L), ("B", 1L), ("B", 2L)).toDF("g", "v")
    val r = Stats.kruskalWallisH(tied, "g", "v")
      .as[(Long, Long, Option[Double])].head()
    assert(r._3.exists(h => math.abs(h - 1.0) < 1e-5))
    // one group -> null; all values one tie group -> null
    val oneG = Seq(("A", 1L), ("A", 2L)).toDF("g", "v")
    assert(Stats.kruskalWallisH(oneG, "g", "v")
      .as[(Long, Long, Option[Double])].head()._3.isEmpty)
    val allTie = Seq(("A", 5L), ("B", 5L), ("B", 5L)).toDF("g", "v")
    assert(Stats.kruskalWallisH(allTie, "g", "v")
      .as[(Long, Long, Option[Double])].head()._3.isEmpty)
  }

  test("kruskalWallisH: partition-invariant") {
    val rows = (1L to 600L).map(i => ("g" + (i % 4), (i * i) % 23))
    val a = Stats.kruskalWallisH(rows.toDF("g", "v"), "g", "v")
      .as[(Long, Long, Option[Double])].head()
    val b = Stats.kruskalWallisH(rows.toDF("g", "v").repartition(19),
        "g", "v")
      .as[(Long, Long, Option[Double])].head()
    assert(a == b && a._1 == 600L && a._2 == 4L)
  }

  test("chiSquareAssoc: hand-computed 2x2 within lattice tolerance") {
    // Cells (0,0):10 (0,1):20 (1,0):20 (1,1):10 — n=60, all marginals
    // 30, expected 15 per cell, exact chi2 = 4*25/15 = 100/15; each
    // term floor-quantized at 1e-6 so the total sits within 4e-6 below.
    val rows = Seq.fill(10)((0L, 0L)) ++ Seq.fill(20)((0L, 1L)) ++
      Seq.fill(20)((1L, 0L)) ++ Seq.fill(10)((1L, 1L))
    val r = Stats.chiSquareAssoc(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double, Option[Double])].head()
    val exact = 100.0 / 15.0
    assert(r._1 == 60L && r._2 == 1L)
    assert(r._3 <= exact && r._3 > exact - 4e-6)
    assert(r._4.exists(v => math.abs(v - math.sqrt(r._3 / 60.0)) < 1e-12))
  }

  test("chiSquareAssoc: independent table ~0; degenerate table null V") {
    // Perfectly proportional cells: chi2 exactly 0 (dev = 0 per cell).
    val ind = Seq.fill(6)((0L, 0L)) ++ Seq.fill(3)((0L, 1L)) ++
      Seq.fill(4)((1L, 0L)) ++ Seq.fill(2)((1L, 1L))
    val r = Stats.chiSquareAssoc(ind.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double, Option[Double])].head()
    assert(r._3 == 0.0 && r._4.exists(_ == 0.0))
    val degen = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("a", "b")
    val d = Stats.chiSquareAssoc(degen, "a", "b")
      .as[(Long, Long, Double, Option[Double])].head()
    assert(d._2 == 0L && d._4.isEmpty)
  }

  test("chiSquareAssoc: partition-invariant") {
    val rows = (1L to 500L).map(i => (i % 7, (i * i) % 5))
    val a = Stats.chiSquareAssoc(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double, Option[Double])].head()
    val b = Stats.chiSquareAssoc(rows.toDF("a", "b").repartition(17),
        "a", "b")
      .as[(Long, Long, Double, Option[Double])].head()
    assert(a == b && a._1 == 500L)
  }

  test("gini: partition-invariant on a skewed group") {
    val rows = (1L to 200L).map(i => ("k", i * i))
    val a = Stats.gini(rows.toDF("k", "v"), Seq("k"), "v")
      .as[(String, Long, Long, Option[Double])].head()
    val b = Stats.gini(rows.toDF("k", "v").repartition(13), Seq("k"), "v")
      .as[(String, Long, Long, Option[Double])].head()
    assert(a == b && a._4.exists(g => g > 0.4 && g < 0.7))
  }

  test("mannKendall: S, tie-corrected var18, continuity-corrected z") {
    val series = Seq(
      ("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L), ("a", 4L, 4L), // rising
      ("b", 1L, 2L), ("b", 2L, 2L), ("b", 3L, 2L),                // flat
      ("c", 1L, 5L), ("c", 2L, 3L), ("c", 3L, 1L)                 // falling
    ).toDF("g", "t", "v")
    val out = Stats.mannKendall(series, "g", "t", "v")
      .orderBy("g").as[(String, Long, Long, Long, Option[Double])]
      .collect().toSeq
    // a: 6 ascending pairs -> S=6; no ties: var18 = 4*3*13 = 156.
    assert(out(0) == ("a", 4L, 6L, 156L,
      Some(5.0 / math.sqrt(156.0 / 18.0))))
    // b: all tied -> S=0, var18 = 3*2*11 - 3*2*11 = 0 -> z null.
    assert(out(1) == ("b", 3L, 0L, 0L, None))
    // c: 3 descending pairs -> S=-3; var18 = 66; z = (-3+1)/sqrt(66/18).
    assert(out(2) == ("c", 3L, -3L, 66L,
      Some(-2.0 / math.sqrt(66.0 / 18.0))))
    val re = Stats.mannKendall(series.repartition(5), "g", "t", "v")
      .orderBy("g").as[(String, Long, Long, Long, Option[Double])]
      .collect().toSeq
    assert(re == out)
  }

  test("theilSen: median pairwise slope by rank selection; outlier-robust") {
    val series = Seq(
      ("a", 0L, 0L), ("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 10L),
      ("b", 0L, 5L), ("b", 1L, 3L), ("b", 2L, 1L),
      ("c", 7L, 9L) // single point: no pairs
    ).toDF("g", "t", "v")
    val out = Stats.theilSen(series, "g", "t", "v")
      .orderBy("g").as[(String, Long, Option[Double])].collect().toSeq
    // a: slopes sorted [1,1,1,10/3,4.5,8]; k=6 -> (lo,hi)=(rank3,rank4).
    assert(out(0) == ("a", 6L, Some((1.0 + 10.0 / 3) / 2.0)))
    // b: exactly linear down: every slope -2, odd k -> median -2.
    assert(out(1) == ("b", 3L, Some(-2.0)))
    assert(out(2) == ("c", 0L, None))
    val re = Stats.theilSen(series.repartition(4), "g", "t", "v")
      .orderBy("g").as[(String, Long, Option[Double])].collect().toSeq
    assert(re == out)
  }

  test("cohensD: pooled-sd effect size from exact moments; degenerate null") {
    // A {0,2}: m=1, (n-1)s^2=2; B {4,6}: m=5, (n-1)s^2=2.
    // pooled = (2+2)/2 = 2 -> d = (1-5)/sqrt(2).
    val rows = Seq(("k", "A", 0.0), ("k", "A", 2.0),
      ("k", "B", 4.0), ("k", "B", 6.0),
      ("z", "A", 1.0), ("z", "A", 1.0), ("z", "B", 1.0), ("z", "B", 1.0))
      .toDF("key", "grp", "v")
    val out = Stats.cohensD(rows, Seq("key"), "grp", "A", "B", "v", grid = 1L)
      .orderBy("key").as[(String, Long, Long, Option[Double])]
      .collect().toSeq
    assert(out(0) == ("k", 2L, 2L, Some(-4.0 / math.sqrt(2.0))))
    // z: both groups constant -> zero pooled variance -> null.
    assert(out(1) == ("z", 2L, 2L, None))
    val re = Stats.cohensD(rows.repartition(5), Seq("key"), "grp",
        "A", "B", "v", grid = 1L)
      .orderBy("key").as[(String, Long, Long, Option[Double])]
      .collect().toSeq
    assert(re == out)
  }

  test("brownForsythe: hand-computed W; odd/even group sizes") {
    // A (odd n=3): 1,2,3 -> doubled median 4; Z = 2,0,2; S=4, Q=8.
    //   b6 = floor(16e6/3) = 5333333; d6 = floor((3*8-16)e6/3) = 2666666.
    // B (even n=4): 10,10,20,40 -> vlo=10 (rank 2), vhi=20 (rank 3),
    //   doubled median 30; Z = 10,10,10,50; S=80, Q=2800.
    //   b6 = 6400e6/4 = 1600000000; d6 = (4*2800-6400)e6/4 = 1200000000.
    // n=7, k=2, stot=84:
    //   W = (5/1) * (1605.333333 - 7056/7) / 1202.666666.
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 10L), ("b", 10L), ("b", 20L), ("b", 40L)).toDF("g", "v")
    val out = Stats.brownForsythe(df, "g", "v")
      .as[(Long, Long, Option[Double])].head()
    val expW = 5.0 / 1.0 * (1605333333.0 / 1e6 - 7056.0 / 7.0) /
      (1202666666.0 / 1e6)
    assert(out._1 == 7L && out._2 == 2L)
    assert(math.abs(out._3.get - expW) < 1e-12)
    val re = Stats.brownForsythe(df.repartition(5), "g", "v")
      .as[(Long, Long, Option[Double])].head()
    assert(re == out)
  }

  test("brownForsythe: degenerate nulls (k<2, all-tied groups)") {
    // Single group -> k < 2 -> null W.
    val one = Seq(("a", 1L), ("a", 5L), ("a", 9L)).toDF("g", "v")
    assert(Stats.brownForsythe(one, "g", "v")
      .as[(Long, Long, Option[Double])].head() == ((3L, 1L, None)))
    // Every group constant -> zero within-group deviation (d6=0) -> null.
    val tied = Seq(("a", 4L), ("a", 4L), ("b", 7L), ("b", 7L), ("b", 7L))
      .toDF("g", "v")
    assert(Stats.brownForsythe(tied, "g", "v")
      .as[(Long, Long, Option[Double])].head() == ((5L, 2L, None)))
  }

  test("brownForsythe: ~1e29 lattice terms survive exactly (no Long " +
      "saturation)") {
    // Group A on a 1e11 grid: 0, 1e11, 3e11 -> doubled median 2e11;
    // Z = 2e11, 0, 4e11; S = 6e11, Q = 2e23. s^2*1e6 = 3.6e29 — far past
    // Long.MaxValue (9.2e18): a double-floor b6 would saturate; exact
    // decimal integer division must hold b6 = 1.2e29, d6 = 8e28.
    val big = 100000000000L // 1e11
    val df = Seq(("a", 0L), ("a", big), ("a", 3 * big),
      ("b", 0L), ("b", 1L), ("b", 2L)).toDF("g", "v")
    val out = Stats.brownForsythe(df, "g", "v")
      .as[(Long, Long, Option[Double])].head()
    val b6 = BigDecimal("120000000000000000000000000000") +
      BigDecimal(5333333) // A + B
    val d6 = BigDecimal("80000000000000000000000000000") +
      BigDecimal(2666666)
    val stot = BigDecimal(600000000000L) + BigDecimal(4)
    val expW = (4.0 / 1.0) *
      ((b6 / BigDecimal(1000000)).toDouble -
        (stot * stot).toDouble / 6.0) /
      (d6 / BigDecimal(1000000)).toDouble
    assert(out._1 == 6L && out._2 == 2L)
    assert(out._3.isDefined && math.abs(out._3.get / expW - 1.0) < 1e-9)
  }

  test("brownForsythe: past the decimal envelope the plan raises loudly " +
      "instead of emitting a silent NULL W") {
    // Group A on a 1e17 grid: Z reaches ~4e17, S ≈ 6e17 >= the 1e16
    // envelope bound — s²·1e6 would exceed decimal(38,0) and, under
    // non-ANSI mode, silently null out while the oracle's HUGEINT raises.
    // The assert_true guard must surface the overflow as an error naming
    // the envelope.
    val big = 100000000000000000L // 1e17
    val df = Seq(("a", 0L), ("a", big), ("a", 3 * big),
      ("b", 0L), ("b", 1L), ("b", 2L)).toDF("g", "v")
    val e = intercept[Exception] {
      Stats.brownForsythe(df, "g", "v").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("sum-of-Z envelope exceeded")),
      s"expected the envelope guard, got: ${e.getMessage}")
  }

  test("brownForsythe: empty input still yields the degenerate row, not " +
      "a misfired cross-group guard") {
    // A global agg over zero rows emits ONE row with NULL sums and k=0 —
    // the guard must not read those legitimate NULLs as overflow
    // (review regression: it raised 'envelope exceeded across groups').
    val empty = Seq(("a", 1L)).toDF("g", "v").filter(col("v") < 0)
    val out = Stats.brownForsythe(empty, "g", "v")
      .as[(Option[Long], Long, Option[Double])].collect().toSeq
    assert(out == Seq((None, 0L, None)))
  }

  test("brownForsythe: CROSS-GROUP sum overflow is loud too (each group " +
      "inside the per-group envelope)") {
    // Three groups of (0, 4.9e15): per group S = 9.8e15 < 1e16 and
    // n·Q = 9.6e31 < 1e32 (both guards pass), but each b6 ≈ 4.8e37 and
    // sum(b6) ≈ 1.44e38 exceeds decimal(38,0) — the overflow must raise
    // (ANSI: decimal out-of-range; non-ANSI: the named cross-group
    // guard), never silently null W.
    val big = 4900000000000000L // 4.9e15
    val df = Seq(("a", 0L), ("a", big), ("b", 0L), ("b", big),
      ("c", 0L), ("c", big)).toDF("g", "v")
    val e = intercept[Exception] {
      Stats.brownForsythe(df, "g", "v").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m =>
      m.contains("sum-of-Z envelope exceeded across groups") ||
        m.contains("NUMERIC_VALUE_OUT_OF_RANGE") ||
        m.contains("cannot be represented")),
      s"expected a loud overflow, got: ${messages(e).take(3)}")
  }

  test("exact-arithmetic statistics on empty and one-row inputs: null " +
      "statistic or the degenerate row") {
    // One row: key k1, group a, label pair (a, b), t = 1, x = 2.5,
    // y = 3.5, bin v = 4, pos = 1. Expected cells are Row renderings,
    // sorted and ';'-joined; "" is no output row.
    val one = Seq(("k1", "a", "b", 1L, 2.5, 3.5, 4L, 1L))
      .toDF("k", "g", "g2", "t", "x", "y", "v", "pos")
    val empty = one.filter(col("v") < 0)
    val cases: Seq[(String, DataFrame => DataFrame, String, String)] = Seq(
      ("ksTwoSample", Stats.ksTwoSample(_, Seq("k"), "x", col("g") === "b"),
        "", ""),
      ("aucOnGrid", Stats.aucOnGrid(_, "v", "pos"),
        "[null,null,null,null]", "[1,0,0,null]"),
      ("autocorrInt", Stats.autocorrInt(_, Seq("k"), Seq("t"), "x", 1, 100L),
        "", "[k1,1,null]"),
      ("crossCorrInt",
        Stats.crossCorrInt(_, Seq("k"), Seq("t"), "x", "y", 1, 100L), "", ""),
      ("cusumChangepoint",
        Stats.cusumChangepoint(_, Seq("k"), Seq("t"), "x", 100L),
        "", "[k1,1,1,0.0]"),
      ("cohenKappa", Stats.cohenKappa(_, "g", "g2"),
        "[null,0,0,null]", "[1,0,0,0.0]"),
      ("contingencyResiduals", Stats.contingencyResiduals(_, "g", "g2"),
        "", "[a,b,1,1,1,0,0.0]"),
      ("welchT", Stats.welchT(_, Seq("k"), "g", "a", "b", "x", 100L),
        "", "[k1,1,0,null]"),
      ("cohensD", Stats.cohensD(_, Seq("k"), "g", "a", "b", "x", 100L),
        "", "[k1,1,0,null]"),
      ("histQuantiles", Stats.histQuantiles(_, Seq("k"), "x", 100L),
        "", "[k1,1,2.5,2.5]"),
      ("olsFit", Stats.olsFit(_, Seq("k"), "x", "y", 100L, 100L),
        "", "[k1,1,null,null,null]"),
      ("corrMatrix", Stats.corrMatrix(_, Seq("x" -> 100L, "y" -> 100L)),
        "[x,y,0,null]", "[x,y,1,null]"),
      ("diversity", Stats.diversity(_, Seq("k"), "g"),
        "", "[k1,1,1,0.0,1.0]"),
      ("mannWhitneyU", Stats.mannWhitneyU(_, "g", "a", "b", "v"),
        "[null,null,null,null,null]", "[1,0,2,0.0,null]"),
      ("spearmanRho", Stats.spearmanRho(_, "v", "t"),
        "[null,null]", "[1,null]"),
      ("kendallTauB", Stats.kendallTauB(_, "v", "t"),
        "[null,0,0,null]", "[1,0,0,null]"),
      ("gini", Stats.gini(_, Seq("k"), "v"), "", "[k1,1,4,0.0]"),
      ("moodMedianTest", Stats.moodMedianTest(_, "g", "v"),
        "[null,null,0,0.0,null]", "[4,1,0,0.0,null]"),
      ("jonckheereTerpstra", Stats.jonckheereTerpstra(_, "g", "v"),
        "[null,0,0,null]", "[1,1,0,null]"),
      ("kruskalWallisH", Stats.kruskalWallisH(_, "g", "v"),
        "[null,0,null]", "[1,1,null]"),
      ("chiSquareAssoc", Stats.chiSquareAssoc(_, "g", "g2"),
        "[null,0,0.0,null]", "[1,0,0.0,null]"),
      ("mannKendall", Stats.mannKendall(_, "g", "t", "v"),
        "", "[a,1,0,0,null]"),
      ("brownForsythe", Stats.brownForsythe(_, "g", "v"),
        "[null,0,null]", "[1,1,null]"),
      ("maseNaive", TimeSeries.maseNaive(_, Seq("k"), Seq("t"), "x", 1, 100L),
        "", "[k1,1,null,null,null]"),
      ("seasonalIndex",
        TimeSeries.seasonalIndex(_, Seq("k"), col("t") % 7, "x", 100L),
        "", "[k1,1,1,1.0]"),
      ("assortativity", (d: DataFrame) =>
        Graph.assortativity(d.select(col("t").as("src"), col("v").as("dst"))),
        "[0,null]", "[2,null]"))
    def render(out: => DataFrame): String =
      try out.collect().map(_.toString).sorted.mkString(";")
      catch {
        case e: org.apache.spark.SparkThrowable => "ERR " + e.getCondition
      }
    cases.foreach { case (name, f, onEmpty, onOne) =>
      assert(render(f(empty)) == onEmpty, s"$name on an empty input")
      assert(render(f(one)) == onOne, s"$name on a one-row input")
    }
  }
}
