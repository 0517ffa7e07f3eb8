package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SampleSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(sf("documents"))

  test("bernoulli: same membership under any partitioning") {
    val one = docs.repartition(1)
    val many = docs.repartition(13)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.filter(Sample.bernoulliPortable("doc_id", "40"))
        .select("doc_id").as[Long].collect().toSet
    assert(ids(one) == ids(many))
    val n = ids(one).size.toDouble / docs.count()
    assert(n > 0.1 && n < 0.4, s"~25% sample, got $n")
  }

  test("bernoulli is a pure filter — no shuffle") {
    val plan = docs.filter(Sample.bernoulliPortable("doc_id", "40"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("bernoulliPortable matches its md5 definition and 0/100 edge cases") {
    val all = docs.filter(Sample.bernoulliPortable("doc_id", "zz")).count()
    val none = docs.filter(Sample.bernoulliPortable("doc_id", "00")).count()
    assert(all == docs.count() && none == 0)
  }

  test("stratified: exactly min(n, stratum size) per stratum, deterministic") {
    val out = Sample.stratified(docs, "lang", "doc_id", 7)
    val per = out.groupBy("lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val sizes = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    sizes.foreach { case (lang, sz) =>
      assert(per(lang) == math.min(7L, sz)) }
    val again = Sample.stratified(docs.repartition(9), "lang", "doc_id", 7)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
  }

  test("exactK: exactly k, partition-invariant, plans a TakeOrdered") {
    val out = Sample.exactK(docs, "doc_id", 25)
    assert(out.count() == 25L)
    val a = out.select("doc_id").as[Long].collect().toSet
    val b = Sample.exactK(docs.repartition(9), "doc_id", 25)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // per-partition top-k, not a global sort
    assert(Sample.exactK(docs, "doc_id", 25).queryExecution.executedPlan
      .toString.contains("TakeOrderedAndProject"))
  }

  test("hashSplit: total, partition-invariant, roughly 90/5/5") {
    val splitCol = Sample.hashSplit("doc_id",
      Seq("e6" -> "train", "f3" -> "val"), "test")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), splitCol.as("sp"))
        .as[(Long, String)].collect().toMap
    val one = labels(docs.repartition(1))
    val many = labels(docs.repartition(13))
    assert(one == many)
    assert(one.size == docs.count())
    val byLabel = one.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel.keySet.subsetOf(Set("train", "val", "test")))
    val frac = byLabel("train").toDouble / one.size
    assert(frac > 0.8 && frac < 0.97, s"~90% train, got $frac")
    // pure projection — no shuffle
    val plan = docs.select(splitCol).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("weightedBernoulli: edge weights, monotone inclusion, partition-invariant") {
    // weight 0 keeps nothing, weight 1 keeps (essentially) everything
    val none = docs.filter(Sample.weightedBernoulli("doc_id", lit(0.0))).count()
    val all = docs.filter(Sample.weightedBernoulli("doc_id", lit(1.0))).count()
    assert(none == 0 && all == docs.count())
    // a higher weight can only ADD rows (same draw, larger threshold)
    def ids(w: Double) =
      docs.filter(Sample.weightedBernoulli("doc_id", lit(w)))
        .select("doc_id").as[Long].collect().toSet
    val lo = ids(0.3)
    val hi = ids(0.7)
    assert(lo.subsetOf(hi))
    assert(lo.size < hi.size)
    // membership is a pure function of (id, weight)
    val repart = docs.repartition(13)
      .filter(Sample.weightedBernoulli("doc_id", lit(0.3)))
      .select("doc_id").as[Long].collect().toSet
    assert(repart == lo)
    // ~w of the corpus survives at weight w
    val frac = lo.size.toDouble / docs.count()
    assert(frac > 0.15 && frac < 0.45, s"~30% at w=0.3, got $frac")
    // out-of-contract weights clamp instead of truncating the threshold
    assert(ids(7.5) == ids(1.0))
    assert(ids(-2.0) == ids(0.0))
  }

  test("tokenBudget: per-stratum budgets hit within one doc, deterministic") {
    val df = docs.withColumn("n_tok",
      size(split(col("text"), " ")).cast("long"))
    val out = Sample.tokenBudget(df, "lang", "doc_id", "n_tok",
      Map("en" -> 500L), default = 200L)
    val got = out.groupBy("lang").agg(sum("n_tok").as("tok"),
        max("n_tok").as("mx"))
      .as[(String, Long, Long)].collect()
    got.foreach { case (lang, tok, mx) =>
      val budget = if (lang == "en") 500L else 200L
      // admitted docs started within budget: total < budget + one doc
      assert(tok < budget + mx, s"$lang: $tok vs budget $budget (max doc $mx)")
    }
    // deterministic under repartitioning
    val again = Sample.tokenBudget(df.repartition(9), "lang", "doc_id",
        "n_tok", Map("en" -> 500L), default = 200L)
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
    // never empty while a stratum has docs: the first doc always admits
    val langs = docs.select("lang").distinct().count()
    assert(out.select("lang").distinct().count() == langs)
  }

  test("hashSplit rejects unsorted cut points") {
    intercept[IllegalArgumentException] {
      Sample.hashSplit("doc_id", Seq("f3" -> "a", "e6" -> "b"), "c")
    }
  }

  test("interleaveByWeight: stride property — prefixes consume by weight") {
    val wts = Map("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0)
    val sched = Sample.interleaveByWeight(
        docs.select("doc_id", "source"), "source", "doc_id", wts, "ep1")
      .orderBy("vtime", "source", "doc_id")
      .select("source", "vtime").as[(String, Double)].collect()
    assert(sched.map(_._1).toSet == wts.keySet, "unweighted sources dropped")
    // stride scheduling invariant: among rows with vtime <= T, source s
    // has contributed exactly floor(T * w_s) rows (rank/w <= T)
    for (t <- Seq(1.0, 2.5, 5.0)) {
      val pre = sched.filter(_._2 <= t).groupBy(_._1).view.mapValues(_.length)
      wts.foreach { case (src, wgt) =>
        val want = math.floor(t * wgt).toInt
        assert(pre.getOrElse(src, 0) == want,
          s"prefix T=$t source $src: ${pre.getOrElse(src, 0)} vs $want")
      }
    }
    // depleted sources stop contributing (each source has 25 docs, so
    // src0 caps at 25 where the pure stride would want 40); the rest
    // keep their ratio
    val bigT = sched.filter(_._2 <= 10.0).groupBy(_._1).view
      .mapValues(_.length).toMap
    assert(bigT("src0") == 25 && bigT("src1") == 20 && bigT("src2") == 10)
    intercept[IllegalArgumentException] {
      Sample.interleaveByWeight(docs, "source", "doc_id",
        Map("src0" -> 0.0), "s")
    }
  }

  test("deterministicShuffle: a partition-invariant permutation; seed reorders") {
    val ordered = Sample.deterministicShuffle(docs, "doc_id", "s1")
      .select("doc_id").as[Long].collect().toSeq
    assert(ordered.toSet == docs.select("doc_id").as[Long].collect().toSet)
    val repart = Sample.deterministicShuffle(docs.repartition(9), "doc_id", "s1")
      .select("doc_id").as[Long].collect().toSeq
    assert(repart == ordered)
    val other = Sample.deterministicShuffle(docs, "doc_id", "s2")
      .select("doc_id").as[Long].collect().toSeq
    assert(other != ordered && other.toSet == ordered.toSet)
  }

  test("temporalSplit: exact integer cutoff, embargo band excluded from both sides") {
    import java.sql.Timestamp
    // ms range [0, 100000]: cutoff = 70000, embargo 20000 -> test >= 90000.
    val rows = Seq(0L, 50000L, 69999L, 70000L, 89999L, 90000L, 100000L)
      .map(m => (m, new Timestamp(m)))
    val out = Sample.temporalSplit(rows.toDF("id", "ts"), "ts", 7, 10, 20000L)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(out(0L) == "train" && out(50000L) == "train" &&
      out(69999L) == "train")
    assert(out(70000L) == "embargo" && out(89999L) == "embargo")
    assert(out(90000L) == "test" && out(100000L) == "test")
    // Split membership is a pure function of the data, not partitioning.
    val re = Sample.temporalSplit(rows.toDF("id", "ts").repartition(5),
        "ts", 7, 10, 20000L)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(re == out)
  }

  test("curriculum: best scores band first; positions are a within-band permutation") {
    val rows = (1L to 12L).map(i => (i, "en", i * 10)) ++
      (21L to 26L).map(i => (i, "de", 100 - i))
    val out = Sample.curriculum(rows.toDF("id", "lang", "score"),
        "lang", "id", "score", bands = 3)
      .select("id", "lang", "band", "pos")
      .as[(Long, String, Int, Int)].collect()
    val en = out.filter(_._2 == "en")
    // 12 en rows, 3 bands -> 4 each; score DESC means ids 12..9 band 1.
    assert(en.filter(_._3 == 1).map(_._1).toSet == Set(12L, 11L, 10L, 9L))
    assert(en.filter(_._3 == 3).map(_._1).toSet == Set(4L, 3L, 2L, 1L))
    // Positions are exactly 1..n within each (lang, band).
    out.groupBy(r => (r._2, r._3)).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq == (1 to g.length).toSeq)
    }
    // de: score = 100 - i, so smallest ids score best.
    val de = out.filter(_._2 == "de")
    assert(de.filter(_._3 == 1).map(_._1).toSet == Set(21L, 22L))
    // Deterministic under repartitioning.
    val re = Sample.curriculum(rows.toDF("id", "lang", "score").repartition(7),
        "lang", "id", "score", bands = 3)
      .select("id", "lang", "band", "pos")
      .as[(Long, String, Int, Int)].collect()
    assert(re.toSet == out.toSet)
  }

  test("temperatureMixture: isqrt quotas upsample the tail; invariant") {
    // Strata: a=100 rows, b=25, c=4. isqrt -> q = 10, 5, 2; Σq = 17,
    // tot = 129, take 1/2 -> 64 total; quotas 64*10/17=37, 64*5/17=18,
    // 64*2/17=7 (integer div). The tail c gets 7/4 -> capped by its own
    // size at 4; a proportional draw would have given c just 2.
    val rows = (1L to 100L).map(i => (i, "a")) ++
      (101L to 125L).map(i => (i, "b")) ++ (126L to 129L).map(i => (i, "c"))
    val df = rows.toDF("id", "s")
    val out = Sample.temperatureMixture(df, "s", "id", 1, 2)
      .select("s").as[String].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(out == Map("a" -> 37, "b" -> 18, "c" -> 4))
    val re = Sample.temperatureMixture(df.repartition(9), "s", "id", 1, 2)
      .select("id", "s").as[(Long, String)].collect().toSet
    val base = Sample.temperatureMixture(df, "s", "id", 1, 2)
      .select("id", "s").as[(Long, String)].collect().toSet
    assert(re == base)
  }

  test("temperatureMixture: perfect squares hit the isqrt boundary") {
    // n = 16 and n = 17 straddle s0 rounding: isqrt 4 both; n = 15 -> 3.
    val rows = (1L to 16L).map(i => (i, "p")) ++
      (17L to 33L).map(i => (i, "q")) ++ (34L to 48L).map(i => (i, "r"))
    // q = 4, 4, 3; Σq = 11; tot = 48; take all (1/1) -> 48*q/11.
    val out = Sample.temperatureMixture(rows.toDF("id", "s"), "s", "id", 1, 1)
      .select("s").as[String].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    // 48*4/11 = 17 (capped at 16 for p), 48*3/11 = 13.
    assert(out == Map("p" -> 16, "q" -> 17, "r" -> 13))
  }

  test("epochSchedule: equal-share targets, ceil repeats, cap binds") {
    // tokens: a=100 (2 docs), b=10, c=1 -> B=111, k=3, target=37.
    // repeats: a ceil(37/100)=1, b ceil(37/10)=4 (== cap), c 37 -> cap 4.
    val rows = Seq(("a", 60L), ("a", 40L), ("b", 10L), ("c", 1L))
    def run(d: org.apache.spark.sql.DataFrame) =
      Sample.epochSchedule(d, "s", "nt", cap = 4)
        .as[(String, Long, Long, Long, Long)].collect().toSet
    val got = run(rows.toDF("s", "nt"))
    assert(got == Set(("a", 2L, 100L, 1L, 100L), ("b", 1L, 10L, 4L, 40L),
      ("c", 1L, 1L, 4L, 4L)))
    assert(got == run(rows.toDF("s", "nt").repartition(5)))
  }

  test("kfold: nibble-derived folds match a hand md5; k must divide 16") {
    val df = (1L to 64L).toDF("id")
    val out = Sample.kfold(df, "id", 4).select("id", "fold")
      .as[(Long, Int)].collect().toMap
    def nib(id: Long): Int = "0123456789abcdef".indexOf(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.charAt(0))
    (1L to 64L).foreach(id => assert(out(id) == nib(id) / 4))
    assert(out.values.toSet.subsetOf(Set(0, 1, 2, 3)))
    intercept[IllegalArgumentException](Sample.kfold(df, "id", 3))
  }

  test("epochSchedule: zero-token stratum gets factor 0, not a crash") {
    val rows = Seq(("a", 50L), ("e", 0L), ("e", 0L))
    val got = Sample.epochSchedule(rows.toDF("s", "nt"), "s", "nt", cap = 3)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // B=50, k=2, target=25: a -> ceil(25/50)=1; e -> 0.
    assert(got == Set(("a", 1L, 50L, 1L, 50L), ("e", 2L, 0L, 0L, 0L)))
  }
}
