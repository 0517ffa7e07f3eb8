package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Bench, Sessions, SparkEntry}
import graft.model.Tables
import graft.operators.{Dedup, Integrity, TextOps}

/** Interleaved A/B timing of two ways to compute the same result, in one
  * JVM so both arms run in the same machine weather:
  *
  *  1. each arm's outputs are fingerprinted ([[Integrity.fingerprint]]),
  *     and AB fails before any timing when the arms disagree;
  *  2. one untimed warm-up run per arm;
  *  3. `reps` rounds of A then B, every run writing each output into the
  *     `noop` sink, with [[Bench.scrub]] after every run;
  *  4. each arm's times and median.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<GenData dir> runMain graft.tools.AB <pair>
  * [reps]; the pairs are listed in [[pairs]].
  */
object AB {

  /** One arm: a name, the confs it runs under, and the DataFrames it
    * builds from (spark, sfDir).
    */
  final case class Arm(name: String, confs: Seq[(String, String)],
                       build: (SparkSession, String) => Seq[DataFrame])

  private def docs(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents")

  /** The questions still open. The numbers each last produced are in
    * OPTIMIZATION_r15.md §2.2 (prefix_truth), §2.3 (dsir_persist) and
    * OPTIMIZATION_r14.md §5b (coalesce).
    */
  val pairs: Map[String, (Arm, Arm)] = Map(
    // Exact-Jaccard truth join: the full inverted-index self-join
    // (shipped default) vs PPJoin prefix filtering — where is the
    // crossover at which prefix filtering starts to win?
    "prefix_truth" -> {
      def arm(name: String, prefix: Boolean) = Arm(name, Nil, (s, dir) =>
        Seq(Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", n = 3,
          threshold = 0.8, prefixFilter = prefix)))
      (arm("full", prefix = false), arm("prefix", prefix = true))
    },
    // dsirSelectThreshold on the x6_dsir_select_t shape, its scored
    // subtree not persisted (shipped) vs persisted: the answer moves with
    // the sample rate.
    "dsir_persist" -> (
      Arm("shipped", Nil, (s, dir) => {
        val d = docs(s, dir)
        Seq(TextOps.dsirSelectThreshold(d, d.filter(col("source") === "src0"),
          "doc_id", "text", "source", keepFrac = 0.25, hexDigits = 2,
          sampleHexCeil = "40"))
      }),
      Arm("persisted", Nil, (s, dir) => {
        val d = docs(s, dir)
        val scored = TextOps.dsirScores(d, d.filter(col("source") === "src0"),
            "doc_id", "text", hexDigits = 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Seq(TextOps.selectByThreshold(d, scored, "doc_id", "source",
          keepFrac = 0.25, sampleHexCeil = "40"))
      })),
    // AQE coalescing toward max parallelism (the default) vs toward the
    // 128 MB advisory size, on the dedup family + curation capstone.
    "coalesce" -> {
      val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
      val gates = Seq("x2_jaccard_pairs", "x2_dedup_resolve", "x6_curation3")
      def arm(v: String) = Arm(s"pfirst_$v", Seq(key -> v),
        (s, dir) => gates.map(g => SparkEntry.queries(g)(s, dir)))
      (arm("true"), arm("false"))
    })

  /** Runs the protocol; returns each arm's timed runs in seconds, in run
    * order, and sends the report lines to `out`.
    */
  def run(spark: SparkSession, sfDir: String, a: Arm, b: Arm, reps: Int,
          out: String => Unit = println): Seq[(String, Seq[Double])] = {
    def under[T](arm: Arm)(f: => T): T =
      try Sessions.withConf(spark)(arm.confs: _*)(f) finally Bench.scrub(spark)
    def fingerprints(arm: Arm) = under(arm)(arm.build(spark, sfDir).map(df =>
      Integrity.fingerprint(df, df.columns.toSeq).head().toSeq))
    val (fa, fb) = (fingerprints(a), fingerprints(b))
    if (fa != fb) sys.error(s"arms disagree: ${a.name}=$fa ${b.name}=$fb")
    // Building is timed too: gates may run eager jobs (localCheckpoint).
    def once(arm: Arm): Double = under(arm) {
      val t0 = System.nanoTime()
      arm.build(spark, sfDir)
        .foreach(_.write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    }
    once(a); once(b) // warm-up, untimed
    val runs = (1 to reps).map(_ => (once(a), once(b)))
    val res = Seq(a.name -> runs.map(_._1), b.name -> runs.map(_._2))
    res.foreach { case (n, ts) =>
      out(f"[ab] $n%-12s runs=[${ts.map(t => f"$t%.2f").mkString(",")}] " +
        f"median=${Bench.median(ts)}%.2f")
    }
    res
  }

  def main(args: Array[String]): Unit = {
    val (a, b) = args.headOption.flatMap(pairs.get).getOrElse(sys.error(
      s"usage: AB <${pairs.keys.toSeq.sorted.mkString("|")}> [reps]"))
    val reps = args.lift(1).flatMap(_.toIntOption).getOrElse(5)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a GenData directory"))
    val spark = Sessions.local(app = "graft-ab")
    println(s"[ab] ${args(0)} sf=$dir reps=$reps")
    try run(spark, dir, a, b, reps) finally spark.stop()
  }
}
