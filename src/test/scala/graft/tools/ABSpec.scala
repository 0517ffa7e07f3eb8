package graft.tools

import graft.SparkSpec
import java.nio.file.{Files, Path}
import java.util.Comparator
import scala.collection.mutable

class ABSpec extends SparkSpec {
  import spark.implicits._

  /** An arm over a tiny in-memory table that logs every build. */
  private def arm(name: String, rows: Seq[(Long, String)],
                  log: mutable.Buffer[String]) =
    AB.Arm(name, Nil, (_, _) => { log += name; Seq(rows.toDF("id", "v")) })

  test("arms whose rows differ fail before any timed run") {
    val log = mutable.Buffer.empty[String]
    val e = intercept[RuntimeException](AB.run(spark, "",
      arm("a", Seq(1L -> "x", 2L -> "y"), log),
      arm("b", Seq(1L -> "x", 2L -> "z"), log), reps = 2, out = _ => ()))
    assert(e.getMessage.contains("arms disagree"))
    // One fingerprint build per arm, then nothing: no warm-up, no timing.
    assert(log == Seq("a", "b"))
  }

  test("equal arms run A,B,A,B and report one median per arm") {
    val log = mutable.Buffer.empty[String]
    val lines = mutable.Buffer.empty[String]
    // Same rows in another order: the fingerprint is order-independent.
    val res = AB.run(spark, "",
      arm("a", Seq(1L -> "x", 2L -> "y"), log),
      arm("b", Seq(2L -> "y", 1L -> "x"), log), reps = 2, out = lines += _)
    // fingerprint a, b; warm-up a, b; then two timed rounds of a, b
    assert(log == Seq("a", "b", "a", "b", "a", "b", "a", "b"))
    assert(res.map(_._1) == Seq("a", "b"))
    assert(res.forall(_._2.size == 2))
    assert(lines.count(_.contains("median=")) == 2)
    assert(lines.exists(l => l.contains(" a ") && l.contains("median=")))
    assert(lines.exists(l => l.contains(" b ") && l.contains("median=")))
  }

  test("an arm's confs hold during its runs and are restored after") {
    val key = "graft.ab.spec"
    val seen = mutable.Buffer.empty[Option[String]]
    def confArm(v: String) = AB.Arm(v, Seq(key -> v), (s, _) => {
      seen += s.conf.getOption(key); Seq(Seq(1L).toDF("id"))
    })
    AB.run(spark, "", confArm("1"), confArm("2"), reps = 1, out = _ => ())
    assert(seen.flatten == Seq("1", "2", "1", "2", "1", "2"))
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("dsir_persist: the persisted arm reports what dsirSelectThreshold does") {
    val dir = Files.createTempDirectory("graft-ab-spec")
    try {
      spark.read.parquet(sf("documents"))
        .write.parquet(dir.resolve("documents.parquet").toString)
      val (a, b) = AB.pairs("dsir_persist")
      // The shipped arm keeps docs under a placed threshold, so the equal-
      // output gate below compares a non-empty selection.
      val report = a.build(spark, dir.toString).head
        .as[(String, Long, Long, Double, Long, Boolean)].collect()
      assert(report.nonEmpty && report.forall(_._6))
      assert(report.map(_._3).sum > 0)
      val res = AB.run(spark, dir.toString, a, b, reps = 1, out = _ => ())
      assert(res.map(_._1) == Seq("shipped", "persisted"))
    } finally {
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
