package org.apache.spark.sql.graft

import graft.SparkSpec
import java.nio.file.{Files, Path}
import java.util.Comparator

/** The FreshCheckpoint durability seam (VERDICT r13 #1). localCheckpoint
  * pins round blocks on executors only — any executor loss or
  * dynamic-allocation downscale during a multi-hour iterative job kills
  * the job. With `graft.checkpoint.dir` set, rounds pin via reliable
  * rdd.checkpoint() to that (fault-tolerant) directory instead. This spec
  * proves the seam: (a) the reliable mode actually checkpoints to files
  * under the dir; (b) two representative iterative gates (resolve = star
  * contraction, pagerank = self-join fixpoint) produce IDENTICAL results
  * in both modes — the mode changes durability, never semantics.
  */
class FreshCheckpointSpec extends SparkSpec {

  private def withCkptDir[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt-spec")
    try {
      spark.conf.set(FreshCheckpoint.DirConf, dir.toString)
      body(dir)
    } finally {
      spark.conf.unset(FreshCheckpoint.DirConf)
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  private def countFiles(dir: Path): Long =
    Files.walk(dir).filter(Files.isRegularFile(_)).count()

  test("reliable mode: pinned RDD isCheckpointed with files under the dir") {
    import spark.implicits._
    withCkptDir { dir =>
      val p = FreshCheckpoint.pinned(
        (1 to 1000).toDF("x").repartition(4))
      assert(p.rows == 1000L)
      assert(p.rdd.isCheckpointed,
        "reliable mode must leave the round RDD checkpointed")
      assert(p.rdd.getCheckpointFile.exists(_.contains(dir.toString)),
        s"checkpoint file ${p.rdd.getCheckpointFile} not under $dir")
      assert(countFiles(dir) > 0, "no checkpoint files written")
      // The caller-side release contract is unchanged: unpersist frees
      // the memory pin while the durable files remain readable.
      p.rdd.unpersist(blocking = true)
      assert(p.df.count() == 1000L)
    }
  }

  test("default mode: localCheckpoint, not reliable (no conf, no files)") {
    import spark.implicits._
    val p = FreshCheckpoint.pinned((1 to 100).toDF("x"))
    // localCheckpoint also reports isCheckpointed=true but has no file.
    assert(p.rdd.getCheckpointFile.isEmpty)
    p.rdd.unpersist(blocking = false)
  }

  test("release reaps durable round files; default mode has none to reap") {
    import spark.implicits._
    withCkptDir { dir =>
      // Two successive round pins, as a loop would make them: releasing
      // the first must delete ITS files and leave the second's intact —
      // the one-live-round durable footprint.
      val p1 = FreshCheckpoint.pinned((1 to 300).toDF("x"))
      val p2 = FreshCheckpoint.pinned((1 to 400).toDF("x"))
      val f1 = p1.rdd.getCheckpointFile.get
      val f2 = p2.rdd.getCheckpointFile.get
      assert(f1 != f2)
      FreshCheckpoint.release(p1)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(new java.net.URI(f1).getPath)),
        s"released round's checkpoint files survive at $f1")
      assert(p2.df.count() == 400L, "surviving round must stay readable")
      FreshCheckpoint.release(p2)
    }
    // Default mode: release is exactly the old unpersist (no files).
    val p = FreshCheckpoint.pinned((1 to 50).toDF("x"))
    FreshCheckpoint.release(p)
  }

  test("both modes produce identical results on iterative gates") {
    val sfDir = "/root/testdata/sf0.001"
    // One gate per FreshCheckpoint.rounds shape: resolve (round pins
    // retired as the successor lands), pagerank, kcore, labelprop and
    // perceptron (lazy rounds, result pinned at the end), ktruss (delta
    // rounds), scc (persist rotation, result pin).
    for (gate <- Seq("x2_dedup_resolve", "x8_pagerank", "x8_ktruss",
                     "x8_scc", "x8_kcore", "x8_labelprop",
                     "x9_perceptron")) {
      val local = graft.SparkEntry.queries(gate)(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
      val durable = withCkptDir { _ =>
        graft.SparkEntry.queries(gate)(spark, sfDir)
          .collect().map(_.toString).sorted.toSeq
      }
      assert(local == durable, s"$gate differs between checkpoint modes")
    }
  }
}
