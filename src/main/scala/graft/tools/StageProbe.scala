package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import scala.collection.mutable

/** Per-stage report for any registered gate: runs gate `args(0)` against
  * SPARK_GRAFT_SF_DIR `runs` times (args(1), default 2 — read run 2+: the
  * first run's stage times carry codegen-compile and JIT noise) and
  * prints, per completed stage, its task count, wall ms and the
  * min/median/max task ms. Two lenses in one line: the fixed cost per
  * stage ("many flat ~300 ms stages" vs one hot stage, PLANS rounds
  * 10-11) and task skew (max/median above ~5-10x is worth fixing).
  * Persisted state is scrubbed between runs exactly as in Bench.
  *
  * Usage: runMain graft.tools.StageProbe <gate> [runs]
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProbe <gate> [runs]")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(app = "graft-stage-probe")
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        taskMs.synchronized {
          taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
            t.taskInfo.duration
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        val ts = taskMs.synchronized {
          taskMs.getOrElse(i.stageId, mutable.ArrayBuffer.empty).toSeq.sorted
        }
        val (mn, md, mx) =
          if (ts.isEmpty) (-1L, -1L, -1L)
          else (ts.head, graft.Bench.median(ts.map(_.toDouble)).toLong, ts.last)
        System.err.println(f"[stage] id=${i.stageId}%-4d " +
          f"tasks=${i.numTasks}%-3d wall=$wall%-6d " +
          f"taskMs min=$mn%-5d med=$md%-5d max=$mx%-6d " +
          f"maxOverMed=${if (md > 0) mx.toDouble / md else -1.0}%5.1f  " +
          i.name.takeWhile(_ != '\n').take(60))
      }
    })
    val runs = args.lift(1).flatMap(_.toIntOption).getOrElse(2)
    for (r <- 1 to runs) {
      System.err.println(s"[stage] --- run $r ---")
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(args(0))(spark, dir).count()
      System.err.println(
        f"[stage] run $r: rows=$n total=${(System.nanoTime() - t0) / 1e9}%.2f s")
      graft.Bench.scrub(spark)
    }
    spark.stop()
  }
}
