package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Wall clock in epoch microseconds, from a monotonic source. Spark's
  * listener events carry epoch milliseconds, so spans use the same epoch.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** In-memory span recorder. Off, every method is a pass-through and
  * records nothing. On, each span keeps (name, start, end, parent, pass);
  * the parent is the innermost span open on the calling thread unless
  * the caller names one (work handed to another thread).
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      start: Long, var end: Long = -1L)

final class Tracer(val on: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** (pass, counter) -> value, for counts only a span boundary knows. */
  val counters = mutable.LinkedHashMap.empty[(Int, String), Double]
  /** Highest RDD storage footprint seen at any span boundary, per pass. */
  val peakStorage = mutable.Map.empty[Int, Long]
  @volatile var pass: Int = -1
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def current: Int = open.get.headOption.getOrElse(-1)

  def span[A](name: String, parent: Int = Int.MinValue)(body: => A): A =
    if (!on) body
    else {
      val s = synchronized {
        val p = if (parent == Int.MinValue) current else parent
        val s = Span(spans.size, name, p, pass, Clock.us())
        spans += s
        s
      }
      open.set(s.id :: open.get)
      try body
      finally {
        s.end = Clock.us()
        open.set(open.get.tail)
        sampleStorage()
      }
    }

  /** Run `body` in a span and, when tracing, materialize its lazy result
    * inside that span so the work is billed to the layer that planned it.
    */
  def stage(name: String, counter: String = "")(body: => DataFrame): DataFrame =
    span(name) {
      val df = body
      if (!on) df
      else {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        val n = p.count()
        if (counter.nonEmpty) count(counter, n.toDouble)
        p
      }
    }

  def count(name: String, v: Double): Unit =
    if (on) synchronized { counters((pass, name)) = v }

  private def sampleStorage(): Unit = {
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    synchronized {
      peakStorage(pass) = math.max(peakStorage.getOrElse(pass, 0L), bytes)
    }
  }
}

/** Spark counts at job, stage and task level. Only registered in traced
  * runs; jobs are attributed to spans afterwards by submission time, not
  * by job group, because some operators submit from pool threads that
  * do not inherit the caller's local properties.
  */
final class CountingListener extends SparkListener {
  final class StageAgg {
    var tasks = 0L; var failedTasks = 0L; var taskMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var input = 0L; var output = 0L; var gcMs = 0L
    var submitted = false
  }
  final class Job(val id: Int, val submitMs: Long, val stages: Seq[Int]) {
    var endMs = -1L
    var ok = false
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageAgg]

  private def agg(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { agg(e.stageInfo.stageId).submitted = true }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(e.stageId)
    a.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
      a.gcMs += m.jvmGCTime
    }
  }

  /** One record per job; a stage shared by several jobs is billed to the
    * first job that lists it, and a listed stage that never ran is skipped.
    */
  def records: Seq[Map[String, Any]] = synchronized {
    val billed = mutable.HashSet.empty[Int]
    jobs.values.toSeq.sortBy(_.id).map { j =>
      val own = j.stages.filter(billed.add)
      val ran = own.flatMap(stages.get).filter(_.submitted)
      def sum(f: StageAgg => Long) = ran.map(f).sum
      Map("id" -> j.id, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs,
        "ok" -> j.ok, "stages" -> ran.size,
        "stages_skipped" -> (own.size - ran.size),
        "tasks" -> sum(_.tasks), "failed_tasks" -> sum(_.failedTasks),
        "task_ms" -> sum(_.taskMs), "shuffle_write" -> sum(_.shuffleWrite),
        "shuffle_read" -> sum(_.shuffleRead),
        "fetch_wait_ms" -> sum(_.fetchWaitMs), "spill" -> sum(_.spill),
        "input" -> sum(_.input), "output" -> sum(_.output),
        "gc_ms" -> sum(_.gcMs))
    }
  }
}
