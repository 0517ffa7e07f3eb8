package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark process: build the session, make the seeded inputs and
  * references (untimed), then run one workload as a closed
  * loop with a single client until the time budget is spent. Each pass is
  * followed, outside its timed window, by its checks and a scrub. The
  * whole record goes to `--out` as JSON; `run.py` turns it into metrics.
  *
  * With `--trace 1`, every second pass is traced (spans + listener); the
  * others give the untraced baseline.
  */
object Main {

  /** Timed passes per run at least, however long they take. Any pass can
    * be hit by a burst of load from elsewhere; the median of three absorbs
    * one. More do not fit: a run's fixed cost (JVM start, generation, the
    * cold reference pass and its checks) is already about 40 s.
    */
  val MinPasses = 3

  private def nowS: Double = System.currentTimeMillis() / 1e3

  def main(args: Array[String]): Unit = {
    val mainAt = nowS
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors().toString
    Files.createDirectories(Paths.get(work, "spark-local"))
    val spark = graft.Sessions.withDefaults(SparkSession.builder()
        .master(s"local[$cores]").appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    val readyAt = nowS
    val setup = Map("main_at" -> mainAt, "ready_at" -> readyAt)
    val record =
      try {
        spark.sparkContext.setLogLevel("WARN")
        Map("setup" -> setup) ++ run(spark, opt, work)
      } finally spark.stop()
    Files.write(Paths.get(opt("out")), org.json4s.jackson.Serialization
      .write(record)(org.json4s.DefaultFormats).getBytes(StandardCharsets.UTF_8))
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JVM's compiler and collector threads, in ns, from
    * /proc (clock ticks of 10 ms). Both are taken out of a pass's CPU
    * time: in a run of a few passes the compilers are still busy and the
    * collector is still sizing the heap, and their shares vary from run
    * to run, even on one seed, far more than the program's own work does.
    */
  private def jitNs: Long = threadsNs("(C[12] CompilerThre|Sweeper thread).*")
  private def gcThreadsNs: Long = threadsNs("(GC Thread|G1 ).*")

  private def threadsNs(names: String): Long = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator.asScala.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.resolve("comm")),
          StandardCharsets.US_ASCII).trim
        if (!comm.matches(names)) 0L
        else {
          val stat = new String(Files.readAllBytes(t.resolve("stat")),
            StandardCharsets.US_ASCII)
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L } // thread ended meanwhile
    }.sum
    finally tasks.close()
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Writing 5 to clear_refs resets the process's VmHWM to its current
    * resident set (Linux 4.0 and later).
    */
  private def resetHwm(): Unit =
    Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(StandardCharsets.US_ASCII))

  private def vmHwmKb: Long = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }

  private def run(spark: SparkSession, opt: Map[String, String],
                  work: String): Map[String, Any] = {
    val w = Workloads.byName(opt("workload"))
    val seed = opt("seed").toInt
    val sf = opt("sf").toDouble
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val sc = spark.sparkContext

    val genStart = nowS
    Gen.write(spark, opt("data"), seed, sf, w.tables, w.zip, w.edgesSf)
    val genS = nowS - genStart

    val off = new Tracer(false, sc)
    val on = new Tracer(true, sc)
    val listener = new CountingListener
    var refs: Map[String, Any] = Map.empty
    var prepS = 0.0

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var reference: Map[String, String] = Map.empty

    def onePass(idx: Int, tr: Tracer, kind: String): Unit = {
      val c = Ctx(spark, tr, opt("data"), work, sf)
      val dir = s"$work/pass-$idx"
      tr.pass = idx
      val (cpu0, jit0, gc0, gct0) = (cpuNs, jitNs, gcMs, gcThreadsNs)
      val t0 = Clock.us()
      var err: Option[String] = None
      try tr.span("pass")(w.run(c, dir))
      catch { case e: Throwable => err = Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val t1 = Clock.us()
      val (cpu1, jit1, gc1, gct1) = (cpuNs, jitNs, gcMs, gcThreadsNs)
      val leak = sc.getPersistentRDDs.size
      // References are made after the first pass, on a warm JVM.
      if (kind == "reference") {
        val p0 = nowS
        refs = w.prepare(c)
        prepS = nowS - p0
      }
      val out = try Some(w.inspect(c, dir, kind == "reference"))
        catch { case e: Throwable =>
          if (err.isEmpty) err = Some(s"inspect: ${e.getClass.getName}: ${e.getMessage}")
          None }
      val t2 = Clock.us()
      if (kind == "reference") reference = out.map(_.fingerprints).getOrElse(Map.empty)
      val mismatch = out.toSeq.flatMap(_.fingerprints).collect {
        case (k, v) if reference.get(k) != Some(v) => k }
      passes += Map("idx" -> idx, "kind" -> kind,
        "start_us" -> t0, "end_us" -> t1, "wall_s" -> (t1 - t0) / 1e6,
        "check_s" -> (t2 - t1) / 1e6,
        "cpu_s" -> ((cpu1 - cpu0) - (jit1 - jit0) - (gct1 - gct0)) / 1e9,
        "jit_s" -> (jit1 - jit0) / 1e9, "gc_s" -> (gc1 - gc0) / 1e3,
        "gc_cpu_s" -> (gct1 - gct0) / 1e9,
        "persisted_rdds" -> leak,
        "stored_bytes" -> out.map(_.storedBytes).getOrElse(0L),
        "files_written" -> out.map(_.filesWritten).getOrElse(0L),
        "fingerprints" -> out.map(_.fingerprints).getOrElse(Map.empty),
        "mismatch" -> mismatch, "checks" -> out.map(_.checks).getOrElse(Map.empty),
        "error" -> err.orNull)
      // Scrub, as graft.Bench does between timed runs, plus what the pass
      // left on disk and in the catalog. The reference outputs stay for
      // the oracle comparison.
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      w.cleanup(c)
      if (kind != "reference") Workloads.rmtree(dir)
      System.gc()
    }

    onePass(0, off, "reference")
    // Peak RSS covers the timed passes only: generation, the cold first
    // pass and the references have left their high-water mark by now.
    resetHwm()
    // Closed loop, one client: the next pass starts when the last one and
    // its checks are done. Traced runs alternate untraced and traced passes
    // so both halves see the same JIT warm-up; the listener is attached
    // only around traced passes.
    val start = nowS
    var idx = 1
    while (idx <= MinPasses || nowS - start < seconds) {
      if (traced && idx % 2 == 0) {
        sc.addSparkListener(listener)
        try onePass(idx, on, "traced")
        finally {
          org.apache.spark.graftbench.BusDrain(sc)
          sc.removeSparkListener(listener)
        }
      } else onePass(idx, off, if (traced) "untraced" else "timed")
      idx += 1
    }

    Map("workload" -> w.name, "seed" -> seed, "sf" -> sf,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "gen_s" -> genS, "prepare_s" -> prepS,
      "input_rows" -> w.inputRows(Ctx(spark, off, opt("data"), work, sf)),
      "zip_rows" -> (if (w.zip) Gen.Scale(sf).nLine else 0L),
      "zip_bytes" -> (if (w.zip) Files.size(Paths.get(opt("data"), "payload.zip"))
        else 0L),
      "input_bytes" -> w.inputBytes(Ctx(spark, off, opt("data"), work, sf)),
      "references" -> refs, "passes" -> passes.toSeq,
      "graph_rounds" -> Curation.graphRounds, "gates" -> EtlZones.gates,
      "peak_rss_mb" -> vmHwmKb / 1024.0,
      "spans" -> on.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "pass" -> s.pass, "start_us" -> s.start,
        "end_us" -> s.end)),
      "counters" -> on.counters.toSeq.map { case ((p, n), v) =>
        Map("pass" -> p, "name" -> n, "value" -> v) },
      "peak_storage" -> on.peakStorage.toSeq.map { case (p, b) =>
        Map("pass" -> p, "bytes" -> b) },
      "jobs" -> (if (traced) listener.records else Nil))
  }
}
