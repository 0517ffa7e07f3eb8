package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.checks.{Check, Quarantine}
import graft.etl.Etl
import graft.io.Writers
import graft.ingest.HttpZipIngest
import graft.model.{Format, Zone}
import graft.operators.{Dedup, Graph, Integrity, Sample}
import graft.pipeline.{AsyncJob, JobHandle, Pipeline, Task, TaskResult}

/** What a workload needs to run one pass. */
final case class Ctx(spark: SparkSession, tr: Tracer, data: String,
                     work: String, sf: Double) {
  def scale: Gen.Scale = Gen.Scale(sf)
}

/** What a pass left behind, read after its timed window: fingerprints of
  * its outputs, the bytes and files it stored, and workload-specific
  * check values.
  */
final case class PassOut(fingerprints: Map[String, String],
                         storedBytes: Long, filesWritten: Long,
                         checks: Map[String, Any] = Map.empty)

trait Workload {
  def name: String
  def tables: Seq[String]
  def zip: Boolean = false
  /** Scale of the co-order part edge list, if the workload reads one. */
  def edgesSf: Option[Double] = None
  /** Rows and bytes of the inputs the program reads, per pass. */
  def inputRows(c: Ctx): Long
  def inputBytes(c: Ctx): Long
  /** Untimed, once per seed, right after the first pass: references the
    * passes are checked against.
    */
  def prepare(c: Ctx): Map[String, Any] = Map.empty
  /** The timed body. Writes only under `dir`. */
  def run(c: Ctx, dir: String): Unit
  /** Untimed, after each pass and before the scrub. */
  def inspect(c: Ctx, dir: String, reference: Boolean): PassOut
  /** Untimed, after `inspect`: drop what the pass left outside `dir`. */
  def cleanup(c: Ctx): Unit = ()
}

object Workloads {
  val all: Seq[Workload] = Seq(EtlZones, Curation)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n"))

  def dirStats(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return (0L, 0L)
    val walk = Files.walk(p)
    try {
      val files = walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .filterNot { f =>
          val n = f.getFileName.toString
          n.startsWith(".") || n.startsWith("_")
        }
      (files.map(Files.size).sum, files.length.toLong)
    } finally walk.close()
  }

  def rmtree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }

  /** Order-independent fingerprint of a whole DataFrame, as text, and
    * its row count.
    */
  def fingerprintRows(df: DataFrame): (String, Long) = {
    val r = Integrity.fingerprint(df, df.columns.toSeq.sorted).head()
    (s"${r.get(0)}:${r.get(1)}:${r.get(2)}", r.getLong(0))
  }

  def fingerprint(df: DataFrame): String = fingerprintRows(df)._1

  def parquetRows(spark: SparkSession, path: String): Long =
    spark.read.parquet(path).count()
}

import Workloads._

/** The reference DAG: provider zip -> landing JSON -> Parquet -> SQL
  * transform -> Avro -> warehouse table -> count gate -> report -> zone
  * cleanup. The report task reads the warehouse's star schema through a
  * fixed read-only mix of registered gates, each result written in full
  * so no part of a plan can be pruned.
  */
object EtlZones extends Workload {
  val name = "etl_zones"
  val tables: Seq[String] = Seq("customer", "orders", "lineitem")
  override val zip = true
  val gates: Seq[String] = Seq("q1_agg", "q3_topk_join", "w1_window")
  private val db = "perfbench"
  private val table = "etl_out"
  private val orderBy = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")
  private val pollMs = 20L
  @volatile private var landed = -1L
  @volatile private var stored = (0L, 0L)

  private def zipPath(c: Ctx) = Paths.get(c.data, "payload.zip").toAbsolutePath
  /** The zip's rows plus every star-schema row the report reads. */
  def inputRows(c: Ctx): Long = {
    val s = c.scale
    s.nLine + s.nCust + s.nOrd + s.nLine
  }
  def inputBytes(c: Ctx): Long = Files.size(zipPath(c)) +
    tables.map(t => dirStats(s"${c.data}/$t.parquet")._1).sum

  /** Top-100 fingerprint straight from the archive's JSON, bypassing
    * every zone and the table the pass goes through.
    */
  override def prepare(c: Ctx): Map[String, Any] = {
    val json = s"${c.work}/ref-json"
    val zin = new java.util.zip.ZipInputStream(
      Files.newInputStream(zipPath(c)))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        val out = Paths.get(json, e.getName)
        Files.createDirectories(out.getParent)
        Files.copy(zin, out)
        e = zin.getNextEntry
      }
    } finally zin.close()
    val top = c.spark.read.json(json).orderBy(orderBy.map(col): _*).limit(100)
    val fp = fingerprint(top)
    rmtree(json)
    Map("top100" -> fp,
      "oracle_sql" -> gates.map(g => g -> SparkEntry.oracleSql(g)).toMap)
  }

  def run(c: Ctx, dir: String): Unit = {
    val spark = c.spark
    val tr = c.tr
    val landing = Zone(s"$dir/landing", Format.Json)
    val processing = Zone(s"$dir/processing", Format.Parquet)
    val curated = Zone(s"$dir/curated", Format.Avro)
    val handle = new AtomicReference[JobHandle[Long]]()
    val attempts = scala.collection.mutable.Map.empty[String, Int]
    def task(n: String, deps: String*)(body: => Unit) =
      Task(n, deps = deps)(() => {
        attempts.synchronized(attempts(n) = attempts.getOrElse(n, 0) + 1)
        tr.span(s"pipeline.task.$n")(body)
      })
    val tasks = Seq(
      task("create_zones")(Seq(landing, processing, curated)
        .foreach(z => Files.createDirectories(Paths.get(z.root)))),
      task("ingest", "create_zones") {
        val files = tr.span("ingest.extract")(HttpZipIngest.ingest(
          zipPath(c).toUri.toString, landing.root))
        require(files.nonEmpty, "ingest extracted no files")
      },
      task("submit_job", "ingest") {
        val parent = tr.current
        handle.set(AsyncJob.submit(tr.span("etl.json_to_parquet", parent)(
          Etl.jsonToParquet(spark, landing, processing))))
      },
      task("job_sensor", "submit_job") {
        landed = AsyncJob.awaitDone(handle.get(), pollMs, 10 * 60 * 1000L)
        require(landed > 0, "no rows after ingest")
      },
      task("sql_transform", "job_sensor")(tr.span("etl.transform")(
        Etl.transform(spark, processing, curated,
          Etl.queryRegistry(orderBy)("ETL_GCP")))),
      task("load_table", "sql_transform")(tr.span("io.load_table")(
        Writers.loadTable(spark, curated, "", db, table))),
      task("count_check", "load_table")(tr.span("checks.count_check")(
        Check("count_check", s"SELECT count(*) FROM $db.$table")
          .assertPasses(spark))),
      task("report", "count_check")(gates.foreach(g =>
        tr.span(s"queries.$g")(Writers.write(SparkEntry.queries(g)(spark, c.data),
          Format.Parquet, s"$dir/report/$g")))),
      task("cleanup", "report") {
        val zones = Seq(landing, processing, curated).map(z => dirStats(z.root))
        stored = (zones.map(_._1).sum, zones.map(_._2).sum)
        Seq(landing, processing, curated).foreach(z => rmtree(z.root))
      })
    val result = tr.span("pipeline.run")(new Pipeline(tasks).run())
    tr.count("pipeline.retries", attempts.values.map(_ - 1).sum.toDouble)
    require(result.succeeded, "pipeline failed: " + result.results.collect {
      case (n, TaskResult.Failed(e, _)) => s"$n: ${e.getMessage}" }.mkString("; "))
  }

  def inspect(c: Ctx, dir: String, reference: Boolean): PassOut = {
    val t = c.spark.table(s"$db.$table")
    val loc = c.spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db))).location
    val (tb, tf) = dirStats(Paths.get(loc).toString)
    val (rb, rf) = dirStats(s"$dir/report")
    val report = gates.map(g =>
      g -> fingerprint(c.spark.read.parquet(s"$dir/report/$g"))).toMap
    val (top, rows) = fingerprintRows(t)
    PassOut(report + ("table_top100" -> top),
      stored._1 + tb + rb, stored._2 + tf + rf,
      Map("landed_rows" -> landed, "table_rows" -> rows))
  }

  override def cleanup(c: Ctx): Unit =
    Writers.dropManaged(c.spark, db, table)
}

/** Training-data curation: quality rules -> MinHash LSH -> cluster
  * resolution -> keep one doc per cluster -> hash split -> shards; then
  * the iterative graph operators over the pre-generated co-order part
  * graph, the driver-bound shape of many small serialized jobs.
  */
object Curation extends Workload {
  val name = "curation"
  val tables: Seq[String] = Seq("documents")
  override val edgesSf: Option[Double] = Some(0.001)
  val ktrussK = 4L
  val graphRounds: Map[String, Int] =
    Map("bfs" -> 1, "sssp" -> 1, "pagerank" -> 1, "ktruss" -> 1)
  private val (n, k, bands, thr) = (3, 64, 16, 0.8)
  private val rules = Seq(
    "min_chars" -> (col("n_chars") >= 40),
    "max_chars" -> (col("n_chars") <= 640),
    "min_tokens" -> (size(split(col("text"), " ")) >= 12))
  @volatile private var last: (DataFrame, DataFrame) = _

  private def docs(c: Ctx) = c.spark.read.parquet(s"${c.data}/documents.parquet")
  private def edgeDf(c: Ctx) = c.spark.read.parquet(s"${c.data}/edges.parquet")
  def inputRows(c: Ctx): Long = c.scale.nDoc + edgeDf(c).count()
  def inputBytes(c: Ctx): Long = dirStats(s"${c.data}/documents.parquet")._1 +
    dirStats(s"${c.data}/edges.parquet")._1

  override def prepare(c: Ctx): Map[String, Any] = {
    val valid = Quarantine.valid(docs(c), rules)
    val truth = Dedup.jaccardPairs(valid, "doc_id", "text", n, thr)
      .select("da", "db")
    truth.write.mode("overwrite").parquet(s"${c.work}/truth.parquet")
    c.spark.catalog.clearCache()
    Map("truth_pairs" -> parquetRows(c.spark, s"${c.work}/truth.parquet"))
  }

  def run(c: Ctx, dir: String): Unit = {
    val tr = c.tr
    val valid = tr.stage("checks.quarantine", "checks.valid_rows")(
      Quarantine.valid(docs(c), rules))
    val pairs = tr.stage("dedup.lsh", "dedup.lsh_pairs")(
      Dedup.minHashLsh(valid, "doc_id", "text", n, k, bands, thr))
    val labels = tr.stage("dedup.resolve")(
      Dedup.resolveClusters(valid, "doc_id", pairs))
    val kept = tr.stage("dedup.keep", "dedup.kept_rows")(
      Dedup.dedupByClusters(valid, "doc_id", labels))
    val split = tr.stage("sample.split")(kept.withColumn("split",
      Sample.hashSplit("doc_id", Seq("e6" -> "train", "f3" -> "val"), "test")))
    tr.span("io.shard_write")(Writers.writePartitioned(split, Format.Parquet,
      s"$dir/shards", Seq("split")))
    last = (pairs, labels)
    graph(c, s"$dir/graph")
  }

  private def graph(c: Ctx, dir: String): Unit = {
    val tr = c.tr
    val e = edgeDf(c)
    val seeds = e.select(col("src").as("id")).distinct()
      .filter(col("id") % 100 === 0)
    def out(n: String, df: DataFrame): Unit =
      tr.span("io.result_write")(Writers.write(df, Format.Parquet, s"$dir/$n"))
    out("bfs", tr.stage("graph.bfs")(
      Graph.bfsHops(e, seeds, graphRounds("bfs"))))
    val ew = e.withColumn("w", lit(1L) + (col("src") + col("dst")) % 5)
    out("sssp", tr.stage("graph.sssp")(
      Graph.ssspRounds(ew, seeds, graphRounds("sssp"))))
    out("pagerank", tr.stage("graph.pagerank")(
      Graph.pageRankInt(e, graphRounds("pagerank"))))
    out("ktruss", tr.stage("graph.ktruss")(Graph.kTrussPeel(
      e.filter(col("src") < col("dst")), ktrussK, graphRounds("ktruss"))))
  }

  def inspect(c: Ctx, dir: String, reference: Boolean): PassOut = {
    val (pairs, labels) = last
    val shards = c.spark.read.parquet(s"$dir/shards")
    val (b, f) = dirStats(s"$dir/shards")
    val recall: Map[String, Any] = if (!reference) Map.empty else {
      val truth = c.spark.read.parquet(s"${c.work}/truth.parquet")
      val nTruth = truth.count()
      val hit = truth.join(pairs.select("da", "db"), Seq("da", "db"), "left_semi")
        .count()
      Map("lsh_recall" -> (if (nTruth == 0) 1.0 else hit.toDouble / nTruth),
        "truth_pairs" -> nTruth)
    }
    val (gb, gf) = dirStats(s"$dir/graph")
    val graphOut = graphRounds.keys.toSeq.sorted.map(n =>
      n -> fingerprintRows(c.spark.read.parquet(s"$dir/graph/$n")))
    val (kept, keptRows) = fingerprintRows(shards)
    PassOut(graphOut.map { case (n, (fp, _)) => n -> fp }.toMap ++
        Map("clusters" -> fingerprint(labels), "kept" -> kept),
      b + gb, f + gf, recall ++ graphOut.map { case (n, (_, r)) => s"${n}_rows" -> r }
        + ("kept_rows" -> keptRows))
  }
}
