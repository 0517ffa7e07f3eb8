package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory carrying the reference's execution-config envelope
  * (reference: k8s/submit/etl-on-gcp-vinicius-campos.py:67-88) adapted for
  * Spark 4.x. Two profiles: `local` for tests/bench (local[N], UI off) and
  * `withDefaults` for composing into an externally-built session (cluster).
  *
  * Deliberate deviation — `enableHiveSupport()`
  * (etl-on-gcp-vinicius-campos.py:69): the reference enables the Hive
  * catalog because Dataproc wires table metadata through a Hive
  * metastore. This engine's catalog surface (S7 temp views, S9/O7
  * warehouse tables) runs on Spark's built-in in-memory/`spark_catalog`
  * session catalog: every gated operation (create database, saveAsTable,
  * truncate-load, SQL over views) is catalog-implementation-agnostic, so
  * Hive classes would add a dependency and a metastore requirement
  * without changing any observable behavior (SURVEY.md §4.2). A
  * deployment that needs shared persistent metadata composes
  * `withDefaults` into a builder that has `enableHiveSupport()` or a
  * `spark.sql.catalog.*` plugin set — nothing here conflicts with either.
  *
  * Scale posture: AQE on (runtime re-plan + skew-join splitting), shuffle
  * coalescing to 128 MB advisory partitions, Kryo, committer v2 — the same
  * knobs the reference ships, which are also the right defaults for a
  * 1000-executor / 100 TB run. `spark.sql.shuffle.partitions` is sized by
  * the caller (cores locally; ~2-3x total cores on a cluster).
  */
object Sessions {

  /** Reference config envelope (etl-on-gcp-vinicius-campos.py:67-88), plus
    * the engine's SQL function extensions (vec_dot / vec_cosine).
    */
  def withDefaults(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.join.preferSortMergeJoin", "true")
    .config("spark.sql.broadcastTimeout", "900")
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    .config("spark.speculation", "false")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.debug.maxToStringFields", "100")
    // The generated-class cache defaults to 100 entries; a workload with
    // more codegen units than that (this engine's full query set has
    // several hundred) LRU-thrashes it, and recompilation serializes every
    // executor thread behind the compile KeyLock — observed as progressive
    // 3-10x slowdowns. Size it for the workload.
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    // ObjectHashAggregate (the exec for TypedImperativeAggregates like
    // MinHashAgg) falls back to SORT-based aggregation after only 128
    // distinct keys per task — a full sort of every shingle row once the
    // corpus has more than 128 docs per partition. Budget: a MinHash buffer
    // is k longs (~1 KB at production k=128), and the threshold is
    // *per task*, so in-flight memory ≈ threshold × 1 KB × concurrent
    // tasks. At 64k that is ~64 MB/task → ~2 GB across 32 local cores —
    // comfortable in the 8 GB test heap; the sort fallback still guards
    // pathological group counts beyond it. Cluster profiles should
    // re-derive: threshold ≈ (executor heap × 0.2) / (k × 8 B × cores).
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    // BloomFilterAggregate validates its item/bit arguments against these
    // runtime-filter confs even when constructed explicitly (BloomOps).
    // The defaults (4M items / 67M bits) are sized for join runtime
    // filters; membership sketches over whole edge sets (k-truss closure
    // pre-filter) and shingle vocabularies legitimately carry 10-100M
    // keys. 2^30 bits = 128 MB is the ceiling a sketch literal may reach;
    // BloomOps caps its optimal-bits request to the same bound so fpp
    // degrades gracefully instead of failing past it.
    .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "100000000")
    .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "1073741824")
    // ... but those raised caps also govern the optimizer's AUTOMATIC
    // InjectRuntimeFilter on every eligible shuffle join, which then
    // builds up-to-128MB bloom filters as a side effect of joins that are
    // already hand-planned (broadcast hints, pre-partitioned invariants,
    // explicit BloomOps sketches where a membership filter actually pays).
    // Measured tax with injection on at the raised caps: x2_minhash_k64
    // 3.06 -> 2.10s and x8_bfs 8.25 -> 6.81s when disabled (isolated
    // 3-run medians) — a uniform 1.3-1.7x on the join-heavy family for
    // zero selectivity benefit, since every hot join here keys on
    // already-minimal digest/band tables. Auto-injection stays OFF;
    // explicit BloomFilterAggregate construction (BloomOps) is unaffected
    // and keeps the raised ceilings above.
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    // events.ts is parquet TIMESTAMP(NANOS): surfaced as nanos-since-epoch
    // LongType (Tables.scala normalizes it back to TimestampType @ micros).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Micro-precision parquet timestamps without the UTC-adjusted flag
    // would otherwise surface as TIMESTAMP_NTZ, which unix_millis & co
    // reject; reading them as session-time (UTC) instants matches both
    // the nanos-era behavior above and the DuckDB oracle's naive
    // timestamp semantics.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  /** The reference knobs that only make sense with real executors
    * (etl-on-gcp-vinicius-campos.py:74-83): dynamic allocation + external
    * shuffle service (executors can scale down without losing shuffle
    * files) and the AQE coalesce floor/ceiling the reference pins
    * (`minPartitionNum=1`, `initialPartitionNum=10` :77-78 — locally we
    * keep the initial partition count at core count instead; on a
    * 1000-executor cluster the caller sizes `spark.sql.shuffle.partitions`
    * to 2-3× total cores and AQE coalesces down from there).
    *
    * PAIR dynamic allocation with `graft.checkpoint.dir` (see
    * [[org.apache.spark.sql.graft.FreshCheckpoint]]): the external
    * shuffle service preserves SHUFFLE files across a downscale, but
    * iterative operators pin each round as a CHECKPOINT block, and in
    * the default localCheckpoint mode those blocks live only on
    * executors — a downscale mid-iteration is then an unrecoverable
    * missing-block failure. Set `graft.checkpoint.dir` to a
    * fault-tolerant path (HDFS/object store) on any elastic cluster so
    * round pins survive executor churn; leave it unset locally where
    * zero-IO rounds are the right trade.
    */
  val clusterEnvelope: Map[String, String] = Map(
    "spark.dynamicAllocation.enabled" -> "true",
    // The reference's allocation sizing (etl-on-gcp-vinicius-campos
    // .py:81-83): floor 5, start 10, ceiling 30 executors. Carried
    // verbatim as the envelope's default; a 1000-executor deployment
    // overrides maxExecutors, the ratio (floor ≈ ceiling/6, start ≈
    // ceiling/3) is the part worth keeping.
    "spark.dynamicAllocation.minExecutors" -> "5",
    "spark.dynamicAllocation.initialExecutors" -> "10",
    "spark.dynamicAllocation.maxExecutors" -> "30",
    "spark.shuffle.service.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "1",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "10")

  /** Cluster profile: `withDefaults` + [[clusterEnvelope]]. */
  def cluster(b: SparkSession.Builder): SparkSession.Builder =
    clusterEnvelope.foldLeft(withDefaults(b)) {
      case (bb, (k, v)) => bb.config(k, v)
    }

  /** Runs `body` with each conf key set to its value, then restores every
    * key in a `finally` — to its previous value, or back to unset if the
    * session had not set it — so a gate that arms a conf for its own plan
    * leaves the shared session as it found it, also when `body` throws.
    */
  def withConf[A](spark: SparkSession)(kvs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def local(
      cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      app: String = "graft"): SparkSession = {
    val s = withDefaults(
      SparkSession.builder().master(s"local[$cores]").appName(app))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Scratch.warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Scratch locations under `target/` of the JVM's working directory —
  * the checkout root for sbt's forked runs and tests — so every checkout
  * writes its own warehouse and scratch files and two of them can run
  * side by side.
  */
object Scratch {
  private val target = new java.io.File(sys.props("user.dir"), "target")
  val scratch = new java.io.File(target, "tmp").getAbsolutePath
  val warehouse = new java.io.File(target, "spark-warehouse").getAbsolutePath
  def fresh(prefix: String): String = {
    val d = new java.io.File(
      scratch, s"$prefix-${java.util.UUID.randomUUID.toString.take(8)}")
    d.mkdirs()
    d.getAbsolutePath
  }
}
