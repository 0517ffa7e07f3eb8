package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** Eager round checkpoint that does NOT inherit the origin plan's
  * Catalyst statistics.
  *
  * `Dataset.localCheckpoint` wraps the checkpointed RDD in a `LogicalRDD`
  * that carries the ORIGIN plan's `Statistics` forward. In an iterative
  * operator that self-joins its own checkpoint each round (label
  * propagation's pointer jump, dangling-mass PageRank), the size-only
  * stats estimator MULTIPLIES the two sides' `sizeInBytes`, so the stat
  * SQUARES every round: after k rounds it is a 2^k-bit BigInteger, and
  * every stats consultation during planning runs Toom-Cook
  * multiplications on megabit numbers. Measured on the sf1 DBSCAN
  * gate: the per-round checkpoint job grew 0.5 s → 78 s by round 21
  * (the join itself stayed ~0.5 s) purely from driver-side
  * BigInteger.multiply, with stats bit-length 95 → 2,331,205 over 14
  * rounds.
  *
  * This helper replicates what `Dataset.localCheckpoint` does to the
  * DATA — materialize the physical plan's row RDD (defensively copied:
  * unsafe rows are reused buffers), `localCheckpoint()` it, force it
  * with a count — but rebuilds the Dataset with
  * `internalCreateDataFrame`, whose `LogicalRDD` carries DEFAULT
  * statistics: constant-size stats every round, O(1) planning forever.
  * Accessible because this package sits under `org.apache.spark.sql`
  * (the same placement the native expressions use).
  *
  * ==Durability modes==
  *
  * `localCheckpoint` stores the pinned blocks ONLY on executors: it
  * truncates lineage, so a lost block is an unrecoverable job failure,
  * not a recompute. On an elastic cluster (the reference's own profile
  * runs dynamicAllocation min 5 / max 30 — SURVEY §4.2) a multi-hour
  * iterative job WILL see executor loss or a downscale, so every round
  * pinned locally is a bet the job loses eventually. The conf seam:
  *
  *   - `graft.checkpoint.dir` unset (default): `localCheckpoint` —
  *     zero-IO rounds, right for local bench/tests and for static
  *     clusters where the operator accepts restart-on-loss.
  *   - `graft.checkpoint.dir=<fault-tolerant path>` (HDFS/object store):
  *     reliable `rdd.checkpoint()` into that directory. Blocks survive
  *     any executor loss; rounds pay one durable write each. The RDD is
  *     also persisted MEMORY_AND_DISK first so the checkpoint write
  *     reads the computed rows instead of recomputing the round, and so
  *     successor rounds read from memory, falling back to the files
  *     only after loss; the caller's existing `rdd.unpersist` release
  *     still frees executor memory while the durable files remain until
  *     context stop (set `spark.cleaner.referenceTracking
  *     .cleanCheckpoints=true` to reap them when the RDD is GC'd).
  *
  * Both modes rebuild the Dataset through `internalCreateDataFrame`, so
  * the default-stats property above holds identically; all iterative
  * call sites (resolve, PageRank/PPR, SSSP, BFS, k-core, k-truss, SCC,
  * DBSCAN, …) inherit the mode with no code change. Pair the durable
  * mode with dynamicAllocation in cluster profiles — it is what makes
  * downscale-during-iteration safe.
  *
  * Measured price (sf1, local[32], matched calibrations — PLANS r14):
  * +8.9% on the resolve bench line and +6.7% on DBSCAN, writing ~400 MB
  * of durable round pins — the per-iteration IO tax a cluster operator
  * weighs against restart-on-loss of a multi-hour job.
  */
object FreshCheckpoint {

  /** Runtime conf key: fault-tolerant checkpoint directory. Unset →
    * localCheckpoint (executor-memory pins, fastest, not loss-safe).
    */
  val DirConf = "graft.checkpoint.dir"

  /** Pin `rdd`'s computed rows per the session's durability mode; returns
    * true when the reliable path was taken (callers never branch on it —
    * spec observability only).
    */
  private def pin(spark: org.apache.spark.sql.classic.SparkSession,
                  rdd: RDD[InternalRow]): Boolean =
    spark.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir mints a fresh UUID subdir per call — set only
        // when unset or when the conf points somewhere new, not per round.
        // (getCheckpointDir is the resolved UUID subdir, so substring-match
        // the configured root.)
        if (!sc.getCheckpointDir.exists(_.contains(dir)))
          sc.setCheckpointDir(dir)
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
        true
      case None =>
        rdd.localCheckpoint()
        false
    }

  /** A checkpointed round table: the rebuilt DataFrame, the EXACT RDD
    * handle whose blocks back it, and the row count the forcing count
    * already produced (free to the caller — peel loops branch on it).
    * Release with `rdd.unpersist(blocking = false)` once the round that
    * used it has materialized its successor.
    */
  final case class Pinned(df: DataFrame, rdd: RDD[InternalRow], rows: Long)

  def apply(df: DataFrame): DataFrame = pinned(df).df

  /** Retire a round pin once its successor is materialized: free the
    * executor-memory blocks, and in durable mode ALSO delete the round's
    * checkpoint files — so a k-round loop holds ONE live round on durable
    * storage instead of accreting all k (at 100 TB a 50-round resolve
    * would otherwise park 50 round-sized tables on the checkpoint store
    * until context stop). The pin is DEAD after release in BOTH modes —
    * that was already the localCheckpoint contract (truncated lineage
    * cannot recompute an unpersisted block), so deleting the durable
    * files alongside changes nothing a caller could observe. Callers that
    * still release via a raw `p.rdd.unpersist` stay correct in durable
    * mode; they just leave that round's files for the
    * `spark.cleaner.referenceTracking.cleanCheckpoints` reaper.
    */
  def release(p: Pinned, blocking: Boolean = false): Unit = {
    p.rdd.unpersist(blocking)
    p.rdd.getCheckpointFile.foreach { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      path.getFileSystem(p.rdd.sparkContext.hadoopConfiguration)
        .delete(path, true)
    }
  }

  /** Like `apply`, but also returns the checkpointed RDD handle so the
    * caller can later release EXACTLY the block it created. Iterative
    * operators used to identify their checkpoint block by diffing the
    * global `sc.getPersistentRDDs` keyset around this call — which
    * captures any RDD persisted concurrently on the same context and,
    * because these are localCheckpoint blocks, unpersisting someone
    * else's still-in-use block is an unrecoverable missing-block
    * failure, not a recompute.
    */
  def pinned(df: DataFrame): Pinned = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    pin(spark, rdd)
    val n = rdd.count()
    Pinned(spark.internalCreateDataFrame(rdd, df.schema), rdd, n)
  }

  /** Lazy variant: no forcing count — the blocks materialize with the
    * CALLER's first action over the returned df (`rows` is therefore -1).
    * Right for loops that run their own per-round aggregate anyway (the
    * convergence test doubles as the forcing action), where the eager
    * count is a whole extra job of pure fixed cost per round. Same
    * default-stats / truncated-lineage properties as `pinned`.
    */
  def lazyPinned(df: DataFrame): Pinned = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    pin(spark, rdd)
    Pinned(spark.internalCreateDataFrame(rdd, df.schema), rdd, -1L)
  }
}
