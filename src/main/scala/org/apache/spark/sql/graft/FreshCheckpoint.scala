package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

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
  *     only after loss; `release` frees the memory and deletes the
  *     round's files. A result pin nobody releases keeps its files until
  *     context stop (set `spark.cleaner.referenceTracking
  *     .cleanCheckpoints=true` to reap them when the RDD is GC'd).
  *
  * Both modes rebuild the Dataset through `internalCreateDataFrame`, so
  * the default-stats property above holds identically; every iterative
  * operator pins through [[rounds]] (`Graph.bfsHops`, `landmarkHops`,
  * `ssspRounds`, `kCorePeel`, `pageRankInt`, `personalizedPageRankInt`,
  * `labelPropagate`, `hitsInt`, `kTrussPeel`, `sccBounded`,
  * `Dedup.resolveClusters`, so `Density.dbscan` too,
  * `Stats.perceptronRounds`) and so inherits the mode with no code
  * change. Pair the durable mode with dynamicAllocation in cluster
  * profiles — it is what makes downscale-during-iteration safe.
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

  /** Pin `rdd`'s computed rows per the session's durability mode. */
  private def pin(spark: org.apache.spark.sql.classic.SparkSession,
                  rdd: RDD[InternalRow]): Unit =
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
      case None =>
        rdd.localCheckpoint()
    }

  /** A checkpointed round table: the rebuilt DataFrame, the EXACT RDD
    * handle whose blocks back it, and the row count the forcing count
    * already produced (free to the caller — peel loops branch on it).
    */
  final case class Pinned(df: DataFrame, rdd: RDD[InternalRow], rows: Long)

  /** Retire a round pin once its successor is materialized: free the
    * executor-memory blocks, and in durable mode ALSO delete the round's
    * checkpoint files — so a k-round loop holds ONE live round on durable
    * storage instead of accreting all k (at 100 TB a 50-round resolve
    * would otherwise park 50 round-sized tables on the checkpoint store
    * until context stop). The pin is DEAD after release in BOTH modes —
    * that was already the localCheckpoint contract (truncated lineage
    * cannot recompute an unpersisted block), so deleting the durable
    * files alongside changes nothing a caller could observe.
    */
  def release(p: Pinned): Unit = {
    p.rdd.unpersist(blocking = false)
    p.rdd.getCheckpointFile.foreach { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      path.getFileSystem(p.rdd.sparkContext.hadoopConfiguration)
        .delete(path, true)
    }
  }

  /** Materialize `df` eagerly (one forcing count) and pin it per the
    * durability mode. Returns the checkpointed RDD handle so the caller
    * can later release EXACTLY the block it created: diffing the global
    * `sc.getPersistentRDDs` keyset instead would capture any RDD
    * persisted concurrently on the same context, and unpersisting
    * someone else's still-in-use localCheckpoint block is an
    * unrecoverable missing-block failure, not a recompute.
    */
  def pinned(df: DataFrame): Pinned = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    pin(spark, rdd)
    val n = rdd.count()
    Pinned(spark.internalCreateDataFrame(rdd, df.schema), rdd, n)
  }

  /** The round state one [[rounds]] scope has persisted or pinned. */
  final class Rounds private[FreshCheckpoint] {
    private[FreshCheckpoint] val pins = ArrayBuffer.empty[Pinned]
    private[FreshCheckpoint] val persisted = ArrayBuffer.empty[DataFrame]

    /** Lazy MEMORY_AND_DISK persist — for loop-invariant operands. The
      * CacheManager matches entries by plan, so persisting a plan already
      * cached reuses the existing entry (a no-op): that entry belongs to
      * whoever cached it, and the scope registers — and later unpersists —
      * only the entries it created.
      */
    def persist(df: DataFrame): DataFrame = {
      val cache = df.sparkSession
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      if (cache.lookupCachedData(
          df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
        persisted += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

    /** Eager round pin ([[pinned]]) — for state a loop reads back. */
    def pin(df: DataFrame): Pinned = {
      val p = pinned(df)
      pins += p
      p
    }

    /** Retire a pin before the scope ends, once its successor is pinned. */
    def release(p: Pinned): Unit = {
      pins -= p
      FreshCheckpoint.release(p)
    }

    /** Unpersist a persist before the scope ends (if the scope owns it). */
    def release(df: DataFrame): Unit =
      if (persisted.contains(df)) {
        persisted -= df
        df.unpersist(blocking = false)
      }
  }

  /** The one lifetime rule for an iterative operator's round state.
    * `body` persists and pins through the [[Rounds]] it is given and
    * returns the pin that holds its result; the scope returns that pin's
    * DataFrame and, in a `finally`, releases every other pin and persist
    * the body registered — on return and when the body throws. Without
    * that, each round's blocks stay in the BlockManager for the session:
    * leaked storage measurably starves later memory-sensitive stages, and
    * in durable mode it parks every round's files on the checkpoint store.
    * Only the result's pin outlives the call; it holds truncated lineage,
    * so releasing the persists it was computed from is safe.
    *
    * State lives in the scope, not in a global registry, so concurrent
    * jobs on one context and nested scopes release only their own blocks.
    */
  def rounds(body: Rounds => Pinned): DataFrame = {
    val r = new Rounds
    var kept: Pinned = null
    try {
      kept = body(r)
      kept.df
    } finally {
      r.pins.filterNot(_ eq kept).foreach(release)
      r.persisted.foreach(_.unpersist(blocking = false))
    }
  }
}
