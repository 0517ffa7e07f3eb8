package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.FreshCheckpoint

/** Round-state lifetime of the iterative operators: each one persists and
  * pins through `FreshCheckpoint.rounds`, so after it returns (or throws)
  * the only block it leaves in the BlockManager is its result's pin.
  */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  private def cacheManager = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager

  /** Runs `body` on an empty Dataset cache and returns the persisted RDDs
    * it left, id -> whether the RDD is a checkpoint (a pin); a Dataset
    * persist it left registered counts as one more, non-pin, RDD (-1).
    * Clears both afterwards. Starting from an empty cache matters: a
    * persist whose plan is already cached reuses that entry and would
    * hide its own leak.
    */
  private def leftBy(body: => Unit): Map[Int, Boolean] = {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    val persisted = spark.sparkContext.getPersistentRDDs
    val left = persisted.filter { case (id, _) => !before(id) }
      .map { case (id, rdd) => id -> rdd.isCheckpointed }.toMap
    val cached = if (cacheManager.isEmpty) Map.empty else Map(-1 -> false)
    left.keys.foreach(persisted(_).unpersist(blocking = true))
    spark.catalog.clearCache()
    left ++ cached
  }

  // Two triangles joined by a bridge, plus a pendant path.
  private val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
    (4L, 6L), (5L, 6L), (6L, 7L), (7L, 8L))
  private def pairsDf = pairs.toDF("src", "dst")
  private def edgesDf =
    (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
  private def seeds = Seq(1L, 8L).toDF("id")

  private val cases: Seq[(String, () => DataFrame)] = Seq(
    "bfsHops" -> (() => Graph.bfsHops(edgesDf, seeds, 4)),
    "landmarkHops" -> (() => Graph.landmarkHops(edgesDf, seeds, 4)),
    "ssspRounds" -> (() =>
      Graph.ssspRounds(edgesDf.withColumn("w", $"src" + $"dst"), seeds, 4)),
    "kCorePeel" -> (() => Graph.kCorePeel(pairsDf, 2, 3)),
    "pageRankInt" -> (() => Graph.pageRankInt(edgesDf, 3)),
    "pageRankInt dangling" -> (() =>
      Graph.pageRankInt(pairsDf, 3, dangling = true)),
    "personalizedPageRankInt" -> (() =>
      Graph.personalizedPageRankInt(edgesDf, seeds, 3)),
    "labelPropagate" -> (() => Graph.labelPropagate(edgesDf, 3)),
    "hitsInt" -> (() => Graph.hitsInt(pairsDf, 3)),
    "kTrussPeel" -> (() => Graph.kTrussPeel(edgesDf, 3, 3)),
    "sccBounded" -> (() => Graph.sccBounded(pairsDf.union(
      Seq((3L, 1L), (6L, 4L)).toDF("src", "dst")), 8)),
    "resolveClusters" -> (() => Dedup.resolveClusters(
      (1L to 9L).toDF("id"), "id", pairsDf.toDF("da", "db"))),
    "perceptronRounds" -> (() => Stats.perceptronRounds(
      Seq((1L, 1L, 2L), (1L, 2L, 1L), (2L, 2L, 3L), (3L, 1L, 1L),
        (3L, 3L, 2L)).toDF("doc", "bucket", "cnt"),
      "doc", "bucket", "cnt",
      Seq((1L, 1L), (2L, -1L), (3L, 1L)).toDF("doc", "y"), "y", 3))
  )

  for ((name, op) <- cases)
    test(s"$name leaves only its result's pin persisted") {
      val left = leftBy { assert(op().collect().nonEmpty) }
      assert(left.size <= 1, s"$name left ${left.size} persisted RDDs")
      assert(left.values.forall(identity),
        s"$name left a persisted RDD that is not its result's pin")
    }

  test("resolveClusters releases its round pins when it fails to converge") {
    // A 40-node path needs several star-contraction rounds; one is allowed.
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("da", "db")
    val left = leftBy {
      intercept[IllegalArgumentException] {
        Dedup.resolveClusters((1L to 40L).toDF("id"), "id", path,
          maxRounds = 1)
      }
    }
    assert(left.isEmpty, s"failed resolve left ${left.size} persisted RDDs")
  }

  test("rounds: keeps the returned pin, releases the rest on return or throw") {
    val df = (1 to 100).toDF("x")
    val left = leftBy {
      val out = FreshCheckpoint.rounds { r =>
        val base = r.persist(df.repartition(2))
        base.count()
        val a = r.pin(base.filter($"x" > 10))
        r.pin(a.df.filter($"x" > 50))
      }
      assert(out.count() == 50L)
    }
    assert(left.size == 1 && left.values.head)
    val thrown = leftBy {
      intercept[IllegalStateException] {
        FreshCheckpoint.rounds { r =>
          r.pin(df)
          r.persist(df.repartition(3)).count()
          throw new IllegalStateException("round failed")
        }
      }
    }
    assert(thrown.isEmpty)
  }

  test("rounds: a persist of a plan the caller cached leaves the caller's entry") {
    val df = (1 to 100).toDF("x")
    leftBy {
      val x = df.filter($"x" > 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assert(x.count() == 90L)
      val out = FreshCheckpoint.rounds { r =>
        r.pin(r.persist(df.filter($"x" > 10)).filter($"x" > 50))
      }
      assert(out.count() == 50L)
      assert(x.storageLevel ==
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }
}
