package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

  private def groupOf(j: SparkListenerJobStart): String =
    String.valueOf(j.properties.getProperty("spark.jobGroup.id"))

  /** Every job that starts while `body` runs under job group `g`, in
    * start order — including jobs a pooled thread runs in another group.
    * A fence job closes the window: job starts reach the listener in
    * order, so once the fence's start arrives every earlier one has.
    */
  private def jobsOf(g: String)(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.LinkedBlockingQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = starts.put(j)
    }
    def inGroup(group: String)(run: => Unit): Unit = {
      sc.setJobGroup(group, group)
      try run finally sc.clearJobGroup()
    }
    val fence = s"$g-fence"
    sc.addSparkListener(listener)
    try {
      inGroup(g)(body)
      inGroup(fence)(sc.parallelize(Seq(1)).count())
      Iterator.continually(starts.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(j => j != null && groupOf(j) != fence).toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("pageRankInt: hand-computed recurrence on a 2-node chain") {
    // 1 -> 2, directed. outdeg(1)=1; node 2 dangles (mass dropped).
    // r0 = 1e9 each; node 1 never has inflow -> base = 150000000.
    // iter1: r(2) = 15e7 + (17 * 1e9) div 20      = 1000000000
    // iter2: r(2) = 15e7 + (17 * 15e7) div 20     =  277500000
    // iter3: unchanged (r(1) is stationary).
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = Graph.pageRankInt(edges, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 150000000L, 2L -> 277500000L))
  }

  test("pageRankInt: a symmetric cycle is a fixpoint at scale") {
    // Undirected pair: each node's whole rank flows to the other, so
    // rank stays exactly `scale` every iteration.
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = Graph.pageRankInt(edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1000000000L, 2L -> 1000000000L))
  }

  test("pageRankInt: bit-identical under repartitioning (integer arithmetic)") {
    val li = spark.read.parquet(sf("lineitem"))
      .select($"l_orderkey", $"l_suppkey")
    val pairs = li.as("a").join(li.as("b"), "l_orderkey")
      .filter($"a.l_suppkey" < $"b.l_suppkey")
      .select($"a.l_suppkey".as("src"), $"b.l_suppkey".as("dst")).distinct()
    val edges = pairs.unionByName(pairs.select($"dst".as("src"), $"src".as("dst")))
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.pageRankInt(df, iters = 3).as[(Long, Long)].collect().toMap
    val a = run(edges.repartition(1))
    val b = run(edges.repartition(7))
    assert(a == b)
    assert(a.nonEmpty)
    // sf0.001's co-order graph is near-regular, so ranks may all tie;
    // differentiation is asserted on the star graph below instead.
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L), (9L, 1L)).toDF("src", "dst")
    val sr = run(star)
    assert(sr(9L) > sr(2L))
  }

  test("pageRankInt dangling: hand case — sink mass redistributed exactly") {
    // 1→2 and 3→2: node 2 is a sink holding scale=1e9 at iter 0.
    // share = 1e9 div 3 = 333333333
    // rank'(1) = rank'(3) = 15e7 + (17*share) div 20        = 433333333
    // rank'(2) = 15e7 + (17*(2e9 + share)) div 20           = 2133333333
    val edges = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val out = Graph.pageRankInt(edges, iters = 1, dangling = true)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 433333333L, 3L -> 433333333L,
      2L -> 2133333333L))
    // and the default still drains: same graph, no redistribution term
    val drain = Graph.pageRankInt(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(drain(1L) == 150000000L && drain(2L) == 1850000000L)
  }

  test("pageRankInt dangling: bit-identical under repartitioning") {
    val li = spark.read.parquet(sf("lineitem"))
      .select($"l_orderkey", $"l_suppkey")
    val pairs = li.as("a").join(li.as("b"), "l_orderkey")
      .filter($"a.l_suppkey" < $"b.l_suppkey")
      .select($"a.l_suppkey".as("src"), $"b.l_suppkey".as("dst")).distinct()
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.pageRankInt(df, iters = 2, dangling = true)
        .as[(Long, Long)].collect().toMap
    val a = run(pairs.repartition(1))
    assert(a == run(pairs.repartition(7)))
    assert(a.nonEmpty)
  }

  test("pageRankInt: total rank never exceeds n*scale (mass only leaks)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val out = Graph.pageRankInt(edges, iters = 5).as[(Long, Long)].collect()
    assert(out.map(_._2).sum <= 3L * 1000000000L)
    assert(out.forall(_._2 >= 150000000L))
  }

  test("triangleCounts: K4 minus an edge — hand-counted corners") {
    // Nodes 1..4, all pairs except (1,4): triangles {1,2,3} and {2,3,4}.
    // Corner counts: 1→1, 2→2, 3→2, 4→1.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val out = Graph.triangleCounts(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("triangleCounts: triangle-free graphs emit nothing") {
    // A 4-cycle (1-2-3-4-1 with src<dst canonicalization) has no triangle.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    assert(Graph.triangleCounts(pairs).isEmpty)
  }

  test("bfsHops: path graph — hops settle at min distance, bounded") {
    // Path 1-2-3-4-5 (undirected), seed 1, 2 rounds: nodes 4 (distance 3)
    // and 5 (distance 4) stay unreached within the bound.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val out = Graph.bfsHops(edges, seeds, maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsHops/ssspRounds: empty frontier — early exit equals full rounds") {
    // Rounds stop once a pinned frontier comes back empty (the pin's
    // forcing count also sizes the next round's joins). A disconnected
    // pair graph settles in 1 hop; maxHops far past convergence must
    // return the identical settled table the fixed-round form produced.
    val und = Seq((1L, 2L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val hops = Graph.bfsHops(edges, Seq(1L).toDF("id"), maxHops = 9)
      .as[(Long, Long)].collect().toMap
    assert(hops == Map(1L -> 0L, 2L -> 1L))
    val w = (und ++ und.map(_.swap)).map { case (s, d) => (s, d, 2L) }
      .toDF("src", "dst", "w")
    val dist = Graph.ssspRounds(w, Seq(1L).toDF("id"), rounds = 9)
      .as[(Long, Long)].collect().toMap
    assert(dist == Map(1L -> 0L, 2L -> 2L))
    // Seeds absent from the graph still settle themselves (frontier joins
    // find nothing; round 1 empties the frontier immediately).
    val lone = Graph.bfsHops(edges, Seq(42L).toDF("id"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(lone == Map(42L -> 0L))
  }

  test("bfsHops: multi-source takes the nearer seed; re-reached nodes keep first hop") {
    // Cycle 1-2-3-4 with seeds 1 and 3: everything within hop 1.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.bfsHops(edges, Seq(1L, 3L).toDF("id"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("triangleCounts: each triangle counted once regardless of partitioning") {
    // Two triangles sharing edge (2,3); shared-edge corners see both.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 5L), (3L, 5L))
      .toDF("src", "dst").repartition(7)
    val out = Graph.triangleCounts(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 5L -> 1L))
  }
  test("kCorePeel: cascading removals, round-bounded") {
    // path 1-2-3-4 dissolves under k=2; triangle 5-6-7 is the 2-core
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("src", "dst").repartition(5)
    val r1 = Graph.kCorePeel(pairs, k = 2L, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(2L -> 2L, 3L -> 2L, 5L -> 2L, 6L -> 2L, 7L -> 2L))
    val r2 = Graph.kCorePeel(pairs, k = 2L, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(5L -> 2L, 6L -> 2L, 7L -> 2L))
    // converged: further rounds are no-ops
    val r3 = Graph.kCorePeel(pairs, k = 2L, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == r2)
  }

  test("hitsInt: hand-computed two-iteration scores on a path-ish graph") {
    // 1→3, 2→3, 3→4: 1,2 are pure hubs; 3 is the authority (and a weak
    // hub toward 4); 4 is a pure (weak) authority.
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = Graph.hitsInt(edges, iters = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val S = 1000000L
    assert(out == Map(
      1L -> (S, 0L), 2L -> (S, 0L),
      3L -> (250000L, S), 4L -> (0L, 250000L)))
  }

  test("labelPropagate: hand-computed synchronous rounds on two triangles") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // round 1: min-label ties everywhere → 1:2, 2:1, 3:1, 4:3, 5:4, 6:4
    val r1 = Graph.labelPropagate(edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L,
      6L -> 4L))
    // round 2: label 1 takes the left triangle, right side splits 4/3/3
    val r2 = Graph.labelPropagate(edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 3L,
      6L -> 3L))
  }

  test("hitsInt is invariant to input partitioning") {
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L))
      .toDF("src", "dst")
    val a = Graph.hitsInt(edges, 3).orderBy("id").collect().toSeq
    val b = Graph.hitsInt(edges.repartition(7), 3).orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("personalizedPageRankInt: mass drains from seeds; non-seed base 0") {
    // chain 1 -> 2 -> 3, seed {1}. outdeg(1)=outdeg(2)=1.
    // r0: 1e9, 0, 0
    // r1: 1:15e7, 2:(17*1e9)div20=85e7, 3:0
    // r2: 1:15e7, 2:(17*15e7)div20=127500000, 3:(17*85e7)div20=722500000
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val out = Graph.personalizedPageRankInt(edges, seeds, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 150000000L, 2L -> 127500000L,
      3L -> 722500000L))
    // all-nodes seed set with a symmetric pair degenerates to pageRankInt
    val sym = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val all = Seq(1L, 2L).toDF("id")
    val ppr = Graph.personalizedPageRankInt(sym, all, 3)
      .as[(Long, Long)].collect().toMap
    val pr = Graph.pageRankInt(sym, 3).as[(Long, Long)].collect().toMap
    assert(ppr == pr)
    // ... and on a directed random graph with sinks (nodes 20-24 only
    // receive edges), repartitioned: the drain-mode recurrences coincide.
    val rnd = new scala.util.Random(7)
    val dir = Seq.fill(80)((rnd.nextInt(20).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
      .repartition(5)
    val allNodes = dir.select($"src".as("id"))
      .union(dir.select($"dst".as("id"))).distinct()
    val pprAll = Graph.personalizedPageRankInt(dir, allNodes, 4)
      .as[(Long, Long)].collect().toMap
    assert(pprAll.keySet.exists(_ >= 20L))
    assert(pprAll == Graph.pageRankInt(dir, 4).as[(Long, Long)].collect().toMap)
  }

  test("hashWalk: deterministic, follows edges, dead ends terminate") {
    // 1 -> {2,3}; 2 -> 4; 3 -> 4; 4 has no out-edge
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.hashWalk(df, seeds, steps = 3, salt = "t")
        .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val walk = run(edges)
    // step 0 = seed; every hop follows an edge; walker dies at 4 (step 3
    // emits nothing), so the walk has exactly steps 0..2
    assert(walk.map(_._2) == Seq(0, 1, 2))
    assert(walk(0)._3 == 1L)
    assert(Set(2L, 3L).contains(walk(1)._3))
    assert(walk(2)._3 == 4L)
    // pure function of (graph, seeds, salt): partitioning-invariant
    assert(run(edges.repartition(7)) == walk)
    // a different salt may pick the other branch but still follows edges
    val alt = Graph.hashWalk(edges, seeds, 1, salt = "u")
      .filter($"step" === 1).as[(Long, Int, Long)].head()
    assert(Set(2L, 3L).contains(alt._3))
  }

  test("ssspRounds: hand-computed distances, bounded-hops contract") {
    // 1 -(1)-> 2 -(1)-> 3 -(1)-> 4, plus a heavy shortcut 1 -(10)-> 4.
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (1L, 4L, 10L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    def run(r: Int) = Graph.ssspRounds(edges, seeds, rounds = r)
      .as[(Long, Long)].collect().toMap
    // 1 round: only direct edges relax — 4 gets the heavy shortcut.
    assert(run(1) == Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
    // 2 rounds: 3 reached via 2; 4 still cheapest via the shortcut.
    assert(run(2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 10L))
    // 3 rounds: the 3-edge path 1-2-3-4 (cost 3) beats the shortcut.
    assert(run(3) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("property: ssspRounds == min-plus matrix power on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val n = 8
    val edgeGen = Gen.listOfN(14, for {
      s <- Gen.choose(0, n - 1); d <- Gen.choose(0, n - 1)
      w <- Gen.choose(1L, 9L)
    } yield (s.toLong, d.toLong, w))
    (1 to 5).foreach { trial =>
      val edges = edgeGen(Gen.Parameters.default, Seed(trial.toLong)).get
        .filter(e => e._1 != e._2).distinct
      val seeds = Seq(0L, 3L)
      // brute force: Bellman-Ford relaxations over the full edge list
      val INF = Long.MaxValue / 4
      val dist = Array.fill(n)(INF)
      seeds.foreach(s => dist(s.toInt) = 0L)
      (1 to 3).foreach { _ =>
        val snapshot = dist.clone()
        edges.foreach { case (s, d, w) =>
          if (snapshot(s.toInt) + w < dist(d.toInt))
            dist(d.toInt) = snapshot(s.toInt) + w
        }
      }
      val want = dist.zipWithIndex.collect {
        case (dd, i) if dd < INF => i.toLong -> dd
      }.toMap
      val got = Graph.ssspRounds(edges.toDF("src", "dst", "w"),
          seeds.toDF("id"), rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial: $edges")
    }
  }

  test("ssspRounds: multi-source takes the nearest seed, any partitioning") {
    // line 1 -(2)- 2 -(2)- 3 -(2)- 4 (both directions), seeds {1, 4}
    val und = Seq((1L, 2L, 2L), (2L, 3L, 2L), (3L, 4L, 2L))
    val edges = (und ++ und.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L, 4L).toDF("id")
    val want = Map(1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 0L)
    assert(Graph.ssspRounds(edges, seeds, 3)
      .as[(Long, Long)].collect().toMap == want)
    assert(Graph.ssspRounds(edges.repartition(7), seeds, 3)
      .as[(Long, Long)].collect().toMap == want)
  }


  test("linkPredict: hand case — cycle, exact cn/ra/pa, adjacents excluded") {
    // 4-cycle 1-2-3-4-1: the two diagonals are the only non-adjacent
    // pairs; each shares both of its endpoints' neighbors (cn=2), every
    // degree is 2 so ra = 2 * (1e9 div 2) = 1e9 and pa = 4.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    val out = Graph.linkPredict(pairs)
      .withColumn("pa", col("pa").cast("long")) // decimal(38,0) in the op
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 3L, 2L, 1000000000L, 4L),
      (2L, 4L, 2L, 1000000000L, 4L)))
  }

  test("linkPredict: maxDeg drops hub middles; star yields nothing under the cut") {
    // Star 9-{1,2,3}: every leaf pair is predicted through the hub
    // (cn=1, ra = 1e9 div 3); cutting maxDeg=2 removes the hub middle
    // and with it every wedge.
    val pairs = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst")
    val full = Graph.linkPredict(pairs)
      .withColumn("pa", col("pa").cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(full == Set((1L, 2L, 1L, 333333333L, 1L),
      (1L, 3L, 1L, 333333333L, 1L), (2L, 3L, 1L, 333333333L, 1L)))
    assert(Graph.linkPredict(pairs, maxDeg = 2).count() == 0L)
  }

  test("linkPredict: bit-identical under repartitioning (integer arithmetic)") {
    val li = spark.read.parquet(sf("lineitem"))
      .select($"l_orderkey", $"l_partkey")
    val pairs = li.as("a").join(li.as("b"), "l_orderkey")
      .filter($"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("src"), $"b.l_partkey".as("dst")).distinct()
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.linkPredict(df, minCommon = 2)
        .withColumn("pa", col("pa").cast("long"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val a = run(pairs.repartition(1))
    assert(a == run(pairs.repartition(7)))
    assert(a.nonEmpty)
  }

  test("modularityInt: two triangles with a bridge under the perfect partition") {
    // m = 7; e_c = 3 each; d_c = 7 each -> Q = 2*(3/7 - (7/14)^2) = 70/196.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("id", "label")
    val out = Graph.modularityInt(pairs, labels)
      .as[(Long, Long, Double)].head()
    assert(out._1 == 7L && out._2 == 2L)
    assert(out._3 == 70.0 / 196.0)
    // The everything-in-one-community partition scores exactly 0.
    val one = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 1L), (5L, 1L), (6L, 1L)).toDF("id", "label")
    assert(Graph.modularityInt(pairs, one)
      .as[(Long, Long, Double)].head()._3 == 0.0)
  }

  test("communityStats: hand-computed conductance on the bridged triangles") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("id", "label")
    // Each triangle: 3 nodes, e_in=3, vol=7, cut=1, phi = 1/min(7,7).
    val out = Graph.communityStats(pairs, labels)
      .as[(Long, Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 3L, 7L, 1L, Some(1.0 / 7.0))))
    assert(out(4L) == ((4L, 3L, 3L, 7L, 1L, Some(1.0 / 7.0))))
    // One community holding everything: cut 0, denominator 0 -> phi null.
    val one = (1L to 6L).map((_, 9L)).toDF("id", "label")
    val all = Graph.communityStats(pairs, one)
      .as[(Long, Long, Long, Long, Long, Option[Double])].head()
    assert(all._5 == 0L && all._6.isEmpty)
  }

  test("assortativity: a star is exactly -1; a regular cycle is null") {
    // Star 1-{2,3,4}: every edge joins deg 3 to deg 1 -> r = -1 exactly
    // (num = 6*18-144 = -36; den = sqrt(36)*sqrt(36) = 36).
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val out = Graph.assortativity(star)
      .as[(Long, Option[Double])].head()
    assert(out == ((6L, Some(-1.0))))
    // Degree-regular graph: zero degree variance -> null.
    val cycle = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.assortativity(cycle)
      .as[(Long, Option[Double])].head() == ((6L, None)))
  }

  test("landmarkHops: one labeled sweep equals per-landmark BFS") {
    // Undirected path 1-2-3-4-5, landmarks {1,5}.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val lms = Seq(1L, 5L).toDF("id")
    val got = Graph.landmarkHops(und, lms, maxHops = 4)
      .as[(Long, Long, Long)].collect().toSet
    val expect = (for {
      lm <- Seq(1L, 5L); n <- 1L to 5L
    } yield (n, lm, math.abs(n - lm))).toSet
    assert(got == expect)
    // Bounded: maxHops 1 keeps only self + direct neighbors.
    val b1 = Graph.landmarkHops(und, lms, maxHops = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(b1 == Set((1L, 1L, 0L), (2L, 1L, 1L), (5L, 5L, 0L), (4L, 5L, 1L)))
    // Random graph: each landmark's rows are bfsHops from it alone.
    val rnd = new scala.util.Random(11)
    val rg = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val lmIds = Seq(0L, 7L, 19L)
    val byLm = Graph.landmarkHops(rg, lmIds.toDF("id"), maxHops = 3)
      .as[(Long, Long, Long)].collect().toSeq.groupBy(_._2)
      .map { case (lm, rows) => lm -> rows.map(r => (r._1, r._3)).toSet }
    for (lm <- lmIds)
      assert(byLm(lm) == Graph.bfsHops(rg, Seq(lm).toDF("id"), maxHops = 3)
        .as[(Long, Long)].collect().toSet, s"landmark $lm")
  }

  test("closenessFromLandmarks: hand-computed sums; isolated landmark is null") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val lms = Seq(1L, 5L, 9L).toDF("id") // 9 has no edges
    val out = Graph.closenessFromLandmarks(und, lms, maxHops = 4)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // Node 3: both landmarks at hop 2 -> 2/4.
    assert(out(3L) == ((2L, 4L, Some(2.0 / 4.0))))
    // Node 1: itself (0) + landmark 5 at 4 -> 2/4.
    assert(out(1L) == ((2L, 4L, Some(2.0 / 4.0))))
    // Isolated landmark: only its own hop-0 row -> dist_sum 0, null.
    assert(out(9L) == ((1L, 0L, None)))
  }

  test("sccBounded: cycles fuse, bridges don't, singletons stand alone") {
    // 1→2→3→1 is one SCC; 3→4 is a one-way bridge; 4⇄5 is an SCC;
    // 6→1 leaves 6 a singleton.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (6L, 1L)).toDF("src", "dst")
    val got = Graph.sccBounded(e, maxNodes = 6)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got == Map(1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      4L -> ((4L, 2L)), 5L -> ((4L, 2L)), 6L -> ((6L, 1L))))
  }

  test("kTrussPeel: 4-clique survives a 3-truss, pendant triangle goes") {
    // K4 on {1,2,3,4}: every edge closes 2 triangles. A pendant
    // triangle {4,5,6} has support 1 per edge, and edge 6-7 closes
    // none. k=4 (support >= 2) keeps exactly the K4; a second round
    // re-proves it on the reduced graph.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val e = (k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)))
      .toDF("src", "dst")
    def run(d: org.apache.spark.sql.DataFrame, rounds: Int) =
      Graph.kTrussPeel(d, k = 4L, rounds = rounds)
        .as[(Long, Long, Long)].collect().toSet
    val expect = k4.map { case (a, b) => (a, b, 2L) }.toSet
    assert(run(e, 1) == expect)
    assert(run(e, 2) == expect)
    assert(run(e.repartition(5), 2) == expect)
    // Arbitrary orientation (and both directions present) canonicalizes
    // instead of dropping the reversed rows.
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    assert(run(rev, 1) == expect)
    assert(run(e.unionAll(rev), 1) == expect)
  }

  test("kTrussPeel: concurrent support jobs stay in the caller's job group") {
    // supportOf runs two driver jobs on pooled threads. A pooled thread
    // must not keep the job group of the call that created it: every job
    // of the second call carries the second call's group.
    val e = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("src", "dst")
    jobsOf("g1")(Graph.kTrussPeel(e, k = 4L, rounds = 2).collect())
    val second = jobsOf("g2")(Graph.kTrussPeel(e, k = 4L, rounds = 2).collect())
      .map(groupOf)
    assert(second.nonEmpty && second.forall(_ == "g2"), second)
  }

  test("job budget: one-round calls size their joins from pins, not counts") {
    // Each round's broadcast choice reads the row count of a pin the loop
    // already forces; a Dataset.count() would add a job (an extra
    // aggregate stage under AQE) per decision. Bounds, not exact counts:
    // AQE groups its map-stage jobs differently from run to run. The
    // budgets sit between the 7 / 8 / 7 / 15 jobs these calls run on this
    // graph at local[4] and the 14 / 15 / 10 / 21 that a count per
    // decision plus an edge shuffle per call costs.
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (4L, 6L), (5L, 6L), (6L, 7L), (7L, 8L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 8L).toDF("id")
    val calls = Seq[(String, Int, () => org.apache.spark.sql.DataFrame)](
      ("bfsHops", 9, () => Graph.bfsHops(edges, seeds, 1)),
      ("ssspRounds", 10, () => Graph.ssspRounds(
        edges.withColumn("w", $"src" + $"dst"), seeds, 1)),
      ("pageRankInt", 8, () => Graph.pageRankInt(edges, 1)),
      ("kTrussPeel", 17, () => Graph.kTrussPeel(
        edges.filter($"src" < $"dst"), 3L, 1)))
    val ran = calls.map { case (name, budget, call) =>
      val jobs = jobsOf(name)(call())
      info(s"$name: ${jobs.size} jobs (budget $budget)")
      (name, budget, jobs.size, jobs.flatMap(_.stageInfos.map(_.name)))
    }
    for ((name, budget, n, sites) <- ran) {
      assert(n <= budget, s"$name ran $n jobs: $sites")
      assert(!sites.exists(_.startsWith("count at Graph.scala")),
        s"$name counted a Dataset: $sites")
    }
  }

  test("bound 0 (every round takes the shuffle join) matches the default") {
    // The shuffle branch — including frontierHops' lazily src-partitioned
    // edge copy — only runs above 4M frontier/node rows, which no spec
    // reaches; bound 0 forces it on every round.
    val rnd = new scala.util.Random(5)
    val und = Seq.fill(70)((rnd.nextInt(24).toLong, rnd.nextInt(24).toLong))
      .filter { case (a, b) => a != b }
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val w = edges.withColumn("w", lit(1L) + ($"src" + $"dst") % 5)
    val seeds = Seq(0L, 7L, 19L).toDF("id")
    def same(name: String)(default: => org.apache.spark.sql.DataFrame,
                           shuffled: => org.apache.spark.sql.DataFrame) = {
      val a = default.collect().toSet
      assert(a.nonEmpty, name)
      assert(shuffled.collect().toSet == a, name)
    }
    same("bfs")(Graph.bfsHops(edges, seeds, 4),
      Graph.frontierHops(edges, seeds, Nil, 4, bound = 0L))
    same("landmark")(Graph.landmarkHops(edges, seeds, 4),
      Graph.frontierHops(edges, seeds, Seq("lm"), 4, bound = 0L))
    same("sssp")(Graph.ssspRounds(w, seeds, 4),
      Graph.ssspRounds(w, seeds, 4, 0L))
    same("pagerank")(Graph.pageRankInt(edges, 3),
      Graph.pageRankInt(edges, 3, 1000000000L, false, 0L))
    same("pagerank dangling")(Graph.pageRankInt(und.toDF("src", "dst"), 3,
        dangling = true),
      Graph.pageRankInt(und.toDF("src", "dst"), 3, 1000000000L, true, 0L))
    same("ppr")(Graph.personalizedPageRankInt(edges, seeds, 3),
      Graph.personalizedPageRankInt(edges, seeds, 3, 1000000000L, 0L))
    same("ktruss")(Graph.kTrussPeel(edges, 3L, 3),
      Graph.kTrussPeel(edges, 3L, 3, 0L))
  }

  test("degreeHistogram: star graph — hub degree n, leaves degree 1") {
    // Undirected star 0-{1,2,3}: hub degree 3, three leaves degree 1.
    // Endpoint mass m = 6: degree 1 share 3/6, degree 3 share 3/6.
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    def run(d: org.apache.spark.sql.DataFrame) =
      Graph.degreeHistogram(d).as[(Long, Long, Double)].collect().toSet
    val got = run(e)
    assert(got == Set((1L, 3L, 0.5), (3L, 1L, 0.5)))
    assert(got == run(e.repartition(5)))
  }

  test("sccBounded: long cycle needs every doubling round; order-invariant") {
    // A single directed 8-cycle: one SCC of size 8 (diameter 7 forces
    // the full ceil(log2 n) doubling schedule to matter).
    val cyc = (0L until 8L).map(i => (i + 10L, (i + 1) % 8 + 10L))
    def run(d: org.apache.spark.sql.DataFrame) =
      Graph.sccBounded(d, maxNodes = 8)
        .as[(Long, Long, Long)].collect().toSet
    val a = run(cyc.toDF("src", "dst"))
    assert(a == (10L until 18L).map(i => (i, 10L, 8L)).toSet)
    assert(a == run(cyc.toDF("src", "dst").repartition(5)))
  }
}
