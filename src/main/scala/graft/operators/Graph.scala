package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint
import Exact.dec

/** Iterative graph ranking over an edge list — the authority-weighting
  * signal web-corpus curation pipelines attach to documents (rank a page's
  * domain by the link graph, weight its documents accordingly). Companion
  * to [[Dedup.resolveClusters]]: same shuffle-parallel joins-and-aggregate
  * iteration shape, different fixpoint.
  */
object Graph {

  /** Row bound under which an iterative operator's per-round frontier (or
    * settled set) is broadcast instead of shuffle-joined against the
    * src-partitioned edge list. 4M rows of 1-3 longs ≈ 32-100 MB as a
    * built hash relation — comfortably inside any realistic executor and
    * far under Spark's 8 GB / 512M-row broadcast cap, while covering the
    * frontier sizes bounded-hop traversals actually see (frontiers track
    * the reached set, not the edge list). Above the bound the plan falls
    * back to the shuffle join the operators always used; semantics are
    * identical either way — only the join strategy moves. The loops take
    * it as a parameter so specs can force the shuffle branch on small
    * graphs.
    */
  private val frontierBroadcastMaxRows = 1L << 22

  /** Multi-source BFS: minimum hop distance from any seed node, bounded at
    * `maxHops`. Classic frontier expansion — per round, one equijoin of the
    * edge list with the (shrinking) frontier plus an anti join against the
    * settled set, so each node is expanded exactly once no matter how many
    * paths reach it. That per-node-once guarantee is what separates this
    * from path enumeration (a recursive-CTE oracle explores every path and
    * must dedup after; on a dense graph that's combinatorial — the frontier
    * form is the one that scales).
    *
    * Scale posture: round cost is one shuffle join keyed on node id; state
    * is the settled (id, hop) table, persisted and grown by union — never
    * collected. Hop levels are data-independent, so results are
    * deterministic under any partitioning.
    *
    * @param edges   directed (src, dst) long columns; pass both directions
    *                for an undirected graph
    * @param sources seed nodes, column `id` (hop 0)
    * @param maxHops frontier rounds to run (result hops ≤ maxHops)
    * @return (id, hop) — minimum hops from the nearest seed; nodes
    *         unreached within `maxHops` are absent
    */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int)
      : DataFrame = frontierHops(edges, sources, Nil, maxHops)

  /** The frontier loop [[bfsHops]] and [[landmarkHops]] share: every
    * distinct `sources` id is a hop-0 seed carrying itself in each of
    * `labels`, and a node is settled once per distinct label tuple —
    * `Nil` for plain BFS, `Seq("lm")` for the landmark sweep. A labeled
    * frontier is (node × label)-bounded, still far under the edge list.
    */
  private[operators] def frontierHops(edges: DataFrame, sources: DataFrame,
      labels: Seq[String], maxHops: Int,
      bound: Long = frontierBroadcastMaxRows): DataFrame =
      FreshCheckpoint.rounds { r =>
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edgeOperand(r, edges, bound)
    val seeds = sources.select(col("id").cast("long").as("id")).distinct()
      .select(col("id") +: labels.map(col("id").as(_)) :+ lit(0L).as("hop"): _*)
    frontierLoop(r, seeds, maxHops) { (h, frontier, dist, distRows) =>
      val reached = e(frontier.rows).join(broadcastUnder(frontier.rows, bound,
          frontier.df.withColumnRenamed("id", "src").select("src", labels: _*)),
          "src")
        .select(col("dst").as("id") +: labels.map(col): _*).distinct()
      // The settled set rides the same bound on the anti-join side.
      reached
        .join(broadcastUnder(distRows, bound, dist.select("id", labels: _*)),
          "id" +: labels, "left_anti")
        .select(col("id") +: labels.map(col) :+ lit(h.toLong).as("hop"): _*)
    }(_.unionByName(_))
  }

  /** The round driver of the frontier loops ([[frontierHops]],
    * [[ssspRounds]]). `seeds` is round 0's frontier and settled table;
    * `next(h, frontier, settled, seen)` is round h's frontier, lazy, from
    * the previous round's pinned frontier, the settled table and `seen`
    * (the rows of every frontier so far — the settled table's size when
    * frontiers are disjoint, as in BFS); `settle` folds a frontier into
    * the settled table.
    *
    * Frontiers are usually TINY next to the edge list (seeds, then the
    * reached set), but a frontier join planned as a sort-merge join
    * re-sorts the edge partitions every round — a per-round cost
    * proportional to the graph, not the frontier. So each round's join
    * strategy is chosen from a row count the loop already holds: every
    * round but the last PINS its frontier, and the pin's forcing count is
    * the next round's frontier size. That buys a broadcast hash join
    * under the bound (the edge side then streams out of the cache probing
    * the frontier hash table, never sorted or shuffled) and an early exit
    * when a frontier comes back empty (later rounds are no-ops by
    * construction). Nothing reads the last round's size, so its frontier
    * stays lazy and only the settled table is pinned: `rounds` rounds
    * cost at most `rounds` + 1 pins and no count job. In durable mode
    * (`graft.checkpoint.dir`) each pinned frontier is one node-sized
    * checkpoint write.
    */
  private def frontierLoop(r: FreshCheckpoint.Rounds, seeds: DataFrame,
      rounds: Int)(next: (Int, FreshCheckpoint.Pinned, DataFrame, Long) =>
      DataFrame)(settle: (DataFrame, DataFrame) => DataFrame)
      : FreshCheckpoint.Pinned = {
    var frontier = r.pin(seeds)
    var settled = frontier.df
    var seen = frontier.rows
    var h = 1
    while (h < rounds && frontier.rows > 0) {
      frontier = r.pin(next(h, frontier, settled, seen))
      settled = r.persist(settle(settled, frontier.df))
      seen += frontier.rows
      h += 1
    }
    r.pin(if (h <= rounds && frontier.rows > 0)
      settle(settled, next(h, frontier, settled, seen)) else settled)
  }

  /** Loop-invariant edge operand of the frontier loops, long-cast and
    * persisted (the caller's edge derivation — often a co-purchase
    * self-join — must not re-run per round). The result maps a round's
    * frontier size to the edge table it joins: the plain list when the
    * frontier is broadcast (under `bound`), else a copy PRE-PARTITIONED on
    * src, the join key, whose cached partitioning satisfies the edge-side
    * Exchange of every shuffle round so only the frontier shuffles. The
    * copy is built on the first shuffle round — a loop whose frontiers
    * all stay under the bound never shuffles the edge list.
    */
  private def edgeOperand(r: FreshCheckpoint.Rounds, edges: DataFrame,
                          bound: Long, extra: String*): Long => DataFrame = {
    val plain = r.persist(longEdges(edges, extra: _*))
    lazy val bySrc = r.persist(plain.repartition(col("src")))
    rows => if (rows <= bound) plain else bySrc
  }

  /** `df` with a broadcast hint when its `rows` are under `bound`
    * ([[frontierBroadcastMaxRows]] outside specs); above it, the shuffle
    * join stands.
    */
  private def broadcastUnder(rows: Long, bound: Long,
                             df: DataFrame): DataFrame =
    if (rows <= bound) broadcast(df) else df

  /** (src, dst, extra...) with every column cast to long. */
  private def longEdges(edges: DataFrame, extra: String*): DataFrame =
    edges.select(
      ("src" +: "dst" +: extra).map(c => col(c).cast("long").as(c)): _*)

  /** Every node id on an edge of `e`, once. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct()

  /** Landmark hop distances: [[bfsHops]] run per landmark IN ONE SWEEP —
    * the frontier carries the landmark label, so k landmark BFSs cost one
    * sequence of joins over a state table of (node, landmark) pairs
    * instead of k separate traversals. The classic landmark/sketch
    * primitive: the output table is the embedding that answers
    * approximate point-to-point distance queries (d(u,v) <= min over lm
    * of hop(u,lm)+hop(v,lm)) and feeds [[closenessFromLandmarks]].
    *
    * Scale posture: per round one equijoin of the edge list with the
    * labeled frontier + a distinct + an anti join against the settled
    * (id, lm) table — all keyed shuffles; state is O(nodes × landmarks)
    * rows, persisted, never collected. Landmark count is the caller's
    * budget knob exactly as in the literature.
    *
    * @return (id, lm, hop) — min hops from landmark `lm`, hop <= maxHops;
    *         unreached (id, lm) pairs absent
    */
  def landmarkHops(edges: DataFrame, landmarks: DataFrame,
                   maxHops: Int): DataFrame =
    frontierHops(edges, landmarks, Seq("lm"), maxHops)

  /** Bounded-radius closeness centrality against a landmark set: per
    * node, how many landmarks reach it within `maxHops` and at what total
    * distance — `closeness = n_lm / dist_sum` (one IEEE division over two
    * exact longs; landmark self-rows at hop 0 contribute count but no
    * distance, matching the classic convention of excluding d(v,v)).
    * Sampling landmarks IS the standard estimator for exact closeness
    * (Eppstein–Wang): at 100 TB nobody runs n BFSs — k landmark sweeps
    * give a bounded-error estimate, and this operator is that estimator
    * with the landmark set made explicit.
    *
    * Nodes no landmark reaches are absent; nodes only reached at distance
    * 0 (an isolated landmark) report closeness null rather than divide by
    * zero.
    */
  def closenessFromLandmarks(edges: DataFrame, landmarks: DataFrame,
                             maxHops: Int): DataFrame =
    landmarkHops(edges, landmarks, maxHops)
      .groupBy("id")
      .agg(count(lit(1)).as("n_lm"), sum(col("hop")).as("dist_sum"))
      .withColumn("closeness",
        when(col("dist_sum") > 0,
          col("n_lm").cast("double") / col("dist_sum").cast("double")))

  /** Weighted single/multi-source shortest paths — synchronous
    * Bellman-Ford rounds with frontier pruning. Per round, only nodes whose
    * distance IMPROVED last round relax their out-edges (the delta-stepping
    * insight without the bucket machinery): one equijoin of the edge list
    * with the frontier, a per-node `min` of the candidate distances, then a
    * keep-if-better join against the settled table. After `rounds` rounds
    * the result is exactly `min` over all paths of ≤ `rounds` edges — the
    * bounded-hops contract that makes the operator gate-able against a
    * path-enumerating oracle.
    *
    * Scale posture: round cost is one shuffle join keyed on node id plus
    * one aggregation; the frontier SHRINKS as distances settle (on a graph
    * with diameter d, round d+1 relaxes nothing), and state is the
    * (id, dist) table — persisted, never collected. All-long arithmetic:
    * deterministic under any partitioning, no FP accumulation order to
    * worry about. Overflow headroom: max path weight must stay under 2^63.
    *
    * @param edges   directed (src, dst, w) columns, w a non-negative long;
    *                pass both directions for an undirected graph
    * @param sources seed nodes, column `id` (distance 0)
    * @param rounds  relaxation rounds (result = min over ≤ rounds edges)
    * @return (id, dist) — nodes unreached within `rounds` are absent
    */
  def ssspRounds(edges: DataFrame, sources: DataFrame,
                 rounds: Int): DataFrame =
    ssspRounds(edges, sources, rounds, frontierBroadcastMaxRows)

  /** [[ssspRounds]] with the frontier broadcast bound as a parameter. */
  private[operators] def ssspRounds(edges: DataFrame, sources: DataFrame,
      rounds: Int, bound: Long): DataFrame = FreshCheckpoint.rounds { rs =>
    require(rounds >= 0, "rounds must be >= 0")
    val e = edgeOperand(rs, edges, bound, "w")
    val seeds = sources.select(col("id").cast("long").as("id"),
      lit(0L).as("dist")).distinct()
    // Same round driver as frontierHops: the improved-last-round frontier
    // SHRINKS as distances settle, so the relaxation join should never pay
    // a per-round sort of the full edge list for it. Only the edge join
    // branches; the keep-if-better and full-outer merge joins are
    // node-sized on both sides and keep their shuffle plans.
    frontierLoop(rs, seeds, rounds) { (_, frontier, dist, _) =>
      e(frontier.rows).join(broadcastUnder(frontier.rows, bound,
          frontier.df.withColumnRenamed("id", "src")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("dist") + col("w")).as("cand"))
        .join(dist, Seq("id"), "left_outer")
        .filter(col("dist").isNull || col("cand") < col("dist"))
        .select(col("id"), col("cand").as("dist"))
    } { (dist, improved) =>
      dist.join(improved.select(col("id"), col("dist").as("nd")),
          Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("nd"), col("dist")).as("dist"))
    }
  }

  /** Hash-driven "random" walks — the DeepWalk/node2vec corpus primitive,
    * made exactly reproducible: at step t, walker w moves to the out-
    * neighbor minimizing md5(salt:w:t:neighbor). The hash plays the RNG
    * (uniform over neighbors, independent across steps and walkers), but
    * the walk is a pure function of (graph, seeds, salt) — so walk corpora
    * are regenerable byte-identically on any cluster, and an oracle can
    * replay them. Walkers at a node with no out-edge terminate.
    *
    * Scale posture: one edge equijoin per step keyed on the current node
    * plus an arg-min per walker (WindowGroupLimit partial top-1 — never a
    * full sort); state is one row per live walker. Steps are bounded and
    * data-independent. No driver-side anything.
    *
    * @return (walker, step, node) — step 0 is the seed itself
    */
  def hashWalk(edges: DataFrame, seeds: DataFrame, steps: Int,
               salt: String): DataFrame = {
    require(steps >= 0, "steps must be >= 0")
    val e = longEdges(edges)
    var state = seeds.select(col("id").cast("long").as("walker"),
      col("id").cast("long").as("cur")).distinct()
    var out = state.select(col("walker"), lit(0).as("step"),
      col("cur").as("node"))
    for (t <- 1 to steps) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("walker").orderBy("h", "dst")
      state = state.join(e, state("cur") === e("src"))
        .withColumn("h", md5(concat_ws(":", lit(salt), col("walker"),
          lit(t), col("dst"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("walker"), col("dst").as("cur"))
      out = out.unionByName(state.select(col("walker"), lit(t).as("step"),
        col("cur").as("node")))
    }
    out
  }

  /** Per-node triangle participation counts over an undirected graph.
    *
    * Input is the canonical unique-pair form (src < dst, one row per
    * undirected edge). Triangles are enumerated once each as ordered
    * id-triples a < b < c: wedges (a→b→c) come from the pair list joined
    * with itself on the middle node, then a third join against the pair
    * list closes the a—c side. Each corner of every closed triangle is
    * exploded out and counted per node.
    *
    * Scale posture: one hash-shuffle wedge join plus one aggregation —
    * no cross join, no adjacency list collected anywhere — and the
    * m^(3/2)-bounded candidate wedge stream is Bloom-filtered against
    * the edge-set sketch INSIDE the join pipeline, so only ~|triangles|
    * rows (plus ~1% false positives, discarded by the exact closing
    * join) ever reach an exchange. The id-ordering (a < b < c) both
    * deduplicates (each triangle counted exactly once, not 6×) and
    * bounds the wedge fan-out to "higher neighbors". At 100 TB-class
    * graphs the same plan holds (the sketch is bit-capped with
    * gracefully degrading fpp); a degree-ordered relabeling tightens
    * the candidate bound further and composes unchanged.
    *
    * @param pairs undirected unique pairs: (src, dst) long columns with
    *              src < dst per row
    * @return (id, triangles) for every node on at least one triangle
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.BloomOps
    val p = longEdges(pairs)
    // The closure side never meets the wedge stream in an exchange:
    // candidate wedges are m^(3/2)-many while closed triangles are
    // typically ~|edges|-many, so shuffling + sorting wedges for the
    // closing join dominates everything (probed on the k-truss sibling:
    // ~80% of the sf1 wall time). A Bloom sketch of the edge set — built
    // eagerly here with two extra passes over the (lazy) input, and
    // exact-verified by the closing join, so false positives only cost a
    // few extra probe rows — filters the wedge stream inside the join's
    // output pipeline instead.
    val m = p.count()
    val sketch = p.agg(BloomOps.bloomAgg(struct(col("src"), col("dst")),
        math.max(m, 1L), 0.01).as("bf")).head().getAs[Array[Byte]]("bf")
    val wedges = p.select(col("src").as("a"), col("dst").as("b"))
      .join(p.select(col("src").as("b"), col("dst").as("c")), "b")
    val tri = wedges
      .filter(BloomOps.mightContain(lit(sketch), struct(col("a"), col("c"))))
      .join(p.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
  }

  /** Bounded k-core peeling over an undirected unique-pair edge list
    * (src < dst): each round recomputes degrees over the surviving edge
    * set and removes every node below `k`, cascading — the standard
    * densest-subgraph / spam-farm / community-core filter. `rounds` bounds
    * the cascade depth explicitly (a fixpoint wrapper composes the way
    * resolveClusters' does); rounds past convergence are no-ops.
    *
    * Scale posture: a round is one degree aggregation (map-side partials
    * on node id) plus two semi joins of the edge list against the
    * (node-sized) keep set — all hash-shuffles keyed on node id, nothing
    * driver-side but the loop counter. Each round's survivor edge set is
    * persisted and strictly shrinks; peeling is deterministic under any
    * partitioning (degree thresholds are data-independent of order).
    *
    * @return survivors of round `rounds`' threshold test: (id, degree),
    *         degree counted over the edge set that test saw (i.e. after
    *         `rounds` − 1 cascades of removals)
    */
  def kCorePeel(pairs: DataFrame, k: Long, rounds: Int): DataFrame =
      FreshCheckpoint.rounds { rs =>
    require(rounds >= 1, "rounds must be >= 1")
    var e = rs.persist(longEdges(pairs))
    var keep: DataFrame = null
    for (r <- 1 to rounds) {
      keep = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .filter(col("degree") >= k)
      if (r < rounds) {
        e = rs.persist(
          e.join(keep.select(col("id").as("src")), "src", "left_semi")
            .join(keep.select(col("id").as("dst")), "dst", "left_semi")
            .select("src", "dst"))
      }
    }
    rs.pin(keep)
  }

  /** Integer-exact PageRank, damping 17/20, rank scaled by `scale`.
    *
    * Dangling (sink) mass: with `dangling = false` (the default) the rank
    * flowing into sink nodes simply drains each iteration — the exact
    * recurrence the gate's oracle replays, and a documented deviation
    * from canonical PageRank. With `dangling = true` the standard
    * redistribution runs in the same exact-integer arithmetic:
    * {{{ rank'(v) = 3·scale div 20
    *              + (17 · (inflow(v) + S div n)) div 20 }}}
    * where S = Σ rank over sinks and n = |nodes| — each node receives an
    * equal integral share of the drained mass, so total mass is conserved
    * up to floor-division remainders and the statistic still hash-gates.
    *
    * Scale posture: the sinks are the node table's out-degree-0 rows;
    * per iteration S is a ONE-ROW aggregate crossed in as a broadcast —
    * no driver-side collect, no extra data-sized shuffle. Overflow
    * envelope: S ≤ n·scale, so longs hold to n ≈ 9e9 nodes at the default
    * scale — beyond that pass a smaller `scale`.
    */
  def pageRankInt(edges: DataFrame, iters: Int,
                  scale: Long = 1000000000L,
                  dangling: Boolean = false): DataFrame =
    pageRankInt(edges, iters, scale, dangling, frontierBroadcastMaxRows)

  /** [[pageRankInt]] with the rank broadcast bound as a parameter. */
  private[operators] def pageRankInt(edges: DataFrame, iters: Int,
      scale: Long, dangling: Boolean, bound: Long): DataFrame = {
    val base = (3L * scale) / 20L
    if (!dangling)
      rankRecurrence(edges, iters, identity, lit(scale), lit(base), bound)
    else FreshCheckpoint.rounds { r =>
      require(iters >= 1, "iters must be >= 1")
      val e = longEdges(edges)
      // n is needed only as a literal divisor for the dangling share; the
      // node table's pin counts it.
      val nodes = r.pin(outDegrees(e))
      val inflow = rankFlow(r, e, nodes, bound)
      // Each iteration's ranks are read TWICE (inflow + sink sum): left
      // lazy, the plan tree would double per iteration — pin each round
      // eagerly and retire its predecessor, so one round stays live.
      // FreshCheckpoint, not Dataset.localCheckpoint: the latter carries
      // the origin plan's statistics into each round's LogicalRDD, and a
      // loop that reads its own checkpoint twice per iteration grows the
      // stat multiplicatively — see FreshCheckpoint's scaladoc for the
      // measured pointer-jump blowup this prevents.
      var ranks = nodes.df.withColumn("rnk", lit(scale))
      var live: FreshCheckpoint.Pinned = null
      for (_ <- 1 to iters) {
        val sRow = ranks.filter(col("outdeg") === 0L)
          .agg(coalesce(sum("rnk"), lit(0L)).as("__s"))
        val next = r.pin(nodes.df.join(inflow(ranks), Seq("id"), "left")
          .crossJoin(broadcast(sRow))
          .select(col("id"), col("outdeg"),
            (lit(base) + expr("(17 * (coalesce(inflow, 0) " +
              s"+ __s div CAST(${nodes.rows} AS BIGINT))) div 20")).as("rnk")))
        if (live != null) r.release(live)
        live = next
        ranks = next.df
      }
      live
    }
  }.select(col("id"), col("rnk").as("rank"))

  /** Every node on an edge of `e` once, with its out-degree (0 for a
    * sink) — one aggregate.
    */
  private def outDegrees(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("src").as("id"), lit(1L).as("o")),
        struct(col("dst").as("id"), lit(0L).as("o")))).as("__n"))
      .groupBy(col("__n.id").as("id")).agg(sum(col("__n.o")).as("outdeg"))

  /** The rank recurrence's per-iteration step over the pinned node table
    * `nodes` ([[outDegrees]] plus any columns the caller added):
    * `inflow(ranks)` is, per node, Σ over in-edges u→v of rank(u) div
    * outdeg(u), for a rank table (id, outdeg, rnk) over `nodes`. The rank
    * and inflow tables are node-sized, so under `bound` both are
    * broadcast and the edge list — persisted, since every iteration reads
    * it — streams through the rank join without a shuffle. Above it the
    * persisted edges are PRE-PARTITIONED on src (the rank join key) so
    * only the rank table shuffles per iteration. `rnk` internally: `rank`
    * is a window-function name to the SQL parser inside expr(), and `div`
    * has no Column-API operator.
    */
  private def rankFlow(r: FreshCheckpoint.Rounds, e: DataFrame,
                       nodes: FreshCheckpoint.Pinned,
                       bound: Long): DataFrame => DataFrame = {
    def under(df: DataFrame) = broadcastUnder(nodes.rows, bound, df)
    val ew = r.persist(
      if (nodes.rows <= bound) e else e.repartition(col("src")))
    ranks => under(ew.join(under(ranks.select(col("id").as("src"),
        col("outdeg"), col("rnk"))), "src")
      .select(col("dst").as("id"), expr("rnk div outdeg").as("c"))
      .groupBy("id").agg(sum("c").as("inflow")))
  }

  /** The drain-mode recurrence [[pageRankInt]] and
    * [[personalizedPageRankInt]] share. `nodeTable` adds the columns the
    * ranks ride to the (id, outdeg) node table; `init` (the starting
    * rank) and `teleport` (each iteration's `teleport + (17 · inflow) div
    * 20`) may read them. The node table is pinned, not persisted: its
    * forcing count sizes the rank joins. Output: (id, rnk).
    */
  private def rankRecurrence(edges: DataFrame, iters: Int,
                             nodeTable: DataFrame => DataFrame,
                             init: Column, teleport: Column,
                             bound: Long): DataFrame =
      FreshCheckpoint.rounds { r =>
    require(iters >= 1, "iters must be >= 1")
    val e = longEdges(edges)
    val nodes = r.pin(nodeTable(outDegrees(e)))
    val inflow = rankFlow(r, e, nodes, bound)
    val rnk = (teleport + expr("(17 * coalesce(inflow, 0)) div 20")).as("rnk")
    var ranks = nodes.df.withColumn("rnk", init)
    for (_ <- 1 to iters)
      ranks = nodes.df.join(inflow(ranks), Seq("id"), "left")
        .select(nodes.df.columns.toSeq.map(col) :+ rnk: _*)
    r.pin(ranks.select("id", "rnk"))
  }

  /** Personalized PageRank in the same pure-integer arithmetic as
    * [[pageRankInt]], with teleportation restricted to a SEED set — "rank
    * relative to these nodes", the relevance/recommendation variant
    * (seeds = a user's items, trusted domains, a topic's documents).
    * Recurrence per iteration, damping 17/20:
    * {{{ rank'(v) = [v ∈ S]·(3·scale div 20)
    *              + (17 · Σ over in-edges u→v of (rank(u) div outdeg(u))) div 20 }}}
    * starting from rank = scale on seeds, 0 elsewhere. Mass drains toward
    * the seeds' neighborhoods; far nodes stay at 0 — exact, so the result
    * hash-gates like the global variant.
    *
    * Scale posture: identical to pageRankInt — per iteration one edge/rank
    * equijoin + one aggregation, edge list persisted across iterations;
    * out-degree and the seed flag ride the node table, nothing
    * driver-side.
    */
  def personalizedPageRankInt(edges: DataFrame, seeds: DataFrame, iters: Int,
                              scale: Long = 1000000000L): DataFrame =
    personalizedPageRankInt(edges, seeds, iters, scale,
      frontierBroadcastMaxRows)

  /** [[personalizedPageRankInt]] with the rank broadcast bound as a
    * parameter.
    */
  private[operators] def personalizedPageRankInt(edges: DataFrame,
      seeds: DataFrame, iters: Int, scale: Long, bound: Long): DataFrame =
    rankRecurrence(edges, iters,
      _.join(seeds.select(col("id").cast("long").as("id"))
          .distinct().withColumn("is_seed", lit(1L)), Seq("id"), "left")
        .withColumn("is_seed", coalesce(col("is_seed"), lit(0L))),
      col("is_seed") * scale, col("is_seed") * ((3L * scale) / 20L), bound)
      .select(col("id"), col("rnk").as("rank"))

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each round it adopts the label most
    * frequent among its neighbors, ties broken by the SMALLEST label —
    * counts and the tie order are integers, so every round is fully
    * deterministic (classic async LPA is run-order-dependent; this is
    * the reproducible variant a data platform can gate). A node with no
    * in-edges keeps its previous label. Bounded rounds, like
    * [[kCorePeel]]: communities form in O(diameter) rounds and the gate
    * pins an exact intermediate state.
    *
    * Pass a symmetrized edge list for undirected semantics.
    *
    * Scale posture: per round, one edge equijoin shuffling on src, one
    * (dst, label) count aggregate with map-side partials, and one
    * per-node top-1 — WindowGroupLimit keeps the window partial. Label
    * state is one row per node; nothing collects.
    *
    * Output: (id, label).
    */
  def labelPropagate(edges: DataFrame, rounds: Int): DataFrame =
      FreshCheckpoint.rounds { r =>
    require(rounds >= 1, "rounds must be >= 1")
    val e = r.persist(longEdges(edges))
    val nodes = nodesOf(e)
    var lab = nodes.select(col("id"), col("id").as("label"))
    for (_ <- 1 to rounds) {
      val nb = e.join(lab.withColumnRenamed("id", "src"), "src")
        .groupBy("dst", "label").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dst").orderBy(col("c").desc, col("label"))
      val top = nb.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("id"), col("label").as("newlab"))
      lab = lab.join(top, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("newlab"), col("label")).as("label"))
    }
    r.pin(lab)
  }

  /** HITS hubs/authorities (Kleinberg) on a DIRECTED edge list, in exact
    * integer arithmetic: scores live on a fixed-point grid of `scale`,
    * each half-step max-normalizes back to `scale` with an integral
    * division — long sums and `div` are order-free and engine-exact, so
    * the scores themselves gate, like [[pageRankInt]]'s. (Classic HITS
    * L2-normalizes; max-normalization is the standard rational-arithmetic
    * variant — same fixpoint direction, no sqrt.)
    *
    * Sparse semantics: a node outside the round's support (no in-edges
    * for auth, no out-edges for hub) contributes 0 and reports 0.
    *
    * Scale posture: per iteration, two edge-list equijoins + two long-sum
    * aggregates, both shuffling on node id only; the normalizer is a
    * one-row broadcast. Overflow envelope: max weighted degree × scale²
    * must stay < 2^63 — at the default scale=10^6 that allows ~9×10^6
    * weighted in-degree, far past any real web/co-occurrence graph after
    * dedup.
    *
    * Output: (id, hub, auth) over all nodes.
    */
  def hitsInt(edges: DataFrame, iters: Int,
              scale: Long = 1000000L): DataFrame = FreshCheckpoint.rounds { r =>
    require(iters >= 1, "iters must be >= 1")
    val e = r.persist(longEdges(edges))
    val nodes = r.persist(nodesOf(e))
    var h = nodes.select(col("id"), lit(scale).as("h"))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val ap = e.join(h.withColumnRenamed("id", "src"), "src")
        .groupBy("dst").agg(sum("h").as("ap"))
        .withColumnRenamed("dst", "id")
      val am = ap.agg(max("ap").as("am"))
      a = ap.crossJoin(broadcast(am))
        .select(col("id"), expr(s"(ap * ${scale}L) div am").as("a"))
      val hp = e.join(a.withColumnRenamed("id", "dst"), "dst")
        .groupBy("src").agg(sum("a").as("hp"))
        .withColumnRenamed("src", "id")
      val hm = hp.agg(max("hp").as("hm"))
      h = hp.crossJoin(broadcast(hm))
        .select(col("id"), expr(s"(hp * ${scale}L) div hm").as("h"))
    }
    r.pin(nodes.join(h, Seq("id"), "left").join(a, Seq("id"), "left")
      .select(col("id"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth")))
  }

  /** Degree assortativity over an undirected unique-pair edge list —
    * Newman's r: the Pearson correlation of the degrees at the two ends
    * of every edge (each undirected edge contributes both directions,
    * the standard convention). r > 0 = hubs link to hubs (social
    * graphs), r < 0 = hubs link to leaves (web/co-occurrence graphs) —
    * the one-number structure diagnostic that predicts how skew-prone
    * joins over the edge list will be.
    *
    * Gate-exact: degrees are integers, so the five sums (Σj, Σk, Σjk,
    * Σj², Σk² over M directed edges) are exact DECIMAL(38,0)
    * accumulations, and r is one fixed-shape IEEE expression
    * {{{ (M·Σjk − Σj·Σk) / (√(M·Σj² − (Σj)²) · √(M·Σk² − (Σk)²)) }}}
    * — no FP accumulation, the [[modularityInt]] discipline.
    *
    * Scale posture: one degree aggregate + two node-keyed joins to
    * attach endpoint degrees + one scalar aggregate. Null for
    * degree-regular graphs (zero variance).
    *
    * @return one row: (m_directed, r)
    */
  def assortativity(pairs: DataFrame): DataFrame = {
    val p = longEdges(pairs)
    val eg = p.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = eg.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val agg = eg
      .join(deg.select(col("id").as("src"), col("d").as("dj")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("dk")), "dst")
      .agg(count(lit(1)).as("m"),
        sum(dec(col("dj"))).as("sj"), sum(dec(col("dk"))).as("sk"),
        sum(dec(col("dj")) * dec(col("dk"))).as("sjk"),
        sum(dec(col("dj")) * dec(col("dj"))).as("sjj"),
        sum(dec(col("dk")) * dec(col("dk"))).as("skk"))
    agg.select(col("m"), Exact.pearson(col("m"), col("sj"), col("sk"),
      col("sjj"), col("skk"), col("sjk")).as("r"))
  }

  /** Link prediction over an undirected unique-pair edge list (src < dst):
    * for every NON-adjacent node pair (u, v) sharing at least `minCommon`
    * neighbors, the three classic topological scores —
    *
    *  - `cn`  common-neighbor count |N(u) ∩ N(v)|;
    *  - `ra`  resource-allocation index Σ_{z ∈ N(u)∩N(v)} 1/deg(z), in
    *    exact scaled-integer form Σ (raScale div deg(z)) — the
    *    floor-division sum is order-independent, so the normally
    *    FP-order-fragile RA score hash-gates (same fixed-point discipline
    *    as [[pageRankInt]]);
    *  - `pa`  preferential attachment deg(u)·deg(v).
    *
    * All three are integers; ranking (cn desc, ra desc) is the standard
    * "suggest missing edges" ordering (Liben-Nowell & Kleinberg, CIKM'03).
    *
    * Scale posture: wedges are enumerated through the middle node z — two
    * hash equijoins on z, never a cross join — so candidate volume is
    * Σ_z deg(z)², the same compact-forward bound the triangle counter
    * rides. `maxDeg` (0 = off) drops hub middles above the degree cut
    * from wedge generation: at web scale Σdeg² is dominated by a few
    * hubs whose 1/deg contribution is ~0 anyway — the standard lossy cut,
    * applied to candidate generation only. The adjacency anti-join and
    * degree joins are node-table-sized.
    *
    * @param pairs undirected unique pairs (src, dst), src < dst
    * @return (u, v, cn, ra, pa) with u < v, (u,v) not an edge, cn >= minCommon
    */
  /** Newman modularity of a node partition over an undirected unique-pair
    * edge list (src < dst) — the community-quality score that turns
    * [[labelPropagate]] from "it produced labels" into "the labels are
    * better than chance". Modularity is RATIONAL in edge counts:
    * {{{ Q = Σ_c (e_c/m − (d_c/2m)²)
    *       = [Σ_c (4·m·e_c − d_c²)] / (4·m²) }}}
    * with e_c = edges inside community c, d_c = total degree of c's
    * nodes, m = |edges| — so the numerator is an exact integer sum
    * (DECIMAL(38,0), order-free) and ONE IEEE division ends it: the
    * score itself hash-gates, which the usual float-accumulated Q does
    * not. Communities with no internal edges still contribute −d_c².
    *
    * Scale posture: one labeled-edge join pair (labels are node-sized),
    * one |labels|-sized e_c/d_c aggregate each, a one-row m broadcast —
    * nothing data-sized after the label join.
    *
    * @param labels (id, label) covering every node on an edge
    * @return one row: (m, n_comm, q)
    */
  def modularityInt(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val p = longEdges(pairs)
    val lb = labels.select(col("id").cast("long").as("id"),
      col("label").cast("long").as("label"))
    val withLab = p
      .join(lb.select(col("id").as("src"), col("label").as("ls")), "src")
      .join(lb.select(col("id").as("dst"), col("label").as("ld")), "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ec = withLab.filter(col("ls") === col("ld"))
      .groupBy(col("ls").as("label")).agg(count(lit(1)).as("ec"))
    val dc = withLab
      .select(explode(array(col("ls"), col("ld"))).as("label"))
      .groupBy("label").agg(count(lit(1)).as("dcnt"))
    val mrow = withLab.agg(count(lit(1)).as("m"))
    dc.join(ec, Seq("label"), "left")
      .crossJoin(broadcast(mrow))
      .select(col("m"),
        (dec(lit(4)) * dec(col("m")) * dec(coalesce(col("ec"), lit(0L)))
          - dec(col("dcnt")) * dec(col("dcnt"))).as("t"))
      .groupBy("m")
      .agg(count(lit(1)).as("n_comm"), sum("t").as("__num"))
      .select(col("m"), col("n_comm"),
        (col("__num").cast("double") /
          (dec(lit(4)) * dec(col("m")) * dec(col("m"))).cast("double"))
          .as("q"))
  }

  /** Per-community structure report over an undirected unique-pair edge
    * list and a node partition — the cell-level companion to the global
    * [[modularityInt]] score: for each community, its node count,
    * internal edge count, volume (total degree), cut (edges leaving),
    * and CONDUCTANCE φ = cut / min(vol, 2m − vol) — the standard "is
    * this community real or an artifact" number (low φ = few escaping
    * edges relative to size). cut = vol − 2·e_in and the min are exact
    * integers, so only the final φ division is floating point and the
    * whole report hash-gates. φ is null for a community holding all or
    * none of the volume (denominator 0).
    *
    * Scale posture: identical to modularityInt — one labeled-edge join,
    * |labels|-sized aggregates, a one-row m broadcast.
    *
    * @return per community: (label, n_nodes, e_in, vol, cut, phi)
    */
  def communityStats(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val p = longEdges(pairs)
    val lb = labels.select(col("id").cast("long").as("id"),
      col("label").cast("long").as("label"))
    val withLab = p
      .join(lb.select(col("id").as("src"), col("label").as("ls")), "src")
      .join(lb.select(col("id").as("dst"), col("label").as("ld")), "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nn = nodesOf(p).join(lb, "id")
      .groupBy("label").agg(count(lit(1)).as("n_nodes"))
    val ec = withLab.filter(col("ls") === col("ld"))
      .groupBy(col("ls").as("label")).agg(count(lit(1)).as("e_in"))
    val dc = withLab
      .select(explode(array(col("ls"), col("ld"))).as("label"))
      .groupBy("label").agg(count(lit(1)).as("vol"))
    val mrow = withLab.agg(count(lit(1)).as("m"))
    nn.join(dc, "label").join(ec, Seq("label"), "left")
      .crossJoin(broadcast(mrow))
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .withColumn("cut", col("vol") - lit(2L) * col("e_in"))
      .withColumn("__den", least(col("vol"), lit(2L) * col("m") - col("vol")))
      .select(col("label"), col("n_nodes"), col("e_in"), col("vol"),
        col("cut"),
        when(col("__den") > 0,
          col("cut").cast("double") / col("__den").cast("double"))
          .as("phi"))
  }

  def linkPredict(pairs: DataFrame, minCommon: Long = 1, maxDeg: Long = 0,
                  raScale: Long = 1000000000L): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // The pair list feeds three plan branches (wedge legs via eg, the
    // adjacency anti-join, degree joins) and is often itself an expensive
    // self-join (co-occurrence pairs) — materialize it once.
    val p = longEdges(pairs).persist(lvl)
    val eg = p.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(lvl)
    val deg = eg.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val mids =
      if (maxDeg > 0) deg.filter(col("d") <= maxDeg) else deg
    // Wedge u—z—v, u < v: both legs read the SAME adjacency-with-degree
    // table (z = src), persisted so the self-join materializes it once
    // and both sides shuffle from the same cached rows.
    val byMid = eg.select(col("src").as("z"), col("dst").as("u"))
      .join(mids.select(col("id").as("z"), col("d").as("dz")), "z")
      .persist(lvl)
    val wedges = byMid.join(
        byMid.select(col("z"), col("u").as("v")),
        Seq("z"))
      .filter(col("u") < col("v"))
    val scored = wedges
      .groupBy("u", "v")
      .agg(count(lit(1)).as("cn"),
        sum(expr(s"${raScale}L div dz")).as("ra"))
      .filter(col("cn") >= minCommon)
    scored
      .join(p.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"), col("ra"),
        // Preferential attachment is a degree PRODUCT: on hub-heavy
        // graphs (deg ~1e5+) du*dv overflows LongType silently — carry
        // it as DECIMAL(38,0) like every other overflow-prone product
        // in this file.
        (col("du").cast("decimal(38,0)") * col("dv").cast("decimal(38,0)"))
          .as("pa"))
  }

  /** Share of the survivors a k-truss round may remove and still take
    * the delta path (see [[kTrussPeel]]); above it the round re-enumerates.
    */
  private val trussDeltaShare = 0.125

  /** K-TRUSS peeling — the edge-level cohesion filter one notch
    * stronger than [[kCorePeel]]'s node degrees: keep an edge only if
    * it closes at least k−2 triangles with surviving edges, iterated
    * `rounds` times (fixed rounds, like kCorePeel, so the gate is a
    * deterministic recurrence the oracle can unroll — full-convergence
    * peeling wraps this the way resolveClusters wraps its rounds).
    * Trusses drop the loosely-attached edges cliques-ish communities
    * hang onto, which degree-based coring cannot see.
    *
    * Round 1: one wedge join on the DEGREE-ORIENTED edge list (each
    * triangle found exactly once as an ordered (deg, id) triple), each
    * triangle credited to its three edges through ONE explode (the
    * join subtree is evaluated once, not re-run per crediting branch),
    * and edges below support k−2 dropped. Orientation by (degree, id)
    * rather than raw id is the compact-forward trick — a hub's forward
    * fan-out collapses to its HIGHER-degree neighbors (O(√m) of them)
    * instead of the ~deg/2 an id-order leaves it, so the wedge
    * candidate space is m^{3/2}-bounded with the constant the
    * literature's enumeration achieves, on exactly the skewed
    * co-occurrence graphs trusses are run on. The order is computed
    * ONCE from the input graph's degrees (any fixed total order
    * enumerates each triangle exactly once; support counts are
    * order-independent, so peeling semantics are unchanged) and the
    * loop peels in oriented (s, t) space — no per-round re-orientation
    * joins.
    *
    * Rounds 2+: per-round CARDINALITY-DRIVEN choice between full
    * re-enumeration and incremental support maintenance. A peel round
    * that removed edge set R only changes the support of edges sharing
    * a triangle with R, so when |R| is small the lost triangles are
    * enumerated with R always on the driving side — three |R|-keyed
    * two-join chains, one per position the removed edge can occupy in
    * the oriented triple — deduped (a triangle with two removed edges
    * is found twice but died once), and their per-edge counts
    * subtracted from the carried support: sup_{r+1}(e) = sup_r(e) −
    * |{triangles ∋ e with an edge in R_r}|, identical to full
    * re-counting against the survivor set (what the oracle replays)
    * because a triangle survives iff all three edges survive. But the
    * delta form only wins when |R| ≪ survivors: when a peel removes a
    * large share (a deep truss's first peel does exactly that), the
    * three chains plus the lost-triangle distinct cost MORE than one
    * survivor-driven re-enumeration — round 7 ran the delta
    * unconditionally and regressed the sf0.1 10-truss 9.0 → 27.1 s
    * isolated-median. So each round branches on |R| (free: the
    * FreshCheckpoint forcing count already produced it) against the
    * survivor count — removals above `trussDeltaShare` of survivors fall
    * back to re-enumerating the (now smaller) survivor set. When the
    * delta path does run, R is explicitly broadcast below a row bound:
    * FreshCheckpoint tables plan with DEFAULT stats, so without the
    * hint every chain sort-merge-shuffles the full survivor set
    * against a handful of removed edges. When a round removes nothing
    * the supports are a fixpoint and remaining rounds are no-ops — the
    * loop exits early with the same result.
    *
    * Scale posture: the one full enumeration is the unavoidable floor;
    * later rounds cost min(full recount over the shrinking survivor
    * set, |R|·(forward degree) delta joins) — proportional to the
    * smaller of the CHANGE and the residue, which keeps deep peels
    * viable at 100 TB whether a round removes a sliver or a flood.
    * All round state is FreshCheckpoint-pinned (constant-size
    * planning at any round count); superseded checkpoints are released
    * as soon as the next round materializes, and only the result's
    * checkpoint outlives the call. Support aggregation is map-side
    * partial. Input edges may arrive in either orientation (and with
    * both directions present) — they are canonicalized, self-loops
    * dropped.
    *
    * @return surviving edges with their last-round support
    *         (u, v, sup) — u < v canonical; sup counted against the
    *         PREVIOUS round's survivors, the value the final filter
    *         tested
    */
  def kTrussPeel(edges: DataFrame, k: Long, rounds: Int): DataFrame =
    kTrussPeel(edges, k, rounds, frontierBroadcastMaxRows)

  /** [[kTrussPeel]] with the support joins' broadcast bound as a
    * parameter.
    */
  private[operators] def kTrussPeel(edges: DataFrame, k: Long, rounds: Int,
      bound: Long): DataFrame = FreshCheckpoint.rounds { r =>
    require(k >= 3, "truss needs k >= 3")
    require(rounds >= 1, "needs at least one round")
    // Broadcast bound for the removed set on the delta path: 2 longs per
    // row, so 1M rows ≈ 16 MB on the wire — safely under executor memory
    // at any realistic configuration. Above it the chains fall back to
    // shuffle joins (and at that size the full-recount branch has almost
    // certainly been taken anyway).
    val broadcastMaxRows = 1L << 20
    val simple = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") < col("v")).distinct()
    // Canonical edge list is consumed three times below (degree build,
    // degree count, orientation) — persist it so the pair join +
    // distinct doesn't re-run per consumer. A plain persist, not a
    // checkpoint: it shares blocks lazily with the e0 pipeline without
    // paying a second materialization pass, and it lives only until e0
    // is pinned (no loop self-join ever sees its stats).
    val simpleC = r.persist(simple)
    // Orient each edge toward the (degree, id)-larger endpoint — ties
    // break on id so the order is total. The degree table is node-sized;
    // when it is broadcastable the two orientation joins become
    // map-side (the edge list never shuffles for orientation). Pinning
    // it computes it once and its forcing count decides; the count gates
    // the hint because pinned tables plan with default stats and would
    // otherwise sort-merge.
    val degP = r.pin(simpleC
      .select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("d")))
    val deg = if (degP.rows <= 8000000L) broadcast(degP.df) else degP.df
    val e0P = r.pin(simpleC
      .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t")))
          .as("__o"))
      .select(col("__o.s").as("s"), col("__o.t").as("t")))
    r.release(simpleC)   // e0 is checkpointed; inputs done
    r.release(degP)
    // Ordered-triple enumeration with a caller-chosen relation in each
    // of the three edge positions; inner-join order follows the
    // syntactic order, so passing the small set first keeps the chain
    // |small|-keyed.
    def triples(p1: DataFrame, p2: DataFrame, p3: DataFrame): DataFrame =
      p1.as("e1")
        .join(p2.as("e2"), col("e1.t") === col("e2.s"))
        .join(p3.as("e3"),
          col("e3.s") === col("e1.s") && col("e3.t") === col("e2.t"))
        .select(col("e1.s").as("a"), col("e1.t").as("b"),
          col("e2.t").as("c"))
    // Support of every edge counted within edge set `e` (`eRows` rows):
    // enumerate each triangle once, credit its three edges through ONE
    // explode. Triangle enumeration is the peel's cost center, and the
    // cost is NOT the triangles (sf1: 12M edges close only 16M
    // triangles) — it is the BILLIONS of candidate wedges the naive
    // 3-way self-join shuffles and sorts to meet the closure edge
    // (probed round 8: that sort was ~80% of the 63 s sf1 gate). So
    // candidates never reach an exchange here: the closure test is a
    // Bloom sketch of the edge set probed INSIDE the wedge join's
    // output pipeline — a codegen projection with no false negatives —
    // and only the ~|triangles| survivors (plus ~fpp false positives)
    // meet the exact confirming edge join. The wedge pivot is chosen by
    // measured candidate counts: a 2-path a→b→c can be generated once
    // at its middle node (Σ d⁻·d⁺ candidates) or once at its source
    // (Σ d⁺·(d⁺−1)); which is smaller is a graph property, so both sums
    // come from the node-degree table (two cheap aggregates) and the
    // smaller enumeration runs. Exactness: the Bloom pre-filter only
    // DISCARDS non-edges; every kept candidate is re-checked by the
    // join, so the support counts are exact regardless of fpp. Under
    // `bound` the edge set is broadcast into the wedge and closure joins,
    // so the edge list streams through both without an exchange; above
    // it both stay shuffle joins.
    def supportOf(e: DataFrame, eRows: Long): DataFrame = {
      import org.apache.spark.sql.graft.BloomOps
      import graft.pipeline.AsyncJob
      // The Bloom sketch and the wedge-pivot degree sums are two small
      // independent aggregates over the same pinned edge set; run
      // sequentially they were two back-to-back driver jobs of almost
      // pure fixed cost (each re-scans cached blocks). Submitting them
      // from two threads lets the scheduler overlap their stages (guide
      // §2.6 — actions are only sequential because the driver calls them
      // sequentially), so the pre-enumeration latency is max, not sum.
      // AsyncJob runs them under this thread's job group and pool.
      val sketchF = AsyncJob.submit {
        e.agg(BloomOps.bloomAgg(struct(col("s"), col("t")),
            math.max(eRows, 1L), 0.01).as("bf"))
          .head().getAs[Array[Byte]]("bf")
      }
      val dd = e.select(col("s").as("id"), lit(1L).as("o"), lit(0L).as("i"))
        .unionByName(
          e.select(col("t").as("id"), lit(0L).as("o"), lit(1L).as("i")))
        .groupBy("id").agg(sum("o").as("dout"), sum("i").as("din"))
      val wF = AsyncJob.submit {
        dd.agg(
          sum((col("din") * col("dout")).cast("decimal(38,0)")).as("wio"),
          sum((col("dout") * (col("dout") - 1)).cast("decimal(38,0)"))
            .as("woo")).head()
      }
      val sketch = sketchF.await()
      val w = wF.await()
      def dec(i: Int): BigInt = Option(w.getDecimal(i))
        .map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
      val sourcePivot = dec(1) < dec(0)
      val eb = broadcastUnder(eRows, bound, e)
      val wedges =
        if (sourcePivot)
          e.as("e1").join(eb.as("e2"),
              col("e1.s") === col("e2.s") && col("e1.t") =!= col("e2.t"))
            .select(col("e1.s").as("a"), col("e1.t").as("b"),
              col("e2.t").as("c"))
        else
          e.as("e1").join(eb.as("e2"), col("e1.t") === col("e2.s"))
            .select(col("e1.s").as("a"), col("e1.t").as("b"),
              col("e2.t").as("c"))
      // The wedge's missing edge: (b,c) under a source pivot (e1/e2
      // share the source a), (a,c) under a middle pivot.
      val (ms, mt) = if (sourcePivot) ("b", "c") else ("a", "c")
      val tri = wedges
        .filter(BloomOps.mightContain(lit(sketch), struct(col(ms), col(mt))))
        .join(eb.as("e3"),
          col(ms) === col("e3.s") && col(mt) === col("e3.t"))
        .select(col("a"), col("b"), col("c"))
      tri.select(explode(array(
          struct(col("a").as("s"), col("b").as("t")),
          struct(col("b").as("s"), col("c").as("t")),
          struct(col("a").as("s"), col("c").as("t")))).as("__e"))
        .groupBy(col("__e.s").as("s"), col("__e.t").as("t"))
        .agg(count(lit(1)).as("sup"))
    }
    // Round 1: full enumeration — the base support every edge carries.
    var supP = r.pin(supportOf(e0P.df, e0P.rows).filter(col("sup") >= k - 2))
    var prevP = e0P               // the set supP was counted against
    var round = 1
    var fixed = false
    while (round < rounds && !fixed) {
      val remP = r.pin(prevP.df.select("s", "t")
        .join(supP.df.select("s", "t"), Seq("s", "t"), "left_anti"))
      if (remP.rows == 0L) {
        fixed = true
      } else {
        val nextP = if (remP.rows > trussDeltaShare * supP.rows) {
          // Removals dominate: one survivor-driven re-enumeration over
          // the (smaller) survivor set beats three removal-driven
          // chains that would each walk near-full wedge sets.
          r.pin(supportOf(supP.df.select("s", "t"), supP.rows)
            .filter(col("sup") >= k - 2))
        } else {
          val prevEdges = prevP.df.select("s", "t")
          val removed =
            if (remP.rows <= broadcastMaxRows) broadcast(remP.df)
            else remP.df
          // Removed edge in position (a,b), (b,c), (a,c) respectively —
          // R drives each chain. Edges of a lost triangle that were
          // THEMSELVES removed simply find no match in the support join.
          val lost = triples(removed, prevEdges, prevEdges)
            .unionByName(
              removed.as("e2")
                .join(prevEdges.as("e1"), col("e1.t") === col("e2.s"))
                .join(prevEdges.as("e3"),
                  col("e3.s") === col("e1.s") && col("e3.t") === col("e2.t"))
                .select(col("e1.s").as("a"), col("e1.t").as("b"),
                  col("e2.t").as("c")))
            .unionByName(
              removed.as("e3")
                .join(prevEdges.as("e1"), col("e1.s") === col("e3.s"))
                .join(prevEdges.as("e2"),
                  col("e2.s") === col("e1.t") && col("e2.t") === col("e3.t"))
                .select(col("e1.s").as("a"), col("e1.t").as("b"),
                  col("e2.t").as("c")))
            .distinct()
          val delta = lost.select(explode(array(
              struct(col("a").as("s"), col("b").as("t")),
              struct(col("b").as("s"), col("c").as("t")),
              struct(col("a").as("s"), col("c").as("t")))).as("__e"))
            .groupBy(col("__e.s").as("s"), col("__e.t").as("t"))
            .agg(count(lit(1)).as("d"))
          r.pin(supP.df
            .join(delta, Seq("s", "t"), "left")
            .select(col("s"), col("t"),
              (col("sup") - coalesce(col("d"), lit(0L))).as("sup"))
            .filter(col("sup") >= k - 2))
        }
        r.release(prevP)
        r.release(remP)
        prevP = supP
        supP = nextP
      }
      round += 1
    }
    supP
  }.select(least(col("s"), col("t")).as("u"),
    greatest(col("s"), col("t")).as("v"), col("sup"))

  /** Degree distribution of an edge list — the first structure report
    * run on any new graph (is it hub-heavy? how long is the tail? does
    * it look power-law?): for every observed out-degree, how many nodes
    * have it, plus each bucket's share of all edge endpoints. Pass both
    * edge directions for undirected degree. Exact integers + one IEEE
    * division per bucket; the histogram is degree-vocabulary-sized.
    *
    * Scale posture: one (src) count aggregate over the edge list, one
    * (degree) count aggregate over the node-sized degree table, one-row
    * total broadcast back — two keyed shuffles, nothing quadratic.
    */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("__d"))
    val hist = deg.groupBy(col("__d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
    val tot = hist.agg(sum(col("degree").cast("decimal(38,0)") *
      col("n_nodes").cast("decimal(38,0)")).as("__m"))
    hist.crossJoin(broadcast(tot))
      .select(col("degree"), col("n_nodes"),
        ((col("degree").cast("decimal(38,0)") *
          col("n_nodes").cast("decimal(38,0)")).cast("double") /
          col("__m").cast("double")).as("endpoint_share"))
  }

  /** Strongly connected components of a DIRECTED graph with a BOUNDED
    * node vocabulary — the cyclic-structure primitive the undirected
    * [[Dedup.resolveClusters]] min-label components cannot express
    * (mutual reachability, not mere connectivity). Intended for
    * CONDENSED entity graphs whose node set is bounded by contract —
    * country/market trade graphs, category co-occurrence, event-type
    * state machines — where the 100 TB-scale work is aggregating the
    * edge stream down to the entity graph (a distinct-project the
    * caller does with one shuffle) and the closure itself is tiny.
    * NOT for document- or user-scale graphs: transitive closure holds
    * Θ(n·reach) rows, which is why the parameter is named `maxNodes`
    * and enforced in the contract, not discovered at runtime.
    *
    * Algorithm: path-doubling transitive closure — reach⁰ = E ∪ id,
    * reachᵏ⁺¹ = reachᵏ ∪ (reachᵏ ∘ reachᵏ) — so ⌈log₂ maxNodes⌉
    * rounds cover every path (simple paths have < maxNodes hops);
    * then v's component label is min{w : v→*w ∧ w→*v}, well-defined
    * because the identity pairs make every node mutually reach itself.
    * Min-label output is deterministic under any partitioning. Each
    * round is one equijoin + distinct on tables capped by the closure
    * size; nothing driver-side but the (data-independent) loop counter.
    *
    * @param edges    directed (src, dst) id columns
    * @param maxNodes contract bound on |V| (sets the doubling rounds)
    * @return (id, scc, scc_size) — scc is the min node id of the
    *         component, one row per node appearing in `edges`
    */
  def sccBounded(edges: DataFrame, maxNodes: Int): DataFrame =
      FreshCheckpoint.rounds { r =>
    require(maxNodes >= 2, "maxNodes must be >= 2")
    val e = longEdges(edges).distinct()
    val nodes = nodesOf(e)
    val rounds = 32 - Integer.numberOfLeadingZeros(maxNodes - 1)
    var reach = r.persist(e.union(nodes.select(col("id").as("src"),
      col("id").as("dst"))).distinct())
    reach.count()
    for (_ <- 1 to rounds) {
      val next = r.persist(reach.as("a")
        .join(reach.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .union(reach).distinct())
      next.count()
      r.release(reach)
      reach = next
    }
    val lab = reach.as("f")
      .join(reach.as("g"),
        col("f.src") === col("g.dst") && col("f.dst") === col("g.src"))
      .select(col("f.src").as("id"), col("f.dst").as("w"))
      .groupBy("id").agg(min("w").as("scc"))
    val size = lab.groupBy("scc").agg(count(lit(1)).as("scc_size"))
    r.pin(lab.join(size, "scc")
      .select(col("id"), col("scc"), col("scc_size")))
  }
}
