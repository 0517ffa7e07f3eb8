package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** Deterministic sampling for corpus curation. `df.sample()` draws from a
  * per-partition RNG — resplitting the input changes the sample, which is
  * unacceptable for reproducible training sets. These operators derive the
  * draw from a content/id hash, so the same row is in or out of the sample
  * regardless of partitioning, cluster size, or retries, and the sample is
  * re-derivable years later from the id alone.
  */
object Sample {

  /** Hash-Bernoulli sample: keep rows whose first two md5 hex digits
    * compare below `hexCeil` ("40" = 64/256 = 25%). Lowercase hex orders
    * lexicographically like numerically, so a plain string compare is
    * reproducible in any engine with md5 — no numeric conversion to
    * diverge on. Pure filter: no shuffle, pushes past columnar scans like
    * any predicate.
    */
  def bernoulliPortable(idCol: String, hexCeil: String): Column =
    substring(md5(col(idCol).cast("string")), 1, 2) < lit(hexCeil)

  /** Deterministic train/val/test assignment: each row's split label is a
    * pure function of its id hash, so the same document lands in the same
    * split across reruns, repartitioning, and corpus growth (new docs never
    * move old docs between splits — the property that keeps eval sets
    * uncontaminated as a corpus is re-curated). `cuts` are ascending
    * 2-hex-digit md5-prefix ceilings paired with labels; rows above the
    * last ceiling get `rest`. E.g. ("e6"->"train", "f3"->"val"), "test"
    * ≈ 90/5/5. Engine-portable (lowercase-hex string compare) and a pure
    * projection — no shuffle, pushes past scans like any predicate.
    */
  def hashSplit(idCol: String, cuts: Seq[(String, String)], rest: String): Column = {
    require(cuts.nonEmpty && cuts.map(_._1) == cuts.map(_._1).sorted,
      "cuts must be ascending hex ceilings")
    val h = substring(md5(col(idCol).cast("string")), 1, 2)
    cuts.foldRight(lit(rest): Column) {
      case ((ceil, label), acc) => when(h < lit(ceil), label).otherwise(acc)
    }
  }

  /** Each stratum's rows in deterministic hash order — md5(id), the id
    * breaking ties so the order is total: the draw order every
    * per-stratum sampler admits rows in.
    */
  private def hashOrderWithin(stratumCol: String, idCol: String): WindowSpec =
    org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))

  /** Stratified fixed-size sample: the `n` rows of each stratum with the
    * smallest (hash, id) — every stratum contributes exactly
    * min(n, |stratum|) rows, deterministically, in one window shuffle on
    * the stratum key. The hash order de-biases the pick; the id tiebreak
    * makes it total.
    */
  def stratified(df: DataFrame, stratumCol: String, idCol: String,
                 n: Int): DataFrame =
    df.withColumn("__rn",
        row_number().over(hashOrderWithin(stratumCol, idCol)))
      .filter(col("__rn") <= n)
      .drop("__rn")

  /** Exact-size uniform sample: the `k` rows with the globally smallest
    * (md5(id), id) — the deterministic replacement for reservoir sampling
    * ("a reproducible 10k-doc eyeball sample of the corpus"), independent
    * of row order, partitioning, and cluster size. Bernoulli sampling
    * can't hit an exact k; a seeded `df.sample` isn't stable across
    * repartitioning. Planned as TakeOrderedAndProject: each partition
    * keeps its local top-k, only k rows per partition reach the driver
    * side of the shuffle — no global sort.
    */
  def exactK(df: DataFrame, idCol: String, k: Int): DataFrame =
    df.withColumn("__r", md5(col(idCol).cast("string")))
      .orderBy(col("__r"), col(idCol))
      .limit(k)
      .drop("__r")

  /** Deterministic global shuffle: impose a reproducible pseudo-random
    * total order on the corpus — the training-order materialization step.
    * The sort key is md5(seed | id), so the permutation is a pure function
    * of (seed, id): stable under repartitioning, retries, and cluster
    * size, and a different seed gives an independent epoch order.
    *
    * Scale posture: a global sort IS the operator — Spark plans it as one
    * range exchange (sampled range boundaries, fully parallel), which is
    * exactly how you'd want 100 TB laid out for sequential training reads.
    * The id tiebreak makes the order total even under hash collisions.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String): DataFrame =
    df.withColumn("shuffle_key",
        md5(concat(lit(s"$seed|"), col(idCol).cast("string"))))
      .orderBy(col("shuffle_key"), col(idCol))

  /** Weighted source INTERLEAVING (stride scheduling): order a multi-source
    * corpus so that reading it front to back consumes sources in
    * proportion to their weights — the mixture *schedule*, where
    * [[graft.queries]]' x7_mixture gates the mixture *proportions*. Each
    * row gets a deterministic within-source shuffle rank (md5 order, id
    * tiebreak) and a virtual time `rank / weight`; ascending virtual time
    * is the classic stride schedule: a weight-2 source appears twice as
    * often as a weight-1 source at every prefix, and a depleted source
    * simply stops contributing. `rank / weight` is one IEEE division of
    * an exact integer, so the schedule is engine-portable and
    * re-derivable from (id, source) alone.
    *
    * Scale posture: one window shuffle on the source key; the schedule
    * order is the gate's ORDER BY (consumers read in that total order —
    * materializing contiguous positions costs the same single range
    * exchange as [[deterministicShuffle]]).
    *
    * Output: input columns + (src_rank, vtime).
    */
  def interleaveByWeight(df: DataFrame, sourceCol: String, idCol: String,
                         weights: Map[String, Double],
                         seed: String): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "every interleave weight must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(md5(concat(lit(s"$seed|"), col(idCol).cast("string"))),
        col(idCol))
    val weightExpr = weights.foldLeft(lit(Double.NaN): Column) {
      case (acc, (src, wt)) =>
        when(col(sourceCol) === src, lit(wt)).otherwise(acc)
    }
    df.withColumn("src_rank", row_number().over(w))
      .filter(!isnan(weightExpr))
      .withColumn("vtime", col("src_rank").cast("double") / weightExpr)
  }

  /** Importance-weighted deterministic sampling: keep a row with
    * probability `weight` (a [0,1] column — e.g. a quality score), decided
    * by comparing the row's md5-uniform draw against the weight. The draw
    * is the first 8 hex digits of md5(id); the threshold is
    * floor(weight * (2^32-1)) rendered as 8 lowercase hex digits, so the
    * comparison is a plain string compare — reproducible in any engine,
    * partition-invariant, and re-derivable from (id, weight) alone. This
    * is "sample the corpus proportional to quality" — the curation step
    * between hard filtering (keep/drop) and uniform sampling. Pure
    * projection filter: no shuffle.
    */
  def weightedBernoulli(idCol: String, weight: Column): Column = {
    // Clamp to [0,1]: a weight above 1 would overflow the 8-hex-digit
    // threshold and lpad would silently TRUNCATE it to a smaller one.
    val w = least(greatest(weight, lit(0.0)), lit(1.0))
    substring(md5(col(idCol).cast("string")), 1, 8) <
      lower(lpad(hex(floor(w * lit(4294967295.0)).cast("long")), 8, "0"))
  }

  /** Token-budget mixture: per stratum, admit docs in deterministic hash
    * order until the stratum's token budget is exhausted — how a training
    * mix hits "N billion tokens per domain" rather than a document quota
    * ([[mixture]]). A doc is admitted iff the budget was not already spent
    * when it arrived (its own tokens may overrun — budgets are hit within
    * one doc, the standard convention). One window shuffle on the stratum
    * key; the running sum is a cumulative window aggregate, no driver
    * state. Strata absent from `budgets` get `default` tokens.
    */
  def tokenBudget(df: DataFrame, stratumCol: String, idCol: String,
                  tokenCol: String, budgets: Map[String, Long],
                  default: Long): DataFrame = {
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(default)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("__cum",
        sum(col(tokenCol)).over(hashOrderWithin(stratumCol, idCol)))
      .filter(col("__cum") - col(tokenCol) < budgetCol)
      .drop("__cum")
  }

  /** Mixture sampling: like [[stratified]] but with a per-stratum quota —
    * the way a training mix hits its target domain/language proportions.
    * Strata absent from `quota` contribute `default` rows. Same single
    * window shuffle; the quota lookup is a codegen'd CASE chain.
    */
  def mixture(df: DataFrame, stratumCol: String, idCol: String,
              quota: Map[String, Int], default: Int): DataFrame = {
    val nCol = quota.toSeq.sortBy(_._1).foldLeft(lit(default)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("__rn",
        row_number().over(hashOrderWithin(stratumCol, idCol)))
      .filter(col("__rn") <= nCol)
      .drop("__rn")
  }

  /** TEMPERATURE-scaled mixture (α = 1/2): domain quotas derived FROM
    * the corpus — p(domain) ∝ √n(domain) — instead of [[mixture]]'s
    * hand-fixed quota map. This is the standard rebalancing for
    * multilingual / multi-source training corpora: α < 1 upsamples the
    * tail domains a raw proportional draw would starve, without the
    * uniform draw's overfit on tiny domains. α is pinned to 1/2 because
    * √ is the one power with an EXACT integer form — q(d) = isqrt(n(d)),
    * computed as floor(IEEE √) plus a ±1 integer fix-up (√ is correctly
    * rounded per IEEE-754, so the double estimate is off by at most one
    * lattice step; the fix-up compares (s±1)² against n in long
    * arithmetic) — which keeps quota arithmetic, and therefore sample
    * MEMBERSHIP, bit-identical in any engine. General α would put libm
    * `pow` (not correctly rounded, engine-dependent) inside the gate.
    *
    * The overall take is `totalNum/totalDen` of the corpus; domain d
    * receives take·q(d)/Σq (integer division), filled by the same
    * md5-ranked deterministic draw as [[mixture]]. Everything is
    * in-plan: one domain-count aggregate (broadcast back), one scalar
    * Σq (broadcast), one per-domain rank window over the data — no
    * driver arithmetic, no FP boundary. Envelope: take·q < 2⁶³ caps
    * rows·√rows at ~10²⁷ row-domains.
    */
  def temperatureMixture(df: DataFrame, stratumCol: String, idCol: String,
                         totalNum: Int, totalDen: Int): DataFrame = {
    require(totalDen > 0 && totalNum >= 0 && totalNum <= totalDen,
      "take fraction must be within [0, 1]")
    def isqrt(n: Column): Column = {
      val s0 = floor(sqrt(n.cast("double"))).cast("long")
      when((s0 + 1) * (s0 + 1) <= n, s0 + 1)
        .when(s0 * s0 > n, s0 - 1)
        .otherwise(s0)
    }
    val counts = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__q", isqrt(col("__n")))
    val tot = counts.agg(sum("__q").as("__sq"), sum("__n").as("__tot"))
    val quota = counts.crossJoin(broadcast(tot))
      .withColumn("__take",
        expr(s"((__tot * $totalNum) div $totalDen * __q) div __sq"))
      .select(col(stratumCol), col("__take"))
    df.join(broadcast(quota), stratumCol)
      .withColumn("__rn",
        row_number().over(hashOrderWithin(stratumCol, idCol)))
      .filter(col("__rn") <= col("__take"))
      .drop("__rn", "__take")
  }

  /** K-FOLD cross-validation assignment: a deterministic fold id from
    * the row's md5 first nibble — the same hash family as [[hashSplit]],
    * so fold membership is a pure function of the id (stable across
    * runs, engines and repartitioning, and UNBIASED because k divides
    * the 16 nibble values evenly — the reason k is constrained rather
    * than taking an arbitrary modulus of a biased prefix). Evaluation
    * harnesses filter `fold = i` for the held-out slice and
    * `fold <> i` for its training complement; no state is stored.
    * Zero shuffles — the fold id is a codegen projection.
    */
  def kfold(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 2 && 16 % k == 0,
      "k must divide 16 (even hex-nibble fold derivation)")
    df.withColumn("fold",
      expr(s"(locate(substring(md5(cast($idCol as string)), 1, 1), " +
        s"'0123456789abcdef') - 1) div ${16 / k}").cast("int"))
  }

  /** EPOCH (repeat-factor) schedule per domain — the other half of
    * mixture design: when a target mix wants MORE of a domain than it
    * holds, the loader re-reads it; this computes how many times. Each
    * domain's token target is an equal share of the corpus (budget B =
    * total tokens, k domains, target = B div k) and its repeat factor
    * is ceil(target / tokens), capped at `cap` — the repetition budget
    * real recipes enforce because data repeated past a few epochs
    * stops helping. Pure integer arithmetic end to end
    * (ceil(a/b) = (a + b − 1) div b), so the schedule hash-gates.
    *
    * Scale posture: one per-domain aggregate + a one-row rollup
    * broadcast back — report is domain-count-sized. The schedule is a
    * PLAN (domain → repeat_factor/achieved tokens); appliers join it
    * back and explode by repeat_factor or feed it to the interleaver.
    */
  def epochSchedule(df: DataFrame, stratumCol: String, tokensCol: String,
                    cap: Int): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val g = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("tokens"))
    val t = g.agg(sum("tokens").as("__b"), count(lit(1)).as("__k"))
    g.crossJoin(broadcast(t))
      .withColumn("repeat_factor",
        when(col("tokens") > 0,
          least(lit(cap.toLong),
            expr("(__b div __k + tokens - 1) div tokens")))
          .otherwise(0L))
      .withColumn("achieved", col("repeat_factor") * col("tokens"))
      .drop("__b", "__k")
  }

  /** Leakage-safe TEMPORAL split with an embargo gap — the time-series
    * counterpart of [[hashSplit]]: train on everything before the
    * cutoff, test on everything after cutoff + embargo, and DROP the
    * embargo band between (rows whose influence straddles the boundary —
    * label lookahead, session spillover — poison both sides; an explicit
    * gap is the standard fix in financial/forecasting evaluation).
    *
    * The cutoff is `lo + (hi − lo) · fracNum/fracDen` over the observed
    * millisecond range, computed IN-PLAN (one (min, max) scalar
    * aggregate broadcast back — the two-pass [[Stats.histogram]] shape),
    * in pure integer arithmetic, so split membership is exact and
    * engine-reproducible — no driver round trip, no FP boundary.
    *
    * Output: input rows + (ms, split ∈ train/embargo/test).
    */
  def temporalSplit(df: DataFrame, tsCol: String,
                    fracNum: Int, fracDen: Int, embargoMs: Long): DataFrame = {
    require(fracDen > 0 && fracNum >= 0 && fracNum <= fracDen,
      "fraction must be within [0, 1]")
    val ms = unix_millis(col(tsCol))
    val bounds = df.agg(min(ms).as("__lo"), max(ms).as("__hi"))
    df.withColumn("ms", ms)
      .crossJoin(broadcast(bounds))
      .withColumn("__cut",
        col("__lo") + expr(s"((__hi - __lo) * $fracNum) div $fracDen"))
      .withColumn("split",
        when(col("ms") < col("__cut"), "train")
          .when(col("ms") >= col("__cut") + embargoMs, "test")
          .otherwise("embargo"))
      .drop("__lo", "__hi", "__cut")
  }

  /** CURRICULUM ordering: band each stratum into `bands` quality tiers
    * (ntile over score DESCENDING — band 1 is the best material), then
    * give every row a deterministic within-band shuffle position (md5
    * order, id tiebreak). Reading (band, pos) front to back is
    * curriculum learning's schedule: highest-quality material first,
    * with adjacent examples DE-CORRELATED inside each band — the reason
    * real pipelines shuffle within tiers instead of feeding a raw
    * quality sort, which would cluster near-identical documents
    * back-to-back. Pure function of (df, score): re-derivable on any
    * cluster, resumable mid-band by position.
    *
    * Scale posture: two window passes over the same stratum-keyed
    * exchange (ntile on (stratum), row_number on (stratum, band) — the
    * second partitions a refinement of the first, so no new shuffle at
    * execution). Stratify by a real partition key (language, source);
    * ntile needs a per-stratum total order, which is the same
    * requirement [[graft.operators.Stats.quantileBins]] carries.
    *
    * Output: input columns + (band, pos).
    */
  def curriculum(df: DataFrame, stratumCol: String, idCol: String,
                 scoreCol: String, bands: Int): DataFrame = {
    require(bands >= 1, "bands must be >= 1")
    val wBand = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val wPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol), col("band"))
      .orderBy(md5(concat_ws("|", lit("curr"), col(idCol).cast("string"))),
        col(idCol))
    df.withColumn("band", ntile(bands).over(wBand))
      .withColumn("pos", row_number().over(wPos))
  }
}
