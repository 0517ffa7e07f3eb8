package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Relational operator surface. The reference's own relational algebra is
  * two statements — `SELECT * FROM df LIMIT 100` (pyfiles.zip/my_query.py:2-8)
  * and `SELECT count(*) FROM <tbl>` (k8s/dags/etl-gcp-vinicius-campos.py:146-151)
  * — mapped here to their canonical deterministic forms (R1-R6), plus the
  * full relational breadth a complete engine needs (agg/join/window/set-ops/
  * rollup), each left to Catalyst to plan (broadcast vs SMJ, partial aggs,
  * TakeOrderedAndProject for ORDER BY+LIMIT).
  */
object Relational extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Exact-and-deterministic double sum: per-row decimal cast → exact sum
    * → double. See QueryDef scaladoc.
    */
  private def dsum(e: String): org.apache.spark.sql.Column =
    expr(s"CAST(sum(CAST($e AS DECIMAL(18,6))) AS DOUBLE)")

  val defs: Seq[QueryDef] = Seq(

    // R1-R3: scan + projection + deterministic LIMIT (canonical form of the
    // reference transform `SELECT * FROM df LIMIT 100`, my_query.py:2-8).
    QueryDef("r3_limit", Some("""
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
             l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
             strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate_s
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
      LIMIT 100"""),
      bench = true) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"),
          date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")
            .as("l_shipdate_s"))
        // The synthetic lineitem duplicates (l_orderkey, l_linenumber),
        // so a LIMIT under that prefix alone would cut inside tie groups
        // whose rows DIFFER. (l_orderkey, l_linenumber, l_partkey,
        // l_suppkey) IS a verified unique key of the table (max group
        // size 1 at both gate SFs), so this 4-integer key is a true
        // total order at a fraction of the comparator cost of the
        // previous all-16-column sort (TakeOrderedAndProject compares
        // the key on every heap insert — key width is the constant that
        // matters at scale).
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .limit(100)
    },

    // R4: ungrouped count(*) (etl-gcp-vinicius-campos.py:147-150).
    QueryDef("r4_count", Some(
      "SELECT CAST(count(*) AS BIGINT) AS cnt FROM lineitem")) { (s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))
    },

    // R5: boolean data-quality gate (BigQueryCheckOperator semantics,
    // etl-gcp-vinicius-campos.py:144-155).
    QueryDef("r5_check", Some(
      "SELECT count(*) > 0 AS ok FROM lineitem")) { (s, dir) =>
      t(s, dir, "lineitem").agg((count(lit(1)) > 0).as("ok"))
    },

    // R6 + S7: SQL entry point through a named temp view with create/drop
    // lifecycle (etl-on-gcp-vinicius-campos.py:42,47,51).
    QueryDef("r6_view_sql", Some("""
      SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(l_quantity AS DOUBLE) AS qty
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, l_returnflag, qty
      LIMIT 100""")) {
      (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("df")
      val out = s.sql("""
        SELECT l_orderkey, l_linenumber, l_returnflag,
               CAST(l_quantity AS DOUBLE) AS qty
        FROM df
        ORDER BY l_orderkey, l_linenumber, l_returnflag, qty
        LIMIT 100""")
      val materialized = out.cache()
      materialized.count() // force before the view drops under the plan
      s.catalog.dropTempView("df")
      materialized
    },

    // S2 showcase: filter + projection pushed into the parquet scan
    // (PushedFilters / ReadSchema visible in .explain).
    QueryDef("s2_filter_scan", Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem WHERE l_quantity <= 5.0 AND l_returnflag = 'A'
      ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""))
    { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 5.0 && col("l_returnflag") === "A")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")
    },

    // TPC-H Q1-shaped grouped aggregation: partial+final HashAggregate.
    //
    // Exactness discipline (r10 verdict item 1, SURVEY §5.2): the old form
    // cast the DOUBLE 3-factor product to DECIMAL(18,6) per row, and the
    // two engines round a double that lands within an ulp of a .xxxxx5
    // boundary differently (Spark rounds the shortest decimal rendering,
    // DuckDB the exact binary expansion — PLANS r5, ~1 row in 6M at sf1).
    // Fixed at the root: each RAW column (a 2-decimal-grid value, whose
    // double→decimal rounding is unambiguous in both engines) is cast to
    // decimal FIRST and the product is computed in exact decimal
    // arithmetic, so no rounding of a computed value ever happens. Factor
    // widths keep every intermediate inside DECIMAL(38,*) in both
    // engines: (12,6)*(8,6)*(8,6) → (30,18).
    //
    // RENDERING (r11 verdict item 1): the exact sums must leave the gate
    // as STRING, not DECIMAL — r11 proved DECIMAL gate output of ANY
    // precision is driver-hash-unsafe (the driver's DuckDB-side pandas
    // canonicalization renders DECIMAL through float64, e.g.
    // "137869.0", while the Spark parquet dump reads back as exact
    // decimal "137869.000000"; rows/values match, hashes diverge). Each
    // sum is narrowed to scale 6 — lossless, the exact products carry
    // real scale ≤ 6 because the raw columns sit on a 2-decimal grid —
    // at DECIMAL(38,6), which cannot overflow below ~sf 1e20 (the r11
    // DECIMAL(18,6) form would NULL-overflow in Spark at ~sf 20), then
    // rendered to text identically by both engines (plain notation,
    // scale-6 trailing zeros).
    QueryDef("q1_agg", Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_qty,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_base_price,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,6))
                 * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6))))
             AS DECIMAL(38,6)) AS VARCHAR) AS sum_disc_price,
        CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,6))
                 * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))
                 * (CAST(1 AS DECIMAL(7,6)) + CAST(l_tax AS DECIMAL(7,6))))
             AS DECIMAL(38,6)) AS VARCHAR) AS sum_charge,
        CAST(count(*) AS BIGINT) AS count_order,
        CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""), bench = true) { (s, dir) =>
      val ext = col("l_extendedprice").cast("decimal(12,6)")
      val oneMinusDisc =
        lit(1).cast("decimal(7,6)") - col("l_discount").cast("decimal(7,6)")
      val onePlusTax =
        lit(1).cast("decimal(7,6)") + col("l_tax").cast("decimal(7,6)")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= expr("TIMESTAMP '1998-09-01 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(12,6)"))
            .cast("decimal(38,6)").cast("string").as("sum_qty"),
          sum(ext).cast("decimal(38,6)").cast("string")
            .as("sum_base_price"),
          sum(ext * oneMinusDisc).cast("decimal(38,6)").cast("string")
            .as("sum_disc_price"),
          sum(ext * oneMinusDisc * onePlusTax)
            .cast("decimal(38,6)").cast("string").as("sum_charge"),
          count(lit(1)).as("count_order"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // TPC-H Q3-shaped join + agg + top-k: small side broadcast, top-k via
    // TakeOrderedAndProject (never a global sort of the full agg output).
    QueryDef("q3_topk_join", Some("""
      SELECT o.o_orderkey,
        strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
        CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY o.o_orderkey, o.o_orderdate
      ORDER BY revenue DESC, o_orderkey LIMIT 10"""), bench = true) {
      (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > expr("TIMESTAMP '1996-01-01 00:00:00'"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(o("o_orderkey"), o("o_orderdate"))
        .agg(dsum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")
          .as("revenue"))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate_s"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // TPC-H Q5-shaped multi-way join: dims broadcast, fact-fact SMJ/AQE.
    QueryDef("q5_join_agg", Some("""
      SELECT n.n_name,
        CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM region r
      JOIN nation n ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
      WHERE r.r_name IN ('ASIA', 'EUROPE')
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY n.n_name
      ORDER BY n.n_name"""), bench = true) { (s, dir) =>
      val r = t(s, dir, "region").filter(col("r_name").isin("ASIA", "EUROPE"))
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01 00:00:00'")
          && col("o_orderdate") < expr("TIMESTAMP '1999-01-01 00:00:00'"))
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .join(broadcast(su), su("s_suppkey") === l("l_suppkey")
          && su("s_nationkey") === n("n_nationkey"))
        .groupBy(n("n_name"))
        .agg(dsum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    // Window functions: per-partition top-N via row_number.
    QueryDef("w1_window", Some("""
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
      WHERE rn <= 3 ORDER BY o_custkey, rn"""), bench = true) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },

    // Window frame spec: running sum over a rows-between frame.
    QueryDef("w2_running_sum", Some("""
      SELECT o_custkey, o_orderkey,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS running_spend
      FROM orders WHERE o_custkey < 100
      ORDER BY o_custkey, o_orderkey""")) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,6)")).over(w)
            .cast("double").as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Set operations: INTERSECT / UNION(distinct) / EXCEPT.
    QueryDef("u1_setops", Some("""
      SELECT custkey FROM (
        (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_totalprice > 400000
      ) t ORDER BY custkey""")) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val a = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val b = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      val d = c.filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey"))
      val e = o.filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey"))
      a.intersect(b).union(d).distinct().except(e).orderBy("custkey")
    },

    // Multiset (ALL) set-operation variants: bag semantics preserve
    // multiplicities, so the gate counts occurrences — a different
    // physical operator family from the DISTINCT forms in u1.
    QueryDef("u2_setops_all", Some("""
      WITH i AS (
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_totalprice < 150000),
      x AS (
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_totalprice < 150000)
      SELECT 'intersect_all' AS op, custkey, CAST(count(*) AS BIGINT) AS n
      FROM i GROUP BY 1, 2
      UNION ALL
      SELECT 'except_all', custkey, CAST(count(*) AS BIGINT) FROM x GROUP BY 1, 2
      ORDER BY op, custkey""")) { (s, dir) =>
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      val b = o.filter(col("o_totalprice") < 150000)
        .select(col("o_custkey").as("custkey"))
      val i = a.intersectAll(b).groupBy("custkey")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val x = a.exceptAll(b).groupBy("custkey")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      i.unionByName(x).select("op", "custkey", "n").orderBy("op", "custkey")
    },

    // Deterministic array aggregation: collect_list is order-nondeterministic
    // by itself; sort_array(...) makes it a value-stable product — the
    // per-user event-type profile as one canonical string.
    QueryDef("m2_collect", Some("""
      SELECT user_id,
        array_to_string(list(DISTINCT event_type ORDER BY event_type), ',')
          AS types,
        CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id ORDER BY user_id LIMIT 200""")) { (s, dir) =>
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(array_join(sort_array(collect_set(col("event_type"))), ",")
          .as("types"),
          count(lit(1)).as("n"))
        .orderBy("user_id").limit(200)
    },

    // Grouping sets via ROLLUP (subtotal rows disambiguated by coalesce).
    QueryDef("g1_rollup", Some("""
      SELECT coalesce(l_returnflag, '(all)') AS rf,
             coalesce(l_linestatus, '(all)') AS ls,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY rf, ls""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), dsum("l_quantity").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy("rf", "ls")
    },

    // Grouping sets via CUBE: all four grouping combinations in one pass.
    QueryDef("g2_cube", Some("""
      SELECT coalesce(l_returnflag, '(all)') AS rf,
             coalesce(l_linestatus, '(all)') AS ls,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY rf, ls""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"), col("cnt"))
        .orderBy("rf", "ls")
    },

    // Pivot: order counts per priority spread into columns (oracle mirrors
    // with conditional aggregation — the engine-portable formulation).
    QueryDef("p1_pivot", Some("""
      SELECT o_orderstatus,
        CAST(coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END), 0) AS BIGINT) AS urgent,
        CAST(coalesce(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END), 0) AS BIGINT) AS medium,
        CAST(coalesce(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END), 0) AS BIGINT) AS low
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", Seq("1-URGENT", "3-MEDIUM", "5-LOW"))
        .count()
        .select(col("o_orderstatus"),
          coalesce(col("1-URGENT"), lit(0L)).as("urgent"),
          coalesce(col("3-MEDIUM"), lit(0L)).as("medium"),
          coalesce(col("5-LOW"), lit(0L)).as("low"))
        .orderBy("o_orderstatus")
    },

    // Unpivot (melt): the inverse of p1 — wide per-status priority counts
    // back to (status, metric, n) long form via Dataset.unpivot
    // (UNPIVOT/stack semantics). The oracle mirrors with UNION ALL, the
    // engine-portable formulation. Pure projection over the aggregate:
    // unpivot itself adds no exchange.
    QueryDef("p2_unpivot", Some("""
      WITH w AS (
        SELECT o_orderstatus,
          coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END), 0) AS urgent,
          coalesce(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END), 0) AS low
        FROM orders GROUP BY o_orderstatus)
      SELECT o_orderstatus, metric, CAST(n AS BIGINT) AS n FROM (
        SELECT o_orderstatus, 'urgent' AS metric, urgent AS n FROM w
        UNION ALL
        SELECT o_orderstatus, 'low' AS metric, low AS n FROM w)
      ORDER BY o_orderstatus, metric""")) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", Seq("1-URGENT", "5-LOW"))
        .count()
        .select(col("o_orderstatus"),
          coalesce(col("1-URGENT"), lit(0L)).as("urgent"),
          coalesce(col("5-LOW"), lit(0L)).as("low"))
        .unpivot(Array(col("o_orderstatus")),
          Array(col("urgent"), col("low")), "metric", "n")
        .orderBy("o_orderstatus", "metric")
    },

    // Semi/anti joins (EXISTS / NOT EXISTS).
    QueryDef("j1_semi_anti", Some("""
      SELECT p.p_partkey, p.p_brand FROM part p
      WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
                    AND l.l_quantity > 45)
        AND NOT EXISTS (SELECT 1 FROM lineitem l2
                        WHERE l2.l_partkey = p.p_partkey AND l2.l_discount > 0.09)
      ORDER BY p.p_partkey""")) { (s, dir) =>
      val p = t(s, dir, "part")
      val l = t(s, dir, "lineitem")
      p.join(l.filter(col("l_quantity") > 45).select("l_partkey"),
          p("p_partkey") === col("l_partkey"), "left_semi")
        .join(l.filter(col("l_discount") > 0.09).select("l_partkey")
            .withColumnRenamed("l_partkey", "lp2"),
          p("p_partkey") === col("lp2"), "left_anti")
        .select("p_partkey", "p_brand")
        .orderBy("p_partkey")
    },

    // Outer join: customers with zero orders kept, counts/sums null-safe.
    QueryDef("j2_outer", Some("""
      SELECT c.c_custkey,
             CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
             CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,6))),
                           0) AS DOUBLE) AS spend
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey ORDER BY c_custkey""")) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, o("o_custkey") === c("c_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("n_orders"),
          coalesce(sum(o("o_totalprice").cast("decimal(18,6)")), lit(0))
            .cast("double").as("spend"))
        .orderBy("c_custkey")
    },

    // Correlated scalar subquery (TPC-H Q17 flavor) through the SQL entry
    // point — Catalyst decorrelates it into an aggregate + join; exact
    // decimal avg keeps the comparison engine-portable.
    QueryDef("j3_scalar_subq", Some("""
      SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_small
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE CAST(l.l_quantity AS DECIMAL(18,6)) <
            (SELECT CAST(0.5 AS DECIMAL(2,1))
                    * avg(CAST(l2.l_quantity AS DECIMAL(18,6)))
             FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      GROUP BY p.p_brand ORDER BY p_brand""")) { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      t(s, dir, "part").createOrReplaceTempView("part")
      val out = s.sql("""
        SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_small
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE CAST(l.l_quantity AS DECIMAL(18,6)) <
              (SELECT CAST(0.5 AS DECIMAL(2,1))
                      * avg(CAST(l2.l_quantity AS DECIMAL(18,6)))
               FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand ORDER BY p_brand""")
      out
    },

    // Time-bucketed aggregation over the events table.
    QueryDef("ev1_time_agg", Some("""
      SELECT event_type,
        strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
        CAST(count(*) AS BIGINT) AS cnt,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY event_type, hour_s""")) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour_s"))
        .agg(count(lit(1)).as("cnt"), dsum("value").as("sum_value"))
        .orderBy("event_type", "hour_s")
    },

    // Sessionization: gap > 30 min starts a new session (lag + conditional
    // count over a per-user window — the standard scalable formulation).
    QueryDef("ev2_sessionize", Some("""
      WITH g AS (
        SELECT user_id, epoch_ms(ts) AS ms,
               lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
        FROM events)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN prev IS NULL OR ms - prev > 1800000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
      FROM g GROUP BY user_id ORDER BY user_id"""), bench = true) {
      (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("prev", lag(col("ms"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("ms") - col("prev") > 1800000L, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("brk").as("n_sessions"))
        .orderBy("user_id")
    },

    // Order-statistic quantiles (discrete p50/p90): rank-at-ceil(p*n) with
    // a total tie order, so the quantile is a raw data value both engines
    // pick identically — no interpolation arithmetic to diverge on.
    // (Interpolating quantiles differ cross-engine in the FP formula:
    // lower*(1-g)+higher*g vs lower+(higher-lower)*g.)
    QueryDef("q6_quantiles", Some("""
      WITH r AS (
        SELECT l_returnflag, l_quantity, l_extendedprice,
          row_number() OVER (PARTITION BY l_returnflag
            ORDER BY l_quantity, l_orderkey, l_linenumber) AS rnq,
          row_number() OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rnp,
          count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem)
      SELECT l_returnflag,
        max(CASE WHEN rnq = ceil(n * 0.5) THEN l_quantity END) AS p50_qty,
        max(CASE WHEN rnq = ceil(n * 0.9) THEN l_quantity END) AS p90_qty,
        max(CASE WHEN rnp = ceil(n * 0.9) THEN l_extendedprice END) AS p90_price
      FROM r GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, dir) =>
      val wq = Window.partitionBy("l_returnflag")
        .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      val wp = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val wn = Window.partitionBy("l_returnflag")
      t(s, dir, "lineitem")
        .withColumn("rnq", row_number().over(wq))
        .withColumn("rnp", row_number().over(wp))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("l_returnflag")
        .agg(
          max(when(col("rnq") === ceil(col("n") * 0.5), col("l_quantity")))
            .as("p50_qty"),
          max(when(col("rnq") === ceil(col("n") * 0.9), col("l_quantity")))
            .as("p90_qty"),
          max(when(col("rnp") === ceil(col("n") * 0.9), col("l_extendedprice")))
            .as("p90_price"))
        .orderBy("l_returnflag")
    },

    // Calendar extraction breadth: day-of-week × event type. Engines
    // disagree on week origin (here Sunday=1..7 vs Sunday=0..6), so the
    // oracle normalizes with +1 — a fixed integer map, still exact.
    QueryDef("ev5_dow", Some("""
      SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY event_type, dow""")) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
        .agg(count(lit(1)).as("cnt"), dsum("value").as("sum_value"))
        .orderBy("event_type", "dow")
    },

    // Window-function breadth: ntile buckets, percent_rank (exact — an
    // integer-derived single division), and lead over a per-key order.
    QueryDef("w3_rank_funcs", Some("""
      WITH w AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS quartile,
          percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS pr,
          lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS next_ord
        FROM orders)
      SELECT o_custkey, o_orderkey, quartile, pr, next_ord
      FROM w WHERE o_custkey < 50
      ORDER BY o_custkey, o_orderkey""")) { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("next_ord", lead(col("o_orderkey"), 1).over(w))
        .filter(col("o_custkey") < 50)
        .select("o_custkey", "o_orderkey", "quartile", "pr", "next_ord")
        .orderBy("o_custkey", "o_orderkey")
    },

    // Bucketed co-located join (operators.Colocate): both sides written
    // bucket+sorted on the join key into the warehouse, then merge-joined
    // exchange-free (the shuffle-elimination itself is asserted in
    // ColocateSpec; this gates the end-to-end values through the bucketed
    // write + catalog read path).
    QueryDef("c1_bucketed_join", Some("""
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")) { (s, dir) =>
      graft.operators.Colocate.writeBucketed(
        t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        "graft_gate", "li_bk", Seq("l_orderkey"), 8)
      graft.operators.Colocate.writeBucketed(
        t(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        "graft_gate", "ord_bk", Seq("l_orderkey"), 8)
      s.table("graft_gate.li_bk")
        .join(s.table("graft_gate.ord_bk").hint("merge"), "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum("l_extendedprice").as("sum_price"))
        .orderBy("o_orderstatus")
    },

    // Salted skew join (operators.Colocate.saltedJoin): semantically the
    // plain join — the salt spreads a hot key's rows across sub-partitions
    // and replicates the small side — so it gates against the plain SQL.
    QueryDef("c2_salted_join", Some("""
      SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey""")) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_suppkey", "l_quantity")
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.operators.Colocate.saltedJoin(li, sup, Seq("l_suppkey"), factor = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), dsum("l_quantity").as("sum_qty"))
        .orderBy("s_nationkey")
    },

    // Correlated EXISTS / NOT EXISTS through the engine's SQL entry point
    // (R6 path): suppliers from nations that have customers, none of them
    // deeply overdrawn. Catalyst decorrelates both subqueries into
    // semi/anti joins.
    // Time-range rolling window: trailing 1-hour sum per user — a RANGE
    // frame over event-time millis (peers at the same instant aggregate
    // together in both engines; decimal accumulation keeps the sliding
    // sum order-independent).
    QueryDef("w4_rolling", Some("""
      SELECT user_id, event_id, epoch_ms(ts) AS ms,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER
               (PARTITION BY user_id ORDER BY epoch_ms(ts)
                RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS roll_sum
      FROM events WHERE user_id % 10 = 0
      ORDER BY user_id, event_id""")) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ms"))
        .rangeBetween(-3600000L, 0L)
      t(s, dir, "events")
        .filter(col("user_id") % 10 === 0)
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"), col("value"))
        .withColumn("roll_sum",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double"))
        .drop("value")
        .orderBy("user_id", "event_id")
    },

    // GROUPING SETS with grouping_id — the generalized rollup/cube form,
    // through the SQL entry path (R6).
    QueryDef("g3_grouping_sets", Some("""
      SELECT coalesce(l_returnflag, '?') AS rf,
             coalesce(l_linestatus, '?') AS ls,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                              (l_returnflag, l_linestatus), ())
      ORDER BY gid, rf, ls""")) { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("g3_lineitem")
      val out = s.sql("""
        SELECT coalesce(l_returnflag, '?') AS rf,
               coalesce(l_linestatus, '?') AS ls,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM g3_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus), ())
        ORDER BY gid, rf, ls""")
      s.catalog.dropTempView("g3_lineitem")
      out
    },

    QueryDef("j4_exists", Some("""
      SELECT s_suppkey, s_name
      FROM supplier
      WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = s_nationkey)
        AND NOT EXISTS (SELECT 1 FROM customer
                        WHERE c_nationkey = s_nationkey
                          AND c_acctbal < CAST(-900 AS DOUBLE))
      ORDER BY s_suppkey""")) { (s, dir) =>
      Seq("supplier", "customer").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"j4_$n"))
      val out = s.sql("""
        SELECT s_suppkey, s_name
        FROM j4_supplier
        WHERE EXISTS (SELECT 1 FROM j4_customer WHERE c_nationkey = s_nationkey)
          AND NOT EXISTS (SELECT 1 FROM j4_customer
                          WHERE c_nationkey = s_nationkey
                            AND c_acctbal < CAST(-900 AS DOUBLE))
        ORDER BY s_suppkey""")
      Seq("supplier", "customer").foreach(n =>
        s.catalog.dropTempView(s"j4_$n"))
      out
    },

    // Interval join via bucketized equijoin (operators.RangeJoin): clicks
    // within ±15 min of a purchase by the same user. The oracle is the
    // plain inequality join (the oracle engine has a native range-join
    // algorithm; Spark's scalable form is the bucket equijoin).
    QueryDef("r7_range_join", Some("""
      WITH c AS (SELECT user_id, event_id AS cid, epoch_ms(ts) AS ms
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, event_id AS pid,
              epoch_ms(ts) - 900000 AS s, epoch_ms(ts) + 900000 AS e
            FROM events WHERE event_type = 'purchase')
      SELECT c.user_id, cid, CAST(count(*) AS BIGINT) AS n_near,
             CAST(min(pid) AS BIGINT) AS min_pid
      FROM c JOIN p ON c.user_id = p.user_id AND c.ms >= p.s AND c.ms <= p.e
      GROUP BY c.user_id, cid ORDER BY c.user_id, cid""")) { (s, dir) =>
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("cid"), col("ms"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          (col("ms") - 900000L).as("s"), (col("ms") + 900000L).as("e"))
      graft.operators.RangeJoin.pointInInterval(clicks, purch, Seq("user_id"),
          "ms", "s", "e", bucketMs = 1800000L)
        .groupBy("user_id", "cid")
        .agg(count(lit(1)).as("n_near"), min("pid").as("min_pid"))
        .orderBy("user_id", "cid")
    },

    // TPC-H Q18 flavor: large orders — a grouped HAVING on the fact
    // table drives a semi-join back to the order header; the aggregate
    // runs BEFORE the join so only qualifying keys shuffle.
    QueryDef("q18_large_orders", Some("""
      WITH big AS (
        SELECT l_orderkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 220)
      SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, b.sum_qty
      FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
      ORDER BY b.sum_qty DESC, o.o_orderkey LIMIT 25"""),
      bench = true) { (s, dir) =>
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)")
          .as("sum_qty"),
          expr("sum(CAST(l_quantity AS DECIMAL(18,6)))").as("__dq"))
        .filter(col("__dq") > expr("CAST(220 AS DECIMAL(18,6))"))
        .drop("__dq")
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "sum_qty")
        .orderBy(col("sum_qty").desc, col("o_orderkey")).limit(25)
    },

    // first_value / last_value window frames: per user, the first and
    // last event type over the full partition — needs the explicit
    // unbounded-following frame (the default frame ends at CURRENT ROW,
    // where last_value is just the current row's value).
    QueryDef("w5_first_last", Some("""
      WITH w AS (
        SELECT user_id, event_id,
          first_value(event_type) OVER
            (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS first_type,
          last_value(event_type) OVER
            (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS last_type
        FROM events)
      SELECT first_type, last_type, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM w GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("user_id"),
          first("event_type").over(w).as("first_type"),
          last("event_type").over(w).as("last_type"))
        .groupBy("first_type", "last_type")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
        .orderBy("first_type", "last_type")
    },

    // TPC-H Q7 flavor: bilateral revenue flows between customer and
    // supplier nations by year — a 6-way join where every dimension
    // broadcasts and only the fact scan is large.
    QueryDef("q7_nation_flow", Some("""
      SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE cn.n_name < sn.n_name
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val cn = t(s, dir, "nation")
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
      val sn = t(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(cn), col("c_nationkey") === col("cnk"))
        .join(broadcast(sn), col("s_nationkey") === col("snk"))
        .filter(col("cust_nation") < col("supp_nation"))
        .groupBy(col("cust_nation"), col("supp_nation"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_items"),
          dsum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")
            .as("revenue"))
        .orderBy("cust_nation", "supp_nation", "yr")
    },

    // TPC-H Q10 flavor: top customers by revenue from returned items —
    // fact filter pushed to the scan, dims broadcast, top-k as
    // TakeOrderedAndProject.
    QueryDef("q10_returns", Some("""
      SELECT c.c_custkey, c.c_name, n.n_name,
        CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
          AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, c.c_custkey LIMIT 20""")) { (s, dir) =>
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          dsum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")
            .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },

    // NOT IN three-valued logic (null-aware anti join): a NULL anywhere in
    // the subquery result makes NOT IN unsatisfiable — the classic SQL
    // trap, and a distinct physical operator (NullAwareAntiJoin) from the
    // NOT EXISTS anti join. Gate both: the null-free branch returns the
    // true complement, the null-poisoned branch returns zero rows.
    QueryDef("j5_not_in", Some("""
      SELECT
        CAST((SELECT count(*) FROM customer
              WHERE c_custkey NOT IN
                (SELECT o_custkey FROM orders WHERE o_totalprice > 300000))
          AS BIGINT) AS n_clean,
        CAST((SELECT count(*) FROM customer
              WHERE c_custkey NOT IN
                (SELECT nullif(o_custkey, 7) FROM orders
                 WHERE o_totalprice > 300000))
          AS BIGINT) AS n_poisoned""")) { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("graft_j5_c")
      t(s, dir, "orders").createOrReplaceTempView("graft_j5_o")
      s.sql("""
        SELECT
          CAST((SELECT count(*) FROM graft_j5_c
                WHERE c_custkey NOT IN
                  (SELECT o_custkey FROM graft_j5_o WHERE o_totalprice > 300000))
            AS BIGINT) AS n_clean,
          CAST((SELECT count(*) FROM graft_j5_c
                WHERE c_custkey NOT IN
                  (SELECT nullif(o_custkey, 7) FROM graft_j5_o
                   WHERE o_totalprice > 300000))
            AS BIGINT) AS n_poisoned""")
    },

    // Null-safe equijoin (<=> / IS NOT DISTINCT FROM): null keys MATCH
    // each other — the semantics dimension-key joins need when "unknown"
    // is itself a join value. Plans as a hash join on EqualNullSafe, not
    // a nested loop. NULLS FIRST pins the cross-engine sort.
    QueryDef("j6_null_safe_join", Some("""
      WITH c AS (SELECT c_custkey, nullif(c_nationkey % 5, 4) AS k FROM customer),
      s AS (SELECT s_suppkey, nullif(s_nationkey % 5, 4) AS k FROM supplier)
      SELECT c.k, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(min(c_custkey) AS BIGINT) AS min_c,
             CAST(max(s_suppkey) AS BIGINT) AS max_s
      FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
      GROUP BY c.k ORDER BY c.k NULLS FIRST""")) { (s, dir) =>
      val c = t(s, dir, "customer")
        .select(col("c_custkey"),
          nullif(col("c_nationkey") % 5, lit(4)).as("k"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"),
          nullif(col("s_nationkey") % 5, lit(4)).as("ks"))
      c.join(sup, col("k") <=> col("ks"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          min("c_custkey").as("min_c"), max("s_suppkey").as("max_s"))
        .orderBy(col("k").asc_nulls_first)
    },

    // MapType surface: build a map from event columns, explode it to
    // (key, value) rows (the oracle stacks the same pairs with UNION ALL),
    // aggregate per pair. Exercises map(), explode-of-map and the
    // Generate path for maps.
    QueryDef("m3_map_explode", Some("""
      WITH kv AS (
        SELECT 'et' AS mk, event_type AS mv FROM events
        UNION ALL
        SELECT 'vid' AS mk, CAST(event_id % 7 AS VARCHAR) AS mv FROM events)
      SELECT mk, mv, CAST(count(*) AS BIGINT) AS cnt
      FROM kv GROUP BY mk, mv ORDER BY mk, mv""")) { (s, dir) =>
      t(s, dir, "events")
        .select(explode(map(
          lit("et"), col("event_type"),
          lit("vid"), (col("event_id") % 7).cast("string")))
          .as(Seq("mk", "mv")))
        .groupBy("mk", "mv").agg(count(lit(1)).as("cnt"))
        .orderBy("mk", "mv")
    },

    // Interval×interval overlap join (operators.RangeJoin.intervalOverlap):
    // daily per-user activity intervals from two user cohorts, paired when
    // they intersect. The bucket equijoin + first-shared-bucket filter
    // replaces the nested-loop theta join; the oracle runs the plain
    // inequality join. Overlap length in ms is exact integer arithmetic.
    QueryDef("r9_interval_overlap", Some("""
      WITH iv AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
               min(epoch_ms(ts)) AS s, max(epoch_ms(ts)) AS e
        FROM events GROUP BY 1, 2),
      a AS (SELECT user_id AS ua, s AS sa, e AS ea FROM iv WHERE user_id % 10 = 3),
      b AS (SELECT user_id AS ub, s AS sb, e AS eb FROM iv WHERE user_id % 10 = 7)
      SELECT ua, ub, CAST(count(*) AS BIGINT) AS n_ov,
             CAST(sum(least(ea, eb) - greatest(sa, sb)) AS BIGINT) AS ov_ms
      FROM a JOIN b ON sa <= eb AND sb <= ea
      GROUP BY ua, ub ORDER BY ua, ub""")) { (s, dir) =>
      val iv = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"),
          unix_millis(col("ts")).as("ms"))
        .groupBy("user_id", "d").agg(min("ms").as("s"), max("ms").as("e"))
      val a = iv.filter(pmod(col("user_id"), lit(10)) === 3)
        .select(col("user_id").as("ua"), col("s").as("sa"), col("e").as("ea"))
      val b = iv.filter(pmod(col("user_id"), lit(10)) === 7)
        .select(col("user_id").as("ub"), col("s").as("sb"), col("e").as("eb"))
      graft.operators.RangeJoin.intervalOverlap(a, b, Seq.empty,
          "sa", "ea", "sb", "eb", bucket = 21600000L)
        .groupBy("ua", "ub")
        .agg(count(lit(1)).as("n_ov"),
          sum(least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
            .as("ov_ms"))
        .orderBy("ua", "ub")
    },

    // The range-join OPTIMIZER RULE end-to-end (o.a.s.sql.graft
    // .RangeJoinRewrite): the user writes the natural BETWEEN theta join —
    // which Spark would plan as a broadcast nested loop — and the injected
    // rule turns it into the bucketized equijoin. Keyless by design (with
    // an equi-key Spark already hash-joins; the rule targets the pure
    // range cliff). Values identical to the nested loop by construction.
    QueryDef("r10_range_rule", Some("""
      WITH c AS (SELECT event_id AS cid, epoch_ms(ts) AS ms
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT event_id AS pid,
              epoch_ms(ts) - 900000 AS s, epoch_ms(ts) + 900000 AS e
            FROM events WHERE event_type = 'purchase')
      SELECT pid, CAST(count(*) AS BIGINT) AS n_clicks,
             CAST(min(cid) AS BIGINT) AS min_cid
      FROM p JOIN c ON c.ms >= p.s AND c.ms <= p.e
      GROUP BY pid ORDER BY pid""")) { (s, dir) =>
      val ev = t(s, dir, "events").withColumn("ms", unix_millis(col("ts")))
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("ms"))
        .createOrReplaceTempView("graft_r10_c")
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"),
          (col("ms") - 900000L).as("s"), (col("ms") + 900000L).as("e"))
        .createOrReplaceTempView("graft_r10_p")
      // Arm the rule only for this gate: materialize eagerly while the
      // conf is set (localCheckpoint runs the bucketized plan; the
      // caller's later write just scans the checkpoint), then restore the
      // caller's value so no later query in the shared gate/bench session
      // runs re-planned — the no-equi-conjunct guard preserves semantics,
      // but a silently armed optimizer rule perturbs timings and
      // plan-shape assertions. Bench/Verify unpersist checkpoint blocks
      // per query.
      graft.Sessions.withConf(s)(
          "spark.graft.rangeJoin.bucket" -> "1800000") {
        s.sql("""
          SELECT pid, count(*) AS n_clicks, min(cid) AS min_cid
          FROM graft_r10_p JOIN graft_r10_c ON ms >= s AND ms <= e
          GROUP BY pid ORDER BY pid""").localCheckpoint(true)
      }
    },

    // Recursive CTE on the SQL surface (WITH RECURSIVE, new in Spark 4):
    // per-region nation chains walked root→leaf. Edges derive from a
    // window (lead over nationkey within region) in a plain CTE; the
    // recursive member is then a co-partitioned equijoin per iteration —
    // depth is bounded by the longest chain, every step distributed, all
    // arithmetic integer. The same statement text runs in DuckDB.
    QueryDef("r11_recursive_cte", Some("""
      WITH RECURSIVE e AS (
        SELECT n_regionkey AS r, n_nationkey AS src,
               lead(n_nationkey) OVER (PARTITION BY n_regionkey
                                       ORDER BY n_nationkey) AS dst
        FROM nation),
      roots AS (SELECT r, min(src) AS root FROM e GROUP BY r),
      chain(r, nk, depth) AS (
        SELECT r, root, 0 FROM roots
        UNION ALL
        SELECT c.r, e.dst, c.depth + 1
        FROM chain c JOIN e ON e.r = c.r AND e.src = c.nk
        WHERE e.dst IS NOT NULL)
      SELECT CAST(nk AS BIGINT) AS n_nationkey, CAST(r AS BIGINT) AS region,
             CAST(depth AS INT) AS depth
      FROM chain ORDER BY n_nationkey""")) { (s, dir) =>
      t(s, dir, "nation").createOrReplaceTempView("graft_r11_nation")
      val out = s.sql("""
        WITH RECURSIVE e AS (
          SELECT n_regionkey AS r, n_nationkey AS src,
                 lead(n_nationkey) OVER (PARTITION BY n_regionkey
                                         ORDER BY n_nationkey) AS dst
          FROM graft_r11_nation),
        roots AS (SELECT r, min(src) AS root FROM e GROUP BY r),
        chain(r, nk, depth) AS (
          SELECT r, root, 0 FROM roots
          UNION ALL
          SELECT c.r, e.dst, c.depth + 1
          FROM chain c JOIN e ON e.r = c.r AND e.src = c.nk
          WHERE e.dst IS NOT NULL)
        SELECT CAST(nk AS BIGINT) AS n_nationkey,
               CAST(r AS BIGINT) AS region, CAST(depth AS INT) AS depth
        FROM chain ORDER BY n_nationkey""")
      s.catalog.dropTempView("graft_r11_nation")
      out
    },

    // VARIANT semi-structured type (new in Spark 4): props parses ONCE
    // into the binary VARIANT encoding and fields extract via typed
    // variant_get path queries — the open-schema alternative to
    // get_json_object string re-parsing (m1). All-integer aggregates, so
    // the oracle (DuckDB JSON extraction) matches exactly.
    QueryDef("m4_variant", Some("""
      WITH v AS (SELECT event_type,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k
                 FROM events)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS sum_k,
             CAST(min(k) AS BIGINT) AS min_k,
             CAST(max(k) AS BIGINT) AS max_k,
             CAST(count(DISTINCT k) AS BIGINT) AS n_k
      FROM v GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      val k = variant_get(parse_json(col("props")), "$.k", "bigint")
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          countDistinct(col("k")).as("n_k"))
        .orderBy("event_type")
    },

    // JSON payload extraction (multimodal metadata path, X4).
    QueryDef("m1_props_json", Some("""
      SELECT event_type,
        CAST(count(*) AS BIGINT) AS cnt,
        CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    },

    // Disjunctive join predicate (TPC-H Q19 flavor): OR-of-ANDs across both
    // join sides. Catalyst extracts the common p_partkey equi-conjunct so the
    // join stays a broadcast hash join; the residual disjunction evaluates
    // post-probe, and each side's derivable prefix (brand IN, quantity range)
    // pushes to its scan.
    QueryDef("q19_disjunctive", Some("""
      SELECT
        CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                      AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity >= 1.0 AND l.l_quantity <= 20.0)
         OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
             AND l.l_quantity >= 10.0 AND l.l_quantity <= 35.0)""")) {
      (s, dir) =>
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val cond = p("p_partkey") === l("l_partkey") &&
        ((p("p_brand") === "Brand#1" && p("p_size").between(1, 15)
            && l("l_quantity") >= 1.0 && l("l_quantity") <= 20.0) ||
         (p("p_brand") === "Brand#3" && p("p_size").between(10, 30)
            && l("l_quantity") >= 10.0 && l("l_quantity") <= 35.0))
      l.join(broadcast(p), cond)
        .agg(dsum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // Sole-returner suppliers (TPC-H Q21 shape): EXISTS another supplier in
    // the order, NOT EXISTS another supplier who also returned. Both probes
    // are lineitem self-joins on l_orderkey — same key, so the shuffles
    // co-partition and AQE reuses the exchange; the <> conjunct rides the
    // equi-join as a residual condition, never a nested loop.
    QueryDef("q21_sole_returner", Some("""
      SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      WHERE l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s.s_name
      ORDER BY numwait DESC, s.s_name LIMIT 20""")) { (s, dir) =>
      val l1 = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey")
      val l2 = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val l3 = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      val su = t(s, dir, "supplier")
      l1.join(l2, l1("l_orderkey") === l2("o2")
          && l1("l_suppkey") =!= l2("s2"), "leftsemi")
        .join(l3, l1("l_orderkey") === l3("o3")
          && l1("l_suppkey") =!= l3("s3"), "leftanti")
        .join(broadcast(su), su("s_suppkey") === l1("l_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },

    // Idle rich customers (TPC-H Q22 shape): above the exact global mean of
    // positive balances, with no urgent orders. The scalar mean is one
    // broadcast row (decimal-exact sum → one double division); the NOT
    // EXISTS is a left-anti join on o_custkey whose priority filter pushes
    // to the orders scan before the shuffle.
    QueryDef("q22_idle_rich", Some("""
      WITH pos AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS avg_bal
        FROM customer WHERE c_acctbal > 0.0)
      SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
             CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               AS total_bal
      FROM customer c, pos
      WHERE c.c_acctbal > pos.avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY c.c_nationkey ORDER BY c.c_nationkey""")) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      val avg = c.filter(col("c_acctbal") > 0.0)
        .agg((dsum("c_acctbal") / count(lit(1)).cast("double"))
          .as("avg_bal"))
      c.crossJoin(broadcast(avg))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(o, col("c_custkey") === col("o_custkey"), "leftanti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"), dsum("c_acctbal").as("total_bal"))
        .orderBy("c_nationkey")
    },

    // Distribution window functions: ntile / percent_rank / cume_dist.
    // percent_rank and cume_dist are single divisions of exact integer
    // counts — IEEE-identical cross-engine; c_custkey tiebreak totalizes
    // the frame order.
    QueryDef("w6_dist_funcs", Some("""
      SELECT c_custkey, c_nationkey,
             ntile(4)       OVER w AS tile,
             percent_rank() OVER w AS pr,
             cume_dist()    OVER w AS cd
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey""")) { (s, dir) =>
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          ntile(4).over(w).as("tile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("c_custkey")
    },

    // Ordered funnel (view → click → purchase): strictly increasing event
    // times within a (user, day) cell. Three unordered windows over the
    // same (user_id, day) partitioning — one shuffle total, each stage's
    // anchor feeding the next as a per-partition min; no self-joins, no
    // per-cell sorts. Day-scoping keeps the funnel discriminating (a
    // month-long scope saturates every user at stage 3).
    QueryDef("f1_funnel", Some("""
      WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type, ts
                 FROM events
                 WHERE event_type IN ('view', 'click', 'purchase')),
      s1 AS (SELECT user_id, d, event_type, ts,
               min(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id, d) AS a_ts FROM e),
      s2 AS (SELECT user_id, d, event_type, ts, a_ts,
               min(CASE WHEN event_type = 'click' AND ts > a_ts THEN ts END)
                 OVER (PARTITION BY user_id, d) AS b_ts FROM s1),
      s3 AS (SELECT user_id, d, a_ts, b_ts,
               min(CASE WHEN event_type = 'purchase' AND ts > b_ts THEN ts END)
                 OVER (PARTITION BY user_id, d) AS c_ts FROM s2),
      u AS (SELECT user_id, d, max(a_ts) AS a_ts, max(b_ts) AS b_ts,
                   max(c_ts) AS c_ts
            FROM s3 GROUP BY user_id, d)
      SELECT CASE WHEN c_ts IS NOT NULL THEN 3
                  WHEN b_ts IS NOT NULL THEN 2
                  WHEN a_ts IS NOT NULL THEN 1 ELSE 0 END AS stage,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM u GROUP BY 1 ORDER BY stage""")) { (s, dir) =>
      val w = Window.partitionBy("user_id", "d")
      val e = t(s, dir, "events")
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("ts").cast("date").as("d"),
          col("event_type"), col("ts"))
      val s1 = e.withColumn("a_ts",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      val s2 = s1.withColumn("b_ts",
        min(when(col("event_type") === "click" && col("ts") > col("a_ts"),
          col("ts"))).over(w))
      val s3 = s2.withColumn("c_ts",
        min(when(col("event_type") === "purchase" && col("ts") > col("b_ts"),
          col("ts"))).over(w))
      s3.groupBy("user_id", "d")
        .agg(max("a_ts").as("a_ts"), max("b_ts").as("b_ts"),
          max("c_ts").as("c_ts"))
        .select(when(col("c_ts").isNotNull, 3)
          .when(col("b_ts").isNotNull, 2)
          .when(col("a_ts").isNotNull, 1)
          .otherwise(0).as("stage"))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_cells"))
        .orderBy("stage")
    },

    // Weekly cohort retention: cohort = ISO week of first event; cell =
    // distinct users active k weeks later. Per-user min is one shuffle on
    // user_id; the join back is on the same key (co-partitioned, and
    // broadcast-able since cohorts are one row per user).
    QueryDef("f2_retention", Some("""
      WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
                 FROM events GROUP BY user_id),
      a AS (SELECT e.user_id, f.cohort,
              CAST(date_diff('day', CAST(f.cohort AS DATE),
                     CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT)
                AS wk
            FROM events e JOIN f ON e.user_id = f.user_id)
      SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week, wk,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM a GROUP BY cohort, wk ORDER BY cohort_week, wk""")) { (s, dir) =>
      val e = t(s, dir, "events").select("user_id", "ts")
      val f = e.groupBy("user_id")
        .agg(date_trunc("week", min("ts")).as("cohort"))
      e.join(f, "user_id")
        .withColumn("wk",
          expr("CAST(datediff(CAST(date_trunc('week', ts) AS DATE), " +
            "CAST(cohort AS DATE)) div 7 AS INT)"))
        .groupBy("cohort", "wk")
        .agg(countDistinct("user_id").as("n_users"))
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
          col("wk"), col("n_users"))
        .orderBy("cohort_week", "wk")
    },

    // Markov transition matrix over per-user event sequences: one lead()
    // window (a single shuffle on user_id, ties broken by event_id), then
    // a (src,dst) count aggregate with map-side partials. The row
    // probability is one exact-integer division per cell — IEEE-identical
    // in both engines — and its normalizing window runs on the
    // |event_types|²-sized transition table, not the data.
    QueryDef("f3_transitions", Some("""
      WITH tr AS (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events),
      c AS (SELECT src, dst, count(*) AS n FROM tr
            WHERE dst IS NOT NULL GROUP BY src, dst)
      SELECT src, dst, CAST(n AS BIGINT) AS n,
             CAST(n AS DOUBLE)
               / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE) AS prob
      FROM c ORDER BY src, dst""")) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val c = t(s, dir, "events")
        .select(col("event_type").as("src"),
          lead("event_type", 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      c.select(col("src"), col("dst"), col("n"),
          (col("n").cast("double") /
            sum("n").over(Window.partitionBy("src")).cast("double"))
            .as("prob"))
        .orderBy("src", "dst")
    },

    // Top-k user journeys: each user's first five events as an ordered
    // path string, counted across users. Ordered aggregation without an
    // ordered-agg primitive: collect_list of (rn, type) structs sorted
    // per group — rn is unique within a user, so the sort is total and
    // the path deterministic under any partitioning. One shuffle for the
    // window, one for the path count; top-20 is a TakeOrderedAndProject.
    QueryDef("f4_paths", Some("""
      WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
      p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
            FROM r WHERE rn <= 5 GROUP BY user_id)
      SELECT path, CAST(count(*) AS BIGINT) AS n_users
      FROM p GROUP BY path
      ORDER BY n_users DESC, path LIMIT 20""")) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 5)
        .groupBy("user_id")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type")),
          ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(20)
    },

    // Cumulative distinct count over an event stream — "unique event
    // types seen so far" per user, the windowed-COUNT(DISTINCT) neither
    // engine supports directly. First-occurrence flags (row_number = 1
    // per (user, type)) running-summed per user: two keyed windows, both
    // hash-partitioned on user_id (the second reuses the first's data
    // locality), never a collect_set. event_id makes both orders total.
    QueryDef("f5_cum_uniques", Some("""
      WITH f AS (
        SELECT user_id, ts, event_id,
          CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts, event_id) = 1
               THEN 1 ELSE 0 END AS fst
        FROM events)
      SELECT user_id, event_id,
             CAST(sum(fst) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_uniq
      FROM f ORDER BY user_id, ts, event_id LIMIT 500""")) { (s, dir) =>
      val w1 = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      val w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          when(row_number().over(w1) === 1, 1L).otherwise(0L).as("fst"))
        .select(col("user_id"), col("ts"), col("event_id"),
          sum("fst").over(w2).as("cum_uniq"))
        .orderBy("user_id", "ts", "event_id").limit(500)
        .select("user_id", "event_id", "cum_uniq")
    },

    // Funnel latency: per day, how many (user, day) cells convert
    // view→purchase and the EXACT median time-to-convert — f1's stacked
    // windows produce the stage anchors, the gap is integer milliseconds,
    // and the median is an order statistic (rank-at-ceil, the q6 pattern)
    // — a real data value, so the latency metric itself hash-gates.
    QueryDef("f6_time_to_convert", Some("""
      WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type, ts
                 FROM events WHERE event_type IN ('view', 'purchase')),
      s1 AS (SELECT user_id, d, event_type, ts,
               min(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id, d) AS a_ts FROM e),
      s2 AS (SELECT user_id, d, a_ts,
               min(CASE WHEN event_type = 'purchase' AND ts > a_ts THEN ts END)
                 OVER (PARTITION BY user_id, d) AS c_ts FROM s1),
      u AS (SELECT user_id, d, max(a_ts) AS a_ts, max(c_ts) AS c_ts
            FROM s2 GROUP BY user_id, d),
      g AS (SELECT user_id, d, epoch_ms(c_ts) - epoch_ms(a_ts) AS gap_ms
            FROM u WHERE c_ts IS NOT NULL),
      r AS (SELECT d, gap_ms,
              row_number() OVER (PARTITION BY d
                ORDER BY gap_ms, user_id) AS rn,
              count(*) OVER (PARTITION BY d) AS n
            FROM g)
      SELECT d, CAST(max(n) AS BIGINT) AS n_converted,
             CAST(max(CASE WHEN rn = ceil(n * 0.5) THEN gap_ms END)
               AS BIGINT) AS p50_ms
      FROM r GROUP BY d ORDER BY d""")) { (s, dir) =>
      val wc = Window.partitionBy("user_id", "d")
      val e = t(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("ts").cast("date").as("d"),
          col("event_type"), col("ts"))
      val s1 = e.withColumn("a_ts",
        min(when(col("event_type") === "view", col("ts"))).over(wc))
      val s2 = s1.withColumn("c_ts",
        min(when(col("event_type") === "purchase" && col("ts") > col("a_ts"),
          col("ts"))).over(wc))
      val g = s2.groupBy("user_id", "d")
        .agg(max("a_ts").as("a_ts"), max("c_ts").as("c_ts"))
        .filter(col("c_ts").isNotNull)
        .select(col("user_id"), col("d"),
          (unix_millis(col("c_ts")) - unix_millis(col("a_ts"))).as("gap_ms"))
      val wr = Window.partitionBy("d").orderBy("gap_ms", "user_id")
      val wn = Window.partitionBy("d")
      g.withColumn("rn", row_number().over(wr))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("d")
        .agg(max("n").as("n_converted"),
          max(when(col("rn") === ceil(col("n") * 0.5), col("gap_ms")))
            .as("p50_ms"))
        .orderBy("d")
    },

    // First/last-touch attribution: for every purchase, the earliest and
    // latest click/view in the trailing 7 days — conditional min/max of
    // (ms, event_id, type) structs over one per-user RANGE frame, so both
    // touches resolve in a single window pass (no per-purchase probe join,
    // no event×event self-join). The oracle mirrors the struct order as an
    // encoded ms*1e6+event_id long (ids < 1e6 by the fixture contract) and
    // joins the ids back for the types — same total order, same rows.
    QueryDef("f7_attribution", Some("""
      WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
                 FROM events),
      k AS (SELECT event_id, user_id, event_type, ms,
              min(CASE WHEN event_type IN ('click','view')
                       THEN ms * 1000000 + event_id END) OVER w AS fk,
              max(CASE WHEN event_type IN ('click','view')
                       THEN ms * 1000000 + event_id END) OVER w AS lk
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ms
                         RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW))
      SELECT k.event_id, k.user_id,
             fe.event_id AS ft_id, fe.event_type AS ft_type,
             le.event_id AS lt_id, le.event_type AS lt_type,
             CAST(k.ms - le.ms AS BIGINT) AS lt_gap_ms
      FROM k LEFT JOIN e fe ON fe.event_id = fk % 1000000
             LEFT JOIN e le ON le.event_id = lk % 1000000
      WHERE k.event_type = 'purchase'
      ORDER BY k.event_id""")) { (s, dir) =>
      val touch = col("event_type").isin("click", "view")
      val tstruct = struct(col("ms"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy(col("ms"))
        .rangeBetween(-604800000L, 0)
      t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("ft", min(when(touch, tstruct)).over(w))
        .withColumn("lt", max(when(touch, tstruct)).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ft.event_id").as("ft_id"), col("ft.event_type").as("ft_type"),
          col("lt.event_id").as("lt_id"), col("lt.event_type").as("lt_type"),
          (col("ms") - col("lt.ms")).as("lt_gap_ms"))
        .orderBy("event_id")
    },

    // Two-pass equi-width histogram (Stats.histogram): global (min,max)
    // reduced then broadcast, bucket assignment as pure IEEE arithmetic
    // the oracle replays verbatim. Nothing shuffles but the 20 bucket
    // counts.
    QueryDef("g4_histogram", Some("""
      WITH mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
                  FROM orders),
      b AS (SELECT CAST(CASE WHEN hi = lo THEN 0
                   ELSE least(floor((o_totalprice - lo)
                                    / ((hi - lo) / CAST(20 AS DOUBLE))), 19)
                   END AS BIGINT) AS bucket
            FROM orders, mm)
      SELECT bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM b GROUP BY bucket ORDER BY bucket""")) { (s, dir) =>
      graft.operators.Stats.histogram(t(s, dir, "orders"), "o_totalprice", 20)
        .orderBy("bucket")
    },

    // Exact second moments (Stats.momentsInt): variance / correlation
    // sufficient statistics in pure long arithmetic — bit-identical under
    // any partial-aggregation order, where double-accumulated variance
    // never gates. The derived var/corr are single IEEE expressions over
    // the exact integer core (one division / sqrt — deterministic).
    QueryDef("g5_stats", Some("""
      WITH m AS (
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_x,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_xx,
               CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_y,
               CAST(sum(CAST(l_quantity AS BIGINT)
                        * CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_xy,
               CAST(sum(CAST(l_linenumber AS BIGINT)
                        * CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_yy
        FROM lineitem GROUP BY l_returnflag),
      v AS (SELECT l_returnflag, n, sum_x,
                   n * sum_xx - sum_x * sum_x AS var_num_x,
                   n * sum_yy - sum_y * sum_y AS var_num_y,
                   n * sum_xy - sum_x * sum_y AS cov_num
            FROM m)
      SELECT l_returnflag, n, sum_x, var_num_x, cov_num,
             CAST(var_num_x AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
               AS var_x,
             CAST(cov_num AS DOUBLE)
               / sqrt(CAST(var_num_x AS DOUBLE) * CAST(var_num_y AS DOUBLE))
               AS corr_xy
      FROM v ORDER BY l_returnflag""")) { (s, dir) =>
      graft.operators.Stats.momentsInt(t(s, dir, "lineitem"),
          Seq("l_returnflag"), "l_quantity", "l_linenumber")
        .select(col("l_returnflag"), col("n"), col("sum_x"),
          col("var_num_x"), col("cov_num"),
          (col("var_num_x").cast("double")
            / (col("n") * (col("n") - 1)).cast("double")).as("var_x"),
          (col("cov_num").cast("double")
            / sqrt(col("var_num_x").cast("double")
              * col("var_num_y").cast("double"))).as("corr_xy"))
        .orderBy("l_returnflag")
    },

    // Late-shipment priority counts (TPC-H Q4 shape): EXISTS with an
    // equi-conjunct plus a cross-table date residual — plans as one semi
    // join on l_orderkey, the interval comparison riding as residual.
    QueryDef("q4_late_orders", Some("""
      SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""")) {
      (s, dir) =>
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(l, l("l_orderkey") === o("o_orderkey")
          && l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAY"),
          "leftsemi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // Market share (TPC-H Q8 shape): NATION_5 suppliers' share of PROMO
    // revenue from EUROPE customers, per year. Both the numerator and
    // denominator are decimal-exact conditional sums; the share is their
    // single IEEE division. All dims broadcast; the fact table shuffles
    // once for the order join.
    QueryDef("q8_market_share", Some("""
      WITH vol AS (
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS yr,
               CAST(l.l_extendedprice * (1.0 - l.l_discount)
                    AS DECIMAL(18,6)) AS v,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = cn.n_regionkey
        JOIN supplier su ON su.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = su.s_nationkey
        JOIN part p     ON p.p_partkey = l.l_partkey
        WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO')
      SELECT yr,
             CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN v END)
                  AS DOUBLE) AS promo_rev,
             CAST(sum(v) AS DOUBLE) AS total_rev,
             CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN v END)
                  AS DOUBLE) / CAST(sum(v) AS DOUBLE) AS share
      FROM vol GROUP BY yr ORDER BY yr""")) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val cn = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      val su = t(s, dir, "supplier")
      val sn = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val p = t(s, dir, "part").filter(col("p_type") === "PROMO")
      val vol = l
        .join(o, o("o_orderkey") === l("l_orderkey"))
        .join(broadcast(c), c("c_custkey") === o("o_custkey"))
        .join(broadcast(cn), cn("n_nationkey") === c("c_nationkey"))
        .join(broadcast(r), r("r_regionkey") === cn("n_regionkey"))
        .join(broadcast(su), su("s_suppkey") === l("l_suppkey"))
        .join(broadcast(sn), col("sn_key") === su("s_nationkey"))
        .join(broadcast(p), p("p_partkey") === l("l_partkey"))
        .select(year(o("o_orderdate")).as("yr"),
          (l("l_extendedprice") * (lit(1.0) - l("l_discount")))
            .cast("decimal(18,6)").as("v"),
          col("supp_nation"))
      vol.groupBy("yr")
        .agg(
          sum(when(col("supp_nation") === "NATION_5", col("v")))
            .cast("double").as("promo_rev"),
          sum(col("v")).cast("double").as("total_rev"))
        .withColumn("share", col("promo_rev") / col("total_rev"))
        .orderBy("yr")
    },

    // Customer order-count distribution (TPC-H Q13 shape): left join with
    // an ON-clause filter (anti-matched customers keep count 0), then a
    // distribution over the counts — two cascaded aggregates, the first
    // on the join key it already shuffled on.
    QueryDef("q13_cust_dist", Some("""
      WITH co AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey)
      SELECT CAST(c_count AS BIGINT) AS c_count,
             CAST(count(*) AS BIGINT) AS custdist
      FROM co GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")) { (s, dir) =>
      val c = t(s, dir, "customer").select("c_custkey")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "5-LOW")
        .select("o_custkey", "o_orderkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // Promo revenue share per month (TPC-H Q14 shape): conditional and
    // total decimal-exact sums over one scan, share derived as
    // (100 · promo) / total — fixed left-associative IEEE chain.
    QueryDef("q14_promo_share", Some("""
      WITH v AS (
        SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS mon,
               CAST(l.l_extendedprice * (1.0 - l.l_discount)
                    AS DECIMAL(18,6)) AS rev,
               p.p_type
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
      SELECT mon,
             CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                           ELSE CAST(0 AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS promo_rev,
             CAST(sum(rev) AS DOUBLE) AS total_rev,
             CAST(100 AS DOUBLE)
               * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                               ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
               / CAST(sum(rev) AS DOUBLE) AS promo_share
      FROM v GROUP BY mon ORDER BY mon""")) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part").select("p_partkey", "p_type")
      l.join(broadcast(p), p("p_partkey") === l("l_partkey"))
        .select(date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM")
            .as("mon"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,6)").as("rev"),
          col("p_type"))
        .groupBy("mon")
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev"))
            .otherwise(lit(0).cast("decimal(18,6)")))
            .cast("double").as("promo_rev"),
          sum(col("rev")).cast("double").as("total_rev"))
        .withColumn("promo_share",
          lit(100.0) * col("promo_rev") / col("total_rev"))
        .orderBy("mon")
    },

    // Relational division: customers active in EVERY year the business
    // operated. The classic "for all" query — implemented as per-group
    // distinct counts matched against the broadcast universe count, never
    // as nested NOT EXISTS double negation.
    QueryDef("j8_division", Some("""
      WITH yrs AS (SELECT count(DISTINCT year(o_orderdate)) AS ny
                   FROM orders),
      cy AS (SELECT o_custkey,
                    count(DISTINCT year(o_orderdate)) AS n_years
             FROM orders GROUP BY o_custkey)
      SELECT c.o_custkey AS custkey, CAST(c.n_years AS BIGINT) AS n_years
      FROM cy c, yrs WHERE c.n_years = yrs.ny
      ORDER BY custkey""")) { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      val universe = o.agg(countDistinct("yr").as("ny"))
      o.groupBy("o_custkey")
        .agg(countDistinct("yr").as("n_years"))
        .crossJoin(broadcast(universe))
        .filter(col("n_years") === col("ny"))
        .select(col("o_custkey").as("custkey"), col("n_years"))
        .orderBy("custkey")
    },

    // Forecast revenue change (TPC-H Q6 shape): a pure selective scan-and-
    // sum — all three predicates (date range, discount band, quantity cap)
    // push into the parquet scan, no join, no shuffle beyond the one-row
    // final aggregate. The canonical "is pushdown working" probe.
    QueryDef("q6_forecast_rev", Some("""
      SELECT CAST(sum(CAST(l_extendedprice * l_discount
                           AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND l_discount >= CAST(0.05 AS DOUBLE)
        AND l_discount <= CAST(0.07 AS DOUBLE)
        AND l_quantity < CAST(24 AS DOUBLE)
      ORDER BY revenue""")) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
          && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy("revenue")
    },

    // Min-cost supplier (TPC-H Q2 shape): for each small part, the
    // supplier(s) offering the minimum observed unit price. The correlated
    // `= (SELECT min ...)` decorrelates to a window min over the part key —
    // one shuffle on l_partkey shared by the aggregate and the window, no
    // per-row re-execution. Unit price is a single IEEE division, min is
    // exact selection, so the equality filter is bit-deterministic.
    QueryDef("q2_min_cost", Some("""
      WITH supply AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS cost
        FROM lineitem GROUP BY l_partkey, l_suppkey)
      SELECT p.p_partkey, s.s_suppkey, s.s_name, su.cost
      FROM supply su
      JOIN part p ON p.p_partkey = su.l_partkey
      JOIN supplier s ON s.s_suppkey = su.l_suppkey
      WHERE p.p_size <= 5
        AND su.cost = (SELECT min(cost) FROM supply s2
                       WHERE s2.l_partkey = su.l_partkey)
      ORDER BY p.p_partkey, s.s_suppkey""")) { (s, dir) =>
      val supply = t(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
      val best = supply.withColumn("min_cost",
        min("cost").over(Window.partitionBy("l_partkey")))
        .filter(col("cost") === col("min_cost"))
      val p = t(s, dir, "part").filter(col("p_size") <= 5)
        .select("p_partkey", "p_size")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_name")
      best
        .join(broadcast(p), p("p_partkey") === col("l_partkey"))
        .join(broadcast(su), su("s_suppkey") === col("l_suppkey"))
        .select(col("p_partkey"), col("s_suppkey"), col("s_name"), col("cost"))
        .orderBy("p_partkey", "s_suppkey")
    },

    // Product-line profit (TPC-H Q9 shape): per supplier nation and year,
    // revenue minus retail cost over one fact scan. All five dimension
    // joins broadcast; the per-row profit expression is double arithmetic
    // (two products, one subtract — IEEE-identical cross-engine) cast to
    // decimal once, so the grouped sum is order-independent and exact.
    QueryDef("q9_profit", Some("""
      SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS yr,
             CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                           - p.p_retailprice * l.l_quantity
                           AS DECIMAL(18,6))) AS DOUBLE) AS profit
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN part p     ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%red%'
      GROUP BY n.n_name, yr ORDER BY n.n_name, yr""")) { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderdate")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      val p = t(s, dir, "part").filter(col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
      l.join(o, o("o_orderkey") === l("l_orderkey"))
        .join(broadcast(su), su("s_suppkey") === l("l_suppkey"))
        .join(broadcast(n), n("n_nationkey") === su("s_nationkey"))
        .join(broadcast(p), p("p_partkey") === l("l_partkey"))
        .select(col("n_name"), year(col("o_orderdate")).as("yr"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            - col("p_retailprice") * col("l_quantity"))
            .cast("decimal(18,6)").as("pf"))
        .groupBy("n_name", "yr")
        .agg(sum(col("pf")).cast("double").as("profit"))
        .orderBy("n_name", "yr")
    },

    // Important stock (TPC-H Q11 shape): per-part supply value from one
    // nation's suppliers, kept only where it exceeds a fraction of the
    // nation's total. The global total is a one-row broadcast; the
    // threshold compare is a single double multiply both engines do
    // identically on the decimal-exact sums.
    QueryDef("q11_top_stock", Some("""
      WITH supply AS (
        SELECT l.l_partkey,
               CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(18,6)) AS v
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = 'NATION_3'),
      pv AS (SELECT l_partkey, CAST(sum(v) AS DOUBLE) AS part_value
             FROM supply GROUP BY l_partkey),
      tot AS (SELECT CAST(sum(v) AS DOUBLE) AS total_value FROM supply)
      SELECT pv.l_partkey AS p_partkey, pv.part_value
      FROM pv, tot
      WHERE pv.part_value > CAST(0.001 AS DOUBLE) * tot.total_value
      ORDER BY pv.part_value DESC, p_partkey""")) { (s, dir) =>
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val n = t(s, dir, "nation").filter(col("n_name") === "NATION_3")
        .select("n_nationkey")
      val supply = t(s, dir, "lineitem")
        .join(broadcast(su), su("s_suppkey") === col("l_suppkey"))
        .join(broadcast(n), n("n_nationkey") === su("s_nationkey"))
        .select(col("l_partkey"),
          (col("l_extendedprice") * col("l_quantity"))
            .cast("decimal(18,6)").as("v"))
      val pv = supply.groupBy("l_partkey")
        .agg(sum("v").cast("double").as("part_value"))
      val tot = supply.agg(sum("v").cast("double").as("total_value"))
      pv.crossJoin(broadcast(tot))
        .filter(col("part_value") > lit(0.001) * col("total_value"))
        .select(col("l_partkey").as("p_partkey"), col("part_value"))
        .orderBy(col("part_value").desc, col("p_partkey"))
    },

    // Late-shipment priority split (TPC-H Q12 shape): conditional counts
    // of high- vs low-priority orders among late shipments — two exact
    // integer sums riding one aggregation pass over the order join.
    QueryDef("q12_priority_split", Some("""
      SELECT l.l_linestatus,
             CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_cnt,
             CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 0 ELSE 1 END) AS BIGINT) AS low_cnt
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      GROUP BY l.l_linestatus ORDER BY l.l_linestatus""")) { (s, dir) =>
      val l = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linestatus", "l_shipdate")
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, o("o_orderkey") === l("l_orderkey")
          && l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAY"))
        .groupBy("l_linestatus")
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_cnt"),
          sum(when(hi, 0L).otherwise(1L)).as("low_cnt"))
        .orderBy("l_linestatus")
    },

    // Top supplier (TPC-H Q15 shape): revenue per supplier over a quarter,
    // keeping the max-revenue supplier(s). Revenue stays DECIMAL through
    // the max-equality filter — the `= max` is exact, no double compare —
    // and only the output column casts to double. The max is a one-row
    // broadcast, not a rescan.
    QueryDef("q15_top_supplier", Some("""
      WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(18,6))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate < TIMESTAMP '1998-04-01'
        GROUP BY l_suppkey)
      SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
      FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
      WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
      ORDER BY s.s_suppkey""")) { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("total_rev"))
      val top = rev.agg(max("total_rev").as("max_rev"))
      val su = t(s, dir, "supplier").select("s_suppkey", "s_name")
      rev.crossJoin(broadcast(top))
        .filter(col("total_rev") === col("max_rev"))
        .join(broadcast(su), su("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    },

    // Supplier diversity (TPC-H Q16 shape): distinct suppliers per
    // (brand, size) excluding one brand and a denylist of suppliers.
    // NOT IN over the non-null denylist plans as a broadcast anti join;
    // the distinct count is exact two-level aggregation.
    QueryDef("q16_supplier_cnt", Some("""
      SELECT p.p_brand, p.p_size,
             CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supp_cnt
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand <> 'Brand#1'
        AND l.l_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p.p_brand, p.p_size
      ORDER BY supp_cnt DESC, p.p_brand, p.p_size""")) { (s, dir) =>
      val deny = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      val p = t(s, dir, "part").filter(col("p_brand") =!= "Brand#1")
        .select("p_partkey", "p_brand", "p_size")
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(broadcast(deny), col("l_suppkey") === deny("s_suppkey"),
          "left_anti")
        .join(broadcast(p), p("p_partkey") === col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(countDistinct("l_suppkey").as("supp_cnt"))
        .orderBy(col("supp_cnt").desc, col("p_brand"), col("p_size"))
    },

    // Small-quantity revenue (TPC-H Q17 shape): lineitems of one brand
    // shipped below 20% of their part's average quantity. The correlated
    // per-part average becomes a broadcast part-level aggregate — the
    // fact table is scanned twice but never self-joined row-to-row. The
    // average is (exact decimal sum → double) / count, then one multiply
    // and one compare — every step IEEE-identical cross-engine.
    QueryDef("q17_small_qty", Some("""
      WITH pa AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS avg_qty
        FROM lineitem GROUP BY l_partkey)
      SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(7 AS DOUBLE) AS avg_yearly
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN pa ON pa.l_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#3'
        AND l.l_quantity < CAST(0.2 AS DOUBLE) * pa.avg_qty
      ORDER BY avg_yearly""")) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val pa = li.groupBy(col("l_partkey").as("pa_partkey"))
        .agg((sum(col("l_quantity").cast("decimal(18,6)")).cast("double")
          / count(lit(1)).cast("double")).as("avg_qty"))
      val p = t(s, dir, "part").filter(col("p_brand") === "Brand#3")
        .select("p_partkey")
      li.join(broadcast(p), p("p_partkey") === col("l_partkey"))
        .join(broadcast(pa), col("pa_partkey") === col("l_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,6)"))
          .cast("double") / lit(7.0)).as("avg_yearly"))
        .orderBy("avg_yearly")
    },

    // Dominant suppliers (TPC-H Q20 shape): suppliers shipping more than a
    // an eighth of a part family's total volume. Share test is exact decimal
    // arithmetic (sum × 4 vs sum — no division, no doubles), so the
    // qualifying set is bit-deterministic; DISTINCT collapses multi-part
    // qualifiers. Both aggregates shuffle on the part key once.
    QueryDef("q20_dominant_supp", Some("""
      WITH sp AS (
        SELECT l_suppkey, l_partkey,
               sum(CAST(l_quantity AS DECIMAL(18,6))) AS qty
        FROM lineitem GROUP BY l_suppkey, l_partkey),
      pt AS (
        SELECT l_partkey,
               sum(CAST(l_quantity AS DECIMAL(18,6))) AS total_qty
        FROM lineitem GROUP BY l_partkey)
      SELECT DISTINCT s.s_suppkey, s.s_name
      FROM sp
      JOIN pt ON pt.l_partkey = sp.l_partkey
      JOIN part p ON p.p_partkey = sp.l_partkey
      JOIN supplier s ON s.s_suppkey = sp.l_suppkey
      WHERE p.p_name LIKE 'small%' AND sp.qty * 8 > pt.total_qty
      ORDER BY s.s_suppkey""")) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val sp = li.groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("qty"))
      val pt = li.groupBy(col("l_partkey").as("pt_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("total_qty"))
      val p = t(s, dir, "part").filter(col("p_name").like("small%"))
        .select("p_partkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_name")
      sp.join(pt, col("pt_partkey") === col("l_partkey"))
        .join(broadcast(p), p("p_partkey") === col("l_partkey"))
        .filter(col("qty") * 8 > col("total_qty"))
        .join(broadcast(su), su("s_suppkey") === col("l_suppkey"))
        .select("s_suppkey", "s_name").distinct()
        .orderBy("s_suppkey")
    },

    // LATERAL correlated subquery with ORDER BY + LIMIT: top-2 customers
    // per nation through the SQL surface. Catalyst decorrelates the
    // lateral into a per-nation window (WindowGroupLimit top-k map-side),
    // NOT a per-row re-execution — the plan shape that survives a
    // million-row driving table.
    QueryDef("j7_lateral", Some("""
      SELECT n.n_name, c.c_custkey, c.c_acctbal
      FROM nation n, LATERAL (
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
      ORDER BY n.n_name, c.c_custkey""")) { (s, dir) =>
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        ORDER BY n.n_name, c.c_custkey""")
    })
}
