package graft.io

import graft.{Scratch, SparkSpec}
import graft.model.{Format, Zone}
import org.apache.spark.sql.functions._

class ZoneIOSpec extends SparkSpec {

  private def lineitem = spark.read.parquet(sf("lineitem"))

  private def roundTrip(fmt: Format): Unit = {
    val dir = Scratch.fresh(s"rt-${fmt.name}")
    val in = lineitem.limit(500)
    Writers.write(in, fmt, dir)
    val back = Readers.read(spark, fmt, dir)
    assert(back.count() == 500)
    assert(back.columns.sorted.sameElements(in.columns.sorted))
  }

  test("parquet round-trip preserves rows and schema (S2/S3)") {
    val dir = Scratch.fresh("rt-parquet")
    Writers.write(lineitem, Format.Parquet, dir)
    val back = Readers.read(spark, Format.Parquet, dir)
    assert(back.count() == lineitem.count())
    assert(back.schema == lineitem.schema)
  }

  test("avro round-trip preserves rows, columns and timestamp values (S4)") {
    val dir = Scratch.fresh("rt-avro")
    Writers.write(lineitem, Format.Avro, dir)
    val back = Readers.read(spark, Format.Avro, dir)
    assert(back.count() == lineitem.count())
    // avro surfaces the value as TIMESTAMP_NTZ; compare wall-clock rendering
    val a = lineitem.agg(date_format(max("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))
      .head.getString(0)
    val b = back.agg(date_format(max("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))
      .head.getString(0)
    assert(a == b, "timestamp survived avro round-trip")
  }

  test("json write + inferred-schema read round-trips row count (S1)") {
    roundTrip(Format.Json)
  }

  test("orc round-trip") { roundTrip(Format.Orc) }

  test("csv round-trip (header + inferred types; explicit schema override)") {
    val dir = Scratch.fresh("rt-csv")
    val in = lineitem.select("l_orderkey", "l_quantity", "l_returnflag").limit(100)
    Writers.write(in, Format.Csv, dir)
    val inferred = Readers.read(spark, Format.Csv, dir)
    assert(inferred.count() == 100)
    assert(inferred.columns.sorted.sameElements(in.columns.sorted))
    assert(inferred.schema("l_orderkey").dataType ==
      org.apache.spark.sql.types.IntegerType ||
      inferred.schema("l_orderkey").dataType ==
        org.apache.spark.sql.types.LongType)
    val explicit = Readers.read(spark, Format.Csv, dir, Some(in.schema))
    assert(explicit.schema == in.schema)
    assert(explicit.count() == 100)
  }

  test("overwrite mode truncates, not appends") {
    val dir = Scratch.fresh("rt-overwrite")
    Writers.write(lineitem.limit(100), Format.Parquet, dir)
    Writers.write(lineitem.limit(40), Format.Parquet, dir)
    assert(Readers.read(spark, Format.Parquet, dir).count() == 40)
  }

  test("glob read unions matching files (S2 glob semantics)") {
    val dir = Scratch.fresh("rt-glob")
    lineitem.limit(10).write.parquet(s"$dir/a")
    lineitem.limit(5).write.parquet(s"$dir/b")
    val n = spark.read.parquet(s"$dir/*/*.parquet").count()
    assert(n == 15)
  }

  test("partitioned write prunes partitions at planning time") {
    val dir = Scratch.fresh("rt-part")
    val ev = graft.model.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
    Writers.writePartitioned(ev, Format.Parquet, dir, Seq("dt"))
    val days = ev.select("dt").distinct().count()
    assert(days > 1, "fixture must span multiple days for a pruning test")
    val one = ev.select("dt").orderBy("dt").head.getString(0)

    val q = spark.read.parquet(dir).filter(col("dt") === one)
    val n = q.count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "scan must expose partition filters")
    assert(plan.contains(s"isnotnull(dt") || plan.contains("dt#"),
      "partition predicate must reach the scan")
    // pruned scan must read only the one matching directory
    val scanned = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString
    assert(n == ev.filter(col("dt") === one).count())
    val allFiles = new java.io.File(dir).listFiles().count(_.getName.startsWith("dt="))
    assert(allFiles == days.toInt, "one directory per partition value")
  }

  test("compactTo collapses a splintered directory, preserving rows") {
    val src = Scratch.fresh("compact-src")
    val dest = Scratch.fresh("compact-dest")
    lineitem.repartition(40).write.mode("overwrite").parquet(src)
    val before = new java.io.File(src).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(before >= 30, s"fixture should splinter, got $before files")
    val parts = Compact.compactTo(spark, src, dest, Format.Parquet,
      targetBytes = Compact.dataBytes(spark, src)) // everything in ~1 file
    assert(parts == 1)
    val after = new java.io.File(dest).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(after == 1)
    assert(spark.read.parquet(dest).count() == lineitem.count())
  }

  test("dynamic partition pruning fires on the partitioned fact join") {
    import spark.implicits._
    val fact = Scratch.fresh("dpp-spec-fact")
    val dimP = Scratch.fresh("dpp-spec-dim")
    // the fact must be big enough for the DPP benefit heuristic
    // (est. pruned bytes > pruning-side overhead) to clear
    (1 to 20000).map(i => (i.toLong, s"p${i % 4}")).toDF("id", "part")
      .write.mode("overwrite").partitionBy("part").parquet(fact)
    // attribute = literal, NOT a bare boolean column: `b = true` is
    // simplified to `b` before PartitionPruning and fails its
    // isLikelySelective test (PLANS.md round 4, s11_dpp)
    Seq(("p0", "hot"), ("p1", "hot"), ("p2", "cold"), ("p3", "cold"))
      .toDF("p", "tier").write.mode("overwrite").parquet(dimP)
    val joined = spark.read.parquet(fact)
      .join(spark.read.parquet(dimP).filter($"tier" === "hot"),
        $"part" === $"p")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in:\n$plan")
    assert(joined.count() == 10000)
  }

  test("_metadata exposes file-level lineage on any parquet scan") {
    import spark.implicits._
    val dir = Scratch.fresh("meta-lineage")
    lineitem.limit(90).repartition(3).write.mode("overwrite").parquet(dir)
    val withMeta = spark.read.parquet(dir)
      .select(col("l_orderkey"), col("_metadata.file_name").as("f"))
    // every row carries its source file; files partition the rows
    val perFile = withMeta.groupBy("f").count()
      .as[(String, Long)].collect()
    assert(perFile.length == 3, "one lineage group per written file")
    assert(perFile.map(_._2).sum == 90)
    assert(perFile.forall(_._1.endsWith(".parquet")))
  }

  test("loadTable truncate-loads a warehouse table (S9)") {
    val dir = Scratch.fresh("rt-table")
    val z = Zone(dir, Format.Avro)
    Writers.zone(lineitem.limit(25), z)
    Writers.loadTable(spark, z, "", "graft_test", "t1")
    assert(spark.table("graft_test.t1").count() == 25)
    Writers.zone(lineitem.limit(7), z)
    Writers.loadTable(spark, z, "", "graft_test", "t1")
    assert(spark.table("graft_test.t1").count() == 7)
  }

  test("s12: COUNT/MIN/MAX push into the parquet scan as PushedAggregation") {
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val df = spark.read.parquet(sf("lineitem"))
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.min("l_orderkey").as("min_k"),
          org.apache.spark.sql.functions.max("l_orderkey").as("max_k"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*)"),
        s"expected footer-stat aggregation pushdown:\n$plan")
      assert(plan.contains("MIN(l_orderkey)") && plan.contains("MAX(l_orderkey)"))
      // And the pushed scan answers correctly.
      val r = df.collect().head
      val truth = spark.read.parquet(sf("lineitem"))
        .selectExpr("count(*)", "min(l_orderkey)", "max(l_orderkey)")
        .collect().head
      assert(r == truth)
    } finally {
      spark.conf.unset("spark.sql.parquet.aggregatePushdown")
      spark.conf.unset("spark.sql.sources.useV1SourceList")
    }
  }
}
