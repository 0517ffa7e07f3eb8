package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. The tables follow `graft.tools.GenData`'s
  * schemas and key densities column for column; every hash salt is offset
  * by `seed * SaltStride`, so each seed draws a different dataset with the
  * same structure and the same seed always draws the same bytes.
  *
  * Besides the tables it writes the two derived inputs the workloads read
  * instead of raw tables: the provider zip of JSON lines (`etl_zones`) and
  * the co-order part edge list (`curation`'s graph step). Inputs are made afresh in
  * every run, never reused from an earlier one: generating them is part
  * of each run's JVM warm-up, so reusing them would make the first timed
  * passes of some runs colder than others.
  */
object Gen {

  val SaltStride = 1000

  private val vocab = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "vector")

  final case class Scale(sf: Double) {
    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEvt = n(1000000)
    val nDoc = n(50000); val nUsers = n(15000)
  }

  /** The edge list is drawn at its own scale `edgesSf`: the co-order
    * graph's density does not fall with scale, so it is kept smaller.
    */
  def write(spark: SparkSession, dir: String, seed: Int, sf: Double,
            tables: Seq[String], zip: Boolean, edgesSf: Option[Double]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val g = new Gen(spark, seed, Scale(sf))
    tables.foreach(t => g.table(t).write.mode("overwrite")
      .parquet(s"$dir/$t.parquet"))
    if (zip) g.writeZip(dir)
    edgesSf.foreach(e => new Gen(spark, seed, Scale(e)).writeEdges(dir))
  }

  /** Zip every JSON part file of `jsonDir` (Spark bookkeeping skipped). */
  private[perfbench] def zipDir(jsonDir: Path, zipPath: Path): Unit = {
    val zout = new java.util.zip.ZipOutputStream(Files.newOutputStream(zipPath))
    val walk = Files.walk(jsonDir)
    try walk.filter(Files.isRegularFile(_))
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .sorted()
      .forEach { p =>
        zout.putNextEntry(new java.util.zip.ZipEntry(
          jsonDir.relativize(p).toString))
        Files.copy(p, zout)
        zout.closeEntry()
      }
    finally { walk.close(); zout.close() }
  }
}

final class Gen(spark: SparkSession, seed: Int, sc: Gen.Scale) {
  import Gen._

  private def salt(s: Int): Column = lit(s + seed * SaltStride)
  private def u(c: Column, s: Int, m: Long): Column =
    pmod(xxhash64(c, salt(s)), lit(m))
  private def pick(idx: Column, options: Seq[String]): Column =
    elt((idx +: options.map(o => lit(o): Column)): _*)
  private def id = col("id")

  def table(name: String): DataFrame = name match {
    case "region" =>
      val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      spark.range(5).select(id.cast("int").as("r_regionkey"),
        pick(id.cast("int") + 1, regions).as("r_name"))
    case "nation" =>
      spark.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"),
        (id % 5).cast("int").as("n_regionkey"))
    case "customer" =>
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")
      spark.range(sc.nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        u(id, 1, 25).cast("int").as("c_nationkey"),
        round(u(id, 2, 1000000) / 100.0, 2).as("c_acctbal"),
        pick(u(id, 3, 5).cast("int") + 1, segs).as("c_mktsegment"))
    case "supplier" =>
      spark.range(sc.nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        u(id, 4, 25).cast("int").as("s_nationkey"),
        round(u(id, 5, 1000000) / 100.0, 2).as("s_acctbal"))
    case "part" =>
      val adjs = Seq("large", "hot", "small", "cold", "steel", "brushed")
      val nouns = Seq("ring", "bolt", "pin", "cap", "disk", "plate")
      val types = Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
        "PROMO")
      spark.range(sc.nPart).select(id.as("p_partkey"),
        concat_ws(" ", pick(u(id, 6, 6).cast("int") + 1, adjs),
          pick(u(id, 7, 6).cast("int") + 1, nouns)).as("p_name"),
        concat(lit("Brand#"), u(id, 8, 25)).as("p_brand"),
        pick(u(id, 9, 6).cast("int") + 1, types).as("p_type"),
        (u(id, 10, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + u(id, 11, 10000) / 10.0, 2).as("p_retailprice"))
    case "orders" =>
      val pris = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")
      spark.range(sc.nOrd).select(id.as("o_orderkey"),
        u(id, 12, sc.nCust).as("o_custkey"),
        elt(u(id, 13, 3).cast("int") + 1, lit("O"), lit("F"), lit("P"))
          .as("o_orderstatus"),
        round(u(id, 14, 40000000) / 100.0, 2).as("o_totalprice"),
        to_timestamp(date_add(lit("1992-01-01").cast("date"),
          u(id, 15, 3470).cast("int"))).as("o_orderdate"),
        pick(u(id, 16, 5).cast("int") + 1, pris).as("o_orderpriority"))
    case "lineitem" =>
      spark.range(sc.nLine).select(
        u(id, 17, sc.nOrd).as("l_orderkey"),
        u(id, 18, sc.nPart).as("l_partkey"),
        u(id, 19, sc.nSupp).as("l_suppkey"),
        (u(id, 20, 7) + 1).cast("int").as("l_linenumber"),
        (u(id, 21, 50) + 1).cast("double").as("l_quantity"),
        round(u(id, 22, 10000000) / 100.0, 2).as("l_extendedprice"),
        (u(id, 23, 11) / 100.0).as("l_discount"),
        (u(id, 24, 9) / 100.0).as("l_tax"),
        elt(u(id, 25, 3).cast("int") + 1, lit("A"), lit("N"), lit("R"))
          .as("l_returnflag"),
        elt(u(id, 26, 2).cast("int") + 1, lit("O"), lit("F"))
          .as("l_linestatus"),
        to_timestamp(date_add(lit("1992-01-01").cast("date"),
          u(id, 27, 3650).cast("int"))).as("l_shipdate"))
    case "events" =>
      val evTypes = Seq("click", "view", "purchase", "signup", "error")
      spark.range(sc.nEvt).select(id.as("event_id"),
        (lit("2024-01-01 00:00:00").cast("timestamp").cast("long")
          + u(id, 28, 30L * 86400)).cast("timestamp").as("ts"),
        u(id, 29, sc.nUsers).as("user_id"),
        pick(u(id, 30, 5).cast("int") + 1, evTypes).as("event_type"),
        round(u(id, 31, 10000) / 100.0, 2).as("value"),
        format_string("{\"k\": %d}", u(id, 32, 100)).as("props"))
    case "documents" =>
      // ~4% of docs repeat the previous doc's token stream plus one tail
      // token: near-duplicates at Jaccard n/(n+2), as in GenData.
      val langs = Seq("en", "es", "fr", "de", "zh")
      val src = when(u(id, 33, 25) === 0 && id > 0, id - 1).otherwise(id)
      val nTok = u(src, 34, 80) + lit(12)
      val words = transform(sequence(lit(1), nTok),
        i => pick(pmod(xxhash64(src, i, salt(0)), lit(vocab.size))
          .cast("int") + 1, vocab))
      val text0 = array_join(words, " ")
      val text = when(src === id, text0).otherwise(concat(text0, lit(" "),
        pick(u(id, 35, vocab.size).cast("int") + 1, vocab)))
      val langPick = u(id, 36, 20)
      spark.range(sc.nDoc).select(id.as("doc_id"), text.as("text"),
        when(langPick < 8, lit("en"))
          .otherwise(pick((langPick % 4).cast("int") + 2, langs)).as("lang"),
        concat(lit("src"), u(id, 37, 20)).as("source"),
        length(text).as("n_chars"))
    case other => throw new IllegalArgumentException(s"unknown table $other")
  }

  /** The external provider's archive: lineitem rows as JSON lines, zipped. */
  def writeZip(dir: String): Unit = {
    val json = Paths.get(dir, "payload-json")
    table("lineitem").repartition(8).write.mode("overwrite")
      .json(json.toString)
    Gen.zipDir(json, Paths.get(dir, "payload.zip"))
    val walk = Files.walk(json)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    finally walk.close()
  }

  /** Symmetric co-order part graph (the x8 gates' construction):
    * parts sharing an order are linked, one row per direction.
    */
  def writeEdges(dir: String): Unit = {
    val li = table("lineitem").select("l_orderkey", "l_partkey").distinct()
    val pairs = li.as("a").join(li.as("b"), "l_orderkey")
      .filter(col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
    pairs.unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(8).write.mode("overwrite").parquet(s"$dir/edges.parquet")
  }
}
