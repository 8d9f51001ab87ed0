package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The suite workloads' corpus: the ten tables the registered queries
  * read (TPC-H-like star schema plus events, documents and
  * embeddings), in the column names and types of the project's test
  * data, at about 1/100 of TPC-H scale 1. Every value is a hash of the
  * row id and a salt, so the tables are the same on every run and on
  * any partitioning; the recorded query expectations depend on that. */
object Corpus {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def h(salt: Int): Column = xxhash64(col("id"), lit(salt))
  private def mod(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
  /** uniform in [0, 1) */
  private def u(salt: Int): Column = mod(salt, 1000000L).cast("double") / 1e6
  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (mod(salt, xs.size.toLong) + 1).cast("int"))
  private def ntz(c: Column): Column = c.cast("timestamp_ntz")

  private val Vocab = Seq("a", "the", "data", "table", "row", "column", "key", "value",
    "query", "scan", "join", "agg", "group", "order", "sort", "filter", "window",
    "stream", "batch", "spark", "hash", "merge", "part", "line", "customer", "fast",
    "slow", "big", "small")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def r(n: Long): DataFrame = spark.range(0L, n, 1L, 1).toDF()
    val region = r(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = r(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))
    val customer = r(1500).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      mod(1, 25).cast("int").as("c_nationkey"),
      round(u(2) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = r(100).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      mod(4, 25).cast("int").as("s_nationkey"),
      round(u(5) * 10999.99 - 999.99, 2).as("s_acctbal"))
    val part = r(2000).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("small", "red", "blue", "large", "shiny", "green")),
        pick(7, Seq("ring", "widget", "bolt", "gear", "panel", "valve"))).as("p_name"),
      concat(lit("Brand#"), mod(8, 25) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL")).as("p_type"),
      (mod(10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + col("id") / 10.0, 2).as("p_retailprice"))
    val orders = r(15000).select(col("id").as("o_orderkey"),
      mod(11, 1500).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(13) * 550000 + 850, 2).as("o_totalprice"),
      ntz(date_add(lit("1995-01-01").cast("date"), mod(14, 2404).cast("int"))).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = r(60000).select(mod(16, 15000).as("l_orderkey"),
      mod(17, 2000).as("l_partkey"),
      mod(18, 100).as("l_suppkey"),
      (mod(19, 7) + 1).cast("int").as("l_linenumber"),
      (mod(20, 50) + 1).cast("double").as("l_quantity"),
      round(u(21) * 100000 + 900, 2).as("l_extendedprice"),
      (mod(22, 11).cast("double") / 100).as("l_discount"),
      (mod(23, 9).cast("double") / 100).as("l_tax"),
      pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("O", "F")).as("l_linestatus"),
      ntz(date_add(lit("1995-01-01").cast("date"), mod(26, 2500).cast("int"))).as("l_shipdate"))
    // one event every ~259 s over 30 days, with microsecond jitter
    val events = r(10000).select(col("id").as("event_id"),
      ntz(timestamp_micros(lit(1704067200000000L) + col("id") * 259200000L
        + mod(27, 259000000L))).as("ts"),
      mod(28, 150).as("user_id"),
      pick(29, Seq("click", "view", "purchase", "error", "signup")).as("event_type"),
      round(u(30) * 490 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", mod(31, 100)).as("props"))
    // texts drawn from a small vocabulary; every fifth document repeats
    // an earlier one with one word changed, so near-duplicates exist
    val baseId = when(pmod(col("id"), lit(5L)) === 4, col("id") - 4).otherwise(col("id"))
    val words = (pmod(xxhash64(baseId, lit(32)), lit(60L)) + 20).cast("int")
    val vocab = array(Vocab.map(lit): _*)
    val text = array_join(transform(sequence(lit(1), words), i =>
      element_at(vocab, (pmod(xxhash64(when(i === 3, col("id")).otherwise(baseId), i),
        lit(Vocab.size.toLong)) + 1).cast("int"))), " ")
    val documents = r(500).select(col("id").as("doc_id"), text.as("text"),
      pick(33, Seq("en", "en", "en", "fr", "de", "es", "zh")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val embeddings = r(500).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(col("id"), i, lit(34)), lit(1000000L)).cast("double") / 1e6 - 0.5) * 0.6)
          .cast("float")).as("embedding"),
      mod(35, 10).cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write every table as one parquet file `<dir>/<name>.parquet`,
    * the layout of the test data (the streaming queries link the file). */
  def write(spark: SparkSession, dir: String): Unit =
    tables(spark).foreach { case (name, df) =>
      val staging = java.nio.file.Paths.get(dir, "_staging", name)
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = staging.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      rmTree(staging.getParent)
    }

  def rmTree(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
    val s = java.nio.file.Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
    finally s.close()
  }
}
