package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthesis of the input tables the engine reads (`documents`,
  * `embeddings`, `events` and the TPC-H-shaped `orders`, `customer`,
  * `lineitem`, `nation`), in the shapes of the repository's sf test data.
  *
  * Every cell is a pure function of (seed, row id) through `xxhash64`, so the
  * same seed gives byte-identical tables at any parallelism, and generation
  * is plain Catalyst expressions (no driver-side loops). */
object Gen {

  /** Row counts of one generated table set. */
  final case class Sizes(docs: Int, embeddings: Int, events: Int, users: Int,
      orders: Int, customers: Int, lineitems: Int)

  /** The vocabulary of the repository's synthetic documents (30 words). */
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  private def h(seed: Long, salt: String, parts: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: parts): _*)

  /** Uniform integer in [0, n). */
  private def int(n: Column, seed: Long, salt: String, parts: Column*): Column =
    pmod(h(seed, salt, parts: _*), n.cast("long"))

  private def int(n: Long, seed: Long, salt: String, parts: Column*): Column =
    int(lit(n), seed, salt, parts: _*)

  /** Uniform double in (0, 1]. */
  private def unit(seed: Long, salt: String, parts: Column*): Column =
    (int(1L << 30, seed, salt, parts: _*) + 1).cast("double") / (1L << 30).toDouble

  private def pick(values: Seq[String], seed: Long, salt: String, parts: Column*): Column =
    element_at(array(values.map(lit): _*), (int(values.length.toLong, seed, salt, parts: _*) + 1).cast("int"))

  /** 10 to 99 vocabulary words, a function of (seed, src). */
  private def words(seed: Long, src: Column): Column = {
    val n = lit(10) + int(90, seed, "len", src)
    val vocab = array(Vocab.map(lit): _*)
    concat_ws(" ", transform(sequence(lit(0L), n - 1),
      i => element_at(vocab, (int(Vocab.length.toLong, seed, "word", src, i) + 1).cast("int"))))
  }

  /** doc_id, text, lang, source, n_chars. About 4% of the documents are a
    * near-duplicate of an earlier one (its text plus " dup") and 1% an exact
    * copy, so the dedup family has pairs and clusters to find. */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val id = col("doc_id")
    val kind = int(100, seed, "dupkind", id)
    val back = int(least(id, lit(50L)), seed, "dupsrc", id) + 1
    val copies = id > 0 && kind < 5
    val src = when(copies, id - back).otherwise(id)
    spark.range(n).toDF("doc_id")
      .withColumn("text", when(copies && kind < 4, concat(words(seed, src), lit(" dup")))
        .otherwise(words(seed, src)))
      .withColumn("lang", pick(Seq("en", "en", "en", "zh", "es", "fr", "de"), seed, "lang", id))
      .withColumn("source", concat(lit("src"), id % 20))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** vec_id, 64-dim unit-norm Gaussian embedding (float), label 0-9. */
  def embeddings(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val id = col("vec_id")
    // Box-Muller from two hashed uniforms per dimension
    val gauss = transform(sequence(lit(0), lit(63)), j =>
      sqrt(log(unit(seed, "g1", id, j)) * -2.0) * cos(unit(seed, "g2", id, j) * (2 * math.Pi)))
    spark.range(n).toDF("vec_id")
      .withColumn("g", gauss)
      .withColumn("norm", sqrt(aggregate(col("g"), lit(0.0), (acc, x) => acc + x * x)))
      .select(id, transform(col("g"), x => (x / col("norm")).cast("float")).as("embedding"),
        int(10, seed, "label", id).cast("int").as("label"))
  }

  /** event_id, ts (timestamp_ntz over 30 days), user_id, event_type, value, props. */
  def events(spark: SparkSession, n: Int, users: Int, seed: Long): DataFrame = {
    val id = col("event_id")
    val spanUs = 30L * 86400L * 1000000L
    val stepUs = spanUs / math.max(n, 1)
    val us = lit(1704067200000000L) + id * stepUs + int(stepUs, seed, "jitter", id)
    spark.range(n).toDF("event_id")
      .withColumn("ts", timestamp_micros(us).cast("timestamp_ntz"))
      .withColumn("user_id", int(users.toLong, seed, "user", id))
      .withColumn("event_type", pick(Seq("view", "click", "purchase", "signup", "error"), seed, "etype", id))
      .withColumn("value", round(int(56022, seed, "value", id).cast("double") / 100.0, 2))
      .withColumn("props", concat(lit("{\"k\": "), int(100, seed, "props", id), lit("}")))
  }

  def customer(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val id = col("c_custkey")
    spark.range(n).toDF("c_custkey")
      .withColumn("c_name", concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")))
      .withColumn("c_nationkey", int(25, seed, "cnation", id).cast("int"))
      .withColumn("c_acctbal", round(int(1099999, seed, "acct", id).cast("double") / 100.0 - 999.99, 2))
      .withColumn("c_mktsegment", pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        seed, "seg", id))
  }

  def orders(spark: SparkSession, n: Int, customers: Int, seed: Long): DataFrame = {
    val id = col("o_orderkey")
    spark.range(n).toDF("o_orderkey")
      .withColumn("o_custkey", int(customers.toLong, seed, "ocust", id))
      .withColumn("o_orderstatus", pick(Seq("O", "P", "F"), seed, "ostatus", id))
      .withColumn("o_totalprice", round(lit(1000.0) + int(49900000, seed, "oprice", id).cast("double") / 100.0, 2))
      .withColumn("o_orderdate",
        date_add(lit("1995-01-01").cast("date"), int(2400, seed, "odate", id).cast("int")).cast("timestamp_ntz"))
      .withColumn("o_orderpriority", pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        seed, "oprio", id))
  }

  def lineitem(spark: SparkSession, n: Int, orders: Int, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(n)
      .select(
        int(orders.toLong, seed, "lorder", id).as("l_orderkey"),
        int(2000, seed, "lpart", id).as("l_partkey"),
        int(100, seed, "lsupp", id).as("l_suppkey"),
        (int(7, seed, "lline", id) + 1).cast("int").as("l_linenumber"),
        (int(50, seed, "lqty", id) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + int(10410000, seed, "lprice", id).cast("double") / 100.0, 2).as("l_extendedprice"),
        (int(11, seed, "ldisc", id).cast("double") / 100.0).as("l_discount"),
        (int(9, seed, "ltax", id).cast("double") / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), seed, "lflag", id).as("l_returnflag"),
        pick(Seq("O", "F"), seed, "lstatus", id).as("l_linestatus"),
        date_add(lit("1995-01-01").cast("date"), int(2600, seed, "lship", id).cast("int"))
          .cast("timestamp_ntz").as("l_shipdate"))
  }

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))

  /** `n` pages whose text sits in a layout table (three cells of 60
    * vocabulary words, no `<p>`): the page shape on which the readability
    * candidate wins `Extraction.compareExtraction`'s arbitration. Built on
    * the driver from a seeded `Random`, as strings. */
  def tableLayoutPages(n: Int, seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    def cell(): String = Seq.fill(60)(Vocab(r.nextInt(Vocab.length))).mkString("<tr><td>", " ", "</td></tr>")
    Seq.fill(n)(Seq.fill(3)(cell()).mkString(
      "<html><body><div class=\"article-body\"><table>", "", "</table></div></body></html>"))
  }

  /** Write `documents.parquet` only (the extraction workloads' input). */
  def writeDocuments(spark: SparkSession, dir: String, n: Int, seed: Long): Unit =
    documents(spark, n, seed).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** Write every table the SparkEntry queries read, one single-file parquet each
    * (the layout of the repository's sf directories). */
  def writeAll(spark: SparkSession, dir: String, s: Sizes, seed: Long): Unit = {
    def w(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    w("documents", documents(spark, s.docs, seed))
    w("embeddings", embeddings(spark, s.embeddings, seed))
    w("events", events(spark, s.events, s.users, seed))
    w("customer", customer(spark, s.customers, seed))
    w("orders", orders(spark, s.orders, s.customers, seed))
    w("lineitem", lineitem(spark, s.lineitems, s.orders, seed))
    w("nation", nation(spark))
  }
}
