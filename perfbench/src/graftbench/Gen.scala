package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the corpus tables (the schemas of the repo's
  * TPC-H-ish test data plus `events`, `documents` and `embeddings`).
  *
  * Every value is a pure function of (seed, table, column, row id) via
  * xxhash64, so the same seed yields byte-identical tables whatever the
  * partitioning. Timestamps are written as TIMESTAMP_NTZ, which parquet
  * stores without the UTC adjustment, as in the original test data. */
object Gen {
  /** Row counts at scale 1; a table's rows are `base * scale`. */
  private val base = Map(
    "customer" -> 150000L, "supplier" -> 10000L, "part" -> 200000L,
    "orders" -> 1500000L, "lineitem" -> 6000000L, "events" -> 1000000L,
    "documents" -> 50000L, "embeddings" -> 50000L)

  def rows(table: String, scale: Double): Long =
    math.max(1L, math.round(base(table) * scale))

  val Words: Seq[String] = Seq("a", "the", "data", "spark", "table", "scan",
    "filter", "join", "hash", "sort", "merge", "group", "agg", "window", "row",
    "column", "batch", "stream", "query", "key", "value", "order", "customer",
    "part", "line", "vector", "fast", "slow", "big", "small")

  /** Uniform double in [0, 1) keyed on (seed, salt, id). */
  def u(seed: Long, salt: String, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1000000007L)).cast("double") /
      lit(1000000007.0)

  def pick(seed: Long, salt: String, values: Seq[String], id: Column = col("id")): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(seed, salt, id) * values.size) + 1).cast("int"))

  private def partitions(n: Long): Int = math.max(1, math.min(16, (n / 50000L).toInt + 1))
  private def range(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n, 1L, partitions(n)).toDF()

  private def days(from: String, seed: Long, salt: String, span: Int): Column =
    date_add(lit(java.sql.Date.valueOf(from)), floor(u(seed, salt) * span).cast("int"))
      .cast("timestamp_ntz")

  /** `n` lineitem rows with ids `from until from + n`; orders/parts/
    * suppliers are drawn from the given key ranges. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, n: Long,
      orders: Long, parts: Long, suppliers: Long): DataFrame = {
    val q = (floor(u(seed, "l_qty") * 50) + 1).cast("double")
    spark.range(from, from + n, 1L, partitions(n))
      .select(
        floor(u(seed, "l_ok") * orders).cast("long").as("l_orderkey"),
        floor(u(seed, "l_pk") * parts).cast("long").as("l_partkey"),
        floor(u(seed, "l_sk") * suppliers).cast("long").as("l_suppkey"),
        (floor(u(seed, "l_ln") * 7) + 1).cast("int").as("l_linenumber"),
        q.as("l_quantity"),
        round(q * (lit(900.0) + u(seed, "l_px") * 1200.0), 2).as("l_extendedprice"),
        round(floor(u(seed, "l_disc") * 11) / 100.0, 2).as("l_discount"),
        round(floor(u(seed, "l_tax") * 9) / 100.0, 2).as("l_tax"),
        pick(seed, "l_rf", Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, "l_ls", Seq("O", "F")).as("l_linestatus"),
        days("1995-01-02", seed, "l_ship", 2498).as("l_shipdate"))
  }

  /** `n` orders rows with keys `from until from + n`. */
  def orders(spark: SparkSession, seed: Long, from: Long, n: Long, customers: Long): DataFrame =
    spark.range(from, from + n, 1L, partitions(n)).select(col("id").as("o_orderkey"),
      floor(u(seed, "o_ck") * customers).cast("long").as("o_custkey"),
      pick(seed, "o_st", Seq("O", "F", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(seed, "o_tp") * 499000.0, 2).as("o_totalprice"),
      days("1995-01-01", seed, "o_date", 2404).as("o_orderdate"),
      pick(seed, "o_pri", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  /** Writes the named corpus tables under `dir` as `<name>.parquet`. */
  def corpus(spark: SparkSession, seed: Long, scale: Double, dir: String,
      tables: Set[String]): Unit = {
    val nCust = rows("customer", scale)
    val nSupp = rows("supplier", scale)
    val nPart = rows("part", scale)
    val nOrd = rows("orders", scale)
    val nUsers = math.max(10L, nCust / 10)
    def save(name: String, df: => DataFrame): Unit =
      if (tables(name)) df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", range(spark, 5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name")).coalesce(1))
    save("nation", range(spark, 25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")).coalesce(1))
    save("customer", range(spark, nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      floor(u(seed, "c_nk") * 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(seed, "c_bal") * 10999.0, 2).as("c_acctbal"),
      pick(seed, "c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")).coalesce(1))
    save("supplier", range(spark, nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      floor(u(seed, "s_nk") * 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(seed, "s_bal") * 10999.0, 2).as("s_acctbal")).coalesce(1))
    save("part", range(spark, nPart).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(seed, "p_adj", Seq("small", "red", "blue", "hot", "large", "green", "cold", "old")),
        pick(seed, "p_noun", Seq("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")))
        .as("p_name"),
      concat(lit("Brand#"), (floor(u(seed, "p_br") * 25) + 1).cast("int")).as("p_brand"),
      pick(seed, "p_type", Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"))
        .as("p_type"),
      (floor(u(seed, "p_size") * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice")).coalesce(1))
    save("orders", orders(spark, seed, 0L, nOrd, nCust).coalesce(1))
    save("lineitem", lineitem(spark, seed, 0L, rows("lineitem", scale),
      nOrd, nPart, nSupp).coalesce(1))
    save("events", range(spark, rows("events", scale)).select(col("id").as("event_id"),
      (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).cast("timestamp_ntz") +
        make_dt_interval(lit(0), lit(0), lit(0),
          round(u(seed, "e_ts") * 2592000.0, 6).cast("decimal(18,6)"))).as("ts"),
      floor(u(seed, "e_user") * nUsers).cast("long").as("user_id"),
      pick(seed, "e_type", Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      round(lit(0.01) + u(seed, "e_val") * 490.0, 2).as("value"),
      format_string("{\"k\": %d}", floor(u(seed, "e_k") * 100).cast("int")).as("props"))
      .coalesce(1))
    val words = array(Words.map(lit): _*)
    val text = array_join(transform(
      sequence(lit(1), (floor(u(seed, "d_len") * 72) + 8).cast("int")),
      i => element_at(words,
        (pmod(xxhash64(lit(seed), lit("d_w"), col("id"), i), lit(Words.size.toLong)) + 1)
          .cast("int"))), " ")
    save("documents", range(spark, rows("documents", scale))
      .select(col("id").as("doc_id"), text.as("text"),
        pick(seed, "d_lang", Seq("en", "en", "en", "zh", "de", "fr", "es")).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")).coalesce(1))
    val label = floor(u(seed, "v_label") * 10).cast("int")
    save("embeddings", range(spark, rows("embeddings", scale))
      .select(col("id").as("vec_id"), label.as("label"))
      .select(col("vec_id"), transform(sequence(lit(1), lit(64)), i =>
        ((pmod(xxhash64(lit(seed), lit("v_c"), col("label"), i), lit(1000003L)) /
          1000003.0 - 0.5) * 0.4 +
          (pmod(xxhash64(lit(seed), lit("v_n"), col("vec_id"), i), lit(1000003L)) /
            1000003.0 - 0.5) * 0.2).cast("float")).as("embedding"),
        col("label")).coalesce(1))
  }
}
