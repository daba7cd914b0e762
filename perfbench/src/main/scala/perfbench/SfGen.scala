package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded tables in the shape the query registry reads (`graft.Tables`):
  * a TPC-H-like star (region, nation, customer, supplier, part, orders,
  * lineitem) plus `events`, `documents` and `embeddings`, with the same
  * column names, types and value ranges as the driver test data. Sizes
  * follow the test data's ratios to `lineitem`; `docs` and `vectors` set
  * the text and vector corpora, which drive the dedup/ANN/text queries.
  *
  * Documents are drawn from a small vocabulary with 5% exact copies and
  * 10% near copies (two words changed), so exact dedup, MinHash LSH and
  * near-dup clustering all find work.
  */
object SfGen {

  // fixed, so the tables do not depend on the machine's core count
  private val Parts = 4

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "a", "the", "line", "sort", "window", "spark",
    "order", "data", "column", "join", "small", "big", "customer", "query",
    "stream", "merge", "batch", "filter", "group", "vector")

  def write(spark: SparkSession, dir: String, seed: Long, lineitems: Long,
            docs: Long, vectors: Long): Unit = {
    val orders = lineitems / 4
    val customers = math.max(orders / 10, 50)
    val parts = math.max(lineitems / 30, 50)
    val suppliers = math.max(lineitems / 600, 10)
    val events = lineitems / 6
    def u(salt: Int): Column = rand(seed * 7919 + salt)
    def pick(xs: Seq[String], salt: Int): Column =
      element_at(array(xs.map(lit): _*), (floor(u(salt) * xs.size) + 1).cast("int"))
    def save(df: DataFrame, name: String): Unit =
      df.repartition(2).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def dateBetween(y0: String, days: Int, salt: Int): Column =
      date_add(lit(y0).cast("date"), floor(u(salt) * days).cast("int"))
        .cast("timestamp_ntz")

    save(spark.range(0, 5, 1, Parts).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name")), "region")
    save(spark.range(0, 25, 1, Parts).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")
    save(spark.range(0, customers, 1, Parts).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      floor(u(1) * 25).cast("int").as("c_nationkey"),
      round(u(2) * 10000 - 1000, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3)
        .as("c_mktsegment")), "customer")
    save(spark.range(0, suppliers, 1, Parts).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      floor(u(4) * 25).cast("int").as("s_nationkey"),
      round(u(5) * 10000, 2).as("s_acctbal")), "supplier")
    save(spark.range(0, parts, 1, Parts).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(Seq("red", "blue", "small", "hot", "old", "green"), 6),
        pick(Seq("widget", "bolt", "ring", "plate", "rod", "gear"), 7)).as("p_name"),
      concat(lit("Brand#"), floor(u(8) * 25)).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), 9).as("p_type"),
      (floor(u(10) * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 2).as("p_retailprice")), "part")
    save(spark.range(0, orders, 1, Parts).select(col("id").as("o_orderkey"),
      floor(u(11) * customers).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), 12).as("o_orderstatus"),
      round(u(13) * 500000 + 1000, 2).as("o_totalprice"),
      dateBetween("1995-01-01", 2404, 14).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15)
        .as("o_orderpriority")), "orders")
    // four lines per order: (l_orderkey, l_linenumber) is unique, so
    // queries ordered by it have one right answer
    save(spark.range(0, lineitems, 1, Parts).select((col("id") / 4).cast("long").as("l_orderkey"),
      floor(u(17) * parts).cast("long").as("l_partkey"),
      floor(u(18) * suppliers).cast("long").as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (floor(u(19) * 50) + 1).cast("double").as("l_quantity"),
      round(u(20) * 104000 + 900, 2).as("l_extendedprice"),
      (floor(u(21) * 11) / 100).as("l_discount"),
      (floor(u(22) * 9) / 100).as("l_tax"),
      pick(Seq("A", "N", "R"), 23).as("l_returnflag"),
      pick(Seq("F", "O"), 24).as("l_linestatus"),
      dateBetween("1995-01-02", 2498, 25).as("l_shipdate")), "lineitem")
    save(spark.range(0, events, 1, Parts).select(col("id").as("event_id"),
      (lit("2024-01-01").cast("timestamp").cast("long") * 1000000L +
        floor(u(26) * 30L * 86400L * 1000000L).cast("long"))
        .as("us"),
      floor(u(27) * math.max(customers / 10, 10)).cast("long").as("user_id"),
      pick(Seq("click", "signup", "error", "view", "purchase"), 28).as("event_type"),
      (u(29) * 100).as("value"),
      format_string("{\"k\": %d}", floor(u(30) * 100).cast("int")).as("props"))
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")), "events")

    // documents: base texts, then exact and near copies of earlier ones
    val words = array(vocab.map(lit): _*)
    val text = concat_ws(" ", transform(sequence(lit(1), (floor(u(31) * 60) + 20).cast("int")),
      (x: Column) => element_at(words,
        (pmod(xxhash64(lit(seed), col("id"), x), lit(vocab.size.toLong)) + 1).cast("int"))))
    // every random column is drawn before the self-join, whose output
    // order is not deterministic
    val langs = Seq("en", "en", "en", "en", "de", "es", "zh")
    val base = spark.range(0, docs, 1, Parts).select(col("id").as("doc_id"), text.as("text0"),
      u(32).as("r"), floor(u(33) * docs).cast("long").as("src"),
      pick(langs, 34).as("lang"), concat(lit("src"), floor(u(35) * 20)).as("source"))
    val b = base.select(col("doc_id").as("src"), col("text0").as("src_text"))
    val withCopies = base.join(b, "src")
      .select(col("doc_id"),
        when(col("r") < 0.05 && col("src") < col("doc_id"), col("src_text"))
          .when(col("r") < 0.15 && col("src") < col("doc_id"),
            regexp_replace(regexp_replace(col("src_text"), "^\\S+", "merge"),
              "\\S+$", "vector"))
          .otherwise(col("text0")).as("text"), col("lang"), col("source"))
    save(withCopies.select(col("doc_id"), col("text"), col("lang"), col("source"),
      length(col("text")).cast("long").as("n_chars")), "documents")
    save(spark.range(0, vectors, 1, Parts).select(col("id").as("vec_id"),
      array((0 until 64).map(i => (randn(seed * 104729 + i) * 0.13).cast("float")): _*)
        .as("embedding"),
      floor(u(36) * 10).cast("int").as("label")), "embeddings")
  }
}
