package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the benchmark's parquet fixture: the ten
  * tables the query suite reads (`graft.Tables.names`), with the shapes
  * and value domains of the repository's sf0.1 test data. Every value is
  * a hash of (table, column, row id), so the bytes are the same on every
  * run and every machine; nothing depends on the workload seed.
  *
  * Sizes: `documents` (5,000) and `embeddings` (2,000) have the sf0.1
  * row counts, since the kernel queries and the lake workload are built
  * on them; the TPC-H-like tables and `events` are at sf0.02, which keeps
  * the relational queries dominated by planning and scheduling, as they
  * are at sf0.1, while the fixture generates in a few seconds. */
object Fixture {
  val Docs = 5000L
  val Vectors = 2000L
  val Dim = 64
  private val Sf = 0.02
  private def rows(atSf1: Long): Long = math.round(atSf1 * Sf)

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Uniform [0, 1) from a hash of the salt and the given columns. */
  private def u(salt: String, cs: Column*): Column =
    pmod(xxhash64((lit(salt) +: cs): _*), lit(1L << 53)).cast("double") /
      lit((1L << 53).toDouble)
  private def pick(salt: String, id: Column, n: Int): Column =
    floor(u(salt, id) * n).cast("int")
  private def choice(salt: String, id: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), pick(salt, id, xs.length) + 1)
  private def money(salt: String, id: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + u(salt, id) * (hi - lo), 2)
  private def micros(iso: String): Long =
    java.time.Instant.parse(iso).toEpochMilli * 1000L

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    val id = col("id")
    def range(n: Long): DataFrame = spark.range(0, n, 1, 1).toDF()
    val nCust = rows(150000); val nSupp = rows(10000); val nPart = rows(200000)
    val nOrd = rows(1500000); val nLine = rows(6000000); val nEv = rows(1000000)
    val region = range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        id.cast("int") + 1).as("r_name"))
    val nation = range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey"))
    val customer = range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick("c_nation", id, 25).as("c_nationkey"),
      money("c_acctbal", id, -999.99, 9999.99).as("c_acctbal"),
      choice("c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supplier = range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick("s_nation", id, 25).as("s_nationkey"),
      money("s_acctbal", id, -999.99, 9999.99).as("s_acctbal"))
    val adj = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val noun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val part = range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", choice("p_adj", id, adj), choice("p_noun", id, noun)).as("p_name"),
      concat(lit("Brand#"), pick("p_brand", id, 25) + 1).as("p_brand"),
      choice("p_type", id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
        .as("p_type"),
      (pick("p_size", id, 50) + 1).as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)) / 10.0).as("p_retailprice"))
    val day = 86400L * 1000000L
    val orders = range(nOrd).select(id.as("o_orderkey"),
      floor(u("o_cust", id) * nCust).cast("long").as("o_custkey"),
      choice("o_status", id, Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_total", id, 1000.0, 500000.0).as("o_totalprice"),
      timestamp_micros(lit(micros("1995-01-01T00:00:00Z")) +
        floor(u("o_date", id) * 2404).cast("long") * day).as("o_orderdate"),
      choice("o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val qty = (pick("l_qty", id, 50) + 1).cast("double")
    val lineitem = range(nLine).select(
      floor(u("l_order", id) * nOrd).cast("long").as("l_orderkey"),
      floor(u("l_part", id) * nPart).cast("long").as("l_partkey"),
      floor(u("l_supp", id) * nSupp).cast("long").as("l_suppkey"),
      (pick("l_line", id, 7) + 1).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u("l_price", id) * 1200.0), 2).as("l_extendedprice"),
      (pick("l_disc", id, 11) / 100.0).as("l_discount"),
      (pick("l_tax", id, 9) / 100.0).as("l_tax"),
      choice("l_rf", id, Seq("A", "N", "R")).as("l_returnflag"),
      choice("l_ls", id, Seq("F", "O")).as("l_linestatus"),
      timestamp_micros(lit(micros("1995-01-02T00:00:00Z")) +
        floor(u("l_ship", id) * 2498).cast("long") * day).as("l_shipdate"))
    val events = range(nEv).select(id.as("event_id"),
      // increasing in event_id, like the source data, with jitter
      timestamp_micros(lit(micros("2024-01-01T00:00:00Z")) +
        floor((id + u("e_ts", id)) * (30.0 * day / nEv)).cast("long")).as("ts"),
      floor(u("e_user", id) * 1500).cast("long").as("user_id"),
      choice("e_type", id, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log1p(-u("e_val", id)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", pick("e_props", id, 100)).as("props"))
    val documents = range(Docs).select(id.as("doc_id"),
      docText(id).as("text"),
      when(u("d_lang", id) < 0.4, lit("en"))
        .otherwise(choice("d_lang2", id, Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), pmod(id, lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // one expression per dimension (higher-order functions do not codegen)
    val raw = (0 until Dim).map(j =>
      (u("v_c", col("label"), lit(j)) - 0.5) + (u("v_n", id, lit(j)) - 0.5) * 0.6)
    val x = (0 until Dim).map(j => element_at(col("raw"), j + 1))
    val embeddings = range(Vectors)
      .withColumn("label", pick("v_label", id, 10))
      .withColumn("raw", array(raw: _*))
      .withColumn("norm", sqrt(x.foldLeft(lit(0.0))((a, v) => a + v * v)))
      .select(id.as("vec_id"), array(x.map(v => (v / col("norm")).cast("float")): _*)
        .as("embedding"), col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** 7–100 vocabulary words; one document in 25 repeats an earlier
    * document's text with its last word replaced (a near duplicate) and
    * one in 600 repeats it exactly, so the dedup queries have work. */
  private def docText(id: Column): Column = {
    def words(d: Column, salt: String): Column = {
      val n = lit(7) + floor(u(salt + "_n", d) * 94).cast("int")
      transform(sequence(lit(1), n), i =>
        element_at(array(Vocab.map(lit): _*),
          floor(u(salt, d, i) * Vocab.length).cast("int") + 1))
    }
    val src = greatest(lit(0L), id - lit(1L) - floor(u("d_src", id) * 50).cast("long"))
    val kind = u("d_kind", id)
    val near = words(src, "d_w")
    when(kind < 1.0 / 600, concat_ws(" ", words(src, "d_w")))
      .when(kind < 0.04, concat_ws(" ",
        slice(near, lit(1), size(near) - 1), lit("dup")))
      .otherwise(concat_ws(" ", words(id, "d_w")))
  }

  /** Write the named tables under `dir` as `<name>.parquet` (one file
    * each), several tables at a time. */
  def generate(spark: SparkSession, dir: String, names: Set[String]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // interpreted evaluation: compiling ten one-off projections costs more
    // than running them on these row counts
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val writes = tables(spark).filter(t => names(t._1)).map { case (name, df) =>
        pool.submit(new Runnable {
          def run(): Unit =
            df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
        })
      }
      writes.foreach(_.get())
    } finally {
      pool.shutdown()
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
