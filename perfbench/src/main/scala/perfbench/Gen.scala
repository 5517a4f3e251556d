package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input tables for `query_suite`, in the schemas `graft.sources
  * .Tables` declares and with the value ranges the driver fixtures have
  * (TPC-H-like dimensions and facts, January-2024 events, a small-vocabulary
  * document corpus with ~10% near-duplicates), for the tables the suite's
  * entries read.
  * Every cell is a hash of (seed, column tag, row id), so one seed always
  * yields the same files and another seed yields different ones.
  *
  * This is a fork of the program's `graft.tools.GenData.write` (same hash
  * tags, value ranges, vocabulary, near-duplicate rule and dates), made
  * only to add the seed and the table filter. It drifts from `GenData`
  * whenever the fixtures are re-profiled; once `GenData.write` takes a
  * seed, this object should go. */
object Gen {
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Rows per table at scale factor `sf`. */
  def rows(sf: Double): Map[String, Long] = {
    def n(base: Long) = math.max(1L, (base * sf).toLong)
    Map("nation" -> 25L, "supplier" -> n(10000), "part" -> n(200000),
      "orders" -> n(1500000), "lineitem" -> n(1500000) * 4, "events" -> n(1000000),
      "documents" -> n(500000))
  }

  /** Write the `tables` named, at scale factor `sf`, under `dir`. */
  def write(s: SparkSession, dir: String, seed: Long, sf: Double, tables: Set[String]): Unit = {
    val n = rows(sf)
    val id = col("id")
    def h(tag: String, c: Column = id): Column = abs(xxhash64(lit(seed), lit(tag), c))
    def u01(tag: String): Column = (h(tag) % 1000000L).cast("double") / lit(1000000.0)
    def pick(tag: String, values: Seq[String], c: Column = id): Column =
      element_at(array(values.map(lit): _*), (h(tag, c) % values.size).cast("int") + 1)
    // the driver fixtures' parquet timestamps are NTZ, micros
    def day(c: Column): Column = timestamp_micros(c * 86400L * 1000000L).cast("timestamp_ntz")
    def out(name: String, df: => DataFrame): Unit = if (tables(name))
      df.repartition(math.max(1, math.min(8, (n(name) / 50000L).toInt)))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      out("nation", s.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
      out("supplier", s.range(n("supplier")).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        (h("s_nat") % 25).cast("int").as("s_nationkey"),
        (floor(u01("s_bal") * 1099900) / 100 - 999).as("s_acctbal")))
      out("part", s.range(n("part")).select(id.as("p_partkey"),
        concat(pick("p_c", Seq("red", "green", "blue", "small", "large")), lit(" "),
          pick("p_n", Seq("widget", "bolt", "ring", "gear", "cog"))).as("p_name"),
        concat(lit("Brand#"), (h("p_b") % 25) + 1).as("p_brand"),
        pick("p_t", Seq("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"))
          .as("p_type"),
        ((h("p_s") % 50) + 1).cast("int").as("p_size"),
        (floor(lit(90000) + u01("p_r") * 9990) / 100).as("p_retailprice")))
      // 1995-01-01 + up to 2405 days; lineitem recomputes it from the key
      def orderDay(key: Column): Column = lit(9131L) + h("o_dt", key) % 2405
      out("orders", s.range(n("orders")).select(id.as("o_orderkey"),
        (h("o_cust") % math.max(1L, (150000 * sf).toLong)).as("o_custkey"),
        pick("o_st", Seq("F", "O", "P")).as("o_orderstatus"),
        (floor(lit(90000) + u01("o_tp") * 10409788) / 100).as("o_totalprice"),
        day(orderDay(id)).as("o_orderdate"),
        pick("o_pr", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")))
      val order = (id / 4).cast("long")
      out("lineitem", s.range(n("lineitem")).select(order.as("l_orderkey"),
        (h("l_part") % n("part")).as("l_partkey"),
        (h("l_supp") % n("supplier")).as("l_suppkey"),
        ((id % 4) + 1).cast("int").as("l_linenumber"),
        ((h("l_qty") % 50) + 1).cast("double").as("l_quantity"),
        (floor(lit(90182) + u01("l_ep") * 10409606) / 100).as("l_extendedprice"),
        ((h("l_dc") % 11).cast("double") / 100).as("l_discount"),
        ((h("l_tx") % 9).cast("double") / 100).as("l_tax"),
        pick("l_rf", Seq("A", "N", "R")).as("l_returnflag"),
        pick("l_ls", Seq("F", "O")).as("l_linestatus"),
        day(orderDay(order) + h("l_sd") % 95 + 1).as("l_shipdate")))
      out("events", s.range(n("events")).select(id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + (h("e_ts") % 2592000L) * 1000000L
          + h("e_us") % 1000000L).cast("timestamp_ntz").as("ts"),
        (h("e_u") % math.max(1L, n("events") * 3 / 20000)).as("user_id"),
        pick("e_t", Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        (floor(u01("e_v") * 49002) / 100 + lit(0.01)).as("value"),
        format_string("{\"k\": %d}", h("e_k") % 100).as("props")))
      // every tenth document repeats its predecessor's words plus one
      val baseId = when(id % 10 === 9, id - 1).otherwise(id)
      val words = array(vocab.map(lit): _*)
      val len = (h("d_len", baseId) % 72 + 8).cast("int")
      val text = concat(
        array_join(transform(sequence(lit(1), len), i =>
          element_at(words, (abs(xxhash64(lit(seed), lit("d_w"), baseId, i)) % vocab.size)
            .cast("int") + 1)), " "),
        when(id % 10 === 9, lit(" dup")).otherwise(lit("")))
      out("documents", s.range(n("documents")).select(id.as("doc_id"), text.as("text"),
        pick("d_lang", Seq("en", "en", "en", "de", "es", "fr", "zh"), baseId).as("lang"),
        concat(lit("src"), (h("d_src") % 20) + 1).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")))
    } finally s.conf.unset("spark.sql.parquet.outputTimestampType")
  }
}
