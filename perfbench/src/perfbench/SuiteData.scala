package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the ten tables the query suites read, at sf0.1 row counts, in
  * the schemas of the engine's test data (`Tables.names`): a TPC-H-like star
  * (region, nation, customer, supplier, part, orders, lineitem), an events
  * stream with JSON `props`, a small-vocabulary document corpus and unit
  * 64-d embeddings.
  *
  * Every value is a pure function of (table, row, column) through Spark's
  * `xxhash64`, over single-partition ranges, so the output is the same on
  * every run and every machine; no RNG state is involved. Each table is
  * written as ONE parquet file `<dir>/<name>.parquet`, which both Spark
  * (`Tables.table`) and DuckDB (`tools/check.py`) read.
  */
object SuiteData {

  private def u(salt: String, c: Column*): Column =
    pmod(xxhash64((lit(salt) +: c): _*), lit(1000000007L)).cast("double") / 1000000007.0

  private def pick(salt: String, n: Long, c: Column*): Column =
    pmod(xxhash64((lit(salt) +: c): _*), lit(n))

  private def choice(salt: String, values: Seq[String], c: Column*): Column =
    element_at(array(values.map(lit): _*), (pick(salt, values.size.toLong, c: _*) + 1).cast("int"))

  private val id = col("id")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def range(n: Long) = spark.range(0, n, 1, 1)
    val region = range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer = range(15000).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick("c_nat", 25, id).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u("c_bal", id) * 10999.0, 2).as("c_acctbal"),
      choice("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment"))
    val supplier = range(1000).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick("s_nat", 25, id).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u("s_bal", id) * 10999.0, 2).as("s_acctbal"))
    val adjectives = Seq("large", "hot", "blue", "old", "cold", "small", "red", "new")
    val nouns = Seq("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring")
    val part = range(20000).select(id.as("p_partkey"),
      concat(choice("p_adj", adjectives, id), lit(" "), choice("p_noun", nouns, id)).as("p_name"),
      concat(lit("Brand#"), (pick("p_brand", 25, id) + 1).cast("string")).as("p_brand"),
      choice("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id)
        .as("p_type"),
      (pick("p_size", 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000).cast("double") / 10.0, 2).as("p_retailprice"))
    val orders = range(150000).select(id.as("o_orderkey"),
      pick("o_cust", 15000, id).as("o_custkey"),
      choice("o_status", Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(lit(1000.0) + u("o_price", id) * 499000.0, 2).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), pick("o_date", 2404, id).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      choice("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority"))
    val quantity = (pick("l_qty", 50, id) + 1).cast("double")
    val lineitem = range(600000).select(pick("l_order", 150000, id).as("l_orderkey"),
      pick("l_part", 20000, id).as("l_partkey"),
      pick("l_supp", 1000, id).as("l_suppkey"),
      (pick("l_line", 7, id) + 1).cast("int").as("l_linenumber"),
      quantity.as("l_quantity"),
      round(quantity * (lit(900.0) + pick("l_price", 1200, id).cast("double")
        * 1.3 + u("l_cents", id)), 2).as("l_extendedprice"),
      (pick("l_disc", 11, id).cast("double") / 100.0).as("l_discount"),
      (pick("l_tax", 9, id).cast("double") / 100.0).as("l_tax"),
      choice("l_rf", Seq("A", "N", "R"), id).as("l_returnflag"),
      choice("l_ls", Seq("F", "O"), id).as("l_linestatus"),
      date_add(lit("1995-01-02").cast("date"), pick("l_date", 2498, id).cast("int"))
        .cast("timestamp").as("l_shipdate"))
    val events = range(100000).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + pick("e_ts", 2592000000000L, id)).as("ts"),
      pick("e_user", 1500, id).as("user_id"),
      choice("e_type", Seq("click", "error", "purchase", "signup", "view"), id).as("event_type"),
      round(u("e_val", id) * 560.0, 2).as("value"),
      concat(lit("{\"k\": "), pick("e_k", 100, id).cast("string"), lit("}")).as("props"))
    val vocab = Seq("a", "agg", "batch", "big", "column", "data", "fast", "filter", "group",
      "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "value", "vector", "window", "index",
      "cache", "plan")
    val vocabArr = array(vocab.map(lit): _*)
    // ~6% of documents are a near copy (one extra token) of a recent
    // document, so the dedup operators find real clusters.
    val base = range(5000).select(id,
      transform(sequence(lit(1), (pick("d_len", 91, id) + 10).cast("int")),
        i => element_at(vocabArr, (pmod(xxhash64(lit("d_tok"), id, i), lit(31L)) + 1).cast("int")))
        .as("toks"))
    val docs = base.as("d").join(base.as("s"),
        col("s.id") === col("d.id") - pick("d_src", 40, col("d.id")) - 1
          && pick("d_dup", 16, col("d.id")) === 0, "left")
      .select(col("d.id").as("doc_id"),
        array_join(when(col("s.id").isNotNull,
            concat(col("s.toks"), array(element_at(vocabArr,
              (pick("d_extra", 31, col("d.id")) + 1).cast("int")))))
          .otherwise(col("d.toks")), " ").as("text"),
        choice("d_lang", Seq("de", "en", "es", "fr", "zh"), col("d.id")).as("lang"),
        concat(lit("src"), pick("d_srcname", 20, col("d.id")).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
    // Unit vectors around one of ten label centroids.
    val raw = range(2000).select(id.as("vec_id"), pick("v_label", 10, id).cast("int").as("label"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)), j =>
        (pmod(xxhash64(lit("v_c"), col("label"), j), lit(2001L)).cast("double") - 1000.0) / 1000.0
          + (pmod(xxhash64(lit("v_n"), col("vec_id"), j), lit(2001L)).cast("double") - 1000.0)
          / 1500.0))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
    val embeddings = raw.select(col("vec_id"),
      transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"), col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> docs, "embeddings" -> embeddings)
  }

  /** Writes every table into `dir`, then `version` into `dir/_version`. */
  def write(spark: SparkSession, dir: File, version: String): Unit = {
    dir.mkdirs()
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try tables(spark).foreach { case (name, df) =>
      val tmp = new File(dir, s"_tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).getOrElse(sys.error(s"no part file for $name"))
      Files.move(part.toPath, new File(dir, s"$name.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
      Util.deleteRecursively(tmp)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
    Files.writeString(new File(dir, "_version").toPath, version)
  }
}
