package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar-function tour (SURVEY.md §2.2) + the reference's ETL-shape
  * operators: nested-JSON flatten (R3, reference dags/create-data-lake.py:95-99)
  * and batch timestamp stamp (R4, reference dags/create-data-lake.py:70,100).
  *
  * Cross-engine notes baked into the oracles (SURVEY.md §7.3): Spark `log` is
  * natural log → DuckDB `ln`; Spark `dayofweek` is 1=Sunday → DuckDB
  * `dayofweek`+1; everything else used here agrees between engines.
  *
  * Scale notes: all functions here are codegen'd Catalyst expressions inside
  * WholeStageCodegen — no UDFs, no JVM boxing, evaluated streaming over the
  * scan with zero shuffles (the final orderBy excepted).
  */
object Functions extends QueryModule {

  /** String family: case, trim, concat, substring, split, regexp, pad. */
  def qFnString(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        lower(col("c_name")).as("name_lower"),
        concat(col("c_mktsegment"), lit(":"), col("c_name")).as("seg_name"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).as("name_len"),
        regexp_extract(col("c_name"), "Customer#(\\d+)", 1).as("digits"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("key_padded"),
        // array_join: the driver's pandas comparator cannot sort raw array
        // cells, so the split result is serialized to a scalar string.
        array_join(split(col("c_name"), "#"), "|").as("name_parts"),
        regexp_replace(col("c_name"), "0+", "0").as("squeezed"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("vowels_low"),
        reverse(col("c_mktsegment")).as("seg_rev"),
        repeat(lit("-"), (col("c_custkey") % 5).cast("int")).as("dashes"))

  /** Date/time family on the engine-agreeing subset. */
  def qFnDate(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"),
        datediff(lit("1998-12-31").cast("date"), to_date(col("o_orderdate")))
          .as("days_to_eoy"))

  /** Math family: rounding, powers, logs, clamps. */
  def qFnMath(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 1).as("price_r1"),
        abs(col("l_discount") - lit(0.05)).as("disc_dev"),
        ceil(col("l_quantity")).as("qty_ceil"),
        floor(col("l_quantity") / 10).as("qty_decile"),
        round(pow(col("l_quantity"), 2), 4).as("qty_sq"),
        round(log(col("l_extendedprice") + 1), 6).as("price_ln"),
        greatest(col("l_tax"), col("l_discount")).as("max_rate"),
        least(col("l_tax"), col("l_discount")).as("min_rate"))

  /** Bitwise family over the event ids: masks, flags, xor-mixing, shifts,
    * popcount, hex rendering — the ID-manipulation toolkit (shard routing,
    * flag fields, hash mixing) in pure codegen'd integer ops. */
  def qFnBitwise(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        col("event_id").bitwiseAND(lit(255L)).as("lo_byte"),
        col("event_id").bitwiseOR(lit(4096L)).as("with_flag"),
        col("event_id").bitwiseXOR(col("user_id")).as("mixed"),
        shiftleft(col("user_id"), 4).as("shifted_l"),
        shiftright(col("event_id"), 2).as("shifted_r"),
        bit_count(col("event_id")).as("popcount"),
        lower(hex(col("event_id"))).as("id_hex"))

  /** Hash family over document text: the content-addressing toolkit —
    * md5 / sha256 hex digests (partition keys, dedup ids, cache keys) and
    * the engine-portable 60-bit integer derived from the md5 prefix (the
    * same construction the MinHash/SimHash tiers build their hash families
    * on: `conv` base-16 → base-10 stays within BIGINT for 15 hex digits,
    * and DuckDB reproduces it exactly via a 0x-prefixed cast). */
  def qFnHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("text_md5"),
        sha2(col("text"), 256).as("text_sha256"),
        expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)")
          .as("hash60"))
      .orderBy(col("doc_id"))

  /** Array family over the embeddings vectors: size, indexing, slice,
    * element transform, and a higher-order fold — all codegen-free
    * higher-order functions, no UDF. */
  def qFnArray(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_elem"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double")).cast("double"), 4).as("vec_sum"),
        round(aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x).cast("double"), 4).as("norm_sq"),
        // + 0.0 normalizes IEEE negative zero (round(-1e-9, 4) is -0.0 in
        // DuckDB but 0.0 in Spark; -0.0 + 0.0 = +0.0 in both). The result is
        // serialized through DECIMAL(10,4) → string → array_join because the
        // driver's pandas comparator cannot sort raw array cells, and raw
        // double→string formatting diverges between engines (Spark uses
        // scientific notation below 1e-3; decimal rendering is fixed-scale
        // in both).
        expr("""array_join(transform(slice(embedding, 1, 4),
               |  x -> cast(cast(round(CAST(x AS DOUBLE), 4) + 0.0D as decimal(10,4)) as string)), '|')"""
          .stripMargin).as("head4"),
        array_position(col("embedding"), element_at(col("embedding"), 3))
          .cast("int").as("pos_of_third"))
      .orderBy(col("vec_id"))

  /** JSON family on events.props (semi-structured analog of the IBGE
    * payload): path extraction + typed parse. */
  def qFnJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_path"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k_typed"),
        // MapType route: strip JSON punctuation, str_to_map, key lookup —
        // the events.props analog of a k=v properties payload.
        element_at(
          expr("str_to_map(regexp_replace(props, '[{}\" ]', ''), ',', ':')"),
          "k").cast("int").as("k_map"))

  /** R3 flatten: build the 4-level nested struct shape (municipio →
    * microrregiao → mesorregiao → UF analog) then flatten to dot-named
    * columns exactly as pd.json_normalize does. */
  def qFlatten(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), struct(
        col("event_type").as("tipo"),
        struct(col("user_id").as("id"),
          struct(round(col("value"), 4).as("valor"),
            get_json_object(col("props"), "$.k").cast("int").as("k"))
            .as("detalhe")).as("sub")).as("municipio"))
      .select(
        col("event_id"),
        col("municipio.tipo").as("municipio.tipo"),
        col("municipio.sub.id").as("municipio.sub.id"),
        col("municipio.sub.detalhe.valor").as("municipio.sub.detalhe.valor"),
        col("municipio.sub.detalhe.k").as("municipio.sub.detalhe.k"))

  /** R4 stamp: the batch-constant ingestion timestamp (literal for oracle
    * determinism; production path uses current_timestamp()). */
  def qStamp(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"),
        lit("2026-01-01 00:00:00").cast("timestamp").as("created_at_datalake"))
      .orderBy(col("n_nationkey"))

  /** Struct construction + field access + JSON serialization: pack columns
    * into a named struct, read a field back through the struct, and emit
    * the struct as canonical JSON (both engines serialize {"k":v} with no
    * whitespace and document key order, so the string is oracle-stable for
    * integer/string fields — doubles are kept OUT of the JSON because
    * double→string rendering diverges between engines). Struct columns are
    * the schema tool for multimodal metadata (see Multimodal.scala) and
    * nested ingest (R3); this key pins their scalar semantics. */
  def qFnStruct(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 9500)
      .select(
        col("c_custkey"),
        struct(
          col("c_custkey").as("custkey"),
          col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nation")).as("meta"))
      .select(
        col("c_custkey"),
        col("meta.seg").as("seg_from_struct"),
        to_json(col("meta")).as("meta_json"))
      .orderBy(col("c_custkey"))

  /** Positional explode (LATERAL VIEW posexplode): each token with its
    * 1-based position in the document — the ordinality-preserving unnest
    * that plain explode loses, needed whenever order inside the array is
    * data (token positions, n-gram offsets, chunk indices). Map-only: the
    * generate runs inside the scan stage, no shuffle until the sort. */
  def qExplodePos(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("token"))

  /** MapType family: parse the props payload into a real MAP column, grow
    * it (map_concat), look up (element_at), prune (map_filter), rewrite
    * values (transform_values), and serialize deterministically
    * (sorted-key array_join — map iteration order is NOT a contract, so
    * every output derives from sorted keys). The oracle reconstructs each
    * output from the known payload structure — the map is the Spark-side
    * representation under test, not a cross-engine type. */
  def qFnMap(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("m0", expr("str_to_map(regexp_replace(props, '[{}\" ]', ''), ',', ':')"))
      .withColumn("m", expr("map_concat(m0, map('type', event_type))"))
      .select(
        col("event_id"),
        expr("array_join(array_sort(map_keys(m)), ',')").as("keys_sorted"),
        expr("CAST(element_at(m, 'k') AS INT)").as("k_val"),
        expr("size(m)").as("n_entries"),
        expr("array_join(array_sort(map_keys(map_filter(m, (k, v) -> k <> 'k'))), ',')")
          .as("keys_no_k"),
        expr("element_at(transform_values(m, (k, v) -> upper(v)), 'type')").as("type_upper"))

  /** Morton (Z-order) clustering key over two dimensions — the integer
    * arithmetic of a multi-dimensional data-skipping layout
    * (`OPTIMIZE ZORDER BY`), exposed as a query so the oracle pins the bit interleave
    * exactly (4 mask-shift dilation steps per dimension, bit i of x at
    * position 2i, bit i of y at 2i+1 — see Scale.spread16). Distinct
    * (x, y) pairs so the output is a set; z is a total recluster key. */
  def qFnZorder(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 65536).as("x"), (col("l_suppkey") % 65536).as("y"))
      .distinct()
      .withColumn("z", Scale.zorder(col("x"), col("y")))
      .orderBy(col("z"), col("x"), col("y"))
      .limit(100)

  /** Spark 4 VARIANT tour — the open-schema semi-structured path (the
    * modern engine answer to "JSON columns at scale"): ingest the raw JSON
    * `props` string with `parse_json` ONCE into a VariantType value
    * (binary-encoded, no per-access re-parse — the scan cost a repeated
    * get_json_object pays at 100 TB), assemble a nested document with
    * `to_variant_object` (struct → variant binary DIRECTLY — no
    * serialize-to-JSON-text step), then extract typed fields by path.
    * `try_variant_get` with a deliberately wrong type shows the
    * NULL-not-throw contract, and a missing path NULLs rather than
    * erroring. The oracle computes the same values from the raw columns —
    * verifying the variant round-trip preserves exactly the source
    * semantics.
    *
    * Perf note: building the document as `to_json(struct(...))` and then
    * `parse_json`ing that string is a per-row serialize+reparse that made
    * this the slowest scalar-function key (4.5 s isolated at sf0.1).
    * Constructing the variant binary straight from the struct removes both
    * text passes for the same output (to_json omits null fields where to_variant_object keeps variant
    * nulls, but every extracted path NULLs identically either way). The
    * remaining cost was scan parallelism, not the expressions: the events
    * table is a single parquet row group, so the whole 6-path extraction
    * chain ran in ONE task — [[Scale.parallelizeIfUndersplit]] buys the
    * map stage its cores back (4.3 s → 1.2 s at sf0.1; dead branch at
    * production scale where the scan out-splits the core count). */
  def qFnVariant(spark: SparkSession, dir: String): DataFrame =
    Scale.parallelizeIfUndersplit(Tables.events(spark, dir))
      .withColumn("var", to_variant_object(struct(
        col("event_type").as("et"),
        struct(variant_get(parse_json(col("props")), "$.k", "int").as("k"),
          round(col("value"), 4).as("v")).as("meta"),
        array(col("user_id"), col("user_id") * 2).as("ids"))))
      .select(
        col("event_id"),
        variant_get(col("var"), "$.et", "string").as("et"),
        variant_get(col("var"), "$.meta.k", "int").as("k"),
        variant_get(col("var"), "$.meta.v", "double").as("v"),
        variant_get(col("var"), "$.ids[1]", "bigint").as("id2"),
        // wrong-type extraction NULLs under try_, never throws
        try_variant_get(col("var"), "$.et", "int").as("et_as_int"),
        variant_get(col("var"), "$.missing", "string").as("absent"))

  val registry: Map[String, (Query, String)] = Map(
    "q_fn_variant" -> (qFnVariant _,
      """SELECT event_id,
        |       event_type AS et,
        |       CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k,
        |       ROUND(value, 4) AS v,
        |       user_id * 2 AS id2,
        |       CAST(NULL AS INTEGER) AS et_as_int,
        |       CAST(NULL AS VARCHAR) AS absent
        |FROM events ORDER BY event_id""".stripMargin),
    "q_fn_zorder" -> (qFnZorder _,
      """WITH p AS (
        |  SELECT DISTINCT l_partkey % 65536 AS x, l_suppkey % 65536 AS y
        |  FROM lineitem),
        |s0 AS (SELECT x, y,
        |  ((x | (x << 8)) & 16711935) AS ax, ((y | (y << 8)) & 16711935) AS ay
        |  FROM p),
        |s1 AS (SELECT x, y,
        |  ((ax | (ax << 4)) & 252645135) AS ax, ((ay | (ay << 4)) & 252645135) AS ay
        |  FROM s0),
        |s2 AS (SELECT x, y,
        |  ((ax | (ax << 2)) & 858993459) AS ax, ((ay | (ay << 2)) & 858993459) AS ay
        |  FROM s1),
        |s3 AS (SELECT x, y,
        |  ((ax | (ax << 1)) & 1431655765) AS ax, ((ay | (ay << 1)) & 1431655765) AS ay
        |  FROM s2)
        |SELECT x, y, (ax | (ay << 1)) AS z
        |FROM s3 ORDER BY z, x, y LIMIT 100""".stripMargin),
    "q_fn_map" -> (qFnMap _,
      """SELECT event_id,
        |       'k,type' AS keys_sorted,
        |       CAST(json_extract(props, '$.k') AS INT) AS k_val,
        |       2 AS n_entries,
        |       'type' AS keys_no_k,
        |       UPPER(event_type) AS type_upper
        |FROM events ORDER BY event_id""".stripMargin),
    "q_explode_pos" -> (qExplodePos _,
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS l FROM documents)
        |SELECT doc_id, UNNEST(RANGE(1, LEN(l) + 1)) AS pos, UNNEST(l) AS token
        |FROM t ORDER BY doc_id, pos""".stripMargin),
    "q_fn_struct" -> (qFnStruct _,
      """SELECT c_custkey,
        |       c_mktsegment AS seg_from_struct,
        |       to_json(struct_pack(
        |         custkey := c_custkey,
        |         seg := c_mktsegment,
        |         nation := CAST(c_nationkey AS BIGINT))) AS meta_json
        |FROM customer WHERE c_acctbal > 9500
        |ORDER BY c_custkey""".stripMargin),
    "q_fn_bitwise" -> (qFnBitwise _,
      """SELECT event_id,
        |       event_id & 255 AS lo_byte,
        |       event_id | 4096 AS with_flag,
        |       XOR(event_id, user_id) AS mixed,
        |       user_id << 4 AS shifted_l,
        |       event_id >> 2 AS shifted_r,
        |       CAST(BIT_COUNT(event_id) AS INT) AS popcount,
        |       LOWER(TO_HEX(event_id)) AS id_hex
        |FROM events ORDER BY event_id""".stripMargin),
    "q_fn_hash" -> (qFnHash _,
      """SELECT doc_id,
        |       MD5(text) AS text_md5,
        |       SHA256(text) AS text_sha256,
        |       CAST(('0x' || SUBSTR(MD5(text), 1, 15)) AS BIGINT) AS hash60
        |FROM documents ORDER BY doc_id""".stripMargin),
    "q_fn_string" -> (qFnString _,
      """SELECT c_custkey,
        |       UPPER(c_mktsegment) AS seg_upper,
        |       LOWER(c_name) AS name_lower,
        |       c_mktsegment || ':' || c_name AS seg_name,
        |       SUBSTRING(c_name, 1, 8) AS name_prefix,
        |       LENGTH(c_name) AS name_len,
        |       REGEXP_EXTRACT(c_name, 'Customer#(\d+)', 1) AS digits,
        |       LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
        |       ARRAY_TO_STRING(STRING_SPLIT(c_name, '#'), '|') AS name_parts,
        |       REGEXP_REPLACE(c_name, '0+', '0', 'g') AS squeezed,
        |       TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS vowels_low,
        |       REVERSE(c_mktsegment) AS seg_rev,
        |       REPEAT('-', CAST(c_custkey % 5 AS INTEGER)) AS dashes
        |FROM customer ORDER BY c_custkey""".stripMargin),
    "q_fn_date" -> (qFnDate _,
      """SELECT o_orderkey,
        |       EXTRACT(YEAR FROM o_orderdate) AS y,
        |       EXTRACT(MONTH FROM o_orderdate) AS m,
        |       EXTRACT(DAY FROM o_orderdate) AS d,
        |       DAYOFWEEK(o_orderdate) + 1 AS dow,
        |       CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
        |       CAST(o_orderdate AS DATE) + 30 AS due_date,
        |       DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    "q_fn_math" -> (qFnMath _,
      """SELECT l_orderkey, l_linenumber,
        |       ROUND(l_extendedprice, 1) AS price_r1,
        |       ABS(l_discount - 0.05) AS disc_dev,
        |       CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
        |       CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_decile,
        |       ROUND(POW(l_quantity, 2), 4) AS qty_sq,
        |       ROUND(LN(l_extendedprice + 1), 6) AS price_ln,
        |       GREATEST(l_tax, l_discount) AS max_rate,
        |       LEAST(l_tax, l_discount) AS min_rate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    "q_fn_array" -> (qFnArray _,
      """SELECT vec_id,
        |       LEN(embedding) AS dim,
        |       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
        |       ROUND(LIST_AGGREGATE(CAST(embedding AS DOUBLE[]), 'sum'), 4) AS vec_sum,
        |       ROUND(LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum'), 4) AS norm_sq,
        |       ARRAY_TO_STRING(LIST_TRANSFORM(embedding[1:4],
        |         x -> CAST(CAST(ROUND(CAST(x AS DOUBLE), 4) + 0.0 AS DECIMAL(10,4)) AS VARCHAR)), '|') AS head4,
        |       CAST(LIST_POSITION(embedding, embedding[3]) AS INTEGER) AS pos_of_third
        |FROM embeddings ORDER BY vec_id""".stripMargin),
    "q_fn_json" -> (qFnJson _,
      """SELECT event_id,
        |       CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_path,
        |       CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_typed,
        |       CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_map
        |FROM events ORDER BY event_id""".stripMargin),
    "q_flatten" -> (qFlatten _,
      """SELECT event_id,
        |       event_type AS "municipio.tipo",
        |       user_id AS "municipio.sub.id",
        |       ROUND(value, 4) AS "municipio.sub.detalhe.valor",
        |       CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS "municipio.sub.detalhe.k"
        |FROM events ORDER BY event_id""".stripMargin),
    "q_stamp" -> (qStamp _,
      """SELECT n_nationkey, n_name,
        |       TIMESTAMP '2026-01-01 00:00:00' AS created_at_datalake
        |FROM nation ORDER BY n_nationkey""".stripMargin),
  )
}
