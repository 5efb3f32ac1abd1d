package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference pipeline, re-expressed (SURVEY.md §3): both Airflow tasks of
  * reference dags/create-data-lake.py as lazy Spark plans.
  *
  *  Task A (lines 64-84): one fail-fast CSV scan under the declared,
  *    header-checked caso_full schema (R1) → batch stamp (R4) → null-drop
  *    on key columns (R5) → blank/null→0 on the rate column (R6) → bulk
  *    load, replace mode (R9).
  *  Task B (lines 86-105): JSON fetch (R2) → json_normalize 4-level flatten
  *    to dot-named columns (R3) → stamp (R4) → load (R9).
  *
  * Differences by design (SURVEY.md §1.4): the whole chain is ONE Catalyst
  * plan — the CSV parse, filters and column ops fuse into a single
  * codegen'd pass with predicate pushdown, where the reference materialized
  * a full pandas frame per step; and the reference's comma-corrupting COPY
  * serialization bug is not reproduced.
  */
object CovidShape {

  /** The 18 columns of caso_full.csv, the brasil.io national per-place
    * daily export, in file order. The types are exactly the ones
    * `inferSchema` gives on the file, so declaring them leaves the lake
    * unchanged. The per-100k rate stays STRING: the export writes blanks
    * and single spaces in it, which [[fillRate]] turns into 0.0. */
  val CasoFullSchema: StructType = StructType.fromDDL(
    "city STRING, city_ibge_code INT, date DATE, epidemiological_week INT, " +
      "estimated_population INT, estimated_population_2019 INT, is_last BOOLEAN, " +
      "is_repeated BOOLEAN, last_available_confirmed INT, " +
      "last_available_confirmed_per_100k_inhabitants STRING, last_available_date DATE, " +
      "last_available_death_rate DOUBLE, last_available_deaths INT, order_for_place INT, " +
      "place_type STRING, state STRING, new_confirmed INT, new_deaths INT")

  /** R1: caso_full scan under [[CasoFullSchema]] (pd.read_csv analog). The
    * file is parsed once: `inferSchema` would parse all of it a first time
    * just to find types that are known in advance. The declared schema
    * must not make the load any less strict than inference was:
    *  - enforceSchema=false checks each file's header names against the
    *    schema, so a renamed or reordered column fails the load instead of
    *    landing in the wrong field;
    *  - FAILFAST fails the load on a value that does not fit its column,
    *    where inference would have widened the type and PERMISSIVE would
    *    silently NULL the value.
    * caso_full only; input that must survive bad rows goes through
    * [[readCsvQuarantine]]. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("enforceSchema", "false")
      .option("mode", "FAILFAST")
      .schema(CasoFullSchema)
      .csv(path)

  /** R1 hardened: explicit-schema CSV scan that QUARANTINES malformed rows
    * into `_corrupt_record` instead of silently nulling fields (Spark's
    * PERMISSIVE default) or aborting the batch (pandas' default — the
    * reference pipeline dies on the first bad row,
    * reference dags/create-data-lake.py:69). Callers split the result on
    * `_corrupt_record IS NULL`: clean rows flow on, bad rows go to the
    * dead-letter sink with their original text intact for replay — the
    * ingest contract a 100 TB daily drop needs, where one mangled row must
    * cost one row, not the job. No key or pipeline reads through it yet;
    * it stays as the engine's path for malformed input, which CovidShapeSpec
    * pins. */
  def readCsvQuarantine(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", "string"))
      .csv(path)
      // Spark refuses plans that reference ONLY the internal corrupt-record
      // column of a raw CSV scan (AnalysisException since 2.3) — the
      // documented split (clean rows one way, dead letters the other) is
      // exactly such a plan. Caching materializes the scan first, which is
      // the supported workaround and what an ingest step does anyway
      // (read once, write twice).
      .cache()

  /** R2/R3 ingest: nested JSON (the IBGE municipios payload shape).
    * multiLine handles a top-level JSON array, as the REST API returns. */
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** R3: pd.json_normalize — flatten arbitrarily nested structs into flat
    * dot-named columns, derived from the schema (works for any nesting
    * depth, not just the IBGE shape). */
  def flatten(df: DataFrame): DataFrame = {
    def cols(schema: StructType, prefix: String): Seq[Column] =
      schema.fields.flatMap { f =>
        val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case s: StructType => cols(s, path)
          case _ => Seq(col(s"`${path.split('.').mkString("`.`")}`").as(path))
        }
      }
    df.select(cols(df.schema, ""): _*)
  }

  /** R4: batch-constant ingestion stamp. The reference evaluates
    * datetime.today() once on the driver; current_timestamp() is likewise
    * query-constant. Tests pass a literal for determinism. */
  def stamp(df: DataFrame, at: Option[String] = None): DataFrame =
    df.withColumn("created_at_datalake",
      at.map(lit(_).cast("timestamp")).getOrElse(current_timestamp()))

  /** R5: keep rows where every key column is non-null (municipality-only
    * contract — reference line 73). */
  def dropNullKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.na.drop("any", keys)

  /** R6: '', ' ', NULL → 0.0 on a possibly-string-typed rate column
    * (reference lines 74-79). */
  def fillRate(df: DataFrame, column: String): DataFrame =
    df.withColumn(column,
      when(col(column).isNull || trim(col(column).cast("string")) === "", lit(0.0))
        .otherwise(col(column).cast("double")))

  /** Task A end-to-end transform (sink excluded). */
  def covidTransform(raw: DataFrame, stampAt: Option[String] = None): DataFrame =
    fillRate(
      dropNullKeys(stamp(raw, stampAt), Seq("city", "city_ibge_code")),
      "last_available_confirmed_per_100k_inhabitants")

  /** Task B end-to-end transform (sink excluded). */
  def municipiosTransform(raw: DataFrame, stampAt: Option[String] = None): DataFrame =
    stamp(flatten(raw), stampAt)

  /** R12 (logging/progress, reference dags/create-data-lake.py:49-102)
    * re-expressed Spark-native: attach an Observation to the load so row
    * count and null-key count come back from the SAME pass that wrote the
    * data — no second count() job, works identically on a 1000-executor
    * cluster (metrics are merged task-side). */
  def loadReplaceParquetObserved(df: DataFrame, path: String,
      keyCol: String): Map[String, Any] = {
    val obs = org.apache.spark.sql.Observation("load_metrics")
    df.observe(obs, count(lit(1)).as("rows_loaded"),
        count(when(col(keyCol).isNull, 1)).as("null_keys"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    obs.get
  }

  /** R9: full-replace bulk load. Parquet is the harness lake; the JDBC
    * branch is the literal-Postgres path (one connection per partition,
    * executors write in parallel — the distributed analog of COPY). */
  def loadReplaceParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** R8: CSV row serialization (reference dags/create-data-lake.py:53-56 —
    * to_csv into the COPY buffer). Header off to match; the quote/escape
    * handling the reference's sep="," COPY corrupts is correct here. Only
    * CovidShapeSpec calls it; it stays as the reference's R8 sink. */
  def loadReplaceCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "false")
      .csv(path)

  /** R9 over JDBC: the literal-Postgres replace-load, truncating instead of
    * dropping the table. Only CovidShapeSpec calls it, against embedded
    * Derby; it stays as the reference's R9 sink. */
  def loadReplaceJdbc(df: DataFrame, url: String, table: String,
      user: String, password: String): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
      .option("truncate", "true")
      .mode(SaveMode.Overwrite)
      .save()
}
