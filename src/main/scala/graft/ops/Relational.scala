package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators: scan, project, filter, null handling,
  * conditional expressions, limit, distinct, dedup-by-key, sort, top-k.
  *
  * Re-expresses the reference's concrete operators (SURVEY.md §2.1):
  *  - R1 CSV scan (reference dags/create-data-lake.py:66-69) → lazy parquet
  *    scan here; the CSV read, under a declared schema, lives in
  *    [[graft.etl.CovidShape]].
  *  - R5 multi-column null-drop (reference dags/create-data-lake.py:73)
  *  - R6 blank/null → 0 coalesce (reference dags/create-data-lake.py:74-79)
  *  - R7 schema-only slice / limit (reference dags/create-data-lake.py:50)
  *
  * Every query ends in a total-order sort so the DuckDB oracle hash-matches
  * deterministically; aggregated doubles are rounded (SURVEY.md §7.3).
  *
  * Scale notes: all of these are single-pass, shuffle-free except the final
  * global sort (which Spark plans as a range-partitioned exchange) and top-k
  * (which Catalyst plans as TakeOrderedAndProject — no full sort, each
  * partition keeps k rows). Filters and projections reach the parquet scan
  * via pushdown/pruning, so at 100 TB only the referenced columns and
  * matching row groups are read.
  */
object Relational extends QueryModule {

  /** Flagship pipeline (SURVEY.md §7.1): the covid-ETL analog in one query.
    * scan → synthesize nullable cols → null-drop (R5) → coalesce-to-0 (R6) →
    * literal batch stamp (R4) → fact⋈dim join → month rollup → top 10.
    */
  def flagship(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      // caso_full-style "missing" values: blank-ish strings and nulls
      .withColumn("city_like", expr("nullif(l_returnflag, 'R')"))
      .withColumn("rate_like",
        expr("CASE WHEN l_linenumber % 5 = 0 THEN NULL ELSE l_extendedprice END"))
      .na.drop("any", Seq("city_like"))                       // R5
      .withColumn("rate_filled", coalesce(col("rate_like"), lit(0.0))) // R6
      .withColumn("created_at_datalake", lit("2026-01-01 00:00:00"))   // R4
    val o = Tables.orders(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("order_month"),
        col("city_like"))
      .agg(round(sum(col("rate_filled")), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("order_month"), col("city_like"))
      .limit(10)
  }

  /** R1 analog: full-table scan, schema passthrough. Timestamp cast to date
    * so the parquet/DuckDB value spaces agree. */
  def qScan(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("l_shipdate", to_date(col("l_shipdate")))

  /** Projection + rename + derived column. */
  def qProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      // NOT rounded: a per-row IEEE product is bit-identical in any engine,
      // while round() at a decimal midpoint (x.xx5) is representation-
      // dependent. Round only order-sensitive aggregates (SURVEY.md §7.3).
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        col("l_returnflag").as("flag"))

  /** Predicate family: comparison, BETWEEN, IN, LIKE, AND/OR. */
  def qFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity").between(10, 30)
        && col("l_returnflag").isin("A", "N")
        && col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
        && (col("l_linestatus").like("O%") || col("l_discount") > 0.05))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), col("l_discount"))

  /** R5: drop rows where ANY of the subset columns is null
    * (reference dags/create-data-lake.py:73 — dropna(subset=[city, code])).
    * Testdata has no nulls, so nullable columns are synthesized first. */
  def qDropna(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("city_like", expr("nullif(l_returnflag, 'R')"))
      .withColumn("code_like", expr("nullif(l_partkey % 7, 0)"))
      .na.drop("any", Seq("city_like", "code_like"))
      .select(col("l_orderkey"), col("l_linenumber"), col("city_like"), col("code_like"))

  /** R6: '', ' ', NULL → 0.0 on a rate column
    * (reference dags/create-data-lake.py:74-79). */
  def qFillna(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("raw_rate",
        expr("CASE WHEN l_linenumber % 4 = 0 THEN '' " +
          "WHEN l_linenumber % 4 = 1 THEN ' ' " +
          "WHEN l_linenumber % 4 = 2 THEN NULL " +
          "ELSE CAST(l_partkey AS STRING) END"))
      .withColumn("rate_filled",
        when(col("raw_rate").isNull || trim(col("raw_rate")) === "", lit(0.0))
          .otherwise(col("raw_rate").cast("double")))
      .select(col("l_orderkey"), col("l_linenumber"), col("rate_filled"))

  /** CASE WHEN bucketing + grouped rollup. */
  def qCase(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("bucket",
        when(col("o_totalprice") < 1000, "low")
          .when(col("o_totalprice") < 5000, "mid")
          .otherwise("high"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("bucket"))

  /** R7 generalized: deterministic limit (order first, then take). */
  def qLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
      .limit(20)

  /** DISTINCT over a small key space. */
  def qDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Dedup-by-key, deterministic variant: keep the first row per key under a
    * total order (row_number = 1) rather than dropDuplicates' arbitrary pick.
    * (l_orderkey, l_linenumber) is NOT unique in the testdata, so the order
    * includes every column that reaches the projection — ties then produce
    * identical output rows in any engine. */
  def qDedupKey(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey")).orderBy(
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity"), col("l_extendedprice"))
    Tables.lineitem(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
  }

  /** Global multi-key sort, mixed direction. Spark plans a range-partitioned
    * exchange — scales to any size without a single-node sort. */
  def qSort(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_returnflag").desc, col("l_quantity").asc,
        col("l_orderkey").asc, col("l_linenumber").asc)

  /** Top-k: Catalyst plans TakeOrderedAndProject (per-partition heap of k,
    * merge on driver) — no global sort even at 100 TB. */
  def qTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** MERGE INTO re-expressed relationally (SCD-0 upsert): a deterministic
    * change set — updates for keys ≡ 0 (mod 100) (status → 'U', price
    * +10%), inserts for keys ≡ 0 (mod 500) shifted past the key space —
    * merged into the base by a per-key keep-winner window (change rows
    * outrank base rows). This is the whole-table expression of the
    * reference's replace-mode load: one union + one window shuffle on the
    * merge key, no driver-side diffing. Engines without MERGE run exactly
    * this plan; engines with it (Delta/Iceberg) plan the same shuffle
    * under the hood. The +10% price multiply is a single IEEE double op —
    * bit-identical in any engine. */
  def qMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val updates = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * lit(1.1)).as("o_totalprice"))
    val inserts = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 500 === 0)
      .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"))
    mergeByKey(base, updates.unionByName(inserts), "o_orderkey")
  }

  /** Library form of MERGE INTO: `changes` rows replace same-key `base`
    * rows and append otherwise (last-writer-wins with the change set
    * outranking the base). Both inputs must share a schema, and BOTH must
    * be key-unique: a duplicate in `changes` violates the standard MERGE
    * precondition (SQL MERGE raises on duplicate matches), and a duplicate
    * in `base` means the target was never a keyed table to begin with —
    * either way the keep-winner window would pick arbitrarily among the
    * tied rows. Run the exact-dedup tier first if the target may carry
    * duplicates. One union and
    * one keep-winner window shuffle on the merge key — the engine-agnostic
    * plan Delta/Iceberg MERGE lowers to. Idempotent by construction:
    * merging the same change set twice is a no-op (property-tested). */
  def mergeByKey(base: DataFrame, changes: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col("_src").desc)
    base.withColumn("_src", lit(0))
      .unionByName(changes.withColumn("_src", lit(1)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
  }

  /** Snapshot CDC diff: classify every per-customer aggregate state as
    * insert / delete / update / unchanged between two half-year windows
    * ([1996-07-01, 1997-01-01) vs [1997-01-01, 1997-07-01)) and report
    * per-op key counts plus the net revenue delta — the change-capture
    * summary a lake emits between table versions (Delta CDF / Iceberg
    * changelog semantics, computed relationally with no table format).
    *
    * Scale shape: the naive plan materializes snapshot A and snapshot B and
    * full-outer-joins them on the key (two shuffles + a join); here both
    * snapshots fold into ONE conditional aggregation over a single scan —
    * one shuffle on the high-cardinality custkey, then the op
    * classification is a map-side CASE and the final rollup is a 4-row
    * aggregate. Money stays in integer cents until the last division.
    * (Ref behavior: the reference's replace-mode reload recomputes the
    * whole table each run — dags/create-data-lake.py:75 — so "what
    * changed" is exactly the question its consumers cannot answer; this
    * operator closes that gap.) */
  def qCdcDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      to_date(col("o_orderdate")).as("od"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val inA = col("od") >= lit("1996-07-01").cast("date") && col("od") < lit("1997-01-01").cast("date")
    val inB = col("od") >= lit("1997-01-01").cast("date") && col("od") < lit("1997-07-01").cast("date")
    o.filter(inA || inB)
      .groupBy(col("o_custkey"))
      .agg(count(when(inA, 1)).as("na"), sum(when(inA, col("cents"))).as("sa"),
        count(when(inB, 1)).as("nb"), sum(when(inB, col("cents"))).as("sb"))
      .withColumn("op",
        when(col("na") === 0, lit("insert"))
          .when(col("nb") === 0, lit("delete"))
          .when(col("na") =!= col("nb") || col("sa") =!= col("sb"), lit("update"))
          .otherwise(lit("unchanged")))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n_keys"),
        round(expr("CAST(SUM(COALESCE(sb, 0) - COALESCE(sa, 0)) AS DOUBLE) / 100.0"), 2)
          .as("net_delta"))
      .orderBy(col("op"))
  }

  /** Per-JVM sink root: the PID suffix keeps concurrent processes (bench +
    * verify on the same sf) from racing mode("overwrite") on a shared
    * directory; within one JVM re-invocations overwrite deterministically. */
  private[graft] val sinkRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_sink_p${ProcessHandle.current().pid()}_"

  /** The sink directory `name` of the input dataset `dir` under [[sinkRoot]]. */
  private[graft] def sinkPath(dir: String, name: String): String =
    s"$sinkRoot${Integer.toHexString(dir.hashCode)}/$name"

  /** Deletes every sink directory of this JVM. [[graft.GraftSession]] runs
    * it when the application ends, never inside a query: a lazily returned
    * plan reads its sink until it has run. */
  private[graft] def deleteSinks(): Unit = {
    val root = new java.io.File(sinkRoot)
    Option(root.getParentFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(root.getName))
      .foreach(deleteTree)
  }

  /** Deletes `f` and, unless it is a symbolic link, everything below it. */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteTree)
    f.delete(): Unit
  }

  /** Partitioned-layout round-trip — the WRITE-side 100 TB lever the other
    * keys only exercise on read: lay events out `partitionBy(event_type)`
    * (Hive-style directory partitioning, the layout a lake table declares),
    * read it back with a partition predicate, and aggregate the survivors.
    * The read-back plan must show the predicate as a PartitionFilters entry
    * — directory pruning, zero IO for the five other event types — rather
    * than a post-scan Filter; at 100 TB that is the difference between
    * touching 1/6th of the files and touching all of them. The oracle
    * computes the same aggregate straight off the source table, proving the
    * partitioned round-trip loses nothing (row counts, sums, null handling
    * of the partition column all preserved).
    *
    * The sink dir is deterministic per (sf, JVM) — hash of the input dir
    * plus the process PID — under java.io.tmpdir, overwritten each run:
    * rerunnable like the reference's replace-mode load
    * (dags/create-data-lake.py:75), and the PID component means two
    * concurrent JVMs (e.g. bench and verify on the same sf) never race
    * each other's mode("overwrite") of a shared directory. */
  def qSinkPartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val sink = sinkPath(dir, "events_by_type")
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"), col("ts"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(sink)
    spark.read.parquet(sink)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("d"))
      // per-ROW micro-unit conversion, then an exact BIGINT sum — a double
      // SUM would be partition-order-dependent and diverge from the oracle
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000000 + 0.5).cast("long")).as("sum_micro"))
      .orderBy(col("d"))
  }

  /** Range-clustered compaction — the OTHER write-side layout lever next to
    * [[qSinkPartitionPrune]]'s directory partitioning: `repartitionByRange`
    * on `ts` + `sortWithinPartitions` rewrites the table as few large files
    * whose parquet row-group min/max `ts` ranges are DISJOINT, so a time
    * predicate on the read-back skips whole row groups at the footer level
    * (and a time-ordered scan needs no sort). This is the compaction/
    * Z-order-lite maintenance job every lake schedules; on a 100 TB table
    * it is the difference between a range query touching ~W/period of the
    * files and touching all of them. The week-2 aggregate over the
    * clustered copy is oracle-checked against the source table — the
    * rewrite must lose nothing. */
  def qSinkCompact(spark: SparkSession, dir: String): DataFrame = {
    val sink = sinkPath(dir, "events_clustered")
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
      .repartitionByRange(8, col("ts"))
      .sortWithinPartitions(col("ts"), col("event_id"))
      .write.mode("overwrite").parquet(sink)
    spark.read.parquet(sink)
      .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp")
        && col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000000 + 0.5).cast("long")).as("sum_micro"))
      .orderBy(col("event_type"))
  }

  /** Schema evolution round-trip — the lake-table lifecycle event every
    * long-lived pipeline hits: an early batch lands WITHOUT a column
    * (events before 2024-01-15: event_id, user_id, value), a later batch
    * lands WITH it (value_micro, the new enrichment), and the reader
    * reconciles the union via `mergeSchema` — old rows surface the new
    * column as NULL, no rewrite of historical files. The output census
    * (per batch: rows, rows carrying the new column, its exact integer
    * sum) is what a migration review signs off on; the oracle recomputes
    * the same census from the logical split, pinning that evolution
    * changed SHAPE and never values.
    *
    * Scale shape: two append-style writes + one merged read. mergeSchema
    * reconciles footers at planning time — at 100 TB table width the
    * per-file footer merge is the planning cost and the READ itself stays
    * pruned to the 4 referenced columns; production caches the merged
    * schema in a metastore/Delta log, which this key's contract
    * (old-null, new-summed) is exactly the test for. */
  def qSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val sink = sinkPath(dir, "events_evolved")
    val ev = Tables.events(spark, dir)
    val cut = lit("2024-01-15 00:00:00").cast("timestamp")
    ev.filter(col("ts") < cut)
      .select(col("event_id"), col("user_id"), col("value"))
      .write.mode("overwrite").parquet(s"$sink/batch=1")
    ev.filter(col("ts") >= cut)
      .select(col("event_id"), col("user_id"), col("value"),
        floor(col("value") * 1000000 + 0.5).cast("long").as("value_micro"))
      .write.mode("overwrite").parquet(s"$sink/batch=2")
    spark.read.option("mergeSchema", "true").parquet(sink)
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("value_micro")).as("n_with_col"),
        coalesce(sum(col("value_micro")), lit(0L)).as("sum_micro"))
      .orderBy(col("batch"))
  }

  /** GDPR-style cascading erasure audit: an erasure-request set (customers
    * with custkey ≡ 0 mod 97 — the deterministic stand-in for a deletion
    * queue) cascades through the FK chain customer → orders → lineitem;
    * the output is the per-table purge census (totals, purged counts, ppm,
    * remainder) a compliance run ships before the destructive rewrite.
    * The census IS the reviewable artifact; the rewrite itself is the
    * same anti-join flipped (left_anti in place of left_semi) written back
    * through the [[qSinkCompact]]-style sink.
    *
    * Scale shape: the cascade is two left-semi equi-joins down the FK
    * chain (request set is tiny → AQE broadcasts it; the orders hit-list
    * keys the lineitem semi join on the high-cardinality orderkey);
    * censuses are one-row aggregates cross-joined back. No table is
    * scanned more than twice, nothing shuffles on a low-cardinality key. */
  def qPurgeCascade(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val erasure = c.filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    val oPurged = o.join(erasure.withColumnRenamed("c_custkey", "o_custkey"),
      Seq("o_custkey"), "left_semi")
    val liPurged = li.join(oPurged.select(col("o_orderkey").as("l_orderkey")),
      Seq("l_orderkey"), "left_semi")
    def census(name: String, total: DataFrame, purged: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("n_total"))
        .crossJoin(broadcast(purged.agg(count(lit(1)).as("n_purged"))))
        .select(lit(name).as("tbl"), col("n_total"), col("n_purged"),
          expr("div(1000000 * n_purged, n_total)").as("purged_ppm"),
          (col("n_total") - col("n_purged")).as("n_remaining"))
    census("customer", c, erasure)
      .unionByName(census("orders", o, oPurged))
      .unionByName(census("lineitem", li, liPurged))
      .orderBy(col("tbl"))
  }

  /** Z-order (Morton) clustering audit over the orders fact — the
    * data-layout decision a lakehouse writer makes before a big rewrite:
    * interleave 4 customer-bucket bits with 4 order-month bits into an
    * 8-bit z-value, assign 16 z-contiguous files, and report per file the
    * row count, z-range, and how many distinct (customer-bucket,
    * month-bucket) cells it holds — the locality evidence that a reader
    * filtering on EITHER dimension prunes ~√files instead of all of them.
    * Pure integer bit arithmetic (shift/mask/sum), identical in both
    * engines; one map-side-combinable rollup to 16 rows — at 100 TB the
    * same audit runs as a side output of the actual clustered write
    * (`q_sink_compact` is the single-dimension sibling). */
  def qZorder(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .withColumn("cb", expr("o_custkey % 16"))
      .withColumn("tb", expr("(year(o_orderdate) * 12 + month(o_orderdate)) % 16"))
      .withColumn("z", expr(
        """(cb % 2) * 2 + (tb % 2)
          | + (shiftright(cb, 1) % 2) * 8 + (shiftright(tb, 1) % 2) * 4
          | + (shiftright(cb, 2) % 2) * 32 + (shiftright(tb, 2) % 2) * 16
          | + (shiftright(cb, 3) % 2) * 128 + (shiftright(tb, 3) % 2) * 64""".stripMargin))
      .withColumn("file_id", expr("z div 16"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n"), min(col("z")).as("z_min"), max(col("z")).as("z_max"),
        countDistinct(col("cb"), col("tb")).as("n_cells"))
      .orderBy(col("file_id"))
  }

  /** Zone-map data-skipping certificate — the quantitative answer to "which
    * LAYOUT should this table be rewritten into?": the same lineitem rows
    * are assigned to 64 synthetic files under three layouts (hash-shuffled,
    * date-linear, z-ordered on part×date), per-file min/max zone maps are
    * computed for both predicate columns, and a fixed 2-dimensional range
    * predicate is evaluated against the maps exactly the way a parquet
    * reader prunes row groups. Output per layout: file count, files a
    * zone-map reader must scan, rows inside those files, true matching
    * rows, and the read amplification (rows scanned per matching row, ppm)
    * — shuffled ≈ full scan, date-linear prunes the date dimension only,
    * z-order prunes BOTH (the multi-dimensional-locality payoff that
    * motivates `q_zorder`'s layout).
    *
    * Scale shape: file assignment is pure map arithmetic (no global sort —
    * the layouts are defined by key-range/bit-interleave functions, which
    * is exactly how a distributed rewrite routes rows); the zone maps are
    * one map-side-combinable rollup to 3×64 cells; the verdict is
    * cell-bounded. At 100 TB this audit is a side-output of the write. */
  def qZonemapPrune(spark: SparkSession, dir: String): DataFrame = {
    val (pLo, pHi, dLo, dHi) = (1024L, 1535L, 600L, 1100L)
    // px: integer cents of the price, folded to a fixed 0..4095 domain so
    // the predicate window is populated at EVERY scale factor (l_partkey's
    // domain grows with sf; a key-based px would leave the window empty at
    // small sf and the certificate vacuous)
    val files = Tables.lineitem(spark, dir)
      .withColumn("px", expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) % 4096"))
      .withColumn("dx", expr("CAST(datediff(to_date(l_shipdate), DATE '1995-01-01') AS BIGINT)"))
      // three layouts for the same row: hash (worst), date-linear, morton
      .withColumn("f_hash", expr(
        "CAST(conv(substring(md5(concat('zm:', CAST(l_orderkey AS STRING), ':', " +
          "CAST(l_linenumber AS STRING))), 1, 15), 16, 10) AS BIGINT) % 64"))
      .withColumn("f_lin", expr("least(div(dx, 38), 63L)"))
      .withColumn("zx", expr("least(div(px, 512), 7L)"))
      .withColumn("zy", expr("least(div(dx, 301), 7L)"))
      .withColumn("f_z", expr(
        """(zx % 2) * 2 + (zy % 2)
          | + (shiftright(zx, 1) % 2) * 8 + (shiftright(zy, 1) % 2) * 4
          | + (shiftright(zx, 2) % 2) * 32 + (shiftright(zy, 2) % 2) * 16""".stripMargin))
      .select(col("px"), col("dx"), explode(expr(
        "array(struct('shuffled' AS layout, f_hash AS file_id)," +
          " struct('linear_date' AS layout, f_lin AS file_id)," +
          " struct('zorder' AS layout, f_z AS file_id))")).as("lf"))
      .select(col("lf.layout"), col("lf.file_id"), col("px"), col("dx"))
      .groupBy(col("layout"), col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("px")).as("min_px"), max(col("px")).as("max_px"),
        min(col("dx")).as("min_dx"), max(col("dx")).as("max_dx"),
        sum(when(col("px").between(pLo, pHi) && col("dx").between(dLo, dHi), 1L)
          .otherwise(0L)).as("n_match"))
    files
      .withColumn("scanned", col("max_px") >= pLo && col("min_px") <= pHi &&
        col("max_dx") >= dLo && col("min_dx") <= dHi)
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("scanned"), 1L).otherwise(0L)).as("files_scanned"),
        sum(col("n_rows")).as("rows_total"),
        sum(when(col("scanned"), col("n_rows")).otherwise(0L)).as("rows_scanned"),
        sum(col("n_match")).as("rows_matching"))
      .withColumn("read_amp_ppm",
        expr("div(1000000 * rows_scanned, greatest(rows_matching, 1L))"))
      .orderBy(col("layout"))
  }

  /** Incremental view maintenance certificate — the lakehouse pattern that
    * keeps a materialized aggregate fresh WITHOUT re-scanning the base
    * table: the per-priority (count, revenue) view over pre-2000 orders is
    * maintained algebraically from a CDC delta (inserts = year-2000
    * orders, deletes = simulated cancellations in the base window) by
    * adding insert partials and subtracting delete partials — legal
    * because count/sum are abelian-group aggregates. The output pairs the
    * maintained values with a full recompute over the post-delta state and
    * asserts equality per group: the cross-engine proof that delta
    * maintenance is exact, not approximate.
    *
    * Scale shape: the delta passes are delta-sized (the entire point —
    * at 100 TB the base is never re-read); the recompute column exists
    * only because this is a certificate. Money sums are integer cents
    * (floor(price·100+0.5)) so the group merge is exact and
    * order-independent in both engines. */
  def qIvmAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("cents", expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
    val base = o.filter(col("o_orderdate") < lit("2000-01-01").cast("timestamp"))
    val inserts = o.filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp") &&
      col("o_orderdate") < lit("2001-01-01").cast("timestamp"))
    val deletes = base.filter(expr("o_orderkey % 37 = 0"))
    def agg(df: DataFrame, n: String, c: String): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as(n), sum(col("cents")).as(c))
    val maintained = agg(base, "n_b", "c_b")
      .join(agg(inserts, "n_i", "c_i"), Seq("o_orderpriority"), "full")
      .join(agg(deletes, "n_d", "c_d"), Seq("o_orderpriority"), "full")
      .na.fill(0L)
      .select(col("o_orderpriority"),
        (col("n_b") + col("n_i") - col("n_d")).as("n_maintained"),
        (col("c_b") + col("c_i") - col("c_d")).as("cents_maintained"))
    val recomputed = agg(
      base.filter(expr("o_orderkey % 37 <> 0")).unionByName(inserts),
      "n_recomputed", "cents_recomputed")
    maintained.join(recomputed, Seq("o_orderpriority"), "full")
      .select(col("o_orderpriority"), col("n_maintained"), col("cents_maintained"),
        col("n_recomputed"), col("cents_recomputed"),
        (col("n_maintained") === col("n_recomputed") &&
          col("cents_maintained") === col("cents_recomputed")).as("consistent"))
      .orderBy(col("o_orderpriority"))
  }

  /** Dynamic partition pruning certificate — the runtime half of partition
    * pruning ([[qSinkPartitionPrune]] is the static half): the fact table
    * is written partitioned by calendar month, the month dimension is
    * filtered on an attribute the fact doesn't carry (quarter), and the
    * join key is the partition column — so the months to scan are only
    * known at RUNTIME, from the broadcast dim. Spark inserts a
    * DynamicPruningSubquery into the fact scan's partition filters and the
    * scan reads 3 of ~80 month directories; without DPP it reads all of
    * them and discards 96% post-join. The executed plan is spec-pinned to
    * contain the dynamic-pruning filter. At 100 TB this is THE mechanism
    * that makes star-schema queries touch only the partitions the dim
    * filter implies. */
  def qJoinDpp(spark: SparkSession, dir: String): DataFrame = {
    val sink = sinkPath(dir, "orders_by_month")
    Tables.orders(spark, dir)
      .withColumn("omonth",
        expr("CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)"))
      .write.mode("overwrite").partitionBy("omonth").parquet(sink)
    val fact = spark.read.parquet(sink)
    // month dim: every calendar month with its quarter label — the filter
    // column exists ONLY here, so pruning must flow through the join
    val dim = spark.range(0, 12L * 10)
      .select((lit(1995) + col("id") / 12).cast("int").as("y"),
        (col("id") % 12 + 1).cast("int").as("m"))
      .select((col("y") * 100 + col("m")).cast("int").as("omonth"),
        concat(col("y"), lit("-Q"), ((col("m") - 1) / 3 + 1).cast("int")).as("quarter"))
    fact.join(broadcast(dim.filter(col("quarter") === "1996-Q1")), "omonth")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** Compaction planning certificate — the OPTIMIZE scheduler's first
    * step: given the current small-file census (orders sharded by calendar
    * month — the natural ingest partitioning, with real size skew), plan
    * the merge groups a compactor would execute: files sorted largest-first
    * (the FFD-style greedy order) fill contiguous target-sized bins
    * (target = ⌈total/8⌉, so the plan is scale-invariant), and each bin
    * reports its file count, row total, fill ratio vs target, and size
    * range. The plan itself is what a table service submits as its merge
    * job list.
    *
    * Scale shape: the file census is one map-side-combinable rollup to
    * |months| rows; the planning window runs over that BOUNDED profile
    * (≤ hundreds of rows at any corpus size — file counts grow with data
    * but the per-table file LIST is always metadata-sized), never the
    * fact table. */
  def qCompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val fileCensus = Materialize.shared(Tables.orders(spark, dir)
      .groupBy(expr("year(o_orderdate) * 100 + month(o_orderdate)").as("file_id"))
      .agg(count(lit(1)).as("n_rows"))) // bounded profile feeds total AND plan
    val target = fileCensus.agg(expr("div(sum(n_rows), 8) + 1").as("target_rows"))
    fileCensus.crossJoin(broadcast(target))
      .withColumn("cum_before", coalesce(sum(col("n_rows")).over(
        Window.orderBy(col("n_rows").desc, col("file_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("group_id", expr("div(cum_before, target_rows)"))
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("group_rows"),
        max(col("n_rows")).as("largest_file_rows"),
        min(col("n_rows")).as("smallest_file_rows"),
        expr("div(1000000 * sum(n_rows), min(target_rows))").as("fill_ppm"))
      .orderBy(col("group_id"))
  }

  /** Atomic-commit-protocol certificate — the snapshot-isolation audit one
    * step past `q_compaction_plan`/`q_ivm_agg`: a scripted two-writer race
    * on a [[TxnLog]] table. Writer A appends a batch while writer B plans
    * a compaction against the STALE version-0 snapshot; A claims v1 via
    * put-if-absent, B's first commit attempt loses the race, revalidates
    * its base files against the real head (all still live — an append
    * conflicts with nothing), and retries as v2. The certificate is the
    * per-version census from PINNED snapshot reads: version, action,
    * commit attempts, live-file count, rows, and an exact event_id-sum
    * checksum. The oracle recomputes the content censuses from the events
    * table — so the hash matches iff v1 = v0 + exactly the batch (append
    * atomicity), v2 ≡ v1 in content (compaction changes LAYOUT only:
    * snapshot isolation), file counts follow the protocol (4 → 5 → 2),
    * and B really did pay the retry (attempts = 2).
    *
    * Scale shape: commits move file LISTS (KB), never data; every census
    * read is a pinned-version scan. At 100 TB this is the audit a table
    * service runs after every OPTIMIZE to prove the rewrite lost
    * nothing. */
  /** Change-data-feed certificate — the versioned-table feature downstream
    * consumers subscribe to (Delta CDF / Iceberg changelog): the feed
    * between versions N and N+1 is derived from the COMMIT DELTA, never
    * from the table. The log records which files each commit added and
    * removed, so the feed scans only those files: inserts = added∖removed,
    * deletes = removed∖added (bag semantics via exceptAll — a compaction
    * adds and removes files whose contents cancel exactly, so its feed is
    * EMPTY, which is the certificate's point). The script builds a
    * 3-version table (init → append → compact) and emits per-event-type
    * insert/delete censuses per transition plus a '*' total row; the
    * append transition must equal exactly the appended batch and the
    * compact transition must be all-zero.
    *
    * Scale shape: feed cost ∝ churn (the added/removed files), never table
    * size — a 100 TB table whose commit touched 2 files yields a 2-file
    * scan. The exceptAll is a hash anti-semi pass over those files only;
    * in this scripted certificate the compaction's churn is the whole
    * (test-sized) table, which is what lets the zero-row claim be
    * verified. */
  def qChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val path = sinkPath(dir, s"cdf_${System.nanoTime()}")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    TxnLog.init(ev.filter(col("event_id") % 3 =!= 0), path, nFiles = 4)
    TxnLog.append(ev.filter(col("event_id") % 3 === 0), path)
    TxnLog.compactFrom(spark, path, baseVersion = 1L)
    val actions = Map(1L -> "append", 2L -> "compact")
    (1L to 2L).map { v =>
      val prev = TxnLog.liveFiles(path, v - 1)
      val next = TxnLog.liveFiles(path, v)
      def rd(fs: Seq[String]): DataFrame =
        if (fs.isEmpty) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ev.schema)
        else spark.read.parquet(fs: _*)
      // bag-diff over ONLY the commit's churn: added vs removed files
      // (each feeds the per-type AND the total census)
      val ins = Materialize.shared(rd(next.diff(prev)).exceptAll(rd(prev.diff(next))))
      val del = Materialize.shared(rd(prev.diff(next)).exceptAll(rd(next.diff(prev))))
      val insT = ins.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_ins"), sum(col("event_id")).as("chk_ins"))
      val delT = del.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_del"), sum(col("event_id")).as("chk_del"))
      val perType = insT.join(delT, Seq("event_type"), "full_outer")
        .select(lit(v - 1).as("from_v"), lit(v).as("to_v"),
          lit(actions(v)).as("action"), col("event_type"),
          coalesce(col("n_ins"), lit(0L)).as("n_ins"),
          coalesce(col("n_del"), lit(0L)).as("n_del"),
          coalesce(col("chk_ins"), lit(0L)).as("chk_ins"),
          coalesce(col("chk_del"), lit(0L)).as("chk_del"))
      val total = ins
        .agg(count(lit(1)).as("n_ins"),
          coalesce(sum(col("event_id")), lit(0L)).as("chk_ins"))
        .crossJoin(del.agg(count(lit(1)).as("n_del"),
          coalesce(sum(col("event_id")), lit(0L)).as("chk_del")))
        .select(lit(v - 1).as("from_v"), lit(v).as("to_v"),
          lit(actions(v)).as("action"), lit("*").as("event_type"),
          col("n_ins"), col("n_del"), col("chk_ins"), col("chk_del"))
      perType.unionByName(total)
    }.reduce(_ unionByName _).orderBy(col("from_v"), col("event_type"))
  }

  /** VACUUM retention certificate — the GC half of the commit protocol
    * ([[qTxnCommit]] proves commits, this proves the cleanup): after
    * init → append → stale-base compaction, the table root holds 6 data
    * files but only 2 are live at the head; vacuum(keep = head) must
    * delete exactly the 4 superseded files and drop the pre-head log
    * entries, while the pinned head read — taken AFTER the deletes —
    * still returns every row (vacuum shrinks history, never the
    * present). The certificate row carries the protocol-determined file
    * counts as literals and the post-vacuum content census from the
    * surviving snapshot; the oracle recomputes the censuses from the
    * events table, so a vacuum that deleted a LIVE file flips the hash.
    *
    * Scale shape: vacuum moves file NAMES (set difference over the log's
    * lists) and unlink calls — no data pass at all; the content census
    * is one pinned-version scan. At 100 TB the retained-set diff is the
    * entire cost, which is why real formats vacuum continuously. */
  def qTxnVacuum(spark: SparkSession, dir: String): DataFrame = {
    val path = sinkPath(dir, s"vac_${System.nanoTime()}")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    TxnLog.init(ev.filter(col("event_id") % 5 =!= 0), path, nFiles = 4)
    TxnLog.append(ev.filter(col("event_id") % 5 === 0), path)
    val (head, _) = TxnLog.compactFrom(spark, path, baseVersion = 0L)
    val before = TxnLog.allDataFiles(path).size.toLong
    // graceMillis = 0 is safe ONLY because this certificate is single-
    // threaded: every writer above has committed before vacuum scans
    val (removed, retained) = TxnLog.vacuum(path, keepFromVersion = head, graceMillis = 0L)
    TxnLog.read(spark, path, head)
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("event_id")), lit(0L)).as("chk"))
      .select(lit(head).as("head_version"),
        lit(before).as("n_files_before"),
        lit(removed.size.toLong).as("n_removed"),
        lit(retained.size.toLong).as("n_retained"),
        col("n_rows"), col("chk"))
  }

  def qTxnCommit(spark: SparkSession, dir: String): DataFrame =
    txnCommitCensus(spark, dir, sinkPath(dir, s"txn_${System.nanoTime()}"))

  /** [[qTxnCommit]] with the table created at `path`. */
  private[graft] def txnCommitCensus(spark: SparkSession, dir: String,
      path: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    TxnLog.init(ev.filter(col("event_id") % 5 =!= 0), path, nFiles = 4)
    // B's stale view is v0; A commits first
    val (_, appendAttempts) = TxnLog.append(ev.filter(col("event_id") % 5 === 0), path)
    val (v2, compactAttempts) = TxnLog.compactFrom(spark, path, baseVersion = 0L)
    val meta = Map(0L -> ("init", 1), 1L -> ("append", appendAttempts),
      2L -> ("compact", compactAttempts))
    // Census in ONE pass over the DISTINCT live files (guide §2.4): v0's
    // four files are all live at v1 too, so the per-version pinned scans
    // re-read 11 file-scans where only 6 distinct files exist (~2.8 vs
    // ~2.0 corpus passes). The file→version membership is driver-side
    // metadata the log already moves (kilobytes of file lists, the
    // sanctioned scalar use); each row is tagged with every version its
    // file is live at and aggregated per version — identical censuses.
    import spark.implicits._
    val fileVers: Seq[(String, Long)] = (0L to v2)
      .flatMap(v => TxnLog.liveFiles(path, v).map(f => (f, v)))
    val distinctFiles = fileVers.map(_._1).distinct.sorted
    val fv = broadcast(fileVers.toDF("_file", "version"))
    val metaDf = (0L to v2).map { v =>
      val (action, attempts) = meta(v)
      (v, action, attempts.toLong, TxnLog.liveFiles(path, v).size.toLong)
    }.toDF("version", "action", "attempts", "n_files")
    // a version whose live files hold no rows tags no row, so the census
    // is driven from the log (metaDf) and an absent count reads as 0
    val perVersion =
      if (distinctFiles.isEmpty) Seq.empty[(Long, Long, Long)].toDF("version", "n_rows", "chk")
      else spark.read.parquet(distinctFiles: _*)
        .select(col("event_id"), TxnLog.inputFilePath.as("_file"))
        .join(fv, "_file")
        .groupBy(col("version"))
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("chk"))
    metaDf.join(perVersion, Seq("version"), "left")
      .select(col("version"), col("action"), col("attempts"), col("n_files"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("chk"), lit(0L)).as("chk"))
      .orderBy(col("version"))
  }

  /** Row-level MERGE through the transaction log — the certificate for
    * [[TxnLog.merge]], racing two merges over OVERLAPPING key spaces and
    * proving exactly-once key-wins in LOG ORDER: merge A (fresh base)
    * bumps every %7 key; merge B is replayed from a DELIBERATELY STALE
    * base v0 with %3-key updates (values derived from the v0 snapshot)
    * plus %13-derived inserts, so the protocol must detect A inside B's
    * key space (A's rewrite replaced B's affected files / carries %21
    * keys), RESTART from the real head, and reapply — deterministic
    * replay: B pays exactly 3 commit attempts (stale claim, conflict
    * detection, clean commit) and 1 restart. Final state ≡ applying the
    * merges in commit order — for %21 keys B's value wins outright (2×
    * the ORIGINAL cents, not 2× A's bump), which is precisely what
    * distinguishes log-order serialization from lost-update interleaving.
    * The oracle rebuilds all three snapshots from the events table.
    *
    * Scale shape: each merge rewrites only key-matched files (file
    * discovery = one semi-join carrying FILE NAMES to the driver — the
    * kilobytes a log entry holds); censuses are per-version scans. */
  def qTxnMerge(spark: SparkSession, dir: String): DataFrame = {
    val path = sinkPath(dir, s"mrg_${System.nanoTime()}")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    TxnLog.init(ev, path, nFiles = 4)
    val a = ev.filter(col("event_id") % 7 === 0)
      .withColumn("cents", col("cents") + 1000)
    val (v1, attA, rsA) = TxnLog.merge(spark, path, a, "event_id")
    val b = ev.filter(col("event_id") % 3 === 0)
      .withColumn("cents", col("cents") * 2)
      .unionByName(ev.filter(col("event_id") % 13 === 0)
        .select((col("event_id") + lit(1000000000L)).as("event_id"),
          lit(777L).as("cents")))
    val (v2, attB, rsB) = TxnLog.mergeFrom(spark, path, b, "event_id", baseVersion = 0L)
    val meta = Map(0L -> ("init", 1L, 0L),
      v1 -> ("merge_fresh", attA.toLong, rsA.toLong),
      v2 -> ("merge_stale", attB.toLong, rsB.toLong))
    (0L to v2).map { v =>
      val (action, att, rs) = meta(v)
      TxnLog.read(spark, path, v)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("event_id")), lit(0L)).as("chk_id"),
          coalesce(sum(col("cents")), lit(0L)).as("chk_cents"))
        .select(lit(v).as("version"), lit(action).as("action"),
          lit(att).as("attempts"), lit(rs).as("restarts"),
          col("n_rows"), col("chk_id"), col("chk_cents"))
    }.reduce(_ unionByName _).orderBy(col("version"))
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_join_dpp" -> (qJoinDpp _,
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders
        |WHERE YEAR(o_orderdate) = 1996 AND MONTH(o_orderdate) <= 3
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_txn_vacuum" -> (qTxnVacuum _,
      """SELECT CAST(2 AS BIGINT) AS head_version,
        |       CAST(6 AS BIGINT) AS n_files_before,
        |       CAST(4 AS BIGINT) AS n_removed,
        |       CAST(2 AS BIGINT) AS n_retained,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(COALESCE(SUM(event_id), 0) AS BIGINT) AS chk
        |FROM events""".stripMargin),
    "q_change_feed" -> (qChangeFeed _,
      """WITH b AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(event_id) AS BIGINT) AS s
        |  FROM events WHERE event_id % 3 = 0 GROUP BY event_type),
        |t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(COALESCE(SUM(event_id), 0) AS BIGINT) AS s
        |  FROM events WHERE event_id % 3 = 0)
        |SELECT from_v, to_v, action, event_type, n_ins, n_del, chk_ins, chk_del
        |FROM (
        |  SELECT CAST(0 AS BIGINT) AS from_v, CAST(1 AS BIGINT) AS to_v,
        |         'append' AS action, event_type, n AS n_ins,
        |         CAST(0 AS BIGINT) AS n_del, s AS chk_ins,
        |         CAST(0 AS BIGINT) AS chk_del
        |  FROM b
        |  UNION ALL
        |  SELECT 0, 1, 'append', '*', t.n, 0, t.s, 0 FROM t
        |  UNION ALL
        |  SELECT 1, 2, 'compact', '*', 0, 0, 0, 0)
        |ORDER BY from_v, event_type""".stripMargin),
    "q_txn_merge" -> (qTxnMerge _,
      """WITH ev AS (
        |  SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
        |v1 AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 7 = 0 THEN cents + 1000 ELSE cents END AS cents
        |  FROM ev),
        |v2 AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 3 = 0 THEN cents * 2
        |              WHEN event_id % 7 = 0 THEN cents + 1000
        |              ELSE cents END AS cents
        |  FROM ev
        |  UNION ALL
        |  SELECT event_id + 1000000000, CAST(777 AS BIGINT)
        |  FROM ev WHERE event_id % 13 = 0),
        |c0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |              CAST(COALESCE(SUM(event_id), 0) AS BIGINT) AS si,
        |              CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sc FROM ev),
        |c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |              CAST(COALESCE(SUM(event_id), 0) AS BIGINT) AS si,
        |              CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sc FROM v1),
        |c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |              CAST(COALESCE(SUM(event_id), 0) AS BIGINT) AS si,
        |              CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS sc FROM v2)
        |SELECT version, action, attempts, restarts, n_rows, chk_id, chk_cents FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, 'init' AS action,
        |         CAST(1 AS BIGINT) AS attempts, CAST(0 AS BIGINT) AS restarts,
        |         c0.n AS n_rows, c0.si AS chk_id, c0.sc AS chk_cents FROM c0
        |  UNION ALL
        |  SELECT 1, 'merge_fresh', 1, 0, c1.n, c1.si, c1.sc FROM c1
        |  UNION ALL
        |  SELECT 2, 'merge_stale', 3, 1, c2.n, c2.si, c2.sc FROM c2)
        |ORDER BY version""".stripMargin),
    "q_txn_commit" -> (qTxnCommit _,
      """WITH b AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(COALESCE(SUM(event_id), 0) AS BIGINT) AS s
        |  FROM events WHERE event_id % 5 <> 0),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(COALESCE(SUM(event_id), 0) AS BIGINT) AS s
        |  FROM events)
        |SELECT version, action, attempts, n_files, n_rows, chk FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, 'init' AS action,
        |         CAST(1 AS BIGINT) AS attempts, CAST(4 AS BIGINT) AS n_files,
        |         b.n AS n_rows, b.s AS chk FROM b
        |  UNION ALL
        |  SELECT 1, 'append', 1, 5, a.n, a.s FROM a
        |  UNION ALL
        |  SELECT 2, 'compact', 2, 2, a.n, a.s FROM a)
        |ORDER BY version""".stripMargin),
    "q_compaction_plan" -> (qCompactionPlan _,
      """WITH census AS (
        |  SELECT YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS file_id,
        |         CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM orders GROUP BY 1),
        |tgt AS (SELECT CAST(SUM(n_rows) AS BIGINT) // 8 + 1 AS target_rows FROM census),
        |planned AS (
        |  SELECT file_id, n_rows, target_rows,
        |         CAST(COALESCE(SUM(n_rows) OVER (ORDER BY n_rows DESC, file_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |           AS cum_before
        |  FROM census CROSS JOIN tgt)
        |SELECT CAST(cum_before // target_rows AS BIGINT) AS group_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_files,
        |       CAST(SUM(n_rows) AS BIGINT) AS group_rows,
        |       MAX(n_rows) AS largest_file_rows,
        |       MIN(n_rows) AS smallest_file_rows,
        |       (1000000 * CAST(SUM(n_rows) AS BIGINT)) // MIN(target_rows) AS fill_ppm
        |FROM planned GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_zonemap_prune" -> (qZonemapPrune _,
      """WITH r AS (
        |  SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) % 4096 AS px,
        |         CAST(DATEDIFF('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))
        |              AS BIGINT) AS dx,
        |         CAST('0x' || SUBSTR(MD5('zm:' || CAST(l_orderkey AS VARCHAR) || ':'
        |              || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS f_hash
        |  FROM lineitem),
        |z AS (
        |  SELECT px, dx, f_hash,
        |         LEAST(dx // 38, 63) AS f_lin,
        |         LEAST(px // 512, 7) AS zx, LEAST(dx // 301, 7) AS zy
        |  FROM r),
        |stacked AS (
        |  SELECT px, dx, 'shuffled' AS layout, f_hash AS file_id FROM z
        |  UNION ALL
        |  SELECT px, dx, 'linear_date', f_lin FROM z
        |  UNION ALL
        |  SELECT px, dx, 'zorder',
        |         (zx % 2) * 2 + (zy % 2)
        |         + ((zx >> 1) % 2) * 8 + ((zy >> 1) % 2) * 4
        |         + ((zx >> 2) % 2) * 32 + ((zy >> 2) % 2) * 16
        |  FROM z),
        |zonemaps AS (
        |  SELECT layout, file_id, COUNT(*) AS n_rows,
        |         MIN(px) AS min_px, MAX(px) AS max_px,
        |         MIN(dx) AS min_dx, MAX(dx) AS max_dx,
        |         CAST(SUM(CASE WHEN px BETWEEN 1024 AND 1535
        |                        AND dx BETWEEN 600 AND 1100
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        |  FROM stacked GROUP BY 1, 2),
        |flagged AS (
        |  SELECT *, (max_px >= 1024 AND min_px <= 1535
        |             AND max_dx >= 600 AND min_dx <= 1100) AS scanned
        |  FROM zonemaps)
        |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        |       CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
        |       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
        |       CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        |       CAST(SUM(n_match) AS BIGINT) AS rows_matching,
        |       (1000000 * CAST(SUM(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT))
        |         // GREATEST(CAST(SUM(n_match) AS BIGINT), 1) AS read_amp_ppm
        |FROM flagged GROUP BY layout ORDER BY layout""".stripMargin),
    "q_ivm_agg" -> (qIvmAgg _,
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority, o_orderdate,
        |         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |base AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '2000-01-01'),
        |ins AS (SELECT * FROM o WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |                          AND o_orderdate < TIMESTAMP '2001-01-01'),
        |del AS (SELECT * FROM base WHERE o_orderkey % 37 = 0),
        |ab AS (SELECT o_orderpriority, COUNT(*) AS n_b, SUM(cents) AS c_b
        |       FROM base GROUP BY 1),
        |ai AS (SELECT o_orderpriority, COUNT(*) AS n_i, SUM(cents) AS c_i
        |       FROM ins GROUP BY 1),
        |ad AS (SELECT o_orderpriority, COUNT(*) AS n_d, SUM(cents) AS c_d
        |       FROM del GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(ab.o_orderpriority, ai.o_orderpriority, ad.o_orderpriority)
        |           AS o_orderpriority,
        |         COALESCE(n_b, 0) + COALESCE(n_i, 0) - COALESCE(n_d, 0) AS n_maintained,
        |         COALESCE(c_b, 0) + COALESCE(c_i, 0) - COALESCE(c_d, 0) AS cents_maintained
        |  FROM ab
        |  FULL JOIN ai ON ab.o_orderpriority = ai.o_orderpriority
        |  FULL JOIN ad ON COALESCE(ab.o_orderpriority, ai.o_orderpriority)
        |                    = ad.o_orderpriority),
        |rc AS (
        |  SELECT o_orderpriority, COUNT(*) AS n_recomputed, SUM(cents) AS cents_recomputed
        |  FROM (SELECT * FROM base WHERE o_orderkey % 37 <> 0
        |        UNION ALL SELECT * FROM ins)
        |  GROUP BY 1)
        |SELECT m.o_orderpriority,
        |       CAST(n_maintained AS BIGINT) AS n_maintained,
        |       CAST(cents_maintained AS BIGINT) AS cents_maintained,
        |       CAST(n_recomputed AS BIGINT) AS n_recomputed,
        |       CAST(cents_recomputed AS BIGINT) AS cents_recomputed,
        |       (n_maintained = n_recomputed
        |        AND cents_maintained = cents_recomputed) AS consistent
        |FROM m FULL JOIN rc ON m.o_orderpriority = rc.o_orderpriority
        |ORDER BY m.o_orderpriority""".stripMargin),
    "q_zorder" -> (qZorder _,
      """WITH b AS (
        |  SELECT o_custkey % 16 AS cb,
        |         (YEAR(o_orderdate) * 12 + MONTH(o_orderdate)) % 16 AS tb
        |  FROM orders),
        |z AS (
        |  SELECT cb, tb,
        |         (cb % 2) * 2 + (tb % 2)
        |         + ((cb >> 1) % 2) * 8 + ((tb >> 1) % 2) * 4
        |         + ((cb >> 2) % 2) * 32 + ((tb >> 2) % 2) * 16
        |         + ((cb >> 3) % 2) * 128 + ((tb >> 3) % 2) * 64 AS z
        |  FROM b)
        |SELECT z // 16 AS file_id, COUNT(*) AS n,
        |       CAST(MIN(z) AS BIGINT) AS z_min, CAST(MAX(z) AS BIGINT) AS z_max,
        |       COUNT(DISTINCT (cb, tb)) AS n_cells
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_schema_evolution" -> (qSchemaEvolution _,
      """WITH ev AS (
        |  SELECT value, make_timestamp(epoch_us(ts)) AS ts FROM events)
        |SELECT 1 AS batch, COUNT(*) AS n_rows,
        |       CAST(0 AS BIGINT) AS n_with_col, CAST(0 AS BIGINT) AS sum_micro
        |FROM ev WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |UNION ALL
        |SELECT 2, COUNT(*),
        |       COUNT(*),
        |       CAST(COALESCE(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)), 0)
        |            AS BIGINT)
        |FROM ev WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY batch""".stripMargin),
    "q_purge_cascade" -> (qPurgeCascade _,
      """WITH er AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |op AS (SELECT o_orderkey FROM orders
        |       WHERE o_custkey IN (SELECT c_custkey FROM er)),
        |lp AS (SELECT 1 AS x FROM lineitem
        |       WHERE l_orderkey IN (SELECT o_orderkey FROM op)),
        |rows_ AS (
        |  SELECT 'customer' AS tbl,
        |         (SELECT COUNT(*) FROM customer) AS n_total,
        |         (SELECT COUNT(*) FROM er) AS n_purged
        |  UNION ALL
        |  SELECT 'orders',
        |         (SELECT COUNT(*) FROM orders),
        |         (SELECT COUNT(*) FROM op)
        |  UNION ALL
        |  SELECT 'lineitem',
        |         (SELECT COUNT(*) FROM lineitem),
        |         (SELECT COUNT(*) FROM lp))
        |SELECT tbl, n_total, n_purged,
        |       (1000000 * n_purged) // n_total AS purged_ppm,
        |       n_total - n_purged AS n_remaining
        |FROM rows_ ORDER BY tbl""".stripMargin),
    "q_sink_compact" -> (qSinkCompact _,
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS sum_micro
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q_sink_partition_prune" -> (qSinkPartitionPrune _,
      """SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n,
        |       CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro
        |FROM events WHERE event_type = 'click'
        |GROUP BY CAST(ts AS DATE) ORDER BY d""".stripMargin),
    "q_cdc_diff" -> (qCdcDiff _,
      """WITH st AS (
        |  SELECT o_custkey,
        |         COUNT(CASE WHEN od >= DATE '1996-07-01' AND od < DATE '1997-01-01' THEN 1 END) AS na,
        |         SUM(CASE WHEN od >= DATE '1996-07-01' AND od < DATE '1997-01-01' THEN cents END) AS sa,
        |         COUNT(CASE WHEN od >= DATE '1997-01-01' AND od < DATE '1997-07-01' THEN 1 END) AS nb,
        |         SUM(CASE WHEN od >= DATE '1997-01-01' AND od < DATE '1997-07-01' THEN cents END) AS sb
        |  FROM (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
        |               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |  WHERE (od >= DATE '1996-07-01' AND od < DATE '1997-01-01')
        |     OR (od >= DATE '1997-01-01' AND od < DATE '1997-07-01')
        |  GROUP BY o_custkey)
        |SELECT CASE WHEN na = 0 THEN 'insert' WHEN nb = 0 THEN 'delete'
        |            WHEN na <> nb OR sa <> sb THEN 'update' ELSE 'unchanged' END AS op,
        |       COUNT(*) AS n_keys,
        |       ROUND(CAST(SUM(COALESCE(sb, 0) - COALESCE(sa, 0)) AS DOUBLE) / 100.0, 2) AS net_delta
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_merge_upsert" -> (qMergeUpsert _,
      """WITH changes AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS src FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'U', o_totalprice * 1.1, 1 FROM orders
        |  WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'N', o_totalprice, 1 FROM orders
        |  WHERE o_orderkey % 500 = 0),
        |ranked AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
        |  FROM changes)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM ranked WHERE rn = 1 ORDER BY o_orderkey""".stripMargin),
    "q_scan" -> (qScan _,
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
        |       CAST(l_shipdate AS DATE) AS l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    "q_project" -> (qProject _,
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1.0 - l_discount) AS revenue,
        |       l_returnflag AS flag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    "q_filter" -> (qFilter _,
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_discount
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 30
        |  AND l_returnflag IN ('A','N')
        |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND (l_linestatus LIKE 'O%' OR l_discount > 0.05)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    "q_dropna" -> (qDropna _,
      """SELECT l_orderkey, l_linenumber,
        |       NULLIF(l_returnflag, 'R') AS city_like,
        |       NULLIF(l_partkey % 7, 0) AS code_like
        |FROM lineitem
        |WHERE NULLIF(l_returnflag, 'R') IS NOT NULL
        |  AND NULLIF(l_partkey % 7, 0) IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    "q_fillna" -> (qFillna _,
      """WITH raw AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN l_linenumber % 4 = 0 THEN ''
        |              WHEN l_linenumber % 4 = 1 THEN ' '
        |              WHEN l_linenumber % 4 = 2 THEN NULL
        |              ELSE CAST(l_partkey AS VARCHAR) END AS raw_rate
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       CASE WHEN raw_rate IS NULL OR TRIM(raw_rate) = '' THEN 0.0
        |            ELSE CAST(raw_rate AS DOUBLE) END AS rate_filled
        |FROM raw ORDER BY l_orderkey, l_linenumber""".stripMargin),
    "q_case" -> (qCase _,
      """SELECT CASE WHEN o_totalprice < 1000 THEN 'low'
        |            WHEN o_totalprice < 5000 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        |       COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),
    "q_limit" -> (qLimit _,
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 20""".stripMargin),
    "q_distinct" -> (qDistinct _,
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "q_dedup_key" -> (qDedupKey _,
      """SELECT l_orderkey, l_partkey, l_quantity FROM (
        |  SELECT l_orderkey, l_partkey, l_quantity,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn
        |  FROM lineitem) t
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin),
    "q_sort" -> (qSort _,
      """SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber
        |FROM lineitem
        |ORDER BY l_returnflag DESC, l_quantity ASC, l_orderkey ASC, l_linenumber ASC""".stripMargin),
    "q_topk" -> (qTopk _,
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
  )
}
