package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}

import graft.etl.CovidShape

/** The reference pipeline on generated inputs: both load tasks through the
  * public `CovidShape` functions, then fixed ad-hoc SQL over the two loaded
  * lake tables, joined on `city_ibge_code = id`. Every answer is checked
  * against the generator's expectations, after the clock has stopped. */
final class CovidEtl(spark: SparkSession, input: File, lake: File) {
  private val csv = new File(input, "caso_full.csv").getPath
  private val json = new File(input, "municipios.json").getPath
  private val exp: JsonNode = Util.readJson(new File(input, "expected.json"))
  private val covidLake = new File(lake, "covid")
  private val municipiosLake = new File(lake, "municipios")

  val rowsIn: Long = exp.get("rows_in").asLong
  val inputBytes: Long = new File(csv).length + new File(json).length

  private val C = s"parquet.`${covidLake.getPath}`"
  private val M = s"parquet.`${municipiosLake.getPath}`"
  private val J = s"$C c JOIN $M m ON c.city_ibge_code = m.id"
  private val Uf = "m.`microrregiao.mesorregiao.UF.sigla`"

  /** (name, SQL, check of the collected rows). */
  val queries: Seq[(String, String, Seq[Row] => Option[String])] = Seq(
    ("latest_totals_uf",
      s"SELECT $Uf AS uf, SUM(c.last_available_confirmed) AS confirmed, " +
        s"SUM(c.last_available_deaths) AS deaths FROM $J WHERE c.is_last GROUP BY 1",
      rows => {
        val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val want = exp.get("per_uf").properties.asScala
          .map(e => e.getKey -> ((e.getValue.get(0).asLong, e.getValue.get(1).asLong))).toMap
        if (got == want) None else Some(s"per-UF totals differ: got $got, want $want")
      }),
    ("weekly_new_regiao",
      s"SELECT m.`microrregiao.mesorregiao.UF.regiao.nome` AS regiao, " +
        s"c.epidemiological_week AS week, SUM(c.new_confirmed) AS new_confirmed " +
        s"FROM $J GROUP BY 1, 2",
      rows => {
        val total = rows.map(_.getLong(2)).sum
        expectEq("rows", rows.size.toLong, exp.get("regiao_weeks").asLong)
          .orElse(expectEq("sum of new_confirmed", total, exp.get("total_new_confirmed").asLong))
      }),
    ("top3_per100k_meso",
      "SELECT meso, city, per100k FROM (SELECT m.`microrregiao.mesorregiao.nome` AS meso, " +
        "c.city, c.last_available_confirmed_per_100k_inhabitants AS per100k, row_number() " +
        "OVER (PARTITION BY m.`microrregiao.mesorregiao.id` ORDER BY " +
        "c.last_available_confirmed_per_100k_inhabitants DESC, c.city_ibge_code) AS rn " +
        s"FROM $J WHERE c.is_last) WHERE rn <= 3",
      rows => expectEq("rows", rows.size.toLong, exp.get("top3_rows").asLong)),
    ("movavg7_uf",
      "SELECT uf, date, AVG(n) OVER (PARTITION BY uf ORDER BY date " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7 FROM " +
        s"(SELECT $Uf AS uf, c.date, SUM(c.new_confirmed) AS n FROM $J GROUP BY 1, 2)",
      rows => expectEq("rows", rows.size.toLong, exp.get("uf_days").asLong)),
    ("unreported_municipios",
      s"SELECT m.id, m.nome FROM $M m LEFT ANTI JOIN $C c ON c.city_ibge_code = m.id",
      rows => expectEq("rows", rows.size.toLong, exp.get("unreported").asLong)))

  private def expectEq(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Task A: CSV with schema inference → transform → observed replace-load.
    * Returns the load's observation and a failed accounting check, if any. */
  def covidTask(ph: Tracer.Phases): (Map[String, Any], Option[String]) = {
    val raw = ph("read_csv")(CovidShape.readCsv(spark, csv))
    val df = ph("transform")(CovidShape.covidTransform(raw))
    val obs = ph("load")(CovidShape.loadReplaceParquetObserved(df, covidLake.getPath,
      "city_ibge_code"))
    val loaded = obs("rows_loaded").asInstanceOf[Long]
    val nullKeys = obs("null_keys").asInstanceOf[Long]
    val dropped = rowsIn - loaded
    val check = expectEq("rows dropped for a NULL key", dropped, exp.get("null_key_rows").asLong)
      .orElse(expectEq("NULL keys among loaded rows", nullKeys, 0L))
    (Map("rows_loaded" -> loaded, "rows_dropped_null_key" -> dropped), check)
  }

  /** Task B: nested JSON → flatten + stamp → replace-load. */
  def municipiosTask(ph: Tracer.Phases): Option[String] = {
    val raw = ph("read_json")(CovidShape.readJson(spark, json))
    val df = ph("transform")(CovidShape.municipiosTransform(raw))
    ph("load")(CovidShape.loadReplaceParquet(df, municipiosLake.getPath))
    val cols = df.columns.toSet
    Seq("id", "microrregiao.mesorregiao.UF.sigla", "regiao-imediata.regiao-intermediaria.UF.regiao.nome")
      .find(c => !cols(c)).map(c => s"flattened municipios lack column $c")
  }

  def lakeFiles: (Long, Int) = {
    val (b1, f1) = Util.dataFiles(covidLake)
    val (b2, f2) = Util.dataFiles(municipiosLake)
    (b1 + b2, f1 + f2)
  }
}
