package graft

import graft.etl.CovidShape
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end reference-pipeline parity on fixtures shaped like the real
  * inputs: a caso_full-style CSV (with state-level rows whose city is empty
  * and blank-ish rate values) and the IBGE municipios nested-JSON payload.
  */
class CovidShapeSpec extends SparkSpec {

  private val tmp = Files.createTempDirectory("covidshape").toString

  private def writeFixture(name: String, content: String): String = {
    val p = Paths.get(tmp, name)
    Files.writeString(p, content)
    p.toString
  }

  /** caso_full's real 18-column header, as the brasil.io export writes it. */
  private val casoFullHeader =
    "city,city_ibge_code,date,epidemiological_week,estimated_population," +
      "estimated_population_2019,is_last,is_repeated,last_available_confirmed," +
      "last_available_confirmed_per_100k_inhabitants,last_available_date," +
      "last_available_death_rate,last_available_deaths,order_for_place,place_type,state," +
      "new_confirmed,new_deaths"

  /** One caso_full row; `rate` is the per-100k column, written verbatim. */
  private def casoRow(city: String, code: String, date: String, pop: String, isLast: String,
      confirmed: Int, rate: String, newConfirmed: Int, placeType: String = "city"): String =
    s"$city,$code,$date,202053,$pop,$pop,$isLast,False,$confirmed,$rate,$date,0.0125,1,3," +
      s"$placeType,GO,$newConfirmed,0"

  private val casoRows = Seq(
    casoRow("Abadia de Goias", "5200050", "2021-01-01", "8773", "True", 80, "123.45", 5),
    casoRow("", "52", "2021-01-01", "7113540", "True", 71000, "999.9", 100, "state"),
    casoRow("Abadiania", "5200100", "2021-01-01", "20042", "False", 12, "", 2),
    casoRow("Agua Fria", "5200175", "2021-01-02", "5090", "True", 0, " ", 0),
    casoRow("Alto Horizonte", "5200209", "2021-01-02", "6969", "False", 5, "77.0", 1))

  private def casoFullCsv(name: String, header: String, rows: Seq[String]): String =
    writeFixture(name, (header +: rows).mkString("", "\n", "\n"))

  private val covidCsv = casoFullCsv("caso_full.csv", casoFullHeader, casoRows)

  private val ibgeJson = writeFixture("municipios.json",
    """[
      |  {"id": 5200050, "nome": "Abadia de Goias",
      |   "microrregiao": {"id": 52010, "nome": "Goiania",
      |     "mesorregiao": {"id": 5203, "nome": "Centro Goiano",
      |       "UF": {"id": 52, "sigla": "GO", "nome": "Goias",
      |         "regiao": {"id": 5, "sigla": "CO", "nome": "Centro-Oeste"}}}}},
      |  {"id": 3550308, "nome": "Sao Paulo",
      |   "microrregiao": {"id": 35061, "nome": "Sao Paulo",
      |     "mesorregiao": {"id": 3515, "nome": "Metropolitana",
      |       "UF": {"id": 35, "sigla": "SP", "nome": "Sao Paulo",
      |         "regiao": {"id": 3, "sigla": "SE", "nome": "Sudeste"}}}}}
      |]""".stripMargin)

  test("covid task: declared schema, state rows dropped, blanks coalesced, stamped") {
    val raw = CovidShape.readCsv(spark, covidCsv)
    assert(raw.schema("new_confirmed").dataType.typeName == "integer")
    val out = CovidShape.covidTransform(raw, Some("2026-01-01 00:00:00"))
    // the state-level row (empty city) is dropped: 5 -> 4 rows
    assert(out.count() == 4)
    assert(out.filter(col("city").isNull).count() == 0)
    // blank-ish rates coalesced to 0.0, real values preserved
    val rates = out.orderBy("city_ibge_code").collect()
      .map(_.getAs[Double]("last_available_confirmed_per_100k_inhabitants"))
    assert(rates.sameElements(Array(123.45, 0.0, 0.0, 77.0)))
    assert(out.columns.contains("created_at_datalake"))
  }

  test("inferSchema on caso_full yields exactly the declared CasoFullSchema") {
    val inferred = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(covidCsv).schema
    assert(inferred == CovidShape.CasoFullSchema,
      s"inferred ${inferred.toDDL}\ndeclared ${CovidShape.CasoFullSchema.toDDL}")
  }

  /** Runs the covid task's load of `csv` into `lake`. */
  private def loadCovid(csv: String, lake: String = s"$tmp/lake/covid_checked"): Unit =
    CovidShape.loadReplaceParquet(
      CovidShape.covidTransform(CovidShape.readCsv(spark, csv), Some("2026-01-01 00:00:00")),
      lake)

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")

  test("a renamed or reordered caso_full header column fails the load") {
    val renamed = casoFullCsv("renamed.csv",
      casoFullHeader.replace(",new_confirmed,", ",new_cases,"), casoRows)
    val reordered = casoFullCsv("reordered.csv",
      casoFullHeader.replace("new_confirmed,new_deaths", "new_deaths,new_confirmed"), casoRows)
    for (csv <- Seq(renamed, reordered)) {
      val e = intercept[Exception](loadCovid(csv))
      assert(messages(e).contains("CSV header does not conform to the schema"), messages(e))
    }
  }

  test("a value that does not fit its declared type fails the load, never becomes NULL") {
    val csv = casoFullCsv("bad_value.csv", casoFullHeader,
      casoRows :+ casoRow("Amaralina", "5200258", "2021-01-02", "12.5", "True", 3, "1.0", 1))
    val lake = Paths.get(tmp, "lake", "covid_bad_value")
    val e = intercept[Exception](loadCovid(csv, lake.toString))
    assert(messages(e).contains("FAILFAST"), messages(e))
    val written = if (Files.exists(lake)) Files.walk(lake).iterator().asScala
      .count(_.toString.endsWith(".parquet")) else 0
    assert(written == 0, "the failed load must leave no lake file")
  }

  test("csv quarantine on the caso_full schema: rows in = clean + quarantined, text kept") {
    val bad = Seq(
      casoRow("BadPopulation", "5200308", "2021-01-02", "12.5", "True", 3, "1.0", 1),
      casoRow("BadDate", "5200407", "2021-13-45", "4000", "True", 3, "1.0", 1),
      casoRow("BadBoolean", "5200506", "2021-01-02", "4000", "maybe", 3, "1.0", 1),
      casoRow("ExtraField", "5200555", "2021-01-02", "4000", "True", 3, "1.0", 1) + ",surprise")
    val tricky = casoRow("\"Comma, City\"", "5200605", "2021-01-02", "4000", "True", 3, "", 1)
    val rowsIn = casoRows ++ bad :+ tricky
    val csv = casoFullCsv("caso_full_dirty.csv", casoFullHeader, rowsIn)
    val df = CovidShape.readCsvQuarantine(spark, csv, CovidShape.CasoFullSchema)
    val clean = df.filter(col("_corrupt_record").isNull)
    val dead = df.filter(col("_corrupt_record").isNotNull)
    assert(clean.count() + dead.count() == rowsIn.size, "nothing dropped, nothing doubled")
    assert(dead.count() == bad.size)
    val deadText = dead.select("_corrupt_record").collect().map(_.getString(0)).toSet
    assert(deadText == bad.toSet, "each quarantined row keeps its original text")
    // the valid rows, the state row, blank rates and the quoted comma included, stay typed
    assert(clean.filter(col("city") === "Comma, City").count() == 1)
    assert(clean.filter(col("city").isNull).count() == 1)
    assert(clean.agg(sum("new_confirmed")).collect()(0).getLong(0) == 5 + 100 + 2 + 0 + 1 + 1)
    assert(clean.filter(col("last_available_confirmed_per_100k_inhabitants") === " ").count() == 1)
    df.unpersist()
  }

  test("ibge task: 4-level nesting flattens to dot-named columns") {
    val out = CovidShape.municipiosTransform(
      CovidShape.readJson(spark, ibgeJson), Some("2026-01-01 00:00:00"))
    val cols = out.columns.toSet
    assert(cols.contains("microrregiao.mesorregiao.UF.regiao.sigla"))
    assert(cols.contains("microrregiao.mesorregiao.UF.sigla"))
    assert(cols.contains("nome") && cols.contains("id"))
    assert(out.count() == 2)
    val sp = out.filter(col("id") === 3550308).collect()(0)
    assert(sp.getAs[String]("microrregiao.mesorregiao.UF.regiao.sigla") == "SE")
  }

  test("lake round-trip: replace-mode load is idempotent and joinable") {
    val covid = CovidShape.covidTransform(
      CovidShape.readCsv(spark, covidCsv), Some("2026-01-01 00:00:00"))
    val muni = CovidShape.municipiosTransform(
      CovidShape.readJson(spark, ibgeJson), Some("2026-01-01 00:00:00"))
    CovidShape.loadReplaceParquet(covid, s"$tmp/lake/covid")
    CovidShape.loadReplaceParquet(covid, s"$tmp/lake/covid") // re-run = replace
    CovidShape.loadReplaceParquet(muni, s"$tmp/lake/microrregioes")
    val c = spark.read.parquet(s"$tmp/lake/covid")
    val m = spark.read.parquet(s"$tmp/lake/microrregioes")
    assert(c.count() == 4)
    // the lake's raison d'etre: covid ⋈ municipios on the IBGE code
    val joined = c.join(m, c("city_ibge_code") === m("id"))
    assert(joined.count() == 1)
    assert(joined.select(col("`microrregiao.mesorregiao.UF.sigla`")).collect()(0).getString(0) == "GO")
  }

  test("observed load reports row and null-key metrics from the write pass") {
    val covid = CovidShape.covidTransform(
      CovidShape.readCsv(spark, covidCsv), Some("2026-01-01 00:00:00"))
    val metrics = CovidShape.loadReplaceParquetObserved(
      covid, s"$tmp/lake/covid_observed", "city")
    assert(metrics("rows_loaded") == 4L)
    assert(metrics("null_keys") == 0L)
    assert(spark.read.parquet(s"$tmp/lake/covid_observed").count() == 4)
  }

  test("csv sink round-trips rows including quoted commas (R8, minus the reference's bug)") {
    import spark.implicits._
    val df = Seq((1L, "plain"), (2L, "has, comma"), (3L, "has \"quote\""))
      .toDF("id", "note")
    CovidShape.loadReplaceCsv(df, s"$tmp/lake/csv_out")
    val back = spark.read.schema(df.schema).csv(s"$tmp/lake/csv_out")
    assert(back.count() == 3)
    assert(back.except(df).count() == 0, "quoted commas must survive the round trip")
  }

  test("jdbc sink round-trips through embedded Derby and replace-mode is idempotent (R9)") {
    // Derby ships with Spark (hive metastore dependency) and has a built-in
    // Spark dialect — a REAL executor-side JDBC write, the literal analog of
    // the reference's Postgres COPY sink, not a builder-options assertion.
    import spark.implicits._
    val url = "jdbc:derby:memory:graftlake;create=true"
    val df = Seq((1L, "goiania", 10.5), (2L, "sao paulo", 3.25), (3L, "rio", 0.0))
      .toDF("id", "city", "rate")
    CovidShape.loadReplaceJdbc(df, url, "covid_rates", "app", "app")
    CovidShape.loadReplaceJdbc(df, url, "covid_rates", "app", "app") // re-run = replace
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "covid_rates")
      .option("user", "app").option("password", "app").load()
    assert(back.count() == 3, "second overwrite must replace, not append")
    assert(back.select("id", "city", "rate").except(df).count() == 0)
    // truncate-mode overwrite must also preserve the table schema
    assert(back.schema.fieldNames.sorted.sameElements(Array("city", "id", "rate")))
  }

  test("the two pipeline tasks run concurrently as independent actions (R11)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fCovid = Future {
      CovidShape.loadReplaceParquet(CovidShape.covidTransform(
        CovidShape.readCsv(spark, covidCsv), Some("2026-01-01 00:00:00")),
        s"$tmp/lake/covid_par")
    }
    val fMuni = Future {
      CovidShape.loadReplaceParquet(CovidShape.municipiosTransform(
        CovidShape.readJson(spark, ibgeJson), Some("2026-01-01 00:00:00")),
        s"$tmp/lake/muni_par")
    }
    Await.result(Future.sequence(Seq(fCovid, fMuni)), 120.seconds)
    assert(spark.read.parquet(s"$tmp/lake/covid_par").count() == 4)
    assert(spark.read.parquet(s"$tmp/lake/muni_par").count() == 2)
  }

  test("csv quarantine keeps clean rows typed and parks bad rows with their text") {
    import org.apache.spark.sql.types._
    val d = Files.createTempDirectory("quarantine").toString
    val csv =
      """city,code,rate
        |Recife,2611606,12.5
        |BADROW,not_a_number,xx
        |Olinda,2609600,7.25
        |""".stripMargin
    Files.write(Paths.get(d, "drop.csv"), csv.getBytes)
    val schema = StructType(Seq(
      StructField("city", StringType), StructField("code", LongType),
      StructField("rate", DoubleType)))
    val df = CovidShape.readCsvQuarantine(spark, s"$d/drop.csv", schema)
    val clean = df.filter(col("_corrupt_record").isNull)
    val dead = df.filter(col("_corrupt_record").isNotNull)
    assert(clean.count() == 2, "both well-formed rows survive")
    assert(clean.filter(col("code") === 2611606L && col("rate") === 12.5).count() == 1)
    assert(dead.count() == 1, "one mangled row costs one row, not the batch")
    assert(dead.select("_corrupt_record").collect().head.getString(0)
      .contains("BADROW"), "original text preserved for replay")
    df.unpersist()
  }

  test("csv quarantine at scale: exact row-level loss accounting over mixed corruption") {
    import org.apache.spark.sql.types._
    val d = Files.createTempDirectory("quarantine_chaos").toString
    // 8 shards x 25k rows, seeded corruption: every 37th row is mangled,
    // cycling through the three unambiguous corruption kinds (bad long,
    // bad double, extra field). Clean rows deliberately include quoted
    // commas, empty (null) fields, and negative values — valid CSV that
    // LOOKS tricky must not be quarantined.
    val rowsPerShard = 25000
    val shards = 8
    var badLong = 0; var badDouble = 0; var extraField = 0
    for (s <- 0 until shards) {
      val sb = new StringBuilder("city,code,rate\n")
      for (i <- 0 until rowsPerShard) {
        val g = s * rowsPerShard + i
        if (g % 37 == 0) (g / 37) % 3 match {
          case 0 => badLong += 1;    sb.append(s"bad,NOT_A_LONG_$g,1.5\n")
          case 1 => badDouble += 1;  sb.append(s"bad,$g,rate_$g\n")
          case 2 => extraField += 1; sb.append(s"bad,$g,2.5,surprise\n")
        } else (g % 5) match {
          case 0 => sb.append(s""""City, with comma $g",$g,${g % 100}.25\n""")
          case 1 => sb.append(s"plain$g,$g,\n")          // null rate: clean
          case 2 => sb.append(s",$g,${g % 10}.5\n")      // null city: clean
          case 3 => sb.append(s"neg$g,-$g,-${g % 7}.75\n")
          case _ => sb.append(s"city$g,$g,${g % 1000}.0\n")
        }
      }
      Files.write(Paths.get(d, s"shard_$s.csv"), sb.toString.getBytes)
    }
    val total = rowsPerShard.toLong * shards
    val planted = badLong + badDouble + extraField
    val schema = StructType(Seq(
      StructField("city", StringType), StructField("code", LongType),
      StructField("rate", DoubleType)))
    val df = CovidShape.readCsvQuarantine(spark, s"$d/*.csv", schema)
    val clean = df.filter(col("_corrupt_record").isNull)
    val dead = df.filter(col("_corrupt_record").isNotNull)
    // the account must balance exactly: nothing dropped, nothing doubled
    assert(clean.count() + dead.count() == total,
      s"clean+dead must equal the $total written rows")
    assert(dead.count() == planted,
      s"expected exactly $planted quarantined rows (=$badLong+$badDouble+$extraField)")
    // every quarantined row is one of the planted shapes, text preserved
    assert(dead.filter(col("_corrupt_record").contains("NOT_A_LONG_")).count() == badLong)
    assert(dead.filter(col("_corrupt_record").contains(",rate_")).count() == badDouble)
    assert(dead.filter(col("_corrupt_record").contains(",surprise")).count() == extraField)
    // and the tricky-but-valid rows all landed clean and typed
    assert(clean.filter(col("city").startsWith("City, with comma")).count() == total / 5 - {
      // g%5==0 rows that fell on a corruption slot (g%37==0) were mangled instead
      (0L until total).count(g => g % 5 == 0 && g % 37 == 0)
    })
    assert(clean.filter(col("rate").isNull).count() ==
      (0L until total).count(g => g % 5 == 1 && g % 37 != 0))
    assert(clean.filter(col("code") < 0).count() ==
      (0L until total).count(g => g % 5 == 3 && g % 37 != 0))
    df.unpersist()
  }

  test("flatten handles depth-1 (already flat) frames untouched") {
    import spark.implicits._
    val flat = Seq((1, "a")).toDF("x", "y")
    assert(CovidShape.flatten(flat).columns.sameElements(Array("x", "y")))
  }
}
