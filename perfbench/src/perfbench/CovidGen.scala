package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.time.temporal.IsoFields
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of the reference pipeline's two inputs:
  *
  *  - `caso_full.csv`: the brasil.io national per-place daily file, in its 18
  *    columns. Every municipality that reports has one row per day from its
  *    first report on; each state has a state-level row per day (`city`
  *    empty, i.e. NULL) and an "Importados/Indefinidos" place with no IBGE
  *    code. The per-100k rate is sometimes blank, sometimes a single space,
  *    and some city names are quoted because they contain a comma.
  *  - `municipios.json`: the IBGE municipios API payload, a JSON array of
  *    5,570 records, each with both 4-level nestings (microrregiao →
  *    mesorregiao → UF → regiao and regiao-imediata → regiao-intermediaria →
  *    UF → regiao).
  *
  * The same seed and `days` give byte-identical files: every value comes from
  * one `SplittableRandom` consumed in a fixed order, and numbers are written
  * without locale-dependent formatting. Alongside the files it computes the answers the
  * pipeline must reproduce ([[Expected]]).
  */
object CovidGen {

  /** (IBGE UF id, sigla, name, municipality count) — the real 27 UFs. */
  val Ufs: Seq[(Int, String, String, Int)] = Seq(
    (11, "RO", "Rondônia", 52), (12, "AC", "Acre", 22), (13, "AM", "Amazonas", 62),
    (14, "RR", "Roraima", 15), (15, "PA", "Pará", 144), (16, "AP", "Amapá", 16),
    (17, "TO", "Tocantins", 139), (21, "MA", "Maranhão", 217), (22, "PI", "Piauí", 224),
    (23, "CE", "Ceará", 184), (24, "RN", "Rio Grande do Norte", 167),
    (25, "PB", "Paraíba", 223), (26, "PE", "Pernambuco", 185), (27, "AL", "Alagoas", 102),
    (28, "SE", "Sergipe", 75), (29, "BA", "Bahia", 417), (31, "MG", "Minas Gerais", 853),
    (32, "ES", "Espírito Santo", 78), (33, "RJ", "Rio de Janeiro", 92),
    (35, "SP", "São Paulo", 645), (41, "PR", "Paraná", 399), (42, "SC", "Santa Catarina", 295),
    (43, "RS", "Rio Grande do Sul", 497), (50, "MS", "Mato Grosso do Sul", 79),
    (51, "MT", "Mato Grosso", 141), (52, "GO", "Goiás", 246), (53, "DF", "Distrito Federal", 1))

  val Regioes: Map[Int, (String, String)] = Map(1 -> ("N", "Norte"), 2 -> ("NE", "Nordeste"),
    3 -> ("SE", "Sudeste"), 4 -> ("S", "Sul"), 5 -> ("CO", "Centro-Oeste"))

  val FirstDay: LocalDate = LocalDate.of(2020, 3, 1)

  final case class Municipio(id: Long, nome: String, uf: Int, sigla: String, regiao: Int,
      meso: Long, micro: Long, imediata: Long, intermediaria: Long, population: Long,
      firstDay: Int) {
    def reports: Boolean = firstDay >= 0
  }

  /** The answers the loaded lake must give back. */
  final case class Expected(rowsIn: Long, nullKeyRows: Long,
      perUf: Map[String, (Long, Long)], totalNewConfirmed: Long, regiaoWeeks: Int,
      top3Rows: Int, ufDays: Int, unreported: Int) {
    def toMap: Map[String, Any] = Map(
      "rows_in" -> rowsIn, "null_key_rows" -> nullKeyRows,
      "per_uf" -> perUf.map { case (k, (c, d)) => k -> Seq(c, d) },
      "total_new_confirmed" -> totalNewConfirmed, "regiao_weeks" -> regiaoWeeks,
      "top3_rows" -> top3Rows, "uf_days" -> ufDays, "unreported" -> unreported)
  }

  def epiWeek(d: LocalDate): Int =
    d.get(IsoFields.WEEK_BASED_YEAR) * 100 + d.get(IsoFields.WEEK_OF_WEEK_BASED_YEAR)

  private val syllables = Seq("ba", "ca", "ta", "ra", "pi", "po", "lu", "ma", "ná", "ção",
    "são", "jo", "té", "gua", "rí", "be", "lo", "fe", "ni", "xu")

  private def name(rng: SplittableRandom): String = {
    val n = 2 + rng.nextInt(3)
    val s = (0 until n).map(_ => syllables(rng.nextInt(syllables.size))).mkString
    s.capitalize
  }

  def municipios(rng: SplittableRandom, days: Int): IndexedSeq[Municipio] = {
    Ufs.flatMap { case (uf, sigla, _, count) =>
      val regiao = uf / 10
      val mesoN = math.max(1, (count + 39) / 40)
      val microN = math.max(1, (count + 9) / 10)
      val interN = math.max(1, (count + 41) / 42)
      val imedN = math.max(1, (count + 10) / 11)
      (0 until count).map { i =>
        val base = name(rng)
        // about 1 in 60 names carries a comma, so the CSV must quote it
        val nome = if (rng.nextInt(60) == 0) s"$base, ${name(rng)}" else base
        // log-uniform population between 800 and ~12M
        val population = math.round(800 * math.pow(15000, rng.nextDouble()))
        // ~1.5% of municipalities never report
        val first = if (rng.nextInt(200) < 3) -1 else rng.nextInt(math.max(1, days / 2))
        Municipio(uf * 100000L + i * 10 + rng.nextInt(10), nome, uf, sigla, regiao,
          uf * 100L + i % mesoN, uf * 1000L + i % microN, uf * 10000L + i % imedN,
          uf * 100L + 50 + i % interN, population, first)
      }
    }.toIndexedSeq
  }

  private def jsonStr(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def ufJson(uf: Int): String = {
    val (_, sigla, nome, _) = Ufs.find(_._1 == uf).get
    val (rs, rn) = Regioes(uf / 10)
    s"""{"id":$uf,"sigla":"$sigla","nome":${jsonStr(nome)},"regiao":{"id":${uf / 10},"sigla":"$rs","nome":"$rn"}}"""
  }

  def writeMunicipios(ms: Seq[Municipio], file: File): Unit = {
    val w = writer(file)
    try {
      w.write("[\n")
      ms.zipWithIndex.foreach { case (m, i) =>
        val uf = ufJson(m.uf)
        w.write(s"""{"id":${m.id},"nome":${jsonStr(m.nome)},""" +
          s""""microrregiao":{"id":${m.micro},"nome":"Microrregião ${m.micro}",""" +
          s""""mesorregiao":{"id":${m.meso},"nome":"Mesorregião ${m.meso}","UF":$uf}},""" +
          s""""regiao-imediata":{"id":${m.imediata},"nome":"Região Imediata ${m.imediata}",""" +
          s""""regiao-intermediaria":{"id":${m.intermediaria},""" +
          s""""nome":"Região Intermediária ${m.intermediaria}","UF":$uf}}}""")
        w.write(if (i + 1 < ms.size) ",\n" else "\n")
      }
      w.write("]\n")
    } finally w.close()
  }

  private def writer(f: File) =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8),
      1 << 20)

  val Header: String = "city,city_ibge_code,date,epidemiological_week,estimated_population," +
    "estimated_population_2019,is_last,is_repeated,last_available_confirmed," +
    "last_available_confirmed_per_100k_inhabitants,last_available_date," +
    "last_available_death_rate,last_available_deaths,order_for_place,place_type,state," +
    "new_confirmed,new_deaths"

  /** Writes both inputs into `dir` and returns the expected answers. */
  def generate(dir: File, seed: Long, days: Int): Expected = {
    dir.mkdirs()
    val rng = new SplittableRandom(seed)
    val ms = municipios(rng, days)
    writeMunicipios(ms, new File(dir, "municipios.json"))

    val n = ms.size
    val conf = new Array[Long](n)
    val deaths = new Array[Long](n)
    val ufIdx = Ufs.map(_._1).zipWithIndex.toMap
    val stateConf = new Array[Long](Ufs.size)
    val stateDeaths = new Array[Long](Ufs.size)
    val indefConf = new Array[Long](Ufs.size)
    val indefDeaths = new Array[Long](Ufs.size)
    // the unassigned ("Importados/Indefinidos") place of each state starts
    // reporting at a seeded day too
    val ufPop = Ufs.map(u => ms.filter(_.uf == u._1).map(_.population).sum).toArray
    val indefFirst = Array.fill(Ufs.size)(rng.nextInt(math.max(1, days / 2)))
    var rows = 0L
    var nullKeyRows = 0L
    val regiaoWeeks = mutable.HashSet[(Int, Int)]()
    val ufDays = mutable.HashSet[(Int, Int)]()
    val sb = new java.lang.StringBuilder(256)
    val w = writer(new File(dir, "caso_full.csv"))

    // fixed-point text of a non-negative rate; exact and locale-free
    def rate(v: Double, digits: Int): Unit = {
      val scale = math.pow(10, digits).toLong
      val x = math.round(v * scale)
      val frac = x % scale
      sb.append(x / scale).append('.')
      var pad = scale / 10
      while (pad > 1 && frac < pad) { sb.append('0'); pad /= 10 }
      sb.append(frac)
    }

    // the date columns of each day, formatted once
    val dateText = (-1 until days).map(d => FirstDay.plusDays(d).toString).toArray
    val weekText = (0 until days).map(d => epiWeek(FirstDay.plusDays(d)).toString).toArray

    def row(city: String, code: String, day: Int, pop: Long, popBlank: Boolean,
        isLast: Boolean, repeated: Boolean, c: Long, d: Long, order: Int, placeType: String,
        state: String, newC: Long, newD: Long): Unit = {
      sb.setLength(0)
      if (city != null) {
        if (city.contains(",")) sb.append('"').append(city).append('"') else sb.append(city)
      }
      sb.append(',').append(code).append(',').append(dateText(day + 1)).append(',').append(weekText(day))
      sb.append(',').append(pop).append(',')
      if (!popBlank) sb.append(pop)
      sb.append(',').append(if (isLast) "True" else "False")
      sb.append(',').append(if (repeated) "True" else "False")
      sb.append(',').append(c).append(',')
      // the rate column carries blanks, single spaces and numbers
      rng.nextInt(100) match {
        case 0 | 1 => ()
        case 2 => sb.append(' ')
        case _ => if (pop > 0) rate(c * 100000.0 / pop, 5)
      }
      sb.append(',').append(dateText(if (repeated) day else day + 1)).append(',')
      if (c > 0) rate(d.toDouble / c, 4)
      sb.append(',').append(d).append(',').append(order).append(',').append(placeType)
      sb.append(',').append(state).append(',').append(newC).append(',').append(newD).append('\n')
      w.append(sb)
      rows += 1
    }

    try {
      w.write(Header); w.write("\n")
      for (day <- 0 until days) {
        val last = day == days - 1
        java.util.Arrays.fill(stateConf, 0L); java.util.Arrays.fill(stateDeaths, 0L)
        var i = 0
        while (i < n) {
          val m = ms(i)
          if (m.reports && day >= m.firstDay) {
            val scale = math.max(1L, m.population / 20000)
            val newC = rng.nextInt((scale * 3).toInt.min(5000) + 1).toLong
            val newD = if (rng.nextInt(8) == 0) rng.nextInt((scale / 10).toInt.min(200) + 2).toLong
              else 0L
            conf(i) += newC; deaths(i) += newD
            row(m.nome, m.id.toString, day, m.population, rng.nextInt(100) == 0, last,
              rng.nextInt(20) == 0, conf(i), deaths(i), day - m.firstDay + 1, "city", m.sigla,
              newC, newD)
            regiaoWeeks += ((m.regiao, weekText(day).toInt))
            ufDays += ((m.uf, day))
          }
          if (m.reports) {
            val u = ufIdx(m.uf)
            stateConf(u) += conf(i); stateDeaths(u) += deaths(i)
          }
          i += 1
        }
        Ufs.zipWithIndex.foreach { case ((uf, sigla, _, _), u) =>
          if (day >= indefFirst(u)) {
            val newC = rng.nextInt(20).toLong
            indefConf(u) += newC
            row("Importados/Indefinidos", "", day, 0L, true, last, false, indefConf(u),
              indefDeaths(u), day - indefFirst(u) + 1, "city", sigla, newC, 0L)
            nullKeyRows += 1
          }
          row(null, uf.toString, day, ufPop(u), false, last, false, stateConf(u) + indefConf(u),
            stateDeaths(u) + indefDeaths(u), day + 1, "state", sigla, 0L, 0L)
          nullKeyRows += 1
        }
      }
    } finally w.close()

    val reporting = ms.indices.filter(i => ms(i).reports)
    val perUf = reporting.groupBy(i => ms(i).sigla).map { case (s, is) =>
      s -> (is.map(conf(_)).sum, is.map(deaths(_)).sum)
    }
    val top3 = reporting.groupBy(i => ms(i).meso).values.map(_.size.min(3)).sum
    Expected(rows, nullKeyRows, perUf, perUf.values.map(_._1).sum, regiaoWeeks.size, top3,
      ufDays.size, ms.count(!_.reports))
  }

  /** Usage: CovidGen <dir> <seed> <days> — writes the inputs plus
    * `expected.json`. */
  def main(args: Array[String]): Unit = {
    val dir = new File(args(0))
    val exp = generate(dir, args(1).toLong, args(2).toInt)
    Util.writeJson(new File(dir, "expected.json"), exp.toMap)
  }
}
