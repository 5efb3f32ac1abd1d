package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import graft.GraftSession

/** The benchmark's own test of the covid input generator, at two sizes:
  *
  *  - the same seed and size give byte-identical CSV and JSON, and another
  *    seed gives another CSV;
  *  - the generator's row count matches the CSV it wrote;
  *  - the reference pipeline accounts for every row (rows in = rows loaded +
  *    rows dropped for a NULL key, from the load's `Observation`) and every
  *    lake query returns the generator's expected answer.
  *
  * Usage: SelfTest <scratch dir>; exits 1 on the first failed check.
  */
object SelfTest {
  private def sha(f: File): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString

  private def check(cond: Boolean, what: String): Unit = {
    println(s"selftest ${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val dir = new File(args(0)).getAbsoluteFile
    val spark = GraftSession.buildLocal(sys.env.getOrElse("PERFBENCH_CORES", "4"),
      "perfbench-selftest", extraConf = Map("spark.local.dir" -> new File(dir, "spark-local").getPath))
    spark.sparkContext.setLogLevel("ERROR")
    try for (days <- Seq(6, 30)) {
      def gen(name: String, seed: Long): File = {
        val d = new File(dir, s"$name-$days")
        Util.writeJson(new File(d, "expected.json"), CovidGen.generate(d, seed, days).toMap)
        d
      }
      val (a, b, c) = (gen("a", 7), gen("b", 7), gen("c", 8))
      val files = Seq("caso_full.csv", "municipios.json")
      check(files.forall(f => sha(new File(a, f)) == sha(new File(b, f))),
        s"days=$days: seed 7 twice gives byte-identical inputs")
      check(sha(new File(a, "caso_full.csv")) != sha(new File(c, "caso_full.csv")),
        s"days=$days: seed 8 gives another CSV")
      val etl = new CovidEtl(spark, a, new File(a, "lake"))
      val lines = Files.lines(new File(a, "caso_full.csv").toPath).count() - 1
      check(lines == etl.rowsIn, s"days=$days: generator counted ${etl.rowsIn} rows, CSV holds $lines")
      val ph = new Tracer.Phases
      val (obs, accounting) = etl.covidTask(ph)
      check(accounting.isEmpty, s"days=$days: rows in ${etl.rowsIn} = loaded " +
        s"${obs("rows_loaded")} + dropped for a NULL key ${obs("rows_dropped_null_key")}" +
        accounting.map(" — " + _).getOrElse(""))
      val mun = etl.municipiosTask(ph)
      check(mun.isEmpty, s"days=$days: municipios flattened and loaded" + mun.map(" — " + _).getOrElse(""))
      etl.queries.foreach { case (name, sql, answer) =>
        val err = answer(spark.sql(sql).collect().toSeq)
        check(err.isEmpty, s"days=$days: $name matches the expected answer" +
          err.map(" — " + _).getOrElse(""))
      }
    } finally spark.stop()
    Seq("a", "b", "c").foreach(n => Seq(6, 30).foreach(d => Util.deleteRecursively(new File(dir, s"$n-$d"))))
    Util.deleteRecursively(new File(dir, "spark-local"))
  }
}
