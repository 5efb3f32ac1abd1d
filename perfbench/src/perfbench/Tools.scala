package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Out-of-band steps of the benchmark, each in its own JVM so none of them
  * touches a measured process:
  *
  *  - `gen-suite <dir> <version>`: write the suite tables, stamped with
  *    `version`;
  *  - `record <dir> <out.json> [verify-out-dir]`: fingerprint every suite
  *    key on those tables, or, given a `graft.Verify` output directory, the
  *    parquet results Verify wrote for the same keys.
  */
object Tools {
  private def session(dir: File): SparkSession =
    GraftSession.buildLocal(sys.env.getOrElse("PERFBENCH_CORES", "4"), "perfbench-tools",
      extraConf = Map("spark.local.dir" -> new File(dir, "_spark-local").getPath))

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("gen-suite", dir, version) =>
      val d = new File(dir).getAbsoluteFile
      val spark = session(d)
      spark.sparkContext.setLogLevel("ERROR")
      try SuiteData.write(spark, d, version) finally spark.stop()
      Util.deleteRecursively(new File(d, "_spark-local"))
    case Seq("record", dir, out, rest @ _*) =>
      val d = new File(dir).getAbsoluteFile
      val spark = session(d)
      spark.sparkContext.setLogLevel("ERROR")
      val keys = (Suites.Plan ++ Suites.Materialize).sorted
      val prints = try keys.map { k =>
        val countOnly = Suites.CountOnly.contains(k)
        val df = rest.headOption match {
          case Some(verifyOut) => spark.read.parquet(s"$verifyOut/$k")
          case None => Suites.query(k)(spark, d.getPath)
        }
        k -> Suites.fingerprint(df, countOnly)
      }.toMap finally spark.stop()
      Util.writeJson(new File(out), scala.collection.immutable.TreeMap(prints.toSeq: _*))
      Util.deleteRecursively(new File(d, "_spark-local"))
    case _ =>
      System.err.println("usage: Tools gen-suite <dir> <version> | record <dir> <out.json> [verify-out]")
      sys.exit(2)
  }
}
