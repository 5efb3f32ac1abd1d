package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter (local iteration only)]
    val sfDir = args(0); val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // Fail fast on a typo'd filter name: an unmatched filter would write
    // nothing, dump an empty oracle map, and read as a GREEN gate ("0
    // passed, 0 failed") even though nothing was checked.
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s) in filter: ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.buildLocal(cpus, "graft-verify")
    // ERROR, not WARN: the audited-but-chatty WindowExec warnings (SURVEY
    // §6.5) flooded driver tails; [verify]-prefixed diagnostics below are
    // explicit stderr prints and unaffected.
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try Materialize.scoped(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> String.valueOf(e.getMessage).take(300)
      }
    }
    // A failed query writes no result dir, so the driver's compare simply
    // omits it — a testdata encoding change once dropped 49 keys behind a
    // GREEN-looking gate. Make the drop loud: a summary line on stderr plus
    // a machine-readable artifact next to the results.
    System.err.println(
      s"[verify] ${failed.size} of ${selected.size} queries FAILED" +
        (if (failed.isEmpty) "" else s": ${failed.map(_._1).sorted.mkString(", ")}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Under a name filter, dump only the filtered oracles: a full dump would
    // let check.py compare UNFILTERED queries against stale parquet from an
    // older build and report a false PASS. Stale result dirs now show as
    // SKIP (no oracle) instead.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failed.sortBy(_._1)
      .map { case (k, m) => s"${q(k)}: ${q(m)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
  }
}
