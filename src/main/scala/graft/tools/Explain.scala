package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev tool: dump formatted physical plans for representative queries.
  * Usage: runMain graft.tools.Explain <sfDir> <q1> <q2> ...
  * It stays until Bench can dump plans itself (ROADMAP direction 1).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.buildLocal("4", "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      println(s"\n## $name\n")
      println("```")
      println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      println("```")
    }
    spark.stop()
  }
}
