package graft.plans

import graft.functions.{CharEntropy, CosineSimilarity, JaroWinkler, SubTokenCount}
import org.apache.spark.sql.SparkSessionExtensions

/** Everything the engine adds to Catalyst: the four native expressions and
  * the top-k-per-group planner strategy. [[graft.GraftSession.build]]
  * installs it on every session it builds — the single install site, so
  * no query registers a function or a strategy at run time. A pure-SQL
  * session outside that factory gets the same surface by launching with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((CosineSimilarity.ident, CosineSimilarity.info,
      CosineSimilarity.builder))
    ext.injectFunction((CharEntropy.ident, CharEntropy.info,
      CharEntropy.builder))
    ext.injectFunction((SubTokenCount.ident, SubTokenCount.info,
      SubTokenCount.builder))
    ext.injectFunction((JaroWinkler.ident, JaroWinkler.info,
      JaroWinkler.builder))
    ext.injectPlannerStrategy(_ => TopKPerGroup.Strategy)
  }
}
