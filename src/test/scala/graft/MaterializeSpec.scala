package graft

import graft.ops.Similarity
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** The behaviours of [[Materialize]] beyond the checkpoint itself: a
  * scope frees what a key made, `inline` plans past every checkpoint,
  * `shared` defers only its result stage, and a released checkpoint fails
  * loudly instead of returning rows. */
class MaterializeSpec extends SparkSpec {

  /** The id the next RDD will get: every RDD made after this call has an
    * id at least this large. */
  private def nextRddId(): Int = spark.sparkContext.emptyRDD[Int].id + 1

  private def persistedIn(from: Int, until: Int): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.filter(id => id >= from && id < until).toSet

  private def logicalRdds(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r }

  test("scoped releases every checkpoint a key makes; outside a scope they stay registered") {
    for (key <- Seq("q_kcore_cert", "q_ann_nndescent")) {
      val q = SparkEntry.queries(key)
      val from = nextRddId()
      Materialize.scoped(q(spark, sf).write.format("noop").mode("overwrite").save())
      val until = nextRddId()
      assert(persistedIn(from, until).isEmpty,
        s"$key: RDDs made inside the scope are still registered after it")

      val from2 = nextRddId()
      val df = q(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      val left = persistedIn(from2, nextRddId())
      assert(left.nonEmpty, s"$key: outside a scope the checkpoints stay until the cleaner runs")
      assert(logicalRdds(df).nonEmpty)
      left.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
    }
  }

  test("inline plans past every checkpoint: the ANN serve half shows no LogicalRDD") {
    val (graph, base) = Similarity.annGraph(spark, sf)
    assert(logicalRdds(Similarity.annGraphServe(graph, base)).nonEmpty,
      "outside inline the serve half reads checkpoints")
    val served = Materialize.inline {
      val (g, b) = Similarity.annGraph(spark, sf)
      Similarity.annGraphServe(g, b)
    }
    assert(logicalRdds(served).isEmpty,
      s"inline left a checkpoint in the plan:\n${served.queryExecution.analyzed}")
    val keyed = Materialize.inline(Materialize.byKey(Tables.customer(spark, sf), "c_custkey", 8))
    assert(logicalRdds(keyed).isEmpty)
    assert(keyed.count() == Tables.customer(spark, sf).count())
  }

  test("shared runs a frame's shuffle stages at the call; the result stage waits for a consumer") {
    Materialize.scoped {
      val agg = Tables.lineitem(spark, sf).groupBy("l_orderkey").count()
      val scan = Tables.customer(spark, sf).select("c_custkey")
      val (sharedAgg, aggJobs) = JobCount(spark)(Materialize.shared(agg))
      val (_, scanJobs) = JobCount(spark)(Materialize.shared(scan))
      assert(aggJobs == 1, s"the aggregation's shuffle stage runs at the call: $aggJobs jobs")
      assert(scanJobs == 0, s"a frame with no exchange runs nothing at the call: $scanJobs jobs")
      val (n, readJobs) = JobCount(spark)(sharedAgg.count())
      assert(n == agg.count() && readJobs >= 1, "the cache fills with the first consumer")
    }
  }

  test("an action on a released barrier fails on the missing checkpoint block, never returning rows") {
    val df = Materialize.barrier(Tables.customer(spark, sf).select("c_custkey"))
    val id = logicalRdds(df).head.rdd.id
    Materialize.release(df)
    var rows: Array[Row] = null
    val e = intercept[SparkException] { rows = df.collect() }
    assert(rows == null)
    assert(e.getMessage.contains(s"Checkpoint block rdd_${id}_"),
      s"the failure must name the missing block of RDD $id: ${e.getMessage}")
  }
}
