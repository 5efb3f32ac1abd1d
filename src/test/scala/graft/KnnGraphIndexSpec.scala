package graft

import graft.ops.{KnnGraphIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The durable kNN-graph index must serve exactly what the in-query
  * q_ann_graph_serve key computes, and incremental upserts must be
  * deterministic, idempotent, and leave every new node reachable. */
class KnnGraphIndexSpec extends SparkSpec {

  private def vectors: DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
      .filter(expr(
        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (a, b) -> a + b) > 0"))
      .select(col("vec_id"), col("embedding"))

  private def page(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select(col("qid"), col("vec_id"), col("cosine"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))

  test("init+search serves exactly the in-query q_ann_graph_serve page") {
    val path = java.nio.file.Files.createTempDirectory("knng").toString + "/idx"
    val v = vectors
    KnnGraphIndex.init(spark, v, path)
    val queries = v.filter(col("vec_id") % 40 === 0 && col("vec_id") < 2560)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val served = page(KnnGraphIndex.search(spark, queries, path))
    val inQuery = page(Similarity.qAnnGraphServe(spark, sf))
    assert(served.nonEmpty && served == inQuery,
      "durable serving and the in-query key must agree row for row")
  }

  test("upsert links deterministically; new nodes reachable; re-upsert is a no-op") {
    val v = vectors
    val seed = v.filter(col("vec_id") % 5 =!= 0)
    val batch = v.filter(col("vec_id") % 5 === 0)
    def build(): String = {
      val p = java.nio.file.Files.createTempDirectory("knng_up").toString + "/idx"
      KnnGraphIndex.init(spark, seed, p)
      KnnGraphIndex.upsert(spark, batch, p)
      p
    }
    val p1 = build(); val p2 = build()
    def graphRows(p: String) = spark.read.parquet(s"$p/graph")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // determinism: same batches in the same order => the same graph
    assert(graphRows(p1) == graphRows(p2),
      "identical init+upsert sequences must produce identical graphs")
    // reachability plumbing: every upserted id carries BOTH directions
    val newIds = batch.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val g = graphRows(p1)
    val outs = g.map(_._1); val ins = g.map(_._2)
    assert(newIds.forall(outs.contains), "every new node needs out-edges")
    assert(newIds.forall(ins.contains), "every new node needs in-edges")
    // idempotence: re-ingesting the batch (the retry case) changes nothing
    KnnGraphIndex.upsert(spark, batch, p1)
    assert(graphRows(p1) == g, "re-upserting an ingested batch must be a no-op")
    // and a served page from the grown index can surface new content
    val queries = batch.limit(8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = KnnGraphIndex.search(spark, queries, p1).collect()
    assert(got.nonEmpty, "the grown index must serve results")
  }
}
