package graft

import graft.ops.{IvfIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The durable IVF index must be indistinguishable from a from-scratch
  * assignment under the same trained centroids after any init/upsert
  * sequence — otherwise the ingest path and the serving path would
  * disagree about which inverted list holds a vector. */
class IvfIndexSpec extends SparkSpec {

  private def vectors: DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
      .filter(expr(
        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (a, b) -> a + b) > 0"))
      .select(col("vec_id"), col("embedding"))

  private def lists(df: DataFrame): Set[(Long, Long)] =
    df.select(col("vec_id").cast("long"), col("cid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("init+upsert reproduces from-scratch assignment; re-upsert is a no-op") {
    val path = java.nio.file.Files.createTempDirectory("ivf_index").toString + "/idx"
    val v = vectors
    val init = v.filter(col("vec_id") % 10 =!= 0)
    val batch = v.filter(col("vec_id") % 10 === 0)
    IvfIndex.init(init, path)
    IvfIndex.upsert(spark, batch, path)
    val upserted = lists(spark.read.parquet(s"$path/assignments"))
    // from-scratch: the FULL corpus assigned under the init-trained
    // centroids — the frozen-centroid upsert contract
    val cent = spark.read.parquet(s"$path/centroids")
    val scratch = lists(Similarity.assignToCentroids(v, cent))
    assert(upserted == scratch,
      "index after init+upsert must equal a from-scratch full assignment")
    assert(upserted.map(_._1) == lists(spark.read.parquet(s"$path/assignments")).map(_._1))
    // idempotence: re-ingesting the batch (the retry case) changes nothing
    IvfIndex.upsert(spark, batch, path)
    assert(lists(spark.read.parquet(s"$path/assignments")) == scratch,
      "re-upserting an already-ingested batch must be a no-op")
  }

  test("LIVE streaming ingest across forced micro-batches: index and probe equal the batch twin") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_stream").toString
    val stage = s"$tmp/in"; val cp = s"$tmp/cp"; val path = s"$tmp/idx"
    val v = vectors
    val seed = v.filter(col("vec_id") % 4 === 0)
    IvfIndex.init(seed, path) // centroids train once, then freeze
    // stage the remaining vectors as TWO parquet files → two micro-batches
    v.filter(col("vec_id") % 4 =!= 0).repartition(2).write.parquet(stage)
    val stream = spark.readStream
      .schema(spark.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
    val q = graft.streaming.Streams.startIvfIngest(stream, path, cp)
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "the split must actually exercise ≥2 non-empty micro-batches")
    val cent = spark.read.parquet(s"$path/centroids")
    assert(lists(spark.read.parquet(s"$path/assignments")) ==
      lists(Similarity.assignToCentroids(v, cent)),
      "streamed index must equal the from-scratch full assignment")
    // and the serving path reads the streamed state identically to an
    // index built by the batch init+upsert sequence on the same corpus
    val batchPath = s"$tmp/idx_batch"
    IvfIndex.init(seed, batchPath)
    IvfIndex.upsert(spark, v.filter(col("vec_id") % 4 =!= 0), batchPath)
    val queries = v.filter(col("vec_id") % 40 === 0 && col("vec_id") < 2560)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def page(p: String) = IvfIndex.probe(spark, queries, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val streamed = page(path)
    assert(streamed.nonEmpty && streamed == page(batchPath),
      "probe over streamed state must equal probe over batch-built state")
  }

  test("probe from the upserted index equals the in-query serving result") {
    val path = java.nio.file.Files.createTempDirectory("ivf_probe").toString + "/idx"
    val v = vectors
    IvfIndex.init(v.filter(col("vec_id") % 10 =!= 0), path)
    IvfIndex.upsert(spark, v.filter(col("vec_id") % 10 === 0), path)
    val queries = v.filter(col("vec_id") % 40 === 0 && col("vec_id") < 2560)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = IvfIndex.probe(spark, queries, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got.nonEmpty, "the serving page must return results")
    // the same page served straight from in-memory centroids+assignments
    val cent = spark.read.parquet(s"$path/centroids")
    val assigned = Similarity.assignToCentroids(v, cent)
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("qsim").desc, col("cid"))
    val probes = queries.crossJoin(broadcast(cent))
      .withColumn("qsim", expr("cosine_sim(qvec, cvec)"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= 4).select(col("qid"), col("qvec"), col("cid"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    val want = assigned.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", expr("cosine_sim(embedding, qvec)"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("vec_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, "durable probe and in-query serving must agree")
  }
}
