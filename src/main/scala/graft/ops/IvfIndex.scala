package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable IVF (inverted-file) ANN index — the state a streaming-ingest
  * similarity pipeline keeps BETWEEN batches, pairing the batched serving
  * shape ([[Similarity.qAnnIvfBatch]]) with an index that persists and
  * grows by upsert instead of being re-trained per run. The similarity-
  * stack twin of [[Dedup.qMinhashIncremental]]'s band index.
  *
  * Layout: `<path>/centroids` (cid, cvec — the k=16 trained centroids,
  * frozen at init) and `<path>/assignments` (vec_id, embedding, cid — the
  * inverted lists). Training and assignment are the SAME code the in-query
  * keys run ([[Similarity.ivfCentroids]] / [[Similarity.assignToCentroids]]),
  * so the durable path can never disagree with the query path about which
  * list a vector belongs to (IvfIndexSpec pins upserted ≡ from-scratch).
  *
  * 100 TB shape: `upsert` is (a) idempotent — an anti-join on stored
  * vec_ids drops re-submitted vectors, so a retried batch cannot double
  * rows — and (b) batch-bounded — assignment runs over the NEW vectors
  * against the broadcast 16-row centroid table; the corpus-sized side is
  * one vec_id scan of the index (a metadata read / MERGE key check in a
  * real table format; plain parquet append is the harness-portable
  * stand-in). Centroids are FROZEN at init: per-batch assignment cost is
  * ∝ |batch|, and centroid retraining is an explicit offline `init`, the
  * standard IVF ingest contract (a drifting corpus re-inits; serving
  * never blocks on training). `probe` serves a bounded query page from
  * the stored lists — at production scale `cid` is the table's partition
  * column, so probing nprobe of k lists reads nprobe/k of the data. */
object IvfIndex {

  /** Train (k=16, 2 Lloyd iterations — the q_ann_ivf discipline) on
    * `vectors` (vec_id, embedding) and persist centroids + assignments,
    * replacing any prior index at `path`. */
  def init(vectors: DataFrame, path: String): Unit = {
    val cent = Similarity.ivfCentroids(vectors, 16, 2)
    cent.write.mode("overwrite").parquet(s"$path/centroids")
    Similarity.assignToCentroids(vectors, cent)
      .write.mode("overwrite").parquet(s"$path/assignments")
  }

  /** Append a new batch's list assignments under the FROZEN centroids;
    * vectors already present are skipped (idempotent re-ingest). */
  def upsert(spark: SparkSession, batch: DataFrame, path: String): Unit = {
    val cent = spark.read.parquet(s"$path/centroids")
    val existing = spark.read.parquet(s"$path/assignments")
      .select(col("vec_id")).distinct()
    Similarity.assignToCentroids(
      batch.join(existing, Seq("vec_id"), "left_anti"), cent)
      .write.mode("append").parquet(s"$path/assignments")
  }

  /** Serve a query page (qid, qvec) from the stored index: each query
    * probes its `nprobe` nearest lists and exact-reranks to `topk` —
    * byte-identical ranking rules to [[Similarity.qAnnIvfBatch]]
    * (cosine desc, centroid ties to cid, rerank ties to vec_id). The
    * query page and its probe lists broadcast; the corpus side is the
    * partition-parallel stored-assignment scan. */
  def probe(spark: SparkSession, queries: DataFrame, path: String,
      nprobe: Int = 4, topk: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cent = spark.read.parquet(s"$path/centroids")
    val assigned = spark.read.parquet(s"$path/assignments")
    val probeW = Window.partitionBy(col("qid")).orderBy(col("qsim").desc, col("cid"))
    val probes = queries.crossJoin(broadcast(cent))
      .withColumn("qsim", expr("cosine_sim(qvec, cvec)"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qvec"), col("cid"))
    val rankW = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    assigned.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", expr("cosine_sim(embedding, qvec)"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= topk)
      .select(col("qid"), col("vec_id"), round(col("cos_raw"), 6).as("cosine"), col("rk"))
  }
}
