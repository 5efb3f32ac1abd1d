package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable kNN-graph ANN index — the HNSW-shaped serving tier next to the
  * list-probed [[IvfIndex]]: [[Similarity.knnGraphParts]]' one-round
  * NN-descent top-4 graph persisted to disk, served by
  * [[Similarity.beamSearch]]'s greedy bounded-beam walk. Third member of
  * the durable-index family ([[MinhashIndex]] dedup, [[IvfIndex]] lists,
  * this — graph walks), all sharing the contract: build and serving use
  * the SAME code as the in-query keys (KnnGraphIndexSpec pins
  * served-from-disk ≡ `q_ann_graph_serve`), and `upsert` is idempotent by
  * anti-join on stored ids.
  *
  * Layout: `<path>/graph` (a, b — directed top-4 edges) and
  * `<path>/vectors` (vec_id, embedding). Entry points are NOT stored —
  * they are the deterministic md5("gs:"+vec_id) minima of the vector
  * table, recomputed per search (a rule, not state, so init and upsert
  * can never disagree with serving about where walks start).
  *
  * 100 TB shape: `search` walks O(beam·hops) rows per query against the
  * partition-parallel stored tables — the lowest-read serving tier (IVF
  * probes read nprobe/k of the corpus; the walk reads hundreds of rows).
  * `upsert` links each NEW vector by searching the EXISTING graph (cost ∝
  * |batch|·beam·hops, never corpus²) and appends both edge directions, so
  * new content is reachable from old entry points immediately — the
  * standard incremental-HNSW insert. Like HNSW, an incrementally-grown
  * graph is a different (equally valid) graph than a batch rebuild:
  * append order matters to edges, so the ≡-from-scratch certificate the
  * other two indexes carry is replaced here by determinism + reachability
  * certificates (same batches ⇒ same graph; every upserted id gets both
  * in- and out-edges). */
object KnnGraphIndex {

  /** Build the one-round NN-descent graph over `vectors` (vec_id,
    * embedding — pre-filtered to the canonical 64-dim nonzero form) and
    * persist graph + vectors, replacing any prior index at `path`. */
  def init(spark: SparkSession, vectors: DataFrame, path: String): Unit = {
    val parts = Similarity.knnGraphParts(vectors)
    parts.nn1.write.mode("overwrite").parquet(s"$path/graph")
    vectors.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** Link a new batch into the stored graph: each genuinely-new vector
    * beam-searches the EXISTING index for its top-`degree` neighbors,
    * then both edge directions land (new→found for the walk out of new
    * content, found→new so old entry points can REACH it). Idempotent —
    * already-stored vec_ids are dropped before linking. */
  def upsert(spark: SparkSession, batch: DataFrame, path: String,
      degree: Int = 4): Unit = {
    import org.apache.spark.sql.expressions.Window
    val stored = spark.read.parquet(s"$path/vectors")
    val fresh = batch.select(col("vec_id"), col("embedding"))
      .join(stored.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .localCheckpoint(eager = false) // queries the walk AND lands in the index
    val asQueries = fresh
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val visited = Similarity.beamSearch(
      spark.read.parquet(s"$path/graph"), stored, asQueries)
    val links = visited
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("node"))))
      .filter(col("rk") <= degree)
      .select(col("qid"), col("node"))
    links.select(col("qid").as("a"), col("node").as("b"))
      .unionByName(links.select(col("node").as("a"), col("qid").as("b")))
      .write.mode("append").parquet(s"$path/graph")
    fresh.write.mode("append").parquet(s"$path/vectors")
  }

  /** Serve a query page (qid, qvec) from the stored graph: the
    * [[Similarity.beamSearch]] walk, ranked to `topk` with the house
    * (cos DESC, vec_id ASC) tie-break, self-matches excluded. */
  def search(spark: SparkSession, queries: DataFrame, path: String,
      hops: Int = 3, beam: Int = 8, topk: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val visited = Similarity.beamSearch(
      spark.read.parquet(s"$path/graph"),
      spark.read.parquet(s"$path/vectors"), queries, hops, beam)
    visited.filter(col("node") =!= col("qid"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("node"))))
      .filter(col("rk") <= topk)
      .select(col("qid"), col("node").as("vec_id"),
        round(col("cos"), 6).as("cosine"), col("rk"))
  }
}
