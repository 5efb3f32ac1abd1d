package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (BASELINE north-star; SURVEY.md §2.5):
  * cosine top-k against a query vector.
  *
  *  - `q_cosine_topk`: brute-force scan — the correctness baseline and the
  *    oracle tier (DuckDB list_cosine_similarity twin). One pass, no shuffle
  *    except TakeOrdered's per-partition heap merge.
  *  - `q_ann_lsh`: random-hyperplane LSH — the 100 TB tier. Each vector gets
  *    a 16-bit sign code (dot-product sign against 16 fixed pseudo-random
  *    hyperplanes); search touches only vectors whose code is within
  *    Hamming ≤ 4 of the query's code, then ranks that candidate set by
  *    exact cosine. At scale the codes are a partition/bucket key: the scan
  *    prunes to matching buckets instead of filtering post-hoc, turning
  *    top-k from O(n·d) into O(n/2^bits · multiprobe · d).
  *
  * The hyperplanes are derived from xxhash64(plane, component) — fixed,
  * seed-stable, identical on every executor without shipping state.
  * Dot products run through zip_with + aggregate higher-order functions:
  * codegen'd, no UDF, no boxing.
  */
object Similarity extends QueryModule {

  /** embeddings with the query vector (vec_id = 0) cross-joined on. */
  private def withQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    e.crossJoin(broadcast(q))
  }

  /** Hard cap on the k-NN / batched-IVF serving batch: the first
    * `ServingBatchCap` stride-40 vec_ids. The batch is what broadcasts in
    * the serving keys, so its size must be a CONSTANT, not a corpus
    * fraction — `vec_id % 40 = 0` alone is 2.5% OF THE CORPUS, a ~TB
    * broadcast at 100 TB. With the cap the broadcast is ≤ 64 rows at any
    * scale (and covers every stride-40 vector the sf0.01/sf0.1 test data
    * has, so correctness rows are unchanged at small SF). Corpus-scale
    * query sets don't belong on this path at all: they route through the
    * banded/list equi-join tiers (LSH bands, IVF lists) that prune the
    * candidate space per query instead of scanning it. */
  val ServingBatchCap = 64
  private val servingBatchPred =
    col("vec_id") % 40 === 0 && col("vec_id") < lit(40L * ServingBatchCap)
  private val servingBatchSql = s"vec_id % 40 = 0 AND vec_id < ${40L * ServingBatchCap}"

  private val normSqExpr =
    "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (a, b) -> a + b)"

  private val cosineExpr =
    s"""aggregate(zip_with(embedding, qvec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, b) -> a + b)
      | / (sqrt($normSqExpr)
      |    * sqrt(aggregate(transform(qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (a, b) -> a + b)))""".stripMargin

  /** Brute-force cosine top-20 against vec 0 (excluding itself, zero-norm
    * vectors — a zero vector has no direction: the HOF division throws
    * under ANSI and DuckDB yields NaN, which it sorts FIRST in a descending
    * order — and ragged vectors off the canonical 64 dims, on which the two
    * engines disagree: Spark zip_with null-pads, DuckDB raises). */
  def qCosineTopk(spark: SparkSession, dir: String): DataFrame =
    withQuery(spark, dir)
      .filter(col("vec_id") =!= 0 && size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .withColumn("cos_raw", expr(cosineExpr))
      .select(col("vec_id"), col("label"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(20)

  /** Deterministic 16×64 hyperplane matrix for the sign-code LSH: component
    * (h, j) = (md5("h:j") first-15-hex as int) mod 1000, centered to
    * [-500, 499]. INTEGER weights — scaling a hyperplane by a positive
    * constant never changes a dot-product sign, and integer-valued literals
    * parse to exactly the same double in every engine (no decimal-rounding
    * ambiguity). Computed ONCE here and interpolated as literals into BOTH
    * the Spark expression and the DuckDB oracle, so the per-bit signs are
    * bit-reproducible across engines — that is what moves this query from
    * rows-only to oracle-verified (and it also deletes the 16×64 per-row
    * runtime hash calls the previous formulation paid). */
  private lazy val planeWeights: IndexedSeq[IndexedSeq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 16).map { h =>
      (0 until 64).map { j =>
        val hex = md.digest(s"$h:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16) % 1000 - 500
      }
    }
  }

  /** LSH-bucketed ANN top-10: 16-bit sign codes against [[planeWeights]],
    * multiprobe Hamming ≤ 6, exact cosine rerank on candidates.
    * Oracle-verified: the codes are exact-integer-weighted dot-product signs
    * with identical literals and identical left-to-right accumulation in
    * both engines. Radius 6 scans ~23% of a uniform code space — tuned for
    * this synthetic near-uniform data, where sign codes correlate weakly
    * with the (low) top-10 cosines; clustered real embeddings allow radius
    * 2-3 and a far larger prune factor. At scale the code is a write-time
    * partition/bucket key: probing reads matching buckets instead of
    * filtering post-hoc. */
  def qAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    // 16 independent zip_with/aggregate dots over the SCAN column plus a
    // literal array — no derived-array HOF nesting, so projection collapse
    // cannot re-evaluate anything (HOFs over DERIVED arrays get inlined
    // and re-evaluated per consumer).
    val codeExpr = (0 until 16).map { h =>
      val planes = planeWeights(h).mkString("array(", ", ", ")")
      s"""(CASE WHEN aggregate(zip_with(embedding, $planes,
         |  (x, w) -> CAST(x AS DOUBLE) * w), 0D, (a, b) -> a + b) > 0
         |  THEN ${1 << h} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")
    val coded = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .withColumn("code", expr(codeExpr))
    val qcode = coded.filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"), col("code").as("qcode"))
    coded.crossJoin(broadcast(qcode))
      .filter(col("vec_id") =!= 0 && expr("bit_count(code ^ qcode) <= 6"))
      .withColumn("cos_raw", expr("cosine_sim(embedding, qvec)"))
      .select(col("vec_id"), col("label"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(10)
  }

  /** qCosineTopk through the native codegen'd [[graft.functions.CosineSimilarity]]
    * expression instead of the HOF chain — same math, same accumulation
    * order, bit-identical output (shares the brute-force oracle), one fused
    * primitive loop per row instead of ~192 interpreted lambda evals. */
  def qCosineTopkNative(spark: SparkSession, dir: String): DataFrame = {
    withQuery(spark, dir)
      .filter(col("vec_id") =!= 0 && size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .withColumn("cos_raw", expr("cosine_sim(embedding, qvec)"))
      .select(col("vec_id"), col("label"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(20)
  }

  /** Batch k-NN join: EVERY query in a batch (each 40th vector) gets its
    * top-5 cosine neighbors — the retrieval/embedding-dedup primitive,
    * where [[qCosineTopk]] is its single-query special case. The query
    * batch broadcasts (nested-loop against the corpus — intentional: the
    * small side is the batch, there is no equi-key); scoring uses the
    * native codegen'd `cosine_sim`, so the hot loop is |corpus|×|batch|
    * fused primitive-double dot products with no interpreted lambdas; the
    * only shuffle carries (qid, vec_id, score) triples to the per-query
    * top-k window. At 100 TB the corpus side stays partition-parallel and
    * the batch side is a CONSTANT [[ServingBatchCap]] rows (never a corpus
    * fraction — see the cap's doc), so the broadcast is bounded at any
    * scale; larger query sets tile into multiple passes, or move to the
    * LSH/IVF tiers which prune the candidate space per query instead of
    * scanning it. */
  def qKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
    val batch = base.filter(servingBatchPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    base.crossJoin(broadcast(batch))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", expr("cosine_sim(embedding, qvec)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("vec_id"), round(col("cos_raw"), 6).as("cosine"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** NDCG gain at ranks 1..10 as ⌊10⁹/log₂(r+1)⌋ — fixed INTEGER
    * literals computed once here and inlined into BOTH engines' queries,
    * so the transcendental log never runs inside either engine and the
    * whole metric stays in exact integer arithmetic. */
  private val NdcgW: Seq[Long] =
    (1 to 10).map(r => math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** Prefix sums of [[NdcgW]], entry k+1 = ideal DCG with k relevant
    * docs (entry 1 = 0 relevant → 0). */
  private val NdcgPrefix: Seq[Long] = NdcgW.scanLeft(0L)(_ + _)

  /** Retrieval-quality evaluation of the brute-force k-NN retriever —
    * the metric table an embedding-model or index change is judged by:
    * for each of the [[ServingBatchCap]] serving-batch queries, retrieve
    * the cosine top-10 (self excluded) and score it against the
    * label-match relevance oracle: hits@10, MRR (truncating ppm of the
    * first relevant rank), DCG/IDCG in the scaled-integer gain of
    * [[NdcgW]], and NDCG as one exact ppm division. IDCG uses the true
    * per-label candidate count (label census minus self, capped at 10),
    * so a query whose class has < 10 members is normalized by ITS ideal,
    * not a fictitious full page.
    *
    * Scale shape: the scoring pass is [[qKnnJoin]]'s — constant-size
    * query batch broadcast × one corpus scan, per-qid top-10 window over
    * a perfectly-distributed unique key; everything after is arithmetic
    * on ≤ cap×10 rows plus a 10-row label-census broadcast. Evaluating a
    * bigger query sample at 100 TB re-batches by the same cap, cost
    * linear in batches × corpus. */
  def qRetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
    val batch = base.filter(servingBatchPred)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qvec"))
    val labCnt = base.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    val wLits = NdcgW.mkString(", ")
    val pLits = NdcgPrefix.mkString(", ")
    base.crossJoin(broadcast(batch))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", expr("cosine_sim(embedding, qvec)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .withColumn("rel", (col("label") === col("qlabel")).cast("long"))
      .withColumn("gain",
        expr(s"rel * element_at(array($wLits), CAST(rk AS INT))"))
      .groupBy(col("qid"), col("qlabel"))
      .agg(sum(col("rel")).as("hits_at_10"),
        min(when(col("rel") === 1, col("rk"))).as("fr"),
        sum(col("gain")).as("dcg"))
      .join(broadcast(labCnt), col("qlabel") === col("label"))
      .withColumn("n_rel", least(col("n_label") - 1, lit(10L)))
      .withColumn("mrr_ppm", coalesce(expr("div(1000000, fr)"), lit(0L)))
      .withColumn("idcg",
        expr(s"element_at(array($pLits), CAST(n_rel AS INT) + 1)"))
      .withColumn("ndcg_ppm", when(col("idcg") === 0, lit(null))
        .otherwise(expr("div(1000000 * dcg, idcg)")))
      .select(col("qid"), col("qlabel"), col("n_rel"), col("hits_at_10"),
        col("mrr_ppm"), col("dcg"), col("idcg"), col("ndcg_ppm"))
      .orderBy(col("qid"))
  }

  /** ANN index-quality certificate: recall@5 of the batched IVF serving
    * page ([[qAnnIvfBatch]]) against the exact brute-force page
    * ([[qKnnJoin]]) for every serving-batch query, plus the mean — THE
    * number an index rollout is gated on (labels measure the embedding,
    * `q_retrieval_eval`; this measures the INDEX). Both pages and the
    * intersection are exact integer counts; recall and its mean are
    * truncating ppm divisions, so the oracle re-derives the trained IVF
    * index (the `q_ann_ivf` CTE chain) and must agree bit-for-bit.
    *
    * Scale shape: the two page builds are the existing serving plans
    * (constant-cap batch broadcasts × one corpus scan each); the
    * comparison joins two ≤ cap×5-row pages on (qid, vec_id). Nothing
    * new shuffles at corpus size. */
  def qAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    // checkpointed: `exact` feeds the hits join AND the per-query census —
    // uncheckpointed, the ENTIRE brute-force serving chain (qKnnJoin's
    // corpus scan + rank) was planted twice (the plan showed 12
    // embeddings scans, 58 exchanges for this one key). Both checkpoints are
    // page-sized (≤ 64·5 rows / ≤ 64 rows).
    val exact = Materialize.shared(qKnnJoin(spark, dir).select(col("qid"), col("vec_id")))
    val served = qAnnIvfBatch(spark, dir)
      .select(col("qid").as("q2"), col("vec_id").as("v2"))
    val hits = exact
      .join(served, col("qid") === col("q2") && col("vec_id") === col("v2"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    // feeds the mean AND the output join
    val per = Materialize.shared(exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .withColumn("recall_ppm", expr("div(1000000 * n_hit, n_exact)")))
    val mean = per.agg(
      expr("CAST(div(sum(recall_ppm), count(1)) AS BIGINT)").as("mean_recall_ppm"))
    per.crossJoin(broadcast(mean))
      .select(col("qid"), col("n_exact"), col("n_hit"), col("recall_ppm"),
        col("mean_recall_ppm"))
      .orderBy(col("qid"))
  }

  /** Embedding-corpus QA — the sanity audit an indexing pipeline runs
    * BEFORE building ANN structures over a new embedding batch: the
    * census of ragged vectors (wrong dimensionality) and zero-norm
    * vectors (no direction — they poison cosine math; every similarity
    * key here filters them, this key COUNTS them), plus a 10-bucket
    * equi-width histogram of the squared-norm distribution (a collapsed
    * or bimodal norm histogram is the classic symptom of a truncated or
    * mixed-precision export).
    *
    * Determinism: the squared norm is the one float fold (list-ordered in
    * both engines, the `cosineExpr` precedent), floored once into integer
    * micro-units; bucket width and assignment are then pure integer
    * division — div(max,10)+1 wide, so buckets are 0..9 at any scale.
    *
    * Scale shape: two single-pass aggregates (global census + max) and
    * one map-side-combinable bucket rollup; the max and census are 1-row
    * broadcasts. Nothing here is more than one corpus scan wide. */
  def qEmbeddingQa(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val summary = e.agg(count(lit(1)).as("n_vecs"),
      sum(when(size(col("embedding")) =!= 64, 1L).otherwise(0L)).as("n_ragged"),
      sum(when(size(col("embedding")) === 64 && expr(normSqExpr) <= 0, 1L)
        .otherwise(0L)).as("n_zero"))
    val valid = e.filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .withColumn("nm", expr(s"CAST(floor(($normSqExpr) * 1000000) AS BIGINT)"))
    val mx = valid.agg(max(col("nm")).as("maxm"))
    val hist = valid.crossJoin(broadcast(mx))
      .withColumn("w", expr("div(maxm, 10) + 1"))
      .withColumn("bucket", expr("div(nm, w)"))
      .groupBy(col("bucket"), col("w"))
      .agg(count(lit(1)).as("n_in_bucket"))
      .withColumn("lo_micro", col("bucket") * col("w"))
      .select(col("bucket"), col("lo_micro"), col("n_in_bucket"))
    // The 1-row summary DRIVES the output (histogram left-joined on): a
    // fully-broken batch — zero valid vectors, the exact case this audit
    // exists for — still reports its n_vecs/n_ragged/n_zero census as one
    // row with a NULL bucket, instead of vanishing with the empty histogram.
    summary.join(broadcast(hist), lit(true), "left")
      .select(col("bucket"), col("lo_micro"), col("n_in_bucket"),
        col("n_vecs"), col("n_ragged"), col("n_zero"))
      .orderBy(col("bucket"))
  }

  /** Nearest-centroid assignment (cosine, ties to the smallest cid) — ONE
    * definition shared by the in-query IVF keys and the durable
    * [[IvfIndex]], so index-side and query-side assignment can't drift.
    * Input columns (vec_id, embedding, ...); output `keep` + cid, where
    * the default `keep` is the schema of [[IvfIndex]]'s stored lists. */
  private[graft] def assignToCentroids(vectors: DataFrame, cent: DataFrame,
      keep: Seq[String] = Seq("vec_id", "embedding")): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid"))
    vectors.crossJoin(broadcast(cent))
      .withColumn("csim", expr("cosine_sim(embedding, cvec)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select((keep :+ "cid").map(col): _*)
  }

  /** Deterministic Lloyd k-means for the IVF index: seeded by the first
    * `k` vectors, `iters` fixed iterations of (assign to cosine-argmax
    * centroid, tie-broken by cid) → (centroid = member mean). The mean is
    * computed the q_pagerank way — components in integer micro-units,
    * exact BIGINT sums (order-independent, so partition merge order cannot
    * perturb it), integral division `div(s, n)` — Spark `div` and DuckDB
    * `//` BOTH truncate toward zero (verified empirically on negatives;
    * an earlier pmod-floor form here assumed `//` floors and would have
    * diverged on a negative component sum) — then rounded through FLOAT so both
    * engines subsequently run cosine over bit-identical values. A centroid
    * that loses all members keeps its previous position (left join +
    * coalesce). Every step is a pure function of the data, which is what
    * lets the DuckDB oracle unroll the same iterations as CTEs and verify
    * the trained index exactly.
    *
    * Scale shape per iteration: assignment is a broadcast (k vectors) ×
    * corpus map + per-vec_id argmax window (vec_id is unique, so the
    * window distributes perfectly); the update explodes 64 dims and hash-
    * aggregates — one shuffle of (k × 64) running sums. A production run
    * raises k and iters; the plan shape is unchanged. */
  private[ops] def ivfCentroids(e: DataFrame, k: Int, iters: Int): DataFrame = {
    var cent = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    for (_ <- 1 to iters) {
      val means = assignToCentroids(e, cent)
        .select(col("cid"),
          posexplode(expr("transform(embedding, x -> CAST(round(x * 1e6) AS BIGINT))")))
        .toDF("cid", "dim", "micro")
        .groupBy(col("cid"), col("dim"))
        .agg(sum(col("micro")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("cid"))
        .agg(expr(
          """transform(array_sort(collect_list(struct(dim, s, n))),
            |  t -> CAST(CAST(t.s div t.n AS DOUBLE) / 1e6 AS FLOAT))""".stripMargin)
          .as("nvec"))
      cent = cent.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("nvec"), col("cvec")).as("cvec"))
    }
    // consumed twice downstream (assignment + probes): truncate so the
    // training subplan runs once, not once per consumer
    Materialize.shared(cent)
  }

  /** Batched IVF ANN serving — the production shape of [[qAnnIvf]]: the
    * first [[ServingBatchCap]] stride-40 vectors are the queries; ONE
    * trained index (same [[ivfCentroids]]) serves the whole batch, each
    * query probing its own 4 nearest lists and exact-reranking to top-5.
    * Scale shape: the corpus side stays partition-parallel with its list
    * assignment; queries (a bounded batch, with their probe lists)
    * broadcast; the only shuffle carries (qid, vec_id, score)
    * triples to the per-query top-k window — [[qKnnJoin]]'s shape but
    * touching 4/16 of the corpus per query instead of all of it. Fully
    * deterministic (every ranking tie-broken), so the DuckDB twin unrolls
    * the same training and verifies the whole batch exactly. */
  def qAnnIvfBatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
    val cent = ivfCentroids(e, 16, 2)
    val assigned = assignToCentroids(e, cent)
    val queries = e.filter(servingBatchPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val probeW = Window.partitionBy(col("qid")).orderBy(col("qsim").desc, col("cid"))
    val probes = queries.crossJoin(broadcast(cent))
      .withColumn("qsim", expr("cosine_sim(qvec, cvec)"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= 4)
      .select(col("qid"), col("qvec"), col("cid"))
    val rankW = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    assigned.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", expr("cosine_sim(embedding, qvec)"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("vec_id"), round(col("cos_raw"), 6).as("cosine"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Durable-index IVF serving — the streaming-ingest twin of
    * [[qAnnIvfBatch]], exercising [[IvfIndex]] end to end the way
    * `q_minhash_incremental` does for dedup: train the
    * index on the initial corpus (vec_id % 10 ≠ 0), UPSERT the new batch
    * (the stride-10 vectors) against the FROZEN centroids — assignment
    * cost ∝ |batch|, the standard IVF ingest contract (centroids retrain
    * offline) — then serve the standard 64-query page from the stored
    * index. Because upsert assigns with the same final centroids init
    * used, the stored assignments equal a from-scratch assignment of the
    * full corpus with init-trained centroids — which is exactly what the
    * DuckDB twin unrolls (shared ivfCtesFrom + ivfProbeSql blocks), and
    * what IvfIndexSpec pins structurally (two-batch upsert ≡ from-scratch,
    * idempotent re-upsert).
    *
    * 100 TB shape: identical to q_ann_ivf_batch's serving plan — the
    * corpus side stays partition-parallel keyed by its stored list
    * assignment (at scale, the cid is the table's partition column, so a
    * probe reads 4/16 of the data); the 64-query page and its probe lists
    * broadcast; index growth is append-only parquet. */
  def qIvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .select(col("vec_id"), col("embedding"))
    val path = Relational.sinkPath(dir, "ivf_index")
    IvfIndex.init(e.filter(col("vec_id") % 10 =!= 0), path)
    IvfIndex.upsert(spark, e.filter(col("vec_id") % 10 === 0), path)
    val queries = e.filter(servingBatchPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    IvfIndex.probe(spark, queries, path)
      .orderBy(col("qid"), col("rk"))
  }

  /** IVF ANN top-10 over a k-means-TRAINED index: partition the corpus
    * into inverted lists by nearest trained centroid ([[ivfCentroids]]:
    * 16 centroids, 2 deterministic Lloyd iterations from a first-16 seed),
    * probe the 4 lists nearest the query, exact-rerank inside them. At
    * scale the assignment is a write-time partition key: probing touches
    * 4/16 of the data instead of filtering post-hoc. Every step is
    * deterministic (integer-mean centroids, cosine argmax tie-broken by
    * cid, rerank tie-broken by vec_id), so a DuckDB multi-CTE twin with
    * the same unrolled iterations verifies it exactly; recall vs brute
    * force is also asserted in tests (trained centroids beat the untrained
    * first-16 index on the synthetic corpus). Zero-norm vectors have no
    * direction and are excluded up front in both engines (cosine NULL in
    * Spark vs NaN in DuckDB would otherwise diverge — NaN sorts first in
    * a DuckDB DESC). */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
    val centroids = ivfCentroids(e, 16, 2)
    val assigned = assignToCentroids(e, centroids, Seq("vec_id", "label", "embedding"))
    // probe the 4 centroids nearest the query vector
    val qvec = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val probes = centroids.crossJoin(broadcast(qvec))
      .withColumn("qsim", expr("cosine_sim(cvec, qvec)"))
      .orderBy(col("qsim").desc, col("cid")).limit(4)
      .select(col("cid"))
    assigned.join(broadcast(probes), "cid")
      .crossJoin(broadcast(qvec))
      .filter(col("vec_id") =!= 0)
      .withColumn("cos_raw", expr("cosine_sim(embedding, qvec)"))
      .select(col("vec_id"), col("label"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(10)
  }

  /** Product quantization ANN (the FAISS IVF-PQ compression half): split
    * each 64-dim vector into 4 subspaces of 16 dims, learn an 8-entry
    * codebook per subspace (seeded by vectors 0–7, one deterministic Lloyd
    * iteration under exact integer L2), encode every vector as 4 one-byte
    * codes (a 16× memory compression: 64 floats → 4 bytes + codebooks),
    * and serve the query by ADC — a 32-entry lookup table of exact
    * query·centroid sub-dot-products, summed per vector's code word. The
    * top-10 by approximate dot then rerank-ready. Recall@10 vs the exact
    * dot product is ~0.3 here — uniform random vectors are PQ's
    * adversarial case (no cluster structure for codebooks to exploit;
    * production uses K = 256 + an OPQ rotation on real, clustered
    * embeddings), and the serving contract is rerank-after-ADC anyway, as
    * in [[qAnnIvfBatch]]. Unlike the cosine tiers,
    * EVERY number here is integer micro-unit arithmetic end-to-end
    * (distances, means — via truncating-toward-zero integer division,
    * the shared Spark `div` / DuckDB `//` semantics, NOT floor —
    * LUT, scores) — no float op until the final
    * display division — so the DuckDB twin replays training, encoding, and
    * serving bit-for-bit, the strongest cross-engine guarantee in the
    * similarity family (the [[qEmbedQuantize]] property, extended to a
    * trained index).
    *
    * Scale shape: training/encoding is the [[ivfCentroids]] discipline —
    * broadcast the 32-entry codebook, map-only argmin per (vector,
    * subspace), one (4×8×16)-group shuffle for the integer means; serving
    * is a broadcast 32-row LUT, a map-side code→dot join, one
    * map-side-combinable per-vector sum, and a TakeOrdered top-10. The
    * encoded table (vec_id, 4 codes) is what a 100 TB corpus actually
    * stores; at production scale K rises to 256 and the shape is
    * unchanged. */
  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
    // integer micro sub-vectors: one row per (vector, subspace)
    val sub = Materialize.shared(e.select(col("vec_id"), posexplode(expr(
        """transform(sequence(0, 3), s ->
          |  transform(sequence(0, 15),
          |    j -> CAST(round(element_at(embedding, s * 16 + j + 1) * 1e6) AS BIGINT)))"""
          .stripMargin)))
      .toDF("vec_id", "s", "sv")) // seeds + assign + encode consumers
    val d2Expr =
      "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b)"
    val argminW = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("d2"), col("code"))
    def assign(cb: DataFrame): DataFrame =
      sub.join(broadcast(cb), "s")
        .withColumn("d2", expr(d2Expr))
        .withColumn("rn", row_number().over(argminW))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("s"), col("code"), col("sv"))
    val cb0 = sub.filter(col("vec_id") < 8)
      .select(col("s"), col("vec_id").as("code"), col("sv").as("cv"))
    // one Lloyd iteration: integer means (empty cells keep their seed)
    val means = assign(cb0)
      .select(col("s"), col("code"), posexplode(col("sv"))).toDF("s", "code", "dim", "x")
      .groupBy(col("s"), col("code"), col("dim"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .groupBy(col("s"), col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, sx, n))), t -> t.sx div t.n)")
        .as("nv"))
    // encode + LUT consumers
    val cb = Materialize.shared(cb0.join(means, Seq("s", "code"), "left")
      .select(col("s"), col("code"), coalesce(col("nv"), col("cv")).as("cv")))
    val codes = assign(cb).select(col("vec_id"), col("s"), col("code"))
    // ADC lookup table: exact query·centroid dot per (subspace, code)
    val qsub = sub.filter(col("vec_id") === 0).select(col("s"), col("sv").as("qv"))
    val lut = cb.join(broadcast(qsub), "s")
      .select(col("s"), col("code"),
        expr("aggregate(zip_with(cv, qv, (x, y) -> x * y), 0L, (a, b) -> a + b)").as("dot"))
    codes.join(broadcast(lut), Seq("s", "code"))
      .groupBy(col("vec_id"))
      .agg(sum(col("dot")).as("adc"))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), round(col("adc").cast("double") / 1e12, 6).as("adc_dot"))
  }

  /** MMR-diversified retrieval (maximal marginal relevance): brute-force
    * the top-20 relevance pool against the query vector, then greedily
    * pick 5 results maximizing 0.7·relevance − 0.3·(max cosine to the
    * already-picked set) — the standard redundancy-killer between a
    * raw top-k and a RAG prompt (top-k alone returns five paraphrases of
    * one document; MMR forces coverage). Greedy selection is inherently
    * sequential, so the 5 rounds are UNROLLED: each round anti-joins the
    * picked ids out of the pool, computes each survivor's max similarity
    * to the picked vectors, and takes the arg-max with a (score, vec_id)
    * total order. Every score is the same deterministic expression tree in
    * both engines (native cosine ≡ DuckDB list_cosine_similarity — the
    * [[qAnnIvf]] precedent), so the DuckDB twin replays all five picks.
    *
    * Scale shape: ONE corpus-sized stage (the relevance scan feeding
    * TakeOrdered top-20); every MMR round runs on ≤ 20 rows with a
    * broadcast picked set — driver-loop iterations over bounded data, the
    * [[ivfCentroids]] discipline. k and the pool size are serving-time
    * constants; a bigger pool changes only the tiny loop, not the scan. */
  def qMmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    // 4 rounds × 2 consumers re-derive the pool otherwise
    val pool = Materialize.shared(e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .withColumn("rel", expr("cosine_sim(embedding, qvec)"))
      .orderBy(col("rel").desc, col("vec_id")).limit(20)
      .select(col("vec_id"), col("embedding"), col("rel")))
    var picked = pool.orderBy(col("rel").desc, col("vec_id")).limit(1)
      .select(col("vec_id").as("pid"), col("embedding").as("pvec"),
        col("rel").as("prel"), lit(1).as("rk"))
    for (r <- 2 to 5) {
      val next = pool
        .join(broadcast(picked.select(col("pid"))),
          col("vec_id") === col("pid"), "left_anti")
        .crossJoin(broadcast(picked.select(col("pvec").as("opvec"))))
        .groupBy(col("vec_id"), col("embedding"), col("rel"))
        .agg(max(expr("cosine_sim(embedding, opvec)")).as("maxsim"))
        .withColumn("mmr", col("rel") * 0.7 - col("maxsim") * 0.3)
        .orderBy(col("mmr").desc, col("vec_id")).limit(1)
        .select(col("vec_id").as("pid"), col("embedding").as("pvec"),
          col("rel").as("prel"), lit(r).as("rk"))
      picked = Materialize.shared(picked.unionByName(next))
    }
    picked.select(col("pid").as("vec_id"), col("rk"),
      round(col("prel"), 6).as("relevance"))
      .orderBy(col("rk"))
  }

  /** SemDeDup — cluster-then-dedup over the embedding corpus (the
    * Abbas et al. semantic-dedup recipe): k-means-cluster every vector
    * (the SAME deterministic trained index as [[qAnnIvf]] — one training,
    * two consumers is exactly how a production pipeline amortizes it),
    * then mark a vector as dominated if ANY lower-id member of its own
    * cluster has cosine ≥ 0.4 with it. Near-duplicate *meanings* — unlike
    * the token tiers, two docs phrased differently but embedded nearby
    * dedup here. The keep-lowest-id rule is a total order, so the output
    * (per vector: cluster, kept flag, dominating id) is deterministic and
    * the DuckDB twin reproduces it row-for-row.
    *
    * Scale shape: clustering is the [[ivfCentroids]] broadcast-assign
    * (map-only per iteration + one k×64 shuffle); the dedup is an
    * EQUI-join on cid — the quadratic is confined WITHIN a cluster, which
    * is the SemDeDup design point: k scales with the corpus so |cluster|
    * stays bounded (n²/k per-cluster pair work, never corpus²), and each
    * cluster's pair block lands on one shuffle partition — embarrassingly
    * parallel across clusters. The verify-before-aggregate ordering keeps
    * only true near-dup pairs in the min() shuffle. */
  def qSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
    // three consumers (both pair sides + the final left join): one pass
    val assigned = Materialize.shared(assignToCentroids(e, ivfCentroids(e, 16, 2)))
    val a = assigned.select(col("cid"), col("vec_id").as("u"), col("embedding").as("eu"))
    val b = assigned.select(col("cid"), col("vec_id").as("vid"), col("embedding").as("ev"))
    val dom = a.join(b, Seq("cid"))
      .filter(col("u") < col("vid"))
      .filter(expr("cosine_sim(eu, ev)") >= 0.4)
      .groupBy(col("vid")).agg(min(col("u")).as("dominated_by"))
    assigned.join(dom, assigned("vec_id") === dom("vid"), "left")
      .select(col("vec_id"), col("cid"),
        col("dominated_by").isNull.as("kept"), col("dominated_by"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-cosine near-dup pairs — the fifth dedup tier (BASELINE
    * north-star: exact / n-gram / MinHash / SimHash / EMBEDDING; SURVEY.md
    * §2.5), keyed `q_dedup_embedding` so it files with the dedup family.
    *
    * Semantics: pairs (v1 < v2) of canonical-dimension (64), nonzero-norm
    * vectors whose exact cosine ≥ 0.4, with candidates generated by
    * SIGN-BAND LSH — the embedding's 64 component signs split into 8 bands
    * of 8 bits; a pair is a candidate iff it agrees exactly on ≥ 1 band key.
    * Candidates bucket-join on (band, key) — the same shuffle shape as the
    * MinHash and SimHash tiers, never an all-pairs crossJoin — then exact
    * cosine verifies each candidate. Every step is a deterministic function
    * of the data (component signs, not seeded hyperplanes), so a DuckDB
    * multi-CTE twin reproduces the candidate set and the verify exactly.
    *
    * Recall is probabilistic (sign-agreement per bit = 1 − θ/π): ≈ 0.94 for
    * true near-dups at cosine ≥ 0.9 — the regime a real corpus dedup
    * targets — and deliberately low on THIS synthetic uniform corpus at the
    * 0.4 threshold (no planted dups exist above 0.52; the threshold is set
    * where the synthetic data has any pairs at all). The planted-dup suite
    * in LlmOpsSpec measures recall where it matters; precision is exactly
    * 1.0 by construction (every emitted pair passed the exact verify). */
  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
    // 8 band keys per vector: bit j of band b = sign(embedding[b*8+j]).
    // The nested lambda reads only the scan column `embedding` directly, so
    // projection-collapse inlining re-evaluates nothing (the HOF blowup
    // hits DERIVED arrays); O(64) per row, one pass.
    val bands = e.select(col("vec_id"), col("embedding"),
      posexplode(expr(
        """transform(sequence(0, 7), b ->
          |  aggregate(transform(sequence(0, 7), j ->
          |    CASE WHEN element_at(embedding, b * 8 + j + 1) >= 0 THEN shiftleft(1L, j) ELSE 0L END),
          |    0L, (acc, x) -> acc | x))""".stripMargin)))
      .toDF("vec_id", "embedding", "band", "key")
    val a = bands.select(col("band"), col("key"),
      col("vec_id").as("v1"), col("embedding").as("e1"))
    val b = bands.select(col("band"), col("key"),
      col("vec_id").as("v2"), col("embedding").as("e2"))
    a.join(b, Seq("band", "key"))
      .filter(col("v1") < col("v2"))
      // verify BEFORE distinct (cosine is a pure function of the pair), so
      // the dedup exchange shuffles only true near-dups, not every band
      // coincidence — same ordering as the SimHash tier
      .withColumn("cos_raw", expr("cosine_sim(e1, e2)"))
      .filter(col("cos_raw") >= 0.4)
      .select(col("v1"), col("v2"), col("cos_raw")).distinct()
      .select(col("v1"), col("v2"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("v1"), col("v2"))
  }

  /** Upper-triangle Gram matrix of the embedding corpus — G[i][j] =
    * Σ_rows e[i]·e[j], the d×d moment matrix a PCA / whitening /
    * covariance pass starts from (subtracting the mean outer product,
    * also derivable from these sums, turns it into the covariance).
    * Components are quantized to integer micro-units ONCE (the same
    * `round(x * 1e6)` discipline as [[ivfCentroids]]), so every product
    * and every running sum is exact integer arithmetic; the single final
    * division of an exactly-representable integer (|Σ| < 2^53 up to ~10^5
    * vectors at micro-unit scale, far past any test SF) by the constant
    * 1e12 produces bit-identical doubles in both engines.
    *
    * Scale shape: the double posexplode blows each row into d(d+1)/2
    * triples, but hash aggregation combines them MAP-SIDE into at most
    * 2,080 groups per partition before the one tiny shuffle — raw vectors
    * never shuffle, and shuffle volume is O(partitions · d²) regardless of
    * corpus size. The d² CPU blowup stays inside whole-stage codegen
    * (Generate → HashAggregate, no UDF); at much larger d the stated
    * alternative is a typed Aggregator carrying a d×d long array (no row
    * blowup, same result), the [[graft.ops.Scale]] bloom-build pattern. */
  def qGramMatrix(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .select(expr("transform(embedding, v -> CAST(round(v * 1e6) AS BIGINT))")
        .as("qv"))
    q.select(col("qv"), posexplode(col("qv"))).toDF("qv", "i", "vi")
      .select(col("i"), col("vi"), posexplode(col("qv"))).toDF("i", "vi", "j", "vj")
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(vi * vj AS DECIMAL(38,0))")).as("s"))
      .select(col("i"), col("j"), col("n"),
        (col("s").cast("double") / 1e12).as("gram"))
      .orderBy(col("i"), col("j"))
  }

  /** Top principal direction of the embedding corpus by power iteration
    * on the Gram matrix — the "what axis carries the variance" primitive
    * behind PCA whitening, embedding-drift monitoring, and low-rank
    * compression. Five unrolled iterations v ← G·v, renormalized each
    * step by the max-abs component (any fixed norm works for power
    * iteration; max-abs keeps the state in integers): G's cells are the
    * exact micro-unit sums of [[qGramMatrix]] (full matrix, both
    * triangles), the mat-vec product accumulates in DECIMAL(38,0)
    * (|w| ≤ d·|G|·10⁶ ≈ 10²² at test scale — far past 2⁵³, well inside
    * 10³⁸), and each renormalize is one deterministic IEEE divide of two
    * exactly-cast operands followed by a half-up round back to integer
    * micro-units — the [[graft.ops.Graph]] q_pagerank discipline, so the
    * unrolled DuckDB CTE reproduces every component bit-for-bit. The
    * all-ones seed fixes the eigenvector's sign deterministically.
    *
    * Scale shape: ALL corpus-sized work is the one Gram build (map-side
    * combined, shuffle volume O(partitions·d²) — see [[qGramMatrix]]);
    * the iterations run on the d×d table with a broadcast d-row vector
    * and a one-row broadcast max, so the loop costs O(d²) per step no
    * matter the corpus size. The Gram table is checkpointed once so
    * the five iterations reuse it instead of re-exploding the corpus. */
  def qPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64)
      .select(expr("transform(embedding, v -> CAST(round(v * 1e6) AS BIGINT))")
        .as("qv"))
    val gram = Materialize.barrier(q.select(col("qv"), posexplode(col("qv"))).toDF("qv", "i", "vi")
      .select(col("i"), col("vi"), posexplode(col("qv"))).toDF("i", "vi", "j", "vj")
      .groupBy(col("i"), col("j"))
      .agg(sum(expr("CAST(vi * vj AS DECIMAL(38,0))")).as("s")))
    var v = gram.select(col("i").as("j")).distinct()
      .withColumn("vj", lit(1000000L))
    for (_ <- 1 to 5) {
      val w = gram.join(broadcast(v), "j")
        .groupBy(col("i"))
        .agg(sum(expr("CAST(s * vj AS DECIMAL(38,0))")).as("w"))
      val m = w.agg(expr("GREATEST(MAX(ABS(w)), CAST(1 AS DECIMAL(38,0)))").as("m"))
      v = Materialize.barrier(w.crossJoin(broadcast(m))
        .select(col("i").as("j"),
          expr("CAST(ROUND(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * 1e6) AS BIGINT)")
            .as("vj")))
    }
    v.select(col("j").as("dim"), (col("vj").cast("double") / 1e6).as("loading"))
      .orderBy(col("dim"))
  }

  /** Sparse TF-IDF cosine pairs — document similarity WITHOUT embeddings,
    * the lexical twin of `q_dedup_embedding`: pairs of documents whose
    * tf·idf vectors (over the df-pruned vocabulary) have cosine ≥ 0.35.
    *
    * The scale shape is the inverted-index self-join: candidate pairs come
    * only from shared terms, and terms held by more than 1/5 of the corpus
    * are dropped from the VOCABULARY (both dot product and norms — a
    * spec'd pruned-vocab semantic, so the oracle agrees), which caps every
    * posting list at n/5 and kills the quadratic stop-word keys — the same
    * df>cap guard as `q_dedup_near`. At 100 TB the posting-list join
    * shuffles on `token` and the per-doc norms broadcast-join back in.
    *
    * Determinism: weights are floor-rounded to integer MILLI units
    * (tf · ln(n_docs/df) · 1000), so dot products and squared norms are
    * exact BIGINT sums in both engines; only the final cosine divides in
    * double — one fixed expression, micro-floored. */
  def qSimSparse(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    // integer cross-multiplication for the df cap (df * 5 <= n), not
    // division — exact and portable
    // consumed three times (norms + both join sides); materialize once
    val w = Materialize.shared(tf.join(dfreq, "token").crossJoin(broadcast(stats))
      .filter(col("df") * 5 <= col("n_docs"))
      .withColumn("w", floor(
        col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")) * 1000 + 0.5)
        .cast("long"))
      .select(col("doc_id"), col("token"), col("w")))
    val norms = w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("s2"))
    val dots = w.as("a").join(w.as("b"),
        col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("s2").as("sa")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("s2").as("sb")), "doc_b")
      .withColumn("cos", floor(
        col("dot").cast("double") / (sqrt(col("sa").cast("double")) * sqrt(col("sb").cast("double")))
          * 1000000 + 0.5) / 1000000)
      .filter(col("cos") >= 0.35)
      .select(col("doc_a"), col("doc_b"), col("cos"))
  }

  /** k-NN majority-vote classification — the serving-side op on top of
    * [[qKnnJoin]]: each query vector takes the label most common among its
    * 5 nearest neighbors (cosine, self excluded). Vote ties break
    * deterministically (votes desc, label asc), and the neighbor cut
    * itself is total-ordered (cosine desc, vec_id) — so the DuckDB twin
    * reproduces the exact prediction. Scale shape is the kNN join's:
    * broadcast query batch (bounded at [[ServingBatchCap]] rows, never a
    * corpus fraction) × partition-parallel corpus scan, one shuffle of the
    * per-(query, label) partial counts; the vote aggregate is map-side
    * combinable. */
  def qKnnClassify(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
    val batch = base.filter(servingBatchPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val nnW = Window.partitionBy(col("qid")).orderBy(col("cos_raw").desc, col("vec_id"))
    val neighbors = base.crossJoin(broadcast(batch))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_raw", expr("cosine_sim(embedding, qvec)"))
      .withColumn("rk", row_number().over(nnW))
      .filter(col("rk") <= 5)
    val voteW = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("label"))
    neighbors.groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(voteW))
      .filter(col("vr") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
      .orderBy(col("qid"))
  }

  /** INT8-quantized retrieval — the serving-memory lever every production
    * vector store pulls at scale: per-vector symmetric quantization
    * (scale = amax/127) shrinks the corpus 4× and turns the scoring loop
    * into integer dot products (the SIMD int8 path real ANN engines run).
    * This key pins the full quantize→score→top-k semantics EXACTLY:
    *  1. micro-units: m_i = floor(x_i·1e6 + 0.5) — the house fixed-point
    *     convention, identical IEEE arithmetic in both engines;
    *  2. per-vector scale: amax = max|m_i| (zero-scale vectors are the
    *     zero-norm vectors, already excluded);
    *  3. q_i = sign(m_i)·((|m_i|·127 + amax div 2) div amax) ∈ [−127,127]
    *     — integer round-half-up on non-negative operands, so truncating
    *     division agrees between Spark `div` and DuckDB `//`;
    *  4. score = Σ q_i·r_i against the quantized query (vec 0), an exact
    *     BIGINT (≤ 64·127² ≪ 2⁶³); top-10 by (score desc, vec_id).
    * Every number in the output is an integer, so the oracle replays the
    * whole path bit-for-bit — quantization is the rare similarity op
    * where EXACT cross-engine verification is possible with no rounding
    * shims at all. Scale shape: map-only quantization, broadcast 1-row
    * query, TakeOrderedAndProject top-k — [[qCosineTopk]]'s plan with
    * int arithmetic. The unit test pins the quantization error: the
    * int8 top-10 overlaps the exact float top-10. */
  def qEmbedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val quant = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .withColumn("m", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"))
      .withColumn("amax", expr(
        "aggregate(m, CAST(0 AS BIGINT), (a, v) -> GREATEST(a, abs(v)))"))
      .filter(col("amax") > 0)
      .withColumn("q", expr(
        """transform(m, v -> CAST(sign(v) AS BIGINT)
          |  * ((abs(v) * 127 + amax div 2) div amax))""".stripMargin))
      .select(col("vec_id"), col("label"), col("q"))
    val qq = quant.filter(col("vec_id") === 0).select(col("q").as("qq"))
    quant.crossJoin(broadcast(qq))
      .filter(col("vec_id") =!= 0)
      .withColumn("dot", expr(
        "aggregate(zip_with(q, qq, (a, b) -> a * b), CAST(0 AS BIGINT), (a, v) -> a + v)"))
      .select(col("vec_id"), col("label"), col("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(10)
  }

  /** Embedding-distribution drift monitor: per label, the cosine between
    * the CENTROIDS of the even-id and odd-id halves of the corpus — the
    * "did this batch's embedding distribution move" audit a pipeline runs
    * between corpus versions (the split key stands in for version).
    * Centroids are integer means of micro-int quantized components via
    * TRUNCATING integer division — toward zero, NOT floor: Spark `div`
    * and DuckDB `//` both truncate, which differs from floor exactly on
    * the negative sums embeddings produce (the pinned shared semantics;
    * see [[ivfCentroids]] and qForecastHolt, which state it the same
    * way). The truncation keeps the means exact AND bounded by the
    * quantization scale (|m| ≤ 10⁶ whatever the corpus size), so every
    * dot/norm stays under 2⁵³ and its cast to double is EXACT in both
    * engines — raw per-dim sums would outgrow 2⁵³ with the corpus and
    * make the int→double cast itself a rounding step. (Also
    * pinned the hard way here: quantize with the DOUBLE literal 1e6, not
    * the int literal 1000000 — the latter multiplies the FLOAT component
    * in single precision and shifts round() boundaries between engines;
    * the [[qGramMatrix]] oracles already carry this discipline.)
    * Output: one dot / (√·√) on exactly-cast doubles,
    * rounded to 6 dp. Degenerate halves (all-zero vectors, the edge
    * corpus) report NULL rather than a NaN the two engines could
    * serialize differently.
    *
    * Scale shape: one posexplode (×64 rows) into a map-side-combinable
    * aggregation to |labels|×64 rows; everything after runs on that tiny
    * table. One corpus pass, one shuffle of partials. */
  def qEmbedDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val ex = e.select(col("label"), (col("vec_id") % 2 === 0).as("h0"),
        posexplode(expr(
          "transform(embedding, v -> CAST(round(v * 1e6) AS BIGINT))")))
      .toDF("label", "h0", "i", "q")
    val cnt = e.groupBy(col("label"))
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_vec0"),
        sum(when(col("vec_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_vec1"))
    val means = ex.groupBy(col("label"), col("i"))
      .agg(sum(when(col("h0"), col("q")).otherwise(0L)).as("s0"),
        sum(when(!col("h0"), col("q")).otherwise(0L)).as("s1"))
      .join(broadcast(cnt), "label")
      .select(col("label"),
        expr("CASE WHEN n_vec0 = 0 THEN 0L ELSE div(s0, n_vec0) END").as("m0"),
        expr("CASE WHEN n_vec1 = 0 THEN 0L ELSE div(s1, n_vec1) END").as("m1"))
    val dots = means.groupBy(col("label"))
      .agg(sum(expr("m0 * m1")).as("dot"),
        sum(expr("m0 * m0")).as("nn0"),
        sum(expr("m1 * m1")).as("nn1"))
    dots.join(cnt, "label")
      .select(col("label"), col("n_vec0"), col("n_vec1"),
        when(col("nn0") === 0 || col("nn1") === 0, lit(null).cast("double"))
          .otherwise(round(expr(
            "CAST(dot AS DOUBLE) / (sqrt(CAST(nn0 AS DOUBLE)) * sqrt(CAST(nn1 AS DOUBLE)))"),
            6) + lit(0.0)).as("centroid_cos"))
      .orderBy(col("label"))
  }

  /** Per-class confusion matrix + precision/recall/F1 for the transductive
    * LSH-bucket classifier: each vector's 8-bit sign code (first 8
    * [[planeWeights]] hyperplanes — the write-time bucket key) predicts the
    * bucket-majority label (ties → smallest label). This is the evaluation
    * table for the cheapest serving-side classifier the engine offers —
    * the answer "how good is the bucket label" before paying for k-NN.
    *
    * Exactness: the sign codes are the oracle-shared integer-weighted dot
    * signs; everything after is integer counting, and P/R/F1 are each ONE
    * IEEE division of exact integers (F1 = 2tp/(2tp+fp+fn) — no
    * divide-then-combine float chain).
    *
    * Scale shape: one map-side-combinable rollup to (256 buckets × C
    * labels), then window/joins over that TINY profile only; the bucket →
    * prediction map (≤ 256 rows) never rejoins the corpus — confusion
    * counts come from the profile itself. */
  def qConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codeExpr = (0 until 8).map { h =>
      val planes = planeWeights(h).mkString("array(", ", ", ")")
      s"""(CASE WHEN aggregate(zip_with(embedding, $planes,
         |  (x, w) -> CAST(x AS DOUBLE) * w), 0D, (a, b) -> a + b) > 0
         |  THEN ${1 << h} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")
    val prof = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .withColumn("bucket", expr(codeExpr))
      .groupBy(col("bucket"), col("label")).agg(count(lit(1)).as("n"))
    val pred = prof
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("n").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("bucket"), col("label").as("pred"))
    val cells = prof.join(pred, "bucket")
      .groupBy(col("pred"), col("label")).agg(sum(col("n")).as("n"))
    val classes = cells.select(col("label").as("cls")).distinct()
    classes
      .join(cells.filter(col("pred") === col("label"))
        .select(col("label").as("cls"), col("n").as("tp")), Seq("cls"), "left")
      .join(cells.filter(col("pred") =!= col("label"))
        .groupBy(col("pred").as("cls")).agg(sum(col("n")).as("fp")), Seq("cls"), "left")
      .join(cells.filter(col("pred") =!= col("label"))
        .groupBy(col("label").as("cls")).agg(sum(col("n")).as("fn")), Seq("cls"), "left")
      .select(col("cls"), coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"), coalesce(col("fn"), lit(0L)).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
      .withColumn("f1",
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          (col("tp") * 2).cast("double")
            / (col("tp") * 2 + col("fp") + col("fn")).cast("double")))
      .orderBy(col("cls"))
  }

  /** Hard-negative mining for contrastive embedding training — for each
    * serving-batch query, the top-3 most-similar vectors of a DIFFERENT
    * label: the negatives that actually move a contrastive loss (random
    * negatives are trivially separated; the hard ones sit just across the
    * decision boundary). Same scale shape as [[qKnnJoin]]: the constant-
    * size query batch broadcasts, the corpus is scanned once partition-
    * parallel, only (qid, vec_id, score) triples shuffle to the per-query
    * top-k WindowGroupLimit. The label inequality is applied BEFORE
    * scoring, so mismatched candidates never evaluate the 64-dim dot
    * product they cannot win. */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
    val batch = base.filter(servingBatchPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    base.crossJoin(broadcast(batch))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("cos_raw", expr("cosine_sim(embedding, qvec)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("qlabel"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), round(col("cos_raw"), 6).as("cosine"),
        col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** The two independent 6-bit sign codes (planes 0–5 / 8–13) the
    * NN-descent seed round buckets on. One table would make round 0
    * degenerate: its buckets are complete candidate cliques, so every
    * in-bucket pair is already scored and the NoN round can never leave a
    * bucket — measured cand1 == cand0 on this corpus. Cross-table
    * composition (my table-A neighbor's table-B neighbor) is what gives
    * NN-descent new candidates to score. Kept in lockstep with the
    * codeSqlOf literals in the q_ann_nndescent / q_ann_graph_serve
    * oracles (shared [[planeWeights]] source of truth). */
  private def signCode6(planes0: Int): String = (0 until 6).map { h =>
    val planes = planeWeights(planes0 + h).mkString("array(", ", ", ")")
    s"""(CASE WHEN aggregate(zip_with(embedding, $planes,
       |  (x, w) -> CAST(x AS DOUBLE) * w), 0D, (a, b) -> a + b) > 0
       |  THEN ${1 << h} ELSE 0 END)""".stripMargin
  }.mkString("(", " + ", ")")

  /** Intermediate frames of the NN-descent build, shared by
    * [[qAnnNndescent]] (which reports per-round counts + recall) and the
    * [[qAnnGraphServe]] serving path (which consumes only the final `nn1`
    * edge set). `base` carries the sign
    * codes and is lazily checkpointed — callers reuse it for truth
    * sampling without re-deriving the scan. */
  private[ops] case class KnnParts(base: DataFrame, cand0: DataFrame,
    nn0: DataFrame, cand1: DataFrame, nn1: DataFrame)

  /** One NN-descent refinement round over `vectors` (vec_id, embedding —
    * pre-filtered to 64-dim nonzero): LSH-bucket seed top-4, then
    * neighbor-of-neighbor rescore, the [[qAnnNndescent]] chain verbatim.
    * `nn1` is NOT checkpointed here — single-consumer callers stream it,
    * multi-consumer callers (beam serving) checkpoint it themselves.
    * `report = true` (the nndescent certificate) ADDITIONALLY checkpoints
    * the candidate frames, which that key both counts and scores; serving
    * callers ([[qAnnGraphServe]]) consume each candidate frame exactly
    * once, so for them the checkpoint is a pure extra materialization
    * pass. */
  private[ops] def knnGraphParts(vectors: DataFrame,
      report: Boolean = false): KnnParts = {
    import org.apache.spark.sql.expressions.Window
    def cpIfReport(df: DataFrame): DataFrame =
      if (report) Materialize.shared(df) else df
    // feeds buckets, scoring, truth
    val base = Materialize.shared(vectors
      .select(col("vec_id"), col("embedding"),
        expr(signCode6(0)).as("code_a"), expr(signCode6(8)).as("code_b")))
    val va = base.select(col("vec_id").as("a"), col("embedding").as("va"))
    val vb = base.select(col("vec_id").as("b"), col("embedding").as("vb"))
    def topk(cand: DataFrame): DataFrame =
      cand.join(va, "a").join(vb, "b")
        .withColumn("cos", expr("cosine_sim(va, vb)"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))))
        .filter(col("rk") <= 4).select(col("a"), col("b"))
    def bucketPairs(c: String): DataFrame =
      base.select(col("vec_id").as("a"), col(c).as("code"))
        .join(base.select(col("vec_id").as("b"), col(c).as("code")), "code")
        .filter(col("a") =!= col("b")).select(col("a"), col("b"))
    val cand0 = cpIfReport(
      bucketPairs("code_a").unionByName(bucketPairs("code_b")).distinct())
    val nn0 = Materialize.shared(topk(cand0)) // graph + next round
    // symmetrize, then neighbors-of-neighbors through the shared endpoint
    val u = Materialize.shared(nn0.unionByName(nn0.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    val cand1 = cpIfReport(
      u.select(col("a"), col("b").as("m"))
        .join(u.select(col("a").as("m"), col("b")), "m")
        .filter(col("a") =!= col("b")).select(col("a"), col("b"))
        .unionByName(u).distinct())
    val nn1 = topk(cand1)
    KnnParts(base, cand0, nn0, cand1, nn1)
  }

  /** NN-descent k-NN-graph construction — ONE refinement round of the
    * standard distributed ANN-graph builder (Dong et al.'s neighbor-of-
    * neighbor principle: my neighbor's neighbor is probably my neighbor),
    * with a recall certificate against exact ground truth on a sampled
    * query set. Round 0 seeds a top-4 graph from 8-bit LSH bucket
    * collisions (cheap, low-recall); round 1 rescores each node against
    * its CURRENT neighbors' neighbors (symmetrized) and re-takes the
    * top 4. The output row per round — candidate pairs scored, graph
    * edges, recall@4 — is the measured claim that one NoN round buys a
    * large recall step at bucket-join cost, no all-pairs anywhere.
    *
    * Scale shape: round 0 is an equi-join on the 8-bit code (bucket sizes
    * ~n/256, candidate volume ~n²/256 — the LSH contract); round 1's
    * candidates are ≤ (2k)² per node from joining the 4-edge graph with
    * itself on the shared endpoint; ground truth is sample×corpus with the
    * codegen'd [[graft.functions.CosineSimilarity]], never corpus². Each
    * top-k is a rank window partitioned by node. */
  def qAnnNndescent(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = knnGraphParts(Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .select(col("vec_id"), col("embedding")), report = true)
    val KnnParts(base, cand0, nn0, cand1, nn1) = parts
    val vb = base.select(col("vec_id").as("b"), col("embedding").as("vb"))
    // exact ground truth on a CONSTANT-size query batch (first
    // ServingBatchCap stride-50 vec_ids — the q_ann_ivf_batch serving
    // discipline). A proportional sample (`vec_id % 50` alone) made the
    // truth side an n²/50 crossJoin — quadratic at 100×; capped, the
    // crossJoin is (≤64) × n: one broadcastable page against a linear
    // scan, constant work per corpus row at any scale. Covers every
    // stride-50 vector the sf0.01/sf0.1 test data has (max vec_id 1999
    // < 3200), so small-SF correctness rows are unchanged.
    val sample = base
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < lit(50L * ServingBatchCap))
      .select(col("vec_id").as("a"), col("embedding").as("va"))
    val exact = Materialize.shared(broadcast(sample).crossJoin(vb).filter(col("a") =!= col("b"))
      .withColumn("cos", expr("cosine_sim(va, vb)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))))
      .filter(col("rk") <= 4).select(col("a"), col("b"))) // compared against both rounds
    def report(round: Int, cand: DataFrame, nn: DataFrame): DataFrame = {
      val hits = nn.join(exact, Seq("a", "b")).agg(count(lit(1)).as("hits"))
      val truth = exact.agg(count(lit(1)).as("n_truth"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(nn.agg(count(lit(1)).as("knn_edges")))
        .crossJoin(broadcast(hits)).crossJoin(broadcast(truth))
        .select(lit(round.toLong).as("round"), col("n_candidates"),
          col("knn_edges"),
          expr("div(1000000 * hits, n_truth)").as("recall_ppm"))
    }
    report(0, cand0, nn0).unionByName(report(1, cand1, nn1)).orderBy(col("round"))
  }

  /** Greedy best-first beam search over a kNN graph — the HNSW-shaped
    * serving walk (layer-0 ef-search with a fixed beam), derandomized the
    * repo's way: entry points are the 4 corpus vec_ids minimizing
    * md5("gs:" + vec_id) (a seedless uniform draw both engines replay),
    * ranks break ties (cos DESC, vec_id ASC). Per hop: the current
    * top-`beam` visited nodes per query expand one graph edge, NEW
    * (qid, node) pairs are scored, and the visited set grows — after
    * `hops` rounds the visited set IS the search certificate the caller
    * ranks into a result page. Returns (qid, node, cos), self included
    * (callers filter at final ranking, matching the oracle).
    *
    * Scale shape: queries are a bounded serving page (broadcast), so each
    * hop is two broadcast equi-joins against corpus-partitioned tables —
    * frontier⋈graph on the source node, then candidates⋈vectors on the
    * target — plus an anti-join against the visited page. NOTHING
    * corpus-sized ever shuffles: per-hop cost is |page|·beam·k lookups
    * against however many partitions hold them, the property that makes
    * graph ANN the lowest-latency serving tier at 100 TB (IVF probes read
    * nprobe/k of the corpus; the graph walk reads O(beam·hops) rows). */
  private[ops] def beamSearch(graph: DataFrame, vectors: DataFrame,
      queries: DataFrame, hops: Int = 3, beam: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // each visited generation feeds BOTH the next hop (frontier +
    // anti-join) and the final rank — without the checkpoint Catalyst
    // re-derives hop h from scratch 2^(hops-h) times
    val entries = vectors.select(col("vec_id"))
      .withColumn("h", md5(concat(lit("gs:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(4)
      .select(col("vec_id").as("node"))
    val vecs = vectors.select(col("vec_id").as("node"), col("embedding"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("node"))
    var visited = Materialize.shared(vecs.join(broadcast(queries.crossJoin(entries)), "node")
      .withColumn("cos", expr("cosine_sim(embedding, qvec)"))
      .select(col("qid"), col("qvec"), col("node"), col("cos")))
    for (_ <- 1 to hops) {
      val frontier = visited.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= beam).select(col("qid"), col("qvec"), col("node"))
      val cand = graph.join(broadcast(frontier), graph("a") === frontier("node"))
        .select(col("qid"), col("qvec"), col("b").as("node")).distinct()
        .join(broadcast(visited.select(col("qid"), col("node"))),
          Seq("qid", "node"), "left_anti")
      val scored = vecs.join(broadcast(cand), "node")
        .withColumn("cos", expr("cosine_sim(embedding, qvec)"))
        .select(col("qid"), col("qvec"), col("node"), col("cos"))
      visited = Materialize.shared(visited.unionByName(scored))
    }
    visited.select(col("qid"), col("node"), col("cos"))
  }

  /** The build half of [[qAnnGraphServe]]: [[qAnnNndescent]]'s one-round
    * top-4 graph (a, b) and the vectors it indexes (`base` of
    * [[KnnParts]]). */
  private[graft] def annGraph(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val parts = knnGraphParts(Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .select(col("vec_id"), col("embedding")))
    (Materialize.shared(parts.nn1), parts.base) // one edge set, 3 hop consumers
  }

  /** The serve half of [[qAnnGraphServe]]: the serving batch walks
    * `graph` over `base` and reports its top-5 per query. */
  private[graft] def annGraphServe(graph: DataFrame, base: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = base.filter(servingBatchPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val visited = beamSearch(graph, base.select(col("vec_id"), col("embedding")), queries)
    visited.filter(col("node") =!= col("qid"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("node"))))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("node").as("vec_id"),
        round(col("cos"), 6).as("cosine"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Graph-ANN serving page — the composition of [[qAnnNndescent]]'s
    * one-round NN-descent top-4 graph with [[beamSearch]]: the standard
    * serving batch walks the graph 3 hops at beam 8 and reports its
    * top-5 per query. This is the third ANN serving tier next to
    * brute-force rerank (q_knn_join) and IVF lists (q_ann_ivf_batch):
    * the oracle unrolls the identical hops in SQL, so every visited-set
    * expansion — not just the final page — is hash-checked. */
  def qAnnGraphServe(spark: SparkSession, dir: String): DataFrame = {
    val (graph, base) = annGraph(spark, dir)
    annGraphServe(graph, base)
  }

  /** The 64×16 Johnson–Lindenstrauss ±1 sign matrix, keyed by
    * md5("jl:i:k") first hex nibble (< '8' → +1) — the same cross-engine
    * keyed-hash family every sketch in the repo draws from, so the DuckDB
    * oracle regenerates the identical matrix from SQL md5 while the Spark
    * side pays the 1,024 hashes ONCE at plan build (a driver-side literal,
    * zero per-row hashing). Orientation: sgn(k)(i). */
  private lazy val jlSgn: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 16).map { k =>
      (0 until 64).map { i =>
        val hex = md.digest(s"jl:$i:$k".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (hex.charAt(0) < '8') 1 else -1
      }
    }
  }
  private lazy val jlSgnLit: String =
    jlSgn.map(_.mkString("array(", ",", ")")).mkString("array(", ",", ")")

  /** Johnson–Lindenstrauss random sign projection 64 → 16 dims with a
    * distance-preservation certificate — the embedding-compression pass a
    * 100 TB vector pipeline runs before indexing (4× fewer bytes per
    * vector, pairwise geometry preserved in expectation: E‖Pa−Pb‖² =
    * d′·‖a−b‖²). Components are micro-int quantized (the qEmbedQuantize /
    * qGramMatrix discipline), so every projected coordinate is an EXACT
    * 64-term signed integer sum — order-independent, < 2⁵³ — and both
    * squared distances are exact BIGINTs; the only floating step is the
    * final ratio, one IEEE division ppm-floored identically in both
    * engines.
    *
    * Scale shape: the projection is a pure per-row expression (map-only,
    * codegen'd, no shuffle — THE point of JL at scale); the certificate
    * audits pairwise ratios over the constant ≤64-row serving batch
    * (≤2,016 pairs at any corpus size), never corpus×corpus. */
  def qJlProjection(spark: SparkSession, dir: String): DataFrame = {
    val proj = Tables.embeddings(spark, dir)
      .filter(servingBatchPred && size(col("embedding")) === 64)
      .withColumn("m", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"))
      .withColumn("p", expr(
        s"""transform(sequence(0, 15), k ->
           |  aggregate(zip_with(m, element_at($jlSgnLit, k + 1),
           |    (x, s) -> x * CAST(s AS BIGINT)),
           |    CAST(0 AS BIGINT), (a, v) -> a + v))""".stripMargin))
      .select(col("vec_id"), col("m"), col("p"))
    val a = proj.select(col("vec_id").as("vec_a"), col("m").as("ma"), col("p").as("pa"))
    val b = proj.select(col("vec_id").as("vec_b"), col("m").as("mb"), col("p").as("pb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("d_orig", expr(
        "aggregate(zip_with(ma, mb, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (a, v) -> a + v)"))
      .withColumn("d_proj", expr(
        "aggregate(zip_with(pa, pb, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (a, v) -> a + v)"))
      .filter(col("d_orig") > 0)
      .select(col("vec_a"), col("vec_b"), col("d_orig"), col("d_proj"),
        expr("CAST(FLOOR(CAST(d_proj AS DOUBLE) * 1000000 / (16.0 * CAST(d_orig AS DOUBLE)) + 0.5) AS BIGINT)")
          .as("ratio_ppm"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Greedy k-center coreset selection (Gonzalez 1985, the classic
    * 2-approximation) — the diverse-subset primitive of training-data
    * pruning: pick the vector farthest from the already-chosen set, K
    * times, so the selected K cover the corpus with the smallest max
    * distance any greedy method certifies. Distances are EXACT BIGINT
    * squared-L2 over the micro-int quantized embedding (the
    * q_jl_projection / q_embed_quantize discipline), and every tie breaks
    * on vec_id — the whole trajectory is deterministic and replays
    * bit-for-bit in the oracle's unrolled 8-step CTE chain. Output: one
    * row per pick with its distance-to-set at selection time; the last
    * row's dist2 is the certified (K−1)-center covering radius.
    *
    * Scale shape: exactly K passes over the corpus, each a map (squared
    * L2 to ONE broadcast center, running min) + a TakeOrdered(1) argmax —
    * never a pairwise join, never a global sort. The running min-distance
    * column makes each pass O(n·d); per-iteration checkpoints
    * stop the self-referencing lineage from doubling per step. At 100 TB
    * this is K linear scans — the known lower bound for exact greedy
    * k-center — and each scan's reduce moves ONE row. */
  /** One greedy pick: the farthest-from-set argmax as a TakeOrdered(1) —
    * split out for the PlanSpec pin (checkpoint materialization hides the
    * composed op's inner plans). */
  private[graft] def kcenterPick(cur: DataFrame): DataFrame =
    cur.orderBy(col("mind").desc, col("vec_id")).limit(1)

  def qKcenter(spark: SparkSession, dir: String): DataFrame = {
    val K = 8
    val d2 = "aggregate(zip_with(m, cm, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0 AS BIGINT), (a, b) -> a + b)"
    val v = Materialize.shared(quantizedVecs(spark, dir)) // K scan passes reuse the quantized table
    val seed = Materialize.shared(v.orderBy(col("vec_id")).limit(1))
    var cur = Materialize.shared(v.crossJoin(broadcast(seed.select(col("m").as("cm"))))
      .select(col("vec_id"), col("m"), expr(d2).as("mind")))
    val picks = scala.collection.mutable.Buffer(
      seed.select(lit(0L).as("pick_rank"), col("vec_id"), lit(0L).as("dist2")))
    for (i <- 1 until K) {
      val p = Materialize.shared(kcenterPick(cur)) // 1 row: the next center
      picks += p.select(lit(i.toLong).as("pick_rank"), col("vec_id"),
        col("mind").as("dist2"))
      if (i < K - 1)
        cur = Materialize.shared(cur.crossJoin(broadcast(p.select(col("m").as("cm"))))
          .select(col("vec_id"), col("m"),
            least(col("mind"), expr(d2)).as("mind")))
    }
    picks.reduce(_ unionByName _).orderBy(col("pick_rank"))
  }

  /** Two unrolled Lloyd iterations of k-means (k=8) — the clustering
    * primitive behind semantic dedup, IVF list training, and
    * stratified-corpus partitioning, pinned as an exact-arithmetic
    * certificate: micro-int coordinates, exact BIGINT squared-L2
    * assignment (ties to the lower centroid id via lexicographic
    * struct-min), and integer centroid updates
    * ⌊(Σ+shift·n)/n⌋−shift (the +2·10⁶ shift keeps every dividend
    * positive so truncating and flooring division agree across engines).
    * Init is hash-ranked (md5 over vec_id — deterministic pseudo-random
    * seeding). Output: per-cluster census after the second assignment
    * (members, vec_id checksum, exact inertia, centroid checksum).
    *
    * Scale shape: each assignment is MAP-ONLY — the k centroids ride in
    * as a sorted 8-row broadcast array and the argmin is a codegen'd
    * array_min over a transform, so the corpus is never row-expanded k×
    * (the naive crossJoin would be). Each update is one shuffle of 64
    * map-side-combined partial sums. Two iterations = two scans + two
    * bounded aggregations, at any corpus size. */
  /** One k-means assignment pass — split out so PlanSpec can pin the
    * map-only shape (lazy checkpoints materialize before the composed
    * op's executedPlan prints, hiding the inner plan): the k centroids
    * arrive as ONE sorted broadcast array row and the argmin is a
    * codegen'd array_min over a transform — no explode, no k-fold row
    * expansion, no shuffle. */
  private[graft] def kmeansAssign(v: DataFrame, cents: DataFrame): DataFrame = {
    val d2 = "aggregate(zip_with(m, ce.c, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0 AS BIGINT), (a, b) -> a + b)"
    val packed = cents.agg(
      sort_array(collect_list(struct(col("cid"), col("c")))).as("cents"))
    v.crossJoin(broadcast(packed))
      .withColumn("a", expr(
        s"array_min(transform(cents, ce -> named_struct('bd', $d2, 'bc', ce.cid)))"))
      .select(col("vec_id"), col("m"), col("a.bc").as("cid"), col("a.bd").as("d"))
  }

  /** The micro-int quantized vector table shared by the clustering ops. */
  private[graft] def quantizedVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")
        .as("m"))

  def qKmeans(spark: SparkSession, dir: String): DataFrame = {
    val K = 8
    val Shift = 2000000L
    val v = Materialize.shared(quantizedVecs(spark, dir)) // four passes (2× assign, 2× update)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("h"), col("vec_id"))
    val init = v
      .withColumn("h", md5(concat(lit("km:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(K)
      .select((row_number().over(w) - 1).cast("long").as("cid"), col("m").as("c"))
    def assign(cents: DataFrame): DataFrame = kmeansAssign(v, cents)
    def update(assigned: DataFrame): DataFrame = {
      val sums = (0 until 64).map(i => sum(expr(s"m[$i]")).as(s"s$i")) :+
        count(lit(1)).as("n")
      val cDims = (0 until 64)
        .map(i => s"div(s$i + $Shift * n, n) - $Shift").mkString(", ")
      assigned.groupBy(col("cid")).agg(sums.head, sums.tail: _*)
        .select(col("cid"), expr(s"array($cDims)").as("c"))
    }
    val a2 = Materialize.shared(assign(update(assign(init))))
    val c2 = update(a2)
    val stats = a2.groupBy(col("cid")).agg(
      count(lit(1)).as("n_members"),
      sum(col("vec_id")).as("member_chk"),
      sum(col("d")).as("inertia"))
    stats.join(c2, "cid")
      .select(col("cid"), col("n_members"), col("member_chk"), col("inertia"),
        expr("aggregate(zip_with(c, sequence(CAST(1 AS BIGINT), 64), (x, j) -> x * j), " +
          "CAST(0 AS BIGINT), (a, b) -> a + b)").as("centroid_chk"))
      .orderBy(col("cid"))
  }

  /** Metadata-filtered retrieval — the canonical RAG serving query: join
    * the vector table to its document metadata 1:1, pre-filter on the
    * metadata (language + length), THEN rank the survivors by cosine to
    * the query vector and keep the top 10. The filter runs before any
    * similarity arithmetic, so the expensive dot products touch only the
    * eligible slice — at 100 TB the metadata predicate prunes the scan
    * (it pushes into parquet) and the per-row cosine is the codegen'd HOF,
    * with the same top-k TakeOrderedAndProject as the brute-force tier.
    * (A production system would route through the IVF/LSH tiers first;
    * this key pins the exact-ranking semantics those tiers approximate.) */
  def qRagRetrieve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .select(col("doc_id"), col("source"), col("n_chars"))
    withQuery(spark, dir)
      .filter(col("vec_id") =!= 0 && size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .join(docs, col("vec_id") === col("doc_id"))
      .withColumn("cos_raw", expr(cosineExpr))
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("cos_raw").desc, col("doc_id"))
      .limit(10)
  }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner: fuse
    * the dense ranking (cosine to the query vector) with a lexical-ish
    * ranking (document length as the stand-in signal) via
    * rrf = 1/(60+r_dense) + 1/(60+r_lex). Both ranks are integers from
    * total-ordered windows, so the fused score is an exact rational
    * computed identically in both engines — RRF's rank-only design is
    * precisely what makes hybrid fusion engine-portable (score-based
    * fusion would inherit every float divergence of both retrievers).
    * Both global ranks are running counts ([[Windows.chunkedRunningSums]]):
    * the dense chunks bucket cos_raw (≤ 2·1024 buckets on [−1, 1]) and the
    * lex chunks bucket n_chars (value-range-bounded), so no window ever
    * moves the corpus into one partition (Spark's "No Partition Defined"
    * WARN). */
  def qRankFusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("n_chars"))
    val scored = Materialize.shared(withQuery(spark, dir)
      .filter(col("vec_id") =!= 0 && size(col("embedding")) === 64 && expr(normSqExpr) > 0)
      .withColumn("cos_raw", expr(cosineExpr))
      .join(docs, col("vec_id") === col("doc_id"))
      // ascending chunk ≡ descending ordering key; floor is monotone so
      // equal cos_raw values land in one chunk
      .withColumn("dchunk", floor(-col("cos_raw") * 1024))
      .withColumn("lchunk", -floor(col("n_chars") / 64))) // feeds both chunk tables + ranks
    val dense = Windows.chunkedRunningSums(scored, Nil, "dchunk",
      Seq(col("cos_raw").desc, col("doc_id")), "r_dense" -> lit(1L))
    Windows.chunkedRunningSumsOf(dense, scored, Nil, "lchunk",
        Seq(col("n_chars").desc, col("doc_id")), Seq("r_lex" -> lit(1L)))
      .withColumn("r_dense", col("r_dense").cast("int"))
      .withColumn("r_lex", col("r_lex").cast("int"))
      .withColumn("rrf_raw", expr(
        "1.0 / (60.0 + CAST(r_dense AS DOUBLE)) + 1.0 / (60.0 + CAST(r_lex AS DOUBLE))"))
      .orderBy(col("rrf_raw").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("r_dense"), col("r_lex"),
        (floor(col("rrf_raw") * 100000000 + 0.5) / 100000000).as("rrf"))
  }

  private val cosineTopkOracle =
      """SELECT vec_id, label,
        |       ROUND(LIST_COSINE_SIMILARITY(CAST(embedding AS DOUBLE[]),
        |         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cosine
        |FROM embeddings
        |WHERE vec_id <> 0
        |  AND LEN(embedding) = 64
        |  AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0
        |ORDER BY LIST_COSINE_SIMILARITY(CAST(embedding AS DOUBLE[]),
        |         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 20""".stripMargin

  /** Shared oracle CTE chain for the two IVF queries (one copy, so the
    * single-query and batch oracles can never disagree about the trained
    * index): eligible vectors `e`, the two unrolled k-means iterations
    * ending in `cent`, and the list `assigned`ment — the SQL twin of
    * [[ivfCentroids]] + the assignment step. */
  /** The unrolled IVF training + assignment CTE chain, parameterized by
    * the TRAINING-set predicate: seeds, both Lloyd iterations, and the
    * integer centroid means run over `et` (the training slice); the final
    * `assigned` lists cover the FULL corpus under the trained centroids —
    * exactly [[ivfCentroids]]+[[assignToCentroids]], and exactly what the
    * durable [[IvfIndex]]'s init+upsert composition produces. One block
    * shared by every IVF oracle (full-corpus training = TRUE; the
    * incremental key trains on the init slice only). */
  private def ivfCtesFrom(trainPred: String): String =
    s"""e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE LEN(embedding) = 64
      |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0),
      |et AS (SELECT * FROM e WHERE $trainPred),
      |cent0 AS (
      |  SELECT vec_id AS cid, v AS cvec FROM et WHERE vec_id < 16),
      |asg1 AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT et.vec_id, et.v, c.cid,
      |           ROW_NUMBER() OVER (PARTITION BY et.vec_id
      |             ORDER BY LIST_COSINE_SIMILARITY(et.v, c.cvec) DESC, c.cid) AS rn
      |    FROM et CROSS JOIN cent0 c) WHERE rn = 1),
      |m1 AS (
      |  SELECT cid, d AS dim,
      |         SUM(CAST(ROUND(v[CAST(d + 1 AS INTEGER)] * 1e6) AS BIGINT)) AS s,
      |         COUNT(*) AS n
      |  FROM asg1, range(64) t(d) GROUP BY cid, d),
      |new1 AS (
      |  SELECT cid, LIST(CAST(CAST(CAST(s // n AS DOUBLE) / 1e6 AS REAL) AS DOUBLE)
      |                   ORDER BY dim) AS nvec
      |  FROM m1 GROUP BY cid),
      |cent1 AS (
      |  SELECT c.cid, COALESCE(n.nvec, c.cvec) AS cvec
      |  FROM cent0 c LEFT JOIN new1 n USING (cid)),
      |asg2 AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT et.vec_id, et.v, c.cid,
      |           ROW_NUMBER() OVER (PARTITION BY et.vec_id
      |             ORDER BY LIST_COSINE_SIMILARITY(et.v, c.cvec) DESC, c.cid) AS rn
      |    FROM et CROSS JOIN cent1 c) WHERE rn = 1),
      |m2 AS (
      |  SELECT cid, d AS dim,
      |         SUM(CAST(ROUND(v[CAST(d + 1 AS INTEGER)] * 1e6) AS BIGINT)) AS s,
      |         COUNT(*) AS n
      |  FROM asg2, range(64) t(d) GROUP BY cid, d),
      |new2 AS (
      |  SELECT cid, LIST(CAST(CAST(CAST(s // n AS DOUBLE) / 1e6 AS REAL) AS DOUBLE)
      |                   ORDER BY dim) AS nvec
      |  FROM m2 GROUP BY cid),
      |cent AS (
      |  SELECT c.cid, COALESCE(n.nvec, c.cvec) AS cvec
      |  FROM cent1 c LEFT JOIN new2 n USING (cid)),
      |assigned AS (
      |  SELECT vec_id, label, v, cid FROM (
      |    SELECT e.vec_id, e.label, e.v, c.cid,
      |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |             ORDER BY LIST_COSINE_SIMILARITY(e.v, c.cvec) DESC, c.cid) AS rn
      |    FROM e CROSS JOIN cent c) WHERE rn = 1)""".stripMargin

  private val ivfCtes: String = ivfCtesFrom("TRUE")

  /** The batched-serving tail shared by the q_ann_ivf_batch and
    * q_ivf_incremental oracles: the 64-query page, nprobe=4 probe lists,
    * and the exact top-5 rerank — identical ranking/tie rules to
    * [[IvfIndex.probe]]. */
  private lazy val ivfProbeSql: String =
    s"""qs AS (SELECT vec_id AS qid, v AS qvec FROM e WHERE $servingBatchSql),
      |probes AS (
      |  SELECT qid, qvec, cid FROM (
      |    SELECT q.qid, q.qvec, c.cid,
      |           ROW_NUMBER() OVER (PARTITION BY q.qid
      |             ORDER BY LIST_COSINE_SIMILARITY(c.cvec, q.qvec) DESC, c.cid) AS pr
      |    FROM qs q CROSS JOIN cent c) WHERE pr <= 4),
      |scored AS (
      |  SELECT p.qid, a.vec_id, LIST_COSINE_SIMILARITY(a.v, p.qvec) AS cos_raw,
      |         ROW_NUMBER() OVER (PARTITION BY p.qid
      |           ORDER BY LIST_COSINE_SIMILARITY(a.v, p.qvec) DESC, a.vec_id) AS rk
      |  FROM assigned a JOIN probes p USING (cid)
      |  WHERE a.vec_id <> p.qid)
      |SELECT qid, vec_id, ROUND(cos_raw, 6) AS cosine, rk
      |FROM scored WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  private val mmrRound: Int => String = r =>
    s"""c$r AS (
       |  SELECT po.vec_id, po.v, po.rel,
       |         MAX(LIST_COSINE_SIMILARITY(po.v, p.v)) AS maxsim
       |  FROM pool po CROSS JOIN pp${r - 1} p
       |  WHERE po.vec_id NOT IN (SELECT vec_id FROM pp${r - 1})
       |  GROUP BY po.vec_id, po.v, po.rel),
       |p$r AS (
       |  SELECT vec_id, v, rel, $r AS rk FROM c$r
       |  ORDER BY rel * 0.7 - maxsim * 0.3 DESC, vec_id LIMIT 1),
       |pp$r AS (SELECT * FROM pp${r - 1} UNION ALL SELECT * FROM p$r)""".stripMargin

  /** The exact-integer L2 argmin the PQ oracle runs twice (seed assignment
    * and final encoding) — one definition so the two can't drift. */
  private def pqArgminSql(cbName: String): String =
    s"""SELECT vec_id, s, code, sv FROM (
       |    SELECT b.vec_id, b.s, c.code, b.sv,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.s ORDER BY
       |             LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, 17),
       |               i -> (b.sv[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])
       |                  * (b.sv[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])), 'sum'),
       |             c.code) AS rn
       |    FROM sub b JOIN $cbName c USING (s)) WHERE rn = 1""".stripMargin

  /** Unrolled greedy chain for the q_kcenter oracle: d_i = running min
    * distance after center i, p_i = argmax of d_{i-1} (ties on vec_id). */
  private def kcenterSql: String = {
    val K = 8
    def d2(a: String, b: String) =
      s"""CAST(LIST_AGGREGATE(LIST_TRANSFORM(range(64),
         |      j -> ($a.m[CAST(j + 1 AS INTEGER)] - $b.m[CAST(j + 1 AS INTEGER)])
         |         * ($a.m[CAST(j + 1 AS INTEGER)] - $b.m[CAST(j + 1 AS INTEGER)])), 'sum')
         |    AS BIGINT)""".stripMargin
    val steps = (1 until K).map { i =>
      val pick =
        s"p$i AS (SELECT vec_id, m, mind FROM d${i - 1} ORDER BY mind DESC, vec_id LIMIT 1)"
      val relax = if (i < K - 1)
        s""",
           |d$i AS (SELECT d.vec_id, d.m, LEAST(d.mind, ${d2("d", s"p$i")}) AS mind
           |        FROM d${i - 1} d CROSS JOIN p$i)""".stripMargin
      else ""
      pick + relax
    }.mkString(",\n")
    val out = (s"SELECT CAST(0 AS BIGINT) AS pick_rank, vec_id, CAST(0 AS BIGINT) AS dist2 FROM c0" +:
      (1 until K).map(i =>
        s"SELECT CAST($i AS BIGINT), vec_id, mind FROM p$i")).mkString("\n  UNION ALL ")
    s"""WITH v AS (
       |  SELECT vec_id,
       |    LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS m
       |  FROM embeddings WHERE LEN(embedding) = 64),
       |c0 AS (SELECT vec_id, m FROM v ORDER BY vec_id LIMIT 1),
       |d0 AS (SELECT v.vec_id, v.m, ${d2("v", "c0")} AS mind
       |       FROM v CROSS JOIN c0),
       |$steps
       |SELECT pick_rank, vec_id, dist2 FROM (
       |  $out)
       |ORDER BY pick_rank""".stripMargin
  }

  /** Two unrolled Lloyd iterations for the q_kmeans oracle — same
    * hash-ranked init, shifted integer centroid division, and (d, cid)
    * tie-break as the Spark side. */
  private def kmeansSql: String = {
    def d2 =
      """CAST(LIST_AGGREGATE(LIST_TRANSFORM(range(64),
        |      j -> (v.m[CAST(j + 1 AS INTEGER)] - i.c[CAST(j + 1 AS INTEGER)])
        |         * (v.m[CAST(j + 1 AS INTEGER)] - i.c[CAST(j + 1 AS INTEGER)])), 'sum')
        |    AS BIGINT)""".stripMargin
    def iter(n: Int, cents: String) =
      s"""d$n AS (SELECT v.vec_id, v.m, i.cid, $d2 AS d
         |        FROM v CROSS JOIN $cents i),
         |a$n AS (SELECT vec_id, m, cid, d FROM (
         |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |          FROM d$n) WHERE rn = 1),
         |s$n AS (SELECT cid, gj.j, CAST(SUM(m[CAST(gj.j + 1 AS INTEGER)]) AS BIGINT) AS s,
         |               CAST(COUNT(*) AS BIGINT) AS n
         |        FROM a$n CROSS JOIN (SELECT UNNEST(RANGE(0, 64)) AS j) gj
         |        GROUP BY cid, gj.j),
         |c$n AS (SELECT cid, LIST((s + 2000000 * n) // n - 2000000 ORDER BY j) AS c
         |        FROM s$n GROUP BY cid)""".stripMargin
    s"""WITH v AS (
       |  SELECT vec_id,
       |    LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS m
       |  FROM embeddings WHERE LEN(embedding) = 64),
       |seed AS (SELECT vec_id, m, MD5('km:' || CAST(vec_id AS VARCHAR)) AS h
       |         FROM v ORDER BY h, vec_id LIMIT 8),
       |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cid, m AS c FROM seed),
       |${iter(1, "c0")},
       |${iter(2, "c1")}
       |SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       |       CAST(SUM(a.vec_id) AS BIGINT) AS member_chk,
       |       CAST(SUM(a.d) AS BIGINT) AS inertia,
       |       MIN(CAST(LIST_AGGREGATE(LIST_TRANSFORM(range(64),
       |         j -> c2.c[CAST(j + 1 AS INTEGER)] * (j + 1)), 'sum') AS BIGINT))
       |         AS centroid_chk
       |FROM a2 a JOIN c2 ON c2.cid = a.cid
       |GROUP BY a.cid
       |ORDER BY a.cid""".stripMargin
  }

  /** Shared oracle CTE block: the NN-descent chain e → coded → cand0 →
    * nn0 → u → cand1 → nn1, used by both q_ann_nndescent and
    * q_ann_graph_serve (identical integer plane weights + left-to-right
    * accumulation as the Spark [[signCode6]] — shared [[planeWeights]]
    * source of truth). MATERIALIZED throughout: DuckDB re-inlines plain
    * CTEs per reference. */
  private def knnGraphSqlCtes: String = {
    def codeSqlOf(planes0: Int): String = (0 until 6).map { h =>
      val dot = planeWeights(planes0 + h).zipWithIndex
        .map { case (w, j) => s"v[${j + 1}] * ($w)" }.mkString(" + ")
      s"(CASE WHEN $dot > 0 THEN ${1 << h} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""e AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE LEN(embedding) = 64
      |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
      |          x -> x * x), 'sum') > 0),
      |coded AS MATERIALIZED (SELECT vec_id, v, ${codeSqlOf(0)} AS code_a,
      |                 ${codeSqlOf(8)} AS code_b FROM e),
      |cand0 AS MATERIALIZED (
      |  SELECT DISTINCT a, b FROM (
      |    SELECT c1.vec_id AS a, c2.vec_id AS b
      |    FROM coded c1 JOIN coded c2 ON c1.code_a = c2.code_a
      |    WHERE c1.vec_id <> c2.vec_id
      |    UNION ALL
      |    SELECT c1.vec_id, c2.vec_id
      |    FROM coded c1 JOIN coded c2 ON c1.code_b = c2.code_b
      |    WHERE c1.vec_id <> c2.vec_id)),
      |nn0 AS MATERIALIZED (SELECT a, b FROM (
      |  SELECT cand0.a, cand0.b,
      |         ROW_NUMBER() OVER (PARTITION BY cand0.a
      |           ORDER BY LIST_COSINE_SIMILARITY(ea.v, eb.v) DESC, cand0.b) AS rk
      |  FROM cand0 JOIN e ea ON ea.vec_id = cand0.a
      |             JOIN e eb ON eb.vec_id = cand0.b) WHERE rk <= 4),
      |u AS MATERIALIZED (SELECT DISTINCT a, b FROM (
      |  SELECT a, b FROM nn0 UNION ALL SELECT b, a FROM nn0)),
      |cand1 AS MATERIALIZED (SELECT DISTINCT a, b FROM (
      |  SELECT u1.a, u2.b FROM u u1 JOIN u u2 ON u1.b = u2.a
      |  WHERE u1.a <> u2.b
      |  UNION ALL SELECT a, b FROM u)),
      |nn1 AS MATERIALIZED (SELECT a, b FROM (
      |  SELECT cand1.a, cand1.b,
      |         ROW_NUMBER() OVER (PARTITION BY cand1.a
      |           ORDER BY LIST_COSINE_SIMILARITY(ea.v, eb.v) DESC, cand1.b) AS rk
      |  FROM cand1 JOIN e ea ON ea.vec_id = cand1.a
      |             JOIN e eb ON eb.vec_id = cand1.b) WHERE rk <= 4)""".stripMargin
  }

  /** Unrolled beam-search oracle for q_ann_graph_serve: the [[beamSearch]]
    * walk as hop-indexed CTEs on top of [[knnGraphSqlCtes]]. */
  private def graphServeSql: String = {
    def hop(h: Int) =
      s"""f$h AS (SELECT qid, qv, node FROM (
         |  SELECT qid, qv, node,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, node) AS rn
         |  FROM vis${h - 1}) WHERE rn <= 8),
         |x$h AS (SELECT DISTINCT f.qid, f.qv, g.b AS node
         |        FROM f$h f JOIN nn1 g ON g.a = f.node),
         |n$h AS (SELECT x.qid, x.qv, x.node,
         |               LIST_COSINE_SIMILARITY(ev.v, x.qv) AS cos
         |        FROM x$h x JOIN e ev ON ev.vec_id = x.node
         |        WHERE NOT EXISTS (SELECT 1 FROM vis${h - 1} v
         |                          WHERE v.qid = x.qid AND v.node = x.node)),
         |vis$h AS MATERIALIZED (
         |  SELECT qid, qv, node, cos FROM vis${h - 1}
         |  UNION ALL SELECT qid, qv, node, cos FROM n$h)""".stripMargin
    s"""WITH $knnGraphSqlCtes,
      |entries AS MATERIALIZED (SELECT vec_id AS node FROM e
      |  ORDER BY MD5('gs:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
      |q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM e
      |  WHERE $servingBatchSql),
      |vis0 AS MATERIALIZED (
      |  SELECT q.qid, q.qv, en.node, LIST_COSINE_SIMILARITY(ev.v, q.qv) AS cos
      |  FROM q CROSS JOIN entries en JOIN e ev ON ev.vec_id = en.node),
      |${hop(1)},
      |${hop(2)},
      |${hop(3)}
      |SELECT qid, node AS vec_id, ROUND(cos, 6) AS cosine, rk FROM (
      |  SELECT qid, node, cos,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
      |           ORDER BY cos DESC, node) AS BIGINT) AS rk
      |  FROM vis3 WHERE node <> qid)
      |WHERE rk <= 5
      |ORDER BY qid, rk""".stripMargin
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_ann_graph_serve" -> (qAnnGraphServe _, graphServeSql),
    "q_kmeans" -> (qKmeans _, kmeansSql),
    "q_kcenter" -> (qKcenter _, kcenterSql),
    "q_jl_projection" -> (qJlProjection _,
      s"""WITH sgn AS (
        |  SELECT gi.i, gk.k,
        |    CASE WHEN SUBSTRING(MD5('jl:' || CAST(gi.i AS VARCHAR) || ':' || CAST(gk.k AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END AS s
        |  FROM (SELECT UNNEST(RANGE(0, 64)) AS i) gi
        |  CROSS JOIN (SELECT UNNEST(RANGE(0, 16)) AS k) gk),
        |e AS (
        |  SELECT vec_id,
        |    LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS m
        |  FROM embeddings WHERE $servingBatchSql AND LEN(embedding) = 64),
        |comp AS (
        |  SELECT e.vec_id, gs.i AS i, e.m[CAST(gs.i + 1 AS INTEGER)] AS mi
        |  FROM e CROSS JOIN (SELECT UNNEST(RANGE(0, 64)) AS i) gs),
        |proj AS (
        |  SELECT c.vec_id, s.k, CAST(SUM(c.mi * s.s) AS BIGINT) AS p
        |  FROM comp c JOIN sgn s ON s.i = c.i
        |  GROUP BY c.vec_id, s.k),
        |pv AS (SELECT vec_id, LIST(p ORDER BY k) AS pvec FROM proj GROUP BY vec_id),
        |pairs AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    CAST(LIST_AGGREGATE(LIST_TRANSFORM(range(64),
        |      j -> (a.m[CAST(j + 1 AS INTEGER)] - b.m[CAST(j + 1 AS INTEGER)])
        |         * (a.m[CAST(j + 1 AS INTEGER)] - b.m[CAST(j + 1 AS INTEGER)])), 'sum') AS BIGINT) AS d_orig,
        |    CAST(LIST_AGGREGATE(LIST_TRANSFORM(range(16),
        |      j -> (pa.pvec[CAST(j + 1 AS INTEGER)] - pb.pvec[CAST(j + 1 AS INTEGER)])
        |         * (pa.pvec[CAST(j + 1 AS INTEGER)] - pb.pvec[CAST(j + 1 AS INTEGER)])), 'sum') AS BIGINT) AS d_proj
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  JOIN pv pa ON pa.vec_id = a.vec_id
        |  JOIN pv pb ON pb.vec_id = b.vec_id)
        |SELECT vec_a, vec_b, d_orig, d_proj,
        |       CAST(FLOOR(CAST(d_proj AS DOUBLE) * 1000000 / (16.0 * CAST(d_orig AS DOUBLE)) + 0.5) AS BIGINT) AS ratio_ppm
        |FROM pairs WHERE d_orig > 0
        |ORDER BY vec_a, vec_b""".stripMargin),
    "q_ann_nndescent" -> (qAnnNndescent _, {
      s"""WITH $knnGraphSqlCtes,
        |sample AS MATERIALIZED (SELECT vec_id AS a, v FROM e
        |           WHERE vec_id % 50 = 0 AND vec_id < ${50L * ServingBatchCap}),
        |exact AS MATERIALIZED (SELECT a, b FROM (
        |  SELECT s.a, e2.vec_id AS b,
        |         ROW_NUMBER() OVER (PARTITION BY s.a
        |           ORDER BY LIST_COSINE_SIMILARITY(s.v, e2.v) DESC, e2.vec_id) AS rk
        |  FROM sample s JOIN e e2 ON e2.vec_id <> s.a) WHERE rk <= 4)
        |SELECT CAST(0 AS BIGINT) AS round,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand0) AS n_candidates,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM nn0) AS knn_edges,
        |       (1000000 * (SELECT CAST(COUNT(*) AS BIGINT)
        |                   FROM nn0 JOIN exact USING (a, b)))
        |         // (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS recall_ppm
        |UNION ALL
        |SELECT CAST(1 AS BIGINT),
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand1),
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM nn1),
        |       (1000000 * (SELECT CAST(COUNT(*) AS BIGINT)
        |                   FROM nn1 JOIN exact USING (a, b)))
        |         // (SELECT CAST(COUNT(*) AS BIGINT) FROM exact)
        |ORDER BY round""".stripMargin
    }),
    "q_confusion" -> (qConfusion _, {
      val codeSql = (0 until 8).map { h =>
        val dot = planeWeights(h).zipWithIndex
          .map { case (w, j) => s"v[${j + 1}] * ($w)" }.mkString(" + ")
        s"(CASE WHEN $dot > 0 THEN ${1 << h} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"""WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE LEN(embedding) = 64
        |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0),
        |prof AS (
        |  SELECT $codeSql AS bucket, label, COUNT(*) AS n
        |  FROM e GROUP BY 1, 2),
        |pred AS (
        |  SELECT bucket, label AS pred FROM (
        |    SELECT bucket, label,
        |           ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n DESC, label) AS rk
        |    FROM prof) WHERE rk = 1),
        |cells AS (
        |  SELECT p.pred, f.label, CAST(SUM(f.n) AS BIGINT) AS n
        |  FROM prof f JOIN pred p ON f.bucket = p.bucket
        |  GROUP BY p.pred, f.label),
        |cls AS (SELECT DISTINCT label AS cls FROM cells),
        |m AS (
        |  SELECT c.cls,
        |    COALESCE((SELECT n FROM cells WHERE pred = c.cls AND label = c.cls), 0) AS tp,
        |    COALESCE((SELECT CAST(SUM(n) AS BIGINT) FROM cells
        |              WHERE pred = c.cls AND label <> pred), 0) AS fp,
        |    COALESCE((SELECT CAST(SUM(n) AS BIGINT) FROM cells
        |              WHERE label = c.cls AND label <> pred), 0) AS fn
        |  FROM cls c)
        |SELECT cls, tp, fp, fn,
        |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
        |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
        |  CASE WHEN tp * 2 + fp + fn > 0
        |       THEN CAST(tp * 2 AS DOUBLE) / CAST(tp * 2 + fp + fn AS DOUBLE) END AS f1
        |FROM m ORDER BY cls""".stripMargin
    }),
    "q_embed_drift" -> (qEmbedDrift _,
      """WITH ex AS (
        |  SELECT label, vec_id % 2 = 0 AS h0,
        |         UNNEST(LIST_TRANSFORM(embedding,
        |                v -> CAST(ROUND(v * 1e6) AS BIGINT))) AS q,
        |         UNNEST(RANGE(LEN(embedding))) AS i
        |  FROM embeddings),
        |cnt AS (
        |  SELECT label,
        |         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vec0,
        |         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_vec1
        |  FROM embeddings GROUP BY label),
        |means AS (
        |  SELECT ex.label,
        |         CASE WHEN n_vec0 = 0 THEN 0
        |              ELSE CAST(SUM(CASE WHEN h0 THEN q ELSE 0 END) AS BIGINT) // n_vec0
        |              END AS m0,
        |         CASE WHEN n_vec1 = 0 THEN 0
        |              ELSE CAST(SUM(CASE WHEN NOT h0 THEN q ELSE 0 END) AS BIGINT) // n_vec1
        |              END AS m1
        |  FROM ex JOIN cnt ON ex.label = cnt.label
        |  GROUP BY ex.label, ex.i, cnt.n_vec0, cnt.n_vec1),
        |dots AS (
        |  SELECT label, CAST(SUM(m0 * m1) AS BIGINT) AS dot,
        |         CAST(SUM(m0 * m0) AS BIGINT) AS nn0,
        |         CAST(SUM(m1 * m1) AS BIGINT) AS nn1
        |  FROM means GROUP BY label)
        |SELECT d.label, c.n_vec0, c.n_vec1,
        |       CASE WHEN d.nn0 = 0 OR d.nn1 = 0 THEN NULL
        |            ELSE ROUND(CAST(d.dot AS DOUBLE) /
        |                       (SQRT(CAST(d.nn0 AS DOUBLE)) * SQRT(CAST(d.nn1 AS DOUBLE))),
        |                       6) + 0.0 END AS centroid_cos
        |FROM dots d JOIN cnt c USING (label)
        |ORDER BY d.label""".stripMargin),
    "q_ann_pq" -> (qAnnPq _,
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE LEN(embedding) = 64
         |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0),
         |sub AS (
         |  SELECT vec_id, CAST(t.s AS INTEGER) AS s,
         |         LIST_TRANSFORM(RANGE(1, 17),
         |           j -> CAST(ROUND(v[CAST(t.s * 16 + j AS INTEGER)] * 1e6) AS BIGINT)) AS sv
         |  FROM e, RANGE(4) t(s)),
         |cb0 AS (SELECT s, vec_id AS code, sv AS cv FROM sub WHERE vec_id < 8),
         |asg1 AS (${pqArgminSql("cb0")}),
         |m1 AS (
         |  SELECT s, code, d AS dim,
         |         CAST(SUM(sv[CAST(d + 1 AS INTEGER)]) AS BIGINT) AS sx, COUNT(*) AS n
         |  FROM asg1, RANGE(16) t(d) GROUP BY s, code, d),
         |new1 AS (
         |  SELECT s, code, LIST(sx // n ORDER BY dim) AS nv FROM m1 GROUP BY s, code),
         |cb AS (
         |  SELECT c.s, c.code, COALESCE(n.nv, c.cv) AS cv
         |  FROM cb0 c LEFT JOIN new1 n ON n.s = c.s AND n.code = c.code),
         |codes AS (SELECT vec_id, s, code FROM (${pqArgminSql("cb")})),
         |qsub AS (SELECT s, sv AS qv FROM sub WHERE vec_id = 0),
         |lut AS (
         |  SELECT c.s, c.code,
         |         CAST(LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, 17),
         |           i -> c.cv[CAST(i AS INTEGER)] * q.qv[CAST(i AS INTEGER)]), 'sum') AS BIGINT) AS dot
         |  FROM cb c JOIN qsub q USING (s)),
         |scored AS (
         |  SELECT cd.vec_id, CAST(SUM(l.dot) AS BIGINT) AS adc
         |  FROM codes cd JOIN lut l ON l.s = cd.s AND l.code = cd.code
         |  WHERE cd.vec_id <> 0 GROUP BY cd.vec_id)
         |SELECT vec_id, ROUND(CAST(adc AS DOUBLE) / 1e12, 6) AS adc_dot
         |FROM scored ORDER BY adc DESC, vec_id LIMIT 10""".stripMargin),
    "q_mmr_diversify" -> (qMmrDiversify _,
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE LEN(embedding) = 64
         |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |pool AS (
         |  SELECT vec_id, v, LIST_COSINE_SIMILARITY(v, qv) AS rel
         |  FROM e CROSS JOIN q WHERE vec_id <> 0
         |  ORDER BY rel DESC, vec_id LIMIT 20),
         |pp1 AS (
         |  SELECT vec_id, v, rel, 1 AS rk FROM pool
         |  ORDER BY rel DESC, vec_id LIMIT 1),
         |${(2 to 5).map(mmrRound).mkString(",\n")}
         |SELECT vec_id, rk, ROUND(rel, 6) AS relevance
         |FROM pp5 ORDER BY rk""".stripMargin),
    "q_semdedup" -> (qSemdedup _,
      s"""WITH $ivfCtes,
         |pairs AS (
         |  SELECT a.vec_id AS u, b.vec_id AS vid
         |  FROM assigned a JOIN assigned b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE LIST_COSINE_SIMILARITY(a.v, b.v) >= 0.4),
         |dom AS (SELECT vid, MIN(u) AS dominated_by FROM pairs GROUP BY vid)
         |SELECT a.vec_id, a.cid, (d.vid IS NULL) AS kept, d.dominated_by
         |FROM assigned a LEFT JOIN dom d ON d.vid = a.vec_id
         |ORDER BY a.vec_id""".stripMargin),
    "q_sim_sparse" -> (qSimSparse _,
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
        |dfreq AS (
        |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |stats AS (SELECT COUNT(*) AS n_docs FROM documents),
        |w AS (
        |  SELECT doc_id, token,
        |         CAST(FLOOR(tf * LN(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
        |           * 1000 + 0.5) AS BIGINT) AS w
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN stats
        |  WHERE df * 5 <= n_docs),
        |norms AS (
        |  SELECT doc_id, SUM(w * w) AS s2 FROM w GROUP BY doc_id),
        |dots AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
        |  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |scored AS (
        |  SELECT doc_a, doc_b,
        |         FLOOR(CAST(dot AS DOUBLE)
        |           / (SQRT(CAST(na.s2 AS DOUBLE)) * SQRT(CAST(nb.s2 AS DOUBLE)))
        |           * 1000000 + 0.5) / 1000000 AS cos
        |  FROM dots
        |  JOIN norms na ON na.doc_id = doc_a
        |  JOIN norms nb ON nb.doc_id = doc_b)
        |SELECT doc_a, doc_b, cos FROM scored
        |WHERE cos >= 0.35
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q_gram_matrix" -> (qGramMatrix _,
      """WITH q AS (
        |  SELECT vec_id,
        |         LIST_TRANSFORM(embedding, v -> CAST(ROUND(v * 1e6) AS BIGINT)) AS qv
        |  FROM embeddings),
        |ex AS (
        |  SELECT vec_id, UNNEST(qv) AS v, UNNEST(RANGE(LEN(qv))) AS i FROM q)
        |SELECT a.i, b.i AS j, COUNT(*) AS n,
        |       CAST(SUM(CAST(a.v * b.v AS HUGEINT)) AS DOUBLE) / 1e12 AS gram
        |FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
        |GROUP BY a.i, b.i
        |ORDER BY a.i, b.i""".stripMargin),
    "q_pca_power" -> (qPcaPower _,
      """WITH q AS (
        |  SELECT vec_id,
        |         LIST_TRANSFORM(embedding, v -> CAST(ROUND(v * 1e6) AS BIGINT)) AS qv
        |  FROM embeddings WHERE LEN(embedding) = 64),
        |ex AS (
        |  SELECT vec_id, UNNEST(qv) AS v, UNNEST(RANGE(LEN(qv))) AS i FROM q),
        |g AS (
        |  SELECT a.i AS i, b.i AS j, SUM(CAST(a.v * b.v AS HUGEINT)) AS s
        |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
        |v0 AS (SELECT DISTINCT i AS j, CAST(1000000 AS BIGINT) AS vj FROM g),
        |w1 AS (SELECT g.i, SUM(g.s * v.vj) AS w FROM g JOIN v0 v ON g.j = v.j GROUP BY g.i),
        |m1 AS (SELECT GREATEST(MAX(ABS(w)), CAST(1 AS HUGEINT)) AS m FROM w1),
        |v1 AS (SELECT i AS j, CAST(ROUND(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * 1e6) AS BIGINT) AS vj
        |       FROM w1 CROSS JOIN m1),
        |w2 AS (SELECT g.i, SUM(g.s * v.vj) AS w FROM g JOIN v1 v ON g.j = v.j GROUP BY g.i),
        |m2 AS (SELECT GREATEST(MAX(ABS(w)), CAST(1 AS HUGEINT)) AS m FROM w2),
        |v2 AS (SELECT i AS j, CAST(ROUND(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * 1e6) AS BIGINT) AS vj
        |       FROM w2 CROSS JOIN m2),
        |w3 AS (SELECT g.i, SUM(g.s * v.vj) AS w FROM g JOIN v2 v ON g.j = v.j GROUP BY g.i),
        |m3 AS (SELECT GREATEST(MAX(ABS(w)), CAST(1 AS HUGEINT)) AS m FROM w3),
        |v3 AS (SELECT i AS j, CAST(ROUND(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * 1e6) AS BIGINT) AS vj
        |       FROM w3 CROSS JOIN m3),
        |w4 AS (SELECT g.i, SUM(g.s * v.vj) AS w FROM g JOIN v3 v ON g.j = v.j GROUP BY g.i),
        |m4 AS (SELECT GREATEST(MAX(ABS(w)), CAST(1 AS HUGEINT)) AS m FROM w4),
        |v4 AS (SELECT i AS j, CAST(ROUND(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * 1e6) AS BIGINT) AS vj
        |       FROM w4 CROSS JOIN m4),
        |w5 AS (SELECT g.i, SUM(g.s * v.vj) AS w FROM g JOIN v4 v ON g.j = v.j GROUP BY g.i),
        |m5 AS (SELECT GREATEST(MAX(ABS(w)), CAST(1 AS HUGEINT)) AS m FROM w5),
        |v5 AS (SELECT i AS j, CAST(ROUND(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * 1e6) AS BIGINT) AS vj
        |       FROM w5 CROSS JOIN m5)
        |SELECT j AS dim, CAST(vj AS DOUBLE) / 1e6 AS loading
        |FROM v5 ORDER BY j""".stripMargin),
    "q_rank_fusion" -> (qRankFusion _,
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id AS doc_id, d.n_chars,
        |         LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]), q.qv) AS c
        |  FROM embeddings e
        |  JOIN documents d ON e.vec_id = d.doc_id
        |  CROSS JOIN q
        |  WHERE e.vec_id <> 0 AND LEN(e.embedding) = 64
        |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]), x -> x * x), 'sum') > 0
        |    AND d.lang = 'en'),
        |ranked AS (
        |  SELECT doc_id,
        |         ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS r_dense,
        |         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r_lex
        |  FROM scored),
        |fused AS (
        |  SELECT doc_id, r_dense, r_lex,
        |         1.0 / (60.0 + CAST(r_dense AS DOUBLE))
        |           + 1.0 / (60.0 + CAST(r_lex AS DOUBLE)) AS rrf_raw
        |  FROM ranked)
        |SELECT doc_id, CAST(r_dense AS BIGINT) AS r_dense, CAST(r_lex AS BIGINT) AS r_lex,
        |       FLOOR(rrf_raw * 100000000 + 0.5) / 100000000 AS rrf
        |FROM fused ORDER BY rrf_raw DESC, doc_id LIMIT 10""".stripMargin),
    "q_rag_retrieve" -> (qRagRetrieve _,
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |eligible AS (
        |  SELECT e.vec_id AS doc_id, d.source, d.n_chars,
        |         LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]), q.qv) AS c
        |  FROM embeddings e
        |  JOIN documents d ON e.vec_id = d.doc_id
        |  CROSS JOIN q
        |  WHERE e.vec_id <> 0 AND LEN(e.embedding) = 64
        |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]), x -> x * x), 'sum') > 0
        |    AND d.lang = 'en' AND d.n_chars >= 200)
        |SELECT doc_id, source, n_chars, ROUND(c, 6) AS cosine
        |FROM eligible ORDER BY c DESC, doc_id LIMIT 10""".stripMargin),
    "q_cosine_topk"        -> (qCosineTopk _, cosineTopkOracle),
    "q_cosine_topk_native" -> (qCosineTopkNative _, cosineTopkOracle),
    "q_embed_quantize" -> (qEmbedQuantize _,
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
        |  WHERE LEN(embedding) = 64
        |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), v -> v * v), 'sum') > 0),
        |m AS (
        |  SELECT vec_id, label,
        |         LIST_TRANSFORM(x, v -> CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT)) AS m
        |  FROM e),
        |a AS (
        |  SELECT vec_id, label, m,
        |         LIST_AGGREGATE(LIST_TRANSFORM(m, v -> ABS(v)), 'max') AS amax
        |  FROM m),
        |q AS (
        |  SELECT vec_id, label,
        |         LIST_TRANSFORM(m, v ->
        |           CAST(CASE WHEN v < 0 THEN -1 WHEN v > 0 THEN 1 ELSE 0 END AS BIGINT)
        |             * ((ABS(v) * 127 + amax // 2) // amax)) AS q
        |  FROM a WHERE amax > 0),
        |qq AS (SELECT q AS qv FROM q WHERE vec_id = 0)
        |SELECT s.vec_id, s.label,
        |       CAST(LIST_AGGREGATE(LIST_TRANSFORM(range(64),
        |         i -> s.q[CAST(i + 1 AS INTEGER)] * qq.qv[CAST(i + 1 AS INTEGER)]),
        |         'sum') AS BIGINT) AS dot
        |FROM q s CROSS JOIN qq
        |WHERE s.vec_id <> 0
        |ORDER BY dot DESC, s.vec_id LIMIT 10""".stripMargin),
    "q_knn_classify" -> (qKnnClassify _,
      s"""WITH base AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |  WHERE LEN(embedding) = 64
        |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0),
        |q AS (
        |  SELECT vec_id AS qid, emb AS qemb FROM base WHERE $servingBatchSql),
        |scored AS (
        |  SELECT q.qid, b.vec_id, b.label, LIST_COSINE_SIMILARITY(b.emb, q.qemb) AS c
        |  FROM base b CROSS JOIN q WHERE b.vec_id <> q.qid),
        |nn AS (
        |  SELECT qid, label FROM (
        |    SELECT qid, label,
        |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rk
        |    FROM scored) WHERE rk <= 5),
        |votes AS (
        |  SELECT qid, label, COUNT(*) AS votes FROM nn GROUP BY qid, label)
        |SELECT qid, label AS pred_label, votes FROM (
        |  SELECT qid, label, votes,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
        |  FROM votes) WHERE vr = 1 ORDER BY qid""".stripMargin),
    "q_hard_negatives" -> (qHardNegatives _,
      s"""WITH base AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |  WHERE LEN(embedding) = 64
        |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0),
        |q AS (
        |  SELECT vec_id AS qid, label AS qlabel, emb AS qemb
        |  FROM base WHERE $servingBatchSql),
        |scored AS (
        |  SELECT q.qid, q.qlabel, b.vec_id, b.label,
        |         LIST_COSINE_SIMILARITY(b.emb, q.qemb) AS c
        |  FROM base b CROSS JOIN q WHERE b.label <> q.qlabel),
        |rk AS (
        |  SELECT qid, qlabel, vec_id, label, c,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT qid, qlabel, vec_id AS neg_id, label AS neg_label,
        |       ROUND(c, 6) AS cosine, rk
        |FROM rk WHERE rk <= 3 ORDER BY qid, rk""".stripMargin),
    "q_knn_join" -> (qKnnJoin _,
      s"""WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |  WHERE LEN(embedding) = 64
        |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0),
        |q AS (
        |  SELECT vec_id AS qid, emb AS qemb FROM base WHERE $servingBatchSql),
        |scored AS (
        |  SELECT q.qid, b.vec_id, LIST_COSINE_SIMILARITY(b.emb, q.qemb) AS c
        |  FROM base b CROSS JOIN q WHERE b.vec_id <> q.qid),
        |rk AS (
        |  SELECT qid, vec_id, c,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT qid, vec_id, ROUND(c, 6) AS cosine, rk
        |FROM rk WHERE rk <= 5 ORDER BY qid, rk""".stripMargin),
    "q_retrieval_eval" -> (qRetrievalEval _,
      s"""WITH base AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |  WHERE LEN(embedding) = 64
        |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0),
        |q AS (
        |  SELECT vec_id AS qid, label AS qlabel, emb AS qemb FROM base
        |  WHERE $servingBatchSql),
        |scored AS (
        |  SELECT q.qid, q.qlabel, b.vec_id, b.label,
        |         LIST_COSINE_SIMILARITY(b.emb, q.qemb) AS c
        |  FROM base b CROSS JOIN q WHERE b.vec_id <> q.qid),
        |rk AS (
        |  SELECT qid, qlabel, label,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rk
        |  FROM scored),
        |top AS (
        |  SELECT qid, qlabel, rk,
        |         CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel
        |  FROM rk WHERE rk <= 10),
        |lab AS (SELECT label, COUNT(*) AS n_label FROM base GROUP BY label),
        |per AS (
        |  SELECT qid, qlabel,
        |         CAST(SUM(rel) AS BIGINT) AS hits_at_10,
        |         MIN(CASE WHEN rel = 1 THEN rk END) AS fr,
        |         CAST(SUM(rel * ([${NdcgW.mkString(", ")}])[CAST(rk AS INT)]) AS BIGINT) AS dcg
        |  FROM top GROUP BY qid, qlabel),
        |dec AS (
        |  SELECT p.qid, p.qlabel,
        |         LEAST(l.n_label - 1, 10) AS n_rel, p.hits_at_10,
        |         CAST(COALESCE(1000000 // p.fr, 0) AS BIGINT) AS mrr_ppm, p.dcg,
        |         ([${NdcgPrefix.mkString(", ")}])[CAST(LEAST(l.n_label - 1, 10) AS INT) + 1] AS idcg
        |  FROM per p JOIN lab l ON p.qlabel = l.label)
        |SELECT qid, qlabel, n_rel, hits_at_10, mrr_ppm, dcg,
        |       CAST(idcg AS BIGINT) AS idcg,
        |       CASE WHEN idcg = 0 THEN NULL
        |            ELSE CAST((1000000 * dcg) // idcg AS BIGINT) END AS ndcg_ppm
        |FROM dec ORDER BY qid""".stripMargin),
    "q_embedding_qa" -> (qEmbeddingQa _,
      """WITH e AS (
        |  SELECT LEN(embedding) AS dim,
        |         LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
        |           x -> x * x), 'sum') AS nsq
        |  FROM embeddings),
        |summary AS (
        |  SELECT COUNT(*) AS n_vecs,
        |         CAST(SUM(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_ragged,
        |         CAST(SUM(CASE WHEN dim = 64 AND nsq <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |  FROM e),
        |valid AS (
        |  SELECT CAST(FLOOR(nsq * 1000000) AS BIGINT) AS nm
        |  FROM e WHERE dim = 64 AND nsq > 0),
        |mx AS (SELECT MAX(nm) // 10 + 1 AS w FROM valid),
        |hist AS (
        |  SELECT nm // w AS bucket, w, COUNT(*) AS n_in_bucket
        |  FROM valid CROSS JOIN mx GROUP BY 1, 2)
        |SELECT bucket, bucket * w AS lo_micro, n_in_bucket,
        |       n_vecs, n_ragged, n_zero
        |FROM summary LEFT JOIN hist ON TRUE
        |ORDER BY bucket""".stripMargin),
    "q_ann_recall" -> (qAnnRecall _,
      s"""WITH $ivfCtes,
        |qs AS (SELECT vec_id AS qid, v AS qvec FROM e WHERE $servingBatchSql),
        |probes AS (
        |  SELECT qid, qvec, cid FROM (
        |    SELECT q.qid, q.qvec, c.cid,
        |           ROW_NUMBER() OVER (PARTITION BY q.qid
        |             ORDER BY LIST_COSINE_SIMILARITY(c.cvec, q.qvec) DESC, c.cid) AS pr
        |    FROM qs q CROSS JOIN cent c) WHERE pr <= 4),
        |served AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT p.qid, a.vec_id,
        |           ROW_NUMBER() OVER (PARTITION BY p.qid
        |             ORDER BY LIST_COSINE_SIMILARITY(a.v, p.qvec) DESC, a.vec_id) AS rk
        |    FROM assigned a JOIN probes p USING (cid)
        |    WHERE a.vec_id <> p.qid) WHERE rk <= 5),
        |exact AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT q.qid, b.vec_id,
        |           ROW_NUMBER() OVER (PARTITION BY q.qid
        |             ORDER BY LIST_COSINE_SIMILARITY(b.v, q.qvec) DESC, b.vec_id) AS rk
        |    FROM e b CROSS JOIN qs q WHERE b.vec_id <> q.qid) WHERE rk <= 5),
        |hits AS (
        |  SELECT x.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
        |  FROM exact x JOIN served s ON x.qid = s.qid AND x.vec_id = s.vec_id
        |  GROUP BY x.qid),
        |per AS (
        |  SELECT x.qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
        |         COALESCE(MAX(h.n_hit), 0) AS n_hit
        |  FROM exact x LEFT JOIN hits h ON x.qid = h.qid GROUP BY x.qid),
        |dec AS (
        |  SELECT qid, n_exact, n_hit,
        |         CAST((1000000 * n_hit) // n_exact AS BIGINT) AS recall_ppm
        |  FROM per),
        |mean AS (
        |  SELECT CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm
        |  FROM dec)
        |SELECT qid, n_exact, n_hit, recall_ppm, mean_recall_ppm
        |FROM dec CROSS JOIN mean ORDER BY qid""".stripMargin),
    "q_ann_lsh" -> (qAnnLsh _, {
      // identical integer weights, identical left-to-right accumulation:
      // v[1]*w1 + v[2]*w2 + ... mirrors Spark's sequential HOF aggregate
      val codeSql = (0 until 16).map { h =>
        val dot = planeWeights(h).zipWithIndex
          .map { case (w, j) => s"v[${j + 1}] * ($w)" }.mkString(" + ")
        s"(CASE WHEN $dot > 0 THEN ${1 << h} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"""WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE LEN(embedding) = 64
        |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0),
        |coded AS (
        |  SELECT vec_id, label, v, $codeSql AS code FROM e),
        |q AS (SELECT v AS qvec, code AS qcode FROM coded WHERE vec_id = 0)
        |SELECT c.vec_id, c.label,
        |       ROUND(LIST_COSINE_SIMILARITY(c.v, q.qvec), 6) AS cosine
        |FROM coded c CROSS JOIN q
        |WHERE c.vec_id <> 0
        |  AND bit_count(xor(CAST(c.code AS BIGINT), CAST(q.qcode AS BIGINT))) <= 6
        |ORDER BY LIST_COSINE_SIMILARITY(c.v, q.qvec) DESC, c.vec_id
        |LIMIT 10""".stripMargin
    }),
    "q_ann_ivf" -> (qAnnIvf _,
      s"""WITH $ivfCtes,
        |q AS (SELECT v AS qvec FROM e WHERE vec_id = 0),
        |probes AS (
        |  SELECT cid FROM cent CROSS JOIN q
        |  ORDER BY LIST_COSINE_SIMILARITY(cvec, qvec) DESC, cid LIMIT 4)
        |SELECT a.vec_id, a.label,
        |       ROUND(LIST_COSINE_SIMILARITY(a.v, q.qvec), 6) AS cosine
        |FROM assigned a JOIN probes USING (cid) CROSS JOIN q
        |WHERE a.vec_id <> 0
        |ORDER BY LIST_COSINE_SIMILARITY(a.v, q.qvec) DESC, a.vec_id
        |LIMIT 10""".stripMargin),
    "q_ann_ivf_batch" -> (qAnnIvfBatch _,
      s"""WITH $ivfCtes,
        |$ivfProbeSql""".stripMargin),
    "q_ivf_incremental" -> (qIvfIncremental _,
      s"""WITH ${ivfCtesFrom("vec_id % 10 <> 0")},
        |$ivfProbeSql""".stripMargin),
    "q_dedup_embedding" -> (qDedupEmbedding _,
      s"""WITH $embedPairCtes
         |SELECT v1, v2, ROUND(cos_raw, 6) AS cosine
         |FROM epairs ORDER BY v1, v2""".stripMargin),
  )

  /** Sign-band LSH + exact-cosine-verify pair CTEs — ONE copy shared by the
    * q_dedup_embedding oracle and the dedup-pipeline oracle (Dedup module),
    * so the semantic-pair definition cannot drift between the tier and the
    * composed funnel. Ends with `epairs(v1, v2, cos_raw)`; CTE names are
    * emb_-prefixed to compose with the shingle chain without collisions. */
  // lazy: referenced by the `registry` val above during object init
  private[ops] lazy val embedPairCtes: String =
    """emb_e AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE LEN(embedding) = 64
      |    AND LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum') > 0),
      |emb_b AS MATERIALIZED (
      |  SELECT vec_id, v, band,
      |         LIST_AGGREGATE(LIST_TRANSFORM(range(8), j ->
      |           CASE WHEN v[CAST(band * 8 + j + 1 AS INTEGER)] >= 0
      |                THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER) ELSE 0 END), 'sum') AS key
      |  FROM emb_e, range(8) t(band)),
      |epairs AS MATERIALIZED (
      |  SELECT DISTINCT b1.vec_id AS v1, b2.vec_id AS v2,
      |         LIST_COSINE_SIMILARITY(b1.v, b2.v) AS cos_raw
      |  FROM emb_b b1 JOIN emb_b b2
      |    ON b1.band = b2.band AND b1.key = b2.key AND b1.vec_id < b2.vec_id
      |  WHERE LIST_COSINE_SIMILARITY(b1.v, b2.v) >= 0.4)""".stripMargin
}
