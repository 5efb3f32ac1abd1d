package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (BASELINE north-star; SURVEY.md §2.5): treat
  * image/audio/video payloads as opaque BinaryType columns with a typed
  * metadata struct, and run decode / feature-extract / frame-sample as
  * distributed per-partition passes.
  *
  * There are no image/audio codecs to call, so the DECODE STEP IS A STUB:
  * [[qMultimodalPhash]] and [[qMultimodalResize]] compute a deterministic
  * byte histogram standing in for a real decoder (swap it for JNI/FFI
  * image decode in production). Everything around it — the binary column,
  * metadata struct, partitioned mapPartitions batch shape, frame slicing —
  * is the real Spark plumbing and is tested.
  *
  * Scale notes: binary payloads ride the same columnar scan as everything
  * else (Parquet stores them contiguously; column pruning means queries not
  * touching `bytes` never read them). Feature extraction is mapPartitions —
  * one JVM pass per partition, no shuffle, scaling linearly with executors.
  * Frame sampling is pure expression work (substring on binary) inside
  * codegen.
  */
object Multimodal extends QueryModule {

  val FrameBytes = 256

  final case class DocBlob(doc_id: Long, bytes: Array[Byte])

  /** Attach the opaque binary column + typed metadata struct. The harness
    * has no true binary payloads, so document text bytes stand in — the
    * schema and plumbing are what is being exercised. */
  def withBinary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bytes", encode(col("text"), "UTF-8"))
      .withColumn("meta", struct(
        lit("application/octet-stream").as("mime"),
        octet_length(col("bytes")).as("n_bytes"),
        ceil(octet_length(col("bytes")) / lit(FrameBytes.toDouble)).cast("int")
          .as("n_frames")))

  /** Frame-sample: slice the payload into fixed FrameBytes frames, keep
    * every 4th — pure codegen'd expression work on binary. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    withBinary(spark, dir)
      // empty payloads guard: sequence(0, -1) is DESCENDING [0, -1], which
      // would fabricate frames for a zero-byte payload
      .withColumn("frames", expr(
        s"""CASE WHEN meta.n_frames <= 0 THEN array()
           |ELSE filter(
           |  transform(sequence(0, meta.n_frames - 1),
           |    i -> substring(bytes, i * $FrameBytes + 1, $FrameBytes)),
           |  (f, i) -> i % 4 = 0)
           |END""".stripMargin))
      .select(col("doc_id"), col("meta"), col("frames"),
        size(col("frames")).as("n_sampled"))

  val ShardBytes = 65536L

  /** WebDataset-style shard manifest: pack the binary payloads, in doc_id
    * order, into 64 KiB byte-stripes — shard(doc) = ⌊byte-offset / 64 Ki⌋
    * over the running payload size — and ship the per-shard manifest
    * (doc count, bytes, id range) a training loader mounts. The offset
    * rule is the deterministic streaming-tar packing (a doc whose payload
    * straddles a stripe boundary belongs to the stripe its first byte
    * lands in); the manifest is what makes shards addressable without
    * opening them.
    *
    * Scale shape: the running byte offset is an exclusive running sum
    * ([[Windows.chunkedRunningSums]]) chunked by 1000 doc ids, never a
    * global single-task window; the manifest aggregation is |shards| rows. */
  def qShardManifest(spark: SparkSession, dir: String): DataFrame = {
    val d = withBinary(spark, dir)
      .select(col("doc_id"), col("meta.n_bytes").cast("long").as("nb"))
      .withColumn("chunk", expr("div(doc_id, 1000)"))
    Windows.chunkedRunningSums(d, Nil, "chunk", Seq(col("doc_id")),
        "end" -> coalesce(col("nb"), lit(0L)))
      .withColumn("offset", col("end") - coalesce(col("nb"), lit(0L)))
      .withColumn("shard_id", expr(s"div(offset, ${ShardBytes}L)"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("shard_bytes"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard_id"))
  }

  /** Metadata projection — the oracle-checkable face of the binary schema. */
  def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    withBinary(spark, dir)
      .select(col("doc_id"), col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"), col("meta.n_frames").as("n_frames"))
      .orderBy(col("doc_id"))

  /** Frame sampling as a query key: per payload, total frames, the
    * every-4th-frame sample count, AND md5 digests of the first and last
    * sampled frames — so the binary slicing itself is oracle-verified
    * byte-for-byte, not just the frame-count arithmetic. The Spark side
    * REALLY slices the binary (substring frames inside codegen —
    * [[frameSample]]) and hashes the HEX of each frame; the oracle replays
    * the same slice on `hex(encode(text))` (byte offset i maps to hex-char
    * offset 2i; both engines' hex is uppercase, and tail truncation
    * shortens both identically), so any off-by-one in the frame substring
    * flips the hash. The count contract (kept = ceil(n_frames/4)) is what
    * a video pipeline budgets storage and GPU batches against. */
  def qMultimodalFrames(spark: SparkSession, dir: String): DataFrame =
    frameSample(spark, dir)
      .select(col("doc_id"), col("meta.n_frames").as("n_frames"),
        col("n_sampled"),
        when(col("n_sampled") > 0, md5(hex(element_at(col("frames"), 1))))
          .as("first_frame_md5"),
        when(col("n_sampled") > 0, md5(hex(element_at(col("frames"), -1))))
          .as("last_frame_md5"))
      .orderBy(col("doc_id"))

  /** Perceptual-hash near-dup pairs over the binary payloads — the IMAGE
    * DEDUP tier of the multimodal family, the exact shape a training-data
    * pipeline runs over image corpora (feature → binarize → LSH band →
    * Hamming verify), with the decoded-pixel feature of a real pipeline
    * stood in by the payload's 64-bin byte histogram (the container has
    * no codecs — the module's declared stub; swap the feature, keep
    * every step downstream).
    *
    * Construction, all integer and oracle-replayable:
    *  1. 64-bin byte histogram (bin = byte div 4) from `hex(bytes)` —
    *     byte j is hex chars [2j+1, 2j+2], both engines' hex uppercase;
    *     one distributed count on the high-cardinality doc_id;
    *  2. MEAN-CENTERED SimHash binarization — the standard descriptor
    *     binarization: center each doc's histogram on the CORPUS byte
    *     profile (a 1-row broadcast; cross-multiplied so it stays in
    *     exact integers: dev_b = bins_b·ctotal − cbins_b·total), then
    *     60 sign bits of deterministic ±1 projections, weights from an
    *     integer LCG (`(1103515245·k + 12345) div 2¹⁶ mod 2`) computable
    *     identically in both engines. Centering is load-bearing: a
    *     self-mean threshold collapses on skewed byte distributions
    *     (ASCII payloads occupy ~20 of 256 byte values, so most bins are
    *     constant-below-mean for every doc and whole bands degenerate
    *     into corpus-sized buckets — measured before this design);
    *  3. candidates by BANDED equi-join over DISTINCT HASH VALUES: 4
    *     bands × 15 bits; Hamming ≤ 3 forces exact agreement on ≥ 1 band
    *     (pigeonhole recall 1.0) — the same bucketed LSH shape as the
    *     MinHash/SimHash/embedding tiers, never corpus-quadratic. The
    *     collapse to values first is load-bearing on duplicate-heavy
    *     corpora: the adversarial ASCII corpus yields ~116 distinct
    *     hashes for 50k docs (sf1.0 probe), so banding/verifying doc
    *     ROWS re-proved the same value-pair comparison thousands of
    *     times per cluster and shuffled the full candidate volume
    *     through a distinct (measured e≈2.8 across sf0.5→1.0, past the
    *     e=2 output bound an exact tier should pay);
    *  4. exact verify: bit_count(ha ^ hb) ≤ 3 on value pairs — at most
    *     |distinct hashes|² band coincidences, usually far fewer;
    *  5. expansion back to doc pairs via membership joins, with the
    *     probe side CHUNKED (doc_id mod 8 + an 8-row broadcast spine on
    *     the build side): a hash value shared by m docs would otherwise
    *     expand its C(m,2) within-cluster pairs in ONE task per value —
    *     the same single-task-quadratic class as the co-purchase
    *     mega-basket, parallelized here instead of capped because the
    *     pair list IS the contract. Each unordered doc pair is emitted
    *     exactly once (hash pairs are value-deduped with ha ≤ hb; the
    *     (da, db) orientation is normalized afterward), so no distinct
    *     runs over the expanded set at all.
    * At 100 TB the phash table is one 60-bit integer per image; the band
    * join buckets distinct values on (band, 15-bit key); the corpus
    * profile is a single broadcast row; and the only corpus-sized
    * shuffles are the histogram rollup and the final pair sort — the
    * answer itself. */
  def qMultimodalPhash(spark: SparkSession, dir: String): DataFrame = {
    val NBins = 64
    val NBits = 60
    // Per-payload 64-bin histogram in the typed mapPartitions pass
    // production feature extraction uses (module doc):
    // one while-loop over the raw bytes per row — no explode, no shuffle,
    // no per-byte expression evaluation. (Two DataFrame-DSL formulations
    // were measured first and both lose badly: explode+conditional-sum
    // aggregation costs a 2M-row explode whose per-element expression
    // runs inside an INTERPRETED `transform` lambda — Spark higher-order
    // functions are CodegenFallback — at 5–15 s for what is a 2M-byte
    // count.)
    val histDs = {
      import spark.implicits._
      withBinary(spark, dir).select(col("doc_id"), col("bytes")).as[DocBlob]
        .mapPartitions { it =>
          it.map { blob =>
            val bins = new Array[Long](NBins)
            blob.bytes.foreach(b => bins((b & 0xFF) / 4) += 1)
            (blob.doc_id, bins.toSeq, bins.sum)
          }
        }
    }
    val hist = histDs.toDF("doc_id", "bins", "total")
    val corpus = hist.agg(
      array((0 until NBins).map(b => sum(expr(s"element_at(bins, ${b + 1})"))): _*).as("cbins"),
      sum(col("total")).as("ctotal"))
    // The 60×64 sign-projection kernel runs as a typed mapPartitions
    // while-loop — the sanctioned last resort for per-row numeric kernels
    // (same shape as the histogram pass above), because Spark's higher-order
    // array functions are CodegenFallback: the HOF formulation evaluated
    // ~19M interpreted lambda steps (8 s at sf0.1, the slowest stage in
    // the whole bench), and a flat generated expression was worse still —
    // CollapseProject inlines the dev array into all 3840 terms. The
    // weights are data-independent (integer LCG, identical in the
    // oracle); the loop is ~19M primitive multiply-adds, milliseconds.
    // Map-only and partition-parallel, so the 100 TB shape is unchanged.
    import spark.implicits._
    // truncate lineage: the 60×64 projection expression is the expensive
    // step and is consumed FOUR+ times downstream (both self-join sides
    // × the band explode) — without the checkpoint Catalyst re-derives
    // it per consumer and the key runs ~20× slower (measured 96 s vs
    // ~5 s at sf0.1)
    val phash = Materialize.shared(hist.crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("bins"), col("total"), col("cbins"), col("ctotal"))
      .as[(Long, Seq[Long], Long, Seq[Long], Long)]
      .mapPartitions { it =>
        it.map { case (id, binsS, total, cbinsS, ctotal) =>
          val bins = binsS.toArray
          val cbins = cbinsS.toArray
          var ph = 0L
          var j = 0
          while (j < NBits) {
            var s = 0L
            var b = 0
            while (b < NBins) {
              val w = 2 * (((1103515245L * (b * NBits + j) + 12345L) / 65536L) % 2) - 1
              s += w * (bins(b) * ctotal - cbins(b) * total)
              b += 1
            }
            if (s > 0) ph |= (1L << j)
            j += 1
          }
          (id, ph)
        }
      }.toDF("doc_id", "phash"))
    // ---- value-collapsed banding: pair HASH VALUES, not doc rows ----
    val hv = phash.select(col("phash")).distinct()
    val bandedV = hv.select(col("phash"),
      explode(expr(
        """transform(sequence(0, 3),
          |  b -> struct(b AS band,
          |    (phash div shiftleft(CAST(1 AS BIGINT), b * 15)) % 32768 AS key))"""
          .stripMargin)).as("bk"))
      .select(col("phash"), col("bk.band").as("band"), col("bk.key").as("key"))
    // ha <= hb keeps the within-cluster (h, h) pair; a value pair agreeing
    // on several bands dedups here, while the set is still value-sized
    val hp = bandedV.as("a").join(bandedV.as("b"), Seq("band", "key"))
      .filter(col("a.phash") <= col("b.phash"))
      .select(col("a.phash").as("ha"), col("b.phash").as("hb"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 3)
      .distinct()
    // ---- chunked expansion: qualifying value pairs -> doc pairs ----
    val chunks = 8
    val spine = spark.range(0, chunks).select(col("id").as("cj"))
    val mA = phash.select(col("phash").as("ha"), col("doc_id").as("da"))
    val mB = phash.select(col("phash").as("hb_m"), col("doc_id").as("db"),
      pmod(col("doc_id"), lit(chunks.toLong)).as("ck"))
    hp.join(mA, "ha")
      .crossJoin(broadcast(spine))
      .join(mB, col("hb") === col("hb_m") && col("cj") === col("ck"))
      // within-cluster (ha = hb): keep each unordered pair once; across
      // clusters the (ha, hb) value pair is already unique, any (da, db)
      .filter((col("ha") =!= col("hb")) || (col("da") < col("db")))
      .select(
        least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"),
        when(col("da") < col("db"), col("ha")).otherwise(col("hb")).as("h1"),
        when(col("da") < col("db"), col("hb")).otherwise(col("ha")).as("h2"),
        col("hamming"))
  }

  final case class DocHist16(doc_id: Long, hist: Array[Long], total: Long)

  /** Decode→resize as an oracle-checkable query key: the typed
    * mapPartitions "decode" pass builds a 16-bin high-nibble byte
    * histogram in EXACT integer counts (the stub decoder's shape, minus
    * the float normalization that would never cross-engine hash), then
    * the "resize" pools adjacent bins 16→8, exactly what image downsampling
    * does to a feature map. Output is per-doc ppm weights of the 8 pooled
    * bins (flattened to scalar columns — the driver's checker can't hash
    * array cells).
    *
    * Scale shape: one mapPartitions pass over the payload column (no
    * shuffle — the per-doc histogram never leaves its partition), then
    * pure projection. The orderBy exists for the deterministic dump; a
    * production pipeline would write the unordered result. At 100 TB this
    * is the canonical embarrassingly-parallel decode pass: cost = bytes
    * scanned / executors, state = 16 longs per in-flight doc. */
  def qMultimodalResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hists = withBinary(spark, dir)
      .select(col("doc_id"), col("bytes")).as[DocBlob]
      .mapPartitions { it =>
        it.map { blob =>
          val hist = new Array[Long](16)
          blob.bytes.foreach(b => hist((b & 0xFF) >> 4) += 1L)
          DocHist16(blob.doc_id, hist, blob.bytes.length.toLong)
        }
      }
    hists.toDF()
      .select(col("doc_id") +: col("total") +: (0 until 8).map(i => expr(
        s"""CASE WHEN total = 0 THEN CAST(0 AS BIGINT)
           |ELSE div(1000000 * (hist[${2 * i}] + hist[${2 * i + 1}]), total)
           |END""".stripMargin).as(s"p$i")): _*)
      .orderBy(col("doc_id"))
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_multimodal_resize" -> (qMultimodalResize _, {
      val binSums = (0 until 16)
        .map(b => s"CAST(SUM(CASE WHEN v = $b THEN 1 ELSE 0 END) AS BIGINT)")
        .mkString("[", ", ", "]")
      val pooled = (0 until 8).map(i =>
        s"""CASE WHEN total = 0 THEN CAST(0 AS BIGINT)
           |            ELSE (1000000 * (bins[${2 * i + 1}] + bins[${2 * i + 2}])) // total
           |       END AS p$i""".stripMargin).mkString(",\n       ")
      s"""WITH hx AS (
        |  SELECT doc_id, hex(ENCODE(text)) AS h FROM documents),
        |vals AS (
        |  SELECT doc_id,
        |         UNNEST(CASE WHEN LEN(h) < 2 THEN [CAST(NULL AS INTEGER)]
        |                ELSE LIST_TRANSFORM(range(LEN(h) // 2), i ->
        |                  CAST(STRPOS('0123456789ABCDEF',
        |                         SUBSTRING(h, CAST(2 * i + 1 AS INTEGER), 1)) - 1
        |                    AS INTEGER)) END) AS v
        |  FROM hx),
        |hist AS (
        |  SELECT doc_id, $binSums AS bins, CAST(COUNT(v) AS BIGINT) AS total
        |  FROM vals GROUP BY doc_id)
        |SELECT doc_id, total,
        |       $pooled
        |FROM hist ORDER BY doc_id""".stripMargin
    }),
    "q_shard_manifest" -> (qShardManifest _,
      s"""WITH d AS (
        |  SELECT doc_id, CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS nb
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, nb,
        |         CAST(COALESCE(SUM(nb) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS "offset"
        |  FROM d)
        |SELECT "offset" // $ShardBytes AS shard_id, COUNT(*) AS n_docs,
        |       CAST(SUM(nb) AS BIGINT) AS shard_bytes,
        |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM o GROUP BY 1 ORDER BY shard_id""".stripMargin),
    "q_multimodal_meta" -> (qMultimodalMeta _,
      s"""SELECT doc_id, 'application/octet-stream' AS mime,
        |       OCTET_LENGTH(ENCODE(text)) AS n_bytes,
        |       CAST(CEIL(OCTET_LENGTH(ENCODE(text)) / $FrameBytes.0) AS INTEGER) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin),
    "q_multimodal_frames" -> (qMultimodalFrames _,
      s"""WITH m AS (
        |  SELECT doc_id, hex(ENCODE(text)) AS h,
        |         CAST(CEIL(OCTET_LENGTH(ENCODE(text)) / $FrameBytes.0) AS INTEGER)
        |           AS n_frames
        |  FROM documents)
        |SELECT doc_id, n_frames,
        |       CAST(CASE WHEN n_frames <= 0 THEN 0
        |                 ELSE CAST(CEIL(n_frames / 4.0) AS INTEGER) END AS INTEGER)
        |         AS n_sampled,
        |       CASE WHEN n_frames <= 0 THEN NULL
        |            ELSE md5(SUBSTRING(h, 1, ${2 * FrameBytes})) END
        |         AS first_frame_md5,
        |       CASE WHEN n_frames <= 0 THEN NULL
        |            ELSE md5(SUBSTRING(h,
        |              ((n_frames - 1) // 4) * 4 * ${2 * FrameBytes} + 1,
        |              ${2 * FrameBytes})) END
        |         AS last_frame_md5
        |FROM m ORDER BY doc_id""".stripMargin),
    "q_multimodal_phash" -> (qMultimodalPhash _, {
      val binSums = (0 until 64)
        .map(b => s"SUM(CASE WHEN v = $b THEN 1 ELSE 0 END)")
        .mkString("[", ", ", "]")
      val cbinSums = (0 until 64)
        .map(b => s"CAST(SUM(bins[${b + 1}]) AS BIGINT)")
        .mkString("[", ", ", "]")
      s"""WITH hx AS (
        |  SELECT doc_id, hex(ENCODE(text)) AS h FROM documents),
        |vals AS (
        |  SELECT doc_id,
        |         UNNEST(CASE WHEN LEN(h) < 2 THEN [CAST(NULL AS INTEGER)]
        |                ELSE LIST_TRANSFORM(range(LEN(h) // 2), i ->
        |                  CAST(((STRPOS('0123456789ABCDEF',
        |                           SUBSTRING(h, CAST(2 * i + 1 AS INTEGER), 1)) - 1) * 16
        |                    + STRPOS('0123456789ABCDEF',
        |                        SUBSTRING(h, CAST(2 * i + 2 AS INTEGER), 1)) - 1)
        |                    // 4 AS INTEGER)) END) AS v
        |  FROM hx),
        |hist AS (
        |  SELECT doc_id, $binSums AS bins FROM vals GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id, bins,
        |         CAST(LIST_AGGREGATE(bins, 'sum') AS BIGINT) AS total
        |  FROM hist),
        |corpus AS (
        |  SELECT $cbinSums AS cbins, CAST(SUM(total) AS BIGINT) AS ctotal FROM tot),
        |ph AS (
        |  SELECT doc_id,
        |         CAST(LIST_AGGREGATE(LIST_TRANSFORM(range(60), j ->
        |           CASE WHEN LIST_AGGREGATE(LIST_TRANSFORM(range(64), b ->
        |             (2 * (((1103515245 * (b * 60 + j) + 12345) // 65536) % 2) - 1)
        |             * (CAST(bins[CAST(b + 1 AS INTEGER)] AS BIGINT) * ctotal
        |                - cbins[CAST(b + 1 AS INTEGER)] * total)), 'sum') > 0
        |                THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
        |                ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS phash
        |  FROM tot CROSS JOIN corpus),
        |banded AS (
        |  SELECT doc_id, phash, b AS band,
        |         (phash >> CAST(b * 15 AS INTEGER)) % 32768 AS key
        |  FROM ph, range(4) t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |         a.phash AS h1, b.phash AS h2
        |  FROM banded a JOIN banded b USING (band, key)
        |  WHERE a.doc_id < b.doc_id)
        |SELECT d1, d2, h1, h2,
        |       CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(h1, h2)) <= 3
        |ORDER BY d1, d2""".stripMargin
    }),
  )
}
