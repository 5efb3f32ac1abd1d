package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (BASELINE north-star; SURVEY.md
  * §2.5) — the four standard tiers of a training-data pipeline:
  *
  *  1. exact     — sha256 of normalized text, keep-first per hash
  *  2. n-gram    — exact Jaccard over 3-word shingles (quadratic candidate
  *                 step bounded by an inverted-index join; the oracle tier)
  *  3. MinHash   — k=48 signatures banded 24×2 → candidate buckets →
  *                 exact-Jaccard verify (the 100 TB tier)
  *  4. SimHash   — 64-bit fingerprint, near-dup = Hamming ≤ 3
  *
  * Scale notes: exact dedup is one shuffle on the hash. The n-gram inverted
  * index joins docs only when they SHARE a shingle, and stop-shingles
  * (document frequency > 100) are dropped first — without that cap one viral
  * shingle creates a quadratic hot key. MinHash/LSH replaces the quadratic
  * verify set with per-bucket candidates: cost O(n·k) signatures + one
  * shuffle on band keys; recall at Jaccard 0.6 with 24×2 banding is
  * 1-(1-0.6²)²⁴ ≈ 0.9998. SimHash bands its 60 bits into 4×15-bit keys
  * (Hamming ≤ 3 pairs must agree on ≥1 band — pigeonhole, recall exactly
  * 1.0) and bucket-joins like MinHash — never all-pairs.
  *
  * All hashing derives from the first 15 hex chars of md5 parsed as a 60-bit
  * integer — a primitive BOTH engines share exactly (Spark
  * `conv(substring(md5(x),1,15),16,10)` ≡ DuckDB
  * `CAST('0x' || SUBSTR(MD5(x),1,15) AS BIGINT)`), which is what lets the
  * MinHash and SimHash tiers be oracle-VERIFIED rather than rows-only:
  * every downstream step is exact integer arithmetic, so the candidate sets
  * and outputs are bit-identical across engines. md5 costs ~4× xxhash64 per
  * call, but token hashing is a vanishing fraction of these shuffle-bound
  * plans (measured: no bench movement at sf0.1); an xxhash64 swap-back is a
  * one-line change if an engine-only deployment wants it.
  */
object Dedup extends QueryModule {

  /** Near-dup contract, shared by the exact tier and the LSH verify step
    * (a drift between them breaks the LSH-subset-of-exact invariant). */
  private val JaccardThreshold = 0.6
  private val StopShingleDf = 100

  /** Asymmetric-containment contract: inter / min(|A|, |B|) ≥ this flags a
    * doc-inside-doc pair even when symmetric Jaccard stays low (a short page
    * embedded in a long one dilutes the union but not the intersection). */
  private val ContainmentThreshold = 0.5

  /** 60-bit integer from the first 15 hex chars of md5 — the cross-engine
    * hash primitive (see module doc). Non-negative by construction. */
  private def md5Hash60(e: String): String =
    s"cast(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  private val M = 2147483647L // 2^31 - 1 (Mersenne prime)

  /** Affine universal-hash family member s: x -> (a_s·x + b_s) mod M.
    * ONE definition feeds both the Spark builder and the DuckDB oracle SQL,
    * so the 48 constants cannot drift between engines. */
  private def mixConsts(s: Int): (Long, Long) =
    ((((2L * s + 1L) * 2654435761L) % M, (s.toLong * 1779033703L) % M))

  /** Exploded posting table of distinct word 3-shingles: (doc_id, shingle).
    * Documents under 3 tokens produce NO shingles (matches the oracle SQL,
    * whose out-of-range list indexing would otherwise NULL out). Shingling
    * itself is map-side array work; exploding ONCE up front keeps every
    * downstream pass (Jaccard join, MinHash) in codegen'd row form — nested
    * array lambdas would re-evaluate the tokenizer per element per seed in
    * interpreted mode (measured: minutes vs seconds at sf0.001). */
  private[graft] def shingleTable(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), explode(array_distinct(expr(
        """CASE WHEN size(toks) < 3 THEN array()
          |ELSE transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))
          |END""".stripMargin)))
        .as("shingle"))

  /** Rare-shingle postings (stop-shingles dropped) — the intersection side
    * of the Jaccard convention. */
  private def rarePostings(sh: DataFrame): DataFrame =
    sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= StopShingleDf),
      "shingle")

  /** Attach exact Jaccard (inter over rare shingles / sizes over all) to a
    * (d1, d2, inter) frame — the single place the formula lives. */
  private def withJaccard(inter: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
      .withColumn("jaccard_raw", col("inter") / (col("n1") + col("n2") - col("inter")))
  }

  /** Candidate pairs sharing ≥1 non-stop shingle, with exact Jaccard.
    *
    * The shingle table is checkpointed because FOUR consumers inside
    * this one query re-derive it otherwise (posting sides a+b, the df
    * aggregate, the sizes aggregate) — Catalyst does no cross-branch
    * common-subexpression reuse, so without it the documents scan + split +
    * explode runs 4×. Measured at sf0.1: steady-state 4.2→2.9 s. This is
    * INTRA-query materialization, not the cross-query caching SURVEY §2.6
    * rejects; it is disk-backed and proportional to one table's shingle
    * count, the same footprint the shuffle for the self-join already
    * pays. Caveat vs reliable checkpoint(): a lost executor fails the
    * query instead of recomputing (acceptable for a per-query
    * intermediate; a multi-hour pipeline would use checkpoint() to a
    * cluster store). */
  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    nearDupPairsRaw(Tables.documents(spark, dir))

  /** Library form of the shingle-Jaccard near-dup primitive: candidate
    * pairs sharing ≥ 1 rare shingle with exact Jaccard attached, over ANY
    * (doc_id, text) corpus — the reusable core every dedup tier and the
    * clustering/survivor/filter queries instantiate against the harness
    * table. */
  def nearDupPairsRaw(docs: DataFrame): DataFrame = {
    val sh = Materialize.shared(shingleTable(docs))
    // postings deliberately NOT checkpointed (an A/B): both self-join
    // sides replay the df rollup + stop-shingle join from the shingle
    // cache, but the two replays run as parallel sibling branches and
    // measured CHEAPER than materializing the postings frame — isolated
    // min-of-6 at sf0.1: q_dedup_near flat (2.26 → 2.22 s) while the
    // downstream consumers regressed (q_dedup_survivors 2.18 → 2.50 s,
    // q_corpus_filter 2.12 → 2.30 s) under the extra block-manager
    // traffic. Same verdict as q_join_interval's self-join sides.
    val postings = rarePostings(sh)
    val a = postings.select(col("shingle"), col("doc_id").as("d1"))
    val b = postings.select(col("shingle"), col("doc_id").as("d2"))
    val inter = a.join(b, "shingle").filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    withJaccard(inter, sh)
  }

  /** Tier 1: exact duplicate groups — survivor (min doc_id) + group size. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("h", sha2(lower(trim(col("text"))), 256))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_dups"))
      .select(col("survivor_id"), col("n_dups"), col("h"))
      .orderBy(col("survivor_id"))

  /** Tier 2: near-dup pairs by exact 3-shingle Jaccard ≥ 0.6 (oracle tier). */
  def qDedupNear(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir)
      .filter(col("jaccard_raw") >= JaccardThreshold)
      .select(col("d1"), col("d2"), round(col("jaccard_raw"), 6).as("jaccard"))
      .orderBy(col("d1"), col("d2"))

  /** Tier 3: MinHash k=48, 24 bands × 2 rows → candidates → exact verify.
    * Same output contract as qDedupNear; banding only prunes the candidate
    * space. Oracle-VERIFIED: the md5-derived base hash and the affine family
    * (shared constants via [[mixConsts]]) are exact integer arithmetic both
    * engines reproduce, so the DuckDB twin generates the identical candidate
    * set; equality to the exact tier is additionally asserted in tests. */
  /** 24-band × 2-row MinHash signature table (doc_id, band, key) over a
    * shingle table — the unit the LSH tier buckets on AND the record a
    * durable band index persists.
    *
    * 48 min-hashes as 48 aggregate columns over the posting table: ONE
    * codegen'd pass with map-side partial aggregation (a 48-seed row
    * explosion costs ~10x more shuffle volume for the same result). The
    * shingle is string-hashed ONCE; the 48 hash family members are affine
    * transforms (a_s·x + b_s) mod 2^31-1 of the base's 31-bit residue —
    * universal-hashing style, pure integer arithmetic that cannot overflow
    * under ANSI mode (products ≤ 2^62), near-free vs. 48 string hashes per
    * posting. The band key packs the band's signature pair into one
    * collision-free long (both sigs < M, so hi·M + lo < 2^62 — exact,
    * engine-shared, unlike a seeded hash combine). */
  private[graft] def bandSignatures(sh: DataFrame): DataFrame = {
    def mix(s: Int): org.apache.spark.sql.Column = {
      val (a, b) = mixConsts(s)
      expr(s"(hres * ${a}L + ${b}L) % ${M}L")
    }
    val minhashes = sh
      .withColumn("hres", expr(s"${md5Hash60("shingle")} % ${M}L"))
      .groupBy(col("doc_id"))
      .agg(min(mix(0)).as("mh0"),
        (1 until 48).map(s => min(mix(s)).as(s"mh$s")): _*)
    minhashes
      .select(col("doc_id"), explode(expr(
        (0 until 24).map(b => s"struct(${b} AS band, mh${2 * b} * ${M}L + mh${2 * b + 1} AS key)")
          .mkString("array(", ", ", ")"))).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    // one checkpointed shingle table feeds signature building AND the verify
    // step (intra-query reuse — see the note on jaccardPairs)
    val shCk = Materialize.shared(shingleTable(Tables.documents(spark, dir)))
    val sig = bandSignatures(shCk)
    val a = sig.select(col("band"), col("key"), col("doc_id").as("d1"))
    val b = sig.select(col("band"), col("key"), col("doc_id").as("d2"))
    val candidates = a.join(b, Seq("band", "key"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    // Exact-Jaccard verify restricted to the candidate pairs — the LSH
    // payoff: intersections are computed per candidate, never all-pairs.
    // Shares rarePostings/withJaccard/JaccardThreshold with the exact tier,
    // so the two can't drift. No broadcast hint on candidates: the pair set
    // scales with corpus near-dup density, so a forced driver-side collect
    // is the memory failure point at exactly the scale this tier serves —
    // AQE picks broadcast on its own when the set is actually small.
    val rarePost = rarePostings(shCk)
    val inter = candidates
      .join(rarePost.select(col("doc_id").as("d1"), col("shingle")), "d1")
      .join(rarePost.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    withJaccard(inter, shCk)
      .filter(col("jaccard_raw") >= JaccardThreshold)
      .select(col("d1"), col("d2"), round(col("jaccard_raw"), 6).as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Incremental dedup — the PRODUCTION ingest shape: a new batch (here
    * doc_id % 10 == 0, standing in for today's crawl shard) dedups against
    * the EXISTING corpus (the rest), emitting each new doc's best match
    * (max Jaccard, tie-broken by oldest existing id) at ≥ the shared
    * threshold. The candidate join is new-postings × corpus inverted
    * index — cost scales with |batch| × collision density, never
    * |corpus|²; the corpus side's posting/df/size tables are exactly what
    * a production pipeline keeps materialized between ingests (at 100 TB
    * the same split runs over the MinHash-banded tier: band keys for the
    * batch probe the stored band index — identical shape, pruned
    * candidates). Shares shingleTable/rarePostings/withJaccard with the
    * batch tiers, so admission can never disagree with the corpus-wide
    * dedup about what a near-dup is. */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Materialize.shared(shingleTable(Tables.documents(spark, dir)))
    val postings = rarePostings(sh)
    val newSide = postings.filter(col("doc_id") % 10 === 0)
      .select(col("shingle"), col("doc_id").as("d1"))
    val oldSide = postings.filter(col("doc_id") % 10 =!= 0)
      .select(col("shingle"), col("doc_id").as("d2"))
    val inter = newSide.join(oldSide, "shingle")
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    val w = Window.partitionBy(col("d1")).orderBy(col("jaccard_raw").desc, col("d2"))
    withJaccard(inter, sh)
      .filter(col("jaccard_raw") >= JaccardThreshold)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("d1").as("doc_id"), col("d2").as("dup_of"),
        round(col("jaccard_raw"), 6).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Incremental dedup through the MINHASH BAND INDEX — the 100 TB twin of
    * [[qDedupIncremental]]: the same batch-vs-corpus split (doc_id % 10),
    * but candidates come from band-bucket collisions against the stored
    * signature index instead of the full rare-shingle inverted index.
    * qDedupIncremental's candidate cost is |batch postings| × collision
    * density, which in dense corpora still touches every posting list the
    * batch shares a shingle with; the band index caps probe fanout at
    * 24 bands × bucket occupancy, the LSH guarantee — this is the ingest
    * path a production pipeline keeps hot, with the band index as the
    * durable form of the corpus side.
    * Output contract matches qDedupIncremental: each new doc's best match
    * (max Jaccard ≥ threshold, tie-broken by oldest id), exact-verified —
    * banding only prunes candidates, never admits below-threshold pairs. */
  def qMinhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shCk = Materialize.shared(shingleTable(Tables.documents(spark, dir)))
    val sig = Materialize.shared(bandSignatures(shCk))
    val candidates = sig.filter(col("doc_id") % 10 === 0)
      .select(col("band"), col("key"), col("doc_id").as("d1"))
      .join(sig.filter(col("doc_id") % 10 =!= 0)
        .select(col("band"), col("key"), col("doc_id").as("d2")), Seq("band", "key"))
      .select("d1", "d2").distinct()
    val rarePost = rarePostings(shCk)
    val inter = candidates
      .join(rarePost.select(col("doc_id").as("d1"), col("shingle")), "d1")
      .join(rarePost.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    val w = Window.partitionBy(col("d1")).orderBy(col("jaccard_raw").desc, col("d2"))
    withJaccard(inter, shCk)
      .filter(col("jaccard_raw") >= JaccardThreshold)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("d1").as("doc_id"), col("d2").as("dup_of"),
        round(col("jaccard_raw"), 6).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Tier 4: 60-bit SimHash fingerprints + Hamming ≤ 3 pairs. Token-hash
    * bit-vote computed with higher-order functions — no UDF, stays in
    * codegen. Oracle-VERIFIED: the md5-derived token hash (module doc) makes
    * every vote, fingerprint bit, band key and Hamming distance exact
    * integer arithmetic both engines reproduce. (60 bits rather than 64
    * because 15 md5 hex chars parse into a signed long without overflow;
    * collision behavior at Hamming ≤ 3 is unaffected.)
    *
    * Candidate generation is BANDED, never all-pairs: the 60-bit fingerprint
    * splits into 4 × 15-bit band keys, and any pair at Hamming ≤ 3 differs
    * in at most 3 bands, so by pigeonhole it agrees exactly on ≥ 1 band —
    * recall is exactly 1.0, no probabilistic loss. Cost: one shuffle on
    * (band, key) with bucket-local pairing, same shape as the MinHash tier,
    * safe at any corpus size (an all-pairs crossJoin is O(n²) and dies at
    * 100 TB). */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val fp = simhashFingerprints(spark, dir)
    // 4 × 15-bit bands; candidates pair up inside (band, key) buckets only.
    val bands = fp.select(col("doc_id"), col("fingerprint"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key", expr("shiftright(fingerprint, CAST(band * 15 AS INT)) & 32767L"))
    val a = bands.select(col("band"), col("key"),
      col("doc_id").as("d1"), col("fingerprint").as("f1"))
    val b = bands.select(col("band"), col("key"),
      col("doc_id").as("d2"), col("fingerprint").as("f2"))
    a.join(b, Seq("band", "key"))
      .filter(col("d1") < col("d2"))
      // Hamming filter BEFORE the distinct: hamming is a pure function of
      // the pair, and band-key coincidences overwhelmingly produce pairs
      // beyond the threshold — filtering per-row first means the distinct's
      // exchange shuffles only true near-dups, not every spurious collision
      .withColumn("hamming", expr("bit_count(f1 ^ f2)"))
      .filter(col("hamming") <= 3)
      // a surviving pair can still agree on up to 4 bands → distinct
      .select(col("d1"), col("d2"), col("hamming")).distinct()
      .orderBy(col("d1"), col("d2"))
  }

  /** (doc_id, fingerprint) SimHash table — shared by qDedupSimhash and the
    * banding-recall test (which brute-forces it to prove the banded
    * candidate set loses nothing). */
  private[graft] def simhashFingerprints(spark: SparkSession, dir: String): DataFrame = {
    // Token stream (with multiplicity) × 60 bit positions → per-bit vote
    // sum → fingerprint. Two codegen'd hash aggregations; the token hash is
    // computed once per (token, bit) row, never inside an array lambda.
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .withColumn("h", expr(md5Hash60("token")))
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(59))).as("i"))
      .withColumn("vote", expr("CAST((shiftright(h, CAST(i AS INT)) & 1L) * 2 - 1 AS BIGINT)"))
      .groupBy(col("doc_id"), col("i"))
      .agg(sum(col("vote")).as("s"))
      .withColumn("bit", when(col("s") > 0, expr("shiftleft(1L, CAST(i AS INT))")).otherwise(lit(0L)))
      .groupBy(col("doc_id"))
      .agg(sum(col("bit")).as("fingerprint"))
  }

  /** Transitive near-dup clustering: connected components over the near-dup
    * pair graph, survivors = min doc_id per component. Where keep-first
    * (qDedupSurvivors) drops only the larger id of each PAIR, clustering
    * follows chains — A~B, B~C groups {A,B,C} even when A!~C directly — the
    * standard corpus-build step before survivor selection.
    *
    * The components come from [[Graph.ccFromEdges]] (large-star/small-star,
    * O(log n) rounds), whose labels are the component minimum. */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame =
    Graph.ccFromEdges(qDedupNear(spark, dir).select(col("d1").as("u"), col("d2").as("v")))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        col("is_root").as("is_survivor"))
      .orderBy(col("doc_id"))

  /** The corpus after near-dedup with keep-first policy: every document
    * except those appearing as the larger id of a near-dup pair. (Full
    * transitive clustering via connected components is qDedupClusters;
    * keep-first is the standard single-pass policy and what a training-data
    * filter ships.) */
  def qDedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val losers = qDedupNear(spark, dir).select(col("d2").as("doc_id")).distinct()
    Tables.documents(spark, dir)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The end-to-end training-data filter: near-dedup survivors that also
    * clear quality bars (length band, stopword floor, repetition ceiling) —
    * the composed pipeline a corpus build actually ships. */
  def qCorpusFilter(spark: SparkSession, dir: String): DataFrame = {
    // Ratios computed RAW (no rounding): both engines derive the identical
    // rational value from integer counts, so threshold comparisons agree —
    // filtering on rounded values would reopen the midpoint hazard.
    // The quality predicate rides the SAME documents scan as the anti-join
    // base (one pass) instead of a separate quality scan joined afterwards;
    // dedup losers are still computed over the FULL corpus, so quality
    // filtering cannot resurrect a near-dup.
    val losers = qDedupNear(spark, dir).select(col("d2").as("doc_id")).distinct()
    Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")).between(20, 10000)
        && size(expr("filter(toks, t -> t IN ('the','a','of','and','to','in','is','it'))"))
          / size(col("toks")).cast("double") >= 0.01
        && size(array_distinct(col("toks"))) / size(col("toks")).cast("double") >= 0.2)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Edit-distance near-dup tier: record pairs within levenshtein ≤ 3 on
    * the name, blocked on (brand, size) so the candidate space is
    * per-block quadratic instead of corpus-quadratic — the classic
    * blocking-key design from record linkage. Levenshtein is the unit-cost
    * DP in both engines, so the oracle matches exactly. At 100 TB the
    * blocking key becomes the shuffle key and block sizes stay bounded by
    * the key's selectivity — never an all-pairs join (same scale argument
    * as the MinHash/SimHash band keys, with a string-distance verify
    * instead of a set-similarity one). The thresholded built-in
    * `levenshtein(a, b, 3)` returns -1 for a pair whose lengths differ by
    * more than 3 before it allocates the DP, so most blocked candidates
    * are rejected in O(1); `>= 0` keeps exactly the pairs `<= 3` would. */
  def qFuzzyPairs(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val a = p.select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
      col("p_brand").as("brand"), col("p_size").as("size"))
    val b = p.select(col("p_partkey").as("b_key"), col("p_name").as("b_name"),
      col("p_brand").as("brand"), col("p_size").as("size"))
    a.join(b, Seq("brand", "size"))
      .filter(col("a_key") < col("b_key"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name"), 3))
      .filter(col("dist") >= 0)
      .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"), col("dist"))
      .orderBy(col("a_key"), col("b_key"))
  }

  /** Jaro-Winkler fuzzy match under the same (brand, size) blocking key as
    * [[qFuzzyPairs]] — the record-linkage tier levenshtein cannot serve:
    * edit distance charges a transposition ("MARTHA"/"MARHTA") like two
    * substitutions, while Jaro-Winkler half-weights it and boosts shared
    * prefixes, which is what name/title matching needs. Scoring runs
    * through the native codegen'd [[graft.functions.JaroWinkler]]
    * expression (no UDF boundary); the blocking join bounds candidate
    * pairs exactly as in the levenshtein tier, so at 100 TB the quadratic
    * stays inside blocks. Scores micro-floored on both engines. */
  def qFuzzyJw(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val a = p.select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
      col("p_brand").as("brand"), col("p_size").as("size"))
    val b = p.select(col("p_partkey").as("b_key"), col("p_name").as("b_name"),
      col("p_brand").as("brand"), col("p_size").as("size"))
    a.join(b, Seq("brand", "size"))
      .filter(col("a_key") < col("b_key"))
      .withColumn("jw",
        floor(expr("jaro_winkler(a_name, b_name)") * 1000000 + 0.5) / 1000000)
      .filter(col("jw") >= 0.88)
      .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"), col("jw"))
      .orderBy(col("a_key"), col("b_key"))
  }

  /** Prefix-filtered set-similarity join (PPJoin-lite, Chaudhuri et al.
    * SSJoin / Xiao et al. PPJoin) — the PROVABLY-COMPLETE candidate pruner
    * for Jaccard joins, complementing the probabilistic tiers: MinHash
    * banding can miss a true pair; the prefix filter cannot. Order every
    * document's distinct tokens by global rarity (df asc, token asc); for
    * Jaccard ≥ t a matching pair must overlap in ≥ ceil(t·n) tokens per
    * side, so it MUST share a token within each side's first
    * n − ceil(t·n) + 1 — candidates come from joining only those prefixes
    * (the rarest tokens, so posting lists are short by construction: the
    * frequent-token lists the df-cap tiers must explicitly drop never
    * enter the index at all). Exact verify on candidates, all-integer:
    * 10·o ≥ 8·(n1+n2−o) decides t = 0.8 with zero FP.
    *
    * Set elements are word BIGRAMS, not unigrams: this synthetic corpus
    * draws every document from one small vocabulary, so unigram-set
    * Jaccard ≥ 0.6 matches most of all pairs (~71k at sf0.01 — quadratic
    * output, no discrimination), while bigram sets preserve local order
    * and isolate true near-dups (25 pairs at sf0.01).
    *
    * Scale shape — three PPJoin ingredients, each load-bearing at sf0.1
    * (the naive prefix join alone generated 7M candidates and spent 94 s
    * in the verify joins):
    *  1. prefix filter: candidates only from each side's rare-bigram
    *     prefix (length n − ⌈t·n⌉ + 1);
    *  2. POSITIONAL filter at candidate generation: a shared token at
    *     rarity positions (i, j) can support overlap at most
    *     1 + min(n1−i, n2−j), so occurrences with
    *     1 + min(n1−i, n2−j) < α = ⌈t/(1+t)·(n1+n2)⌉ are dropped BEFORE
    *     the pair-distinct shuffle — complete, because a true pair's
    *     first shared prefix token always satisfies the bound;
    *  3. verify by SHUFFLE-HASH dictionary joins + array_intersect: the
    *     per-doc bigram-set dictionary is corpus-sized (one row per
    *     document), so it must NEVER broadcast — at 100 TB that is a
    *     driver/executor OOM. Instead the candidate pairs take two
    *     hinted shuffle-hash equi-joins on the high-cardinality doc ids
    *     d1 then d2 (hash side = the dictionary partition, so the big
    *     candidate side is never sorted), and the exact intersection
    *     count runs post-join — still no join over |cand| × |tokens|
    *     rows, and no structure anywhere that grows a single task with
    *     the corpus.
    * The completeness lemma is asserted against brute-force all-pairs in
    * LlmOpsSpec; the oracle replays the identical construction. */
  def qSetsimJoin(spark: SparkSession, dir: String): DataFrame =
    ppjoinPairs(Tables.documents(spark, dir))
      .orderBy(col("d1"), col("d2"))

  /** Decade-scale PPJoin certificate: the SAME prefix/positional/verify
    * pipeline as [[qSetsimJoin]], over the deterministic mod-4 document
    * slice (doc_id ≡ 0 (mod 4) — ~1/16 of the candidate pairs in the
    * dense regime where the TRUE answer is quadratic), emitted as a 1-row
    * census of exact integer sums instead of the pair frame. The full
    * q_setsim_join oracle exhausts the single-process DuckDB's disk at
    * sf1.0 (zero value mismatches); the slice keeps the identical exact
    * join verifiable at the decade point, and the compared frame is one
    * row at any scale. Document frequencies (and hence prefixes) are
    * computed WITHIN the slice — self-consistent on both engines. */
  def qSetsimCert(spark: SparkSession, dir: String): DataFrame =
    ppjoinPairs(Tables.documents(spark, dir).filter(col("doc_id") % 4 === 0))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("o")), lit(0L)).as("sum_o"),
        coalesce(sum(col("n1")), lit(0L)).as("sum_n1"),
        coalesce(sum(col("n2")), lit(0L)).as("sum_n2"),
        coalesce(sum(floor(col("o").cast("double")
          / (col("n1") + col("n2") - col("o")) * 1000000 + 0.5).cast("long")),
          lit(0L)).as("sum_jaccard_ppm"),
        coalesce(sum((col("d1") * 31L + col("d2")) % 1000000007L), lit(0L))
          .as("chk"))

  /** Prefix extension depth for [[ppjoinPairs]]'s candidate filter: each
    * document indexes its K rarest bigrams beyond the minimum 1-prefix,
    * and a candidate pair must share ≥ K of them. Completeness lemma
    * (the k-prefix extension of Chaudhuri et al.'s filter; both lists are
    * sorted by the same global (df, token) order): for a qualifying pair,
    * the K globally-smallest SHARED tokens each lie inside BOTH K-extended
    * prefixes — if the m-th smallest shared token (m ≤ K) fell outside
    * doc i's prefix of length nᵢ − ⌈t·nᵢ⌉ + K, the shared tokens after it
    * would number ≤ ⌈t·nᵢ⌉ − K, giving o ≤ (m−1) + (⌈t·nᵢ⌉ − K) + 1 <
    * ⌈t·nᵢ⌉ ≤ o. So counting join rows per pair and keeping cnt ≥ K loses
    * no true pair (asserted against brute force in LlmOpsSpec, and the
    * unchanged 1-prefix DuckDB oracle is the independent completeness
    * gate). Chosen by measurement at sf0.1: the regenerated
    * corpus draws every document from one small vocabulary, so the
    * 1-prefix filter passed 667,400 candidates for 256 true pairs —
    * 2,600:1 false positives, 14.8 s total, nearly all in the verify
    * joins; K = 8 passes 438 candidates (1.7:1) for a ~60% larger prefix
    * join, the classic PPJoin trade of linear candidate-generation work
    * for quadratic-ish verify work. */
  private val PrefixExt = 8

  /** Shared core of [[qSetsimJoin]]/[[qSetsimCert]]: the exact
    * threshold-0.8 bigram-set similarity join over an arbitrary document
    * frame, as (d1, d2, o, n1, n2, jaccard). */
  private def ppjoinPairs(documents: DataFrame): DataFrame = {
    val toks = Materialize.shared(documents
      .withColumn("t", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), explode(array_distinct(expr(
        """CASE WHEN size(t) < 2 THEN array()
          |ELSE transform(sequence(1, size(t) - 1),
          |  i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))
          |END""".stripMargin))).as("token"))) // feeds sizes, dfreq, prefix, and verify
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfreq = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("token"))
    val K = PrefixExt
    // checkpointed: BOTH sides of the candidate self-join consume the
    // prefix table, and Catalyst has no cross-branch reuse — uncheckpointed
    // the (dfreq ⋈ sizes ⋈ window) derivation ran twice in the plan
    val prefix = Materialize.shared(toks.join(dfreq, "token").join(sizes, "doc_id")
      .withColumn("rn", row_number().over(w))
      // K-extended prefix: n − ceil(0.8·n) + K; ceil(8n/10) = (8n+9) div 10
      .filter(col("rn") <= col("n") - expr("(8 * n + 9) div 10") + lit(K))
      .select(col("doc_id"), col("token"), col("n"), col("rn")))
    // positional overlap upper bound per occurrence: a shared token at
    // rarity positions (i, j) admits o ≤ m − 1 + 1 + min(n1−i, n2−j) when
    // it is the pair's m-th smallest shared token, so rows needed by the
    // cnt ≥ K test (m ≤ K) all satisfy the K-RELAXED bound below, and the
    // pair's single SMALLEST shared token (m = 1) always satisfies the
    // STRICT bound — candidates must pass both, false pairs fail early.
    val alphaPair = expr("(4 * (pa.n + pb.n) + 8) div 9") // α = ceil(t/(1+t)·(n1+n2))
    val ub = lit(1) + least(col("pa.n") - col("pa.rn"), col("pb.n") - col("pb.rn"))
    val cand = prefix.as("pa").join(prefix.as("pb"), Seq("token"))
      .filter(col("pa.doc_id") < col("pb.doc_id") && ub >= alphaPair - lit(K - 1))
      .select(col("pa.doc_id").as("d1"), col("pb.doc_id").as("d2"),
        when(ub >= alphaPair, 1L).otherwise(0L).as("strict"),
        // α again, post-join: the cnt gate is min(K, α) — a qualifying
        // TINY pair can have o < K shared tokens in total (all of which
        // land in both prefixes), so demanding K outright would drop it
        expr("(4 * (pa.n + pb.n) + 8) div 9").as("alpha"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("cnt"), max(col("strict")).as("pos_ok"),
        max(col("alpha")).as("alpha"))
      .filter(col("cnt") >= least(lit(K.toLong), col("alpha")) && col("pos_ok") === 1L)
      .select(col("d1"), col("d2"))
    val dict = toks.groupBy(col("doc_id")).agg(collect_set(col("token")).as("set"))
    cand
      .join(dict.select(col("doc_id").as("d1"), col("set").as("s1"))
        .hint("shuffle_hash"), "d1")
      .join(dict.select(col("doc_id").as("d2"), col("set").as("s2"))
        .hint("shuffle_hash"), "d2")
      .withColumn("o", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .withColumn("n1", size(col("s1")).cast("long"))
      .withColumn("n2", size(col("s2")).cast("long"))
      .filter(col("o") * 10 >= (col("n1") + col("n2") - col("o")) * 8)
      .withColumn("jaccard", floor(
        col("o").cast("double") / (col("n1") + col("n2") - col("o"))
          * 1000000 + 0.5) / 1000000)
      .select(col("d1"), col("d2"), col("o"), col("n1"), col("n2"), col("jaccard"))
  }

  /** Paragraph-level exact dedup with in-place reassembly — the CCNet step
    * that dedups at SUB-document granularity (boilerplate headers, quoted
    * blocks, licence banners repeat across documents that are not
    * themselves duplicates). This corpus is sentence-free token text, so
    * "paragraph" = fixed 16-token segment (the [[TextAnalysis.chunkTokens]]
    * windowing); the rule is corpus-wide keep-first: a segment survives
    * only at its lexicographically smallest (doc_id, chunk_idx)
    * occurrence — which also removes intra-document repeats — and every
    * document reports its surviving text reassembled in segment order.
    *
    * Scale shape: explode to segments (bounded 1/16-per-token fanout),
    * ONE groupBy on segment text for the keeper table — min(struct) gets
    * map-side partial aggregation, so the boilerplate segment that appears
    * a billion times is combined per-partition, never funneled raw into
    * one reducer (a row_number-over-segment window would be exactly that
    * funnel) — then an equi-join back on segment text and a per-doc
    * reassembly agg on the high-cardinality doc_id. Cost class of
    * q_dedup_exact × the fanout; no quadratic step anywhere. */
  def qDedupParagraph(spark: SparkSession, dir: String): DataFrame = {
    val segs = TextAnalysis.chunkTokens(
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")),
      idCol = "doc_id", toksCol = "toks", chunkSize = 16)
      .select(col("doc_id"), col("chunk_idx"), col("chunk"))
    val keepers = segs.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
      .select(col("chunk"), col("k.doc_id").as("k_doc"), col("k.chunk_idx").as("k_idx"))
    val kept = segs.join(keepers, Seq("chunk"))
      .filter(col("doc_id") === col("k_doc") && col("chunk_idx") === col("k_idx"))
    val perDoc = segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
            x => x("chunk")), " ").as("text_kept"))
    perDoc.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
      .orderBy(col("doc_id"))
  }

  /** Tier 2b: asymmetric containment — directed doc-inside-doc pairs, the
    * web-scrape case symmetric Jaccard under-scores (boilerplate page
    * wrapping a short article: the union is large, the intersection is the
    * whole short doc). Containment = inter / min(n1, n2) over the SAME
    * rare-shingle candidate machinery as [[qDedupNear]] (inverted-index
    * join, stop-shingles dropped — never corpus-quadratic); the smaller
    * document is reported as the contained side (d1 on equal sizes, which
    * the d1 < d2 candidate order makes deterministic). Both the containment
    * ratio and the Jaccard are exact small-integer divisions, identical in
    * both engines. */
  def qDedupContainment(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir)
      .withColumn("cont_raw", col("inter") / least(col("n1"), col("n2")))
      .filter(col("cont_raw") >= ContainmentThreshold)
      .select(
        when(col("n1") <= col("n2"), col("d1")).otherwise(col("d2")).as("contained_id"),
        when(col("n1") <= col("n2"), col("d2")).otherwise(col("d1")).as("container_id"),
        round(col("cont_raw"), 6).as("containment"),
        round(col("jaccard_raw"), 6).as("jaccard"))
      .orderBy(col("contained_id"), col("container_id"))

  /** Repeated-SPAN coverage — the sub-document exact-substring dedup signal
    * (the Lee et al. "deduplicating training data" tier, re-expressed
    * relationally): for every document, the fraction of its token positions
    * covered by a 5-token span that occurs ≥ 2 times anywhere in the corpus
    * (including within the same document — boilerplate repeats both ways).
    * Document-level tiers (exact / MinHash / SimHash) can't see a copied
    * paragraph inside an otherwise-unique page; this one reports exactly
    * that, and a corpus build drops or trims documents above a coverage
    * threshold.
    *
    * Mechanics: positional 5-gram postings → occurrence counts (one
    * map-side-combinable aggregation; the duplicated-shingle set is
    * typically a tiny fraction) → equi-join hits back → per-document
    * gaps-and-islands interval merge (overlapping [p, p+5) spans fuse via
    * the running-max-end marker — the [[graft.ops.EventAnalytics]]
    * sessionize recurrence applied to positions) → coverage ratio.
    *
    * Scale shape: the postings explode is map-only; the occurrence count
    * and the hit join shuffle on the high-cardinality shingle string; the
    * island windows partition by doc_id and are bounded by DOCUMENT length
    * (never corpus size). No pairwise doc×doc work anywhere — unlike the
    * pair tiers, this one stays linear in corpus token count, which is why
    * the substring pass is the one production dedup runs FIRST at 100 TB.
    * Determinism: counts and interval arithmetic are exact integers; the
    * one division is rounded at output. */
  def qDedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Materialize.shared(Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n_tokens"))
      .filter(col("n_tokens") >= 5)) // feeds postings AND the final left join
    val pos = toks.select(col("doc_id"), col("n_tokens"),
        posexplode(expr(
          "transform(sequence(0, n_tokens - 5), i -> concat_ws(' ', slice(toks, i + 1, 5)))")))
      .toDF("doc_id", "n_tokens", "pos", "sh")
    val dup = pos.groupBy(col("sh")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("sh"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val cov = pos.join(dup, "sh")
      .withColumn("prev_end", max(col("pos") + 5).over(wPrev))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(wOrd))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) + 5 - min(col("pos"))).as("len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("len")).as("covered"))
    toks.select(col("doc_id"), col("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered"), lit(0L)).cast("double")
          / col("n_tokens").cast("double"), 6).as("dup_coverage"))
      .orderBy(col("doc_id"))
  }

  /** The composed dedup funnel — the three tiers a production corpus build
    * chains, run in sequence with per-stage survivor accounting: exact
    * (identical normalized text, keep min doc_id) → near (3-shingle
    * Jaccard ≥ 0.6 over the EXACT-survivors — recomputing postings on
    * survivors matters: dropping dup docs changes document frequencies and
    * therefore the stop-shingle set) → semantic (sign-band LSH + exact
    * cosine ≥ 0.4 pairs over the embedding table, restricted to surviving
    * doc ids — band keys are per-vector functions, so restriction after
    * the fact IS computation on survivors). Each stage drops the
    * higher-id member of each offending pair (keep-first, a total order).
    * The output is the funnel card every dedup run ships: stage, docs in,
    * dropped, docs out.
    *
    * Scale shape: the union of its tiers' shapes — one text-hash
    * aggregation, one bucketed posting join (never all-pairs), one banded
    * embedding join, three anti-joins on doc_id, and four one-row count
    * aggregates stacked into the 3-row card. Nothing here exceeds the
    * worst tier's cost, and the funnel runs the cheap stages first so each
    * tier sees only the previous tier's survivors — exactly why production
    * pipelines order them this way. */
  def qDedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Materialize.shared(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
    val (keep1, keep2, keep3) = funnelKeeps(spark, dir, docs)
    docs.agg(count(lit(1)).as("n0"))
      .crossJoin(keep1.agg(count(lit(1)).as("n1")))
      .crossJoin(keep2.agg(count(lit(1)).as("n2")))
      .crossJoin(keep3.agg(count(lit(1)).as("n3")))
      .selectExpr(
        """stack(3,
          |  '1_exact',    n0, n0 - n1, n1,
          |  '2_near',     n1, n1 - n2, n2,
          |  '3_semantic', n2, n2 - n3, n3) AS (stage, docs_in, dropped, docs_out)"""
          .stripMargin)
      .orderBy(col("stage"))
  }

  /** Decade-scale funnel certificate: the SAME exact→near→semantic funnel
    * as [[qDedupPipeline]], over the deterministic mod-4 document slice
    * (~1/16 of the near-dup candidate volume — the stage whose postings
    * self-join exhausts the single-process DuckDB's disk at sf1.0), with
    * an exact surviving-doc_id sum per stage added to the census. Keeps
    * the identical three-stage composition verifiable at the decade point
    * inside the oracle's budget; the compared frame is 3 rows at any
    * scale. */
  def qDedupPipelineCert(spark: SparkSession, dir: String): DataFrame = {
    val docs = Materialize.shared(Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 4 === 0))
    val (keep1, keep2, keep3) = funnelKeeps(spark, dir, docs)
    def census(k: DataFrame, n: String, c: String): DataFrame =
      k.agg(count(lit(1)).as(n), coalesce(sum(col("doc_id")), lit(0L)).as(c))
    docs.agg(count(lit(1)).as("n0"))
      .crossJoin(census(keep1, "n1", "c1"))
      .crossJoin(census(keep2, "n2", "c2"))
      .crossJoin(census(keep3, "n3", "c3"))
      .selectExpr(
        """stack(3,
          |  '1_exact',    n0, n0 - n1, n1, c1,
          |  '2_near',     n1, n1 - n2, n2, c2,
          |  '3_semantic', n2, n2 - n3, n3, c3)
          |  AS (stage, docs_in, dropped, docs_out, chk_out)""".stripMargin)
      .orderBy(col("stage"))
  }

  /** Shared funnel stages of [[qDedupPipeline]]/[[qDedupPipelineCert]]:
    * keep1 (exact keep-first), keep2 (keep1 minus banded near-dup losers),
    * keep3 (keep2 minus embedding-near-dup losers — the embedding pair
    * set is corpus-wide; restricting keep2 restricts the join output). */
  private def funnelKeeps(spark: SparkSession, dir: String,
      docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val keep1 = Materialize.shared(docs.groupBy(lower(trim(col("text"))).as("norm"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id")))
    val s1 = docs.join(keep1, "doc_id")
    val losers2 = nearDupPairsRaw(s1)
      .filter(col("jaccard_raw") >= JaccardThreshold)
      .select(col("d2").as("doc_id")).distinct()
    val keep2 = Materialize.shared(keep1.join(losers2, Seq("doc_id"), "left_anti"))
    val losers3 = Similarity.qDedupEmbedding(spark, dir)
      .join(keep2.select(col("doc_id").as("v1")), Seq("v1"))
      .join(keep2.select(col("doc_id").as("v2")), Seq("v2"))
      .select(col("v2").as("doc_id")).distinct()
    val keep3 = keep2.join(losers3, Seq("doc_id"), "left_anti")
    (keep1, keep2, keep3)
  }

  /** Blocked entity-resolution linkage with a precision/recall census — the
    * record-linkage QA card (Fellegi & Sunter 1969 framing; blocking per
    * Christen's survey). A deterministic "dirty" twin of every part is
    * synthesized by deleting ONE character of `p_name` at an md5-derived
    * position (both engines share the md5→60-bit primitive, so the dirty
    * corpus is bit-identical); ground truth is therefore known exactly.
    * Linkage runs the standard two-phase shape:
    *
    *  1. BLOCK on (p_brand, p_size, first char of the name) — the
    *     perturbation never touches brand/size, but deleting the name's
    *     first character changes the third key, so blocking misses are
    *     REAL and the recall number is honest (≈0.88, not 1.0);
    *  2. MATCH within blocks: Jaro-Winkler in ppm integers (the native
    *     codegen'd [[graft.functions.JaroWinkler]]), threshold 0.90, then
    *     TOP-1 per dirty record (max jw, tie → smallest clean key) — one
    *     predicted link per entity, the ER idiom, which also bounds the
    *     output by |dirty| regardless of how many same-name clones a block
    *     holds.
    *
    * The 1-row census carries n_entities / n_predicted / tp / fp / fn and
    * integer precision/recall ppm. Scale shape: the only join is the
    * blocked candidate join (never all-pairs; block count is
    * |brand|×|size|×|alphabet| and the per-block quadratic is the standard,
    * tunable blocking trade-off — same shape the repo's fuzzy tiers
    * document), the top-1 is a WindowGroupLimit on the candidate set keyed
    * by dirty_id, and the census is one map-side-combinable rollup. */
  def qErLinkage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(spark, dir)
    val dirty = Materialize.shared(p.select(
      col("p_partkey").as("true_key"),
      (col("p_partkey") + 1000000L).as("dirty_id"),
      col("p_brand").as("brand"), col("p_size").as("size"),
      (conv(substring(md5(concat(col("p_name"), lit(":"),
        col("p_partkey").cast("string"))), 1, 15), 16, 10).cast("long")
        % length(col("p_name")) + 1).as("pos"),
      col("p_name"))
      .withColumn("name",
        when(col("pos") === 1, expr("substring(p_name, 2)"))
          .otherwise(concat(
            expr("substring(p_name, 1, cast(pos as int) - 1)"),
            expr("substring(p_name, cast(pos as int) + 1)"))))
      .drop("p_name", "pos")) // feeds the candidate join AND the census denominators
    val clean = p.select(col("p_partkey").as("matched_key"),
      col("p_brand").as("brand"), col("p_size").as("size"),
      col("p_name").as("c_name"))
    val cand = dirty.join(clean, Seq("brand", "size"))
      .filter(substring(col("name"), 1, 1) === substring(col("c_name"), 1, 1))
      .withColumn("jw_ppm",
        floor(expr("jaro_winkler(name, c_name)") * 1000000 + 0.5).cast("long"))
      .filter(col("jw_ppm") >= 900000L)
      .select(col("dirty_id"), col("true_key"), col("matched_key"), col("jw_ppm"))
    val w = Window.partitionBy(col("dirty_id"))
      .orderBy(col("jw_ppm").desc, col("matched_key").asc)
    val pred = cand.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
    pred.agg(
      count(lit(1)).as("n_predicted"),
      sum(when(col("matched_key") === col("true_key"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("matched_key") =!= col("true_key"), 1L).otherwise(0L)).as("fp"))
      .crossJoin(broadcast(dirty.agg(count(lit(1)).as("n_entities"))))
      .select(col("n_entities"), col("n_predicted"), col("tp"), col("fp"),
        (col("n_entities") - col("tp")).as("fn"),
        expr("div(1000000 * tp, n_predicted)").as("precision_ppm"),
        expr("div(1000000 * tp, n_entities)").as("recall_ppm"))
  }

  /** Golden-record survivorship — the MERGE half of master-data management
    * (the match half is [[qErLinkage]]): three synthesized source feeds of
    * the customer entity disagree in the standard ways (the CRM drops
    * account balances, billing upper-cases names and carries no segment,
    * the legacy feed is stale and gappy), and the golden record takes each
    * ATTRIBUTE independently from the highest-priority feed where it is
    * non-null. The priority-wins rule is expressed as a plain MIN over a
    * priority-prefixed encoding (digit-prefixed strings; offset-shifted
    * integers for money) — an abelian aggregate both engines order
    * identically, needing no window and no per-entity sort. Provenance
    * (which feed won each attribute, how many feeds carried the entity)
    * rides along.
    *
    * Scale shape: the feed union is map-only; ONE hash aggregation on the
    * entity key builds every golden attribute and the provenance in the
    * same pass — at 100 TB this is a single shuffle on custkey, partial
    * aggregation applying to every MIN. */
  def qGoldenRecord(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .withColumn("cents", expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"))
    val crm = c.select(col("c_custkey").as("k"), lit(1L).as("prio"),
      when(expr("c_custkey % 7 = 0"), lit(null).cast("string"))
        .otherwise(col("c_name")).as("name"),
      when(expr("c_custkey % 3 = 0"), lit(null).cast("long"))
        .otherwise(col("cents")).as("bal"),
      when(expr("c_custkey % 11 = 0"), lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("seg"))
    val billing = c.select(col("c_custkey").as("k"), lit(2L).as("prio"),
      upper(col("c_name")).as("name"), col("cents").as("bal"),
      lit(null).cast("string").as("seg"))
    val legacy = c.filter(expr("c_custkey % 5 <> 0"))
      .select(col("c_custkey").as("k"), lit(3L).as("prio"),
        when(expr("c_custkey % 2 = 0"), lit(null).cast("string"))
          .otherwise(col("c_name")).as("name"),
        (col("cents") - 10000L).as("bal"), lit("UNKNOWN").as("seg"))
    // priority-prefixed encodings: MIN picks the highest-priority non-null
    def strEnc(a: String) = expr(s"min(CASE WHEN $a IS NOT NULL " +
      s"THEN concat(CAST(prio AS STRING), ':', $a) END)")
    crm.unionByName(billing).unionByName(legacy)
      .groupBy(col("k"))
      .agg(strEnc("name").as("name_enc"),
        min(when(col("bal").isNotNull,
          col("prio") * 1000000000000L + (col("bal") + 1000000000L))).as("bal_enc"),
        strEnc("seg").as("seg_enc"),
        count(lit(1)).as("n_feeds"))
      .select(col("k").as("c_custkey"),
        expr("substring(name_enc, 3)").as("golden_name"),
        expr("bal_enc % 1000000000000L - 1000000000L").as("golden_bal_cents"),
        expr("substring(seg_enc, 3)").as("golden_segment"),
        expr("CAST(substring(name_enc, 1, 1) AS BIGINT)").as("name_prio"),
        expr("div(bal_enc, 1000000000000L)").as("bal_prio"),
        expr("CAST(substring(seg_enc, 1, 1) AS BIGINT)").as("seg_prio"),
        col("n_feeds"))
  }

  /** Cross-source duplication matrix — the "which crawls duplicate which"
    * card a corpus audit ships before choosing mixture weights: for every
    * unordered source pair, the number of duplicated-PARAGRAPH pairs
    * between them (16-token segments, [[qDedupParagraph]]'s grain — whole
    * documents never repeat in this corpus, boilerplate paragraphs do,
    * which mirrors real crawls) and the number of duplicate clusters
    * contributing. The per-(hash, source) rollup is the only corpus-sized
    * pass; pair counts then come from CLUSTER ARITHMETIC, not pair
    * enumeration — within a cluster, cnt_a·cnt_b pairs across sources and
    * C(cnt,2) within one — so a 10k-copy boilerplate cluster costs one row
    * per source it touches, never 10k² join rows. The self-join runs on
    * the (hash, source) table, bounded per hash by |sources|, and the
    * final rollup is ≤ |sources|² rows. */
  def qDupCrossSource(spark: SparkSession, dir: String): DataFrame = {
    val segs = TextAnalysis.chunkTokens(
      Tables.documents(spark, dir)
        .select(col("source"), TextAnalysis.tokens(col("text")).as("toks")),
      idCol = "source", toksCol = "toks", chunkSize = 16)
    val perSrc = Materialize.shared(segs
      .groupBy(md5(col("chunk")).as("h"), col("source"))
      .agg(count(lit(1)).as("cnt"))) // both sides of the within-hash join
    val a = perSrc.select(col("h"), col("source").as("source_a"),
      col("cnt").as("cnt_a"))
    val b = perSrc.select(col("h"), col("source").as("source_b"),
      col("cnt").as("cnt_b"))
    a.join(b, Seq("h"))
      .filter(col("source_a") <= col("source_b"))
      .withColumn("pairs",
        when(col("source_a") === col("source_b"),
          expr("div(cnt_a * (cnt_a - 1), 2)"))
          .otherwise(col("cnt_a") * col("cnt_b")))
      .filter(col("pairs") > 0)
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("pairs")).as("n_dup_pairs"),
        count(lit(1)).as("n_clusters"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Source-pair overlap from MERGED MINWISE SKETCHES, exact-verified —
    * the union trick that makes k-min sketches more than per-set
    * summaries: each source keeps k=32 per-hash minima over its shingle
    * multiset (a map-side-combinable MIN rollup — the same mergeability
    * as [[Profiling.qHllSketch]]'s MAX registers), and for any pair the
    * match fraction of the 32 minima is an unbiased Jaccard estimate —
    * computed WITHOUT touching the corpus again. Everything — minima,
    * set sizes, AND the exact tier — derives from ONE corpus-sized
    * exchange: `groupBy(shingle).agg(array_sort(collect_set(source)))`;
    * per-source minima and sizes come from an
    * exploded rollup of that vocabulary-sized table, and the exact
    * pairwise intersection census from PAIR ARITHMETIC over each
    * shingle's sorted source set (|srcs| ≤ |sources|, a small constant).
    * The exact tier exists because this is a certificate; at 100 TB only
    * the sketch tier runs, and "which sources duplicate each other"
    * costs |sources|·k cells instead of any cross-source join. This is
    * the source-level SKETCH tier above [[qDupCrossSource]]'s exact
    * cluster arithmetic.
    *
    * All comparisons are on md5 hex strings and exact integers; estimate
    * and truth are both emitted in ppm with the absolute gap. */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val K = 32
    val sh = Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("source"), explode(expr(
        """CASE WHEN size(toks) < 3 THEN array()
          |ELSE transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))
          |END""".stripMargin)).as("shingle"))
    // ONE corpus-sized exchange for the whole key (a chain of separate
    // steps would pay five — distinct membership, distinct vocabulary,
    // a membership⋈hashes join, the per-source rollup, and an exact
    // membership self-join): group the raw shingle stream by shingle with
    // a collect_set of sources — map-side partials dedup BEFORE the
    // shuffle, and the per-shingle set is bounded by |sources|, a small
    // constant, so no buffer ever scales with the corpus. Everything else
    // derives from this vocabulary-sized table: per-source minima and
    // sizes from one exploded-membership rollup (the 32-way md5 fan-out
    // stays vocabulary-bounded — computed below the explode, once per
    // DISTINCT shingle), and the exact pairwise intersection census from
    // PAIR ARITHMETIC over each shingle's sorted source set (the
    // qDupCrossSource cluster-arithmetic discipline) instead of the
    // former corpus-sized equi-self-join.
    // feeds the membership rollup AND the census
    val byShingle = Materialize.shared(sh.groupBy(col("shingle"))
      .agg(array_sort(collect_set(col("source"))).as("srcs")))
    val hashCols = (0 until K).map(i =>
      md5(concat(lit(s"$i:"), col("shingle"))).as(s"h$i"))
    val member = byShingle.select(col("srcs") +: hashCols: _*)
      .select(explode(col("srcs")).as("source") +:
        (0 until K).map(i => col(s"h$i")): _*)
    val minCols = (0 until K).map(i => min(col(s"h$i")).as(s"h$i"))
    // sketch minima AND distinct-shingle sizes in one rollup, checkpointed:
    // |sources| rows feeding four consumers below
    val perSrc = Materialize.shared(member.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), minCols: _*))
    val matchExpr = (0 until K)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
    val est = perSrc.as("a").join(broadcast(perSrc.as("b")),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        expr(s"CAST($matchExpr AS BIGINT)").as("n_match"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
    val inter = byShingle
      .select(explode(expr(
        """CASE WHEN size(srcs) < 2 THEN array()
          |ELSE flatten(transform(sequence(1, size(srcs) - 1),
          |  i -> transform(slice(srcs, i + 1, size(srcs) - i),
          |    x -> struct(element_at(srcs, i) AS source_a, x AS source_b))))
          |END""".stripMargin)).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    est
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .select(col("source_a"), col("source_b"), col("n_match"),
        expr(s"div(1000000 * n_match, $K)").as("est_ppm"),
        col("n_a"), col("n_b"), col("inter"), col("uni"),
        expr("div(1000000 * inter, uni)").as("jac_ppm"),
        expr(s"abs(div(1000000 * n_match, $K) - div(1000000 * inter, uni))")
          .as("err_ppm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Train/test split-leakage audit — the eval-integrity check a training
    * run does AFTER the split, not against an external benchmark
    * (`q_decontaminate`'s job) but against ITSELF: a deterministic keyed
    * hash sends ~10% of documents to the test split, MinHash band keys are
    * joined STRICTLY across the split boundary (test probes × train
    * postings — never test×test or train×train, so candidate volume is
    * split-product-bounded, not corpus²), candidates are exact-Jaccard
    * verified at the shared ≥ 0.6 threshold, and the output is the
    * per-language leak census: test docs, leaked test docs (≥1 near-dup in
    * train), leak ppm.
    *
    * Scale shape: identical to `q_dedup_minhash`'s banded tier — the
    * band-key shuffle is the only corpus-sized movement, and the split
    * predicate prunes candidates BEFORE the verify join. At 100 TB this is
    * the decontamination pass run per split refresh. */
  def qTrainTestLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Materialize.shared(Tables.documents(spark, dir)
      .withColumn("is_test", expr(
        "CAST(conv(substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 15), " +
          "16, 10) AS BIGINT) % 10 = 0"))) // feeds the shingles AND the lang census
    val shCk = Materialize.shared(shingleTable(docs))
    val sig = bandSignatures(shCk)
      .join(docs.select(col("doc_id"), col("is_test")), "doc_id")
    val te = sig.filter(col("is_test"))
      .select(col("band"), col("key"), col("doc_id").as("d1"))
    val tr = sig.filter(!col("is_test"))
      .select(col("band"), col("key"), col("doc_id").as("d2"))
    val candidates = te.join(tr, Seq("band", "key")).select("d1", "d2").distinct()
    val rarePost = rarePostings(shCk)
    val inter = candidates
      .join(rarePost.select(col("doc_id").as("d1"), col("shingle")), "d1")
      .join(rarePost.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    val leaked = withJaccard(inter, shCk)
      .filter(col("jaccard_raw") >= JaccardThreshold)
      .select(col("d1")).distinct()
    docs.filter(col("is_test"))
      .join(leaked, col("doc_id") === col("d1"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("d1").isNotNull, 1L).otherwise(0L)).as("n_leaked"))
      .withColumn("leak_ppm", expr("div(1000000 * n_leaked, n_test)"))
      .orderBy(col("lang"))
  }

  /** Shingle/posting CTE prefix shared by the near-dup oracle chain AND the
    * MinHash oracle (which generates candidates its own way but verifies
    * over the same rare postings). Ends with `postings` + `sizes`. */
  private def shingleCtesFrom(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t FROM $src),
       |shingles AS MATERIALIZED (
       |  SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
       |    RANGE(1, GREATEST(LEN(t) - 2, 0) + 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
       |  FROM toks),
       |rare AS (
       |  SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) <= $StopShingleDf),
       |postings AS MATERIALIZED (
       |  SELECT s.doc_id, s.shingle FROM shingles s JOIN rare USING (shingle)),
       |sizes AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id)""".stripMargin

  private val shingleCtes: String = shingleCtesFrom("documents")

  /** The near-dup CTE chain shared by every oracle that consumes near-dup
    * pairs — ONE copy, interpolating the SAME Scala constants the Spark
    * tiers use, so the gates cannot drift from the engine or each other.
    * Ends with `near_pairs(d1, d2, jaccard_raw)`, already
    * threshold-filtered. */
  private def nearDupCtesFrom(src: String): String =
    s"""${shingleCtesFrom(src)},
       |cand AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
       |  FROM postings a JOIN postings b USING (shingle)
       |  WHERE a.doc_id < b.doc_id GROUP BY d1, d2),
       |near_pairs AS MATERIALIZED (
       |  SELECT d1, d2,
       |         CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) AS jaccard_raw
       |  FROM cand
       |  JOIN sizes s1 ON s1.doc_id = d1
       |  JOIN sizes s2 ON s2.doc_id = d2
       |  WHERE CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) >= $JaccardThreshold)""".stripMargin

  private val nearDupCtes: String = nearDupCtesFrom("documents")

  /** Shared MinHash signature/banding CTE block (hres → 48-hash sig →
    * 24 two-hash bands), interpolating the SAME affine constants the Spark
    * builder uses (mixConsts). One source of truth for the hash family,
    * band count, and band-key packing across EVERY oracle that bands
    * minhashes (q_dedup_minhash, q_train_test_leakage) — a change to any
    * of the three propagates to all of them instead of silently
    * desynchronizing. Expects a `shingles(doc_id, shingle)` CTE in scope. */
  private val minhashSigBandCtes: String = {
    val minExprs = (0 until 48).map { s =>
      val (a, b) = mixConsts(s)
      s"MIN((h * $a + $b) % $M)"
    }.mkString(",\n        ")
    s"""hres AS MATERIALIZED (
      |  SELECT doc_id, CAST('0x' || SUBSTR(MD5(shingle), 1, 15) AS BIGINT) % $M AS h
      |  FROM shingles),
      |sig AS MATERIALIZED (
      |  SELECT doc_id, list_value(
      |        $minExprs) AS mh
      |  FROM hres GROUP BY doc_id),
      |bands AS MATERIALIZED (
      |  SELECT doc_id,
      |         band,
      |         mh[CAST(2 * band + 1 AS INTEGER)] * $M + mh[CAST(2 * band + 2 AS INTEGER)] AS key
      |  FROM sig, range(24) t(band))""".stripMargin
  }

  /** Shared PPJoin CTE chain (bigram toks → sizes/dfreq → rarity-ranked
    * prefix → positional-filtered candidates → exact-verified `scored`)
    * over an arbitrary base-document CTE — the SQL twin of
    * [[ppjoinPairs]], interpolated by both the q_setsim_join and
    * q_setsim_cert oracles. */
  private def ppjoinCtes(base: String): String =
    s"""base AS (
       |  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t FROM $base),
       |toks AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, token FROM (
       |    SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t)),
       |      i -> t[i] || ' ' || t[i + 1])) AS token
       |    FROM base)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
       |dfreq AS (SELECT token, COUNT(*) AS df FROM toks GROUP BY token),
       |ranked AS (
       |  SELECT t.doc_id, t.token, s.n,
       |         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.token) AS rn
       |  FROM toks t JOIN dfreq f USING (token) JOIN sizes s USING (doc_id)),
       |pref AS MATERIALIZED (
       |  SELECT doc_id, token, n, rn FROM ranked
       |  WHERE rn <= n - ((8 * n + 9) // 10) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM pref a JOIN pref b USING (token)
       |  WHERE a.doc_id < b.doc_id
       |    AND 1 + LEAST(a.n - a.rn, b.n - b.rn) >= (4 * (a.n + b.n) + 8) // 9),
       |dict AS MATERIALIZED (
       |  SELECT doc_id, LIST(token) AS s FROM toks GROUP BY doc_id),
       |scored AS MATERIALIZED (
       |  SELECT c.d1, c.d2,
       |         CAST(LEN(LIST_INTERSECT(da.s, db.s)) AS BIGINT) AS o,
       |         CAST(LEN(da.s) AS BIGINT) AS n1, CAST(LEN(db.s) AS BIGINT) AS n2
       |  FROM cand c
       |  JOIN dict da ON da.doc_id = c.d1
       |  JOIN dict db ON db.doc_id = c.d2)""".stripMargin

  /** Shared funnel CTE chain (s1docs → near_pairs → keep2 → epairs →
    * keep3) over an arbitrary base-document CTE — the SQL twin of
    * [[funnelKeeps]], interpolated by both the q_dedup_pipeline and
    * q_dedup_pipeline_cert oracles. */
  private def funnelCtes(base: String): String =
    s"""s1docs AS MATERIALIZED (
       |  SELECT d.doc_id, d.text FROM $base d
       |  JOIN (SELECT MIN(doc_id) AS doc_id FROM $base
       |        GROUP BY LOWER(TRIM(text))) k USING (doc_id)),
       |${nearDupCtesFrom("s1docs")},
       |keep2 AS MATERIALIZED (
       |  SELECT doc_id FROM s1docs
       |  WHERE doc_id NOT IN (SELECT d2 FROM near_pairs)),
       |${Similarity.embedPairCtes},
       |losers3 AS (
       |  SELECT DISTINCT p.v2 FROM epairs p
       |  JOIN keep2 k1 ON k1.doc_id = p.v1
       |  JOIN keep2 k2 ON k2.doc_id = p.v2),
       |keep3 AS (
       |  SELECT doc_id FROM keep2
       |  WHERE doc_id NOT IN (SELECT v2 FROM losers3))""".stripMargin

  /** q_source_overlap oracle: same 32 per-hash minima, same membership
    * equi-join exact side. */
  private def sourceOverlapSql: String = {
    val K = 32
    val minSel = (0 until K)
      .map(i => s"MIN(MD5('$i:' || shingle)) AS h$i").mkString(", ")
    val matchSum = (0 until K)
      .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT source, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t FROM documents),
       |sh AS (
       |  SELECT source, UNNEST(LIST_TRANSFORM(
       |    RANGE(1, GREATEST(LEN(t) - 2, 0) + 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
       |  FROM toks),
       |mins AS (SELECT source, $minSel FROM sh GROUP BY source),
       |est AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |         CAST($matchSum AS BIGINT) AS n_match
       |  FROM mins a JOIN mins b ON a.source < b.source),
       |ss AS (SELECT DISTINCT source, shingle FROM sh),
       |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ss GROUP BY source),
       |i AS (
       |  SELECT x.source AS source_a, y.source AS source_b,
       |         CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM ss x JOIN ss y ON x.shingle = y.shingle AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT e.source_a, e.source_b, e.n_match,
       |       (1000000 * e.n_match) // $K AS est_ppm,
       |       na.n AS n_a, nb.n AS n_b,
       |       COALESCE(i.inter, 0) AS inter,
       |       na.n + nb.n - COALESCE(i.inter, 0) AS uni,
       |       (1000000 * COALESCE(i.inter, 0))
       |         // (na.n + nb.n - COALESCE(i.inter, 0)) AS jac_ppm,
       |       ABS((1000000 * e.n_match) // $K
       |         - (1000000 * COALESCE(i.inter, 0))
       |           // (na.n + nb.n - COALESCE(i.inter, 0))) AS err_ppm
       |FROM est e
       |LEFT JOIN i ON i.source_a = e.source_a AND i.source_b = e.source_b
       |JOIN sizes na ON na.source = e.source_a
       |JOIN sizes nb ON nb.source = e.source_b
       |ORDER BY e.source_a, e.source_b""".stripMargin
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_source_overlap" -> (qSourceOverlap _, sourceOverlapSql),
    "q_golden_record" -> (qGoldenRecord _,
      """WITH c AS (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        |  FROM customer),
        |feeds AS (
        |  SELECT c_custkey AS k, CAST(1 AS BIGINT) AS prio,
        |         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS name,
        |         CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE cents END AS bal,
        |         CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_mktsegment END AS seg
        |  FROM c
        |  UNION ALL
        |  SELECT c_custkey, 2, UPPER(c_name), cents, NULL FROM c
        |  UNION ALL
        |  SELECT c_custkey, 3,
        |         CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_name END,
        |         cents - 10000, 'UNKNOWN'
        |  FROM c WHERE c_custkey % 5 <> 0),
        |g AS (
        |  SELECT k,
        |         MIN(CASE WHEN name IS NOT NULL
        |                  THEN CAST(prio AS VARCHAR) || ':' || name END) AS name_enc,
        |         MIN(CASE WHEN bal IS NOT NULL
        |                  THEN prio * 1000000000000 + (bal + 1000000000) END) AS bal_enc,
        |         MIN(CASE WHEN seg IS NOT NULL
        |                  THEN CAST(prio AS VARCHAR) || ':' || seg END) AS seg_enc,
        |         CAST(COUNT(*) AS BIGINT) AS n_feeds
        |  FROM feeds GROUP BY k)
        |SELECT k AS c_custkey,
        |       SUBSTR(name_enc, 3) AS golden_name,
        |       CAST(bal_enc % 1000000000000 - 1000000000 AS BIGINT) AS golden_bal_cents,
        |       SUBSTR(seg_enc, 3) AS golden_segment,
        |       CAST(SUBSTR(name_enc, 1, 1) AS BIGINT) AS name_prio,
        |       CAST(bal_enc // 1000000000000 AS BIGINT) AS bal_prio,
        |       CAST(SUBSTR(seg_enc, 1, 1) AS BIGINT) AS seg_prio,
        |       n_feeds
        |FROM g ORDER BY c_custkey""".stripMargin),
    "q_train_test_leakage" -> (qTrainTestLeakage _, {
      // the sig/bands block is the SHARED minhashSigBandCtes — identical
      // hash family, band count, and key packing as q_dedup_minhash
      s"""WITH $shingleCtes,
        |$minhashSigBandCtes,
        |split AS (
        |  SELECT doc_id, lang,
        |         (CAST('0x' || SUBSTR(MD5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |               AS BIGINT) % 10 = 0) AS is_test
        |  FROM documents),
        |cand AS (
        |  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
        |  FROM bands b1 JOIN bands b2
        |    ON b1.band = b2.band AND b1.key = b2.key
        |  JOIN split s1 ON s1.doc_id = b1.doc_id
        |  JOIN split s2 ON s2.doc_id = b2.doc_id
        |  WHERE s1.is_test AND NOT s2.is_test),
        |inter AS (
        |  SELECT d1, d2, COUNT(*) AS inter
        |  FROM cand
        |  JOIN postings p1 ON p1.doc_id = d1
        |  JOIN postings p2 ON p2.doc_id = d2 AND p2.shingle = p1.shingle
        |  GROUP BY d1, d2),
        |leaked AS (
        |  SELECT DISTINCT d1
        |  FROM inter
        |  JOIN sizes s1 ON s1.doc_id = d1
        |  JOIN sizes s2 ON s2.doc_id = d2
        |  WHERE CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) >= $JaccardThreshold)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_test,
        |       CAST(SUM(CASE WHEN l.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_leaked,
        |       (1000000 * CAST(SUM(CASE WHEN l.d1 IS NOT NULL THEN 1 ELSE 0 END)
        |          AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS leak_ppm
        |FROM split LEFT JOIN leaked l ON split.doc_id = l.d1
        |WHERE is_test GROUP BY lang ORDER BY lang""".stripMargin
    }),
    "q_dup_cross_source" -> (qDupCrossSource _,
      """WITH t AS (
        |  SELECT source, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks FROM documents),
        |seg AS (
        |  SELECT source,
        |         ARRAY_TO_STRING(toks[CAST(i AS INT)*16+1 : CAST(i AS INT)*16+16], ' ') AS chunk
        |  FROM t, UNNEST(RANGE(0, CAST(CEIL(LEN(toks) / 16.0) AS BIGINT))) AS u(i)
        |  WHERE LEN(toks) > 0),
        |per_src AS (
        |  SELECT MD5(chunk) AS h, source, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM seg GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         CASE WHEN a.source = b.source THEN (a.cnt * (a.cnt - 1)) // 2
        |              ELSE a.cnt * b.cnt END AS pairs
        |  FROM per_src a JOIN per_src b USING (h)
        |  WHERE a.source <= b.source)
        |SELECT source_a, source_b, CAST(SUM(pairs) AS BIGINT) AS n_dup_pairs,
        |       CAST(COUNT(*) AS BIGINT) AS n_clusters
        |FROM pairs WHERE pairs > 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q_er_linkage" -> (qErLinkage _,
      """WITH dirty AS (
        |  SELECT p_partkey AS true_key, 1000000 + p_partkey AS dirty_id,
        |         p_brand, p_size,
        |         CASE WHEN pos = 1 THEN SUBSTR(p_name, 2)
        |              ELSE SUBSTR(p_name, 1, CAST(pos AS INT) - 1)
        |                   || SUBSTR(p_name, CAST(pos AS INT) + 1) END AS name
        |  FROM (SELECT *,
        |          CAST('0x' || SUBSTR(MD5(p_name || ':' || CAST(p_partkey AS VARCHAR)), 1, 15)
        |            AS BIGINT) % LEN(p_name) + 1 AS pos
        |        FROM part)),
        |cand AS (
        |  SELECT d.dirty_id, d.true_key, c.p_partkey AS matched_key,
        |         CAST(FLOOR(jaro_winkler_similarity(d.name, c.p_name) * 1000000 + 0.5)
        |           AS BIGINT) AS jw_ppm
        |  FROM dirty d JOIN part c
        |    ON d.p_brand = c.p_brand AND d.p_size = c.p_size
        |   AND SUBSTR(d.name, 1, 1) = SUBSTR(c.p_name, 1, 1)
        |  WHERE CAST(FLOOR(jaro_winkler_similarity(d.name, c.p_name) * 1000000 + 0.5)
        |          AS BIGINT) >= 900000),
        |pred AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY dirty_id ORDER BY jw_ppm DESC, matched_key ASC) AS rk
        |    FROM cand) WHERE rk = 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_entities FROM dirty)
        |SELECT n.n_entities,
        |       CAST(COUNT(*) AS BIGINT) AS n_predicted,
        |       CAST(SUM(CASE WHEN matched_key = true_key THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |       CAST(SUM(CASE WHEN matched_key <> true_key THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |       n.n_entities
        |         - CAST(SUM(CASE WHEN matched_key = true_key THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |       (1000000 * CAST(SUM(CASE WHEN matched_key = true_key THEN 1 ELSE 0 END) AS BIGINT))
        |         // CAST(COUNT(*) AS BIGINT) AS precision_ppm,
        |       (1000000 * CAST(SUM(CASE WHEN matched_key = true_key THEN 1 ELSE 0 END) AS BIGINT))
        |         // n.n_entities AS recall_ppm
        |FROM pred CROSS JOIN n
        |GROUP BY n.n_entities""".stripMargin),
    "q_dedup_pipeline" -> (qDedupPipeline _,
      s"""WITH ${funnelCtes("documents")},
         |counts AS (
         |  SELECT (SELECT COUNT(*) FROM documents) AS n0,
         |         (SELECT COUNT(*) FROM s1docs) AS n1,
         |         (SELECT COUNT(*) FROM keep2) AS n2,
         |         (SELECT COUNT(*) FROM keep3) AS n3)
         |SELECT stage, docs_in, dropped, docs_out FROM (
         |  SELECT '1_exact' AS stage, n0 AS docs_in, n0 - n1 AS dropped, n1 AS docs_out
         |  FROM counts
         |  UNION ALL
         |  SELECT '2_near', n1, n1 - n2, n2 FROM counts
         |  UNION ALL
         |  SELECT '3_semantic', n2, n2 - n3, n3 FROM counts)
         |ORDER BY stage""".stripMargin),
    "q_dedup_pipeline_cert" -> (qDedupPipelineCert _,
      s"""WITH docs4 AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
         |${funnelCtes("docs4")},
         |counts AS (
         |  SELECT (SELECT COUNT(*) FROM docs4) AS n0,
         |         (SELECT COUNT(*) FROM s1docs) AS n1,
         |         (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM s1docs) AS c1,
         |         (SELECT COUNT(*) FROM keep2) AS n2,
         |         (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM keep2) AS c2,
         |         (SELECT COUNT(*) FROM keep3) AS n3,
         |         (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM keep3) AS c3)
         |SELECT stage, docs_in, dropped, docs_out, chk_out FROM (
         |  SELECT '1_exact' AS stage, n0 AS docs_in, n0 - n1 AS dropped,
         |         n1 AS docs_out, c1 AS chk_out
         |  FROM counts
         |  UNION ALL
         |  SELECT '2_near', n1, n1 - n2, n2, c2 FROM counts
         |  UNION ALL
         |  SELECT '3_semantic', n2, n2 - n3, n3, c3 FROM counts)
         |ORDER BY stage""".stripMargin),
    "q_dedup_substring" -> (qDedupSubstring _,
      """WITH toks AS (
        |  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t,
        |         LEN(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS n_tokens
        |  FROM documents
        |  WHERE LEN(STRING_SPLIT(LOWER(TRIM(text)), ' ')) >= 5),
        |pos AS (
        |  SELECT doc_id, n_tokens, i AS pos,
        |         ARRAY_TO_STRING(t[i + 1:i + 5], ' ') AS sh
        |  FROM toks, UNNEST(RANGE(0, n_tokens - 4)) AS u(i)),
        |dup AS (SELECT sh FROM pos GROUP BY sh HAVING COUNT(*) >= 2),
        |hits AS (SELECT p.* FROM pos p JOIN dup USING (sh)),
        |marked AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN MAX(pos + 5) OVER prev IS NULL
        |                OR pos > MAX(pos + 5) OVER prev THEN 1 ELSE 0 END AS new_island
        |  FROM hits
        |  WINDOW prev AS (PARTITION BY doc_id ORDER BY pos
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |islands AS (
        |  SELECT doc_id, pos,
        |         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM marked),
        |spans AS (
        |  SELECT doc_id, island, MAX(pos) + 5 - MIN(pos) AS len
        |  FROM islands GROUP BY doc_id, island),
        |cov AS (
        |  SELECT doc_id, COUNT(*) AS n_dup_spans, CAST(SUM(len) AS BIGINT) AS covered
        |  FROM spans GROUP BY doc_id)
        |SELECT tk.doc_id, tk.n_tokens,
        |       COALESCE(c.n_dup_spans, 0) AS n_dup_spans,
        |       COALESCE(c.covered, 0) AS covered_tokens,
        |       ROUND(CAST(COALESCE(c.covered, 0) AS DOUBLE)
        |             / CAST(tk.n_tokens AS DOUBLE), 6) AS dup_coverage
        |FROM toks tk LEFT JOIN cov c ON c.doc_id = tk.doc_id
        |ORDER BY tk.doc_id""".stripMargin),
    "q_dedup_containment" -> (qDedupContainment _,
      s"""WITH $shingleCtes,
         |cand AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
         |  FROM postings a JOIN postings b USING (shingle)
         |  WHERE a.doc_id < b.doc_id GROUP BY d1, d2),
         |pairs AS (
         |  SELECT d1, d2, s1.n_sh AS n1, s2.n_sh AS n2,
         |         CAST(inter AS DOUBLE) / LEAST(s1.n_sh, s2.n_sh) AS cont_raw,
         |         CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) AS jaccard_raw
         |  FROM cand
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2)
         |SELECT CASE WHEN n1 <= n2 THEN d1 ELSE d2 END AS contained_id,
         |       CASE WHEN n1 <= n2 THEN d2 ELSE d1 END AS container_id,
         |       ROUND(cont_raw, 6) AS containment,
         |       ROUND(jaccard_raw, 6) AS jaccard
         |FROM pairs WHERE cont_raw >= $ContainmentThreshold
         |ORDER BY contained_id, container_id""".stripMargin),
    "q_dedup_paragraph" -> (qDedupParagraph _,
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, i AS chunk_idx,
        |         ARRAY_TO_STRING(toks[i*16+1 : i*16+16], ' ') AS chunk
        |  FROM t, UNNEST(RANGE(0, CAST(CEIL(LEN(toks) / 16.0) AS BIGINT))) AS u(i)),
        |k AS (SELECT chunk, MIN(doc_id) AS k_doc FROM c GROUP BY chunk),
        |k2 AS (
        |  SELECT c.chunk, k.k_doc, MIN(c.chunk_idx) AS k_idx
        |  FROM c JOIN k ON c.chunk = k.chunk AND c.doc_id = k.k_doc
        |  GROUP BY 1, 2),
        |kept AS (
        |  SELECT c.doc_id, c.chunk_idx, c.chunk
        |  FROM c JOIN k2 ON c.chunk = k2.chunk AND c.doc_id = k2.k_doc
        |                AND c.chunk_idx = k2.k_idx),
        |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM c GROUP BY doc_id),
        |ka AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         STRING_AGG(chunk, ' ' ORDER BY chunk_idx) AS text_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_chunks,
        |       COALESCE(ka.n_kept, 0) AS n_kept,
        |       COALESCE(ka.text_kept, '') AS text_kept
        |FROM tot LEFT JOIN ka ON ka.doc_id = tot.doc_id
        |ORDER BY tot.doc_id""".stripMargin),
    "q_setsim_join" -> (qSetsimJoin _,
      s"""WITH ${ppjoinCtes("documents")}
        |SELECT d1, d2, o, n1, n2,
        |       FLOOR(CAST(o AS DOUBLE) / (n1 + n2 - o) * 1000000 + 0.5)
        |         / 1000000 AS jaccard
        |FROM scored
        |WHERE o * 10 >= (n1 + n2 - o) * 8
        |ORDER BY d1, d2""".stripMargin),
    "q_setsim_cert" -> (qSetsimCert _,
      s"""WITH d4 AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
        |${ppjoinCtes("d4")}
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(COALESCE(SUM(o), 0) AS BIGINT) AS sum_o,
        |       CAST(COALESCE(SUM(n1), 0) AS BIGINT) AS sum_n1,
        |       CAST(COALESCE(SUM(n2), 0) AS BIGINT) AS sum_n2,
        |       CAST(COALESCE(SUM(CAST(FLOOR(CAST(o AS DOUBLE) / (n1 + n2 - o)
        |           * 1000000 + 0.5) AS BIGINT)), 0) AS BIGINT) AS sum_jaccard_ppm,
        |       CAST(COALESCE(SUM((d1 * 31 + d2) % 1000000007), 0) AS BIGINT) AS chk
        |FROM scored
        |WHERE o * 10 >= (n1 + n2 - o) * 8""".stripMargin),
    "q_fuzzy_jw" -> (qFuzzyJw _,
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |       a.p_name AS a_name, b.p_name AS b_name,
        |       FLOOR(jaro_winkler_similarity(a.p_name, b.p_name) * 1000000 + 0.5)
        |         / 1000000 AS jw
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE FLOOR(jaro_winkler_similarity(a.p_name, b.p_name) * 1000000 + 0.5)
        |        / 1000000 >= 0.88
        |ORDER BY a_key, b_key""".stripMargin),
    "q_dedup_fuzzy" -> (qFuzzyPairs _,
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |       a.p_name AS a_name, b.p_name AS b_name,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY a_key, b_key""".stripMargin),
    "q_dedup_exact" -> (qDedupExact _,
      """SELECT MIN(doc_id) AS survivor_id, COUNT(*) AS n_dups,
        |       SHA256(LOWER(TRIM(text))) AS h
        |FROM documents GROUP BY h ORDER BY survivor_id""".stripMargin),
    "q_dedup_near" -> (qDedupNear _,
      s"""WITH $nearDupCtes
        |SELECT d1, d2, ROUND(jaccard_raw, 6) AS jaccard
        |FROM near_pairs ORDER BY d1, d2""".stripMargin),
    "q_dedup_incremental" -> (qDedupIncremental _,
      s"""WITH $shingleCtes,
        |cand AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |  FROM postings a JOIN postings b USING (shingle)
        |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |  GROUP BY d1, d2),
        |scored AS (
        |  SELECT d1, d2,
        |         CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) AS jaccard_raw
        |  FROM cand
        |  JOIN sizes s1 ON s1.doc_id = d1
        |  JOIN sizes s2 ON s2.doc_id = d2
        |  WHERE CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) >= $JaccardThreshold),
        |best AS (
        |  SELECT d1, d2, jaccard_raw,
        |         ROW_NUMBER() OVER (PARTITION BY d1
        |           ORDER BY jaccard_raw DESC, d2) AS rn
        |  FROM scored)
        |SELECT d1 AS doc_id, d2 AS dup_of, ROUND(jaccard_raw, 6) AS jaccard
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    "q_minhash_incremental" -> (qMinhashIncremental _, {
      // signature/banding block shared with q_dedup_minhash; same
      // batch/corpus split + best-match tail as q_dedup_incremental
      s"""WITH $shingleCtes,
        |$minhashSigBandCtes,
        |cand AS (
        |  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
        |  FROM bands b1 JOIN bands b2
        |    ON b1.band = b2.band AND b1.key = b2.key
        |  WHERE b1.doc_id % 10 = 0 AND b2.doc_id % 10 <> 0),
        |inter AS (
        |  SELECT d1, d2, COUNT(*) AS inter
        |  FROM cand
        |  JOIN postings p1 ON p1.doc_id = d1
        |  JOIN postings p2 ON p2.doc_id = d2 AND p2.shingle = p1.shingle
        |  GROUP BY d1, d2),
        |scored AS (
        |  SELECT d1, d2,
        |         CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) AS jaccard_raw
        |  FROM inter
        |  JOIN sizes s1 ON s1.doc_id = d1
        |  JOIN sizes s2 ON s2.doc_id = d2
        |  WHERE CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) >= $JaccardThreshold),
        |best AS (
        |  SELECT d1, d2, jaccard_raw,
        |         ROW_NUMBER() OVER (PARTITION BY d1
        |           ORDER BY jaccard_raw DESC, d2) AS rn
        |  FROM scored)
        |SELECT d1 AS doc_id, d2 AS dup_of, ROUND(jaccard_raw, 6) AS jaccard
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }),
    "q_dedup_minhash" -> (qDedupMinhash _, {
      // signature/banding block shared with q_train_test_leakage
      s"""WITH $shingleCtes,
        |$minhashSigBandCtes,
        |cand AS (
        |  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
        |  FROM bands b1 JOIN bands b2
        |    ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id),
        |inter AS (
        |  SELECT d1, d2, COUNT(*) AS inter
        |  FROM cand
        |  JOIN postings p1 ON p1.doc_id = d1
        |  JOIN postings p2 ON p2.doc_id = d2 AND p2.shingle = p1.shingle
        |  GROUP BY d1, d2)
        |SELECT d1, d2,
        |       ROUND(CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes s1 ON s1.doc_id = d1
        |JOIN sizes s2 ON s2.doc_id = d2
        |WHERE CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) >= $JaccardThreshold
        |ORDER BY d1, d2""".stripMargin
    }),
    "q_dedup_simhash" -> (qDedupSimhash _,
      s"""WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS token
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, CAST('0x' || SUBSTR(MD5(token), 1, 15) AS BIGINT) AS h FROM tok),
        |votes AS (
        |  SELECT doc_id, i, SUM(((h >> CAST(i AS INTEGER)) & 1) * 2 - 1) AS s
        |  FROM th, range(60) t(i) GROUP BY doc_id, i),
        |fp AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER)
        |                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fingerprint
        |  FROM votes GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, fingerprint, band,
        |         (fingerprint >> CAST(band * 15 AS INTEGER)) & 32767 AS key
        |  FROM fp, range(4) t(band))
        |SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2,
        |       bit_count(xor(b1.fingerprint, b2.fingerprint)) AS hamming
        |FROM bands b1 JOIN bands b2
        |  ON b1.band = b2.band AND b1.key = b2.key AND b1.doc_id < b2.doc_id
        |WHERE bit_count(xor(b1.fingerprint, b2.fingerprint)) <= 3
        |ORDER BY d1, d2""".stripMargin),
    "q_dedup_clusters" -> (qDedupClusters _,
      s"""WITH RECURSIVE $nearDupCtes,
        |edges AS (
        |  SELECT d1 AS a, d2 AS b FROM near_pairs
        |  UNION ALL SELECT d2, d1 FROM near_pairs),
        |reach(doc_id, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.doc_id = e.b)
        |SELECT doc_id, MIN(r) AS cluster_id,
        |       (doc_id = MIN(r)) AS is_survivor
        |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "q_dedup_survivors" -> (qDedupSurvivors _,
      s"""WITH $nearDupCtes,
        |losers AS (
        |  SELECT DISTINCT d2 AS doc_id FROM near_pairs)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin),
    "q_corpus_filter" -> (qCorpusFilter _,
      s"""WITH $nearDupCtes,
        |losers AS (
        |  SELECT DISTINCT d2 AS doc_id FROM near_pairs),
        |quality AS (
        |  SELECT doc_id FROM toks
        |  WHERE LEN(t) BETWEEN 20 AND 10000
        |    AND LEN(LIST_FILTER(t, x -> x IN ('the','a','of','and','to','in','is','it')))
        |        / CAST(LEN(t) AS DOUBLE) >= 0.01
        |    AND LEN(LIST_DISTINCT(t)) / CAST(LEN(t) AS DOUBLE) >= 0.2)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |  AND doc_id IN (SELECT doc_id FROM quality)
        |ORDER BY doc_id""".stripMargin),
  )
}
