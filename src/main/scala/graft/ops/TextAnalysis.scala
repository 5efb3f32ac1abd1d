package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (BASELINE north-star; SURVEY.md
  * §2.5): the per-document scoring pass every training-data pipeline runs
  * before filtering — token stats, quality ratios, language ID, content
  * fingerprint. Everything is built from codegen'd string/array functions;
  * per-document work is embarrassingly parallel (no shuffle until the final
  * corpus-level aggregation, which is O(vocabulary), not O(corpus)).
  *
  *  - token counting: whitespace split + a BPE-ish sub-token regex count
  *  - quality scoring: length / stopword / punctuation / repetition ratios
  *  - language ID: stopword-profile hit-rate heuristic (n-gram profiles are
  *    the real-world version; the profile table broadcasts either way)
  *  - fingerprinting: order-sensitive polynomial rolling hash mod 1e9+7
  */
object TextAnalysis extends QueryModule {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** The engine's one tokenizer, the oracles' `string_split(lower(trim(text)), ' ')`:
    * trimmed, lower-cased text split on each single space, so a run of
    * spaces yields empty tokens on both engines. */
  def tokens(text: Column): Column = split(lower(trim(text)), " ")

  /** Corpus token frequencies: top 50 tokens by count. */
  def qTextTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)

  /** Per-document stats: exact whitespace tokens, BPE-ish sub-token count
    * (runs of letters / digits / single punctuation), avg token length,
    * stopword ratio, distinct-token ratio (repetition detector). The
    * sub-token count is the native [[graft.functions.SubTokenCount]]
    * expression — one fused scan per document instead of
    * regexp_extract_all's per-char regex step plus a match array built
    * only to be counted (took q_text_quality from ~8 s to regex-free). */
  def qTextQuality(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("toks")).as("n_tokens"),
        expr("subtoken_count(text)").as("n_subtokens"),
        round(expr("aggregate(toks, 0L, (a, t) -> a + length(t))")
          / size(col("toks")).cast("double"), 4).as("avg_token_len"),
        round(size(expr(s"filter(toks, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")}))"))
          / size(col("toks")).cast("double"), 4).as("stopword_ratio"),
        round(size(array_distinct(col("toks"))) / size(col("toks")).cast("double"), 4)
          .as("distinct_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Explainable per-rule quality filter (Gopher-style): one boolean per
    * rule plus the combined keep — the audit artifact a corpus build ships
    * so "why was this document dropped" is answerable without re-running
    * the filter. Rules over the signals this corpus carries: token-count
    * band, mean token length band, stopword floor, distinct-token floor
    * (repetition), and most-common-token ceiling (the Gopher "top word
    * frequency" rule).
    *
    * Shape: the per-token signals are map-only array ops on the documents
    * scan; the top-token count is an explode → two hash aggregations
    * (never a per-row O(k²) scan over the token array), then one hash join
    * back on doc_id. Ratios compare RAW (unrounded) rational values — both
    * engines derive identical doubles from integer counts, so thresholds
    * agree (rounding first would reopen the midpoint hazard). */
  def qQualityFlags(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val top = toks.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_c"))
    toks.select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))").as("chars"),
        size(expr(s"filter(toks, t -> t IN ($stopwordsSql))")).as("stop_c"),
        size(array_distinct(col("toks"))).as("dis_c"))
      .join(top, Seq("doc_id"))
      .select(col("doc_id"),
        col("n_tokens").between(20, 10000).as("f_len"),
        (col("chars") / col("n_tokens").cast("double")).between(2.0, 12.0)
          .as("f_word_len"),
        (col("stop_c") / col("n_tokens").cast("double") >= 0.01).as("f_stopword"),
        (col("dis_c") / col("n_tokens").cast("double") >= 0.2).as("f_repetition"),
        (col("top_c") / col("n_tokens").cast("double") <= 0.2).as("f_top_token"))
      .withColumn("keep",
        col("f_len") && col("f_word_len") && col("f_stopword")
          && col("f_repetition") && col("f_top_token"))
      .orderBy(col("doc_id"))
  }

  /** Stopword-profile language ID + agreement rate with the labeled lang. */
  def qTextLangid(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("en_hits",
        size(expr(s"filter(toks, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")}))")))
      .withColumn("lang_pred",
        when(col("en_hits") / size(col("toks")).cast("double") >= 0.02, "en")
          .otherwise("und"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  /** N-gram language ID, the real shape: per-language char-trigram profiles
    * (top 50 by corpus frequency, built from the labeled corpus — in
    * production these ship as a broadcast table trained offline), then each
    * document scores profile-overlap and takes the argmax language.
    * Self-referential on synthetic data, but the operator mechanics — build
    * profiles, broadcast, score, argmax — are the production pipeline.
    * Every ranking step is explicitly tie-broken (trigram asc within count,
    * profile_lang asc within score), which makes the whole chain a pure
    * function of the data — the DuckDB multi-CTE twin verifies it exactly. */
  def qTextLangidNgram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // classify on the first 200 chars — langid saturates on a prefix, and
    // this caps the trigram explosion at 198 rows/doc regardless of doc size
    val docs = Tables.documents(spark, dir)
      .withColumn("head", substring(col("text"), 1, 200))
    // profiles AND scoring both consume the trigram table (Catalyst has no
    // cross-branch subplan reuse), and the 200-char cap keeps the
    // materialization small (see Dedup.jaccardPairs for the
    // reuse-vs-fault-tolerance notes)
    val trigrams = Materialize.shared(docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(expr(
        """CASE WHEN length(head) < 3 THEN array()
          |ELSE transform(sequence(1, length(head) - 2), i -> substring(head, i, 3))
          |END""".stripMargin))).as("trigram")))
    val profileW = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("trigram"))
    val profiles = trigrams.groupBy(col("lang"), col("trigram"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(profileW))
      .filter(col("rk") <= 50)
      .select(col("lang").as("profile_lang"), col("trigram"),
        (lit(51) - col("rk")).as("weight"))
    val bestW = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("profile_lang"))
    val scored = trigrams.join(broadcast(profiles), "trigram")
      .groupBy(col("doc_id"), col("profile_lang"))
      .agg(sum(col("weight")).as("score"))
      .withColumn("rk", row_number().over(bestW))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("profile_lang"))
    // LEFT join back to the full corpus: a doc with no trigrams (short/empty
    // text) or no profile overlap must still classify — as 'und' — so every
    // document appears in the confusion matrix exactly once.
    docs.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("lang_pred", coalesce(col("profile_lang"), lit("und")))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  /** Order-sensitive rolling-hash fingerprint: fold (acc*31 + len(t) +
    * first-char-code) mod 1e9+7 over the token stream. Same doc → same
    * fingerprint; any reorder/edit → different. */
  def qTextFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("fingerprint", expr(
        """aggregate(transform(toks, t -> CAST(length(t) + ascii(t) AS BIGINT)),
          |  0L, (acc, v) -> (acc * 31 + v) % 1000000007)""".stripMargin))
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))

  /** Gopher-style repetition signals: per document, the fraction of token
    * bigrams that are repeat occurrences (1 - distinct/total) and the share
    * taken by the single most frequent bigram — the two cheapest
    * "templated/spammy text" detectors a corpus filter thresholds on.
    * Computed relationally (explode → two hash aggregations keyed by
    * doc_id), never as an O(tokens²) per-row array scan, so a pathological
    * 10 M-token document costs the same per token as a normal one. Documents
    * with < 2 tokens have no bigrams and are excluded by contract (both
    * engines). */
  def qTextRepetition(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
          |ELSE transform(sequence(0, size(toks) - 2),
          |  i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))
          |END""".stripMargin)).as("bigram"))
    bigrams.groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max(col("n")).as("top_n"))
      .select(col("doc_id"), col("n_bigrams"),
        round(lit(1.0) - col("n_distinct") / col("n_bigrams").cast("double"), 4)
          .as("dup_bigram_frac"),
        round(col("top_n") / col("n_bigrams").cast("double"), 4).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** Character-level Shannon entropy per document (bits/char) — the
    * low-entropy detector for boilerplate/binary-junk text, computed by the
    * native codegen'd [[graft.functions.CharEntropy]] expression: one pass
    * over each string inside WholeStageCodegen, map-only, no shuffle. The
    * original relational plan (explode every char position → two hash
    * aggregations → sorted fold) is kept as [[qTextEntropyRelational]] and
    * asserted bit-identical in tests — it multiplied the corpus by its mean
    * document length before the first shuffle, which is exactly the row
    * blowup a 100 TB corpus cannot afford. H = log2(N) - (Σ n·ln n)/(N·ln 2)
    * with counts folded in ascending order (the determinism contract the
    * DuckDB oracle shares). Empty documents have no distribution and are
    * excluded by contract. */
  def qTextEntropy(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars_counted"),
        round(expr("char_entropy(text)"), 4).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** The pre-native relational formulation of [[qTextEntropy]] — retained
    * as the cross-check twin (its sorted-fold arithmetic defines the
    * determinism contract the native expression reproduces). Test-only; it
    * stays as the reference implementation the native expression is
    * compared against. */
  def qTextEntropyRelational(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_chars_counted"),
        sort_array(collect_list(col("n"))).as("counts"))
      .select(col("doc_id"), col("n_chars_counted"),
        round(
          (log(col("n_chars_counted"))
            - expr("aggregate(counts, 0D, (a, x) -> a + x * ln(x))") / col("n_chars_counted"))
            / log(lit(2.0)), 4).as("entropy"))
      .orderBy(col("doc_id"))

  /** Document-frequency stopword mining: tokens present in ≥ 30% of
    * documents, with their document frequency — how a pipeline derives its
    * stopword/stop-shingle lists from the corpus itself instead of shipping
    * a hand list. One explode with per-doc distinct, one aggregation on
    * token; the threshold compares the RAW ratio (rounding only the output
    * column). */
  def qTextDf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val total = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    docs
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df") / col("n_docs").cast("double") >= 0.3)
      .select(col("token"), col("df"),
        round(col("df") / col("n_docs").cast("double"), 4).as("df_ratio"))
      .orderBy(col("df").desc, col("token"))
  }

  // PII patterns — deliberately simple, RE2-compatible (no lookaround, no
  // backrefs) so the Java-regex Spark side and the RE2 DuckDB oracle match
  // occurrence-for-occurrence. IP octets are range-checked (0-255), and a
  // dotted run of FOUR OR MORE valid octets redacts wholly: RE2 has no
  // lookahead to reject a trailing ".5", and for PII over-redacting a
  // version-like string beats leaking the address embedded in it.
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val ipOctet  = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  private val ipPat    = s"\\b$ipOctet(\\.$ipOctet){3,}\\b"

  /** PII scrub — the redaction pass an LLM corpus runs before training:
    * count and replace emails / phone numbers / IPv4 addresses with typed
    * placeholder tokens. Pure per-row codegen'd regex work (no shuffle at
    * all until the output sort); at 100 TB this is a map-only stage that
    * scales linearly with input bytes. Replacement order (email → phone →
    * ip) is part of the contract: email local parts can contain digit runs
    * an IP pattern would otherwise nibble at. */
  def qTextPii(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phonePat), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("text"), lit(ipPat), lit(0))).as("n_ips"),
        redactPii(col("text")).as("redacted"))
      .orderBy(col("doc_id"))

  /** Library form: redact emails → phones → IPs in any string column
    * (order is part of the contract — see the pattern notes above). */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      emailPat, "<EMAIL>"), phonePat, "<PHONE>"), ipPat, "<IP>")

  /** Boilerplate strip — the HTML-ish cleanup stage of a web-scrape corpus:
    * drop tags, decode the five ubiquitous entities, collapse whitespace
    * runs, trim. `&amp;` decodes LAST so `&amp;lt;` yields the literal
    * `&lt;` instead of double-decoding to `<` — same order in the oracle.
    * Map-only like qTextPii; the explicit `[ \t\r\n]+` class (not `\s`)
    * pins the whitespace set to the intersection both regex dialects agree
    * on. */
  def qTextClean(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), cleanHtml(col("text")).as("cleaned"))
      .withColumn("clean_chars", length(col("cleaned")))
      .select(col("doc_id"), col("n_chars"), col("clean_chars"), col("cleaned"))
      .orderBy(col("doc_id"))

  /** Library form: strip tags, decode the five ubiquitous entities (&amp;
    * last, so &amp;lt; yields the literal &lt;), collapse whitespace, trim
    * — on any string column. */
  def cleanHtml(c: Column): Column = {
    val stripped = regexp_replace(c, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(stripped) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
    trim(regexp_replace(decoded, "[ \t\r\n]+", " "))
  }

  /** Corpus-wide n-gram mining: top 40 token bigrams by total occurrences,
    * with document frequency — the vocabulary/template-phrase miner (the
    * corpus-level complement of qTextRepetition's per-document signals).
    * One explode, one hash aggregation keyed by bigram (count + distinct
    * doc_id), TakeOrdered for the top slice — O(total tokens) with a
    * vocabulary-sized shuffle, never a per-document collect. */
  def qNgramTop(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
          |ELSE transform(sequence(0, size(toks) - 2),
          |  i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))
          |END""".stripMargin)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(40)

  /** Collocation mining by pointwise mutual information: for the corpus's
    * top bigrams, pmi = ln(n_ab · T / (n_a · n_b)) where T is the total
    * adjacent-pair count — high when the pair co-occurs far above chance
    * ("new york"), ~0 for independent words. All counts are exact integers
    * over PAIR SLOTS (n_a = occurrences of a as a left token, n_b = as a
    * right token, T = total pairs — the standard bigram-PMI estimator,
    * every margin consistent with the same denominator); the single ln per
    * surviving bigram runs on identical integer ratios in both engines
    * (same precedent as q_tfidf_top). Ranked on the raw double,
    * floor-rounded for display only. */
  def qNgramPmi(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
    val pairs = toks.select(explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
          |ELSE transform(sequence(0, size(toks) - 2),
          |  i -> struct(element_at(toks, i + 1) AS w1, element_at(toks, i + 2) AS w2))
          |END""".stripMargin)).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
    val left = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n_a"))
    val right = pairs.groupBy(col("w2")).agg(count(lit(1)).as("n_b"))
    val total = pairs.agg(count(lit(1)).as("t"))
    bi.filter(col("n_ab") >= 20)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .withColumn("pmi_raw", expr(
        "ln(CAST(n_ab AS DOUBLE) * CAST(t AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))"))
      .select(col("w1"), col("w2"), col("n_ab"),
        (floor(col("pmi_raw") * 1000000 + 0.5) / 1000000).as("pmi"))
      .orderBy(col("pmi_raw").desc, col("w1"), col("w2"))
      .limit(40)
  }

  /** RAG-style chunking: every document split into fixed 32-token windows
    * (last chunk ragged), each chunk carrying its index, token count, and
    * text — the segmentation pass an embedding/RAG pipeline runs before
    * vectorizing. One explode of the per-doc chunk-index sequence plus a
    * per-row `slice` — O(total tokens) work, embarrassingly parallel, no
    * shuffle until the output sort. Chunk count per doc is ⌈tokens/32⌉, so
    * a 10 M-token document fans out to 300 k rows instead of one
    * unsplittable giant — exactly the row shape downstream batch embedding
    * wants at 100 TB. */
  def qTextChunk(spark: SparkSession, dir: String): DataFrame =
    chunkTokens(
      Tables.documents(spark, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks")),
      idCol = "doc_id", toksCol = "toks", chunkSize = 32)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Library form of fixed-window chunking over any (id, token-array)
    * table: each row fans out to ⌈tokens/chunkSize⌉ chunk rows carrying
    * index, size, and joined text. Map-only (explode + slice). */
  def chunkTokens(docs: DataFrame, idCol: String, toksCol: String,
      chunkSize: Int): DataFrame =
    docs
      .select(col(idCol), col(toksCol).as("_toks"),
        // empty-array guard: sequence(0, -1) is DESCENDING [0, -1] in Spark
        // (the make_edge_data lesson) — an empty token array must yield
        // zero chunks, not two bogus ones
        explode(expr(
          s"""CASE WHEN size($toksCol) = 0 THEN array()
             |ELSE sequence(0, CAST(ceil(size($toksCol) / $chunkSize.0) AS INT) - 1)
             |END""".stripMargin))
          .as("_ci"))
      .select(col(idCol), col("_ci").cast("bigint").as("chunk_idx"),
        expr(s"slice(_toks, _ci * $chunkSize + 1, $chunkSize)").as("_ctoks"))
      .select(col(idCol), col("chunk_idx"),
        size(col("_ctoks")).cast("bigint").as("n_tokens"),
        array_join(col("_ctoks"), " ").as("chunk"))

  /** CCNet-style LM quality scoring: every document scored by the average
    * bits-per-bigram (−log2 P) under a Laplace-smoothed bigram language
    * model trained on the ENGLISH slice of the corpus — the standard
    * "perplexity against a reference LM" filter a pretraining pipeline
    * runs to rank in-domain vs out-of-domain text (out-of-slice documents
    * hit unseen bigrams and score high).
    *
    * Scale shape: the per-doc bigram stream is derived ONCE
    * (checkpointed — three consumers: LM bigrams, LM contexts, scoring)
    * and every join is keyed on the bigram/context token (high
    * cardinality); the vocabulary size rides a broadcast one-row cross
    * join. Per-instance bits floor to integer micro-units before the
    * per-doc sum (order-independent); the single division happens at the
    * end. The LM tables are corpus-sized aggregates, NOT broadcast — at
    * 100 TB they shard across the cluster on their join key like any fact
    * table. */
  def qTextPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        tokens(col("text")).as("toks"))
    val docBi = Materialize.shared(toks.select(col("doc_id"), col("lang"), explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
          |ELSE transform(sequence(0, size(toks) - 2),
          |  i -> struct(element_at(toks, i + 1) AS w1, element_at(toks, i + 2) AS w2))
          |END""".stripMargin)).as("p"))
      .select(col("doc_id"), col("lang"), col("p.w1"), col("p.w2")))
    val en = docBi.filter(col("lang") === "en")
    val lmBi = en.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
    val lmCtx = en.groupBy(col("w1")).agg(count(lit(1)).as("n_a"))
    val vocab = Tables.documents(spark, dir).filter(col("lang") === "en")
      .select(explode(tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w")).cast("double").as("v"))
    docBi
      .join(lmBi, Seq("w1", "w2"), "left")
      .join(lmCtx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("bits_micro", expr(
        """CAST(FLOOR(-LOG2((CAST(COALESCE(n_ab, 0) AS DOUBLE) + 1.0)
          |  / (CAST(COALESCE(n_a, 0) AS DOUBLE) + v)) * 1000000 + 0.5) AS BIGINT)""".stripMargin))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(expr("CAST(SUM(bits_micro) AS DOUBLE) / COUNT(*)") + 0.5) / 1000000)
          .as("avg_bits"))
      .orderBy(col("doc_id"))
  }

  /** Per-document readability scoring — Flesch reading-ease and
    * Flesch-Kincaid grade from three regex counts: words (letter runs),
    * syllables (vowel-group runs, the standard dictionary-free heuristic),
    * and sentences (terminator runs, floored at 1 so punctuation-free text
    * scores as one sentence rather than dividing by zero). The corpus
    * filter every training-data pipeline runs next to the Gopher flags
    * ([[qQualityFlags]]): readability bands are a cheap fluency prior, and
    * the grade level is the classic "is this text too simple/too noisy"
    * signal.
    *
    * Determinism: all three counts are exact integers from RE2∩Java-safe
    * patterns (`[a-z]+` / `[aeiouy]+` / `[.!?]+` behave identically in
    * Spark's java.util.regex and DuckDB's RE2); each score is the same
    * IEEE expression tree over single divisions of exactly-cast counts in
    * both engines, so the rounded outputs hash-match. `+ 0.0` normalizes
    * the signed zero a negative score can round to.
    *
    * Scale shape: map-only — three codegen'd regexp_count passes over the
    * documents scan, no shuffle but the output ORDER BY. */
  def qTextReadability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("regexp_count(lower(text), '[a-z]+')").as("n_words"),
        expr("regexp_count(lower(text), '[aeiouy]+')").as("n_syllables"),
        expr("greatest(regexp_count(text, '[.!?]+'), 1)").as("n_sentences"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_syllables"), col("n_sentences"),
        (round(expr(
          """206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
            |        - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))"""
            .stripMargin), 4) + lit(0.0)).as("flesch"),
        (round(expr(
          """0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
            | + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59"""
            .stripMargin), 4) + lit(0.0)).as("fk_grade"))
      .orderBy(col("doc_id"))

  /** The blocklist terms — a FIXED list shared verbatim by the Spark
    * filter and the generated oracle (the audienceTypes discipline from
    * [[Behavior]]), standing in for the public badword lists C4-style
    * corpus builds filter on. */
  private val blocklist = Seq("big", "dup", "slow")

  /** C4-style blocklist filter audit: per source, how many documents
    * contain ANY blocklisted token (the C4 drop rule), the drop rate in
    * exact ppm, and the total blocklisted-token volume. Shipped as the
    * audit census, the way [[qQualityFlags]] ships its per-rule booleans —
    * "what did the blocklist cost this source" is the question a corpus
    * curator actually asks before turning the rule on.
    *
    * Scale shape: map-only tokenization + higher-order-function count per
    * document (no explode — the per-doc hit count folds inside the array),
    * then one map-side-combinable aggregation to |sources| rows. */
  def qTextBlocklist(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"),
        size(expr(s"filter(split(lower(trim(text)), ' '), t -> t IN ($blocklistSql))"))
          .as("hits"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("hits")).as("n_hits"))
      .withColumn("flagged_ppm", expr("div(1000000 * n_flagged, n_docs)"))
      .orderBy(col("source"))
  }

  /** RAKE keyphrase extraction — the classic stopword-delimited candidate
    * scorer: a candidate phrase is a maximal run of non-stopword tokens,
    * each word scores deg(w)/freq(w) over the candidate table (deg counts
    * the lengths of every phrase containing the word — co-occurrence
    * credit; freq its occurrences), and a phrase scores the sum of its
    * member word scores. Emits the corpus top-15 (score desc, phrase) as
    * truncating ppm integers: div(10⁶·deg, freq) per word, exact sums per
    * phrase, so both engines agree bit-for-bit.
    *
    * Scale shape: one positional token explode (linear, the family's
    * standard scan); run-ids come from a running stopword count and
    * phrase lengths from a count, both over PER-DOC windows — partitioned
    * by doc_id (and (doc_id, run)), so the exchange distributes perfectly
    * and a task is bounded by one document's length (the q_text_chunk
    * caveat: pathological single-doc corpora chunk first). The word-score
    * table is vocabulary-bounded and BROADCASTS back onto members; the
    * tail is a TakeOrdered cut. The phrase rebuild uses
    * array_sort(collect_list(struct(pos, w))) — deterministic regardless
    * of partition arrival order. */
  def qTextKeyphrase(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
      .filter(col("w") =!= "")
      .withColumn("stop", col("w").isInCollection(stopwords))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val byRun = Window.partitionBy(col("doc_id"), col("run"))
    // feeds the word-score rollup AND the scoring join — uncheckpointed
    // the posexplode + two windows ran twice (2 scans in the plan)
    val members = Materialize.shared(toks
      .withColumn("run", sum(when(col("stop"), 1L).otherwise(0L)).over(byDoc))
      .filter(!col("stop"))
      .withColumn("plen", count(lit(1)).over(byRun)))
    val wstats = members.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore_ppm", expr("div(1000000 * deg, freq)"))
      .select(col("w"), col("wscore_ppm"))
    members.join(broadcast(wstats), "w")
      .groupBy(col("doc_id"), col("run"))
      .agg(expr("concat_ws(' ', transform(array_sort(collect_list(struct(pos, w))), x -> x.w))")
        .as("phrase"),
        sum(col("wscore_ppm")).as("score_ppm"))
      // identical phrases always carry identical scores (same member
      // words), so (phrase, score) grouping is a pure occurrence census
      .groupBy(col("phrase"), col("score_ppm"))
      .agg(count(lit(1)).as("n_occurrences"))
      .select(col("phrase"), col("n_occurrences"), col("score_ppm"))
      .orderBy(col("score_ppm").desc, col("phrase"))
      .limit(15)
  }

  /** Overlapped RAG chunking (size 32, stride 16) — the production retrieval
    * shape [[qTextChunk]]'s disjoint windows cannot express: consecutive
    * chunks share a 16-token overlap so no answer span is ever split across
    * a boundary unseen. Each chunk row carries its start offset and token
    * count; the per-document accounting identity
    * `sum(n_tokens) = n_doc_tokens + overlap` is what the spec asserts.
    * Map-only: one explode over ⌈n/stride⌉ window starts per document, a
    * slice per start — no shuffle at all until the output sort, and none of
    * THAT at 100 TB where chunks stream straight to the retrieval indexer. */
  def qChunkOverlap(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("_toks"),
        explode(expr(
          """CASE WHEN size(_toks) = 0 THEN array()
            |ELSE sequence(0, CAST(div(size(_toks) - 1, 16) AS INT)) END"""
            .stripMargin)).as("_ci"))
      .select(col("doc_id"), col("_ci").cast("bigint").as("chunk_idx"),
        (col("_ci").cast("bigint") * 16).as("start_pos"),
        expr("slice(_toks, _ci * 16 + 1, 32)").as("_ctoks"))
      .select(col("doc_id"), col("chunk_idx"), col("start_pos"),
        size(col("_ctoks")).cast("bigint").as("n_tokens"),
        array_join(col("_ctoks"), " ").as("chunk"))

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    * the MOSS algorithm) — the guarantee-carrying fingerprint selector:
    * hash every 4-token shingle (the shared md5 60-bit primitive), slide a
    * window of 4 consecutive hashes, keep each window's MINIMUM — any match
    * of ≥ 7 consecutive tokens between two documents is then guaranteed to
    * share a fingerprint (no fixed-stride scheme can promise that). Output
    * is the plagiarism hot-spot table: fingerprints selected by ≥ 2
    * documents, with document frequency, top 50.
    * Scale shape: per-document array work is map-only (transform over
    * shingle starts, then window minima via a second transform + slice);
    * only DISTINCT per-doc fingerprints shuffle to the df rollup — the
    * corpus never pairs with itself. */
  def qWinnowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fps = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // one winnow window needs >= 4 hashes = >= 7 tokens. The guard MUST
      // be phrased on the token count: a size(hashes) >= 4 predicate gets
      // pushed below the projection and re-inlines the whole per-4-gram
      // md5 transform into the scan filter, so every document paid its
      // dominant hash pass TWICE (measured 7.0 s -> 3.6 s at sf0.1/32
      // cpus when the filter stopped hashing).
      .filter(size(col("toks")) >= 7)
      .withColumn("hashes", expr(
        """transform(sequence(0, size(toks) - 4),
          |  i -> CAST(conv(substring(md5(concat_ws(' ',
          |         toks[i], toks[i+1], toks[i+2], toks[i+3])), 1, 15), 16, 10)
          |       AS BIGINT))""".stripMargin))
      .withColumn("fp", explode(expr(
        """array_distinct(transform(sequence(0, size(hashes) - 4),
          |  i -> array_min(slice(hashes, i + 1, 4))))""".stripMargin)))
      .select(col("doc_id"), col("fp"))
    fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("fp"))
      .limit(50)
  }

  /** Trained bag-of-token linear classifier + confusion matrix — the
    * fastText-shaped quality/language classifier every pretraining pipeline
    * runs at ingest, expressed entirely in exact integer arithmetic: class
    * weights are add-one-smoothed token frequencies in ppm
    * (w(lang, token) = ⌊10⁶·(cnt+1)/(tot_lang+V)⌋ over the full lang ×
    * vocabulary grid, so every class scores every token), a document's
    * class score is Σ occurrences·w, and the prediction is the argmax
    * (ties to the lexicographically first class). The output is the
    * (true, predicted) confusion matrix — self-classification on the
    * training corpus, the standard train-fit audit.
    *
    * Scale shape: the MODEL is vocabulary×classes-sized (here 31×5) — it
    * broadcasts; scoring is one map-side join from per-doc token counts
    * (≤|V| rows per doc) and two rollups (doc×class, then argmax). No
    * floats anywhere, so the cross-engine hash compares exact integers. */
  def qTextClassify(spark: SparkSession, dir: String): DataFrame = {
    val docTok = Materialize.shared(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("token"))) // feeds training counts AND scoring
    val cnt = docTok.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("cnt"))
    val tot = docTok.groupBy(col("lang")).agg(count(lit(1)).as("tot"))
    val vocab = Materialize.shared(docTok.select(col("token")).distinct()) // feeds V AND the grid
    val v = vocab.agg(count(lit(1)).as("v_size"))
    val grid = tot.crossJoin(vocab).crossJoin(broadcast(v))
    val weights = grid
      .join(cnt, Seq("lang", "token"), "left").na.fill(0L, Seq("cnt"))
      .select(col("lang").as("w_lang"), col("token"),
        expr("div(1000000 * (cnt + 1), tot + v_size)").as("w_ppm"))
    val perDoc = docTok.groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("occ"))
    val scored = perDoc
      .join(broadcast(weights), Seq("token"))
      .groupBy(col("doc_id"), col("lang"), col("w_lang"))
      .agg(sum(col("occ") * col("w_ppm")).as("score"))
    val pred = scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("w_lang"))))
      .filter(col("rk") === 1)
    pred.groupBy(col("lang").as("true_lang"), col("w_lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  private val stopwordsSql = stopwords.map("'" + _ + "'").mkString(",")
  private val blocklistSql = blocklist.map("'" + _ + "'").mkString(",")

  val registry: Map[String, (Query, String)] = Map(
    "q_text_classify" -> (qTextClassify _,
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |         UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS token
        |  FROM documents),
        |cnt AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM tok GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS tot FROM tok GROUP BY 1),
        |vocab AS (SELECT DISTINCT token FROM tok),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v_size FROM vocab),
        |weights AS (
        |  SELECT t.lang AS w_lang, vocab.token,
        |         (1000000 * (COALESCE(c.cnt, 0) + 1)) // (t.tot + v.v_size) AS w_ppm
        |  FROM tot t CROSS JOIN vocab CROSS JOIN v
        |  LEFT JOIN cnt c ON c.lang = t.lang AND c.token = vocab.token),
        |per_doc AS (
        |  SELECT doc_id, lang, token, CAST(COUNT(*) AS BIGINT) AS occ
        |  FROM tok GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT d.doc_id, d.lang, w.w_lang, SUM(d.occ * w.w_ppm) AS score
        |  FROM per_doc d JOIN weights w ON w.token = d.token
        |  GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT doc_id, lang, w_lang,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, w_lang) AS rk
        |  FROM scored)
        |SELECT lang AS true_lang, w_lang AS pred_lang,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM pred WHERE rk = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q_chunk_overlap" -> (qChunkOverlap _,
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks FROM documents)
        |SELECT doc_id, i AS chunk_idx, i * 16 AS start_pos,
        |       CAST(LEN(toks[CAST(i AS INT)*16+1 : CAST(i AS INT)*16+32]) AS BIGINT) AS n_tokens,
        |       ARRAY_TO_STRING(toks[CAST(i AS INT)*16+1 : CAST(i AS INT)*16+32], ' ') AS chunk
        |FROM t, UNNEST(RANGE(0, (LEN(toks) - 1) // 16 + 1)) AS u(i)
        |WHERE LEN(toks) > 0
        |ORDER BY doc_id, chunk_idx""".stripMargin),
    "q_winnow_fingerprint" -> (qWinnowFingerprint _,
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(toks) AS INT) - 3),
        |           i -> CAST('0x' || SUBSTR(MD5(toks[i] || ' ' || toks[i+1] || ' '
        |                  || toks[i+2] || ' ' || toks[i+3]), 1, 15) AS BIGINT)) AS hashes
        |  FROM t WHERE LEN(toks) >= 4),
        |w AS (
        |  SELECT doc_id,
        |         UNNEST(LIST_DISTINCT(
        |           LIST_TRANSFORM(GENERATE_SERIES(1, CAST(LEN(hashes) AS INT) - 3),
        |             i -> LIST_AGGREGATE(hashes[i : i+3], 'min')))) AS fp
        |  FROM h WHERE LEN(hashes) >= 4)
        |SELECT fp, CAST(COUNT(*) AS BIGINT) AS df
        |FROM w GROUP BY fp HAVING COUNT(*) >= 2
        |ORDER BY df DESC, fp LIMIT 50""".stripMargin),
    "q_text_keyphrase" -> (qTextKeyphrase _,
      s"""WITH toks AS (
        |  SELECT doc_id, CAST(i AS INT) - 1 AS pos, t[CAST(i AS INT)] AS w
        |  FROM (SELECT doc_id, t, UNNEST(GENERATE_SERIES(1, LEN(t))) AS i
        |        FROM (SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t
        |              FROM documents))
        |  WHERE t[CAST(i AS INT)] <> ''),
        |flagged AS (
        |  SELECT doc_id, pos, w, w IN ($stopwordsSql) AS stop FROM toks),
        |runs AS (
        |  SELECT doc_id, pos, w, stop,
        |         SUM(CASE WHEN stop THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) AS run
        |  FROM flagged),
        |members AS (
        |  SELECT doc_id, pos, w, run,
        |         COUNT(*) OVER (PARTITION BY doc_id, run) AS plen
        |  FROM runs WHERE NOT stop),
        |wstats AS (
        |  SELECT w, CAST((1000000 * SUM(plen)) // COUNT(*) AS BIGINT) AS wscore_ppm
        |  FROM members GROUP BY w),
        |cand AS (
        |  SELECT m.doc_id, m.run,
        |         STRING_AGG(m.w, ' ' ORDER BY m.pos) AS phrase,
        |         CAST(SUM(s.wscore_ppm) AS BIGINT) AS score_ppm
        |  FROM members m JOIN wstats s ON m.w = s.w
        |  GROUP BY m.doc_id, m.run)
        |SELECT phrase, COUNT(*) AS n_occurrences, score_ppm
        |FROM cand GROUP BY phrase, score_ppm
        |ORDER BY score_ppm DESC, phrase LIMIT 15""".stripMargin),
    "q_text_blocklist" -> (qTextBlocklist _,
      s"""WITH hits AS (
        |  SELECT source,
        |         LEN(list_filter(STRING_SPLIT(LOWER(TRIM(text)), ' '),
        |             t -> t IN ($blocklistSql))) AS hits
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |       CAST(SUM(hits) AS BIGINT) AS n_hits,
        |       (1000000 * CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT))
        |         // COUNT(*) AS flagged_ppm
        |FROM hits GROUP BY source
        |ORDER BY source""".stripMargin),
    "q_text_readability" -> (qTextReadability _,
      """WITH counts AS (
        |  SELECT doc_id,
        |         LEN(regexp_extract_all(LOWER(text), '[a-z]+')) AS n_words,
        |         LEN(regexp_extract_all(LOWER(text), '[aeiouy]+')) AS n_syllables,
        |         GREATEST(LEN(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences
        |  FROM documents)
        |SELECT doc_id, n_words, n_syllables, n_sentences,
        |       ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |                     - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 4)
        |         + 0.0 AS flesch,
        |       ROUND(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |             + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59, 4)
        |         + 0.0 AS fk_grade
        |FROM counts WHERE n_words > 0
        |ORDER BY doc_id""".stripMargin),
    "q_text_perplexity" -> (qTextPerplexity _,
      """WITH toks AS (
        |  SELECT doc_id, lang, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, lang, UNNEST(CASE WHEN LEN(t) < 2 THEN []
        |    ELSE LIST_TRANSFORM(RANGE(1, LEN(t)),
        |      i -> struct_pack(w1 := t[i], w2 := t[i+1])) END) AS p
        |  FROM toks),
        |flat AS (SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2 FROM pairs),
        |lm_bi AS (
        |  SELECT w1, w2, COUNT(*) AS n_ab FROM flat WHERE lang = 'en' GROUP BY w1, w2),
        |lm_ctx AS (
        |  SELECT w1, COUNT(*) AS n_a FROM flat WHERE lang = 'en' GROUP BY w1),
        |vocab AS (
        |  SELECT CAST(COUNT(DISTINCT w) AS DOUBLE) AS v
        |  FROM (SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
        |        FROM documents WHERE lang = 'en')),
        |scored AS (
        |  SELECT f.doc_id, f.lang,
        |         CAST(FLOOR(-LOG2((CAST(COALESCE(b.n_ab, 0) AS DOUBLE) + 1.0)
        |           / (CAST(COALESCE(c.n_a, 0) AS DOUBLE) + v)) * 1000000 + 0.5) AS BIGINT)
        |           AS bits_micro
        |  FROM flat f
        |  LEFT JOIN lm_bi b USING (w1, w2)
        |  LEFT JOIN lm_ctx c USING (w1)
        |  CROSS JOIN vocab)
        |SELECT doc_id, lang, COUNT(*) AS n_bigrams,
        |       FLOOR(CAST(SUM(bits_micro) AS DOUBLE) / COUNT(*) + 0.5) / 1000000
        |         AS avg_bits
        |FROM scored GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin),
    "q_text_tokens" -> (qTextTokens _,
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS token
        |      FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin),
    "q_text_quality" -> (qTextQuality _,
      s"""WITH t AS (
        |  SELECT doc_id, n_chars, text,
        |         STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks FROM documents)
        |SELECT doc_id, n_chars,
        |       LEN(toks) AS n_tokens,
        |       LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_subtokens,
        |       ROUND(LIST_AGGREGATE(LIST_TRANSFORM(toks, t -> CAST(LENGTH(t) AS BIGINT)), 'sum')
        |         / CAST(LEN(toks) AS DOUBLE), 4) AS avg_token_len,
        |       ROUND(LEN(LIST_FILTER(toks, t -> t IN ($stopwordsSql)))
        |         / CAST(LEN(toks) AS DOUBLE), 4) AS stopword_ratio,
        |       ROUND(LEN(LIST_DISTINCT(toks)) / CAST(LEN(toks) AS DOUBLE), 4) AS distinct_ratio
        |FROM t ORDER BY doc_id""".stripMargin),
    "q_quality_flags" -> (qQualityFlags _,
      s"""WITH t AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS tok
        |  FROM documents),
        |per AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |         SUM(CAST(LENGTH(tok) AS BIGINT)) AS chars,
        |         SUM(CASE WHEN tok IN ($stopwordsSql) THEN 1 ELSE 0 END) AS stop_c,
        |         COUNT(DISTINCT tok) AS dis_c
        |  FROM t GROUP BY doc_id),
        |tc AS (
        |  SELECT doc_id, MAX(c) AS top_c
        |  FROM (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok)
        |  GROUP BY doc_id),
        |f AS (
        |  SELECT p.doc_id,
        |         p.n_tokens BETWEEN 20 AND 10000 AS f_len,
        |         CAST(p.chars AS DOUBLE) / p.n_tokens BETWEEN 2.0 AND 12.0 AS f_word_len,
        |         CAST(p.stop_c AS DOUBLE) / p.n_tokens >= 0.01 AS f_stopword,
        |         CAST(p.dis_c AS DOUBLE) / p.n_tokens >= 0.2 AS f_repetition,
        |         CAST(tc.top_c AS DOUBLE) / p.n_tokens <= 0.2 AS f_top_token
        |  FROM per p JOIN tc ON p.doc_id = tc.doc_id)
        |SELECT *, f_len AND f_word_len AND f_stopword AND f_repetition
        |          AND f_top_token AS keep
        |FROM f ORDER BY doc_id""".stripMargin),
    "q_text_langid" -> (qTextLangid _,
      s"""WITH t AS (
        |  SELECT lang, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks FROM documents),
        |scored AS (
        |  SELECT lang,
        |         CASE WHEN LEN(LIST_FILTER(toks, t -> t IN ($stopwordsSql)))
        |                   / CAST(LEN(toks) AS DOUBLE) >= 0.02
        |              THEN 'en' ELSE 'und' END AS lang_pred
        |  FROM t)
        |SELECT lang, lang_pred, COUNT(*) AS n
        |FROM scored GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin),
    "q_text_langid_ngram" -> (qTextLangidNgram _,
      """WITH docs AS (
        |  SELECT doc_id, lang, SUBSTRING(text, 1, 200) AS head FROM documents),
        |tri AS (
        |  SELECT doc_id, lang, UNNEST(LIST_DISTINCT(
        |    CASE WHEN LENGTH(head) < 3 THEN []
        |    ELSE LIST_TRANSFORM(RANGE(1, LENGTH(head) - 1), i -> SUBSTRING(head, i, 3)) END)) AS trigram
        |  FROM docs),
        |prof AS (
        |  SELECT lang AS profile_lang, trigram,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, trigram) AS rk
        |  FROM tri GROUP BY lang, trigram),
        |profiles AS (
        |  SELECT profile_lang, trigram, 51 - rk AS weight FROM prof WHERE rk <= 50),
        |scored AS (
        |  SELECT doc_id, profile_lang, SUM(weight) AS score
        |  FROM tri JOIN profiles USING (trigram)
        |  GROUP BY doc_id, profile_lang),
        |best AS (
        |  SELECT doc_id, profile_lang,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, profile_lang) AS rk
        |  FROM scored),
        |pred AS (
        |  SELECT d.doc_id, d.lang, COALESCE(b.profile_lang, 'und') AS lang_pred
        |  FROM docs d LEFT JOIN (SELECT doc_id, profile_lang FROM best WHERE rk = 1) b USING (doc_id))
        |SELECT lang, lang_pred, COUNT(*) AS n
        |FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin),
    "q_text_repetition" -> (qTextRepetition _,
      """WITH bg AS (
        |  SELECT doc_id, UNNEST(CASE WHEN LEN(toks) < 2 THEN []
        |    ELSE LIST_TRANSFORM(RANGE(1, LEN(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1]) END) AS bigram
        |  FROM (SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks
        |        FROM documents) t),
        |cnt AS (
        |  SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY doc_id, bigram),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |         COUNT(*) AS n_distinct, MAX(n) AS top_n
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |       ROUND(1.0 - n_distinct / CAST(n_bigrams AS DOUBLE), 4) AS dup_bigram_frac,
        |       ROUND(top_n / CAST(n_bigrams AS DOUBLE), 4) AS top_bigram_frac
        |FROM agg ORDER BY doc_id""".stripMargin),
    "q_text_entropy" -> (qTextEntropy _,
      """WITH ch AS (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LENGTH(text) + 1),
        |    i -> SUBSTRING(text, i, 1))) AS ch
        |  FROM documents WHERE LENGTH(text) > 0),
        |cnt AS (
        |  SELECT doc_id, ch, COUNT(*) AS n FROM ch GROUP BY doc_id, ch),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars_counted,
        |         LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
        |           LIST_TRANSFORM(LIST(n ORDER BY n), x -> x * LN(x))),
        |           (a, b) -> a + b) AS sum_nlogn
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_chars_counted,
        |       ROUND((LN(n_chars_counted) - sum_nlogn / n_chars_counted) / LN(2.0), 4)
        |         AS entropy
        |FROM agg ORDER BY doc_id""".stripMargin),
    "q_text_df" -> (qTextDf _,
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(LOWER(TRIM(text)), ' '))) AS token
        |  FROM documents),
        |total AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |df AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token)
        |SELECT token, df, ROUND(df / CAST(n_docs AS DOUBLE), 4) AS df_ratio
        |FROM df CROSS JOIN total
        |WHERE df / CAST(n_docs AS DOUBLE) >= 0.3
        |ORDER BY df DESC, token""".stripMargin),
    "q_text_pii" -> (qTextPii _,
      """SELECT doc_id,
        |  LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  LEN(REGEXP_EXTRACT_ALL(text, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phones,
        |  LEN(REGEXP_EXTRACT_ALL(text, '\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3,}\b')) AS n_ips,
        |  REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3,}\b', '<IP>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),
    "q_text_clean" -> (qTextClean _,
      """WITH c AS (
        |  SELECT doc_id, n_chars,
        |    TRIM(REGEXP_REPLACE(
        |      REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(
        |        REGEXP_REPLACE(text, '<[^>]+>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |      '[ ' || CHR(9) || CHR(13) || CHR(10) || ']+', ' ', 'g')) AS cleaned
        |  FROM documents)
        |SELECT doc_id, n_chars, LENGTH(cleaned) AS clean_chars, cleaned
        |FROM c ORDER BY doc_id""".stripMargin),
    "q_ngram_pmi" -> (qNgramPmi _,
      """WITH toks AS (
        |  SELECT STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t FROM documents),
        |pairs AS (
        |  SELECT UNNEST(CASE WHEN LEN(t) < 2 THEN []
        |    ELSE LIST_TRANSFORM(RANGE(1, LEN(t)),
        |      i -> struct_pack(w1 := t[i], w2 := t[i+1])) END) AS p
        |  FROM toks),
        |flat AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM pairs),
        |bi AS (SELECT w1, w2, COUNT(*) AS n_ab FROM flat GROUP BY w1, w2),
        |lft AS (SELECT w1, COUNT(*) AS n_a FROM flat GROUP BY w1),
        |rgt AS (SELECT w2, COUNT(*) AS n_b FROM flat GROUP BY w2),
        |tot AS (SELECT COUNT(*) AS t FROM flat),
        |scored AS (
        |  SELECT bi.w1, bi.w2, bi.n_ab,
        |         LN(CAST(bi.n_ab AS DOUBLE) * CAST(tot.t AS DOUBLE)
        |            / (CAST(lft.n_a AS DOUBLE) * CAST(rgt.n_b AS DOUBLE))) AS pmi_raw
        |  FROM bi JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot
        |  WHERE bi.n_ab >= 20)
        |SELECT w1, w2, n_ab, FLOOR(pmi_raw * 1000000 + 0.5) / 1000000 AS pmi
        |FROM scored ORDER BY pmi_raw DESC, w1, w2 LIMIT 40""".stripMargin),
    "q_ngram_top" -> (qNgramTop _,
      """WITH bg AS (
        |  SELECT doc_id, UNNEST(CASE WHEN LEN(toks) < 2 THEN []
        |    ELSE LIST_TRANSFORM(RANGE(1, LEN(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1]) END) AS bigram
        |  FROM (SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks
        |        FROM documents) t)
        |SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
        |FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 40""".stripMargin),
    "q_text_chunk" -> (qTextChunk _,
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks FROM documents)
        |SELECT doc_id, i AS chunk_idx,
        |       LEN(toks[i*32+1 : i*32+32]) AS n_tokens,
        |       ARRAY_TO_STRING(toks[i*32+1 : i*32+32], ' ') AS chunk
        |FROM t, UNNEST(RANGE(0, CAST(CEIL(LEN(toks) / 32.0) AS BIGINT))) AS u(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin),
    "q_text_fingerprint" -> (qTextFingerprint _,
      """SELECT doc_id,
        |       LIST_REDUCE(
        |         LIST_PREPEND(CAST(0 AS BIGINT),
        |           LIST_TRANSFORM(STRING_SPLIT(LOWER(TRIM(text)), ' '),
        |             t -> CAST(LENGTH(t) +
        |                  CASE WHEN t = '' THEN 0 ELSE UNICODE(t) END AS BIGINT))),
        |         (acc, v) -> (acc * 31 + v) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin),
  )
}
