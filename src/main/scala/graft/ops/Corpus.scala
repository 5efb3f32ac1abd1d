package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators beyond dedup (SURVEY.md §2.6 extensions) —
  * the remaining steps a training-data build runs between "raw documents"
  * and "training mix":
  *
  *  - decontamination: drop training docs that share long n-grams with an
  *    evaluation benchmark (the standard 8-to-13-gram overlap rule). The
  *    benchmark n-gram set is orders of magnitude smaller than the corpus,
  *    so it broadcasts and the corpus streams past it — one scan, no
  *    corpus-side shuffle until the per-doc count.
  *  - capped per-source sampling: at most N docs per source, chosen by a
  *    deterministic hash priority — the domain-mixing primitive. One
  *    window over a (source)-partitioned shuffle; at 100 TB the same
  *    expression runs per partition after a write-time bucketing by source.
  *  - TF-IDF top terms: per-document top-k terms by tf·ln(N/df) — the
  *    classic relevance score, all from codegen'd hash aggregates (token
  *    explode → tf; distinct explode → df; broadcast scalar N).
  *
  * Determinism notes baked into the oracles: scores use
  * floor(x·10⁶+0.5)/10⁶ instead of round() (identical IEEE arithmetic in
  * both engines — Spark's round goes through BigDecimal and diverges at
  * double midpoints), and every window carries a total tie-break.
  */
object Corpus extends QueryModule {

  /** Docs from this source play the role of the evaluation benchmark. */
  private val BenchmarkSource = "src0"
  private val GramSize = 8
  private val PerSourceCap = 5

  /** Distinct word 8-grams per doc: (doc_id, source, gram). Docs under 8
    * tokens contribute nothing (mirrors the oracle's list slicing). */
  private def gramTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), col("source"), explode(array_distinct(expr(
        s"""CASE WHEN size(toks) < $GramSize THEN array()
           |ELSE transform(sequence(0, size(toks) - $GramSize),
           |  i -> concat_ws(' ', slice(toks, i + 1, $GramSize)))
           |END""".stripMargin)))
        .as("gram"))

  /** Training docs contaminated by benchmark 8-gram overlap, with the
    * count of distinct shared grams — the drop list a decontamination
    * pass feeds back into corpus filtering. */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    // both join sides (benchmark grams AND corpus grams) consume this table
    // and Catalyst has no cross-branch reuse — same intra-query
    // materialization pattern as Dedup.jaccardPairs
    val grams = Materialize.shared(gramTable(spark, dir))
    val bench = grams.filter(col("source") === BenchmarkSource)
      .select(col("gram")).distinct()
    grams.filter(col("source") =!= BenchmarkSource)
      // bench is the small side: AQE broadcasts it, the corpus streams
      .join(bench, "gram")
      // grams are distinct per doc, so plain count = distinct shared grams
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** At most 5 docs per source by deterministic md5 priority — reproducible
    * across runs, partitionings, and engines (same hash both sides). */
  def qSampleCapped(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("priority",
        md5(concat(col("source"), lit(":"), col("doc_id").cast("string"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PerSourceCap)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy(col("doc_id"))
  }

  /** Top-3 terms per document by tf·ln(N/df), ranked on the RAW double
    * (identical in both engines) and floor-rounded only for display. */
  def qTfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("s").desc, col("token"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("s",
        col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("token"),
        (floor(col("s") * 1000000 + 0.5) / 1000000).as("tfidf"))
  }

  /** Misra-Gries heavy hitters over a token column: single-pass candidates
    * with at most `k` counters per partition, then an EXACT verify pass
    * restricted to the candidate set. The union of per-partition MG
    * summaries is a guaranteed superset of every global item with
    * freq > N/k (pigeonhole: Σf_p > ΣN_p/k forces f_p > N_p/k in some
    * partition, and MG with k counters never evicts such an item), so the
    * two-pass result is EXACT — which is why a plain GROUP BY/HAVING oracle
    * can verify a sketch. The 100 TB win: pass 1 carries ≤ k·partitions
    * rows into the candidate set (vs a full shuffle of every distinct
    * token), pass 2 semi-joins the stream against a broadcast candidate
    * list — the full token shuffle never happens. */
  def heavyHitters(tokens: DataFrame, tokenCol: String, k: Int): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    val toks = tokens.select(col(tokenCol).as("token"))
    val candidates = toks.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        if (counters.contains(t)) counters(t) += 1
        else if (counters.size < k) counters(t) = 1
        else {
          // decrement-all step over a snapshot (safe vs in-place mutation
          // during iteration); amortized O(1) per input token
          counters.toArray.foreach { case (key, v) =>
            if (v == 1) counters.remove(key) else counters.update(key, v - 1)
          }
        }
      }
      counters.keysIterator
    }.toDF("token").distinct()
    val counts = toks.join(broadcast(candidates), "token")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val total = toks.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      // integer cross-multiplication, not division: exact in both engines
      .filter(col("n") * k > col("total"))
      .select(col("token"), col("n"))
      .orderBy(col("n").desc, col("token"))
  }

  /** Corpus frequent-token mining: tokens holding > 1/40 of the stream. */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(
      Tables.documents(spark, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token")),
      "token", k = 40)

  /** Tokens a packed training sequence may hold. 256 keeps multiple docs
    * per bin on the synthetic corpus; production uses the model context. */
  private val PackBudget = 256L

  /** Greedy sequence packing — the LLM-pretraining batch-prep step: fit
    * documents into fixed-token-budget bins, first-fit in doc_id order
    * within each language shard. A doc that would overflow the open bin
    * closes it and starts the next (an over-budget doc therefore sits in
    * its own bin). Like [[graft.ops.EventAnalytics.throttle]], each
    * decision depends on the previous DECISION, not the previous row — the
    * "capacitor" recurrence no window function expresses — so it runs
    * through the typed API (groupByKey + flatMapGroups: one in-memory sort
    * + linear scan per shard) and the oracle replays the same recurrence as
    * a DuckDB recursive CTE. Per-shard memory is bounded by the shard's
    * doc count: lang is the natural shard here; at 100 TB a production run
    * adds a coarse sub-shard key (bins never need a global sequence — ids
    * get the shard prefix), which bounds every group the same way the
    * windows' day-buckets do. Output: every doc's bin index and the bin's
    * running fill — deterministic, so hash-verifiable. */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      // lang coalesced to '' in BOTH engines: a NULL shard key would pack
      // fine here but silently break the oracle's recursive join
      // (NULL never equi-joins), a latent cross-engine divergence
      .select(coalesce(col("lang"), lit("")).as("lang"), col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (lang, it) =>
        val sorted = it.toArray.sortBy(_._2)
        var fill = 0L
        var bin = -1L
        sorted.iterator.map { case (_, docId, n) =>
          if (bin < 0 || fill + n > PackBudget) { bin += 1; fill = n }
          else fill += n
          (lang, docId, n, bin, fill)
        }
      }
      .toDF("lang", "doc_id", "n_toks", "bin", "bin_fill")
      .orderBy(col("lang"), col("doc_id"))
  }

  /** BM25 keyword retrieval (Lucene/Okapi form, k1=1.2, b=0.75) for a fixed
    * 3-term query — the lexical half of hybrid retrieval (`q_rank_fusion`
    * fuses a dense and a lexical ranking; this is the real lexical ranker).
    *
    * Scale shape: document length is computed MAP-SIDE (`size(split(...))`,
    * no explode), the token explode is filtered to the broadcast query-term
    * set BEFORE any shuffle (so the per-doc tf aggregate sees ≤ |q| rows per
    * document, not the whole vocabulary), per-term df is a second tiny
    * aggregate over those rows, and N/avgdl ride a broadcast one-row cross
    * join — the same global-scalar pattern as `q_tfidf_top`. Determinism:
    * each per-(doc,term) score is floored to integer micro-units BEFORE the
    * per-doc sum, so the sum is integer arithmetic and immune to float
    * addition order; both engines evaluate the identical per-row IEEE
    * expression. Final top-10 is TakeOrderedAndProject, never a global sort.
    * (Ref behavior: reference ranks transformed tables by computed score
    * columns — dags/create-data-lake.py:63 orders by date/value; BM25 is
    * that ranking surface over text.) */
  def qBm25(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "vector", "stream")
    val docs = Tables.documents(spark, dir)
    val withLen = docs.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val stats = withLen.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = withLen
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("s_micro",
        floor((col("idf") * col("tf") * 2.2
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
          * 1000000 + 0.5).cast("long"))
      .groupBy(col("doc_id"))
      .agg((sum(col("s_micro")).cast("double") / 1000000).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
  }

  /** The monitored corpus slices and their pairs for `q_corpus_drift`.
    * Both the Spark columns and the DuckDB oracle SQL are GENERATED from
    * this one list, so the two engines cannot drift apart structurally. */
  private val driftSources = Seq("src0", "src1", "src2", "src3")
  private val driftPairs: Seq[(String, String)] =
    driftSources.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq

  /** One side's Jensen-Shannon term: 0.5 * p * log2(p / m) with
    * m = (p + q) / 2, zero when the token is absent from this side. Emitted
    * as SQL text shared verbatim by the Spark expression and the oracle. */
  private def driftTerm(c: String, n: String, co: String, no: String): String =
    s"(CASE WHEN $c > 0 THEN 0.5 * (CAST($c AS DOUBLE) / $n) * " +
      s"LOG2((CAST($c AS DOUBLE) / $n) / ((CAST($c AS DOUBLE) / $n + CAST($co AS DOUBLE) / $no) / 2.0)) " +
      s"ELSE 0.0 END)"

  private def driftContrib(a: String, b: String): String =
    s"CAST(FLOOR((${driftTerm(s"c_$a", s"n_$a", s"c_$b", s"n_$b")} + " +
      s"${driftTerm(s"c_$b", s"n_$b", s"c_$a", s"n_$a")}) * 1000000000000 + 0.5) AS BIGINT)"

  /** Corpus drift monitor: pairwise Jensen-Shannon divergence (log2, so
    * JSD ∈ [0,1]) between the unigram token distributions of monitored
    * corpus slices — the distribution-shift check a training-data pipeline
    * runs between corpus versions / web-crawl snapshots before mixing.
    *
    * Scale shape: ONE shuffle — tokens explode map-side, the per-token
    * per-slice counts are one hash aggregate keyed on the high-cardinality
    * token (slice membership is a conditional count, never a pivot or a
    * per-pair self-join on token), slice totals ride a broadcast one-row
    * cross join, every per-token pair contribution is map-side arithmetic
    * floored to integer picounits (so the final sum is order-independent
    * integer math), and the 6-pair reshape is a `stack` over a single
    * aggregated row. A per-pair full-outer self-join of the token table —
    * the naive plan — would shuffle the vocabulary |pairs| times. */
  def qCorpusDrift(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .filter(col("source").isin(driftSources: _*))
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
    val cntCols = driftSources.map(s =>
      count(when(col("source") === s, 1)).as(s"c_$s"))
    val cnt = toks.groupBy(col("token")).agg(cntCols.head, cntCols.tail: _*)
    val totCols = driftSources.map(s => sum(col(s"c_$s")).cast("double").as(s"n_$s"))
    val tot = cnt.agg(totCols.head, totCols.tail: _*)
    val perToken = driftPairs.foldLeft(cnt.crossJoin(broadcast(tot))) {
      case (d, (a, b)) =>
        d.withColumn(s"k_${a}_$b", expr(driftContrib(a, b)))
          .withColumn(s"u_${a}_$b",
            expr(s"CASE WHEN c_$a + c_$b > 0 THEN 1 ELSE 0 END"))
    }
    val sumCols = driftPairs.flatMap { case (a, b) =>
      Seq(sum(col(s"k_${a}_$b")).as(s"sk_${a}_$b"),
        sum(col(s"u_${a}_$b")).cast("long").as(s"su_${a}_$b"))
    }
    val one = perToken.agg(sumCols.head, sumCols.tail: _*)
    val stackArgs = driftPairs.map { case (a, b) =>
      s"'$a|$b', CAST(sk_${a}_$b AS DOUBLE) / 1000000000000, su_${a}_$b"
    }.mkString(", ")
    one.selectExpr(s"stack(${driftPairs.size}, $stackArgs) AS (pair, jsd, n_union)")
      .orderBy(col("pair"))
  }

  /** Temperature-flattened dataset mixing (the Pile/Llama data-mixture
    * recipe): per-source sampling weights w_s ∝ n_s^(1/2) (temperature
    * α = ½ upweights small sources relative to proportional sampling),
    * a half-corpus token budget, and DETERMINISTIC md5-threshold
    * acceptance per document — re-running, repartitioning, or appending
    * never flips an existing document's membership (the [[graft.ops
    * .Reshape.qSampleSplit]] stability contract, applied per source).
    *
    * Exactness: w_s is √n_s floor-quantized to integer milli-units, so
    * the weight TOTAL is an exact integer sum (a double Σ√n would sum in
    * engine-specific order and wobble thresholds at the ulp); each
    * source's acceptance threshold is one exact integer expression
    * floor(budget·w_s·2³² / (Σw·n_s)) in DECIMAL(38,0), capped at 2³²,
    * and acceptance compares the doc's md5-u32 against it. Oracle
    * replays every integer identically.
    *
    * Scale shape: one |sources|-row census (map-side combinable), the
    * threshold table broadcast back, acceptance map-only on the scan,
    * one final census aggregation. Two corpus passes, no shuffle of the
    * corpus itself. */
  def qCorpusMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val census = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .withColumn("w_milli", expr("CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1000) AS BIGINT)"))
    val tot = census.agg(sum(col("w_milli")).as("w_tot"),
      expr("CAST(div(sum(n_s), 2) AS BIGINT)").as("budget"))
    val thr = census.crossJoin(broadcast(tot))
      .withColumn("thr_u32", expr(
        """LEAST(CAST(4294967296 AS DECIMAL(38,0)),
          |  CAST(budget AS DECIMAL(38,0)) * w_milli * 4294967296
          |    div (CAST(w_tot AS DECIMAL(38,0)) * n_s))""".stripMargin))
      .select(col("source"), col("n_s"), col("w_milli"), col("thr_u32"))
    docs.join(broadcast(thr), "source")
      .withColumn("u32", conv(substring(md5(concat(lit("mix:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"))
      .groupBy(col("source"), col("n_s"), col("w_milli"))
      .agg(sum(when(col("u32") < col("thr_u32"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("u32") < col("thr_u32"), col("n_chars")).otherwise(0L))
          .as("sampled_chars"))
      .withColumn("accept_ppm", expr("div(1000000 * n_sampled, n_s)"))
      .orderBy(col("source"))
  }

  /** BPE-trainer inner-loop statistics: the adjacent-character pair
    * frequencies over the corpus vocabulary, each pair weighted by its
    * word's corpus frequency — the exact table a byte-pair-encoding
    * trainer argmaxes to pick its next merge. Emits the top-20 merge
    * candidates (count desc, pair lexical).
    *
    * Scale shape: the corpus collapses to the DISTINCT-WORD table first
    * (map-side-combinable rollup, cardinality bounded by the vocabulary,
    * not the corpus), so the per-character explode — the expensive
    * fan-out — runs once per TYPE, not once per token occurrence. Top-20
    * is a TakeOrdered. */
  def qBpePairStats(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("wf"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("wf"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> struct(substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum(col("wf")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left"), col("right"))
      .limit(20)
  }

  /** Unit separator between BPE tokens inside a word's working string.
    * The corpus alphabet is plain printable text, so U+001F can never
    * occur in a word; the builder still guards the invariant explicitly. */
  private val BpeSep = "\u001F"

  /** Word TYPE table as unit-separated character strings — the working
    * representation a BPE merge rewrites. Vocabulary-bounded. */
  private def bpeWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "" && !col("w").contains(BpeSep))
      .groupBy(col("w")).agg(count(lit(1)).as("wf"))
      .filter(length(col("w")) >= 2)
      .select(col("wf"),
        rtrim(regexp_replace(col("w"), "(.)", "$1" + BpeSep), BpeSep).as("s"))

  /** Adjacent-token pair frequencies over a (wf, s) working table. */
  private def bpePairs(tokens: DataFrame): DataFrame =
    tokens
      .select(col("wf"), split(col("s"), BpeSep).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("wf"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS l, t[i] AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("wf")).as("pc"))

  /** The winning merge of a pair table: highest corpus-weighted count,
    * ties broken lexically — the BPE trainer's argmax, as a 1-row frame. */
  private def bpeArgmax(pairs: DataFrame): DataFrame =
    pairs.orderBy(col("pc").desc, col("l"), col("r")).limit(1)
      .select(col("l").as("ml"), col("r").as("mr"), col("pc").as("mpc"))

  /** Rewrite every word by the 1-row merge table: the winning adjacent
    * pair fuses into one token. `replace` is left-to-right and
    * non-overlapping in BOTH engines (Spark UTF8String.replace, DuckDB
    * REPLACE) — exactly BPE's greedy merge convention, so "a a a" under
    * merge (a,a) becomes (aa, a) identically on both sides.
    *
    * Token-boundary discipline: a naive `replace(s, ml␟mr, mlmr)` would
    * match PARTIAL tokens once round 1 has created multi-char tokens —
    * merge (x,a) must not fire on `x␟ab`. The working string is therefore
    * rewritten to double-separator boundaries with single-separator ends
    * (`␟x␟␟ab␟`) and the pattern anchored on both sides
    * (`␟ml␟␟mr␟` → `␟mlmr␟`): a match now requires ml and mr to be WHOLE
    * tokens, and because the replacement re-emits one boundary separator
    * at each edge, adjacent chains still merge greedily left-to-right
    * (`a a a a` → `aa aa`, `a a a` → `aa a`). The result folds back to
    * the canonical single-separator form. Pure per-row string work in
    * both engines — no change to the vocabulary-bounded scale shape. */
  private def bpeApply(tokens: DataFrame, merge: DataFrame): DataFrame =
    tokens.crossJoin(broadcast(merge))
      .withColumn("s", expr(
        s"replace(trim(BOTH '$BpeSep' FROM replace(" +
          s"concat('$BpeSep', replace(s, '$BpeSep', '$BpeSep$BpeSep'), '$BpeSep'), " +
          s"concat('$BpeSep', ml, '$BpeSep$BpeSep', mr, '$BpeSep'), " +
          s"concat('$BpeSep', ml, mr, '$BpeSep'))), " +
          s"'$BpeSep$BpeSep', '$BpeSep')"))
      .drop("ml", "mr", "mpc") // pass through every other column (wf, or w for encode)

  /** Two live iterations of the BPE trainer's merge loop — the step
    * `q_bpe_pair_stats` only tabulates: round 1 picks the argmax adjacent
    * pair and fuses it across the vocabulary, round 2 re-counts (tokens
    * are now multi-character) and merges again, and the output carries
    * both chosen merges plus the top-8 surviving candidates (round 3) —
    * the trainer's next-iteration worklist.
    *
    * Scale shape: identical to `q_bpe_pair_stats` — the corpus collapses
    * to the distinct-word TYPE table once (the only corpus-sized rollup,
    * map-side combinable), and every rewrite/re-count runs per TYPE, so
    * each extra merge round costs vocabulary, not corpus. The argmax rows
    * are 1-row broadcasts. The TYPE table is checkpointed:
    * three pair censuses consume it and Catalyst has no cross-branch
    * reuse. */
  def qBpeMergeStep(spark: SparkSession, dir: String): DataFrame = {
    val w0 = Materialize.shared(bpeWords(spark, dir))
    val m1 = bpeArgmax(bpePairs(w0))
    val w1 = Materialize.shared(bpeApply(w0, m1))
    val m2 = bpeArgmax(bpePairs(w1))
    val w2 = bpeApply(w1, m2)
    val survivors = bpePairs(w2)
      .orderBy(col("pc").desc, col("l"), col("r")).limit(8)
    m1.select(lit(1L).as("round"), col("ml").as("left"),
        col("mr").as("right"), col("mpc").as("pair_count"))
      .unionAll(m2.select(lit(2L).as("round"), col("ml").as("left"),
        col("mr").as("right"), col("mpc").as("pair_count")))
      .unionAll(survivors.select(lit(3L).as("round"), col("l").as("left"),
        col("r").as("right"), col("pc").as("pair_count")))
      .orderBy(col("round"), col("pair_count").desc, col("left"), col("right"))
  }

  /** Good-Turing frequency-of-frequencies — the smoothing table an n-gram
    * language model reads: for the 20 SMALLEST observed unigram
    * frequencies r (the low-count region smoothing exists for — an
    * absolute r ≤ 20 cut can be empty when the corpus vocabulary is
    * small and every type is frequent),
    * the number of word types N_r seen exactly r times, the smoothed
    * re-estimate r* = (r+1)·N_{r+1}/N_r as a truncating ppm division
    * (N_{r+1} is the count at EXACTLY r+1 — a gap in the frequency
    * spectrum means 0, the standard unsmoothed-GT convention), and the
    * corpus-level unseen-mass estimate p₀ = N₁/N.
    *
    * Scale shape: one corpus-sized token rollup to the TYPE table, one
    * vocabulary-sized rollup to the frequency spectrum; the lead window
    * runs UNPARTITIONED but over the spectrum, whose cardinality is the
    * number of DISTINCT frequencies (hundreds at any corpus size —
    * bounded-aggregate house rule), never the corpus. */
  def qGoodTuring(spark: SparkSession, dir: String): DataFrame = {
    val fof = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("wf"))
      .groupBy(col("wf").as("r")).agg(count(lit(1)).as("n_r"))
    val tot = fof.agg(
      sum(col("r") * col("n_r")).cast("long").as("n_tokens"),
      sum(col("n_r")).cast("long").as("n_types"),
      sum(when(col("r") === 1, col("n_r")).otherwise(0L)).cast("long").as("n1"))
    val w = Window.orderBy(col("r"))
    fof
      .withColumn("r_next", lead(col("r"), 1).over(w))
      .withColumn("n_next", when(col("r_next") === col("r") + 1,
        lead(col("n_r"), 1).over(w)).otherwise(0L))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        expr("div(1000000 * (r + 1) * n_next, n_r)").as("r_star_ppm"),
        col("n_tokens"), col("n_types"),
        expr("div(1000000 * n1, n_tokens)").as("p0_ppm"))
      .orderBy(col("r"))
  }

  /** Per-source quality scorecard — the table a crawl-inclusion decision
    * reads: document count, exact mean length, short-doc rate (< 100
    * chars), exact-duplicate rate (md5(text) seen more than once within
    * the source), and language spread. Everything is integer counting up
    * to single IEEE divisions; the dup census rides a map-side-combinable
    * (source, hash) rollup on the high-cardinality hash key — no
    * self-join, no corpus-wide distinct. */
  def qSourceQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val dups = d.groupBy(col("source"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_docs"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("short_docs"),
        countDistinct(col("lang")).as("n_langs"))
      .join(dups, "source")
      .withColumn("mean_chars", col("sum_chars").cast("double") / col("n_docs").cast("double"))
      .withColumn("short_rate", col("short_docs").cast("double") / col("n_docs").cast("double"))
      .withColumn("dup_rate", col("dup_docs").cast("double") / col("n_docs").cast("double"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("mean_chars"),
        col("short_rate"), col("dup_docs"), col("dup_rate"))
      .orderBy(col("source"))
  }

  /** Preference-pair mining for RLHF/DPO-style training sets: within each
    * (lang, source) cell, pair the highest- and lowest-quality document
    * under a deterministic integer quality proxy
    * (1000·|distinct tokens| + n_chars), keeping the pair only when the
    * margin is positive. The whole operator is ONE map-side-combinable
    * aggregation — chosen/rejected are max/min over a (score, doc_id)
    * struct, so partials combine associatively and nothing corpus-sized
    * ever sorts or windows; at 100 TB the shuffle carries one row per
    * (lang, source) cell per map task. The struct tie-break (max → larger
    * doc_id, min → smaller) is mirrored in the oracle's window ordering. */
  def qPreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("lang"), col("source"), col("doc_id"),
        (size(array_distinct(col("toks"))).cast("long") * 1000 + col("n_chars"))
          .as("s"))
    scored.groupBy(col("lang"), col("source"))
      .agg(max(struct(col("s"), col("doc_id"))).as("ch"),
        min(struct(col("s"), col("doc_id"))).as("rj"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2 && col("ch.s") > col("rj.s"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("ch.doc_id").as("chosen_id"), col("ch.s").as("chosen_score"),
        col("rj.doc_id").as("rejected_id"), col("rj.s").as("rejected_score"),
        (col("ch.s") - col("rj.s")).as("margin"))
      .orderBy(col("lang"), col("source"))
  }

  /** Stupid-backoff bigram language-model scores (Brants et al. 2007) over
    * a 20-bigram probe set: the 10 most frequent OBSERVED bigrams score
    * c(w1w2)/c(w1); 10 constructed pairs (i-th most frequent unigram
    * followed by the i-th rarest) exercise the backoff branch
    * 0.4·c(w2)/N whenever the pair is unseen. Scores are ppm integers
    * under truncating division, so both engines agree bit-for-bit.
    * Scale shape: the unigram/bigram tables are vocabulary-bounded rollups
    * of one corpus pass each (map-side combinable — bigram TYPES, not
    * corpus positions, survive the combine), the probe set is ≤ 20 rows,
    * and every join against it broadcasts. */
  def qNgramBackoff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    // vocabulary-bounded; feeds five consumers below (same lazy-checkpoint
    // reuse pattern as qDecontaminate's gram table)
    val uni = Materialize.shared(docs.select(explode(col("toks")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val big = Materialize.shared(docs.select(explode(expr(
      """CASE WHEN size(toks) < 2 THEN array()
        |ELSE transform(sequence(0, size(toks) - 2),
        |  i -> struct(toks[i] AS w1, toks[i + 1] AS w2)) END""".stripMargin))
      .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val wTop  = Window.orderBy(col("c").desc, col("w"))
    val wRare = Window.orderBy(col("c").asc, col("w"))
    // row_number over the post-limit 10-row frame: single tiny partition
    val top10 = uni.orderBy(col("c").desc, col("w")).limit(10)
      .withColumn("rk", row_number().over(wTop)).select(col("rk"), col("w").as("w1"))
    val rare10 = uni.orderBy(col("c").asc, col("w")).limit(10)
      .withColumn("rk", row_number().over(wRare)).select(col("rk"), col("w").as("w2"))
    val topBig = big.orderBy(col("c12").desc, col("w1"), col("w2")).limit(10)
      .select(col("w1"), col("w2"))
    val probes = topBig.unionByName(top10.join(rare10, "rk")
      .select(col("w1"), col("w2"))).distinct()
    val nTot = uni.agg(sum(col("c")).cast("long").as("n_tot"))
    probes
      .join(big, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .withColumn("seen", col("c12").isNotNull)
      .withColumn("score_ppm",
        when(col("seen"), expr("div(1000000 * c12, c1)"))
          .otherwise(expr("div(400000 * c2, n_tot)")))
      .select(col("w1"), col("w2"), col("seen"), col("score_ppm"))
      .orderBy(col("w1"), col("w2"))
  }

  /** Per-language tokenizer-fertility card — the metric multilingual
    * tokenizer papers report (subword tokens per whitespace word; chars per
    * subword as the compression dual). The subword count is the native
    * codegen'd [[graft.functions.SubTokenCount]] (runs of letters / digits /
    * single punctuation — the BPE-ish pre-tokenization), so the corpus pass
    * is one fused scan with NO regex match array ever materialized; the
    * rollup is map-side combinable and the output is bounded by |lang|.
    * Ratios are ppm integers under truncating division — bit-identical in
    * both engines. At 100 TB this is the cheapest shape there is: one
    * map-combined aggregation, a |lang|-row result, no joins. */
  def qTokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("w"),
        expr("subtoken_count(text)").cast("long").as("st"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("st")).as("n_subtokens"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subtokens"),
        expr("div(1000000 * n_subtokens, n_words)").as("fertility_ppm"),
        expr("div(1000000 * sum_chars, n_subtokens)").as("chars_per_subtoken_ppm"))
      .orderBy(col("lang"))
  }

  /** Curriculum-learning difficulty bins — the 4-tier card a staged
    * training run samples from (easy→hard ordering per curriculum-learning
    * practice): per-document difficulty is the mean RELATIVE corpus
    * frequency of its tokens in ppm (frequent-token docs are "easy"), a
    * value BOUNDED in [0, 10⁶] at any corpus size, which is what makes the
    * quartile split scale-safe: thresholds come from a cumulative window
    * over the ≤10⁵-row bucket PROFILE (difficulty div 10 — fine enough to
    * resolve this corpus's narrow ~30–34k-ppm difficulty band), never a
    * corpus-sized global sort — the q_percentile_disc lesson applied at the
    * domain level. Shapes: one vocabulary-bounded unigram rollup
    * (broadcast), one per-doc rollup, a ≤1001-row profile window, and a
    * 4-row census; quartile tie-handling is "min bucket with cum ≥
    * ⌈kN/4⌉", identical integer arithmetic in both engines. */
  def qCurriculumBins(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val rel = uni.crossJoin(broadcast(uni.agg(sum(col("c")).as("n_tot"))))
      .select(col("w"), expr("div(1000000 * c, n_tot)").as("r_ppm"))
    val perDoc = Materialize.shared(tok.join(broadcast(rel), Seq("w"))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(expr("div(sum(r_ppm), count(1))").as("d_ppm"))
      .withColumn("bucket", expr("div(d_ppm, 10)"))) // feeds the profile AND the census
    val prof = perDoc.groupBy(col("bucket")).agg(count(lit(1)).as("cn"))
    val cum = prof
      .withColumn("cum", sum(col("cn")).over(Window.orderBy(col("bucket"))))
      .crossJoin(broadcast(perDoc.agg(count(lit(1)).as("n"))))
    val th = cum.agg(
      min(when(col("cum") >= expr("div(1 * n + 3, 4)"), col("bucket"))).as("t1"),
      min(when(col("cum") >= expr("div(2 * n + 3, 4)"), col("bucket"))).as("t2"),
      min(when(col("cum") >= expr("div(3 * n + 3, 4)"), col("bucket"))).as("t3"))
    perDoc.crossJoin(broadcast(th))
      .withColumn("bin", lit(1)
        + when(col("bucket") > col("t1"), 1).otherwise(0)
        + when(col("bucket") > col("t2"), 1).otherwise(0)
        + when(col("bucket") > col("t3"), 1).otherwise(0))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("d_ppm")).as("min_ppm"), max(col("d_ppm")).as("max_ppm"),
        expr("div(sum(n_chars), count(1))").as("avg_chars"))
      .orderBy(col("bin"))
  }

  /** CCNet-style LM-quality bucketing — the head/middle/tail split CCNet
    * cuts a crawl into before sampling: each document is scored by the
    * per-bigram stupid-backoff LM trained on the corpus itself (the exact
    * scoring rule `q_ngram_backoff` probes: seen bigram → 10⁶·c12/c1,
    * unseen → 0.4·10⁶·c2/N, truncating integer ppm so both engines agree
    * bit-for-bit), documents are ranked per LANGUAGE, and the per-language
    * terciles become the head (most-probable), middle, tail buckets a
    * pipeline samples with different rates. Output: one census row per
    * (lang, tier) with the doc count, ppm score range, and mean chars.
    *
    * Scale shape: the LM tables are TYPE-bounded (unigrams |V|, bigrams
    * |V|²-capped but in practice ≪ corpus; both broadcast here — on an
    * open-vocabulary corpus the bigram join degrades gracefully to a
    * shuffle-hash join keyed on the bigram, never anything corpus²), the
    * corpus pass is one bigram explode (linear in tokens) feeding a
    * per-doc rollup, and the tercile thresholds come from a cumulative
    * window over the ≤10³-row per-language bucket PROFILE — the
    * `q_curriculum_bins` lesson: never a corpus-sized global sort. */
  /** Per-document stupid-backoff bigram-LM score (the CCNet quality
    * signal), factored out so the tercile cut ([[qCcnetBuckets]]) and the
    * threshold sweep ([[qFilterSweep]]) share ONE derivation — the LM
    * tables, the ppm scoring rule, and the 1k-ppm bucket grain cannot
    * drift between the two certificates. Returns (doc_id, lang, n_chars,
    * m_ppm, bucket). */
  private def lmScoredDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val bigramsOf = expr(
      """CASE WHEN size(toks) < 2 THEN array()
        |ELSE transform(sequence(0, size(toks) - 2),
        |  i -> struct(toks[i] AS w1, toks[i + 1] AS w2)) END""".stripMargin)
    // vocabulary-bounded; feeds the two unigram joins AND the total
    val uni = Materialize.shared(docs.select(explode(col("toks")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val big = docs.select(explode(bigramsOf).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val nTot = uni.agg(sum(col("c")).cast("long").as("n_tot"))
    val docBig = docs
      .select(col("doc_id"), col("lang"), col("n_chars"), explode(bigramsOf).as("b"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val perDoc = docBig
      .join(broadcast(big), Seq("w1", "w2"), "left")
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .withColumn("score_ppm",
        when(col("c12").isNotNull, expr("div(1000000 * c12, c1)"))
          .otherwise(expr("div(400000 * c2, n_tot)")))
      .groupBy(col("doc_id"), col("lang"), col("n_chars"))
      .agg(expr("div(sum(score_ppm), count(1))").as("m_ppm"))
      .withColumn("bucket", expr("div(m_ppm, 1000)"))
    perDoc
  }

  def qCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Materialize.shared(lmScoredDocs(spark, dir)) // feeds the profile AND the census
    val prof = perDoc.groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("cn"))
    val cum = prof
      .withColumn("cum", sum(col("cn"))
        .over(Window.partitionBy(col("lang")).orderBy(col("bucket"))))
      .join(broadcast(perDoc.groupBy(col("lang")).agg(count(lit(1)).as("nl"))), Seq("lang"))
    val th = cum.groupBy(col("lang")).agg(
      min(when(col("cum") >= expr("div(1 * nl + 2, 3)"), col("bucket"))).as("t1"),
      min(when(col("cum") >= expr("div(2 * nl + 2, 3)"), col("bucket"))).as("t2"))
    perDoc.join(broadcast(th), Seq("lang"))
      .withColumn("tier_n", lit(1)
        + when(col("bucket") > col("t1"), 1).otherwise(0)
        + when(col("bucket") > col("t2"), 1).otherwise(0))
      .withColumn("tier", expr(
        "CASE tier_n WHEN 3 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"))
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("m_ppm")).as("min_ppm"), max(col("m_ppm")).as("max_ppm"),
        expr("div(sum(n_chars), count(1))").as("avg_chars"))
      .orderBy(col("lang"), col("tier"))
  }

  /** Quality-filter threshold sweep — the tuning curve a corpus build
    * consults BEFORE fixing its CCNet-style cut: for each global decile
    * threshold of the bigram-LM score distribution, how many documents and
    * characters survive a "keep score ≥ threshold" filter. The selectivity
    * curve (kept ppm per candidate threshold) is what turns "filter at the
    * 70th percentile" from folklore into a measured trade-off.
    *
    * Scale shape: one corpus pass builds the per-document scores (shared
    * derivation with [[qCcnetBuckets]] via [[lmScoredDocs]]), ONE rollup
    * reduces them to the bounded score-bucket profile (≤10³ rows), and the
    * entire 9-threshold sweep runs on that profile — the corpus is never
    * multiplied by the number of candidate thresholds. */
  def qFilterSweep(spark: SparkSession, dir: String): DataFrame = {
    // bounded profile feeds cum + sweep
    val prof = Materialize.shared(lmScoredDocs(spark, dir)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cn"), sum(col("n_chars")).as("ch")))
    val n = prof.agg(sum(col("cn")).as("n_all"))
    val cumd = prof
      .withColumn("cum", sum(col("cn")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(n))
    val tAggs = (1 to 9).map(k =>
      min(when(col("cum") >= expr(s"div($k * n_all + 9, 10)"), col("bucket")))
        .as(s"t$k"))
    val th = cumd.agg(tAggs.head, tAggs.tail: _*)
    val thresholds = th.select(explode(expr(
      (1 to 9).map(k => s"struct($k AS k, t$k AS threshold_bucket)")
        .mkString("array(", ", ", ")"))).as("s"))
      .select(col("s.k"), col("s.threshold_bucket"))
    prof.crossJoin(broadcast(thresholds))
      .filter(col("bucket") >= col("threshold_bucket"))
      .groupBy(col("k"), col("threshold_bucket"))
      .agg(sum(col("cn")).as("n_docs_kept"), sum(col("ch")).as("chars_kept"))
      .crossJoin(broadcast(n))
      .withColumn("kept_ppm", expr("div(1000000 * n_docs_kept, n_all)"))
      .select(col("k"), col("threshold_bucket"), col("n_docs_kept"),
        col("kept_ppm"), col("chars_kept"))
      .orderBy(col("k"))
  }

  /** Tokenizer APPLICATION — encode the whole corpus with the 2-merge BPE
    * vocabulary `q_bpe_merge_step` trains, and report the per-language
    * compression card a tokenizer team reads before freezing a vocab:
    * words, emitted subtokens, fertility (subtokens per word, ppm),
    * tokens-per-char (the compression dual), and the fraction of word
    * occurrences the learned merges actually shortened. Training replays
    * `q_bpe_merge_step` exactly (same type table, same argmax/tie rules),
    * so the applied merges ARE the trained ones, cross-checked in tests.
    *
    * Scale shape: the encode cost is VOCABULARY-bounded, not corpus-
    * bounded — merges rewrite the distinct-word TYPE table once (the
    * boundary-anchored replace of `bpeApply`), and the corpus only pays
    * one (lang, word) rollup plus a broadcast join from that rollup to
    * the ≤|V|-row encoded table. At 100 TB the corpus-sized pass is the
    * map-side-combinable word count; everything else is |V|. */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    // feeds the type table AND the census join
    val wl = Materialize.shared(Tables.documents(spark, dir)
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "" && !col("w").contains(BpeSep))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("wf")))
    // training twin of qBpeMergeStep: global type table, len >= 2
    val w0 = Materialize.shared(bpeWords(spark, dir))
    val m1 = bpeArgmax(bpePairs(w0))
    val m2 = bpeArgmax(bpePairs(bpeApply(w0, m1)))
    // encode EVERY type (len-1 words pass the anchored replace untouched)
    val types = wl.select(col("w")).distinct()
      .select(col("w"),
        rtrim(regexp_replace(col("w"), "(.)", "$1" + BpeSep), BpeSep).as("s"))
    val enc = bpeApply(bpeApply(types, m1), m2)
      .select(col("w"), size(split(col("s"), BpeSep)).cast("long").as("n_sub"))
    wl.join(broadcast(enc), Seq("w"))
      .groupBy(col("lang"))
      .agg(sum(col("wf")).as("n_words"),
        sum(col("wf") * col("n_sub")).as("n_subtokens"),
        sum(col("wf") * length(col("w")).cast("long")).as("n_chars_w"),
        sum(when(col("n_sub") < length(col("w")), col("wf")).otherwise(0L))
          .as("n_merged_words"))
      .select(col("lang"), col("n_words"), col("n_subtokens"),
        expr("div(1000000 * n_subtokens, n_words)").as("fertility_ppm"),
        expr("div(1000000 * n_subtokens, n_chars_w)").as("tokens_per_char_ppm"),
        expr("div(1000000 * n_merged_words, n_words)").as("merged_word_ppm"))
      .orderBy(col("lang"))
  }

  /** Temperature-scaled mixture weights — the multilingual sampling rule
    * (mT5/XLM-R style): cell probability p = n/N is flattened to p^α so
    * rare (lang, source) cells are upsampled; α = 1/4, computed as
    * sqrt(sqrt(p)) because IEEE-754 requires sqrt to be CORRECTLY
    * ROUNDED — two sqrts give bit-identical doubles in every conforming
    * engine, where a library pow() would not. The per-cell weight is
    * quantized to an integer (floor micro-units) BEFORE any sum, so no
    * result ever depends on float summation order. Output per cell:
    * raw count, weight, normalized share, the expected docs drawn into a
    * budget = N/4 epoch, and the resulting upsampling factor in ppm
    * (>10⁶ means the cell is repeated).
    *
    * Scale shape: one map-side-combinable rollup to the |lang|×|source|
    * cell table; everything after is cell-bounded arithmetic over two
    * 1-row broadcasts. The cheapest shape there is. */
  def qTemperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    // feeds the total AND the weights
    val cells = Materialize.shared(Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_docs")))
    val tot = cells.agg(sum(col("n_docs")).as("n_tot"))
    val w = cells.crossJoin(broadcast(tot))
      .withColumn("w_micro", expr(
        "CAST(floor(sqrt(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE))) * 1000000) AS BIGINT)"))
    val wTot = w.agg(sum(col("w_micro")).as("w_tot"))
    w.crossJoin(broadcast(wTot))
      .select(col("lang"), col("source"), col("n_docs"), col("w_micro"),
        expr("div(1000000 * w_micro, w_tot)").as("share_ppm"),
        expr("div(div(n_tot, 4) * w_micro, w_tot)").as("epoch_docs"),
        expr("div(1000000 * div(div(n_tot, 4) * w_micro, w_tot), n_docs)")
          .as("upsample_ppm"))
      .orderBy(col("lang"), col("source"))
  }

  /** Deterministic epoch shuffle + shard placement — the data-ordering
    * step a training run needs before reading: every document gets a
    * fresh pseudo-random position each epoch (keyed md5, no RNG state),
    * is routed to one of 16 shards, and ordered within its shard. The
    * output is the per-(epoch, shard) placement CERTIFICATE: doc count,
    * the first and last document served, and a positional checksum
    * Σ (pos·doc_id) mod 1000000007 that any two independent
    * implementations of the same shuffle must reproduce exactly — the
    * cross-engine proof that the full permutation, not just the
    * membership, matches.
    *
    * Scale shape: hash + route is map-only; the only stateful step is a
    * row_number window PARTITIONED on (epoch, shard) — embarrassingly
    * parallel, each partition sorts its own shard. The modular checksum
    * keeps every accumulator in BIGINT range at any corpus size (terms
    * < 10⁹ each; re-reduce cadence documented for >10⁹-row shards). */
  def qEpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val M = 1000000007L
    val epochs = spark.range(1, 4).toDF("epoch")
    val keyed = Tables.documents(spark, dir).select(col("doc_id"))
      .crossJoin(broadcast(epochs))
      .withColumn("u", expr(
        "CAST(conv(substring(md5(concat('ep', CAST(epoch AS STRING), ':', " +
          "CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("shard", expr("u % 16"))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard")).orderBy(col("u"), col("doc_id"))))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        expr("min_by(doc_id, pos)").as("head_doc"),
        expr("max_by(doc_id, pos)").as("tail_doc"),
        expr(s"sum(((pos % $M) * (doc_id % $M)) % $M) % $M").as("order_checksum"))
      .orderBy(col("epoch"), col("shard"))
  }

  /** T5-style span-corruption batch prep — the census of the denoising
    * objective: tokens are masked in (up to) 3-token spans chosen by a
    * deterministic keyed hash at rate 3/20 per span slot (≈15% of tokens),
    * each contiguous masked span collapses to one sentinel in the input
    * and expands to sentinel+span in the target. Output per language:
    * docs, tokens, masked tokens, spans, the exact input/target token
    * budgets a batch packer allocates from, the realized corruption rate,
    * and the mean span length (ppm).
    *
    * Scale shape: pure map — the mask is evaluated per token via a
    * higher-order `filter` over `sequence(0, n-1)` inside codegen (no
    * explode: the corpus is never multiplied by document length before
    * aggregation — the `char_entropy` lesson), followed by one
    * map-side-combinable rollup to |lang| rows. */
  def qSpanCorruption(spark: SparkSession, dir: String): DataFrame = {
    def maskCount(seqExpr: String, gExpr: String) =
      s"""CAST(size(filter($seqExpr,
         |  x -> CAST(conv(substring(md5(concat('span:', CAST(doc_id AS STRING), ':',
         |    CAST($gExpr AS STRING))), 1, 15), 16, 10) AS BIGINT) % 20 < 3)) AS LONG)""".stripMargin
    Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("m", expr(maskCount("sequence(0, CAST(n AS INT) - 1)", "div(x, 3)")))
      .withColumn("sp", expr(maskCount("sequence(0, CAST(div(n - 1, 3) AS INT))", "x")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        sum(col("m")).as("n_masked"),
        sum(col("sp")).as("n_spans"),
        sum(col("n") - col("m") + col("sp")).as("input_tokens"),
        sum(col("m") + col("sp")).as("target_tokens"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_masked"),
        col("n_spans"), col("input_tokens"), col("target_tokens"),
        expr("div(1000000 * n_masked, n_tokens)").as("corrupt_ppm"),
        when(col("n_spans") === 0, lit(null).cast("long"))
          .otherwise(expr("div(1000000 * n_masked, n_spans)")).as("mean_span_ppm"))
      .orderBy(col("lang"))
  }

  /** SFT chat-template rendering census — the formatting pass that turns
    * mined instruction data into model-ready sequences: each document is
    * split into a prompt (first 8 tokens) and a response (the rest),
    * rendered into the chat markup the trainer consumes
    * (`<|user|>…<|assistant|>…<|end|>`), and budgeted (3 special tokens +
    * content; truncation flagged at the 64-token context). The per-(lang,
    * source) rollup carries the rendered-character sum so the cross-engine
    * hash pins the STRING CONSTRUCTION itself, not just the counts — a
    * template drift (missing newline, swapped marker) changes the sum.
    *
    * Scale shape: pure map over the corpus, one map-side-combinable rollup
    * to |lang×source| cells. Nothing shuffles but the 100-cell result. */
  def qChatTemplate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("rendered", expr(
        """concat('<|user|>\n', concat_ws(' ', slice(toks, 1, 8)),
          |  '\n<|assistant|>\n',
          |  concat_ws(' ', slice(toks, 9, greatest(size(toks) - 8, 0))), '<|end|>')"""
          .stripMargin))
      .withColumn("seq_tokens", col("n") + lit(3L))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("seq_tokens") > 64, 1L).otherwise(0L)).as("n_truncated"),
        sum(col("seq_tokens")).as("sum_seq_tokens"),
        max(col("seq_tokens")).as("max_seq_tokens"),
        sum(length(col("rendered")).cast("long")).as("sum_rendered_chars"))
      .withColumn("trunc_ppm", expr("div(1000000 * n_truncated, n_records)"))
      .orderBy(col("lang"), col("source"))

  /** Dataset card — the one-page "datasheet for the dataset" a corpus
    * release ships with, computed as a single certificate table of named
    * integer facts: sizes (docs, tokens, vocabulary, languages, sources),
    * hygiene (REMOVABLE exact-duplicate ppm — c−1 excess copies per
    * duplicate group, what a dedup pass would delete; short-doc ppm), and
    * shape (mean/p50/p90
    * document length). Percentiles come from the BOUNDED length-bucket
    * profile (cumulative counts over ≤ token-length-domain rows), never a
    * corpus-wide sort — the `q_curriculum_bins` discipline.
    *
    * Scale shape: three map-side-combinable rollups (corpus stats, dup
    * groups, length profile) + cell-bounded assembly. The card is the
    * cheapest full-corpus artifact there is — and the first thing a 100 TB
    * ingest should publish. */
  def qDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Materialize.shared(Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("n", size(col("toks")).cast("long"))) // feeds stats, dups, vocab, profile
    val basic = docs.agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(when(col("n") < 35, 1L).otherwise(0L)).as("n_short"))
    val vocab = docs.select(explode(col("toks")).as("token"))
      .agg(countDistinct(col("token")).as("vocab_size"))
    // c-1 per group: the EXCESS copies an exact-dedup pass would remove
    // (sum(c) would double-count the kept representative — a pairwise dup
    // would read as 2x the removable rate)
    val dups = docs.groupBy(md5(lower(trim(col("text")))).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L)).as("n_dup_docs"))
    val prof = docs.groupBy(col("n")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("n")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pcts = prof.crossJoin(broadcast(basic.select(col("n_docs").as("nd"))))
      .agg(min(when(col("cum") >= expr("div(nd + 1, 2)"), col("n"))).as("p50_doc_tokens"),
        min(when(col("cum") >= expr("least(div(9 * nd, 10) + 1, nd)"), col("n")))
          .as("p90_doc_tokens"))
    basic.crossJoin(broadcast(vocab)).crossJoin(broadcast(dups))
      .crossJoin(broadcast(pcts))
      .select(explode(expr(
        """array(
          |  struct('n_docs' AS metric, n_docs AS value),
          |  struct('n_tokens' AS metric, n_tokens AS value),
          |  struct('n_langs' AS metric, n_langs AS value),
          |  struct('n_sources' AS metric, n_sources AS value),
          |  struct('vocab_size' AS metric, vocab_size AS value),
          |  struct('dup_doc_ppm' AS metric, div(1000000 * n_dup_docs, n_docs) AS value),
          |  struct('short_doc_ppm' AS metric, div(1000000 * n_short, n_docs) AS value),
          |  struct('mean_doc_tokens_milli' AS metric, div(1000 * n_tokens, n_docs) AS value),
          |  struct('p50_doc_tokens' AS metric, p50_doc_tokens AS value),
          |  struct('p90_doc_tokens' AS metric, p90_doc_tokens AS value))""".stripMargin)).as("m"))
      .select(col("m.metric"), col("m.value"))
      .orderBy(col("metric"))
  }

  /** Prefix-cache hit-rate census — the SERVING-side planning number a
    * KV-cache-sharing deployment wants from its corpus: how many requests
    * share an exact 3-token prefix with an earlier one (each group of c
    * identical prefixes serves c−1 requests from cache), and how many
    * prefix-characters of recompute that saves. The per-(lang, prefix)
    * rollup is the only corpus-sized pass; everything after is
    * group-bounded arithmetic.
    *
    * Scale shape: one map-side-combinable hash aggregation on (lang,
    * prefix); at 100 TB this is the exact shape of the prefix-popularity
    * table a router builds to decide what to pin. */
  def qPrefixCache(spark: SparkSession, dir: String): DataFrame = {
    val pref = Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("lang"),
        expr("concat_ws(' ', slice(toks, 1, 3))").as("prefix"))
      .withColumn("plen", length(col("prefix")).cast("long"))
    pref.groupBy(col("lang"), col("prefix"))
      .agg(count(lit(1)).as("c"), min(col("plen")).as("plen"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_prefixes"),
        sum((col("c") - 1) * col("plen")).as("chars_saved"),
        max(col("c")).as("hottest_prefix_docs"))
      .withColumn("cache_hit_ppm",
        expr("div(1000000 * (n_docs - n_prefixes), n_docs)"))
      .orderBy(col("lang"))
  }

  /** Preference-pair degeneracy audit (ROUGE-style set overlap) — the QA
    * pass RLHF data runs before training: a chosen/rejected pair whose
    * texts are near-identical teaches the reward model nothing (and a
    * pair with zero overlap is probably mis-mined), so for every mined
    * pair ([[qPreferencePairs]]'s exact max/min-struct selection, reused
    * verbatim) compute unigram- and bigram-set F1 between the two sides —
    * 2·|A∩B|/(|A|+|B|) in exact ppm — and roll up per language with the
    * degenerate count (F1 > 0.5).
    *
    * Scale shape: pair mining is the one corpus rollup; overlap is
    * map-only per pair on the ≤|lang×source| mined pairs, each scoring
    * one array_intersect of two bounded token sets. */
  def qRougeOverlap(spark: SparkSession, dir: String): DataFrame = {
    def gramsExpr(t: String) =
      s"""CASE WHEN size($t) < 2 THEN array()
         |ELSE transform(sequence(0, size($t) - 2),
         |  i -> concat($t[i], ' ', $t[i + 1])) END""".stripMargin
    val pairs = qPreferencePairs(spark, dir)
      .select(col("lang"), col("source"), col("chosen_id"), col("rejected_id"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val scored = pairs
      .join(docs.select(col("doc_id").as("chosen_id"), col("text").as("t_ch")), "chosen_id")
      .join(docs.select(col("doc_id").as("rejected_id"), col("text").as("t_rj")), "rejected_id")
      .withColumn("a1", array_distinct(TextAnalysis.tokens(col("t_ch"))))
      .withColumn("b1", array_distinct(TextAnalysis.tokens(col("t_rj"))))
      .withColumn("ta", TextAnalysis.tokens(col("t_ch"))).withColumn("tb", TextAnalysis.tokens(col("t_rj")))
      .withColumn("a2", array_distinct(expr(gramsExpr("ta"))))
      .withColumn("b2", array_distinct(expr(gramsExpr("tb"))))
      .select(col("lang"),
        expr("div(2000000 * CAST(size(array_intersect(a1, b1)) AS BIGINT), " +
          "size(a1) + size(b1))").as("uni_f1_ppm"),
        expr("div(2000000 * CAST(size(array_intersect(a2, b2)) AS BIGINT), " +
          "greatest(size(a2) + size(b2), 1))").as("bi_f1_ppm"))
    scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("div(sum(uni_f1_ppm), count(1))").as("mean_uni_f1_ppm"),
        expr("div(sum(bi_f1_ppm), count(1))").as("mean_bi_f1_ppm"),
        max(col("bi_f1_ppm")).as("max_bi_f1_ppm"),
        sum(when(col("bi_f1_ppm") > 500000L, 1L).otherwise(0L)).as("n_degenerate"))
      .orderBy(col("lang"))
  }

  /** Generated from the same `driftPairs` list as the Spark columns. */
  private val corpusDriftOracle: String = {
    val srcList = driftSources.map(s => s"'$s'").mkString(", ")
    val cntCols = driftSources.map(s =>
      s"COUNT(CASE WHEN source = '$s' THEN 1 END) AS c_$s").mkString(",\n        |         ")
    val totCols = driftSources.map(s =>
      s"CAST(SUM(c_$s) AS DOUBLE) AS n_$s").mkString(", ")
    val kCols = driftPairs.map { case (a, b) =>
      s"${driftContrib(a, b)} AS k_${a}_$b,\n        |         CASE WHEN c_$a + c_$b > 0 THEN 1 ELSE 0 END AS u_${a}_$b"
    }.mkString(",\n        |         ")
    val sCols = driftPairs.map { case (a, b) =>
      s"SUM(k_${a}_$b) AS sk_${a}_$b, CAST(SUM(u_${a}_$b) AS BIGINT) AS su_${a}_$b"
    }.mkString(",\n        |         ")
    val branches = driftPairs.map { case (a, b) =>
      s"SELECT '$a|$b' AS pair, CAST(sk_${a}_$b AS DOUBLE) / 1000000000000 AS jsd, su_${a}_$b AS n_union FROM s"
    }.mkString("\n        |  UNION ALL ")
    s"""WITH toks AS (
        |  SELECT source, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS token
        |  FROM documents WHERE source IN ($srcList)),
        |cnt AS (
        |  SELECT token,
        |         $cntCols
        |  FROM toks GROUP BY token),
        |tot AS (SELECT $totCols FROM cnt),
        |k AS (
        |  SELECT $kCols
        |  FROM cnt CROSS JOIN tot),
        |s AS (
        |  SELECT $sCols
        |  FROM k)
        |SELECT * FROM (
        |  $branches
        |) ORDER BY pair""".stripMargin
  }

  /** Shared CTE prefix: replays q_bpe_merge_step's training (words → w0 →
    * p0 → m1 → w1 → p1 → m2) so q_bpe_encode's oracle applies the SAME
    * merges the merge-step key verifies. Kept as one string so the two
    * oracles can never drift apart. */
  private val bpeTrainCte: String =
    """words AS (
      |  SELECT w, COUNT(*) AS wf FROM (
      |    SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w FROM documents)
      |  WHERE w <> '' AND STRPOS(w, CHR(31)) = 0 GROUP BY w),
      |w0 AS (
      |  SELECT wf, RTRIM(REGEXP_REPLACE(w, '(.)', '\1' || CHR(31), 'g'), CHR(31)) AS s
      |  FROM words WHERE LENGTH(w) >= 2),
      |p0 AS (
      |  SELECT t[CAST(i AS INT)] AS l, t[CAST(i AS INT) + 1] AS r,
      |         CAST(SUM(wf) AS BIGINT) AS pc
      |  FROM (SELECT wf, t, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS i
      |        FROM (SELECT wf, STRING_SPLIT(s, CHR(31)) AS t FROM w0)
      |        WHERE LEN(t) >= 2)
      |  GROUP BY 1, 2),
      |m1 AS (SELECT l AS ml, r AS mr, pc AS mpc FROM p0
      |       ORDER BY pc DESC, l, r LIMIT 1),
      |w1 AS (SELECT wf, REPLACE(TRIM(REPLACE(
      |         CHR(31) || REPLACE(s, CHR(31), CHR(31) || CHR(31)) || CHR(31),
      |         CHR(31) || ml || CHR(31) || CHR(31) || mr || CHR(31),
      |         CHR(31) || ml || mr || CHR(31)),
      |         CHR(31)), CHR(31) || CHR(31), CHR(31)) AS s
      |       FROM w0 CROSS JOIN m1),
      |p1 AS (
      |  SELECT t[CAST(i AS INT)] AS l, t[CAST(i AS INT) + 1] AS r,
      |         CAST(SUM(wf) AS BIGINT) AS pc
      |  FROM (SELECT wf, t, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS i
      |        FROM (SELECT wf, STRING_SPLIT(s, CHR(31)) AS t FROM w1)
      |        WHERE LEN(t) >= 2)
      |  GROUP BY 1, 2),
      |m2 AS (SELECT l AS ml, r AS mr, pc AS mpc FROM p1
      |       ORDER BY pc DESC, l, r LIMIT 1)""".stripMargin

  /** Shared DuckDB CTE prefix for the bigram-LM document score — the twin
    * of [[lmScoredDocs]], interpolated by BOTH the ccnet-buckets and
    * filter-sweep oracles so the scoring rule has one SQL home too. Ends
    * with `pd(doc_id, lang, n_chars, m_ppm, bucket)`. */
  private val lmScoreCtes: String =
    """d AS (SELECT doc_id, lang, n_chars,
      |                  STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t FROM documents),
      |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM (SELECT UNNEST(t) AS w FROM d) WHERE w <> '' GROUP BY w),
      |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
      |          SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      |          FROM (SELECT t, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS i
      |                FROM d WHERE LEN(t) >= 2))
      |        WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot FROM uni),
      |db AS (SELECT doc_id, lang, n_chars, w1, w2 FROM (
      |         SELECT doc_id, lang, n_chars,
      |                t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
      |         FROM (SELECT doc_id, lang, n_chars, t,
      |                      UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS i
      |               FROM d WHERE LEN(t) >= 2))
      |       WHERE w1 <> '' AND w2 <> ''),
      |per_doc AS (
      |  SELECT db.doc_id, db.lang, db.n_chars,
      |         CAST(SUM(CASE WHEN big.c12 IS NOT NULL THEN (1000000 * big.c12) // u1.c
      |              ELSE (400000 * u2.c) // tot.n_tot END) // COUNT(*) AS BIGINT) AS m_ppm
      |  FROM db
      |  LEFT JOIN big ON big.w1 = db.w1 AND big.w2 = db.w2
      |  JOIN uni u1 ON u1.w = db.w1
      |  JOIN uni u2 ON u2.w = db.w2
      |  CROSS JOIN tot
      |  GROUP BY 1, 2, 3),
      |pd AS (SELECT *, m_ppm // 1000 AS bucket FROM per_doc)""".stripMargin

  /** Shared preference-pair mining CTEs (scored/ch/rj/n): one source of
    * truth for WHICH (chosen, rejected) pair each (lang, source) cell
    * yields, interpolated by BOTH the q_preference_pairs oracle and the
    * q_rouge_overlap oracle — a change to the scoring rule or tie-break
    * propagates to the overlap audit automatically instead of silently
    * desynchronizing the two (the lmScoreCtes discipline). */
  private val pairMiningCtes: String =
    """scored AS (
      |  SELECT lang, source, doc_id,
      |         CAST(LEN(LIST_DISTINCT(STRING_SPLIT(LOWER(TRIM(text)), ' '))) AS BIGINT)
      |           * 1000 + n_chars AS s
      |  FROM documents),
      |ch AS (SELECT lang, source, doc_id, s, ROW_NUMBER() OVER (
      |         PARTITION BY lang, source ORDER BY s DESC, doc_id DESC) AS rk
      |       FROM scored),
      |rj AS (SELECT lang, source, doc_id, s, ROW_NUMBER() OVER (
      |         PARTITION BY lang, source ORDER BY s ASC, doc_id ASC) AS rk
      |       FROM scored),
      |n AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
      |      FROM scored GROUP BY 1, 2)""".stripMargin

  val registry: Map[String, (Query, String)] = Map(
    "q_prefix_cache" -> (qPrefixCache _,
      """WITH p AS (
        |  SELECT lang,
        |         ARRAY_TO_STRING((STRING_SPLIT(LOWER(TRIM(text)), ' '))[1:3], ' ')
        |           AS prefix
        |  FROM documents),
        |g AS (
        |  SELECT lang, prefix, CAST(COUNT(*) AS BIGINT) AS c,
        |         CAST(MIN(LENGTH(prefix)) AS BIGINT) AS plen
        |  FROM p GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) AS BIGINT) AS n_prefixes,
        |       CAST(SUM((c - 1) * plen) AS BIGINT) AS chars_saved,
        |       MAX(c) AS hottest_prefix_docs,
        |       (1000000 * (CAST(SUM(c) AS BIGINT) - CAST(COUNT(*) AS BIGINT)))
        |         // CAST(SUM(c) AS BIGINT) AS cache_hit_ppm
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_rouge_overlap" -> (qRougeOverlap _,
      s"""WITH $pairMiningCtes,
        |pairs AS (
        |  SELECT n.lang, ch.doc_id AS chosen_id, rj.doc_id AS rejected_id
        |  FROM n
        |  JOIN ch ON ch.lang = n.lang AND ch.source = n.source AND ch.rk = 1
        |  JOIN rj ON rj.lang = n.lang AND rj.source = n.source AND rj.rk = 1
        |  WHERE n.n_docs >= 2 AND ch.s > rj.s),
        |grams AS (
        |  SELECT doc_id,
        |         LIST_DISTINCT(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS g1,
        |         LIST_DISTINCT(CASE WHEN LEN(STRING_SPLIT(LOWER(TRIM(text)), ' ')) < 2
        |           THEN []
        |           ELSE LIST_TRANSFORM(
        |             RANGE(1, LEN(STRING_SPLIT(LOWER(TRIM(text)), ' '))),
        |             i -> STRING_SPLIT(LOWER(TRIM(text)), ' ')[i] || ' '
        |                  || STRING_SPLIT(LOWER(TRIM(text)), ' ')[i + 1]) END) AS g2
        |  FROM documents),
        |f AS (
        |  SELECT p.lang,
        |         (2000000 * CAST(LEN(LIST_INTERSECT(a.g1, b.g1)) AS BIGINT))
        |           // (LEN(a.g1) + LEN(b.g1)) AS uni_f1_ppm,
        |         (2000000 * CAST(LEN(LIST_INTERSECT(a.g2, b.g2)) AS BIGINT))
        |           // GREATEST(LEN(a.g2) + LEN(b.g2), 1) AS bi_f1_ppm
        |  FROM pairs p
        |  JOIN grams a ON a.doc_id = p.chosen_id
        |  JOIN grams b ON b.doc_id = p.rejected_id)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(uni_f1_ppm) // COUNT(*) AS BIGINT) AS mean_uni_f1_ppm,
        |       CAST(SUM(bi_f1_ppm) // COUNT(*) AS BIGINT) AS mean_bi_f1_ppm,
        |       MAX(bi_f1_ppm) AS max_bi_f1_ppm,
        |       CAST(SUM(CASE WHEN bi_f1_ppm > 500000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_degenerate
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_filter_sweep" -> (qFilterSweep _, {
      val tCols = (1 to 9).map(k =>
        s"MIN(CASE WHEN cum >= ($k * n_all + 9) // 10 THEN bucket END) AS t$k")
        .mkString(",\n        |         ")
      val tRows = (1 to 9).map(k => s"SELECT $k AS k, t$k AS threshold_bucket FROM th")
        .mkString("\n        |  UNION ALL ")
      s"""WITH $lmScoreCtes,
        |prof AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cn,
        |                CAST(SUM(n_chars) AS BIGINT) AS ch
        |         FROM pd GROUP BY 1),
        |n AS (SELECT CAST(SUM(cn) AS BIGINT) AS n_all FROM prof),
        |cumd AS (SELECT bucket, cn, ch, n_all,
        |                SUM(cn) OVER (ORDER BY bucket
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |         FROM prof CROSS JOIN n),
        |th AS (SELECT $tCols
        |       FROM cumd),
        |thresholds AS (
        |  $tRows)
        |SELECT k, threshold_bucket,
        |       CAST(SUM(cn) AS BIGINT) AS n_docs_kept,
        |       (1000000 * CAST(SUM(cn) AS BIGINT)) // MIN(n.n_all) AS kept_ppm,
        |       CAST(SUM(ch) AS BIGINT) AS chars_kept
        |FROM prof JOIN thresholds ON prof.bucket >= thresholds.threshold_bucket
        |CROSS JOIN n
        |GROUP BY 1, 2 ORDER BY k""".stripMargin
    }),
    "q_chat_template" -> (qChatTemplate _,
      """WITH d AS (
        |  SELECT lang, source, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t
        |  FROM documents),
        |r AS (
        |  SELECT lang, source, CAST(LEN(t) AS BIGINT) + 3 AS seq_tokens,
        |         '<|user|>' || CHR(10) || ARRAY_TO_STRING(t[1:8], ' ')
        |         || CHR(10) || '<|assistant|>' || CHR(10)
        |         || ARRAY_TO_STRING(t[9:], ' ') || '<|end|>' AS rendered
        |  FROM d)
        |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_records,
        |       CAST(SUM(CASE WHEN seq_tokens > 64 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_truncated,
        |       CAST(SUM(seq_tokens) AS BIGINT) AS sum_seq_tokens,
        |       MAX(seq_tokens) AS max_seq_tokens,
        |       CAST(SUM(LENGTH(rendered)) AS BIGINT) AS sum_rendered_chars,
        |       (1000000 * CAST(SUM(CASE WHEN seq_tokens > 64 THEN 1 ELSE 0 END)
        |          AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS trunc_ppm
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q_dataset_card" -> (qDatasetCard _,
      """WITH d AS (
        |  SELECT doc_id, lang, source, text,
        |         CAST(LEN(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS BIGINT) AS n
        |  FROM documents),
        |basic AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n) AS BIGINT) AS n_tokens,
        |         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |         CAST(SUM(CASE WHEN n < 35 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
        |  FROM d),
        |vocab AS (
        |  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab_size
        |  FROM (SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS token
        |        FROM documents)),
        |dups AS (
        |  SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT)
        |           AS n_dup_docs
        |  FROM (SELECT MD5(LOWER(TRIM(text))) AS h, COUNT(*) AS c
        |        FROM documents GROUP BY 1)),
        |prof AS (
        |  SELECT n, COUNT(*) AS c,
        |         SUM(COUNT(*)) OVER (ORDER BY n
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d GROUP BY n),
        |pcts AS (
        |  SELECT MIN(CASE WHEN cum >= (b.n_docs + 1) // 2 THEN n END)
        |           AS p50_doc_tokens,
        |         MIN(CASE WHEN cum >= LEAST((9 * b.n_docs) // 10 + 1, b.n_docs)
        |                  THEN n END) AS p90_doc_tokens
        |  FROM prof CROSS JOIN basic b)
        |SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, n_docs AS value FROM basic
        |  UNION ALL SELECT 'n_tokens', n_tokens FROM basic
        |  UNION ALL SELECT 'n_langs', n_langs FROM basic
        |  UNION ALL SELECT 'n_sources', n_sources FROM basic
        |  UNION ALL SELECT 'vocab_size', vocab_size FROM vocab
        |  UNION ALL SELECT 'dup_doc_ppm', (1000000 * n_dup_docs) // n_docs
        |            FROM basic CROSS JOIN dups
        |  UNION ALL SELECT 'short_doc_ppm', (1000000 * n_short) // n_docs FROM basic
        |  UNION ALL SELECT 'mean_doc_tokens_milli', (1000 * n_tokens) // n_docs
        |            FROM basic
        |  UNION ALL SELECT 'p50_doc_tokens', p50_doc_tokens FROM pcts
        |  UNION ALL SELECT 'p90_doc_tokens', p90_doc_tokens FROM pcts)
        |ORDER BY metric""".stripMargin),
    "q_ccnet_buckets" -> (qCcnetBuckets _,
      s"""WITH $lmScoreCtes,
        |prof AS (SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS cn
        |         FROM pd GROUP BY 1, 2),
        |nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl FROM pd GROUP BY lang),
        |cum AS (SELECT prof.lang, bucket,
        |               SUM(cn) OVER (PARTITION BY prof.lang ORDER BY bucket) AS cum,
        |               nl.nl
        |        FROM prof JOIN nl ON nl.lang = prof.lang),
        |th AS (SELECT lang,
        |         MIN(CASE WHEN cum >= (1 * nl + 2) // 3 THEN bucket END) AS t1,
        |         MIN(CASE WHEN cum >= (2 * nl + 2) // 3 THEN bucket END) AS t2
        |       FROM cum GROUP BY lang)
        |SELECT pd.lang,
        |       CASE 1 + CASE WHEN bucket > t1 THEN 1 ELSE 0 END
        |              + CASE WHEN bucket > t2 THEN 1 ELSE 0 END
        |         WHEN 3 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       MIN(m_ppm) AS min_ppm, MAX(m_ppm) AS max_ppm,
        |       CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS avg_chars
        |FROM pd JOIN th ON th.lang = pd.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q_bpe_encode" -> (qBpeEncode _,
      s"""WITH tokl AS (
        |  SELECT lang, w FROM (
        |    SELECT lang, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
        |    FROM documents)
        |  WHERE w <> '' AND STRPOS(w, CHR(31)) = 0),
        |wl AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS wf FROM tokl GROUP BY 1, 2),
        |$bpeTrainCte,
        |types AS (SELECT w, RTRIM(REGEXP_REPLACE(w, '(.)', '\\1' || CHR(31), 'g'),
        |                          CHR(31)) AS s
        |          FROM (SELECT DISTINCT w FROM wl)),
        |t1 AS (SELECT w, REPLACE(TRIM(REPLACE(
        |         CHR(31) || REPLACE(s, CHR(31), CHR(31) || CHR(31)) || CHR(31),
        |         CHR(31) || ml || CHR(31) || CHR(31) || mr || CHR(31),
        |         CHR(31) || ml || mr || CHR(31)),
        |         CHR(31)), CHR(31) || CHR(31), CHR(31)) AS s
        |       FROM types CROSS JOIN m1),
        |t2 AS (SELECT w, REPLACE(TRIM(REPLACE(
        |         CHR(31) || REPLACE(s, CHR(31), CHR(31) || CHR(31)) || CHR(31),
        |         CHR(31) || ml || CHR(31) || CHR(31) || mr || CHR(31),
        |         CHR(31) || ml || mr || CHR(31)),
        |         CHR(31)), CHR(31) || CHR(31), CHR(31)) AS s
        |       FROM t1 CROSS JOIN m2),
        |enc AS (SELECT w, CAST(LEN(STRING_SPLIT(s, CHR(31))) AS BIGINT) AS n_sub FROM t2)
        |SELECT wl.lang,
        |       CAST(SUM(wl.wf) AS BIGINT) AS n_words,
        |       CAST(SUM(wl.wf * e.n_sub) AS BIGINT) AS n_subtokens,
        |       (1000000 * CAST(SUM(wl.wf * e.n_sub) AS BIGINT))
        |         // CAST(SUM(wl.wf) AS BIGINT) AS fertility_ppm,
        |       (1000000 * CAST(SUM(wl.wf * e.n_sub) AS BIGINT))
        |         // CAST(SUM(wl.wf * LENGTH(wl.w)) AS BIGINT) AS tokens_per_char_ppm,
        |       (1000000 * CAST(SUM(CASE WHEN e.n_sub < LENGTH(wl.w) THEN wl.wf
        |                               ELSE 0 END) AS BIGINT))
        |         // CAST(SUM(wl.wf) AS BIGINT) AS merged_word_ppm
        |FROM wl JOIN enc e ON e.w = wl.w
        |GROUP BY wl.lang ORDER BY wl.lang""".stripMargin),
    "q_temperature_mixture" -> (qTemperatureMixture _,
      """WITH cells AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |               FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM cells),
        |w AS (SELECT lang, source, n_docs, n_tot,
        |        CAST(FLOOR(SQRT(SQRT(CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE)))
        |               * 1000000) AS BIGINT) AS w_micro
        |      FROM cells CROSS JOIN tot),
        |wt AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_tot FROM w)
        |SELECT lang, source, n_docs, w_micro,
        |       (1000000 * w_micro) // w_tot AS share_ppm,
        |       ((n_tot // 4) * w_micro) // w_tot AS epoch_docs,
        |       (1000000 * (((n_tot // 4) * w_micro) // w_tot)) // n_docs AS upsample_ppm
        |FROM w CROSS JOIN wt
        |ORDER BY lang, source""".stripMargin),
    "q_epoch_shuffle" -> (qEpochShuffle _,
      """WITH e AS (SELECT doc_id, epoch FROM documents
        |           CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS epoch)),
        |k AS (SELECT doc_id, epoch,
        |        CAST('0x' || SUBSTR(MD5('ep' || CAST(epoch AS VARCHAR) || ':'
        |               || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS u
        |      FROM e),
        |k2 AS (SELECT doc_id, epoch, u, u % 16 AS shard FROM k),
        |p AS (SELECT doc_id, epoch, shard,
        |        ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY u, doc_id) AS pos
        |      FROM k2)
        |SELECT epoch, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       ARG_MIN(doc_id, pos) AS head_doc,
        |       ARG_MAX(doc_id, pos) AS tail_doc,
        |       CAST(SUM(((pos % 1000000007) * (doc_id % 1000000007)) % 1000000007)
        |              % 1000000007 AS BIGINT) AS order_checksum
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q_span_corruption" -> (qSpanCorruption _,
      """WITH d AS (SELECT doc_id, lang,
        |                  STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t FROM documents),
        |s AS (SELECT lang,
        |        CAST(LEN(t) AS BIGINT) AS n,
        |        CAST(LEN(list_filter(range(0, LEN(t)),
        |          x -> CAST('0x' || SUBSTR(MD5('span:' || CAST(doc_id AS VARCHAR) || ':'
        |                 || CAST(x // 3 AS VARCHAR)), 1, 15) AS BIGINT) % 20 < 3))
        |          AS BIGINT) AS m,
        |        CAST(LEN(list_filter(range(0, (LEN(t) - 1) // 3 + 1),
        |          x -> CAST('0x' || SUBSTR(MD5('span:' || CAST(doc_id AS VARCHAR) || ':'
        |                 || CAST(x AS VARCHAR)), 1, 15) AS BIGINT) % 20 < 3))
        |          AS BIGINT) AS sp
        |      FROM d)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n) AS BIGINT) AS n_tokens,
        |       CAST(SUM(m) AS BIGINT) AS n_masked,
        |       CAST(SUM(sp) AS BIGINT) AS n_spans,
        |       CAST(SUM(n - m + sp) AS BIGINT) AS input_tokens,
        |       CAST(SUM(m + sp) AS BIGINT) AS target_tokens,
        |       (1000000 * CAST(SUM(m) AS BIGINT)) // CAST(SUM(n) AS BIGINT) AS corrupt_ppm,
        |       CASE WHEN SUM(sp) = 0 THEN NULL
        |            ELSE (1000000 * CAST(SUM(m) AS BIGINT)) // CAST(SUM(sp) AS BIGINT)
        |       END AS mean_span_ppm
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin),
    "q_source_quality" -> (qSourceQuality _,
      """WITH dups AS (
        |  SELECT source,
        |         CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_docs
        |  FROM (SELECT source, MD5(text) AS h, COUNT(*) AS c
        |        FROM documents GROUP BY 1, 2)
        |  GROUP BY source),
        |g AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |         CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs,
        |         COUNT(DISTINCT lang) AS n_langs
        |  FROM documents GROUP BY source)
        |SELECT g.source, g.n_docs, g.n_langs,
        |       CAST(g.sum_chars AS DOUBLE) / CAST(g.n_docs AS DOUBLE) AS mean_chars,
        |       CAST(g.short_docs AS DOUBLE) / CAST(g.n_docs AS DOUBLE) AS short_rate,
        |       d.dup_docs,
        |       CAST(d.dup_docs AS DOUBLE) / CAST(g.n_docs AS DOUBLE) AS dup_rate
        |FROM g JOIN dups d ON g.source = d.source
        |ORDER BY g.source""".stripMargin),
    "q_bpe_pair_stats" -> (qBpePairStats _,
      """WITH words AS (
        |  SELECT w, COUNT(*) AS wf FROM (
        |    SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |pairs AS (
        |  SELECT SUBSTR(w, CAST(i AS INT), 1) AS "left",
        |         SUBSTR(w, CAST(i AS INT) + 1, 1) AS "right", wf
        |  FROM (SELECT w, wf, UNNEST(GENERATE_SERIES(1, LENGTH(w) - 1)) AS i
        |        FROM words WHERE LENGTH(w) >= 2))
        |SELECT "left", "right", CAST(SUM(wf) AS BIGINT) AS pair_count
        |FROM pairs GROUP BY 1, 2
        |ORDER BY pair_count DESC, "left", "right" LIMIT 20""".stripMargin),
    "q_bpe_merge_step" -> (qBpeMergeStep _,
      """WITH words AS (
        |  SELECT w, COUNT(*) AS wf FROM (
        |    SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w FROM documents)
        |  WHERE w <> '' AND STRPOS(w, CHR(31)) = 0 GROUP BY w),
        |w0 AS (
        |  SELECT wf, RTRIM(REGEXP_REPLACE(w, '(.)', '\1' || CHR(31), 'g'), CHR(31)) AS s
        |  FROM words WHERE LENGTH(w) >= 2),
        |p0 AS (
        |  SELECT t[CAST(i AS INT)] AS l, t[CAST(i AS INT) + 1] AS r,
        |         CAST(SUM(wf) AS BIGINT) AS pc
        |  FROM (SELECT wf, t, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS i
        |        FROM (SELECT wf, STRING_SPLIT(s, CHR(31)) AS t FROM w0)
        |        WHERE LEN(t) >= 2)
        |  GROUP BY 1, 2),
        |m1 AS (SELECT l AS ml, r AS mr, pc AS mpc FROM p0
        |       ORDER BY pc DESC, l, r LIMIT 1),
        |w1 AS (SELECT wf, REPLACE(TRIM(REPLACE(
        |         CHR(31) || REPLACE(s, CHR(31), CHR(31) || CHR(31)) || CHR(31),
        |         CHR(31) || ml || CHR(31) || CHR(31) || mr || CHR(31),
        |         CHR(31) || ml || mr || CHR(31)),
        |         CHR(31)), CHR(31) || CHR(31), CHR(31)) AS s
        |       FROM w0 CROSS JOIN m1),
        |p1 AS (
        |  SELECT t[CAST(i AS INT)] AS l, t[CAST(i AS INT) + 1] AS r,
        |         CAST(SUM(wf) AS BIGINT) AS pc
        |  FROM (SELECT wf, t, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS i
        |        FROM (SELECT wf, STRING_SPLIT(s, CHR(31)) AS t FROM w1)
        |        WHERE LEN(t) >= 2)
        |  GROUP BY 1, 2),
        |m2 AS (SELECT l AS ml, r AS mr, pc AS mpc FROM p1
        |       ORDER BY pc DESC, l, r LIMIT 1),
        |w2 AS (SELECT wf, REPLACE(TRIM(REPLACE(
        |         CHR(31) || REPLACE(s, CHR(31), CHR(31) || CHR(31)) || CHR(31),
        |         CHR(31) || ml || CHR(31) || CHR(31) || mr || CHR(31),
        |         CHR(31) || ml || mr || CHR(31)),
        |         CHR(31)), CHR(31) || CHR(31), CHR(31)) AS s
        |       FROM w1 CROSS JOIN m2),
        |p2 AS (
        |  SELECT t[CAST(i AS INT)] AS l, t[CAST(i AS INT) + 1] AS r,
        |         CAST(SUM(wf) AS BIGINT) AS pc
        |  FROM (SELECT wf, t, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS i
        |        FROM (SELECT wf, STRING_SPLIT(s, CHR(31)) AS t FROM w2)
        |        WHERE LEN(t) >= 2)
        |  GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS round, ml AS "left", mr AS "right",
        |         mpc AS pair_count FROM m1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), ml, mr, mpc FROM m2
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), l, r, pc FROM (
        |    SELECT l, r, pc FROM p2 ORDER BY pc DESC, l, r LIMIT 8))
        |ORDER BY round, pair_count DESC, "left", "right"""".stripMargin),
    "q_good_turing" -> (qGoodTuring _,
      """WITH words AS (
        |  SELECT w, COUNT(*) AS wf FROM (
        |    SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |fof AS (SELECT wf AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM words GROUP BY wf),
        |tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
        |               CAST(SUM(n_r) AS BIGINT) AS n_types,
        |               CAST(SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
        |        FROM fof),
        |led AS (SELECT r, n_r,
        |               CASE WHEN LEAD(r) OVER (ORDER BY r) = r + 1
        |                    THEN LEAD(n_r) OVER (ORDER BY r) ELSE 0 END AS n_next,
        |               ROW_NUMBER() OVER (ORDER BY r) AS rk
        |        FROM fof)
        |SELECT r, n_r,
        |       CAST((1000000 * (r + 1) * n_next) // n_r AS BIGINT) AS r_star_ppm,
        |       n_tokens, n_types,
        |       CAST((1000000 * n1) // n_tokens AS BIGINT) AS p0_ppm
        |FROM led CROSS JOIN tot
        |WHERE rk <= 20 ORDER BY r""".stripMargin),
    "q_corpus_mixture" -> (qCorpusMixture _,
      """WITH census AS (
        |  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
        |wq AS (
        |  SELECT source, n_s,
        |         CAST(FLOOR(SQRT(CAST(n_s AS DOUBLE)) * 1000) AS BIGINT) AS w_milli
        |  FROM census),
        |tot AS (
        |  SELECT CAST(SUM(w_milli) AS BIGINT) AS w_tot,
        |         CAST(SUM(n_s) // 2 AS BIGINT) AS budget
        |  FROM wq),
        |thr AS (
        |  SELECT source, n_s, w_milli,
        |         LEAST(CAST(4294967296 AS HUGEINT),
        |               (CAST(budget AS HUGEINT) * w_milli * 4294967296)
        |                 // (CAST(w_tot AS HUGEINT) * n_s)) AS thr_u32
        |  FROM wq CROSS JOIN tot),
        |acc AS (
        |  SELECT d.source, t.n_s, t.w_milli, d.n_chars,
        |         CASE WHEN CAST('0x' || SUBSTR(MD5('mix:' || CAST(d.doc_id AS VARCHAR)),
        |                         1, 8) AS BIGINT) < t.thr_u32
        |              THEN 1 ELSE 0 END AS a
        |  FROM documents d JOIN thr t USING (source))
        |SELECT source, n_s, w_milli,
        |       CAST(SUM(a) AS BIGINT) AS n_sampled,
        |       CAST(SUM(CASE WHEN a = 1 THEN n_chars ELSE 0 END) AS BIGINT)
        |         AS sampled_chars,
        |       (1000000 * CAST(SUM(a) AS BIGINT)) // n_s AS accept_ppm
        |FROM acc GROUP BY source, n_s, w_milli
        |ORDER BY source""".stripMargin),
    "q_corpus_drift" -> (qCorpusDrift _, corpusDriftOracle),
    "q_bm25" -> (qBm25 _,
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS toks
        |  FROM documents),
        |dl AS (
        |  SELECT doc_id, toks, CAST(LEN(toks) AS BIGINT) AS dl FROM d),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, dl, token, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, UNNEST(toks) AS token FROM dl)
        |  WHERE token IN ('spark', 'vector', 'stream')
        |  GROUP BY doc_id, dl, token),
        |dfreq AS (
        |  SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY token),
        |scored AS (
        |  SELECT doc_id,
        |         CAST(FLOOR(
        |           LN(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
        |             / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |           * 1000000 + 0.5) AS BIGINT) AS s_micro
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN stats)
        |SELECT doc_id, CAST(SUM(s_micro) AS DOUBLE) / 1000000 AS bm25,
        |       COUNT(*) AS n_terms
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin),
    "q_pack_sequences" -> (qPackSequences _,
      """WITH RECURSIVE d AS (
        |  SELECT COALESCE(lang, '') AS lang, doc_id,
        |         CAST(LEN(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS BIGINT) AS n_toks,
        |         ROW_NUMBER() OVER (PARTITION BY COALESCE(lang, '') ORDER BY doc_id) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT lang, doc_id, n_toks, rn,
        |         CAST(0 AS BIGINT) AS bin, n_toks AS bin_fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.lang, d.doc_id, d.n_toks, d.rn,
        |         CASE WHEN p.bin_fill + d.n_toks > 256 THEN p.bin + 1 ELSE p.bin END,
        |         CASE WHEN p.bin_fill + d.n_toks > 256 THEN d.n_toks
        |              ELSE p.bin_fill + d.n_toks END
        |  FROM d JOIN packed p ON d.lang = p.lang AND d.rn = p.rn + 1)
        |SELECT lang, doc_id, n_toks, bin, bin_fill
        |FROM packed ORDER BY lang, doc_id""".stripMargin),
    "q_heavy_hitters" -> (qHeavyHitters _,
      """WITH toks AS (
        |  SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS token FROM documents),
        |counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
        |total AS (SELECT COUNT(*) AS total FROM toks)
        |SELECT token, n FROM counts, total
        |WHERE n * 40 > total
        |ORDER BY n DESC, token""".stripMargin),
    "q_decontaminate" -> (qDecontaminate _,
      """WITH toks AS (
        |  SELECT doc_id, source, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source, UNNEST(LIST_DISTINCT(
        |    CASE WHEN LEN(t) < 8 THEN []
        |    ELSE LIST_TRANSFORM(RANGE(1, LEN(t) - 6),
        |      i -> ARRAY_TO_STRING(t[i:i+7], ' ')) END)) AS gram
        |  FROM toks),
        |bench AS (
        |  SELECT DISTINCT gram FROM grams WHERE source = 'src0')
        |SELECT g.doc_id, COUNT(*) AS n_shared
        |FROM grams g JOIN bench USING (gram)
        |WHERE g.source <> 'src0'
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),
    "q_sample_capped" -> (qSampleCapped _,
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, CAST(rk AS INTEGER) AS rk
        |FROM ranked WHERE rk <= 5 ORDER BY doc_id""".stripMargin),
    "q_tfidf_top" -> (qTfidfTop _,
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS token FROM documents),
        |tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
        |dfreq AS (
        |  SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |         CAST(tf.tf AS DOUBLE) * LN(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS s
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, s,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, token) AS rk
        |  FROM scored)
        |SELECT doc_id, token, FLOOR(s * 1000000 + 0.5) / 1000000 AS tfidf
        |FROM ranked WHERE rk <= 3
        |ORDER BY doc_id, tfidf DESC, token""".stripMargin),
    "q_preference_pairs" -> (qPreferencePairs _,
      s"""WITH $pairMiningCtes
        |SELECT n.lang, n.source, n.n_docs,
        |       ch.doc_id AS chosen_id, ch.s AS chosen_score,
        |       rj.doc_id AS rejected_id, rj.s AS rejected_score,
        |       ch.s - rj.s AS margin
        |FROM n
        |JOIN ch ON ch.lang = n.lang AND ch.source = n.source AND ch.rk = 1
        |JOIN rj ON rj.lang = n.lang AND rj.source = n.source AND rj.rk = 1
        |WHERE n.n_docs >= 2 AND ch.s > rj.s
        |ORDER BY n.lang, n.source""".stripMargin),
    "q_curriculum_bins" -> (qCurriculumBins _,
      """WITH tok AS (
        |  SELECT doc_id, n_chars, w FROM (
        |    SELECT doc_id, n_chars,
        |           UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
        |    FROM documents) WHERE w <> ''),
        |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot FROM uni),
        |rel AS (SELECT w, (1000000 * c) // n_tot AS r_ppm FROM uni CROSS JOIN tot),
        |per_doc AS (
        |  SELECT doc_id, n_chars,
        |         CAST(SUM(r_ppm) // COUNT(*) AS BIGINT) AS d_ppm,
        |         CAST((SUM(r_ppm) // COUNT(*)) // 10 AS BIGINT) AS bucket
        |  FROM tok JOIN rel USING (w) GROUP BY doc_id, n_chars),
        |prof AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cn
        |         FROM per_doc GROUP BY bucket),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per_doc),
        |cum AS (SELECT bucket, SUM(cn) OVER (ORDER BY bucket) AS cum, n.n
        |        FROM prof CROSS JOIN n),
        |th AS (SELECT
        |         MIN(CASE WHEN cum >= (1 * n + 3) // 4 THEN bucket END) AS t1,
        |         MIN(CASE WHEN cum >= (2 * n + 3) // 4 THEN bucket END) AS t2,
        |         MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN bucket END) AS t3
        |       FROM cum)
        |SELECT 1 + CASE WHEN bucket > t1 THEN 1 ELSE 0 END
        |         + CASE WHEN bucket > t2 THEN 1 ELSE 0 END
        |         + CASE WHEN bucket > t3 THEN 1 ELSE 0 END AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       MIN(d_ppm) AS min_ppm, MAX(d_ppm) AS max_ppm,
        |       CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS avg_chars
        |FROM per_doc CROSS JOIN th
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_tokenizer_fertility" -> (qTokenizerFertility _,
      """WITH per_doc AS (
        |  SELECT lang,
        |         CAST(LEN(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS BIGINT) AS w,
        |         CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS st,
        |         n_chars
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(w) AS BIGINT) AS n_words,
        |       CAST(SUM(st) AS BIGINT) AS n_subtokens,
        |       (1000000 * CAST(SUM(st) AS BIGINT)) // CAST(SUM(w) AS BIGINT) AS fertility_ppm,
        |       (1000000 * CAST(SUM(n_chars) AS BIGINT)) // CAST(SUM(st) AS BIGINT)
        |         AS chars_per_subtoken_ppm
        |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin),
    "q_ngram_backoff" -> (qNgramBackoff _,
      """WITH d AS (SELECT STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t FROM documents),
        |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM (SELECT UNNEST(t) AS w FROM d) WHERE w <> '' GROUP BY w),
        |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
        |          SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
        |          FROM (SELECT t, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS i
        |                FROM d WHERE LEN(t) >= 2))
        |        WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2),
        |top10 AS (SELECT rk, w1 FROM (
        |            SELECT w AS w1, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk
        |            FROM uni) WHERE rk <= 10),
        |rare10 AS (SELECT rk, w2 FROM (
        |             SELECT w AS w2, ROW_NUMBER() OVER (ORDER BY c ASC, w) AS rk
        |             FROM uni) WHERE rk <= 10),
        |topbig AS (SELECT w1, w2 FROM big ORDER BY c12 DESC, w1, w2 LIMIT 10),
        |probes AS (SELECT DISTINCT w1, w2 FROM (
        |             SELECT w1, w2 FROM topbig
        |             UNION ALL
        |             SELECT a.w1, b.w2 FROM top10 a JOIN rare10 b USING (rk))),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot FROM uni)
        |SELECT p.w1, p.w2, big.c12 IS NOT NULL AS seen,
        |       CAST(CASE WHEN big.c12 IS NOT NULL THEN (1000000 * big.c12) // u1.c
        |            ELSE (400000 * u2.c) // tot.n_tot END AS BIGINT) AS score_ppm
        |FROM probes p
        |LEFT JOIN big ON big.w1 = p.w1 AND big.w2 = p.w2
        |JOIN uni u1 ON u1.w = p.w1
        |JOIN uni u2 ON u2.w = p.w2
        |CROSS JOIN tot
        |ORDER BY p.w1, p.w2""".stripMargin),
  )
}
