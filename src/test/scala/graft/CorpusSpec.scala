package graft

import graft.ops.{Corpus, TextAnalysis}
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {

  test("repetition, entropy, and df mining on a planted corpus give exact values") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("textq").toString
    Seq(
      (1L, "a a a a", "s"),   // bigrams: 3× "a a" → dup 1-1/3, top 1.0
      (2L, "ab", "s"),        // chars a,b → entropy exactly 1 bit; no bigrams
      (3L, "aaaa", "s"),      // single distinct char → entropy exactly 0
      (4L, "a b c d", "s"),   // all bigrams distinct → dup 0.0, top 1/3
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val rep = TextAnalysis.qTextRepetition(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rep.keySet == Set(1L, 4L), "docs with < 2 tokens have no bigrams")
    assert(rep(1L) == ((3L, 0.6667, 1.0)))
    assert(rep(4L) == ((3L, 0.0, 0.3333)))

    val ent = TextAnalysis.qTextEntropy(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(ent(2L) == ((2L, 1.0)), "two equiprobable chars = exactly 1 bit")
    assert(ent(3L) == ((4L, 0.0)), "one distinct char = zero entropy")
    assert(ent(1L)._1 == 7L && ent(1L)._2 > 0.9 && ent(1L)._2 < 1.0,
      "4 'a' + 3 spaces is slightly below 1 bit")

    // 'a' appears in docs 1 and 4 → df_ratio 0.5; 'aaaa'/'ab' in 1 of 4 =
    // 0.25 < 0.3 → excluded
    val df = TextAnalysis.qTextDf(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(df == Set(("a", 2L, 0.5)), s"got $df")
  }

  test("native char_entropy is bit-identical to the relational formulation") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("entnat").toString
    // the emoji is a surrogate PAIR in UTF-16 — both formulations must count
    // it as ONE character (code point), or n and H both diverge
    Seq(
      (1L, "ab", "s"), (2L, "aaaa", "s"), (3L, "a b c a b", "s"),
      (4L, "café résumé", "s"), (5L, "😀😀a", "s"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    for (dir <- Seq(d, sf)) {
      val native = TextAnalysis.qTextEntropy(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val rel = TextAnalysis.qTextEntropyRelational(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(native == rel, s"native vs relational diverged on $dir")
    }
    val five = TextAnalysis.qTextEntropy(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(five(5L) == 3L, "two emoji + 'a' = 3 code points, not 5 UTF-16 units")
  }

  test("native subtoken_count is identical to the regexp_extract_all formulation") {
    import spark.implicits._
    val edge = Seq("", "   ", "abc", "abc123", "a1b2", "don't stop-me now!!",
      "x  y", "é ü ñ", "😀a😀", "3.14 costs $2", "ABCdef GHI", "a", "7")
      .toDF("text")
    // the fused scan must reproduce the regex count on every edge string
    // AND on the real corpus at this SF
    for (df <- Seq(edge, Tables.documents(spark, sf).select(col("text")))) {
      val diverged = df.select(
          expr("subtoken_count(text)").as("native"),
          size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"))
            .as("regex"))
        .filter(col("native") =!= col("regex"))
        .count()
      assert(diverged == 0, "subtoken_count diverged from the regex form")
    }
  }

  test("sequence packing: greedy laws hold on the real corpus") {
    val rows = Corpus.qPackSequences(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val budget = 256L
    rows.groupBy(_._1).foreach { case (lang, docs) =>
      val inOrder = docs.sortBy(_._2)
      // replay the greedy recurrence: bin ids and fills must match exactly
      var fill = 0L; var bin = -1L
      inOrder.foreach { case (_, docId, n, gotBin, gotFill) =>
        if (bin < 0 || fill + n > budget) { bin += 1; fill = n } else fill += n
        assert(gotBin == bin && gotFill == fill,
          s"$lang doc $docId: got (bin=$gotBin, fill=$gotFill), expected ($bin, $fill)")
      }
      // law: a bin over budget must be a single oversized doc
      inOrder.groupBy(_._4).foreach { case (b, members) =>
        val tot = members.map(_._3).sum
        assert(tot <= budget || members.size == 1,
          s"$lang bin $b holds $tot tokens across ${members.size} docs")
      }
      // law: greedy maximality — each bin's first doc would overflow the previous bin
      val firstOfBin = inOrder.groupBy(_._4).map { case (b, ms) => b -> ms.minBy(_._2) }
      val lastFill = inOrder.groupBy(_._4).map { case (b, ms) => b -> ms.maxBy(_._2)._5 }
      firstOfBin.filter(_._1 > 0).foreach { case (b, (_, _, n, _, _)) =>
        assert(lastFill(b - 1) + n > budget,
          s"$lang bin $b opened although its first doc fit bin ${b - 1}")
      }
    }
  }

  test("pii scrub redacts planted emails/phones/ips; clean strips tags and entities") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("pii").toString
    Seq(
      (1L, "reach bob+x@ex.org or jane@corp.io call 555-123-4567 from 10.0.42.7", "s"),
      (2L, "no pii here at all", "s"),
      (3L, "<p>hello &amp;lt; world</p>  <br/>ok &quot;q&quot;", "s"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val pii = TextAnalysis.qTextPii(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(pii(1L) == ((2, 1, 1, "reach <EMAIL> or <EMAIL> call <PHONE> from <IP>")))
    assert(pii(2L) == ((0, 0, 0, "no pii here at all")))

    val clean = TextAnalysis.qTextClean(spark, d).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // &amp;lt; must decode to the literal '&lt;', NOT double-decode to '<'
    assert(clean(3L) == "hello &lt; world ok \"q\"", s"got '${clean(3L)}'")
    assert(clean(2L) == "no pii here at all")
  }

  test("corpus-wide ngram mining counts a planted dominant bigram with its df") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("ngram").toString
    Seq(
      (1L, "x y x y x y", "s"), // "x y" ×3, "y x" ×2
      (2L, "x y end", "s"),     // "x y" ×1 → total 4, df 2
      (3L, "solo", "s"),        // no bigrams
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val top = TextAnalysis.qNgramTop(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top.head == (("x y", 4L, 2L)), s"got ${top.head}")
    assert(top.contains(("y x", 2L, 1L)))
  }

  test("chunks reassemble to the tokenized document; only the last is ragged") {
    val chunks = TextAnalysis.qTextChunk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase).toMap
    assert(chunks.keySet == docs.keySet, "every document chunks")
    chunks.foreach { case (id, cs) =>
      val ordered = cs.sortBy(_._2)
      assert(ordered.map(_._4).mkString(" ") == docs(id), s"doc $id reassembly")
      ordered.init.foreach(c => assert(c._3 == 32L, s"doc $id non-final chunk ragged"))
      assert(ordered.last._3 >= 1L && ordered.last._3 <= 32L)
    }
  }

  test("decontamination flags exactly the docs sharing an 8-gram with the benchmark") {
    import spark.implicits._
    val words = (1 to 20).map(i => s"w$i").mkString(" ")
    val overlap = (5 to 12).map(i => s"w$i").mkString(" ") // 8 shared tokens
    val d = java.nio.file.Files.createTempDirectory("decon").toString
    Seq(
      (1L, words, "src0"),                           // benchmark doc
      (2L, s"intro $overlap outro", "src1"),         // contaminated: 8-gram w5..w12
      (3L, (1 to 20).map(i => s"z$i").mkString(" "), "src1"), // clean
      (4L, "short doc", "src2"),                     // under 8 tokens: no grams
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val hits = Corpus.qDecontaminate(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(2L), s"only doc 2 overlaps: $hits")
    assert(hits(2L) == 1L, "exactly one shared 8-gram (w5..w12)")
  }

  test("capped sampling: at most 5 per source, deterministic, rank within cap") {
    val a = Corpus.qSampleCapped(spark, sf).collect().map(_.getLong(0))
    val b = Corpus.qSampleCapped(spark, sf).collect().map(_.getLong(0))
    assert(a.sameElements(b), "hash priority must be run-stable")
    val perSource = Corpus.qSampleCapped(spark, sf)
      .groupBy("source").count().collect().map(_.getLong(1))
    assert(perSource.forall(_ <= 5))
    assert(Corpus.qSampleCapped(spark, sf)
      .filter(col("rk") < 1 || col("rk") > 5).count() == 0)
  }

  test("tfidf: top term per doc dominates a brute-force recompute") {
    val top = Corpus.qTfidfTop(spark, sf)
    // at most 3 terms per doc, all scores >= 0
    val counts = top.groupBy("doc_id").count().collect().map(_.getLong(1))
    assert(counts.forall(_ <= 3))
    assert(top.filter(col("tfidf") < 0).count() == 0)
    // brute-force one doc: its rank-1 term must have the max tf*ln(N/df)
    val docs = Tables.documents(spark, sf)
    val n = docs.count().toDouble
    val toks = docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), " ")).as("token"))
    val someDoc = top.select("doc_id").collect()(0).getLong(0)
    val dfMap = toks.distinct().groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tfMap = toks.filter(col("doc_id") === someDoc)
      .groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bruteBest = tfMap.map { case (t, tf) => t -> tf * math.log(n / dfMap(t)) }
      .maxBy { case (t, s) => (s, t) }._2
    val engineBest = top.filter(col("doc_id") === someDoc)
      .orderBy(col("tfidf").desc).collect()(0).getDouble(2)
    assert(math.abs(engineBest - math.floor(bruteBest * 1e6 + 0.5) / 1e6) < 1e-9)
  }

  test("bigram pmi matches the slot-count formula on collected pairs") {
    val rows = TextAnalysis.qNgramPmi(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val pairs = Tables.documents(spark, sf).collect()
      .map(_.getAs[String]("text").trim.toLowerCase.split(" ", -1))
      .filter(_.length >= 2)
      .flatMap(t => t.zip(t.tail))
    val t = pairs.length.toDouble
    val nA = pairs.groupBy(_._1).view.mapValues(_.length).toMap
    val nB = pairs.groupBy(_._2).view.mapValues(_.length).toMap
    val nAB = pairs.groupBy(identity).view.mapValues(_.length).toMap
    rows.foreach { case (w1, w2, nab, pmi) =>
      assert(nab == nAB((w1, w2)).toLong && nab >= 20)
      val want = math.log(nab * t / (nA(w1).toDouble * nB(w2).toDouble))
      assert(math.abs(pmi - math.floor(want * 1e6 + 0.5) / 1e6) < 1e-9, s"pmi $w1 $w2")
    }
  }

  test("misra-gries heavy hitters are exact on a skewed stream with cardinality >> k") {
    import spark.implicits._
    // 3 planted heavy tokens + 2000 singletons; k=10 counters per partition
    // forces real MG evictions (state never exceeds k), yet the two-pass
    // result must still be the exact > N/k set.
    val heavy = Seq.fill(800)("hot1") ++ Seq.fill(500)("hot2") ++ Seq.fill(300)("hot3")
    val noise = (0 until 2000).map(i => s"t$i")
    val rng = new scala.util.Random(42)
    val stream = rng.shuffle(heavy ++ noise).toDF("token").repartition(8)
    val k = 10
    val got = Corpus.heavyHitters(stream, "token", k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = heavy.size + noise.size // 3600; threshold n/k = 360
    val expected = Map("hot1" -> 800L, "hot2" -> 500L)
    assert(got == expected, s"exact > N/$k set; hot3 (300 < ${n / k}) excluded")
  }

  test("heavy hitters on documents match a plain exact group-by") {
    val got = Corpus.qHeavyHitters(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        split(lower(trim(col("text"))), " ")).as("token"))
    val total = toks.count()
    val exact = toks.groupBy("token").count()
      .filter(col("count") * 40 > total).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact)
  }

  test("bm25 matches a plain-Scala Okapi reference (k1=1.2, b=0.75, Lucene idf)") {
    val got = Corpus.qBm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val terms = Seq("spark", "vector", "stream")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val nDocs = docs.length.toDouble
    val avgdl = docs.map(_._2.size.toLong).sum.toDouble / nDocs
    val dfm = terms.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    val scored = docs.map { case (id, toks) =>
      val dl = toks.size.toDouble
      val micro = terms.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0L
        else {
          val idf = math.log(1.0 + (nDocs - dfm(t) + 0.5) / (dfm(t) + 0.5))
          math.floor(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
            * 1000000 + 0.5).toLong
        }
      }.sum
      val nTerms = terms.count(t => toks.contains(t)).toLong
      (id, micro.toDouble / 1000000, nTerms)
    }.filter(_._3 > 0)
    val want = scored.sortBy(s => (-s._2, s._1)).take(10).toSeq
    assert(got.toSeq == want)
    // every returned doc matched at least one query term
    assert(got.forall(_._3 >= 1))
  }

  test("corpus drift JSD: 0 for identical distributions, 1 for disjoint, hand value between") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("drift").toString
    Seq(
      (1L, "a a b b", "src0"), // p(a)=.5  p(b)=.5
      (2L, "a b a b", "src1"), // identical distribution to src0
      (3L, "c c c c", "src2"), // disjoint vocabulary
      (4L, "a a a b", "src3"), // p(a)=.75 p(b)=.25
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Corpus.qCorpusDrift(spark, d).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got.size == 6)
    assert(got("src0|src1")._1 == 0.0, "identical distributions have zero divergence")
    assert(got("src0|src2")._1 == 1.0, "disjoint vocabularies saturate log2-JSD at 1")
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val hand = 0.5 * (0.5 * log2(0.5 / 0.625) + 0.5 * log2(0.5 / 0.375)) +
      0.5 * (0.75 * log2(0.75 / 0.625) + 0.25 * log2(0.25 / 0.375))
    assert(math.abs(got("src0|src3")._1 - hand) < 1e-9)
    assert(got("src0|src1")._2 == 2 && got("src0|src2")._2 == 3 && got("src0|src3")._2 == 2)
    // symmetry of the measure: recompute with the pair reversed by checking
    // src1 vs src3 equals src0 vs src3 (src1 ≡ src0 distributionally)
    assert(math.abs(got("src1|src3")._1 - got("src0|src3")._1) < 1e-12)
  }

  test("corpus mixture: thresholds replay exactly; temperature favors small sources") {
    val got = Corpus.qCorpusMixture(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5)))
    val docs = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val census = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val wMilli = census.view.mapValues(n => math.floor(math.sqrt(n.toDouble) * 1000).toLong).toMap
    val wTot = BigInt(wMilli.values.sum)
    val budget = BigInt(census.values.sum / 2)
    val thr = census.map { case (s, n) =>
      s -> (budget * wMilli(s) * BigInt(4294967296L) / (wTot * n)).min(BigInt(4294967296L))
    }
    val want = docs.groupBy(_._2).map { case (s, ds) =>
      val sampled = ds.count { case (id, _) =>
        BigInt(java.lang.Long.parseLong(md5hex(s"mix:$id").take(8), 16)) < thr(s)
      }
      (s, census(s), wMilli(s), sampled.toLong, 1000000L * sampled / census(s))
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == want, "membership must replay from the integer thresholds")
    // temperature alpha=1/2: the smallest source's acceptance rate must be at
    // least the largest source's (flattening upweights the tail)
    val bySize = got.sortBy(_._2)
    assert(bySize.head._5 >= bySize.last._5,
      "sqrt-temperature must not sample small sources at a lower rate than large ones")
  }

  test("bpe_pair_stats: pair counts replay the type-weighted adjacency exactly") {
    val rows = graft.ops.Corpus.qBpePairStats(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.length == 20)
    val words = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.lower(
            org.apache.spark.sql.functions.trim(
              org.apache.spark.sql.functions.col("text"))), " ")).as("w"))
      .collect().map(_.getString(0)).filter(_.nonEmpty)
    val wf = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    wf.foreach { case (w, f) =>
      if (w.length >= 2) w.sliding(2).foreach { p =>
        val k = (p.substring(0, 1), p.substring(1, 2))
        counts(k) = counts.getOrElse(k, 0L) + f
      }
    }
    val want = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.take(20)
      .map { case ((l, r), c) => (l, r, c) }
    assert(rows.toSeq == want)
  }

  test("source_quality: dup and short rates replay per source") {
    val rows = graft.ops.Corpus.qSourceQuality(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("n_chars"),
        org.apache.spark.sql.functions.col("lang"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    rows.foreach { r =>
      val g = docs.filter(_._1 == r.getString(0))
      assert(r.getLong(1) == g.length.toLong)
      assert(r.getLong(2) == g.map(_._4).distinct.length.toLong)
      assert(r.getDouble(3) == g.map(_._3).sum.toDouble / g.length.toDouble)
      assert(r.getDouble(4) == g.count(_._3 < 100).toDouble / g.length.toDouble)
      val dup = g.groupBy(_._2).values.filter(_.length > 1).map(_.length.toLong).sum
      assert(r.getLong(5) == dup)
      assert(r.getDouble(6) == dup.toDouble / g.length.toDouble)
    }
  }

  test("bpe_merge_step: two greedy merges on a planted vocabulary, by hand") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("bpe").toString
    // wf: abab ×2, cd ×1. Round 1: (a,b) weighted 2·2=4 beats (b,a) 2 and
    // (c,d) 1 → abab becomes (ab, ab) — the replace must fuse BOTH
    // occurrences, left-to-right. Round 2: (ab,ab) pc 2 beats (c,d) 1.
    // Survivors: only (c,d).
    Seq((1L, "abab abab cd", "s")).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = graft.ops.Corpus.qBpeMergeStep(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(rows == Seq((1L, "a", "b", 4L), (2L, "ab", "ab", 2L), (3L, "c", "d", 1L)))
  }

  test("bpe_merge_step: round-2 merge must not fuse a PARTIAL token (x,a vs x␟ab)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("bpecol").toString
    // Vocabulary ab×5, xab×1, xa×3. Round 1: (a,b) pc 5+1=6 beats (x,a) 4
    // → 'xab' becomes (x, ab). Round 2: (x,a) pc 3 (from the xa types)
    // beats (x,ab) 1. The merge pattern must NOT match the 'a' PREFIX of
    // token 'ab': a naive replace(s, x␟a, xa) fuses 'x␟ab' to 'xab' and
    // the (x,ab) survivor vanishes. Correct round-3 survivors: (x,ab) 1.
    Seq((1L, "ab ab ab ab ab xab xa xa xa", "s")).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = graft.ops.Corpus.qBpeMergeStep(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(rows == Seq((1L, "a", "b", 6L), (2L, "x", "a", 3L), (3L, "x", "ab", 1L)))
  }

  test("bpe_merge_step: whole-token anchoring keeps adjacent chains greedy (aaaa → aa aa)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("bpechain").toString
    // Vocabulary aaaa×3, aaa×2. Round 1 (a,a): pc 3·3 + 2·2 = 13; the
    // boundary-anchored replace must still merge CHAINS left-to-right
    // non-overlapping — aaaa → (aa,aa), aaa → (aa,a) — because each
    // match re-emits one boundary separator. Round 2 (aa,aa) pc 3 fuses
    // aaaa fully; survivor (aa,a) pc 2.
    Seq((1L, "aaaa aaaa aaaa aaa aaa", "s")).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = graft.ops.Corpus.qBpeMergeStep(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(rows == Seq((1L, "a", "a", 13L), (2L, "aa", "aa", 3L), (3L, "aa", "a", 2L)))
  }

  test("rake keyphrases: deg/freq scores and phrase census by hand") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("rake").toString
    // stopwords split doc1 into "big data" + "fast data"; doc2 repeats
    // "big data"; doc3's lone "fast" drags fast's deg/freq to 3/2.
    // word scores (ppm): big 4/2=2e6, data 6/3=2e6, fast 3/2=1.5e6 →
    // "big data" 4e6 ×2, "fast data" 3.5e6 ×1, "fast" 1.5e6 ×1.
    Seq((1L, "big data is the fast data", "s"), (2L, "big data", "s"),
      (3L, "fast", "s")).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextAnalysis.qTextKeyphrase(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("big data", 2L, 4000000L),
      ("fast data", 1L, 3500000L), ("fast", 1L, 1500000L)))
  }

  test("good_turing: spectrum, smoothed r*, and unseen mass on a planted corpus") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("gt").toString
    // tokens a×2 b×2 c×1 → spectrum r=1:N=1, r=2:N=2; N=5 tokens, 3 types.
    // r*: r=1 has N₂=2 → div(10⁶·2·2, 1) = 4,000,000; r=2 has no N₃ → 0.
    // p₀ = div(10⁶·1, 5) = 200,000.
    Seq((1L, "a a b b c", "s")).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = graft.ops.Corpus.qGoodTuring(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(rows == Seq(
      (1L, 1L, 4000000L, 5L, 3L, 200000L),
      (2L, 2L, 0L, 5L, 3L, 200000L)))
  }

  test("preference_pairs: chosen/rejected replay the max/min struct per cell") {
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("source"), col("doc_id"), col("text"), col("n_chars"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    def score(text: String, nChars: Long): Long =
      text.trim.toLowerCase.split(" ", -1).distinct.length.toLong * 1000 + nChars
    val want = docs.groupBy(t => (t._1, t._2)).toSeq.flatMap {
      case ((lang, src), xs) =>
        val scored = xs.map(t => (score(t._4, t._5), t._3)).toSeq
        val ch = scored.max // lexicographic (s, doc_id) == struct ordering
        val rj = scored.min
        if (xs.length >= 2 && ch._1 > rj._1)
          Some((lang, src, xs.length.toLong, ch._2, ch._1, rj._2, rj._1,
            ch._1 - rj._1))
        else None
    }.sortBy(t => (t._1, t._2))
    val got = Corpus.qPreferencePairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == want)
    assert(got.forall(_._8 > 0), "every pair must carry a positive margin")
  }

  test("ngram_backoff: observed rows replay c12/c1, unseen rows 0.4·c2/N") {
    val toksByDoc = Tables.documents(spark, sf).select(col("text")).collect()
      .map(_.getString(0).trim.toLowerCase.split(" ", -1).toSeq).toSeq
    val uni = toksByDoc.flatten.filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val big = toksByDoc.flatMap(t => if (t.length < 2) Seq.empty
      else t.sliding(2).map(p => (p(0), p(1))).toSeq)
      .filter(p => p._1.nonEmpty && p._2.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTot = uni.values.sum
    val top10 = uni.toSeq.sortBy { case (w, c) => (-c, w) }.take(10).map(_._1)
    val rare10 = uni.toSeq.sortBy { case (w, c) => (c, w) }.take(10).map(_._1)
    val topBig = big.toSeq.sortBy { case ((w1, w2), c) => (-c, w1, w2) }
      .take(10).map(_._1)
    val probes = (topBig ++ top10.zip(rare10)).distinct
    val want = probes.map { case (w1, w2) =>
      val seen = big.contains((w1, w2))
      val score = if (seen) 1000000L * big((w1, w2)) / uni(w1)
                  else 400000L * uni(w2) / nTot
      (w1, w2, seen, score)
    }.sortBy(t => (t._1, t._2))
    val got = Corpus.qNgramBackoff(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
      .toSeq
    assert(got == want)
    assert(got.exists(_._3) && got.exists(!_._3),
      "probe set must exercise BOTH the observed and the backoff branch")
  }

  test("curriculum_bins: bins partition the corpus and replay the quartile arithmetic") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"), col("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val toks = docs.map { case (id, nc, t) =>
      (id, nc, t.trim.toLowerCase.split(" ", -1).toSeq.filter(_.nonEmpty)) }
    val uni = toks.flatMap(_._3).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTot = uni.values.sum
    val rel = uni.map { case (w, c) => w -> 1000000L * c / nTot }
    val perDoc = toks.map { case (id, nc, ts) =>
      val d = ts.map(rel).sum / ts.length
      (id, nc, d, d / 10) }
    val n = perDoc.length.toLong
    val prof = perDoc.groupBy(_._4).view.mapValues(_.length.toLong).toSeq.sortBy(_._1)
    val cum = prof.scanLeft((0L, 0L)) { case ((_, acc), (b, c)) => (b, acc + c) }.drop(1)
    def th(k: Long): Long = cum.find(_._2 >= (k * n + 3) / 4).get._1
    val (t1, t2, t3) = (th(1), th(2), th(3))
    val want = perDoc.groupBy { case (_, _, _, b) =>
      1 + (if (b > t1) 1 else 0) + (if (b > t2) 1 else 0) + (if (b > t3) 1 else 0) }
      .toSeq.map { case (bin, xs) =>
        (bin, xs.length.toLong, xs.map(_._3).min, xs.map(_._3).max,
          xs.map(_._2).sum / xs.length) }
      .sortBy(_._1)
    val got = Corpus.qCurriculumBins(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want)
    assert(got.map(_._2).sum == n, "bins must partition every document")
    assert(got.size >= 2, "the quartile split must actually split this corpus")
    // non-overlapping difficulty ranges in bin order
    got.sliding(2).foreach { case Seq(a, b) => assert(a._4 <= b._3 + 9,
      s"bucket-granular bins must be ordered: ${a._4} vs ${b._3}")
      case _ => () }
  }

  test("tokenizer_fertility: per-language rollup replays the subtoken regex") {
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("text"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val subRe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]".r
    val want = docs.groupBy(_._1).toSeq.map { case (lang, xs) =>
      val w = xs.map(_._2.trim.toLowerCase.split(" ", -1).length.toLong).sum
      val st = xs.map(t => subRe.findAllIn(t._2).length.toLong).sum
      val ch = xs.map(_._3).sum
      (lang, xs.length.toLong, w, st, 1000000L * st / w, 1000000L * ch / st)
    }.sortBy(_._1)
    val got = Corpus.qTokenizerFertility(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want)
  }

  private def md5hex15(s: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)

  test("temperature_mixture: quarter-power weights and epoch budgets replay in integers") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("tmix").toString
    val sizes = Seq("s1" -> 1, "s2" -> 4, "s3" -> 16, "s4" -> 64)
    sizes.flatMap { case (s, n) => (0 until n).map(i => (s"$s-$i".hashCode.toLong, "x", "en", s)) }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val nTot = sizes.map(_._2).sum.toLong // 85
    val w = sizes.map { case (s, n) =>
      s -> math.floor(math.sqrt(math.sqrt(n.toDouble / nTot)) * 1000000).toLong
    }.toMap
    val wTot = w.values.sum
    val want = sizes.map { case (s, n) =>
      val epochDocs = (nTot / 4) * w(s) / wTot
      ("en", s, n.toLong, w(s), 1000000L * w(s) / wTot, epochDocs,
        1000000L * epochDocs / n)
    }
    val got = Corpus.qTemperatureMixture(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == want, s"got $got")
    // alpha = 1/4 flattening: rarer cells must be upsampled strictly harder
    val up = got.sortBy(_._3).map(_._7)
    assert(up == up.sorted.reverse && up.distinct == up,
      "upsample factor must strictly decrease with cell size")
  }

  test("epoch_shuffle: the full permutation certificate replays from keyed md5") {
    val M = 1000000007L
    val docs = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    val want = (for {
      epoch <- 1L to 3L
      doc <- docs
      u = md5hex15(s"ep$epoch:$doc")
    } yield (epoch, u % 16, u, doc))
      .groupBy(t => (t._1, t._2)).toSeq.map { case ((epoch, shard), rows) =>
        val ordered = rows.sortBy(t => (t._3, t._4)).zipWithIndex
        val chk = ordered.map { case ((_, _, _, doc), i) =>
          (((i + 1) % M) * (doc % M)) % M
        }.sum % M
        (epoch, shard, rows.size.toLong, ordered.head._1._4, ordered.last._1._4, chk)
      }.sortBy(t => (t._1, t._2))
    val got = Corpus.qEpochShuffle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == want, "placement certificate must replay bit-for-bit")
    // epochs genuinely reshuffle: at least one shard changes its head doc
    val heads = got.groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._4).toMap).toMap
    assert(heads(1L) != heads(2L) && heads(2L) != heads(3L),
      "per-epoch keys must produce different orders")
  }

  test("span_corruption: mask census replays the keyed 3-token-span hash") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val per = docs.map { case (id, lang, text) =>
      val n = text.toLowerCase.trim.split(" ", -1).length.toLong
      val mask = (g: Long) => md5hex15(s"span:$id:$g") % 20 < 3
      val m = (0L until n).count(i => mask(i / 3)).toLong
      val sp = (0L to (n - 1) / 3).count(mask).toLong
      (lang, n, m, sp)
    }
    val want = per.groupBy(_._1).toSeq.map { case (lang, rows) =>
      val (n, m, sp) = (rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum)
      (lang, rows.size.toLong, n, m, sp, n - m + sp, m + sp, 1000000L * m / n,
        if (sp == 0) null else java.lang.Long.valueOf(1000000L * m / sp))
    }.sortBy(_._1)
    val got = Corpus.qSpanCorruption(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        if (r.isNullAt(8)) null else java.lang.Long.valueOf(r.getLong(8)))).toSeq
    assert(got == want, "span census must replay the keyed hash exactly")
    // the rate targets 3/20 = 15%; the realized rate must sit near it, and the
    // input/target budgets must satisfy the sentinel identity
    want.foreach { case (_, _, n, m, sp, in, tgt, ppm, _) =>
      assert(ppm > 100000 && ppm < 200000, s"corruption rate drifted: $ppm ppm")
      assert(in + tgt == n + 2 * sp, "input+target must equal tokens + 2 sentinels/span")
    }
  }

  test("ccnet_buckets: identical docs collapse to one tail tier; real-corpus tiers are ordered and complete") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("ccnet").toString
    Seq(1L, 2L, 3L, 4L).map(id => (id, "a b c", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // every doc scores the same: both bigrams are seen with c12 = c1, so
    // score = 10^6 exactly; one bucket -> t1 = t2 -> everything is 'tail'
    val tiny = Corpus.qCcnetBuckets(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(tiny.toSeq == Seq(("en", "tail", 4L, 1000000L, 1000000L)))

    val rows = Corpus.qCcnetBuckets(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // completeness: per-language doc counts must sum to docs with >= 1 bigram
    val docBigrams = Tables.documents(spark, sf).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1).toLowerCase.trim.split(" ", -1)))
      .filter { case (_, t) => t.sliding(2).exists(p => p.length == 2 && p.forall(_.nonEmpty)) }
    val wantCounts = docBigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val gotCounts = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(gotCounts == wantCounts, "tiers must partition every scoreable doc")
    // ordering: tail scores < middle scores < head scores within each language
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val byTier = rs.map(r => r._2 -> ((r._4, r._5))).toMap
      for ((lo, hi) <- Seq("tail" -> "middle", "middle" -> "head"))
        for (l <- byTier.get(lo); h <- byTier.get(hi))
          assert(l._2 < h._1, s"$lang: $lo max ${l._2} must sit below $hi min ${h._1}")
    }
  }

  test("bpe_encode: planted 2-merge vocabulary compresses by hand; merges match bpe_merge_step") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("bpenc").toString
    Seq((1L, "abab abab ab"), (2L, "ab cd cd"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // training: (a,b) wins round 1 with weight 6; round 2 ties (ab,ab)=2 vs
    // (c,d)=2, lexical tie-break picks (ab,ab)
    val merges = Corpus.qBpeMergeStep(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .filter(_._1 <= 2).toSeq
    assert(merges == Seq((1L, "a", "b", 6L), (2L, "ab", "ab", 2L)))
    // encode: abab -> [abab], ab -> [ab], cd -> [c, d]; each word occurs twice
    // n_words 6, subtokens 2+2+4 = 8, chars 16, merged-word occurrences 4
    val got = Corpus.qBpeEncode(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(("en", 6L, 8L, 1333333L, 500000L, 666666L)), s"got ${got.toSeq}")
  }
}
