package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkSpec {

  test("exact dedup conserves documents across groups") {
    val total = Dedup.qDedupExact(spark, sf).agg(sum("n_dups")).collect()(0).getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("minhash LSH finds the same near-dup pairs as exact jaccard") {
    val exact = Dedup.qDedupNear(spark, sf).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.qDedupMinhash(spark, sf).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH must not invent pairs (both verify exact)")
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall below 0.95 (found ${lsh.size}/${exact.size})")
  }

  test("simhash: near-dup pairs have near-identical fingerprints of selves") {
    // identical texts must produce identical fingerprints → hamming 0 pairs
    val dupGroups = Dedup.qDedupExact(spark, sf).filter(col("n_dups") > 1).count()
    val zeroHam = Dedup.qDedupSimhash(spark, sf).filter(col("hamming") === 0).count()
    assert(dupGroups == 0 || zeroHam > 0)
  }

  test("simhash banding equals brute-force all-pairs and avoids cartesian plans") {
    // pigeonhole: Hamming ≤ 3 over 4 × 15-bit bands → ≥1 band agrees, so
    // the banded candidate set must lose nothing vs the O(n²) reference
    val fp = Dedup.simhashFingerprints(spark, sf)
    val a = fp.select(col("doc_id").as("d1"), col("fingerprint").as("f1"))
    val b = fp.select(col("doc_id").as("d2"), col("fingerprint").as("f2"))
    val brute = a.crossJoin(b).filter(col("d1") < col("d2"))
      .withColumn("hamming", expr("bit_count(f1 ^ f2)"))
      .filter(col("hamming") <= 3)
      .select("d1", "d2", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    val banded = Dedup.qDedupSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size}; diff=${(banded diff brute) ++ (brute diff banded)}")
    val plan = Dedup.qDedupSimhash(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "banded simhash must not plan an all-pairs join")
  }

  test("embedding near-dup: planted sign-preserving dups all found, no cartesian") {
    // Planted dup = the same vector with component 0 doubled. Doubling never
    // flips a sign, so all 8 band keys are IDENTICAL → the pair is a
    // candidate with probability 1 (not LSH-probabilistically); and
    // cos(v, v') = (1+t)/sqrt(1+3t) for t = x0²/Σx² ≥ sqrt(8/9) ≈ 0.943,
    // comfortably past the 0.4 verify. So recall on these dups must be
    // exactly 1.0 — a deterministic assertion, no flaky tolerance.
    val e = graft.Tables.embeddings(spark, sf)
    val planted = e.filter(col("vec_id").between(1, 5))
      .select((col("vec_id") + 9000).as("vec_id"),
        expr("transform(embedding, (x, i) -> CAST(CASE WHEN i = 0 THEN x * 2 ELSE x END AS FLOAT))")
          .as("embedding"),
        col("label"))
    val dir = java.nio.file.Files.createTempDirectory("graft-embdedup").toString
    e.unionByName(planted).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.qDedupEmbedding(spark, dir).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    (1 to 5).foreach { i =>
      assert(pairs.contains((i.toLong, i + 9000L)), s"planted pair ($i, ${i + 9000}) missing")
    }
    // precision is 1.0 by construction: every emitted cosine passed the
    // exact verify — assert the reported values respect the threshold
    out.foreach(r => assert(r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0 + 1e-9))
    val plan = Similarity.qDedupEmbedding(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "banded embedding dedup must not plan an all-pairs join")
  }

  test("cosine topk is ordered and bounded in [-1, 1]") {
    val rows = Similarity.qCosineTopk(spark, sf).collect()
    assert(rows.length == 20)
    val sims = rows.map(_.getAs[Double]("cosine"))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("containment flags a doc embedded in a larger one that Jaccard misses") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("contain").toString
    val core = (1 to 12).map(i => s"w$i").mkString(" ")          // 10 shingles
    val wrap = (1 to 60).map(i => s"pad$i").mkString(" ")        // boilerplate
    Seq(
      (1L, core, "en", "web", 50L),
      (2L, s"$wrap $core", "en", "web", 300L),                   // 1 inside 2
      (3L, (1 to 40).map(i => s"other$i").mkString(" "), "en", "web", 200L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = Dedup.qDedupContainment(spark, d).collect()
    assert(out.length == 1, s"exactly the planted pair, got ${out.length}")
    val r = out(0)
    assert(r.getAs[Long]("contained_id") == 1L &&
      r.getAs[Long]("container_id") == 2L, "smaller doc is the contained side")
    assert(r.getAs[Double]("containment") == 1.0,
      "every shingle of doc 1 appears in doc 2")
    assert(r.getAs[Double]("jaccard") < 0.6,
      "the pair must be invisible to the symmetric near-dup tier")
  }

  test("sparse tf-idf cosine: identical docs score 1.0, disjoint docs absent") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("simsparse").toString
    // 10 docs so the df*5 <= n_docs vocabulary cap keeps df<=2 terms;
    // docs 1 and 2 are identical, every other doc is token-disjoint
    val rows = Seq(
      (1L, "apple banana cherry"), (2L, "apple banana cherry")) ++
      (3L to 10L).map(i => (i, (1 to 3).map(j => s"tok${i}_$j").mkString(" ")))
    rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = Similarity.qSimSparse(spark, d).collect()
    assert(out.length == 1, s"only the planted identical pair, got ${out.length}")
    assert(out(0).getAs[Long]("doc_a") == 1L && out(0).getAs[Long]("doc_b") == 2L)
    assert(out(0).getAs[Double]("cos") == 1.0, "identical tf-idf vectors")
    // and the plan never goes all-pairs: candidates come from the token join
    val plan = Similarity.qSimSparse(spark, d).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "inverted-index join, not cartesian")
  }

  test("setsim join: prefix+positional filters are complete vs brute force at 0.8") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("setsim").toString
    val docs = Seq(
      // 11 tokens → 10 bigrams; 2 shares 9 of them with 1: jacc 9/11 ≈ 0.818
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"), // = 1
      (4L, "alpha beta gamma delta nu xi omicron pi rho sigma tau"), // jacc < 0.8 vs 1
      (5L, "omega psi chi phi upsilon one two three four five six"), // disjoint
      (6L, "five six seven eight nine ten eleven twelve thirteen fourteen fifteen"),
      // tiny qualifying pair: 5 tokens → 4 bigrams, identical → jacc 1.0
      // with α = 4 shared bigrams < K = 8, so the cnt ≥ least(K, α) gate
      // takes its tiny-pair branch — the guard against dropping qualifying
      // pairs with fewer than K shared bigrams (ADVICE r10)
      (7L, "ua ub uc ud ue"),
      (8L, "ua ub uc ud ue"),
    )
    docs.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // driver-side brute force over all pairs, bigram sets like the operator
    val sets = docs.map { case (id, t) =>
      id -> t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    }.toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      o = (sets(a) & sets(b)).size
      if o * 10 >= (sets(a).size + sets(b).size - o) * 8
    } yield (a, b)).toSet
    assert(expected == Set((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L)),
      s"fixture should plant the 1-2-3 cluster + the tiny 7-8 pair, got $expected")
    val got = graft.ops.Dedup.qSetsimJoin(spark, d).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(got == expected, s"got $got expected $expected")
    // and the exact jaccard values survive the integer verify
    val rows = graft.ops.Dedup.qSetsimJoin(spark, d).collect()
    val j12 = rows.find(r => r.getAs[Long]("d1") == 1L && r.getAs[Long]("d2") == 2L)
      .get.getAs[Double]("jaccard")
    assert(math.abs(j12 - 0.818182) < 1e-9, s"9/11 micro-floored, got $j12")
    val j13 = rows.find(r => r.getAs[Long]("d1") == 1L && r.getAs[Long]("d2") == 3L)
      .get.getAs[Double]("jaccard")
    assert(j13 == 1.0)
    // plan shape: inverted-index join for candidates, shuffle-hash
    // dictionary joins for verify — never a cartesian, and NEVER a
    // broadcast of the corpus-sized per-doc token-set dictionary (at
    // 100 TB that broadcast is a driver/executor OOM). The shuffle_hash
    // hint pins the strategy so AQE cannot flip it back to broadcast.
    val qe = graft.ops.Dedup.qSetsimJoin(spark, d).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "candidates must come from the prefix join")
    assert(plan.contains("ShuffledHashJoin"), "dictionary verify must shuffle-hash join")
    assert(!qe.analyzed.toString.toLowerCase.contains("broadcast"),
      "no explicit broadcast hint anywhere in the setsim plan")
  }

  test("knn classify: prediction is the majority label of the knn join's top-5") {
    val e = Tables.embeddings(spark, sf)
    val labels = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val nnLabels = Similarity.qKnnJoin(spark, sf).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(r => labels(r.getAs[Long]("vec_id")))).toMap
    val preds = Similarity.qKnnClassify(spark, sf).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Number]("pred_label").longValue, r.getAs[Long]("votes")))
      .toMap
    assert(preds.keySet == nnLabels.keySet)
    preds.foreach { case (qid, (pred, votes)) =>
      val counts = nnLabels(qid).groupBy(identity).view.mapValues(_.length).toMap
      val expected = counts.toSeq.sortBy { case (l, n) => (-n, l) }.head
      assert((pred, votes.toInt) == expected, s"qid $qid: got ($pred, $votes), want $expected")
    }
  }

  test("gram matrix covers the upper triangle and matches a driver-side replay") {
    val rows = Similarity.qGramMatrix(spark, sf).collect()
    val d = 64
    assert(rows.length == d * (d + 1) / 2, "one row per unordered dim pair")
    val g = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Double]("gram")).toMap
    assert((0 until d).forall(i => g((i, i)) >= 0.0), "diagonal is a sum of squares")
    // exact replay of the quantized arithmetic on the collected corpus for a
    // few pairs — same micro-unit rounding, so equality is bitwise
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding")
        // HALF_UP away from zero — Spark round()'s semantics on negatives,
        // where math.round (floor(x+0.5)) would disagree at exact halves
        .map { v =>
          val x = v.toDouble * 1e6
          if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
        }.toArray)
    for ((i, j) <- Seq((0, 0), (0, 63), (7, 31))) {
      val expected = vecs.map(q => q(i) * q(j)).sum.toDouble / 1e12
      assert(g((i, j)) == expected, s"gram($i,$j): ${g((i, j))} != $expected")
    }
  }

  test("ANN LSH results are a high-recall subset of brute-force top-10") {
    val brute = Similarity.qCosineTopk(spark, sf).limit(10).collect()
      .map(_.getLong(0)).toSet
    val ann = Similarity.qAnnLsh(spark, sf).collect().map(_.getLong(0)).toSet
    val recall = ann.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"ANN recall vs brute force: $recall")
  }

  test("IVF ANN (k-means-trained) probes 4/16 lists with high brute-force recall") {
    val brute = Similarity.qCosineTopk(spark, sf).limit(10).collect()
      .map(_.getLong(0)).toSet
    val ivf = Similarity.qAnnIvf(spark, sf).collect().map(_.getLong(0)).toSet
    assert(ivf.nonEmpty && ivf.size <= 10)
    // measured 0.9 at sf0.001 / 1.0 at sf0.1 with the trained index; the
    // bar is below that so data regeneration can't flake the suite, but
    // far above the 0.2 the untrained index was once held to
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall vs brute force: $recall")
  }

  test("batched IVF serves every query with per-query top-5 from probed lists") {
    val rows = Similarity.qAnnIvfBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_._1)
    byQ.foreach { case (qid, hits) =>
      assert(qid % 40 == 0)
      assert(hits.length <= 5)
      assert(hits.map(_._3).sorted.sameElements(1 to hits.length),
        s"query $qid ranks must be 1..${hits.length}")
      assert(!hits.exists(_._2 == qid), "a query must not retrieve itself")
    }
    // the single-query IVF (qid 0) agrees with the batch's qid-0 slice on
    // the overlap: same trained index, same probes, so its top-5 prefix of
    // the batch result must match the standalone top-10 prefix
    val single = Similarity.qAnnIvf(spark, sf).collect().map(_.getLong(0)).take(5).toSeq
    val batch0 = rows.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq
    assert(batch0 == single.take(batch0.length),
      s"batch qid-0 $batch0 diverges from single-query IVF ${single.take(5)}")
  }

  test("incremental dedup agrees with the corpus-wide near-dup tier") {
    val near = Dedup.qDedupNear(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val inc = Dedup.qDedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    inc.foreach { case (docId, dupOf, j) =>
      assert(docId % 10 == 0, s"$docId is not in the new batch")
      assert(dupOf % 10 != 0, s"match $dupOf must come from the existing corpus")
      // the same pair with the same jaccard exists in the corpus-wide tier
      val key = (math.min(docId, dupOf), math.max(docId, dupOf))
      assert(near.get(key).contains(j),
        s"incremental pair $key@$j not confirmed by q_dedup_near")
    }
    // completeness: every near pair that crosses the batch/corpus split is
    // represented by a row for its new-batch member
    val flagged = inc.map(_._1).toSet
    near.keys.foreach { case (a, b) =>
      val crosses = (a % 10 == 0) != (b % 10 == 0)
      if (crosses) {
        val newId = if (a % 10 == 0) a else b
        assert(flagged.contains(newId),
          s"near pair ($a,$b) crosses the split but $newId was admitted")
      }
    }
  }

  test("dedup clusters: transitive closure of near-dup pairs, one min-label each") {
    val pairs = Dedup.qDedupNear(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.qDedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // every paired doc is labeled, both ends of a pair share a label
    pairs.foreach { case (a, b) =>
      assert(clusters.contains(a) && clusters.contains(b))
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // the label is the component minimum → labels are their own cluster ids
    clusters.values.toSet.foreach { (cid: Long) =>
      assert(clusters(cid) == cid, s"cluster id $cid is not its own label")
    }
  }

  test("dedup clusters follow chains that keep-first cannot (A~B, B~C, A!~C)") {
    import spark.implicits._
    // base ~60 tokens; variants rewrite disjoint halves so A~B and B~C
    // overlap heavily but A and C drift below the 0.6 Jaccard threshold
    val words = (1 to 60).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = (words.take(50) ++ (1 to 10).map(i => s"x$i")).mkString(" ")
    val c = (words.take(40) ++ (1 to 20).map(i => s"x$i")).mkString(" ")
    val d = java.nio.file.Files.createTempDirectory("clusters").toString
    Seq((1L, a), (2L, b), (3L, c), (4L, (1 to 60).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val near = Dedup.qDedupNear(spark, d).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near.contains((1L, 2L)) && near.contains((2L, 3L)) && !near.contains((1L, 3L)),
      s"fixture must form a chain; got $near")
    val cl = Dedup.qDedupClusters(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(cl.toSet == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false)),
      s"chain must collapse to one cluster rooted at 1: ${cl.mkString(",")}")
    // keep-first would only drop pair-larger ids {2,3} — same here — but the
    // clustering additionally PROVES 3 groups with 1 despite no direct edge
  }

  test("dedup survivors = documents minus near-dup losers") {
    val survivors = Dedup.qDedupSurvivors(spark, sf)
    val losers = Dedup.qDedupNear(spark, sf).select("d2").distinct().count()
    assert(survivors.count() == Tables.documents(spark, sf).count() - losers)
  }

  test("dedup pipeline: funnel accounting chains and each stage agrees with its tier") {
    val rows = Dedup.qDedupPipeline(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq("1_exact", "2_near", "3_semantic"))
    rows.foreach { case (st, in, dropped, out) =>
      assert(in - dropped == out && dropped >= 0, s"stage $st accounting")
    }
    rows.sliding(2).foreach {
      case Array((_, _, _, out), (st, in, _, _)) =>
        assert(out == in, s"stage $st must consume the previous survivors")
      case _ =>
    }
    assert(rows.head._2 == Tables.documents(spark, sf).count())
    // stage 1 out = number of distinct normalized texts (the exact tier's groups)
    assert(rows.head._4 == Dedup.qDedupExact(spark, sf).count())
    // stage 3 can drop at most the distinct higher-id members of the
    // unrestricted semantic pair set
    val maxSemantic = Similarity.qDedupEmbedding(spark, sf)
      .select("v2").distinct().count()
    assert(rows(2)._3 <= maxSemantic)
  }

  test("substring dedup: coverage replays an in-memory interval merge; planted copy found") {
    val got = Dedup.qDedupSubstring(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // independent replay: positional 5-grams, corpus occurrence >= 2, merge
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split(" ", -1).toSeq)
      .filter(_._2.length >= 5)
    val occ = scala.collection.mutable.HashMap.empty[String, Int]
    val grams = docs.map { case (id, t) =>
      id -> t.sliding(5).map(_.mkString(" ")).toArray }
    grams.foreach { case (_, gs) => gs.foreach(g => occ(g) = occ.getOrElse(g, 0) + 1) }
    assert(got.size == docs.length)
    docs.foreach { case (id, t) =>
      val hits = grams.find(_._1 == id).get._2.zipWithIndex
        .collect { case (g, p) if occ(g) >= 2 => p }
      var spans = 0; var covered = 0L; var end = -1
      hits.foreach { p =>
        if (p > end) { spans += 1; covered += 5; end = p + 5 }
        else { covered += (p + 5 - end); end = p + 5 }
      }
      val (n, ns, cov, ratio) = got(id)
      assert(n == t.length && ns == spans && cov == covered, s"doc $id intervals")
      assert(math.abs(ratio - covered.toDouble / t.length) < 1e-6, s"doc $id ratio")
      assert(cov <= n, s"doc $id coverage cannot exceed length")
    }
    // the corpus genuinely exercises the merge: some doc must have a
    // multi-shingle island (coverage > 5 tokens in one span or spans joined)
    assert(got.values.exists(_._3 > 0), "no duplicated spans found at all")
  }

  test("semdedup: keep/drop partitions the corpus and every verdict is justified") {
    val out = Similarity.qSemdedup(spark, sf)
    val rows = out.collect()
    val e = Tables.embeddings(spark, sf)
      .filter(size(col("embedding")) === 64)
      .filter(expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x), 0D, (a, x) -> a + x) > 0"))
    assert(rows.length == e.count(), "every canonical vector gets a verdict")
    rows.foreach { r =>
      val kept = r.getBoolean(2)
      assert(kept == r.isNullAt(3), "kept iff no dominator")
      if (!kept) assert(r.getLong(3) < r.getLong(0), "dominator has the lower id")
    }
    // every non-kept vector's dominator shares its cluster and truly clears
    // the threshold — re-derive cosine from raw embeddings, not the op
    val emb = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cid = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filterNot(_.getBoolean(2)).foreach { r =>
      val (v, u) = (r.getLong(0), r.getLong(3))
      assert(cid(u) == cid(v), s"dominator $u of $v must share its cluster")
      assert(cos(emb(u), emb(v)) >= 0.4 - 1e-9, s"pair ($u,$v) below threshold")
    }
    assert(rows.exists(!_.getBoolean(2)), "corpus should contain semantic near-dups")
  }

  test("ann_pq: training, encoding, and ADC serving replay exactly in integer arithmetic") {
    val got = Similarity.qAnnPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val emb = Tables.embeddings(spark, sf)
      .filter(size(col("embedding")) === 64)
      .filter(expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x), 0D, (a, x) -> a + x) > 0"))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // integer micro sub-vectors
    // HALF_UP like Spark's round() (math.round floors at negative .5)
    def subv(v: Array[Float], s: Int): Array[Long] =
      (0 until 16).map(j => BigDecimal(v(s * 16 + j).toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    // seed codebooks, one Lloyd iteration with truncating integer means
    val cb = Array.tabulate(4) { s =>
      scala.collection.mutable.ArrayBuffer.tabulate(8)(c => subv(emb(c.toLong), s))
    }
    for (s <- 0 until 4) {
      val members = Array.fill(8)(scala.collection.mutable.ArrayBuffer.empty[Array[Long]])
      emb.toSeq.sortBy(_._1).foreach { case (_, v) =>
        val sv = subv(v, s)
        val best = (0 until 8).minBy(c => (d2(sv, cb(s)(c)), c))
        members(best) += sv
      }
      for (c <- 0 until 8 if members(c).nonEmpty) {
        val n = members(c).length
        cb(s)(c) = Array.tabulate(16) { d =>
          val sx = members(c).map(_(d)).sum
          // truncate-toward-zero division, the Spark `div` semantics
          sx / n
        }
      }
    }
    val qsv = Array.tabulate(4)(s => subv(emb(0L), s))
    val lut = Array.tabulate(4, 8)((s, c) =>
      (0 until 16).map(i => cb(s)(c)(i) * qsv(s)(i)).sum)
    val want = emb.toSeq.filter(_._1 != 0L).map { case (id, v) =>
      val adc = (0 until 4).map { s =>
        val sv = subv(v, s)
        val code = (0 until 8).minBy(c => (d2(sv, cb(s)(c)), c))
        lut(s)(code)
      }.sum
      (id, adc)
    }.sortBy { case (id, adc) => (-adc, id) }.take(10)
      .map { case (id, adc) =>
        (id, BigDecimal(adc.toDouble / 1e12).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble) }
    assert(got.toSeq == want, "PQ pipeline must replay bit-for-bit")
    // honest recall floor on this uniform corpus (see the op's doc)
    val qv = emb(0L)
    val exact = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        (id, (0 until 64).map(i => v(i).toDouble * qv(i)).sum) }
      .sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSet
    assert(got.map(_._1).count(exact.contains) >= 2,
      "ADC top-10 should overlap the exact-dot top-10")
  }

  test("mmr: the 5 picks replay an in-memory greedy selection over the top-20 pool") {
    val got = Similarity.qMmrDiversify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val emb = Tables.embeddings(spark, sf)
      .filter(size(col("embedding")) === 64)
      .filter(expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x), 0D, (a, x) -> a + x) > 0"))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val qv = emb(0L)
    val pool = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, v, cos(v, qv)) }
      .sortBy { case (id, _, r) => (-r, id) }.take(20)
    var picked = Vector(pool.head)
    for (_ <- 2 to 5) {
      val next = pool.filterNot(c => picked.exists(_._1 == c._1))
        .map { case (id, v, r) =>
          (id, v, r, r * 0.7 - picked.map(p => cos(v, p._2)).max * 0.3) }
        .minBy { case (id, _, _, s) => (-s, id) }
      picked :+= ((next._1, next._2, next._3))
    }
    val want = picked.zipWithIndex.map { case ((id, _, r), i) =>
      (id, i + 1, BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    assert(got.toSeq == want, "greedy MMR selection must replay exactly")
    // first pick is the raw top-1; the set is diverse by construction
    assert(got.head._1 == pool.head._1)
    assert(got.map(_._1).distinct.length == 5)
  }

  test("quality metrics: ratios in [0,1], token counts positive") {
    val df = TextAnalysis.qTextQuality(spark, sf)
    assert(df.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1).count() == 0)
    assert(df.filter(col("distinct_ratio") <= 0 || col("distinct_ratio") > 1).count() == 0)
    assert(df.filter(col("n_tokens") <= 0).count() == 0)
    assert(df.count() == Tables.documents(spark, sf).count())
  }

  test("readability: counts replay Java regex, scores replay the Flesch closed form") {
    val got = TextAnalysis.qTextReadability(spark, sf).collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      val t = docs(r.getLong(0))
      val w = "[a-z]+".r.findAllIn(t.toLowerCase).length
      val sy = "[aeiouy]+".r.findAllIn(t.toLowerCase).length
      val s = math.max("[.!?]+".r.findAllIn(t).length, 1)
      assert(r.getInt(1) == w && r.getInt(2) == sy && r.getInt(3) == s,
        s"doc ${r.getLong(0)} counts")
      val flesch = 206.835 - 1.015 * (w.toDouble / s) - 84.6 * (sy.toDouble / w)
      val grade = 0.39 * (w.toDouble / s) + 11.8 * (sy.toDouble / w) - 15.59
      assert(math.abs(r.getDouble(4) - flesch) < 1e-3, s"doc ${r.getLong(0)} flesch")
      assert(math.abs(r.getDouble(5) - grade) < 1e-3, s"doc ${r.getLong(0)} grade")
      assert(sy <= t.length, "syllable groups bounded by text length")
    }
    // zero-word documents (if any) must be excluded, not divide by zero
    assert(got.length == docs.count { case (_, t) =>
      "[a-z]+".r.findAllIn(t.toLowerCase).nonEmpty })
  }

  test("ngram langid classifies every document exactly once, deterministically") {
    val cm = TextAnalysis.qTextLangidNgram(spark, sf)
    assert(cm.agg(sum("n")).collect()(0).getLong(0) ==
      Tables.documents(spark, sf).count())
    val a = cm.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val b = TextAnalysis.qTextLangidNgram(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(a.sameElements(b))
  }

  test("ngram langid keeps short and empty documents, classified 'und'") {
    import spark.implicits._
    val tiny = Seq((1L, "ab", "xx"), (2L, "", "yy"),
      (3L, "the quick brown fox jumps over the lazy dog repeatedly", "en"))
      .toDF("doc_id", "text", "lang")
    // drive the same pipeline shape through a temp parquet dir
    val d = java.nio.file.Files.createTempDirectory("langid").toString
    tiny.withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val cm = TextAnalysis.qTextLangidNgram(spark, d)
    assert(cm.agg(sum("n")).collect()(0).getLong(0) == 3,
      "every doc, including sub-3-char ones, must be classified")
    val preds = cm.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(preds("xx") == "und" && preds("yy") == "und")
  }

  test("fingerprint is deterministic and order-sensitive") {
    val a = TextAnalysis.qTextFingerprint(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = TextAnalysis.qTextFingerprint(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
    import spark.implicits._
    val fp = Seq((1L, "a bb ccc"), (2L, "ccc bb a")).toDF("doc_id", "text")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("fp", expr(
        """aggregate(transform(toks, t -> CAST(length(t) + ascii(t) AS BIGINT)),
          |0L, (acc, v) -> (acc * 31 + v) % 1000000007)""".stripMargin))
      .collect().map(_.getAs[Long]("fp"))
    assert(fp(0) != fp(1), "reordered tokens must change the fingerprint")
  }

  test("source_overlap: minwise match estimate replays; sketch merges by MIN") {
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def shingles(t: String): Seq[String] = {
      val toks = t.trim.toLowerCase.split(" ", -1)
      if (toks.length < 3) Seq.empty
      else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" "))
    }
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bySrc = docs.groupBy(_._1).view.mapValues(_.flatMap(d => shingles(d._2))).toMap
    val minsOf = bySrc.view.mapValues(shs =>
      (0 until 32).map(i => shs.map(s => md5hex(s"$i:$s")).min)).toMap
    val setsOf = bySrc.view.mapValues(_.toSet).toMap
    val srcs = bySrc.keys.toSeq.sorted
    val want = (for {
      a <- srcs; b <- srcs if a < b
    } yield {
      val nMatch = (0 until 32).count(i => minsOf(a)(i) == minsOf(b)(i)).toLong
      val inter = (setsOf(a) & setsOf(b)).size.toLong
      val uni = setsOf(a).size + setsOf(b).size - inter
      val (estP, jacP) = (1000000L * nMatch / 32, 1000000L * inter / uni)
      (a, b, nMatch, estP, setsOf(a).size.toLong, setsOf(b).size.toLong,
        inter, uni, jacP, math.abs(estP - jacP))
    }).sortBy(t => (t._1, t._2))
    val got = Dedup.qSourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9))).toSeq
    assert(got == want, "every source pair must replay sketch and truth")
    // mergeability: the sketch of a union is the elementwise MIN of sketches
    val (sa, sb) = (srcs(0), srcs(1))
    val unionMins = (0 until 32).map(i =>
      (bySrc(sa) ++ bySrc(sb)).map(s => md5hex(s"$i:$s")).min)
    assert(unionMins == (0 until 32).map(i =>
      Seq(minsOf(sa)(i), minsOf(sb)(i)).min),
      "k-min sketches must merge by per-hash MIN")
  }

  test("multimodal resize: pooled ppm bins replay from a driver-side byte histogram") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8")).toMap
    val got = Multimodal.qMultimodalResize(spark, sf).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val bytes = docs(r.getLong(0))
      val hist = new Array[Long](16)
      bytes.foreach(b => hist((b & 0xFF) >> 4) += 1L)
      assert(r.getLong(1) == bytes.length.toLong)
      (0 until 8).foreach { i =>
        val want = if (bytes.isEmpty) 0L
          else 1000000L * (hist(2 * i) + hist(2 * i + 1)) / bytes.length
        assert(r.getLong(2 + i) == want, s"doc ${r.getLong(0)} pooled bin $i")
      }
      // pooling conserves mass: the 8 ppm weights sum to ~1e6 (floor loss < 8)
      val s = (0 until 8).map(j => r.getLong(2 + j)).sum
      assert(s > 999992 && s <= 1000000, s"ppm mass $s out of band")
    }
  }

  test("multimodal: frame sampling counts and frame digests replay from the raw bytes") {
    val fs = Multimodal.frameSample(spark, sf)
      .withColumn("expected", ceil(col("meta.n_frames") / 4.0).cast("int"))
      .filter(col("n_sampled") =!= col("expected"))
    assert(fs.count() == 0)
    // frame digests replay from a driver-side byte slice of the raw text —
    // verifies the binary substring produces the exact bytes, not just counts
    val md = java.security.MessageDigest.getInstance("MD5")
    def hexMd5(bytes: Array[Byte]): String = {
      val hx = bytes.map(b => f"${b & 0xff}%02X").mkString
      md.reset()
      md.digest(hx.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Multimodal.qMultimodalFrames(spark, sf).collect().take(50).foreach { r =>
      val bytes = texts(r.getLong(0)).getBytes("UTF-8")
      if (r.getInt(2) > 0) {
        val fb = Multimodal.FrameBytes
        val nFrames = r.getInt(1)
        val lastIdx = ((nFrames - 1) / 4) * 4
        val first = bytes.slice(0, math.min(fb, bytes.length))
        val last = bytes.slice(lastIdx * fb, math.min(lastIdx * fb + fb, bytes.length))
        assert(r.getAs[String]("first_frame_md5") == hexMd5(first))
        assert(r.getAs[String]("last_frame_md5") == hexMd5(last))
      }
    }
  }

  test("multimodal phash: exact dup pairs found via bands, disjoint docs absent, no cartesian") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("phash").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // byte-identical to 1
      (3L, "zzzz zzzz zzzz zzzz zzzz zzzz zzzz"),            // different byte mix
      (4L, "")                                               // empty payload
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = graft.ops.Multimodal.qMultimodalPhash(spark, d).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"identical payloads must pair: $pairs")
    rows.filter(r => (r.getLong(0), r.getLong(1)) == (1L, 2L)).foreach { r =>
      assert(r.getAs[Int]("hamming") == 0, "identical payloads have hamming 0")
      assert(r.getAs[Long]("h1") == r.getAs[Long]("h2"))
    }
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"the different byte mix must not pair with the cluster: $pairs")
    // driver-side replay of the corpus-centered 60-bit simhash for doc 1
    val texts = Map(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "zzzz zzzz zzzz zzzz zzzz zzzz zzzz",
      4L -> "")
    def binsOf(t: String): Array[Long] = {
      val a = new Array[Long](64)
      t.getBytes("UTF-8").foreach(b => a((b & 0xFF) / 4) += 1)
      a
    }
    val cbins = texts.values.map(binsOf).reduce((x, y) => x.zip(y).map(p => p._1 + p._2))
    val ctotal = cbins.sum
    def phashOf(t: String): Long = {
      val bins = binsOf(t); val total = bins.sum
      (0 until 60).map { j =>
        val s = (0 until 64).map { b =>
          val w = 2 * (((1103515245L * (b * 60 + j) + 12345L) / 65536L) % 2) - 1
          w * (bins(b) * ctotal - cbins(b) * total)
        }.sum
        if (s > 0) 1L << j else 0L
      }.sum
    }
    val h1 = rows.find(r => r.getLong(0) == 1L).map(_.getAs[Long]("h1"))
    assert(h1.contains(phashOf(texts(1L))),
      s"phash must equal the centered simhash replay: got $h1 want ${phashOf(texts(1L))}")
    val plan = graft.ops.Multimodal.qMultimodalPhash(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "candidates must come from the band join")
  }

  test("int8 quantized top-10 overlaps the exact float top-10 and dots replay") {
    val exact = graft.ops.Similarity.qCosineTopk(spark, sf).collect()
      .map(_.getLong(0)).take(10).toSet
    val rows = graft.ops.Similarity.qEmbedQuantize(spark, sf).collect()
    assert(rows.length == 10)
    val quantIds = rows.map(_.getLong(0)).toSet
    // int8 rounding perturbs scores but not the neighborhood: strong overlap
    assert((exact & quantIds).size >= 7,
      s"quantized top-10 too far from exact: ${(exact & quantIds).size}/10 overlap")
    // driver-side replay of the integer dot product for the top row
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def quantize(x: Array[Float]): Array[Long] = {
      val m = x.map(v => math.floor(v.toDouble * 1000000 + 0.5).toLong)
      val amax = m.map(math.abs).max
      m.map(v => math.signum(v) * ((math.abs(v) * 127 + amax / 2) / amax))
    }
    val q0 = quantize(emb(0L))
    rows.take(3).foreach { r =>
      val qi = quantize(emb(r.getLong(0)))
      val dot = qi.zip(q0).map { case (a, b) => a * b }.sum
      assert(r.getAs[Long]("dot") == dot, s"vec ${r.getLong(0)}: dot replay mismatch")
    }
  }

  test("rag retrieve: top-10 equals an in-memory rerank of the metadata-eligible slice") {
    val got = graft.ops.Similarity.qRagRetrieve(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).map(_.toDouble)
    val eligible = Tables.documents(spark, sf)
      .filter(col("lang") === "en" && col("n_chars") >= 200).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val vecs = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .filter { case (id, v) => eligible.contains(id) && v.exists(_ != 0.0) }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = vecs.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq, "same ranking")
    got.zip(want).foreach { case ((_, gc), (_, wc)) =>
      assert(math.abs(gc - wc) < 1e-5)
    }
  }

  test("rank fusion: rrf recomputes from the two component ranks") {
    val rows = graft.ops.Similarity.qRankFusion(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { case (_, rd, rl, rrf) =>
      val want = 1.0 / (60.0 + rd) + 1.0 / (60.0 + rl)
      assert(math.abs(rrf - math.floor(want * 1e8 + 0.5) / 1e8) < 1e-12)
      assert(rd >= 1 && rl >= 1)
    }
    // fused order is non-increasing
    rows.map(_._4).sliding(2).foreach {
      case Array(a, b) => assert(a >= b)
      case _ => ()
    }
  }

  test("weighted sampling replays exactly and skews toward heavy weights") {
    val picked = graft.ops.Reshape.qSampleWeighted(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(picked.length == 20 && picked.map(_._1).toSeq == (1 to 20))
    // exact replay of the clock formula on the driver
    val all = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    def clock(key: Long, w: Double): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(13)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 4503599627370497.0
      -math.log(u) / w
    }
    val want = all.map { case (k, w) => (clock(k, w), k) }.sorted.take(20).map(_._2)
    assert(picked.map(_._2).toSeq == want.toSeq, "same sample as the in-memory replay")
    // inclusion skews to weight: sampled mean weight exceeds population mean
    assert(picked.map(_._3).sum / 20 > all.map(_._2).sum / all.length)
  }

  test("fuzzy pairs: dist matches a reference levenshtein and blocking holds") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // sf0.001's 200 parts leave the (brand, size) blocks as singletons —
    // use sf0.01, where blocks carry real candidates (106 pairs)
    val rows = graft.ops.Dedup.qFuzzyPairs(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "each unordered pair appears once")
      val d = r.getInt(4)
      assert(d <= 3 && d == lev(r.getString(2), r.getString(3)))
    }
  }

  test("shard manifest: replays the running-offset packing; bytes conserved, ranges disjoint") {
    val got = Multimodal.qShardManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8").length.toLong))
      .sortBy(_._1)
    var off = 0L
    val assign = docs.map { case (id, nb) =>
      val shard = off / 65536L; off += nb; (shard, id, nb)
    }
    val want = assign.groupBy(_._1).toSeq.map { case (s, xs) =>
      (s, xs.length.toLong, xs.map(_._3).sum, xs.map(_._2).min, xs.map(_._2).max)
    }.sortBy(_._1)
    assert(got.toSeq == want, "manifest must replay the streaming-tar offset rule")
    assert(got.map(_._3).sum == docs.map(_._2).sum, "no byte lost or duplicated")
    // id ranges are disjoint and ordered: packing in doc_id order
    assert(got.sliding(2).forall {
      case Array(a, b) => a._5 < b._4; case _ => true
    })
  }

  test("embed drift: centroid cosine recomputes from quantized integer means") {
    val got = Similarity.qEmbedDrift(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def q(v: Float): Long = BigDecimal(v.toDouble * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val want = vecs.groupBy(_._2).toSeq.map { case (label, vs) =>
      val (h0, h1) = vs.partition(_._1 % 2 == 0)
      val dim = vs.head._3.length
      val m0 = (0 until dim).map { i =>
        if (h0.isEmpty) 0L else {
          val s = h0.map(v => q(v._3(i))).sum; s / h0.length
        }
      }
      val m1 = (0 until dim).map { i =>
        if (h1.isEmpty) 0L else {
          val s = h1.map(v => q(v._3(i))).sum; s / h1.length
        }
      }
      val dot = m0.zip(m1).map { case (a, b) => a * b }.sum.toDouble
      val n0 = m0.map(a => a * a).sum.toDouble
      val n1 = m1.map(a => a * a).sum.toDouble
      val cos = if (n0 == 0 || n1 == 0) None
        else Some(BigDecimal(dot / (math.sqrt(n0) * math.sqrt(n1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
      (label, h0.length.toLong, h1.length.toLong, cos)
    }.sortBy(_._1)
    assert(got.toSeq == want, "centroid cosine must replay from integer means")
  }

  test("blocklist audit recomputes from a plain-Scala token scan") {
    val got = TextAnalysis.qTextBlocklist(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val bl = Set("big", "dup", "slow")
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = docs.groupBy(_._1).toSeq.map { case (src, ds) =>
      val hits = ds.map { case (_, t) => t.trim.toLowerCase.split(" ", -1).count(bl).toLong }
      val flagged = hits.count(_ > 0).toLong
      (src, ds.size.toLong, flagged, hits.sum, 1000000L * flagged / ds.size)
    }.sortBy(_._1)
    assert(got.toSeq == want, "per-source blocklist census must agree exactly")
  }

  test("quality flags recompute from plain-Scala token stats; keep is the conjunction") {
    val got = TextAnalysis.qQualityFlags(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == docs.length, "every document gets a flag row")
    val stops = Set("the", "a", "of", "and", "to", "in", "is", "it")
    val want = docs.map { case (id, text) =>
      val toks = text.trim.toLowerCase.split(" ", -1).toSeq
      val n = toks.size.toDouble
      val fLen = toks.size >= 20 && toks.size <= 10000
      val fWl = { val m = toks.map(_.length).sum / n; m >= 2.0 && m <= 12.0 }
      val fStop = toks.count(stops) / n >= 0.01
      val fRep = toks.distinct.size / n >= 0.2
      val fTop = toks.groupBy(identity).values.map(_.size).max / n <= 0.2
      (id, fLen, fWl, fStop, fRep, fTop, fLen && fWl && fStop && fRep && fTop)
    }.sortBy(_._1)
    assert(got.toSeq == want.toSeq, "flags must agree row for row")
  }

  test("perplexity scoring: hand-computed bits on a planted LM; unseen bigrams smoothed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    val d = java.nio.file.Files.createTempDirectory("ppl").toString
    Seq(
      (1L, "a b a", "en"),  // LM bigrams: (a,b), (b,a)
      (2L, "b a", "en"),    // LM bigram:  (b,a)
      (3L, "c a", "zh"),    // unseen context c: pure smoothing
    ).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = TextAnalysis.qTextPerplexity(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    // LM (en): n_ab = {(a,b)->1, (b,a)->2}; n_a = {a->1, b->2}; V = 2
    def bitsMicro(nAb: Long, nA: Long): Long =
      math.floor(-(math.log((nAb + 1.0) / (nA + 2.0)) / math.log(2.0)) * 1000000 + 0.5).toLong
    def avg(bs: Seq[Long]): Double =
      math.floor(bs.sum.toDouble / bs.size + 0.5) / 1000000
    val want = Seq(
      (1L, "en", 2L, avg(Seq(bitsMicro(1, 1), bitsMicro(2, 2)))),
      (2L, "en", 1L, avg(Seq(bitsMicro(2, 2)))),
      (3L, "zh", 1L, avg(Seq(bitsMicro(0, 0)))))
    assert(got == want)
    // the unseen-context bigram is exactly -log2(1/2) = 1 bit
    assert(got.find(_._1 == 3L).get._4 == 1.0)
    // out-of-domain text scores strictly higher than in-domain
    assert(got.find(_._1 == 3L).get._4 > got.find(_._1 == 2L).get._4)
  }

  test("confusion: per-class cells are consistent and replay the bucket-majority classifier") {
    val rows = Similarity.qConfusion(spark, sf).collect()
    assert(rows.nonEmpty)
    // replay: buckets from the integer sign codes over the same planes
    val e = Tables.embeddings(spark, sf)
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .filter { case (_, _, v) => v.map(x => x.toDouble * x.toDouble).sum > 0 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val planes = (0 until 8).map { h =>
      (0 until 64).map { j =>
        val hex = md.digest(s"$h:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.take(15), 16) % 1000 - 500
      }
    }
    def bucket(v: Array[Float]): Int = (0 until 8).map { h =>
      var acc = 0.0
      (0 until 64).foreach(j => acc += v(j).toDouble * planes(h)(j))
      if (acc > 0) 1 << h else 0
    }.sum
    val prof = e.groupBy(x => (bucket(x._3), x._2)).view.mapValues(_.length.toLong).toMap
    val pred = prof.keySet.map(_._1).map { b =>
      b -> prof.filter(_._1._1 == b).toSeq
        .sortBy { case ((_, l), n) => (-n, l) }.head._1._2
    }.toMap
    val cells = e.groupBy(x => (pred(bucket(x._3)), x._2)).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val c = r.getInt(0)
      val tp = cells.getOrElse((c, c), 0L)
      val fp = cells.filter { case ((p, l), _) => p == c && l != c }.values.sum
      val fn = cells.filter { case ((p, l), _) => l == c && p != c }.values.sum
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((tp, fp, fn)), s"cells for class $c")
      if (tp + fp > 0) assert(r.getDouble(4) == tp.toDouble / (tp + fp).toDouble)
      if (tp + fn > 0) assert(r.getDouble(5) == tp.toDouble / (tp + fn).toDouble)
      if (2 * tp + fp + fn > 0)
        assert(r.getDouble(6) == (2 * tp).toDouble / (2 * tp + fp + fn).toDouble)
    }
  }

  test("ann recall certificate replays the page intersection of knn_join × ann_ivf_batch") {
    val exact = Similarity.qKnnJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val served = Similarity.qAnnIvfBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val byQ = exact.groupBy(_._1)
    val rows = Similarity.qAnnRecall(spark, sf).collect()
    val got = rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == byQ.keySet, "one recall row per exact-page query")
    byQ.foreach { case (q, page) =>
      val hit = page.count(served).toLong
      assert(got(q) == ((page.length.toLong, hit, 1000000L * hit / page.length)),
        s"qid $q recall must be the measured page intersection")
    }
    val means = rows.map(_.getLong(4)).distinct
    assert(means.length == 1 &&
      means(0) == rows.map(_.getLong(3)).sum / rows.length,
      "the mean column is the truncating mean of per-query recalls")
  }

  test("embedding qa: ragged/zero census and norm histogram on planted vectors") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("embqa").toString
    def vec(v: Float): Array[Float] = Array.tabulate(64)(i => if (i == 0) v else 0f)
    // norms² in micro-units: 1e6 and 4e6 → w = div(4e6,10)+1 = 400001,
    // buckets 2 and 9; one ragged, one zero-norm
    Seq((0L, vec(1f), 0), (1L, vec(2f), 1),
      (2L, Array(1f, 2f, 3f), 2), (3L, vec(0f), 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = Similarity.qEmbeddingQa(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (2L, 800002L, 1L, 4L, 1L, 1L),
      (9L, 3600009L, 1L, 4L, 1L, 1L)))
  }

  test("embedding qa: the census row survives a fully-broken batch (zero valid vectors)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("embqa0").toString
    // Every vector is ragged or zero-norm — the histogram is empty, but
    // the audit must still report the census (this corpus state is the
    // whole reason the audit runs before an index build).
    Seq((0L, Array(1f, 2f), 0), (1L, Array.fill(64)(0f), 1),
      (2L, Array(3f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = Similarity.qEmbeddingQa(spark, d).collect()
    assert(rows.length == 1, "exactly one census row, no histogram rows")
    val r = rows(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2),
      "bucket columns are NULL when no vector is valid")
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) == ((3L, 2L, 1L)),
      "n_vecs/n_ragged/n_zero census intact")
  }

  test("retrieval eval: hits/MRR/DCG/NDCG replay a driver-side brute-force retrieval") {
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getAs[Number](2).longValue))
      .filter { case (_, v, _) =>
        v.length == 64 && v.map(x => x.toDouble * x.toDouble).sum > 0 }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < 64) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val w = (1 to 10).map(r => math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0))).toLong)
    val prefix = w.scanLeft(0L)(_ + _)
    val labCnt = emb.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val queries = emb.filter { case (id, _, _) => id % 40 == 0 && id < 2560 }
    val want = queries.map { case (qid, qv, qlbl) =>
      val top = emb.filter(_._1 != qid)
        .map { case (id, v, l) => (id, cos(qv, v), l) }
        .sortBy { case (id, c, _) => (-c, id) }.take(10)
      val rel = top.map { case (_, _, l) => if (l == qlbl) 1L else 0L }
      val hits = rel.sum
      val fr = rel.indexOf(1L) match { case -1 => None; case i => Some(i + 1) }
      val dcg = rel.zipWithIndex.map { case (r, i) => r * w(i) }.sum
      val nRel = math.min(labCnt(qlbl) - 1, 10L)
      val idcg = prefix(nRel.toInt)
      (qid, (qlbl, nRel, hits, fr.map(1000000L / _).getOrElse(0L), dcg, idcg,
        if (idcg == 0) None else Some(1000000L * dcg / idcg)))
    }.toMap
    val got = Similarity.qRetrievalEval(spark, sf).collect().map { r =>
      r.getLong(0) -> ((r.getAs[Number](1).longValue, r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7))))
    }.toMap
    assert(got.keySet == want.keySet, "one metric row per serving-batch query")
    assert(got == want, "every metric must replay the brute-force retrieval exactly")
    assert(got.nonEmpty)
  }

  test("dup_cross_source: pair matrix replays the cluster arithmetic") {
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val chunks = docs.flatMap { case (src, t) =>
      val toks = t.trim.toLowerCase.split(" ", -1).toSeq
      toks.grouped(16).map(g => (src, g.mkString(" ")))
    }
    val perSrc = chunks.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((src, chunk), cnt) => (chunk, src, cnt) }
    val byChunk = perSrc.groupBy(_._1)
    val agg = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    byChunk.values.foreach { grp =>
      for ((_, sa, ca) <- grp; (_, sb, cb) <- grp if sa <= sb) {
        val pairs = if (sa == sb) ca * (ca - 1) / 2 else ca * cb
        if (pairs > 0) {
          val (p0, c0) = agg.getOrElse((sa, sb), (0L, 0L))
          agg((sa, sb)) = (p0 + pairs, c0 + 1)
        }
      }
    }
    val want = agg.toSeq.map { case ((sa, sb), (p, c)) => (sa, sb, p, c) }
      .sortBy(t => (t._1, t._2))
    val got = Dedup.qDupCrossSource(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    assert(got.nonEmpty, "the corpus plants boilerplate paragraphs — matrix must be non-empty")
  }

  test("chunk_overlap: stride-16 chunks replay and reconstruct every document") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.toSeq.flatMap { case (id, t) =>
      val toks = t.trim.toLowerCase.split(" ", -1).toSeq
      if (toks.isEmpty) Seq.empty
      else (0 to (toks.length - 1) / 16).map { i =>
        val c = toks.slice(i * 16, i * 16 + 32)
        (id, i.toLong, i.toLong * 16, c.length.toLong, c.mkString(" "))
      }
    }.sortBy(t => (t._1, t._2))
    val got = TextAnalysis.qChunkOverlap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got == want)
    // the overlap invariant: first-16-of-each-chunk + tail of the last
    // chunk reconstructs the document exactly
    got.groupBy(_._1).foreach { case (id, rows) =>
      val orig = docs.find(_._1 == id).get._2.trim.toLowerCase.split(" ", -1).toSeq
      val sorted = rows.sortBy(_._2)
      val rebuilt = sorted.init.flatMap(_._5.split(" ", -1).take(16)) ++
        sorted.last._5.split(" ", -1)
      assert(rebuilt == orig, s"doc $id must reassemble from overlapped chunks")
    }
  }

  test("winnow_fingerprint: hot-spot table replays, and a ≥7-token shared run " +
    "is guaranteed a shared fingerprint") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    def fps(text: String): Set[Long] = {
      val toks = text.trim.toLowerCase.split(" ", -1).toSeq
      if (toks.length < 7) Set.empty
      else {
        val hashes = toks.sliding(4).map(g => h60(g.mkString(" "))).toIndexedSeq
        hashes.sliding(4).map(_.min).toSet
      }
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.flatMap { case (_, t) => fps(t) }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .filter(_._2 >= 2)
      .sortBy { case (fp, df) => (-df, fp) }.take(50)
      .map { case (fp, df) => (fp, df) }
    val got = TextAnalysis.qWinnowFingerprint(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    // Schleimer's guarantee on a planted pair: 8 shared consecutive tokens
    // → ≥ 5 shared shingle hashes → at least one shared window minimum
    val shared = "k1 k2 k3 k4 k5 k6 k7 k8"
    val a = fps(s"x1 x2 x3 $shared y1 y2 y3")
    val b = fps(s"z1 z2 z3 z4 $shared w1 w2")
    assert((a intersect b).nonEmpty,
      "winnowing must fingerprint a shared 8-token run from both documents")
  }

  test("hard_negatives: planted geometry — top cross-label vectors in order") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("hardneg").toString
    def vec(i: Int, v: Float): Seq[Float] =
      Seq.tabulate(64)(j => if (j == i) v else 0.0f)
    // qid 0 (label 0); candidates: 1,2 carry label 1 (cos 1.0 and 0.0),
    // 3 carries label 0 (excluded however similar).
    Seq(
      (0L, vec(0, 1.0f), 0),
      (1L, vec(0, 2.0f), 1),  // same direction as q → cos 1.0
      (2L, vec(1, 1.0f), 1),  // orthogonal → cos 0.0
      (3L, vec(0, 3.0f), 0))  // label-match: never a negative
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = Similarity.qHardNegatives(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getInt(5))).toSeq
    assert(got == Seq(
      (0L, 0, 1L, 1, 1.0, 1),
      (0L, 0, 2L, 1, 0.0, 2)))
  }

  test("er_linkage: census identities hold and blocking misses are real") {
    val r = Dedup.qErLinkage(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val (nEnt, nPred, tp, fp, fn) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    assert(nEnt == Tables.part(spark, sf).count(),
      "one dirty twin per part — ground truth covers the whole table")
    assert(tp + fp == nPred, "every predicted link is either TP or FP")
    assert(fn == nEnt - tp, "top-1 linking: each entity is linked once or missed")
    assert(row.getLong(5) == 1000000L * tp / nPred)
    assert(row.getLong(6) == 1000000L * tp / nEnt)
    assert(tp > 0L)
    assert(fn > 0L, "first-char deletions must change the blocking key → misses")
    assert(row.getLong(6) < 1000000L, "recall honestly below 1.0")
  }

  test("er_linkage: planted parts — pos≠1 twins link, pos=1 twins block out") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("erlink").toString
    // Mutually dissimilar long names (pairwise JW << 0.9) in ONE block:
    // the only candidate a dirty twin can match is its own clean source,
    // and only when the deleted character was not the first one.
    val names = Seq("alpha widget chassis", "birch lantern casing",
      "copper valve housing", "delta rotor manifold", "ember socket bracket")
    names.zipWithIndex.map { case (n, i) =>
      (i.toLong, n, "Brand#1", "ECONOMY", 7, 100.0 + i)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def pos(name: String, key: Long): Long =
      java.lang.Long.parseLong(md5hex(s"$name:$key").take(15), 16) % name.length + 1
    val misses = names.zipWithIndex.count { case (n, i) => pos(n, i.toLong) == 1L }
    val hits = names.length - misses
    val row = Dedup.qErLinkage(spark, d).collect().head
    assert(row.getLong(0) == names.length.toLong)
    assert(row.getLong(1) == hits.toLong, "non-first-char twins all link")
    assert(row.getLong(2) == hits.toLong)
    assert(row.getLong(3) == 0L, "dissimilar names admit no false links")
    assert(row.getLong(4) == misses.toLong)
  }
}
