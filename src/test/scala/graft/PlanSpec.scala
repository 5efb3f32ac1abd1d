package graft

import graft.ops.{Joins, Relational}

/** Physical-plan assertions: the properties that matter at 100 TB —
  * predicate pushdown into the parquet scan, column pruning, broadcast
  * joins for dims, TakeOrderedAndProject for top-k. A plan regression here
  * costs more at scale than any per-row optimization.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q_filter pushes predicates into the parquet scan") {
    val plan = planOf(Relational.qFilter(spark, sf))
    assert(plan.contains("PushedFilters: ["), plan.linesIterator.take(5).mkString("\n"))
    assert(plan.contains("l_quantity"), "quantity bound should reach the scan")
  }

  test("q_project prunes the scan to referenced columns only") {
    val plan = planOf(Relational.qProject(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"),
      s"unreferenced columns must not be read: $readSchema")
  }

  test("q_topk plans TakeOrderedAndProject, not a global sort") {
    val plan = planOf(Relational.qTopk(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.linesIterator.take(3).mkString("\n"))
  }

  test("q_join_star broadcasts the small dims") {
    val plan = planOf(Joins.qJoinStar(spark, sf))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 2, s"nation+region should broadcast; got $nBroadcast broadcast joins")
  }

  test("q_join_range broadcasts the bands dim (nested loop, not cartesian sort)") {
    val plan = planOf(Joins.qJoinRange(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.linesIterator.take(3).mkString("\n"))
  }

  test("whole-stage codegen covers the scan-filter-project pipelines") {
    // AQE prints the pre-execution plan without codegen stages; run the
    // query first so the final adaptive plan (with codegen annotations)
    // is what we inspect.
    val df = Relational.qFilter(spark, sf)
    df.collect() // a write would execute a copied plan; collect finalizes THIS one
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      plan.linesIterator.take(8).mkString("\n"))
  }

  test("q_text_entropy is map-only: no explode, no aggregation shuffle") {
    // the native char_entropy expression replaced the explode-per-char
    // relational plan; a regression back to Generate would multiply a
    // 100 TB corpus by its mean document length before the first shuffle
    val df = graft.ops.TextAnalysis.qTextEntropy(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), "explode crept back into the entropy plan")
    assert(!plan.contains("HashAggregate"), "per-char aggregation crept back")
    assert(plan.contains("char_entropy"), "native expression must drive the plan")
  }

  test("thresholded levenshtein keeps exactly the <= 3 pairs and drives q_dedup_fuzzy") {
    // levenshtein(a, b, 3) is -1 past the threshold, so `>= 0` must keep the
    // same pairs, with the same distances, as the true-distance `<= 3`.
    // Truncated copies of the names put pairs on both sides of the bound.
    import org.apache.spark.sql.functions._
    val p = Tables.part(spark, sf)
    val a = p.select(col("p_partkey").as("ak"), col("p_name").as("an"))
    val b = p.filter(col("p_partkey") <= 50)
      .select(col("p_partkey").as("bk"), explode(sequence(lit(0), lit(5))).as("cut"),
        col("p_name"))
      .select(col("bk"), col("cut"),
        expr("substring(p_name, 1, length(p_name) - cut)").as("bn"))
    val pairs = a.crossJoin(b)
    val thresholded = pairs
      .withColumn("dist", levenshtein(col("an"), col("bn"), 3))
      .filter(col("dist") >= 0).select("ak", "bk", "cut", "dist")
    val exact = pairs
      .withColumn("dist", levenshtein(col("an"), col("bn")))
      .filter(col("dist") <= 3).select("ak", "bk", "cut", "dist")
    assert(thresholded.count() == exact.count())
    assert(thresholded.exceptAll(exact).isEmpty && exact.exceptAll(thresholded).isEmpty)
    assert(exact.select("dist").distinct().collect().map(_.getInt(0)).sorted
      .sameElements(0 to 3), "the data must reach every distance up to the bound")

    // the physical plan AQE starts from: at sf0.001 no blocked pair is
    // within the bound, and the final plan collapses to an empty relation
    val df = graft.ops.Dedup.qFuzzyPairs(spark, sf)
    val adaptive = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val lev = adaptive.flatMap(df.queryExecution.executedPlan)(_.expressions.flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Levenshtein => l }))
    assert(lev.nonEmpty && lev.forall(_.threshold.isDefined),
      s"q_dedup_fuzzy must run the 3-argument levenshtein:\n${df.queryExecution.executedPlan}")
  }

  // The three event_type windows were re-planned in round 3 so that no
  // single task owns an entire event type's history at 100×: the heavy
  // exchange must carry a second, history-splitting key (salt or
  // day-bucket) alongside event_type. These tests pin that plan shape.

  private def exchangeKeys(df: org.apache.spark.sql.DataFrame): Seq[String] =
    planOf(df).linesIterator.filter(_.contains("hashpartitioning")).toSeq

  test("q_percentile_disc and q_winsorize rank within (group, chunk), never the bare group") {
    for ((df, chunkKey) <- Seq(
      graft.ops.Aggregations.qPercentileDisc(spark, sf) -> "l_returnflag",
      graft.ops.Aggregations.qAggPercentile(spark, sf) -> "l_returnflag",
      graft.ops.Aggregations.qWinsorize(spark, sf) -> "event_type")) {
      val ex = exchangeKeys(df)
      assert(ex.exists(l => l.contains(chunkKey) && l.contains("chunk")),
        s"expected a ($chunkKey, chunk) exchange; got:\n${ex.mkString("\n")}")
      assert(planOf(df).contains("BroadcastHashJoin"),
        "chunk offsets must come back as a broadcast")
    }
  }

  test("q_win_rank's full-table window exchange is salted") {
    val ex = exchangeKeys(graft.ops.Windows.qWinRank(spark, sf))
    assert(ex.exists(l => l.contains("event_type") && l.contains("salt")),
      s"expected a (event_type, salt) exchange; got:\n${ex.mkString("\n")}")
  }

  test("q_win_dist's full-table window exchange is salted") {
    val ex = exchangeKeys(graft.ops.Windows.qWinDist(spark, sf))
    assert(ex.exists(l => l.contains("event_type") && l.contains("salt")),
      s"expected a (event_type, salt) exchange; got:\n${ex.mkString("\n")}")
  }

  test("Materialize.byKey joins exchange-free and sort-free (the pagerank iteration shape)") {
    import org.apache.spark.sql.functions._
    val c = Tables.customer(spark, sf)
    val left = Materialize.byKey(
      c.select(col("c_custkey"), col("c_acctbal")), "c_custkey", 8)
    val right = Materialize.byKey(
      c.select(col("c_custkey").as("k"), col("c_nationkey")), "k", 8)
    val joined = left.join(right, left("c_custkey") === right("k"))
    joined.write.format("noop").mode("overwrite").save()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"both sides advertise hashpartitioning(key, 8); no exchange may remain:\n$plan")
    assert(!plan.contains("Sort "),
      s"both sides advertise in-partition order; SMJ must not re-sort:\n$plan")
    // and the advertisement is TRUE: the join result matches a plain join
    val expected = c.select(col("c_custkey"), col("c_acctbal"))
      .join(c.select(col("c_custkey").as("k"), col("c_nationkey")), col("c_custkey") === col("k"))
    assert(joined.count() == expected.count())
    assert(joined.exceptAll(expected).isEmpty && expected.exceptAll(joined).isEmpty)
  }

  test("a plain localCheckpoint forgets its hash layout: the reason Materialize.byKey exists") {
    // The restored LogicalRDD reports no partitioning, so a join under AQE
    // re-exchanges both sides though each is already hash-placed and sorted
    // on the key. When this fails, Spark keeps the layout and the graftshim
    // InternalDataFrames route can go.
    import org.apache.spark.sql.functions._
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val c = Tables.customer(spark, sf)
    def placed(k: String, other: String, eager: Boolean) =
      c.select(col("c_custkey").as(k), col(other))
        .repartition(8, col(k)).sortWithinPartitions(k)
        .localCheckpoint(eager)
    val left = placed("k1", "c_acctbal", eager = true)
    val right = placed("k2", "c_nationkey", eager = false)
    // the hint keeps a sort-merge join, the shape Materialize.byKey serves
    val joined = left.join(right.hint("shuffle_merge"), col("k1") === col("k2"))
    assert(joined.collect().length == c.count())
    val plan = joined.queryExecution.executedPlan.toString
    for (k <- Seq("k1", "k2"))
      assert(plan.contains(s"Exchange hashpartitioning($k#"),
        s"the $k side kept its layout through localCheckpoint:\n$plan")
  }

  test("q_triangle's wedge self-join runs on the checkpointed apex layout, exchange-free") {
    val df = graft.ops.Graph.qTriangle(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // the only exchanges allowed after the oriented table is checkpointed:
    // the corner-count groupBy and the final top-100 ordering — the wedge
    // self-join itself must reuse the advertised hashpartitioning(u, n)
    val joinSection = plan.split("SortMergeJoin").toSeq
    assert(joinSection.nonEmpty)
    assert(!plan.contains("Exchange hashpartitioning(u#"),
      s"wedge self-join must not re-exchange the checkpointed apex layout:\n$plan")
  }

  test("q_hits' terminal job is exchange-free: node-placed full-outer into TakeOrdered") {
    // both final score tables come back from Materialize.byKey placed
    // on `node`, so the full-outer SMJ needs no exchange and no sort, and
    // the top-100 is a TakeOrdered — the terminal stage plans ZERO
    // exchanges. A regression here means a score table lost its layout
    // and every HITS round is paying a full re-shuffle of the edge join.
    val df = graft.ops.Graph.qHits(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"hits terminal plan must reuse the node placement:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must be a TakeOrdered, not a global sort:\n$plan")
  }

  test("q_kcore's census union reads three checkpointed round RDDs, no join re-derivation") {
    // each round's census folds that round's checkpointed per-src degree
    // table; a Join in the terminal plan means a round's edge set is being
    // re-derived lazily, and an edge-shaped scan means the census went back
    // to counting edges
    val df = graft.ops.Graph.qKcore(spark, sf)
    val optimized = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.LogicalRDD
    assert(optimized.collect { case j: Join => j }.isEmpty,
      s"census must not re-derive round joins:\n$optimized")
    val scans = optimized.collect { case r: LogicalRDD => r.output.map(_.name) }
    assert(scans == Seq.fill(3)(Seq("src", "d", "s_dst")),
      s"expected one (src, d, s_dst) degree table per round:\n$optimized")
  }

  test("the co-purchase pair builders plan no join and no broadcast") {
    // one aggregation by order, then the pairs explode from the basket
    // array: a Join here is the self-join on l_orderkey coming back
    import graft.ops.Graph
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Materialize.inline {
      for ((name, df) <- Seq(
          "edges" -> Graph.edges(spark, sf),
          "edges mod 4" -> Graph.edges(spark, sf, Some(_ % 4 === 0)),
          "strongEdges" -> Graph.strongEdges(spark, sf))) {
        val optimized = df.queryExecution.optimizedPlan
        assert(optimized.collect { case j: Join => j }.isEmpty, s"$name joins:\n$optimized")
        assert(!planOf(df).contains("BroadcastExchange"), s"$name broadcasts:\n${planOf(df)}")
      }
    }
  }

  test("q_kcore and q_kcore_cert stay within their job budgets at sf0.001") {
    // AQE runs each shuffle stage as its own job; these budgets are the
    // measured counts of the one-copy peel (fixed from run to run), so a
    // barrier or a per-round edge copy creeping back fails here
    val budgets = Seq(
      // footer read 1 + edge barrier 3 + degree tables 3/2/2 (keep-set broadcast, degree shuffle) + census 4
      "q_kcore" -> 15,
      // the same peel over the mod-4 slice, which only narrows the baskets
      "q_kcore_cert" -> 15)
    val over = budgets.flatMap { case (key, budget) =>
      val q = SparkEntry.queries(key)
      val (_, jobs) = JobCount(spark) {
        Materialize.scoped(q(spark, sf).write.format("noop").mode("overwrite").save())
      }
      info(s"$key ran $jobs jobs (budget $budget)")
      if (jobs > budget) Some(s"$key ran $jobs jobs, budget $budget") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("q_sim_sparse consumes ONE weighted-postings checkpoint — no parquet re-derivation, no cartesian") {
    // The tf·idf weight table is checkpointed once and feeds three
    // consumers (both posting self-join sides + the norm rollup). A
    // FileScan in the terminal plan means a consumer re-derives the
    // tf/df/weight pipeline from parquet (3× the work); a cartesian or
    // BNL join means the token equi-join degenerated. Pinned after the
    // round-7 driver tail showed a 2.1× move on this key — the plan
    // shape is the invariant, contention is not.
    val df = graft.ops.Similarity.qSimSparse(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      s"all corpus reads must come from the weight checkpoint:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"posting self-join must stay an equi-join:\n$plan")
  }

  test("q_win_count_distinct's running sum is chunked by day bucket") {
    val ex = exchangeKeys(graft.ops.Windows.qWinCountDistinct(spark, sf))
    assert(ex.exists(l => l.contains("event_type") && l.contains("bucket")),
      s"expected a (event_type, bucket) exchange; got:\n${ex.mkString("\n")}")
    // and the offsets side must come back as a broadcast, not a shuffle join
    assert(planOf(graft.ops.Windows.qWinCountDistinct(spark, sf))
      .contains("BroadcastHashJoin"))
  }

  test("q_quantile_norm ranks within (type, value-bucket), never the bare type") {
    val ex = exchangeKeys(graft.ops.FeaturePrep.qQuantileNorm(spark, sf))
    assert(ex.exists(l => l.contains("event_type") && l.contains("bucket")),
      s"expected a (event_type, bucket) exchange; got:\n${ex.mkString("\n")}")
    assert(planOf(graft.ops.FeaturePrep.qQuantileNorm(spark, sf))
      .contains("BroadcastHashJoin"), "offsets and sizes must come back broadcast")
  }

  test("q_sink_compact clusters files into disjoint ts ranges and pushes the range filter") {
    val df = Relational.qSinkCompact(spark, sf)
    df.collect() // run the write
    // the read-back scan must carry the ts bounds as pushed filters
    val plan = planOf(df)
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(ts") && pushed.contains("LessThan(ts"),
      s"range predicate must reach the parquet footer:\n$pushed")
    // clustering contract: per-file [min ts, max ts] ranges are disjoint,
    // which is what makes row-group min/max skipping effective
    // derive the path from the op's own sinkRoot (PID-nonce'd — the ADVICE
    // de-race fix) so this test cannot drift from the implementation again
    val sink = s"${Relational.sinkRoot}${Integer.toHexString(sf.hashCode)}/events_clustered"
    import org.apache.spark.sql.functions._
    val ranges = spark.read.parquet(sink)
      .groupBy(input_file_name().as("f"))
      .agg(min("ts").as("lo"), max("ts").as("hi"))
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("lo"), r.getAs[java.sql.Timestamp]("hi")))
      .sortBy(_._1.getTime)
    assert(ranges.length > 1, "range repartition should produce multiple files")
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi.getTime <= lo.getTime, s"file ranges overlap: $hi > $lo")
      case _ =>
    }
  }

  test("q_join_bucketed joins the bucketed layout with no shuffle and no sort") {
    val df = graft.ops.Joins.qJoinBucketed(spark, sf)
    df.collect() // run the bucketed writes + the join
    val plan = planOf(df)
    assert(plan.contains("SortMergeJoin"), s"expected a merge join:\n$plan")
    // the ONLY exchanges allowed are for the final segment aggregation /
    // output ordering — never on the bucketed join key
    val badEx = plan.linesIterator
      .filter(l => l.contains("Exchange") && l.contains("custkey")).toSeq
    assert(badEx.isEmpty, s"join key must not shuffle (bucketing is the exchange):\n$badEx")
    // one file per bucket => sortBy metadata satisfies the SMJ ordering: no
    // Sort node may feed the join (the sorts after HashAggregate are the
    // output ORDER BY, keyed by c_mktsegment, not the join key)
    val joinSorts = plan.linesIterator
      .filter(l => l.contains("Sort ") && l.contains("custkey")).toSeq
    assert(joinSorts.isEmpty, s"bucketed sortBy must satisfy SMJ ordering:\n$joinSorts")
  }

  test("q_sink_partition_prune's read-back prunes partitions, not post-filters") {
    val plan = planOf(Relational.qSinkPartitionPrune(spark, sf))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_type") && pf.contains("click"),
      s"partition predicate must prune directories at the scan:\n$pf")
  }

  test("q_sql_lateral decorrelates to one ranked window — no per-row subplan, no cartesian") {
    val plan = planOf(graft.ops.Reshape.qSqlLateral(spark, sf))
    assert(plan.contains("Window") && plan.contains("row_number"),
      "the correlated LIMIT must decorrelate into a ranked window")
    assert(!plan.contains("CartesianProduct"),
      "decorrelation must not fall back to a cartesian probe")
  }

  test("q_bootstrap_ci folds all 32 replicates into one aggregation pass — no row expansion") {
    val plan = planOf(graft.ops.Profiling.qBootstrapCi(spark, sf))
    assert(!plan.contains("Join"),
      "replicates must be aggregate COLUMNS over one scan — no join of any kind " +
        "(the first cut cross-joined a 32-row replicate dim and paid 32 md5/row)")
    assert(plan.contains("partial_sum"),
      "the 64 replicate sums must combine map-side " +
        "(the stack to 32 rows runs on the 1-row aggregate, not the scan)")
  }

  test("q_stream_join plans an equi-join on user_id, never a cartesian time probe") {
    val plan = planOf(graft.ops.StreamingShaped.qStreamJoin(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "the interval join must key on user_id with residual time bounds")
  }

  test("knn/IVF serving-batch broadcasts are bounded by a constant cap, not a corpus fraction") {
    // The broadcast side of the serving keys must be a FIXED-size batch:
    // vec_id % 40 alone is 2.5% of the corpus — a ~TB broadcast at 100 TB.
    // The cap predicate (vec_id < 40 * ServingBatchCap) bounds the
    // broadcast at ServingBatchCap rows at any scale, and it must appear
    // in the optimized plan (i.e., actually constrain the batch subplan).
    val capLit = (40L * graft.ops.Similarity.ServingBatchCap).toString
    for (q <- Seq("q_knn_join", "q_knn_classify", "q_ann_ivf_batch")) {
      val opt = SparkEntry.queries(q)(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(opt.contains(capLit),
        s"$q: serving batch must carry the vec_id < $capLit cap in its plan")
    }
    // nndescent's exact-truth page follows the same discipline at stride 50:
    // without the cap the truth side is an n²/50 crossJoin (quadratic at
    // 100×); with it, a ≤64-row broadcast page against one linear scan.
    val truthCap = (50L * graft.ops.Similarity.ServingBatchCap).toString
    val nnOpt = SparkEntry.queries("q_ann_nndescent")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(nnOpt.contains(truthCap),
      s"q_ann_nndescent: exact-truth batch must carry the vec_id < $truthCap cap")
  }

  test("q_ann_graph_serve walks with broadcast hops — no cartesian, no corpus shuffle joins") {
    // the production key checkpoints each hop (hiding its joins behind
    // scan nodes); its serve half planned under Materialize.inline, over
    // the graph its own build half makes, shows every hop join
    val (graph, base) = graft.ops.Similarity.annGraph(spark, sf)
    val plan = planOf(Materialize.inline(graft.ops.Similarity.annGraphServe(graph, base)))
    // every hop joins the bounded frontier/candidate page INTO the
    // corpus-partitioned edge/vector tables as a broadcast; a sort-merge
    // or shuffled-hash join there would shuffle the corpus per hop
    assert(plan.contains("BroadcastHashJoin"),
      "hop joins must broadcast the bounded page side")
    assert(!plan.contains("CartesianProduct"),
      "the only cross is queries x 4 entries, which must stay a broadcast NLJ")
    assert(!plan.contains("SortMergeJoin"),
      "no hop may shuffle the corpus-sized side")
  }

  test("q_vocab_coverage broadcasts the capped vocab and take-orders the cut") {
    val plan = planOf(graft.ops.Evaluation.qVocabCoverage(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-1000 vocab cut must be a TakeOrdered, not a global sort")
    assert(plan.contains("BroadcastHashJoin"),
      "the K-row vocab must broadcast into the token rollup")
  }

  test("q_skyline broadcasts the domain-bounded price profile — no self-join") {
    val plan = planOf(graft.ops.Windows.qSkyline(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "profile must broadcast back onto the base scan")
    assert(!plan.contains("SortMergeJoin"),
      "skyline must not shuffle-join the corpus against itself")
  }

  test("q_zorder / q_calibration_bins / q_kappa are single-pass partial aggregations") {
    for ((name, df) <- Seq(
      "q_zorder" -> graft.ops.Relational.qZorder(spark, sf),
      "q_calibration_bins" -> graft.ops.Evaluation.qCalibrationBins(spark, sf),
      "q_kappa" -> graft.ops.Evaluation.qKappa(spark, sf))) {
      val plan = planOf(df)
      assert("HashAggregate".r.findAllIn(plan).length >= 2,
        s"$name: expected partial+final aggregate pair")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
        s"$name must be join-free and window-free: a pure rollup")
    }
  }

  test("q_auc's prefix window runs over the rollup output, never raw events") {
    // the Window's child must be an aggregate (the (dow, cents) profile) —
    // a Window directly over the scan would own corpus-sized partitions.
    // Pinned on the optimized LOGICAL plan: AQE wraps the physical tree
    // until execution, hiding WindowExec from a static collect.
    val opt = graft.ops.Evaluation.qAuc(spark, sf).queryExecution.optimizedPlan
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty, "expected one window for the prefix sum")
    windows.foreach { w =>
      val childAggs = w.child.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
      assert(childAggs.nonEmpty,
        "window input must be the aggregated distinct-score profile")
    }
  }

  test("q_retrieval_eval scores via the capped batch broadcast; censuses broadcast back") {
    val capLit = (40L * graft.ops.Similarity.ServingBatchCap).toString
    val opt = graft.ops.Similarity.qRetrievalEval(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains(capLit),
      "the serving-batch cap must bound the broadcast side at any corpus size")
    val plan = planOf(graft.ops.Similarity.qRetrievalEval(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "the corpus×batch score pass must be a broadcast nested loop over the " +
        "constant batch, never an unbounded cartesian")
  }

  test("q_tclose builds the value grid from censuses — the corpus is scanned, never gridded") {
    val plan = planOf(graft.ops.Profiling.qTclose(spark, sf))
    // the only broadcast input is the (sensitive-domain × 1-row total)
    // table; the corpus side contributes two hash aggregates
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "the domain census must broadcast")
    assert(!plan.contains("CartesianProduct"),
      "grid construction must never cross-join corpus-sized inputs")
  }

  test("q_join_card_est projects to bare keys before the truth-count shuffles") {
    val opt = graft.ops.Joins.qJoinCardEst(spark, sf)
      .queryExecution.optimizedPlan
    // the keyed joins are the ground-truth counts; the condition-less ones
    // are the 1-row stat cross-joins and may carry their scalar columns
    val joins = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.isDefined => j }
    assert(joins.length == 3, "one keyed ground-truth join per audited pair")
    joins.foreach { j =>
      assert(j.left.output.length == 1 && j.right.output.length == 1,
        s"ground-truth joins must carry exactly the key column, got " +
          s"${j.left.output.map(_.name)} × ${j.right.output.map(_.name)}")
    }
  }

  test("q_preference_pairs is one max/min-struct rollup — no window, no join") {
    val plan = planOf(graft.ops.Corpus.qPreferencePairs(spark, sf))
    assert(!plan.contains("Window"),
      "chosen/rejected must come from the associative struct rollup, not a rank window")
    assert(!plan.contains("Join"),
      "one aggregation pass; a join means the oracle's two-sided shape leaked in")
  }

  test("q_count_min probes the sketch via broadcast — cells never shuffle the corpus") {
    val plan = planOf(graft.ops.Profiling.qCountMin(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the ≤1024-cell sketch must broadcast to the 10-row probe set")
    assert(!plan.contains("SortMergeJoin"),
      "a sort-merge probe would shuffle both sides of a 10×1024 join")
  }

  test("q_chunk_overlap is map-only until the output sort — no join, no aggregation") {
    val plan = planOf(graft.ops.TextAnalysis.qChunkOverlap(spark, sf))
    assert(!plan.contains("Join"), "chunking must not pair the corpus with anything")
    assert(!plan.contains("HashAggregate"),
      "chunk rows stream straight out; an aggregate means a census crept in")
    assert(plan.contains("Generate"), "the window-start explode is the operator's core")
  }

  test("q_winnow_fingerprint take-orders the hot-spot cut and never self-joins") {
    val plan = planOf(graft.ops.TextAnalysis.qWinnowFingerprint(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-50 must be a take-ordered cut, not a global sort")
    assert(!plan.contains("Join"),
      "fingerprint selection is per-document array work + one df rollup")
  }

  test("q_er_linkage / q_dup_cross_source block their joins — no cartesian candidates") {
    // 1-row census cross-joins (BroadcastNestedLoopJoin over aggregates) are
    // the repo's stat-join idiom and fine; the pin is that every join
    // carrying REAL data is keyed. Assert on the optimized logical plan:
    // any join over a side with more than one output row class must have a
    // condition — i.e. no condition-less join whose inputs aren't aggregates.
    def unkeyedDataJoins(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.isEmpty &&
              !j.children.forall {
                case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
                case p => p.maxRows.exists(_ <= 1)
              } => j.simpleString(2)
      }
    val er = graft.ops.Dedup.qErLinkage(spark, sf)
    assert(unkeyedDataJoins(er).isEmpty,
      s"the ER candidate join must run on the (brand, size) blocking keys: ${unkeyedDataJoins(er)}")
    assert(!planOf(er).contains("CartesianProduct"))
    val dx = graft.ops.Dedup.qDupCrossSource(spark, sf)
    assert(unkeyedDataJoins(dx).isEmpty,
      "the pair matrix joins per-(hash, source) rollups on h, never raw chunks")
    assert(!planOf(dx).contains("CartesianProduct"))
  }

  test("q_hard_negatives rides the serving-cap broadcast into a WindowGroupLimit") {
    val plan = planOf(graft.ops.Similarity.qHardNegatives(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the constant-size query batch must broadcast against the corpus scan")
    assert(plan.contains("WindowGroupLimit"),
      "the per-query top-3 must prune partially before the final window")
  }

  test("q_temperature_mixture / q_span_corruption are rollups — no shuffle joins, no row expansion") {
    val tm = planOf(graft.ops.Corpus.qTemperatureMixture(spark, sf))
    assert(!tm.contains("SortMergeJoin") && !tm.contains("Window"),
      "cell arithmetic rides 1-row broadcasts; a shuffle join or window is a regression")
    val sc = planOf(graft.ops.Corpus.qSpanCorruption(spark, sf))
    assert(!sc.contains("Join"), "the mask is per-row; nothing to join")
    assert(!sc.contains("Generate"),
      "the mask must run inside higher-order filter — an explode multiplies " +
        "the corpus by document length before the rollup")
    assert(sc.contains("HashAggregate"), "the census is one map-combinable rollup")
  }

  test("q_epoch_shuffle windows per (epoch, shard) — partition-parallel, no global sort") {
    val plan = planOf(graft.ops.Corpus.qEpochShuffle(spark, sf))
    val winLine = plan.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("shard"),
      s"row_number must partition on (epoch, shard), not run globally: $winLine")
    assert(!plan.contains("SortMergeJoin"),
      "the 3-row epoch table must broadcast against the doc scan")
  }

  test("q_ccnet_buckets / q_bpe_encode keep every data join broadcast") {
    val cc = planOf(graft.ops.Corpus.qCcnetBuckets(spark, sf))
    assert(!cc.contains("SortMergeJoin") && !cc.contains("CartesianProduct"),
      "LM tables are type-bounded and must broadcast against the bigram stream")
    val bp = planOf(graft.ops.Corpus.qBpeEncode(spark, sf))
    assert(bp.contains("BroadcastHashJoin"),
      "the vocabulary-bounded encoded type table must broadcast to the (lang, word) rollup")
    assert(!bp.contains("SortMergeJoin"),
      "no corpus-sized side may reach a shuffle join in the encode pass")
  }

  test("q_kmeans / q_kcenter: centroids broadcast, corpus never row-expands or self-joins") {
    // pin the BUILDING BLOCKS: the composed ops lazy-checkpoint between
    // iterations, so their executedPlan prints materialized ExistingRDDs
    // and would hide a regression inside an iteration
    import org.apache.spark.sql.functions._
    val v = graft.ops.Similarity.quantizedVecs(spark, sf)
    val cents = v.limit(8).select(col("vec_id").as("cid"), col("m").as("c"))
    val assign = planOf(graft.ops.Similarity.kmeansAssign(v, cents))
    assert(!assign.contains("CartesianProduct"),
      "centroid delivery must broadcast, never a cartesian")
    assert(!assign.contains("Generate"),
      "the argmin rides array_min over the packed centroid array — an " +
        "explode would re-expand the corpus k-fold")
    assert(assign.contains("BroadcastNestedLoopJoin") || assign.contains("BroadcastExchange"),
      "the packed 1-row centroid array must arrive as a broadcast")
    val pick = planOf(graft.ops.Similarity.kcenterPick(
      v.withColumn("mind", lit(1L))))
    assert(pick.contains("TakeOrderedAndProject"),
      "each greedy pick must be a TakeOrdered argmax, not a global sort")
  }

  test("q_tree_split rolls up map-side into the bin spine — no corpus window, no join") {
    val plan = planOf(graft.ops.FeaturePrep.qTreeSplit(spark, sf))
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "bin rollup must run partial (map-side) + final")
    assert(!plan.contains("Join"),
      "prefix sums and totals are windows over the bin spine, not joins")
  }

  test("q_random_walk steps are equi-joins against the placed edge layout") {
    val plan = planOf(graft.ops.Graph.qRandomWalk(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "every step must be an equi-join on src")
  }

  test("q_hll_sketch / q_mann_whitney: corpus-sized work is one partial rollup each") {
    val hll = planOf(graft.ops.Profiling.qHllSketch(spark, sf))
    assert(!hll.contains("Window"),
      "register census and harmonic sum aggregate over <=256 rows; a window " +
        "would mean per-row ranking crept in")
    val mw = graft.ops.Profiling.qMannWhitney(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!mw.toLowerCase.contains("cartesian"),
      "totals join back as 1-row broadcasts")
  }

  test("q_degree_assort / q_graph_modularity aggregate to bounded tails — no corpus windows") {
    val assort = planOf(graft.ops.Graph.qDegreeAssort(spark, sf))
    assert(!assort.contains("Window"),
      "assortativity is joins + one global aggregate; a window would mean " +
        "a per-edge rank crept in")
    val mod = graft.ops.Graph.qGraphModularity(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(mod.contains("TakeOrdered") || mod.toLowerCase.contains("limit"),
      "the community tail must be a take-ordered cut, not a full sort")
  }
}
