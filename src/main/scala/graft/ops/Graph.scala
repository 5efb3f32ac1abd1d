package graft.ops

import graft.{Materialize, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph computation on DataFrames — the pattern behind PageRank,
  * label propagation, connected components, and influence
  * scoring, expressed as a driver-side loop over declarative joins.
  *
  * The graph: parts co-ordered within the same order form an undirected
  * co-occurrence edge (the classic co-purchase graph). PageRank runs in
  * INTEGER micro-units with floor division — damping 0.85 becomes
  * `(85 * Σ contributions) div 100` — so every iteration is exact integer
  * arithmetic, order-independent, and bit-identical in any engine: a
  * DuckDB SQL twin with the same unrolled iterations verifies a fixed
  * point of the same recurrence. (Float PageRank sums contributions in
  * partition order and is NOT cross-engine reproducible — the integer
  * formulation is what makes an oracle possible at all.)
  *
  * Scale shape per iteration: one join of edges⋈ranks on src (both sides
  * pre-partitioned on the same key, so AQE reuses the exchange), one
  * aggregation on dst. Ranks are checkpointed each round to
  * truncate the lineage — without it the plan doubles per iteration and
  * the job graph blows up by iteration ~20 (the standard iterative-Spark
  * trap). Degrees are computed once and re-joined, never recomputed.
  */
object Graph extends QueryModule {

  private val Iterations = 3

  /** Hot-basket guard: at most this many DISTINCT parts per order feed the
    * co-purchase pair builders. Pair fanout per order is C(n,2), and every
    * pair of one order is exploded in ONE task — so a single pathological
    * mega-basket (a 10⁵-line order at 100×) would be a single-key
    * quadratic no salt can split, because the quadratic is the OUTPUT, not
    * the shuffle. Capping at the 64 smallest partkeys per order bounds any
    * order's contribution at 64² exploded rows. The cap is semantic,
    * mirrored verbatim in every graph oracle; on the TPC-H-shaped corpus
    * (baskets ≤ 7 lines) it never binds, so all nine graph keys are
    * bit-identical with or without it. */
  private[graft] val MaxBasketLines = 64

  /** Every ordered (src, dst) pair of parts sharing an order's capped
    * basket, self-pairs included, once per order. ONE shuffle: the lines
    * group by `l_orderkey` into the sorted distinct basket, capped at the
    * [[MaxBasketLines]] smallest partkeys, and the pairs explode from the
    * array in the same task — no self-join, so no second pass over the
    * lines and no join-side exchange. `collect_list` drops NULL parts and
    * the NULL order is filtered, as the oracles' equi-join drops both, so
    * a NULL part never takes a cap slot. `node` narrows each basket AFTER
    * the cap (the oracles cap first, then slice), so the pairs of a node
    * subgraph come out without building the full pair set first. */
  private[graft] def basketPairs(lines: DataFrame,
      node: Option[Column => Column] = None): DataFrame = {
    val baskets = lines.filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_orderkey"))
      .agg(slice(array_sort(array_distinct(collect_list(col("l_partkey")))),
        1, MaxBasketLines).as("b"))
    val kept = node.fold(baskets)(p => baskets.select(filter(col("b"), p).as("b")))
    kept.select(explode(col("b")).as("src"), col("b"))
      .select(col("src"), explode(col("b")).as("dst"))
  }

  /** Up to this many distinct directed edges, the packed (src·2³²|dst)
    * edge-key set broadcasts for the wedge/candidate probes — the
    * measured 8× win over shuffling the wedge stream. Past it the
    * broadcast build itself is the failure: 2.4M keys (~40 MB hashed)
    * at sf0.1 are comfortable, but the sf1.0 probe's 24M keys failed
    * the broadcast build outright in the 8 GiB driver — the cliff this
    * constant exists to step over (caught by an sf1.0 sweep, not in
    * production). */
  private[graft] val BroadcastEdgeLimit = 8L * 1000 * 1000

  /** Wedge-closing semi kill against the packed edge-key set, adaptive
    * in |E|: under [[BroadcastEdgeLimit]] the key set broadcasts and the
    * probe stream is filtered where it is produced (zero shuffle); past
    * it, [[Scale.bloomPrune]] (a bounded 32 MB bitset broadcast, k=2)
    * map-side kills the non-closing probes — a bloom never
    * false-negatives, so no true match is lost — and the ~fp+match
    * survivors take a CHUNKED exact broadcast semi join: the key space
    * is split by xxhash64(_ek) mod C into chunks of ≤ limit/2 keys, and
    * each chunk's key slice (small enough to broadcast by construction)
    * semi-kills the survivors that hash to the same chunk. A survivor
    * can only match a key in its own chunk, so the union of the C
    * disjoint branches is the exact answer.
    *
    * Why chunked-broadcast and not one big exact join: the post-bloom SORT-MERGE semi join sorted both the
    * survivor stream and the full |E| key set next to the cached edge
    * checkpoints — at sf1.0 that sort OOM'd the default 8 GiB heap
    * (and a shuffle-hash build partition is the next allocation to
    * fail in the same regime, observed). The chunked form never
    * materializes or sorts anything edge-sized: survivors are bloomed
    * where they are produced, spooled ONCE to a disk-only cache (zero
    * heap, read C times — without it each union branch would replay
    * the corpus-sized probe self-join, Spark has no cross-branch CSE),
    * and each branch is a map-side hash probe against a ≤ limit/2-key
    * broadcast. Per-task peak memory is one chunk relation (~64 MB at
    * limit = 8M), independent of |E|; the blocks are reclaimed by the
    * ContextCleaner when the plan is collected. Exact in both regimes
    * (GraphSpec pins broadcast ≡ chunked row-identity). */
  private[graft] def edgeSemiKill(probe: DataFrame, eKeys: DataFrame,
      nEdges: Long, limit: Long = BroadcastEdgeLimit): DataFrame =
    if (nEdges <= limit) probe.join(broadcast(eKeys), Seq("_ek"), "left_semi")
    else {
      // coalesce(8) bounds the bitset build at 8 concurrent 32 MB partial
      // buffers (256 MB transient): 32 parallel BitsetAgg partials OOM'd
      // the default 8 GiB heap next to the cached edge checkpoints — the
      // build is a cheap scan, parallelism 8 costs nothing
      val survivors = Scale
        .bloomPrune(probe, "_ek", eKeys.coalesce(8), "_ek", 1 << 28)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      val target = math.max(1L, limit / 2)
      val nChunks = math.min(64L, (nEdges + target - 1) / target).toInt
      (0 until nChunks).map { i =>
        val inChunk = pmod(xxhash64(col("_ek")), lit(nChunks.toLong)) === i
        survivors.filter(inChunk)
          .join(broadcast(eKeys.filter(inChunk)), Seq("_ek"), "left_semi")
      }.reduce(_ unionAll _)
    }

  /** Non-edge anti kill, adaptive in |E|: under the limit the key set
    * broadcasts; past it the roles invert (the q_join_bloom
    * runtime-filter shape) — the PROBE here is query-bounded (link
    * prediction's candidate set tracks the focus hubs, not the corpus),
    * so a bloom of the probe keys prunes the EDGE set map-side to
    * ~|probe∩E| + fp·|E| rows, which broadcast into the exact anti
    * join. A pruned-away edge key could only have matched nothing, so
    * the anti semantics are exact. At scales where fp·|E| itself
    * outgrows the broadcast, raise mBits (fp halves per doubling) or
    * fall back to a plain shuffle-hash anti join. */
  private[graft] def edgeAntiKill(probe: DataFrame, eKeys: DataFrame,
      nEdges: Long, limit: Long = BroadcastEdgeLimit): DataFrame =
    if (nEdges <= limit) probe.join(broadcast(eKeys), Seq("_ek"), "left_anti")
    else {
      val prunedE = Scale.bloomPrune(
        eKeys, "_ek", probe.select(col("_ek")).coalesce(8), "_ek", 1 << 27)
      probe.join(broadcast(prunedE), Seq("_ek"), "left_anti")
    }

  /** Distinct directed co-occurrence edges (both directions present),
    * optionally of the subgraph induced by `node`: the basket pairs minus
    * self-pairs, deduplicated across orders. */
  private[graft] def edges(spark: SparkSession, dir: String,
      node: Option[Column => Column] = None): DataFrame =
    basketPairs(Tables.lineitem(spark, dir), node)
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** 3-iteration integer PageRank over the part co-purchase graph.
    *
    * Exchange budget: the edge table is hash-placed and sorted on `src`
    * ONCE via [[Materialize.byKey]] (a plain checkpoint forgets the
    * layout under AQE) and every rank table comes back from it placed on
    * `node`, so each iteration's sort-merge join needs NO exchange and NO
    * sort on either side: the only per-iteration data movement left is the
    * contributions shuffle into groupBy(dst), which is PageRank's
    * irreducible transpose. */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val parts = spark.sessionState.conf.numShufflePartitions
    // degree folded INTO the edge table once, before the loop — each
    // iteration then runs exactly one join + one aggregation instead of two
    // joins (measured ~1/3 of the per-iteration time at sf0.1). The e0
    // double-plant below (degree rollup + join probe, no cross-branch
    // reuse) was A/B'd and KEPT: a shared checkpoint on e0 measured
    // 3.30 s vs 3.11 s (the second build is cheaper than
    // a corpus-sized materialization here), and folding the degree via
    // count().over(Window.partitionBy(src)) measured 3.64 s (the window
    // pays an extra hash+sort pass the join form does not) — isolated
    // min-of-6 probes each; the join form stands.
    val e0 = edges(spark, dir)
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val e = Materialize.byKey(e0.join(deg, "src"), "src", parts)
    var ranks = Materialize.byKey(
      e.select(col("src").as("node")).distinct().withColumn("r", lit(1000000L)),
      "node", parts)
    for (_ <- 1 to Iterations) {
      ranks = Materialize.byKey(
        e.join(ranks, e("src") === ranks("node"))
          .select(col("dst"), expr("r div d").as("c"))
          .groupBy(col("dst"))
          .agg(expr("150000L + (85 * sum(c)) div 100").as("r"))
          .select(col("dst").as("node"), col("r")),
        "node", parts)
    }
    ranks.orderBy(col("r").desc, col("node"))
      .limit(100)
      .select(col("node").as("partkey"), col("r").as("rank_micro"))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * co-purchase graph, via the degree-oriented "forward" algorithm
    * (Schank–Wagner / Suri–Vassilvitskii): orient every undirected edge
    * from its (degree, id)-smaller endpoint to the larger, enumerate
    * wedges as pairs of OUT-edges sharing an apex, and close each wedge
    * against the edge set.
    *
    * Why this survives 100×: orientation by degree bounds every node's
    * out-degree by O(√m) on ANY graph, so the wedge self-join fans out to
    * at most m·√m candidates even when the degree distribution is
    * power-law — the naive 3-way join on undirected edges is Σ d(v)²,
    * which a single celebrity hub turns quadratic. The orientation is an
    * acyclic tournament, so each triangle has exactly one apex with two
    * out-edges and is counted exactly once, no ÷6 correction. All three
    * joins are plain hash equi-joins on ids.
    *
    * Determinism: counts are exact integers; the (deg, id) orientation and
    * the (tri DESC, node) output order are total, so the DuckDB twin
    * running the same orientation reproduces the rows bit-for-bit. */
  def qTriangle(spark: SparkSession, dir: String): DataFrame = {
    val (tri, deg) = triangleParts(spark, dir, apexMod = 1L)
    // ONE evaluation of the wedge probe: a 3-branch unionAll of `tri`
    // would replay the whole 41M-wedge stream once per branch (Spark does
    // no cross-branch CSE); exploding the corner array emits the same
    // three rows per triangle in a single pass.
    val corners = tri.select(
      explode(array(col("a"), col("b"), col("c"))).as("node"))
    corners.groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      .join(deg, "node")
      .select(col("node").as("partkey"), col("d").as("degree"), col("triangles"),
        round(lit(2.0) * col("triangles") / (col("d") * (col("d") - 1)), 6)
          .as("clustering"))
      .orderBy(col("triangles").desc, col("partkey"))
      .limit(100)
  }

  /** Decade-scale triangle certificate: the SAME oriented-wedge pipeline
    * as [[qTriangle]], restricted to the deterministic 1/8 apex slice
    * u ≡ 0 (mod 8) and emitted as a 16-row census (per c-residue bucket:
    * triangle count, exact corner sums, and a mod-p corner checksum)
    * instead of the per-node frame. Purpose: the full q_triangle oracle's
    * wedge join exhausts the single-process DuckDB's disk at sf1.0 —
    * zero value mismatches, pure resource exhaustion — so this twin gives
    * the decade point a VERIFIABLE row: the apex restriction cuts the
    * oracle's wedge volume ~8x (an sf1.0 slice still exceeds a full sf0.1
    * run) while exercising the identical orientation, wedge, and close
    * logic; the bounded census keeps the compared frame at 16 rows at any
    * scale. Spark-side cost is also ~1/8: the apex filter lands on the
    * checkpointed oriented table BEFORE the self-join. */
  def qTriangleCert(spark: SparkSession, dir: String): DataFrame = {
    // DISK_ONLY checkpoints, unlike the hot-path qTriangle: a certificate
    // is an audit job re-submitted many times from one long-lived driver
    // (verify, min-of-two bench, a scheduler's nightly audit), and each
    // submission builds FRESH edge/oriented checkpoints whose heap blocks
    // are reclaimed only by GC+ContextCleaner — three sf1.0 generations
    // of MEMORY_AND_DISK_SER blocks raced allocation and OOM'd the
    // default 8 GiB heap (measured). On disk the generations cost
    // ~200 MB of /tmp each and zero heap; the slice pass re-reads them
    // once, so the audit's wall barely moves while its memory footprint
    // becomes invocation-count-independent.
    val (tri, _) = triangleParts(spark, dir, apexMod = 8L,
      level = org.apache.spark.storage.StorageLevel.DISK_ONLY)
    tri.groupBy((col("c") % 16).as("bucket"))
      .agg(count(lit(1)).as("n_triangles"),
        sum(col("a")).as("sum_a"), sum(col("b")).as("sum_b"),
        sum(col("c")).as("sum_c"),
        sum((col("a") * 1009L + col("b") * 31L + col("c")) % 1000000007L)
          .as("chk"))
      .orderBy(col("bucket"))
  }

  /** The shared core of [[qTriangle]]/[[qTriangleCert]]: the exact
    * triangle set (a, b, c) from the degree-oriented wedge algorithm,
    * plus the degree table (the corner census needs it and recomputing it
    * would re-derive the checkpointed edge set). `apexMod` > 1 restricts
    * wedge enumeration to apexes u ≡ 0 (mod apexMod) — a deterministic
    * slice of the triangle set, since each triangle has exactly one apex
    * under the orientation. */
  private def triangleParts(spark: SparkSession, dir: String,
      apexMod: Long,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      : (DataFrame, DataFrame) = {
    // The edge table feeds THREE consumers (undirected half, degree table,
    // wedge-closing probe) and the oriented table two (both wedge sides) —
    // without the checkpoints Catalyst re-derives the lineitem basket
    // build + distinct once per reference (measured ~8x the work).
    // SERIALIZED cache, deliberately: both corpus-sized checkpoints here
    // must coexist with the wedge stage's 32 concurrent aggregation
    // tasks — at sf1.0 the deserialized row-object caches (~3 GiB for
    // e + o) left too little headroom for the stage's page allocations
    // and the default 8 GiB heap OOM'd; serialized they are ~5× smaller
    // AND evictable under execution pressure (a local checkpoint always
    // adds disk, so eviction is recoverable).
    val e = Materialize.shared(edges(spark, dir), level)
    val und = e.filter(col("src") < col("dst")) // each undirected edge once
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .select(col("src").as("node"), col("d"))
    // The oriented table is hash-placed AND sorted on the wedge apex `u`
    // via Materialize.byKey (a plain checkpoint forgets the layout under
    // AQE): the wedge self-join below then needs ZERO exchanges and ZERO
    // sorts on either side — the same trick as the pagerank iteration,
    // applied to a self-join (measured 15.8 s -> ~11 s at sf0.1/4 cpus).
    val parts = spark.sessionState.conf.numShufflePartitions
    // deg is broadcast by hint: it is node-sized, while the edge
    // checkpoint carries the estimate of exploded basket pairs, which
    // Catalyst puts far below the real size, so unhinted AQE broadcast
    // the 1.2M undirected edges instead (10 MB at sf0.1)
    val o = Materialize.byKey(
      und
        .join(broadcast(deg.select(col("node").as("src"), col("d").as("d_src"))), "src")
        .join(broadcast(deg.select(col("node").as("dst"), col("d").as("d_dst"))), "dst")
        .select(
          when(col("d_src") < col("d_dst")
            || (col("d_src") === col("d_dst") && col("src") < col("dst")),
            col("src")).otherwise(col("dst")).as("u"),
          when(col("d_src") < col("d_dst")
            || (col("d_src") === col("d_dst") && col("src") < col("dst")),
            col("dst")).otherwise(col("src")).as("v")),
      "u", parts, level)
    // wedges at the apex: unordered out-neighbor pairs, fixed by id order.
    // The cert's apex restriction lands HERE, before the self-join — the
    // wedge stream (the stage's dominant volume) shrinks by the slice
    // factor, not just the output.
    val oa = if (apexMod > 1L) o.filter(col("u") % apexMod === 0) else o
    val wedges = oa.as("e1").join(o.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    // close the wedge: {b,c} adjacent? The id-ordered probe pair packs into
    // one BIGINT (ids fit 32 bits) and probes the edge-key set via
    // [[edgeSemiKill]] — broadcast under BroadcastEdgeLimit (the measured
    // 8x win over shuffling the 41M-row sf0.1 wedge stream: 54 s -> 6.7 s),
    // bloom kill + chunked exact broadcast past it (the sf1.0 probe's
    // 24M-key broadcast failed the build in an 8 GiB driver, and a
    // post-bloom sort-merge close OOM'd the same heap — the
    // chunked form never sorts or materializes anything edge-sized; see
    // [[edgeSemiKill]]). The one-row count that picks the regime reads
    // the checkpointed edge RDD — the sanctioned scalar driver-side use.
    val eKeys = e.select(expr("shiftleft(src, 32) | dst").as("_ek"))
    val nEdges = e.count()
    val tri = edgeSemiKill(
      wedges.withColumn("_ek", expr("shiftleft(b, 32) | c")), eKeys, nEdges)
      .select(col("a"), col("b"), col("c"))
    (tri, deg)
  }

  /** K-hop neighborhood reach (frontier-expansion BFS, the third classic
    * iterative-graph primitive next to PageRank and triangles): from the
    * seed set {partkey ≡ 0 (mod 1000)}, how many parts are first reached
    * at hop 1, 2, 3 over the co-purchase graph — the blast-radius /
    * recommendation-neighborhood measure.
    *
    * Scale shape per hop: ONE join frontier⋈edges on src (frontier and
    * edges both live on the src hash layout via [[Materialize.byKey]], so
    * the join is exchange-free), a distinct on the new frontier, and a
    * left-anti against the visited set — visited stays sharded on node and
    * grows monotonically; nothing ever collects. The driver loop is
    * 3 fixed iterations (same discipline as [[qPagerank]]); at 100 TB the
    * per-hop frontier is bounded by the node set, never the edge set. */
  def qKhop(spark: SparkSession, dir: String): DataFrame = {
    val parts = spark.sessionState.conf.numShufflePartitions
    val e = Materialize.byKey(edges(spark, dir), "src", parts)
    val seeds = e.select(col("src").as("node")).distinct()
      .filter(col("node") % 1000 === 0)
    var visited = Materialize.byKey(
      seeds.withColumn("hop", lit(0)), "node", parts)
    var frontier = visited
    for (h <- 1 to Iterations) {
      val next = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hop", lit(h))
      frontier = Materialize.byKey(next, "node", parts)
      visited = Materialize.byKey(
        visited.unionByName(frontier), "node", parts)
    }
    // an exhausted frontier still reports its hop with 0 (small dense
    // graphs cover everything early; the hop spine keeps the contract)
    val spine = spark.range(0, Iterations + 1)
      .select(col("id").cast("int").as("hop"))
    spine.join(
        visited.groupBy(col("hop")).agg(count(lit(1)).as("n_nodes")),
        Seq("hop"), "left")
      .select(col("hop"), coalesce(col("n_nodes"), lit(0L)).as("n_nodes"))
      .orderBy(col("hop"))
  }

  /** Common-neighbor / Jaccard link prediction — the fourth classic graph
    * primitive here (after rank, triangles, reach): for each of the 25
    * highest-degree parts ("focus items" — the bounded query set a
    * recommender actually serves), the top-5 NON-adjacent parts by Jaccard
    * overlap of neighborhoods, |N(q)∩N(c)| / |N(q)∪N(c)| — "customers who
    * bought these together also bought" for pairs that never co-occurred.
    *
    * Why the query set is bounded: all-pairs link prediction is the full
    * wedge volume (Σ d(v)² — the q_triangle hazard without its ~5%
    * semi-join kill, since here the 95% NON-closing wedges are the answer).
    * Anchoring at K focus nodes bounds the wedge stream at K·d_max·d̄
    * whatever the corpus; corpus-wide scoring would tile this query set.
    *
    * Determinism: common-neighbor counts are exact integers; the Jaccard
    * ordering key is the raw double cn/(d_q+d_c−cn) — ONE IEEE division of
    * exact integers, bit-identical cross-engine — tie-broken by candidate
    * id, so top-5 is total-ordered.
    *
    * Scale shape: the focus set (top-K by degree) is a 25-row
    * TakeOrdered broadcast; focus out-edges (≤ K·d_max rows) broadcast to
    * the second hop so the wedge enumeration is map-side against the
    * sharded edge table; the per-(q,c) count is one map-side-combinable
    * shuffle of wedge pairs; adjacency kill reuses [[qTriangle]]'s packed
    * probe (left_anti here — keep NON-edges), now via [[edgeAntiKill]]:
    * under [[BroadcastEdgeLimit]] the full |E| key set broadcasts; past
    * it the plan switches ITSELF to the runtime-filter shape (bloom of
    * the query-bounded candidate keys prunes the edge set map-side to a
    * broadcastable sliver) — the sf1.0 probe showed the raw |E|
    * broadcast is linear in the co-occurrence graph, not the focus set,
    * and fails the build first. One residual limit remains: the
    * `shiftleft(id, 32) | id` pack collides if partkeys ever reach
    * 2³². */
  def qLinkPredict(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Materialize.shared(edges(spark, dir))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val focus = deg.orderBy(col("d").desc, col("src")).limit(25)
      .select(col("src").as("qn"), col("d").as("d_q"))
    val qEdges = e.join(broadcast(focus), e("src") === focus("qn"))
      .select(col("qn"), col("d_q"), col("dst").as("m"))
    val cand = broadcast(qEdges).join(e, qEdges("m") === e("src"))
      .filter(col("dst") =!= col("qn"))
      .groupBy(col("qn"), col("d_q"), col("dst").as("c"))
      .agg(count(lit(1)).as("cn"))
    val eKeys = e.select(expr("shiftleft(src, 32) | dst").as("_ek"))
    val nEdges = e.count()
    val w = Window.partitionBy(col("qn")).orderBy(col("jac_raw").desc, col("c"))
    edgeAntiKill(cand.withColumn("_ek", expr("shiftleft(qn, 32) | c")), eKeys, nEdges)
      .join(deg.select(col("src").as("c"), col("d").as("d_c")), "c")
      .withColumn("jac_raw",
        col("cn").cast("double") / (col("d_q") + col("d_c") - col("cn")).cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qn"), col("c"), col("cn"), round(col("jac_raw"), 6).as("jaccard"),
        col("rk"))
      .orderBy(col("qn"), col("rk"))
  }

  /** The THRESHOLDED co-purchase graph: parts co-ordered in ≥ 2 distinct
    * orders, canonical (u < v) undirected pairs with the co-order count as
    * edge strength. Thresholding removes the single-coincidence edges that
    * make the raw co-purchase graph one giant quasi-clique; what remains
    * is the persistent-affinity graph — the input a real similarity/CC
    * pipeline builds (and the same sparsification that keeps the DuckDB
    * closure oracle polynomial-sized at every SF). A plain count, not a
    * distinct count: each basket is distinct, so an order yields any pair
    * once. */
  private[graft] def strongEdges(spark: SparkSession, dir: String): DataFrame =
    basketPairs(Tables.lineitem(spark, dir))
      .filter(col("src") < col("dst"))
      .groupBy(col("src").as("u"), col("dst").as("v"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)

  /** Large-star round of the Kiveris et al. MapReduce connected-components
    * algorithm: every node links its LARGER neighbors to the minimum of its
    * closed neighborhood. One symmetrize + one min-aggregation + one join. */
  private def largeStar(cur: DataFrame): DataFrame = {
    // explode, not union-of-two-selects: cur is a checkpoint, but sym is
    // consumed twice below (min rollup + join probe) — the union form
    // scanned the checkpoint cache 4× per round, the explode form 2×.
    val sym = cur.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val m = sym.groupBy(col("u"))
      .agg(least(col("u"), min(col("v"))).as("m"))
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star round: every node links its smaller-or-self closed
    * neighborhood to its minimum. PRECONDITION (met by [[largeStar]]
    * output, the only caller's input): edges are distinct and already in
    * (larger, smaller) orientation — largeStar emits (v, m) with
    * v > u ≥ m — so the canonicalize+distinct a standalone small-star
    * would need is skipped (one shuffle per round saved). */
  private def smallStar(ori: DataFrame): DataFrame = {
    val m = ori.groupBy(col("u"))
      .agg(least(col("u"), min(col("v"))).as("m"))
    ori.join(m, "u")
      .select(explode(array(col("v"), col("u"))).as("n"), col("m"))
      .filter(col("n") =!= col("m"))
      .select(col("n").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Connected components via alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") over the
    * thresholded co-purchase graph — the O(log n)-ROUND component finder,
    * where min-label propagation needs as many rounds as the largest
    * component's diameter, which is unbounded in an arbitrary graph
    * ([[Dedup.qDedupClusters]] runs the same loop over the near-dup
    * pairs). Each round is two min-aggregations and two
    * equi-joins on node ids — no step ever materializes a neighborhood in
    * one task, so a 100 TB edge set runs the same plan with the round
    * count growing as log of the largest component, not its diameter.
    *
    * Convergence: the driver loop compares a per-round (count, xor of
    * row-hashes) fingerprint (xor: overflow-free under ANSI mode, and the
    * edge set is distinct so xor cancellation needs a hash collision) —
    * two scalars, never row data; a fingerprint
    * collision would surface as an oracle mismatch, and convergence is
    * REQUIRED (the safety valve raises rather than emitting a
    * part-propagated labeling). On convergence the edge set IS the
    * component map: (node, component-min) stars. */
  def qGraphCc(spark: SparkSession, dir: String): DataFrame =
    ccFromEdges(strongEdges(spark, dir).select(col("u"), col("v")))

  /** The alternation loop on an arbitrary (u, v) edge frame — split out so
    * the property suite can drive it over generated graphs. A plain
    * barrier, NOT [[Materialize.byKey]]: largeStar opens with a
    * union of both orientations, which destroys any co-partitioning a
    * pinned layout would buy, and pinning also disables AQE's post-shuffle
    * coalescing — on the thresholded (sparse) edge set the loop is
    * stage-latency-bound, so letting AQE shrink the tiny shuffles matters
    * more than a layout no join can reuse (measured 10.9 s → 5.7 s at
    * sf0.1). Lineage still truncates every round, which is the part the
    * iterative-Spark trap actually requires. */
  private[graft] def ccFromEdges(edges: DataFrame): DataFrame = {
    var cur = Materialize.barrier(edges)
    var fp: (Long, Long) = (-1L, -1L)
    var rounds = 0
    val maxRounds = 64 // ~2·log2(n) rounds suffice; the valve only guards bugs
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = Materialize.barrier(smallStar(largeStar(cur)))
      val row = next.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).first()
      val nfp = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      converged = nfp == fp
      fp = nfp
      cur = next
      rounds += 1
    }
    require(converged, s"large-star/small-star did not converge in $maxRounds rounds")
    val roots = cur.select(col("v").as("node"), col("v").as("component")).distinct()
    cur.select(col("u").as("node"), col("v").as("component"))
      .unionByName(roots)
      .withColumn("is_root", col("node") === col("component"))
      .orderBy(col("component"), col("node"))
  }

  /** Bounded weighted shortest paths (4-hop Bellman-Ford) over the TOP-8
    * pruned affinity graph: edge weight = ⌊10⁶/c⌋+1 micro-units (stronger
    * co-purchase affinity = shorter), each node keeps only its 8 cheapest
    * out-edges (the k-NN-graph pruning every ANN/graph-serving stack
    * ships), and distances relax from the 3 highest-degree hub parts for
    * 4 rounds — "how far is every part from the hubs, along persistent
    * affinities".
    *
    * Scale shape: the pruning is a per-node top-k window on the
    * thresholded edge set (bounded fan-out 8 thereafter); each relaxation
    * round is ONE frontier⋈edges equi-join plus a min-aggregation — the
    * [[qKhop]] exchange discipline with a running min instead of a visited
    * set. Bounded hops keep BOTH engines' work |V|·8^0..4-bounded; exact
    * integer micro-unit weights make every distance hash-comparable. */
  def qShortestPath(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = spark.sessionState.conf.numShufflePartitions
    // Symmetrize by EXPLODE, not union-of-two-selects: the union planted
    // the whole strongEdges pipeline (basket build + per-pair count) once
    // per orientation, and the two downstream consumers (pruned top-8
    // window, degree rollup) doubled that again — FOUR corpus-sized pair
    // builds per invocation. The explode emits both orientations in one
    // pass and the lazy checkpoint makes the two consumers share it: ONE
    // strongEdges build total. The row set is identical (union all ≡
    // explode of both orientations); sym is the thresholded sparse edge
    // set, cheap to hold.
    val sym = Materialize.shared(strongEdges(spark, dir)
      .select(explode(array(
        struct(col("u"), col("v"), col("c")),
        struct(col("v").as("u"), col("u").as("v"), col("c")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.c").as("c"))
      .withColumn("w", expr("div(1000000L, c) + 1")))
    val byW = Window.partitionBy(col("u")).orderBy(col("w"), col("v"))
    val pruned = sym.withColumn("rk", row_number().over(byW))
      .filter(col("rk") <= 8).select(col("u"), col("v"), col("w"))
    val e = Materialize.byKey(pruned, "u", parts)
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val sources = deg.orderBy(col("d").desc, col("u")).limit(3)
      .select(col("u").as("node"))
    var dist = Materialize.byKey(
      sources.withColumn("dist", lit(0L)), "node", parts)
    for (_ <- 1 to 4) {
      val relaxed = e.join(dist, e("u") === dist("node"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      dist = Materialize.byKey(
        dist.unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist")),
        "node", parts)
    }
    dist.select(col("node").as("partkey"), col("dist").as("dist_micro"))
      .orderBy(col("dist_micro"), col("partkey"))
  }

  /** Symmetrized (directed-double) strong-edge set, hash-placed on `v` for
    * the LPA join — shared by [[qCommunityLpa]] and [[qGraphModularity]].
    * Symmetrized by EXPLODE, not union-of-two-selects: the union planted
    * the whole strongEdges pipeline (basket build + per-pair count) once
    * per orientation inside the checkpoint's
    * materialization job; the explode emits both orientations in one pass —
    * the row set is identical (union all ≡ explode of both orientations). */
  private def symStrongByV(spark: SparkSession, dir: String): DataFrame = {
    val parts = spark.sessionState.conf.numShufflePartitions
    Materialize.byKey(
      strongEdges(spark, dir).select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v")), "v", parts)
  }

  /** Community detection by SYNCHRONOUS label propagation (3 fixed
    * rounds) over the thresholded affinity graph — the O(E)-per-round
    * community finder (Raghavan et al.) next to [[qGraphCc]]'s exact
    * components: where CC merges everything reachable, LPA keeps densely
    * connected neighborhoods apart. Async LPA is order-dependent;
    * the sync variant with a TOTAL tie rule (max neighbor-label count,
    * then MIN label) is deterministic, so three unrolled rounds replay
    * bit-for-bit in the oracle. Fixed rounds rather than convergence:
    * sync LPA can 2-cycle on bipartite-ish structure, so production runs
    * bounded rounds — and a bounded unroll is also what SQL can express.
    *
    * Scale shape per round: one labels⋈edges equi-join on the neighbor
    * end, one (node, label) count aggregation, one per-node argmax
    * window (partition = node, rows = its distinct neighbor labels ≤
    * degree — never a global window). All keys are high-cardinality
    * node ids. Adversarial-hub bound: even a planted celebrity node of
    * degree D puts at most D (node, label) rows through its window
    * partition — row_number streams them with O(1) state after the
    * partition sort, so the worst single-task cost is the D·log D sort of
    * one hub's label census, linear-ish in the hub's degree and
    * independent of the corpus (planted-hub case in GraphSpec); and
    * [[MaxBasketLines]] already caps how much degree any one ORDER can
    * mint, so D itself grows only with genuinely distinct co-purchases. */
  def qCommunityLpa(spark: SparkSession, dir: String): DataFrame = {
    val sym = symStrongByV(spark, dir)
    lpaFromSym(sym, 3).groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy(col("community"))
  }

  /** The synchronous-LPA loop on an arbitrary symmetrized (u, v) edge
    * frame — split out so the planted-hub case in GraphSpec can drive it
    * over a generated star graph. Returns the final (node, lbl) frame. */
  private[graft] def lpaFromSym(sym: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    val byNode = Window.partitionBy(col("node"))
      .orderBy(col("cnt").desc, col("nlbl"))
    for (_ <- 1 to rounds) {
      val prev = labels
      labels = Materialize.barrier(sym
        .join(labels.select(col("node").as("v"), col("lbl").as("nlbl")), "v")
        .groupBy(col("u").as("node"), col("nlbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(byNode))
        .filter(col("rk") === 1)
        .select(col("node"), col("nlbl").as("lbl"))) // eager: prev's last consumer materialized
      // no-op on the round-1 seed (a plain distinct, not a checkpoint)
      Materialize.release(prev)
    }
    labels
  }

  /** 2-round integer HITS (Kleinberg hubs/authorities) over the directed
    * co-purchase graph. Start h₀ = 1024 per node; each round is
    * a ← Σ_in h, h ← Σ_out a, each immediately rescaled by `div 1024` —
    * the rescale replaces the float L2 normalization with a deterministic
    * integer shift, bounding value growth at ~d² per round so BIGINT holds
    * even on 10⁵-degree hubs (d²·2¹⁰ per round ≪ 2⁶³).
    *
    * Scale shape: same as PageRank — the edge table is the only
    * corpus-sized operand, every step is one equi-join + one map-side-
    * combinable groupBy on node ids, and the final top-100 is a
    * TakeOrdered, not a full sort.
    *
    * Exchange budget: the edge table is hash-placed TWICE via
    * [[Materialize.byKey]] — on `src` for the authority
    * step, on `dst` for the hub step, because HITS alternates join sides
    * where PageRank reuses one — and every score table comes back placed
    * on `node`, so all four per-round joins are exchange-free, sort-free
    * SMJs; the only per-round movement left is each step's groupBy
    * transpose, HITS' irreducible shuffle. The final full-outer join runs
    * on two node-placed frames (exchange-free) into a TakeOrdered, so the
    * terminal job plans ZERO exchanges (pinned in PlanSpec).
    *
    * Memory budget: the edge set is derived ONCE into the src placement,
    * and the dst placement + node table re-read THAT cache — no third
    * standalone edge copy is ever resident (holding e0 + eSrc + eDst at
    * once is a 3× amplification that made this key heap-bound at 36.8 s
    * at sf1.0). Everything stays LAZY: the
    * score tables are node-sized (≪ |E|), so there is nothing
    * corpus-sized to reclaim mid-loop, and eagerly materializing every
    * round was measured SLOWER at sf1.0 (77 s vs 36.8 s — seven
    * blocking barrier jobs where the lazy pipeline overlaps its
    * stages). */
  def qHits(spark: SparkSession, dir: String): DataFrame = {
    val parts = spark.sessionState.conf.numShufflePartitions
    val eSrc = Materialize.byKey(
      edges(spark, dir), "src", parts)
    val eDst = Materialize.byKey(eSrc, "dst", parts)
    // explode, not union-of-two-selects: one scan of the eSrc checkpoint
    // instead of two feeding the node-set distinct (same row multiset)
    val nodes = eSrc.select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct()
    var h = Materialize.byKey(
      nodes.withColumn("h", lit(1024L)), "node", parts)
    var a: DataFrame = null
    for (_ <- 1 to 2) {
      a = Materialize.byKey(
        eSrc.join(h, eSrc("src") === h("node"))
          .groupBy(col("dst")).agg(expr("sum(h) div 1024").as("a"))
          .select(col("dst").as("node"), col("a")),
        "node", parts)
      h = Materialize.byKey(
        eDst.join(a, eDst("dst") === a("node"))
          .groupBy(col("src")).agg(expr("sum(a) div 1024").as("h"))
          .select(col("src").as("node"), col("h")),
        "node", parts)
    }
    a.join(h, Seq("node"), "full_outer")
      .select(col("node"), coalesce(col("a"), lit(0L)).as("authority"),
        coalesce(col("h"), lit(0L)).as("hub"))
      .orderBy(col("authority").desc, col("node"))
      .limit(100)
  }

  /** 3-round k-core peel (k = 3) over the co-purchase graph: repeatedly
    * drop nodes whose current degree is below k and restrict the edge set
    * to survivors — after each round the census (nodes, directed edges)
    * shows the shrinking candidate core. Three rounds are unrolled (the
    * fixpoint needs O(peel depth); the round census itself is the
    * deliverable — a monotone curve whose flattening certifies
    * convergence, same contract as the unrolled LPA/SSSP keys).
    *
    * Memory: [[kcorePeel]] holds ONE corpus-sized edge copy, the
    * checkpointed input; every per-round table it materializes is
    * node-sized. One resident edge generation per round would be a 3–6×
    * amplification, enough to make this key heap-bound at sf1.0. */
  def qKcore(spark: SparkSession, dir: String): DataFrame =
    kcorePeel(edges(spark, dir))
      .select(col("round"), col("n_nodes"), col("n_edges"))
      .orderBy(col("round"))

  /** Decade-scale k-core certificate: the SAME 3-round k ≥ 3 peel as
    * [[qKcore]] over the deterministic mod-4 induced subgraph (both
    * endpoints ≡ 0 (mod 4) — ~1/16 of the edges), with exact endpoint-sum
    * checksums added to the per-round census. The full q_kcore oracle's
    * three round-filter join chains exhaust the single-process DuckDB's
    * disk at sf1.0 (zero value mismatches); the induced-subgraph twin
    * keeps the identical peel logic verifiable at the decade point inside
    * the oracle's budget, and the census never exceeds 3 rows. The slice
    * narrows the baskets before the pairs explode, so the full edge set
    * is never built. */
  def qKcoreCert(spark: SparkSession, dir: String): DataFrame =
    kcorePeel(edges(spark, dir, Some(_ % 4 === 0)))
      .select(col("round"), col("n_nodes"), col("n_edges"),
        col("sum_src"), col("sum_dst"))
      .orderBy(col("round"))

  /** Shared peel of [[qKcore]]/[[qKcoreCert]]: 3 rounds of "keep nodes
    * with out-degree ≥ 3, induce". The keep sets nest (a round keeps only
    * nodes of the previous round's edges), so round r's edge set is the
    * INPUT semi-joined to keep_r on both endpoints: no round's edge set is
    * ever materialized, only the input once. Each round shares one per-src
    * degree table (d = out-degree, s_dst = Σ dst), which is both the
    * round's census (nodes = rows, edges = Σ d, Σ src = Σ src·d,
    * Σ dst = Σ s_dst) and the next round's keep set (d ≥ 3), so the
    * terminal union reads three node-sized tables and no edges. */
  private[graft] def kcorePeel(e0: DataFrame): DataFrame = {
    val e = Materialize.barrier(e0)
    def degrees(edges: DataFrame): DataFrame =
      Materialize.shared(edges.groupBy(col("src"))
        .agg(count(lit(1)).as("d"), sum(col("dst")).as("s_dst")))
    var deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    (1 to 3).map { round =>
      val keep = deg.filter(col("d") >= 3).select(col("src").as("node"))
      deg = degrees(e.join(keep, e("src") === keep("node"), "left_semi")
        .join(keep, e("dst") === keep("node"), "left_semi"))
      deg.agg(count(lit(1)).as("n_nodes"),
          coalesce(sum(col("d")), lit(0L)).as("n_edges"),
          coalesce(sum(col("src") * col("d")), lit(0L)).as("sum_src"),
          coalesce(sum(col("s_dst")), lit(0L)).as("sum_dst"))
        .withColumn("round", lit(round.toLong))
    }.reduce(_ unionByName _)
  }

  /** Degree assortativity of the co-purchase graph — Newman's r: the
    * Pearson correlation of (deg(src), deg(dst)) over the directed edge
    * list, the one-number summary of whether hubs attach to hubs
    * (r > 0, social-network shape) or to leaves (r < 0, hub-and-spoke —
    * what co-purchase graphs typically show). Emitted alongside the raw
    * exact moments (m, Σd, Σd², Σdxdy) so the correlation is auditable.
    *
    * Determinism: every moment is an exact integer (LONG sums; the three
    * cross-moments m·Σxy − Σx·Σy run in DECIMAL(38,0)/HUGEINT, since
    * m·Σxy passes 2⁶³ near sf1.0); r itself is the single double
    * division of those exact operands, floor-rounded at 1 ppm, NULL when
    * either variance is ≤ 0 (degenerate regular graph) — identical
    * arithmetic both engines.
    *
    * Scale shape: one degree rollup (map-side combinable, node-bounded)
    * and two equi-joins decorating each edge endpoint with its degree —
    * the same join pattern every other key in this family runs per
    * round; the moment fold is a single global aggregate. The edge set
    * is checkpointed: the degree table AND the probe side
    * both consume it and Catalyst has no cross-branch reuse. The degree
    * table is broadcast by hint: it is node-sized, while the edge
    * checkpoint carries the size estimate of exploded basket pairs, which
    * Catalyst puts ~25× low (1.5 MB for 38 MB at sf0.1), so unhinted AQE
    * built the hash table on the 2.4M edges instead. */
  def qDegreeAssort(spark: SparkSession, dir: String): DataFrame = {
    val e = Materialize.shared(edges(spark, dir))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val moments = e
      .join(broadcast(deg.select(col("node").as("src"), col("deg").as("dx"))), "src")
      .join(broadcast(deg.select(col("node").as("dst"), col("deg").as("dy"))), "dst")
      .agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
    moments
      .withColumn("num", expr(
        "CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("denx", expr(
        "CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("deny", expr(
        "CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .withColumn("assort", when(
        col("m") === 0 || col("denx") <= 0 || col("deny") <= 0, lit(null))
        .otherwise(
          floor(col("num").cast("double")
            / sqrt(col("denx").cast("double") * col("deny").cast("double"))
            * 1000000 + 0.5) / 1000000))
      .select(col("m"), col("sx").as("s_deg"), col("sxy").as("s_xy"),
        col("sxx").as("s_xx"), col("assort"))
  }

  /** Modularity of the LPA communities — the quality score that says
    * whether `q_community_lpa`'s partition actually found structure:
    * Q = Σ_c (intra_c/m − (d_c/m)²) over the symmetric (directed-double)
    * strong-edge list, where intra_c counts directed edges with both
    * endpoints in c, d_c sums member degrees, and m = |sym|. (On the
    * directed-double representation of an undirected graph this equals
    * the textbook undirected Q with its 2m denominators.) Both terms are
    * truncating ppm divisions of exact integers — the (d_c)² cross-term
    * runs in DECIMAL(38,0)/HUGEINT since 10⁶·d_c² passes 2⁶³ once d_c
    * nears 10⁷. Emits the 10 largest communities with their
    * contributions plus the global Q on every row.
    *
    * Scale shape: the label table is [[lpaFromSym]]'s (checkpointed per
    * round, window bounded by per-node distinct neighbor labels = degree);
    * intra_c decorates each edge endpoint with its label — the same two
    * equi-joins every per-round LPA step already pays — and everything
    * after aggregates by community label, so the tail is bounded by the
    * number of communities. Top-10 is a TakeOrdered, the global Q a
    * 1-row broadcast. */
  def qGraphModularity(spark: SparkSession, dir: String): DataFrame = {
    val sym = symStrongByV(spark, dir)
    val labels = Materialize.shared(lpaFromSym(sym, 3))
    val m = sym.agg(count(lit(1)).as("m"))
    val intra = sym
      .join(labels.select(col("node").as("u"), col("lbl").as("lu")), "u")
      .join(labels.select(col("node").as("v"), col("lbl").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("community")).agg(count(lit(1)).as("intra"))
    val dc = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      .join(labels, "node")
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_c"))
    val contrib = dc.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("intra"))
      .crossJoin(broadcast(m))
      .withColumn("contrib_ppm", expr(
        """div(1000000 * intra, m)
          |- CAST(CAST(1000000 AS DECIMAL(38,0)) * d_c * d_c
          |       div (CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)""".stripMargin))
    val cchk = Materialize.shared(contrib)
    val q = cchk.agg(sum(col("contrib_ppm")).as("q_ppm"))
    cchk
      .orderBy(col("n_nodes").desc, col("community")).limit(10)
      .crossJoin(broadcast(q))
      .select(col("community"), col("n_nodes"), col("intra"), col("d_c"),
        col("contrib_ppm"), col("m"), col("q_ppm"))
      .orderBy(col("n_nodes").desc, col("community"))
  }

  /** Deterministic random-walk corpus over the co-purchase graph — the
    * DeepWalk/node2vec data-prep primitive: a walk corpus IS training data
    * (each walk becomes a "sentence" for a skip-gram embedder), so the
    * walk generator belongs to the training-data pipeline the same way
    * tokenization does. "Random" is derandomized the repo's usual way:
    * step s at node u moves to argmin over out-neighbors v of
    * md5("s:u:v") — an unbiased-per-step, seedless choice both engines
    * compute identically (the md5 ranking stands in for the RNG draw; a
    * production walker would swap the hash for a seeded splitmix and keep
    * every shape below). Seeds: every node ≡ 0 mod 250; 3 steps; output
    * one row per (walk, step, node).
    *
    * Scale shape: each step is ONE equi-join of the walk frontier against
    * the hash-placed edge layout ([[Materialize.byKey]] —
    * the same exchange-free discipline as the other iterative graph ops)
    * followed by a struct-min groupBy on walk_id (map-side combinable).
    * Cost per step ∝ frontier out-degree, state = |walks| rows; walks
    * never materialize the neighborhood beyond their own frontier. At
    * 100 TB this is exactly DeepWalk's shape: linear passes, no
    * quadratics, no driver state. */
  def qRandomWalk(spark: SparkSession, dir: String): DataFrame = {
    val Steps = 3
    val parts = spark.sessionState.conf.numShufflePartitions
    val e = Materialize.byKey(edges(spark, dir), "src", parts)
    var cur = e.select(col("src").as("node")).distinct()
      .filter(col("node") % 250 === 0)
      .select(col("node").as("walk_id"), col("node"))
    val rows = scala.collection.mutable.Buffer(
      cur.select(col("walk_id"), lit(0L).as("step"), col("node")))
    for (s <- 1 to Steps) {
      cur = Materialize.shared(e.join(cur, e("src") === cur("node"))
        .withColumn("h", md5(concat(lit(s"$s:"), col("src").cast("string"),
          lit(":"), col("dst").cast("string"))))
        .groupBy(col("walk_id"))
        .agg(min(struct(col("h"), col("dst"))).as("pick"))
        .select(col("walk_id"), col("pick.dst").as("node"))) // frontier feeds output AND next step
      rows += cur.select(col("walk_id"), lit(s.toLong).as("step"), col("node"))
    }
    rows.reduce(_ unionByName _).orderBy(col("walk_id"), col("step"))
  }

  /** Power-law exponent MLE over the out-degree distribution — the
    * graph-shape audit run before sizing anything degree-dependent
    * (wedge counts, LSH bucket skew, walk mixing): the continuous-MLE
    * α = 1 + n·[Σᵢ ln(dᵢ/(d_min−½))]⁻¹ (Clauset–Shalizi–Newman 2009)
    * with d_min = 1, folded through the DEGREE HISTOGRAM — a run of k
    * nodes at degree d contributes k·ln(2d), ppm-floored per cell before
    * the integer total (the q_mutual_info ln discipline), so the headline
    * α is exact integer arithmetic over exactly-cast doubles in both
    * engines. Output also carries the edge-count checksum Σ d·k and the
    * max degree — enough to re-derive the tail plot.
    *
    * Scale shape: one degree rollup (map-side combinable) + one rollup
    * over the DEGREE SPINE (bounded by max degree, not node count). */
  def qPowerlaw(spark: SparkSession, dir: String): DataFrame = {
    val degHist = edges(spark, dir)
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("k"))
    degHist
      .withColumn("cell_ppm", expr(
        "CAST(FLOOR(CAST(k AS DOUBLE) * LN(2.0 * CAST(d AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"))
      .agg(sum(col("k")).as("n_nodes"),
        max(col("d")).as("max_degree"),
        sum(expr("d * k")).as("n_edges"),
        sum(col("cell_ppm")).as("s_ppm"))
      .select(col("n_nodes"), col("max_degree"), col("n_edges"), col("s_ppm"),
        // 10¹²·n_nodes overflows Long past ~9.2M nodes (~sf50); route the
        // quotient through DECIMAL(38,0)/HUGEINT like the q_gini /
        // q_hll_sketch ppm certificates so the headline never wraps.
        expr("CAST(1000000 + div(CAST(1000000000000 AS DECIMAL(38,0)) * n_nodes, s_ppm) AS BIGINT)")
          .as("alpha_ppm"))
  }

  /** Shared oracle CTE block: the 64-capped order lines + the distinct
    * directed co-purchase edge set — the exact SQL twin of
    * [[basketPairs]]/[[edges]]. One source of truth for the cap and the
    * pair build across every graph-family oracle that consumes the plain
    * directed edge list (q_degree_assort, q_kcore, q_hits, q_link_predict,
    * q_khop, q_pagerank, q_triangle and the decade certificates) — a
    * change to the cap or the edge semantics propagates to all of them. */
  private def edgeCtes(edgeName: String): String =
    s"""lines AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey FROM (
      |    SELECT l_orderkey, l_partkey,
      |           ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rk
      |    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
      |  WHERE rk <= 64),
      |$edgeName AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lines a JOIN lines b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey <> b.l_partkey)""".stripMargin

  /** Shared 3-round k ≥ 3 peel CTE chain over an `e0` edge CTE — the SQL
    * twin of [[kcorePeel]], interpolated by both the q_kcore and
    * q_kcore_cert oracles so the round count / threshold / induce rule
    * stay in one place. */
  private val kcorePeelCtes: String =
    """k1 AS MATERIALIZED (SELECT src AS node FROM e0 GROUP BY src HAVING COUNT(*) >= 3),
      |e1 AS MATERIALIZED (SELECT e.src, e.dst FROM e0 e
      |       JOIN k1 a ON e.src = a.node JOIN k1 b ON e.dst = b.node),
      |k2 AS MATERIALIZED (SELECT src AS node FROM e1 GROUP BY src HAVING COUNT(*) >= 3),
      |e2 AS MATERIALIZED (SELECT e.src, e.dst FROM e1 e
      |       JOIN k2 a ON e.src = a.node JOIN k2 b ON e.dst = b.node),
      |k3 AS MATERIALIZED (SELECT src AS node FROM e2 GROUP BY src HAVING COUNT(*) >= 3),
      |e3 AS MATERIALIZED (SELECT e.src, e.dst FROM e2 e
      |       JOIN k3 a ON e.src = a.node JOIN k3 b ON e.dst = b.node)""".stripMargin

  /** Unrolled 3-step walk for the q_random_walk oracle: per step, the
    * md5-argmin neighbor via ROW_NUMBER over (hash, dst). */
  private def randomWalkSql: String = {
    def step(n: Int, prev: String, prevCol: String) =
      s"""p$n AS (SELECT walk_id, dst FROM (
         |  SELECT $prev.walk_id AS walk_id, e.dst,
         |         ROW_NUMBER() OVER (PARTITION BY $prev.walk_id
         |           ORDER BY MD5('$n:' || CAST(e.src AS VARCHAR) || ':' || CAST(e.dst AS VARCHAR)),
         |                    e.dst) AS rn
         |  FROM $prev JOIN e ON e.src = $prev.$prevCol) WHERE rn = 1)""".stripMargin
    s"""WITH ${edgeCtes("e")},
       |w0 AS (SELECT DISTINCT src AS walk_id, src AS node FROM e WHERE src % 250 = 0),
       |${step(1, "w0", "node")},
       |${step(2, "p1", "dst")},
       |${step(3, "p2", "dst")}
       |SELECT walk_id, step, node FROM (
       |  SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM w0
       |  UNION ALL SELECT walk_id, 1, dst FROM p1
       |  UNION ALL SELECT walk_id, 2, dst FROM p2
       |  UNION ALL SELECT walk_id, 3, dst FROM p3)
       |ORDER BY walk_id, step""".stripMargin
  }

  val registry: Map[String, (Query, String)] = Map(
    "q_powerlaw" -> (qPowerlaw _,
      s"""WITH ${edgeCtes("e")},
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
        |hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS k FROM deg GROUP BY d),
        |cells AS (
        |  SELECT d, k,
        |         CAST(FLOOR(CAST(k AS DOUBLE) * LN(2.0 * CAST(d AS DOUBLE)) * 1000000 + 0.5)
        |           AS BIGINT) AS cell_ppm
        |  FROM hist)
        |SELECT CAST(SUM(k) AS BIGINT) AS n_nodes,
        |       MAX(d) AS max_degree,
        |       CAST(SUM(d * k) AS BIGINT) AS n_edges,
        |       CAST(SUM(cell_ppm) AS BIGINT) AS s_ppm,
        |       CAST(1000000 + (1000000000000::HUGEINT * CAST(SUM(k) AS BIGINT))
        |              // CAST(SUM(cell_ppm) AS BIGINT) AS BIGINT)
        |         AS alpha_ppm
        |FROM cells""".stripMargin),
    "q_random_walk" -> (qRandomWalk _, randomWalkSql),
    "q_degree_assort" -> (qDegreeAssort _,
      s"""WITH ${edgeCtes("e0")},
        |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM e0 GROUP BY src),
        |j AS (SELECT dx.deg AS dx, dy.deg AS dy
        |      FROM e0 e JOIN deg dx ON e.src = dx.node
        |                JOIN deg dy ON e.dst = dy.node),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |             CAST(SUM(dx) AS BIGINT) AS sx,
        |             CAST(SUM(dy) AS BIGINT) AS sy,
        |             CAST(SUM(dx * dy) AS BIGINT) AS sxy,
        |             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
        |             CAST(SUM(dy * dy) AS BIGINT) AS syy
        |      FROM j)
        |SELECT m, sx AS s_deg, sxy AS s_xy, sxx AS s_xx,
        |       CASE WHEN m = 0
        |              OR CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx <= 0
        |              OR CAST(m AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy <= 0
        |            THEN NULL
        |            ELSE FLOOR(
        |              CAST(CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |              / SQRT(CAST(CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |                   * CAST(CAST(m AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
        |              * 1000000 + 0.5) / 1000000
        |       END AS assort
        |FROM s""".stripMargin),
    "q_kcore" -> (qKcore _,
      s"""WITH ${edgeCtes("e0")},
        |$kcorePeelCtes
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS round, COUNT(DISTINCT src) AS n_nodes, COUNT(*) AS n_edges FROM e1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), COUNT(DISTINCT src), COUNT(*) FROM e2
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), COUNT(DISTINCT src), COUNT(*) FROM e3)
        |ORDER BY round""".stripMargin),
    "q_kcore_cert" -> (qKcoreCert _,
      s"""WITH ${edgeCtes("eall")},
        |e0 AS MATERIALIZED (SELECT src, dst FROM eall WHERE src % 4 = 0 AND dst % 4 = 0),
        |$kcorePeelCtes
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS round, COUNT(DISTINCT src) AS n_nodes,
        |         COUNT(*) AS n_edges,
        |         CAST(COALESCE(SUM(src), 0) AS BIGINT) AS sum_src,
        |         CAST(COALESCE(SUM(dst), 0) AS BIGINT) AS sum_dst FROM e1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), COUNT(DISTINCT src), COUNT(*),
        |         CAST(COALESCE(SUM(src), 0) AS BIGINT),
        |         CAST(COALESCE(SUM(dst), 0) AS BIGINT) FROM e2
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), COUNT(DISTINCT src), COUNT(*),
        |         CAST(COALESCE(SUM(src), 0) AS BIGINT),
        |         CAST(COALESCE(SUM(dst), 0) AS BIGINT) FROM e3)
        |ORDER BY round""".stripMargin),
    "q_hits" -> (qHits _,
      s"""WITH ${edgeCtes("e")},
        |h0 AS (
        |  SELECT node, CAST(1024 AS BIGINT) AS h FROM (
        |    SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |a1 AS (
        |  SELECT e.dst AS node, SUM(h.h) // 1024 AS a
        |  FROM e JOIN h0 h ON e.src = h.node GROUP BY e.dst),
        |h1 AS (
        |  SELECT e.src AS node, SUM(a.a) // 1024 AS h
        |  FROM e JOIN a1 a ON e.dst = a.node GROUP BY e.src),
        |a2 AS (
        |  SELECT e.dst AS node, SUM(h.h) // 1024 AS a
        |  FROM e JOIN h1 h ON e.src = h.node GROUP BY e.dst),
        |h2 AS (
        |  SELECT e.src AS node, SUM(a.a) // 1024 AS h
        |  FROM e JOIN a2 a ON e.dst = a.node GROUP BY e.src)
        |SELECT COALESCE(a2.node, h2.node) AS node,
        |       CAST(COALESCE(a2.a, 0) AS BIGINT) AS authority,
        |       CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub
        |FROM a2 FULL OUTER JOIN h2 ON a2.node = h2.node
        |ORDER BY authority DESC, node LIMIT 100""".stripMargin),
    "q_community_lpa" -> (qCommunityLpa _,
      """WITH lines AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |           ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rk
        |    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
        |  WHERE rk <= 64),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lines a JOIN lines b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
        |r1 AS (
        |  SELECT node, nlbl AS lbl FROM (
        |    SELECT s.u AS node, l.lbl AS nlbl, COUNT(*) AS cnt,
        |           ROW_NUMBER() OVER (PARTITION BY s.u
        |             ORDER BY COUNT(*) DESC, l.lbl) AS rk
        |    FROM sym s JOIN l0 l ON s.v = l.node
        |    GROUP BY s.u, l.lbl) WHERE rk = 1),
        |r2 AS (
        |  SELECT node, nlbl AS lbl FROM (
        |    SELECT s.u AS node, l.lbl AS nlbl, COUNT(*) AS cnt,
        |           ROW_NUMBER() OVER (PARTITION BY s.u
        |             ORDER BY COUNT(*) DESC, l.lbl) AS rk
        |    FROM sym s JOIN r1 l ON s.v = l.node
        |    GROUP BY s.u, l.lbl) WHERE rk = 1),
        |r3 AS (
        |  SELECT node, nlbl AS lbl FROM (
        |    SELECT s.u AS node, l.lbl AS nlbl, COUNT(*) AS cnt,
        |           ROW_NUMBER() OVER (PARTITION BY s.u
        |             ORDER BY COUNT(*) DESC, l.lbl) AS rk
        |    FROM sym s JOIN r2 l ON s.v = l.node
        |    GROUP BY s.u, l.lbl) WHERE rk = 1)
        |SELECT lbl AS community, COUNT(*) AS n_nodes, MIN(node) AS min_node
        |FROM r3 GROUP BY lbl ORDER BY community""".stripMargin),
    "q_graph_modularity" -> (qGraphModularity _,
      """WITH lines AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |           ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rk
        |    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
        |  WHERE rk <= 64),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lines a JOIN lines b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
        |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym),
        |r1 AS (
        |  SELECT node, nlbl AS lbl FROM (
        |    SELECT s.u AS node, l.lbl AS nlbl, COUNT(*) AS cnt,
        |           ROW_NUMBER() OVER (PARTITION BY s.u
        |             ORDER BY COUNT(*) DESC, l.lbl) AS rk
        |    FROM sym s JOIN l0 l ON s.v = l.node
        |    GROUP BY s.u, l.lbl) WHERE rk = 1),
        |r2 AS (
        |  SELECT node, nlbl AS lbl FROM (
        |    SELECT s.u AS node, l.lbl AS nlbl, COUNT(*) AS cnt,
        |           ROW_NUMBER() OVER (PARTITION BY s.u
        |             ORDER BY COUNT(*) DESC, l.lbl) AS rk
        |    FROM sym s JOIN r1 l ON s.v = l.node
        |    GROUP BY s.u, l.lbl) WHERE rk = 1),
        |r3 AS (
        |  SELECT node, nlbl AS lbl FROM (
        |    SELECT s.u AS node, l.lbl AS nlbl, COUNT(*) AS cnt,
        |           ROW_NUMBER() OVER (PARTITION BY s.u
        |             ORDER BY COUNT(*) DESC, l.lbl) AS rk
        |    FROM sym s JOIN r2 l ON s.v = l.node
        |    GROUP BY s.u, l.lbl) WHERE rk = 1),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM sym),
        |intra AS (
        |  SELECT lu.lbl AS community, CAST(COUNT(*) AS BIGINT) AS intra
        |  FROM sym s JOIN r3 lu ON s.u = lu.node JOIN r3 lv ON s.v = lv.node
        |  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl),
        |dc AS (
        |  SELECT l.lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |         CAST(SUM(d.deg) AS BIGINT) AS d_c
        |  FROM (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u) d
        |  JOIN r3 l ON d.node = l.node GROUP BY l.lbl),
        |contrib AS (
        |  SELECT dc.community, dc.n_nodes, COALESCE(i.intra, 0) AS intra,
        |         dc.d_c,
        |         CAST((1000000 * COALESCE(i.intra, 0)) // mm.m
        |              - (CAST(1000000 AS HUGEINT) * dc.d_c * dc.d_c)
        |                // (CAST(mm.m AS HUGEINT) * mm.m) AS BIGINT) AS contrib_ppm,
        |         mm.m
        |  FROM dc LEFT JOIN intra i ON dc.community = i.community
        |          CROSS JOIN mm),
        |qq AS (SELECT CAST(SUM(contrib_ppm) AS BIGINT) AS q_ppm FROM contrib)
        |SELECT community, n_nodes, intra, d_c, contrib_ppm, m, q_ppm
        |FROM (SELECT * FROM contrib ORDER BY n_nodes DESC, community LIMIT 10)
        |     CROSS JOIN qq
        |ORDER BY n_nodes DESC, community""".stripMargin),
    "q_graph_cc" -> (qGraphCc _,
      """WITH RECURSIVE lines AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |           ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rk
        |    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
        |  WHERE rk <= 64),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lines a JOIN lines b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT e.u, r.lbl FROM e JOIN reach r ON e.v = r.node)
        |SELECT node, MIN(lbl) AS component, node = MIN(lbl) AS is_root
        |FROM reach GROUP BY node
        |ORDER BY component, node""".stripMargin),
    "q_shortest_path" -> (qShortestPath _,
      """WITH lines AS (
        |  SELECT l_orderkey, l_partkey FROM (
        |    SELECT l_orderkey, l_partkey,
        |           ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rk
        |    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem))
        |  WHERE rk <= 64),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v,
        |         COUNT(*) AS c
        |  FROM lines a JOIN lines b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT u, v, c FROM pairs UNION ALL SELECT v, u, c FROM pairs),
        |w AS (SELECT u, v, (1000000 // c) + 1 AS w FROM sym),
        |pruned AS (
        |  SELECT u, v, w FROM (
        |    SELECT u, v, w, ROW_NUMBER() OVER (PARTITION BY u ORDER BY w, v) AS rk
        |    FROM w) WHERE rk <= 8),
        |deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
        |src AS (SELECT u AS node FROM deg ORDER BY d DESC, u LIMIT 3),
        |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM src),
        |d1 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT node, dist FROM d0 UNION ALL
        |  SELECT p.v, d0.dist + p.w FROM pruned p JOIN d0 ON p.u = d0.node)
        |  GROUP BY node),
        |d2 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT node, dist FROM d1 UNION ALL
        |  SELECT p.v, d1.dist + p.w FROM pruned p JOIN d1 ON p.u = d1.node)
        |  GROUP BY node),
        |d3 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT node, dist FROM d2 UNION ALL
        |  SELECT p.v, d2.dist + p.w FROM pruned p JOIN d2 ON p.u = d2.node)
        |  GROUP BY node),
        |d4 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT node, dist FROM d3 UNION ALL
        |  SELECT p.v, d3.dist + p.w FROM pruned p JOIN d3 ON p.u = d3.node)
        |  GROUP BY node)
        |SELECT node AS partkey, CAST(dist AS BIGINT) AS dist_micro
        |FROM d4 ORDER BY dist_micro, partkey""".stripMargin),
    "q_link_predict" -> (qLinkPredict _,
      s"""WITH ${edgeCtes("e")},
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |focus AS (
        |  SELECT src AS qn, d AS d_q FROM deg ORDER BY d DESC, src LIMIT 25),
        |cand AS (
        |  SELECT f.qn, f.d_q, e2.dst AS c, COUNT(*) AS cn
        |  FROM focus f JOIN e e1 ON e1.src = f.qn
        |  JOIN e e2 ON e2.src = e1.dst
        |  WHERE e2.dst <> f.qn
        |  GROUP BY f.qn, f.d_q, e2.dst),
        |nonadj AS (
        |  SELECT cd.* FROM cand cd
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = cd.qn AND e.dst = cd.c)),
        |scored AS (
        |  SELECT n.qn, n.c, n.cn,
        |         CAST(n.cn AS DOUBLE) / CAST(n.d_q + dc.d - n.cn AS DOUBLE) AS jac_raw,
        |         ROW_NUMBER() OVER (PARTITION BY n.qn
        |           ORDER BY CAST(n.cn AS DOUBLE) / CAST(n.d_q + dc.d - n.cn AS DOUBLE) DESC,
        |                    n.c) AS rk
        |  FROM nonadj n JOIN deg dc ON dc.src = n.c)
        |SELECT qn, c, cn, ROUND(jac_raw, 6) AS jaccard, rk
        |FROM scored WHERE rk <= 5
        |ORDER BY qn, rk""".stripMargin),
    "q_khop" -> (qKhop _,
      s"""WITH ${edgeCtes("e")},
        |s AS (SELECT DISTINCT src AS node FROM e WHERE src % 1000 = 0),
        |h1 AS (
        |  SELECT DISTINCT e.dst AS node FROM e JOIN s ON e.src = s.node
        |  WHERE e.dst NOT IN (SELECT node FROM s)),
        |h2 AS (
        |  SELECT DISTINCT e.dst AS node FROM e JOIN h1 ON e.src = h1.node
        |  WHERE e.dst NOT IN (SELECT node FROM s UNION SELECT node FROM h1)),
        |h3 AS (
        |  SELECT DISTINCT e.dst AS node FROM e JOIN h2 ON e.src = h2.node
        |  WHERE e.dst NOT IN (SELECT node FROM s UNION SELECT node FROM h1
        |                      UNION SELECT node FROM h2))
        |SELECT * FROM (
        |  SELECT 0 AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM s
        |  UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT) FROM h1
        |  UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT) FROM h2
        |  UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT) FROM h3
        |) ORDER BY hop""".stripMargin),
    "q_pagerank" -> (qPagerank _,
      s"""WITH ${edgeCtes("e")},
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |r0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r FROM e),
        |r1 AS (
        |  SELECT e.dst AS node, 150000 + (85 * SUM(r.r // d.d)) // 100 AS r
        |  FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT e.dst AS node, 150000 + (85 * SUM(r.r // d.d)) // 100 AS r
        |  FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT e.dst AS node, 150000 + (85 * SUM(r.r // d.d)) // 100 AS r
        |  FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst)
        |SELECT node AS partkey, CAST(r AS BIGINT) AS rank_micro
        |FROM r3 ORDER BY r DESC, node LIMIT 100""".stripMargin),
    "q_triangle" -> (qTriangle _,
      s"""WITH ${edgeCtes("e")},
        |${triangleCtes(apexMod = 1)},
        |corners AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri),
        |t AS (SELECT node, COUNT(*) AS triangles FROM corners GROUP BY node)
        |SELECT t.node AS partkey, d.d AS degree, t.triangles,
        |       ROUND(2.0 * t.triangles / (d.d * (d.d - 1)), 6) AS clustering
        |FROM t JOIN deg d ON t.node = d.node
        |ORDER BY t.triangles DESC, t.node LIMIT 100""".stripMargin),
    "q_triangle_cert" -> (qTriangleCert _,
      s"""WITH ${edgeCtes("e")},
        |${triangleCtes(apexMod = 8)}
        |SELECT c % 16 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_triangles,
        |       CAST(SUM(a) AS BIGINT) AS sum_a,
        |       CAST(SUM(b) AS BIGINT) AS sum_b,
        |       CAST(SUM(c) AS BIGINT) AS sum_c,
        |       CAST(SUM((a * 1009 + b * 31 + c) % 1000000007) AS BIGINT) AS chk
        |FROM tri GROUP BY 1 ORDER BY bucket""".stripMargin),
  )

  /** Shared orientation + wedge + close CTE chain (und/deg/o/tri) over an
    * `e` edge CTE — the SQL twin of [[triangleParts]], interpolated by
    * both the q_triangle and q_triangle_cert oracles. `apexMod` > 1
    * restricts the wedge apex exactly like the Spark side, cutting the
    * oracle's wedge volume by the slice factor (what makes the cert
    * feasible for the single-process oracle at sf1.0). */
  private def triangleCtes(apexMod: Int): String = {
    val apexPred = if (apexMod > 1) s" AND e1.u % $apexMod = 0" else ""
    s"""und AS (SELECT src, dst FROM e WHERE src < dst),
      |deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY src),
      |o AS MATERIALIZED (
      |  SELECT CASE WHEN ds.d < dd.d OR (ds.d = dd.d AND u.src < u.dst)
      |              THEN u.src ELSE u.dst END AS u,
      |         CASE WHEN ds.d < dd.d OR (ds.d = dd.d AND u.src < u.dst)
      |              THEN u.dst ELSE u.src END AS v
      |  FROM und u JOIN deg ds ON u.src = ds.node JOIN deg dd ON u.dst = dd.node),
      |tri AS MATERIALIZED (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v$apexPred
      |  WHERE EXISTS (SELECT 1 FROM e WHERE e.src = e1.v AND e.dst = e2.v))"""
      .stripMargin
  }
}
