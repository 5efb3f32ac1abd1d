package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  test("integer pagerank matches an independent in-memory fixed-point computation") {
    val got = Graph.qPagerank(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))

    // independent reference: same recurrence, plain Scala maps
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.toSeq.groupBy(_._1).values.toSeq.flatMap { grp =>
      val ps = grp.map(_._2).distinct
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = edges.map(_._1)
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.HashMap.empty[Long, Long]
      edges.foreach { case (s, d) =>
        contrib(d) = contrib.getOrElse(d, 0L) + r(s) / deg(s)
      }
      r = contrib.map { case (n, c) => n -> (150000L + 85L * c / 100L) }.toMap
    }
    val want = r.toSeq.sortBy { case (n, v) => (-v, n) }.take(100)
    assert(got.toSeq == want, "exact integer arithmetic must agree term for term")
  }

  test("pagerank ranks are positive and the hub ordering is tie-broken") {
    val rows = Graph.qPagerank(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) > 0))
    val pairs = rows.map(r => (r.getLong(1), r.getLong(0)))
    assert(pairs.sliding(2).forall {
      case Array((r1, n1), (r2, n2)) => r1 > r2 || (r1 == r2 && n1 < n2)
      case _ => true
    }, "descending rank, ascending node on ties")
  }

  test("degree-oriented triangle counts match an in-memory adjacency count") {
    val got = Graph.qTriangle(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    // independent reference: brute-force common-neighbor intersection
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.toSeq.groupBy(_._1).values.toSeq.flatMap { grp =>
      val ps = grp.map(_._2).distinct
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val triPerNode = scala.collection.mutable.HashMap.empty[Long, Long]
    for ((a, b) <- edges if a < b; c <- adj(a).intersect(adj(b)) if c > b) {
      // each unordered triangle visited once: a < b < c by id
      Seq(a, b, c).foreach(n => triPerNode(n) = triPerNode.getOrElse(n, 0L) + 1)
    }
    val want = triPerNode.toSeq
      .map { case (n, t) =>
        val d = deg(n)
        (n, d, t, BigDecimal(2.0 * t / (d * (d - 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (n, _, t, _) => (-t, n) }.take(100)
    assert(got.toSeq == want, "triangle counts must agree exactly per node")
  }

  test("link prediction matches an in-memory common-neighbor/Jaccard ranking") {
    val got = Graph.qLinkPredict(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))

    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.toSeq.groupBy(_._1).values.toSeq.flatMap { grp =>
      val ps = grp.map(_._2).distinct
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val focus = deg.toSeq.sortBy { case (n, d) => (-d, n) }.take(25)
    val want = focus.flatMap { case (qn, dq) =>
      val cn = scala.collection.mutable.HashMap.empty[Long, Long]
      for (m <- adj(qn); c <- adj(m) if c != qn) cn(c) = cn.getOrElse(c, 0L) + 1
      cn.toSeq
        .filterNot { case (c, _) => adj(qn).contains(c) }
        .map { case (c, n) => (c, n, n.toDouble / (dq + deg(c) - n).toDouble) }
        .sortBy { case (c, _, j) => (-j, c) }
        .take(5).zipWithIndex
        .map { case ((c, n, j), i) =>
          (qn, c, n, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble, i + 1) }
    }
    assert(got.toSeq.sortBy(t => (t._1, t._5)) == want.sortBy(t => (t._1, t._5)),
      "common-neighbor counts, Jaccard, and the top-5 ranking must agree")
    // every predicted pair must genuinely be a non-edge
    assert(got.forall { case (q, c, _, _, _) => !adj(q).contains(c) })
  }

  /** Thresholded co-purchase pairs (≥ 2 distinct common orders) with their
    * counts — the shared input of q_graph_cc / q_shortest_path. */
  private def strongPairs: Map[(Long, Long), Long] = {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val orders = scala.collection.mutable.HashMap.empty[(Long, Long), Set[Long]]
    li.groupBy(_._1).foreach { case (ok, grp) =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) {
        val k = (ps(i), ps(j))
        orders(k) = orders.getOrElse(k, Set.empty) + ok
      }
    }
    orders.collect { case (k, os) if os.size >= 2 => k -> os.size.toLong }.toMap
  }

  test("large-star/small-star components match an in-memory union-find") {
    val got = Graph.qGraphCc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val pairs = strongPairs.keySet
    val par = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (par.getOrElse(r, r) != r) { par(r) = par.getOrElse(par(r), par(r)); r = par(r) }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) par(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }
    val comp = nodes.groupBy(find).flatMap { case (_, ns) =>
      val m = ns.min; ns.map(_ -> m)
    }
    val want = comp.toSeq.map { case (n, c) => (n, c, n == c) }
      .sortBy { case (n, c, _) => (c, n) }
    assert(got.toSeq == want, "every node must map to its component minimum")
    // star property: every component has exactly one root
    assert(got.count(_._3) == got.map(_._2).distinct.length)
  }

  test("sync LPA communities match an in-memory 3-round replay; communities refine components") {
    val got = Graph.qCommunityLpa(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sym = strongPairs.keySet.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lbl = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(lbl).view.mapValues(_.size).toSeq
        n -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val want = lbl.groupBy(_._2).toSeq
      .map { case (c, ns) => (c, ns.size.toLong, ns.keys.min) }
      .sortBy(_._1)
    assert(got.toSeq == want, "sync argmax-with-min-tie labels must replay exactly")
    // refinement: every LPA community lives inside one connected component
    val par = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (par.getOrElse(r, r) != r) { par(r) = par.getOrElse(par(r), par(r)); r = par(r) }
      r
    }
    strongPairs.keySet.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) par(math.max(ra, rb)) = math.min(ra, rb)
    }
    lbl.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(find).toSet.size == 1,
        "a community must never span two components")
    }
  }

  test("bounded weighted shortest paths match an in-memory 4-round relaxation") {
    val got = Graph.qShortestPath(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sym = strongPairs.toSeq.flatMap { case ((a, b), c) =>
      Seq((a, b, c), (b, a, c))
    }
    val weighted = sym.map { case (u, v, c) => (u, v, 1000000L / c + 1) }
    val pruned = weighted.groupBy(_._1).values.flatMap { es =>
      es.sortBy { case (_, v, w) => (w, v) }.take(8)
    }.toSeq
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val sources = deg.toSeq.sortBy { case (n, d) => (-d, n) }.take(3).map(_._1)
    var dist = sources.map(_ -> 0L).toMap
    for (_ <- 1 to 4) {
      val relaxed = pruned.collect {
        case (u, v, w) if dist.contains(u) => v -> (dist(u) + w)
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, xs) => n -> xs.map(_._2).min }
    }
    assert(got == dist, "bounded Bellman-Ford distances must agree exactly")
    assert(sources.forall(s => got(s) == 0L))
  }

  test("k-hop reach matches an in-memory BFS; hop sets are disjoint and exhaustive") {
    val got = Graph.qKhop(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
    li.groupBy(_._1).values.foreach { grp =>
      val parts = grp.map(_._2).distinct
      for (a <- parts; b <- parts if a != b)
        adj(a) = adj.getOrElse(a, Set.empty) + b
    }
    val seeds = adj.keySet.filter(_ % 1000 == 0).toSet
    var visited = seeds
    var frontier = seeds
    val want = scala.collection.mutable.Map(0 -> seeds.size.toLong)
    for (h <- 1 to 3) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- visited
      want(h) = next.size.toLong
      visited ++= next
      frontier = next
    }
    assert(got == want.toMap.map { case (k, v) => k -> v })
    assert(got(0) == seeds.size.toLong && got.values.sum <= adj.keySet.size.toLong)
  }

  test("powerlaw: degree-histogram MLE replays; alpha above 1 by construction") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
    li.groupBy(_._1).values.foreach { grp =>
      val parts = grp.map(_._2).distinct
      for (a <- parts; b <- parts if a != b)
        deg(a) = deg.getOrElse(a, Set.empty) + b
    }
    val hist = deg.view.mapValues(_.size.toLong).values
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val n = hist.map(_._2).sum
    val nEdges = hist.map { case (d, k) => d * k }.sum
    val sPpm = hist.map { case (d, k) =>
      math.floor(k.toDouble * math.log(2.0 * d.toDouble) * 1000000 + 0.5).toLong }.sum
    val alphaPpm = 1000000L + 1000000000000L * n / sPpm
    val got = Graph.qPowerlaw(spark, sf).collect()
    assert(got.length == 1)
    assert((got(0).getLong(0), got(0).getLong(1), got(0).getLong(2),
      got(0).getLong(3), got(0).getLong(4)) ==
      ((n, hist.map(_._1).max, nEdges, sPpm, alphaPpm)))
    assert(got(0).getLong(4) > 1000000L, "MLE alpha is strictly above 1")
  }

  test("random walk: md5-argmin trajectory replays an in-memory walk; edges respected") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
    li.groupBy(_._1).values.foreach { grp =>
      val parts = grp.map(_._2).distinct
      for (a <- parts; b <- parts if a != b)
        adj(a) = adj.getOrElse(a, Set.empty) + b
    }
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seeds = adj.keySet.filter(_ % 250 == 0).toSeq.sorted
    val want = seeds.flatMap { w =>
      var node = w
      (w, 0L, w) +: (1 to 3).map { s =>
        node = adj(node).map(v => (md5hex(s"$s:$node:$v"), v)).min._2
        (w, s.toLong, node)
      }
    }.sortBy(t => (t._1, t._2))
    val got = Graph.qRandomWalk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, "walk trajectories must replay hash-pick for hash-pick")
    // every transition is a real edge
    got.groupBy(_._1).values.foreach { steps =>
      val path = steps.sortBy(_._2).map(_._3)
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(adj(a).contains(b), s"step $a -> $b is not an edge") }
    }
  }

  test("hits: authorities/hubs replay the integer iterations in plain Scala") {
    val rows = graft.ops.Graph.qHits(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = (for {
      (o1, p1) <- li; (o2, p2) <- li
      if o1 == o2 && p1 != p2
    } yield (p1, p2)).distinct
    var h = edges.flatMap(e => Seq(e._1, e._2)).distinct.map(_ -> 1024L).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 2) {
      a = edges.filter(e => h.contains(e._1)).groupBy(_._2)
        .map { case (n, es) => n -> es.map(e => h(e._1)).sum / 1024 }
      h = edges.filter(e => a.contains(e._2)).groupBy(_._1)
        .map { case (n, es) => n -> es.map(e => a(e._2)).sum / 1024 }
    }
    rows.foreach { r =>
      val n = r.getLong(0)
      assert(r.getLong(1) == a.getOrElse(n, 0L), s"authority of $n")
      assert(r.getLong(2) == h.getOrElse(n, 0L), s"hub of $n")
    }
    // output is the top-100 by (authority desc, node)
    val top = (a.keySet ++ h.keySet).toSeq
      .map(n => (n, a.getOrElse(n, 0L))).sortBy { case (n, av) => (-av, n) }
      .take(100).map(_._1)
    assert(rows.map(_.getLong(0)).toSeq == top)
  }

  test("kcore: round census matches an in-memory peel; curve is monotone") {
    val rows = graft.ops.Graph.qKcore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toList == List(1L, 2L, 3L))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var edges = (for { (o1, p1) <- li; (o2, p2) <- li if o1 == o2 && p1 != p2 }
      yield (p1, p2)).distinct
    val census = (1 to 3).map { _ =>
      val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= 3).keySet
      edges = edges.filter(e => keep(e._1) && keep(e._2))
      (edges.map(_._1).distinct.length.toLong, edges.length.toLong)
    }
    rows.zip(census).foreach { case ((_, n, m), (wn, wm)) =>
      assert(n == wn && m == wm)
    }
    assert(rows.map(_._2).toList == rows.map(_._2).sorted.reverse.toList, "node curve monotone")
  }

  test("hot-basket guard: a planted 10k-line mega-order is capped at C(64,2) pairs") {
    import spark.implicits._
    val mega  = (1L to 10000L).map(p => (1L, p))       // one 10k-part order
    val small = Seq((2L, 100001L), (2L, 100002L), (2L, 100003L))
    val dup   = Seq((2L, 100002L))                     // duplicate line must not displace a part
    val lines = (mega ++ small ++ dup).toDF("l_orderkey", "l_partkey")
    val pairs = Graph.basketPairs(lines)
    // the self-pairs list each order's capped basket once (the two orders'
    // parts are disjoint)
    val basket = pairs.filter($"src" === $"dst").collect().map(_.getLong(0)).toSeq
    assert(basket.count(_ <= 10000L) == Graph.MaxBasketLines, "mega-order clamped to the cap")
    assert(basket.filter(_ > 10000L).sorted == Seq(100001L, 100002L, 100003L),
      "normal baskets pass through untouched, duplicates dropped")
    assert(basket.filter(_ <= 10000L).sorted == (1L to Graph.MaxBasketLines.toLong),
      "deterministic: the cap keeps the SMALLEST partkeys")
    val cap = Graph.MaxBasketLines.toLong
    assert(pairs.filter($"src" =!= $"dst").distinct().count() == cap * (cap - 1) + 3L * 2L,
      "directed pair fanout bounded at cap*(cap-1) per order")
  }

  test("a NULL part never takes a cap slot: in a 70-part order part #64 is kept") {
    import spark.implicits._
    val lines = ((1L to 70L).map(p => (7L, Option(p))) :+ ((7L, Option.empty[Long])))
      .toDF("l_orderkey", "l_partkey")
    val pairs = Graph.basketPairs(lines).collect()
    assert(pairs.forall(r => !r.isNullAt(0) && !r.isNullAt(1)), "the NULL part never pairs")
    val parts = pairs.map(_.getLong(0)).toSet
    assert(parts == (1L to Graph.MaxBasketLines.toLong).toSet,
      s"the cap keeps the 64 smallest non-NULL parts, #64 included: ${parts.toSeq.sorted}")
  }

  test("basket pairs equal an in-memory self-join of the capped baskets") {
    import spark.implicits._
    val lines: Seq[(Option[Long], Option[Long])] =
      (1L to 10000L).map(p => (Some(1L), Some(p))) ++         // 10k mega-order
      Seq(2L, 4L, 3L, 4L, 2L).map(p => (Some(2L), Some(p))) ++ // duplicate lines
      Seq((Some(3L), Some(8L))) ++                             // single-part order
      Seq((None, Some(5L)), (None, Some(6L))) ++               // NULL order key
      Seq(5L, 8L, 12L, 13L, 16L).map(p => (Some(4L), Some(p)))
    val df = lines.toDF("l_orderkey", "l_partkey")
    def want(keep: Long => Boolean): Seq[(Long, Long)] =
      lines.collect { case (Some(o), Some(p)) => (o, p) }.groupBy(_._1).values.toSeq
        .flatMap { ls =>
          val basket = ls.map(_._2).distinct.sorted.take(Graph.MaxBasketLines).filter(keep)
          for (a <- basket; b <- basket) yield (a, b)
        }.sorted
    def got(pairs: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got(Graph.basketPairs(df)) == want(_ => true))
    // the node predicate narrows AFTER the cap: the mega-order keeps the
    // multiples of 4 among its 64 smallest parts, not the 64 smallest
    // multiples of 4
    val mod4 = got(Graph.basketPairs(df, Some(_ % 4 === 0)))
    assert(mod4 == want(_ % 4 == 0))
    assert(mod4.exists(_._1 == 64L) && !mod4.exists(_._1 == 68L))
  }

  test("k-core peel: a K4 core with pendant chains loses nodes in every round") {
    import spark.implicits._
    // core K4 on 1..4; a chain of length L hangs off core node 1 and ends
    // in a leaf, every chain node also tied to one more core node, so it
    // has degree 3 until its outer neighbor goes: round 1 drops the
    // leaves, round 2 the chains' last nodes, round 3 the next ones
    val core = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    def chain(base: Long, len: Int): Seq[(Long, Long)] = {
      val nodes = (1 to len).map(base + _) :+ (base + 9L) // the last one is the leaf
      (1L +: nodes).sliding(2).map(p => (p(0), p(1))).toSeq ++
        nodes.init.map(n => (2L + n % 3, n))
    }
    val und = core ++ chain(10L, 1) ++ chain(20L, 2) ++ chain(30L, 3)
    var e = (und ++ und.map(_.swap)).toSet
    val want = (1 to 3).map { round =>
      val keep = e.groupBy(_._1).collect { case (n, es) if es.size >= 3 => n }.toSet
      val next = e.filter { case (s, d) => keep(s) && keep(d) }
      assert(next.map(_._1).size < e.map(_._1).size, s"round $round must remove nodes")
      e = next
      (round.toLong, e.map(_._1).size.toLong, e.size.toLong,
        e.toSeq.map(_._1).sum, e.toSeq.map(_._2).sum)
    }
    val got = Graph.kcorePeel(und.flatMap(p => Seq(p, p.swap)).toDF("src", "dst"))
      .orderBy("round").collect()
      .map(r => (r.getAs[Long]("round"), r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
        r.getAs[Long]("sum_src"), r.getAs[Long]("sum_dst"))).toSeq
    assert(got == want, s"got $got\nwant $want")
  }

  test("edge-probe kills: bloom regime returns exactly the broadcast regime's rows") {
    import spark.implicits._
    // packed keys 1..400 present; probes hit half of them plus misses
    val eKeys = (1L to 400L).toDF("_ek")
    val probe = (1L to 800L).map(i => (i * 3 % 1000, i)).toDF("_ek", "payload")
    def sortRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    // limit = Long.MaxValue -> broadcast path; limit = 0 -> bloom + chunked
    // exact close at the 64-chunk cap; limit = 300 -> the realistic shape,
    // ceil(400/150) = 3 chunks of ~133 keys each
    val semiB = sortRows(Graph.edgeSemiKill(probe, eKeys, 400L, Long.MaxValue))
    val semiS = sortRows(Graph.edgeSemiKill(probe, eKeys, 400L, 0L))
    val semi3 = sortRows(Graph.edgeSemiKill(probe, eKeys, 400L, 300L))
    assert(semiB == semiS && semiB.nonEmpty,
      "bloom + chunked broadcast semi close must lose nothing and add nothing")
    assert(semiB == semi3,
      "a 3-chunk key split must partition the matches exactly")
    val antiB = sortRows(Graph.edgeAntiKill(probe, eKeys, 400L, Long.MaxValue))
    val antiS = sortRows(Graph.edgeAntiKill(probe, eKeys, 400L, 0L))
    assert(antiB == antiS && antiB.nonEmpty,
      "candidate-bloom-pruned anti join must keep exactly the non-edges")
    assert((semiB.map(_._2) ++ antiB.map(_._2)).sorted == probe.collect()
      .map(_.getLong(1)).sorted.toSeq, "semi and anti partition the probe")
  }

  test("lpa planted hub: a degree-5000 hub streams through its window and replays exactly") {
    import spark.implicits._
    val hub = 0L
    val leaves = 1L to 5000L
    val symSeq = leaves.map(l => (hub, l)) ++ leaves.map(l => (l, hub))
    val got = Graph.lpaFromSym(symSeq.toDF("u", "v"), 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = symSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to 2) {
      lbl = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(lbl).view.mapValues(_.size).toSeq
        n -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got == lbl, "hub label census (5000 rows in ONE window partition) must replay exactly")
  }

  test("degree assortativity: planted star is exactly -1; regular graph is NULL") {
    import spark.implicits._
    // two baskets {1,2} and {1,3}: part 1 is the hub (deg 2), 2 and 3 are
    // leaves (deg 1) — a pure star, whose assortativity is -1 by hand:
    // edges with (dx,dy) = (2,1)x2 and (1,2)x2 → m=4, Σd=6, Σd²=10, Σxy=8,
    // num = 4·8−36 = −4, den = √((4·10−36)²) = 4 → r = −1.
    val d = java.nio.file.Files.createTempDirectory("assort").toString
    Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val r = Graph.qDegreeAssort(spark, d).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 6L, 8L, 10L)))
    assert(r.getDouble(4) == -1.0)

    // one basket {1,2}: both endpoints degree 1 → zero variance → NULL,
    // not a 0/0 NaN (which the two engines would disagree on).
    val d2 = java.nio.file.Files.createTempDirectory("assort2").toString
    Seq((10L, 1L), (10L, 2L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$d2/lineitem.parquet")
    val r2 = Graph.qDegreeAssort(spark, d2).collect()(0)
    assert(r2.getLong(0) == 2L && r2.isNullAt(4))
  }

  test("modularity: two planted 3-cliques score Q = 0.5 exactly") {
    import spark.implicits._
    // strong edges need ≥ 2 co-occurring orders per pair: 2 orders per
    // clique pair. Two disjoint triangles {1,2,3} and {4,5,6} → LPA
    // settles on the min label per clique; sym m = 12, per community
    // intra = 6, d_c = 6 → contrib = ⌊10⁶·6/12⌋ − ⌊10⁶·36/144⌋ = 250000,
    // Q = 500000 ppm — the textbook 0.5 of two equal disconnected cliques.
    val d = java.nio.file.Files.createTempDirectory("modularity").toString
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
    pairs.zipWithIndex.flatMap { case ((u, v), i) =>
      Seq((2L * i, u), (2L * i, v), (2L * i + 1, u), (2L * i + 1, v))
    }.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val got = Graph.qGraphModularity(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      (1L, 3L, 6L, 6L, 250000L, 12L, 500000L),
      (4L, 3L, 6L, 6L, 250000L, 12L, 500000L)))
  }
}
