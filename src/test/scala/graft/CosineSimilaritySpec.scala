package graft

import graft.functions.CosineSimilarity
import graft.ops.Similarity
import org.apache.spark.sql.functions._

class CosineSimilaritySpec extends SparkSpec {

  test("native expression equals the HOF formulation bit-for-bit") {
    val hof = Similarity.qCosineTopk(spark, sf).collect()
    val native = Similarity.qCosineTopkNative(spark, sf).collect()
    assert(hof.length == native.length)
    hof.zip(native).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getAs[Double]("cosine") == b.getAs[Double]("cosine"))
    }
  }

  test("known values: parallel=1, orthogonal=0, antiparallel=-1; zero-norm=null") {
    import spark.implicits._
    val df = Seq(
      ("par",  Array(1f, 2f, 3f), Array(2f, 4f, 6f)),
      ("orth", Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      ("anti", Array(1f, 2f, 0f), Array(-1f, -2f, 0f)),
      ("zero", Array(0f, 0f, 0f), Array(1f, 2f, 3f)),
    ).toDF("name", "a", "b").withColumn("cos", expr("cosine_sim(a, b)"))
    val m = df.collect().map(r => r.getString(0) -> Option(r.get(3))).toMap
    assert(math.abs(m("par").get.asInstanceOf[Double] - 1.0) < 1e-12)
    assert(math.abs(m("orth").get.asInstanceOf[Double]) < 1e-12)
    assert(math.abs(m("anti").get.asInstanceOf[Double] + 1.0) < 1e-12)
    assert(m("zero").isEmpty)
  }

  test("length mismatch and null elements yield NULL, matching zip_with") {
    import spark.implicits._
    val df = Seq(
      ("short", Array(1f, 2f), Array(1f, 2f, 3f)),
      ("ok",    Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
    ).toDF("name", "a", "b")
      .union(Seq(("nullelem", Array[java.lang.Float](1f, null, 3f).map(identity),
        Array[java.lang.Float](1f, 2f, 3f).map(identity)))
        .toDF("name", "a", "b"))
      .withColumn("native", expr("cosine_sim(a, b)"))
      // the HOF contract being matched: zip_with pads/propagates NULL
      .withColumn("hof", expr(
        """CASE WHEN size(a) != size(b) THEN CAST(NULL AS DOUBLE) ELSE
          |aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (s, v) -> s + v)
          |/ (sqrt(aggregate(a, 0.0D, (s, v) -> s + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
          |  * sqrt(aggregate(b, 0.0D, (s, v) -> s + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) END""".stripMargin))
    val m = df.collect().map(r => r.getString(0) -> (Option(r.get(3)), Option(r.get(4)))).toMap
    assert(m("short")._1.isEmpty, "length mismatch must be NULL")
    assert(m("nullelem")._1.isEmpty, "null element must be NULL")
    assert(m("nullelem")._2.isEmpty, "HOF contract: null element poisons the sum")
    assert(m("ok")._1 == m("ok")._2, "happy path must still match the HOF value")
  }

  test("expression participates in whole-stage codegen") {
    val df = Tables.embeddings(spark, sf)
      .withColumn("c", expr("cosine_sim(embedding, embedding)"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan.take(400))
  }

  test("knn join's list for qid 0 equals the single-query top-k head") {
    import org.apache.spark.sql.functions._
    val knn0 = graft.ops.Similarity.qKnnJoin(spark, sf)
      .filter(col("qid") === 0).orderBy(col("rk")).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    val topk = graft.ops.Similarity.qCosineTopk(spark, sf)
      .limit(5).collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(knn0.sameElements(topk),
      s"qid 0 neighbors ${knn0.toSeq} != single-query head ${topk.toSeq}")
  }

  test("wrong arity raises a clear error") {
    val e = intercept[Exception] {
      Tables.embeddings(spark, sf).withColumn("c", expr("cosine_sim(embedding)")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("cosine_sim") ||
      e.getMessage.contains("2 arguments"))
  }

  test("jl_projection: integer projection and both distances replay exactly in the driver") {
    val rows = Tables.embeddings(spark, sf)
      .filter(expr("vec_id % 40 = 0 AND vec_id < 2560") && size(col("embedding")) === 64)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sgn(i: Int, k: Int): Long = {
      val hex = md.digest(s"jl:$i:$k".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (hex.charAt(0) < '8') 1L else -1L
    }
    val m = rows.map { case (id, e) =>
      id -> e.map(x => math.floor(x.toDouble * 1000000 + 0.5).toLong) }.toMap
    val p = rows.map { case (id, _) =>
      id -> (0 until 16).map(k => (0 until 64).map(i => m(id)(i) * sgn(i, k)).sum).toArray
    }.toMap
    val got = Similarity.qJlProjection(spark, sf).collect()
    assert(got.nonEmpty, "serving batch must yield pairs at every sf")
    got.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val dOrig = (0 until 64).map(i => { val d = m(a)(i) - m(b)(i); d * d }).sum
      val dProj = (0 until 16).map(k => { val d = p(a)(k) - p(b)(k); d * d }).sum
      assert(r.getLong(2) == dOrig && r.getLong(3) == dProj, s"pair ($a,$b)")
      assert(r.getLong(4) ==
        math.floor(dProj.toDouble * 1000000 / (16.0 * dOrig.toDouble) + 0.5).toLong)
    }
    // the JL property itself: mean pairwise ratio concentrates near 1.
    // Deterministic (fixed data, fixed md5 signs) — not a statistical gate.
    val mean = got.map(_.getLong(4)).sum.toDouble / got.length
    assert(mean > 700000 && mean < 1300000, s"mean ratio_ppm $mean off the JL band")
  }

  test("kmeans: two Lloyd iterations replay exactly; inertia never increases") {
    val vecs = Tables.embeddings(spark, sf)
      .filter(size(col("embedding")) === 64)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000000 + 0.5).toLong).toArray)
      .sortBy(_._1)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => { val d = a(i) - b(i); d * d }).sum
    val c0 = vecs.sortBy { case (id, _) => (md5hex(s"km:$id"), id) }.take(8)
      .zipWithIndex.map { case ((_, m), i) => i.toLong -> m }.toMap
    def assign(cents: Map[Long, Array[Long]]) = vecs.map { case (id, m) =>
      val (cid, d) = cents.toSeq.map { case (c, cm) => (c, d2(m, cm)) }
        .minBy { case (c, dd) => (dd, c) }
      (id, m, cid, d)
    }
    def update(a: Seq[(Long, Array[Long], Long, Long)]) =
      a.groupBy(_._3).map { case (cid, xs) =>
        cid -> Array.tabulate(64) { i =>
          val s = xs.map(_._2(i)).sum; val n = xs.length
          (s + 2000000L * n) / n - 2000000L
        }
      }
    val a1 = assign(c0); val c1 = update(a1)
    val a2 = assign(c1); val c2 = update(a2)
    val want = a2.groupBy(_._3).toSeq.map { case (cid, xs) =>
      (cid, xs.length.toLong, xs.map(_._1).sum, xs.map(_._4).sum,
        c2(cid).zipWithIndex.map { case (x, j) => x * (j + 1) }.sum)
    }.sortBy(_._1)
    val got = Similarity.qKmeans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == want, "per-cluster census after 2 Lloyd iterations must replay")
    // Lloyd monotonicity: J(a2, c1) <= J(a1, c0)
    assert(a2.map(_._4).sum <= a1.map(_._4).sum, "inertia must not increase")
  }

  test("kcenter: greedy farthest-point trajectory replays exactly; radii non-increasing") {
    val vecs = Tables.embeddings(spark, sf)
      .filter(size(col("embedding")) === 64)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000000 + 0.5).toLong).toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => { val d = a(i) - b(i); d * d }).sum
    val byId = vecs.toMap
    var centers = List(vecs.head._1)
    var mind = vecs.map { case (id, m) => id -> d2(m, byId(centers.head)) }.toMap
    val want = scala.collection.mutable.Buffer((0L, vecs.head._1, 0L))
    for (i <- 1 until 8) {
      val (pid, pd) = mind.toSeq.maxBy { case (id, d) => (d, -id) }
      want += ((i.toLong, pid, pd))
      centers ::= pid
      mind = mind.map { case (id, d) => id -> math.min(d, d2(byId(id), byId(pid))) }
    }
    val got = Similarity.qKcenter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want.toSeq, "greedy trajectory must replay pick for pick")
    val radii = got.drop(1).map(_._3)
    assert(radii == radii.sorted.reverse, "covering radius never increases")
  }
}
