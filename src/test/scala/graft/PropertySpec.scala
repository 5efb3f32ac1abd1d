package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic laws over generated data (SURVEY.md §5.2): properties that must
  * hold for ANY input, not just the fixtures — filter fusion, union
  * cardinality, dedup idempotence, cosine bounds/symmetry, fillna totality.
  * (Raw ScalaCheck generators sampled under a fixed seed — the
  * scalatestplus bridge isn't on the offline classpath.)
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session

  /** Deterministically sample `gen` n times and assert the property. */
  private def forAllSamples[A](gen: Gen[A], n: Int = 12)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    (1 to n).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }
  private def forAllSamples2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAllSamples(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private val rows = Gen.listOfN(40, Gen.zip(
    Gen.chooseNum(0L, 20L), Gen.chooseNum(-100.0, 100.0),
    Gen.oneOf("a", "b", "c", "")))

  private def df(data: List[(Long, Double, String)]) = {
    val s = spark
    import s.implicits._
    data.toDF("k", "v", "tag")
  }

  test("filter(p && q) == filter(p).filter(q)") {
    forAllSamples(rows) { data =>
      val d = df(data)
      val fused = d.filter(col("v") > 0 && col("tag") =!= "").count()
      val chained = d.filter(col("v") > 0).filter(col("tag") =!= "").count()
      assert(fused == chained)
    }
  }

  test("unionAll cardinality adds; dedup is idempotent") {
    forAllSamples2(rows, rows) { (a, b) =>
      val (da, db) = (df(a), df(b))
      assert(da.unionByName(db).count() == a.size + b.size)
      val once = da.dropDuplicates("k")
      assert(once.dropDuplicates("k").count() == once.count())
      assert(once.count() == a.map(_._1).distinct.size)
    }
  }

  test("coalesce-to-zero never leaves nulls and preserves row count (R6 law)") {
    forAllSamples(rows) { data =>
      val d = df(data).withColumn("nv",
        when(col("tag") === "", lit(null).cast("double")).otherwise(col("v")))
      val filled = d.withColumn("nv", coalesce(col("nv"), lit(0.0)))
      assert(filled.count() == data.size)
      assert(filled.filter(col("nv").isNull).count() == 0)
    }
  }

  test("cosine_sim is symmetric, bounded, and 1 on self (non-zero vectors)") {
    val vecs = Gen.listOfN(8, Gen.listOfN(6, Gen.chooseNum(-5f, 5f)))
    forAllSamples(vecs, 6) { vs =>
      val nonZero = vs.filter(_.exists(_ != 0f))
      if (nonZero.size >= 2) {
        val s = spark
        import s.implicits._
        val d = nonZero.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
          .toDF("id", "vec")
        val pairs = d.as("x").crossJoin(d.as("y"))
          .select(col("x.id").as("i"), col("y.id").as("j"),
            expr("cosine_sim(x.vec, y.vec)").as("c"))
          .collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
        pairs.foreach { case ((i, j), c) =>
          assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
          assert(math.abs(c - pairs((j, i))) < 1e-12, "symmetry")
          if (i == j) assert(math.abs(c - 1.0) < 1e-9, "self-similarity")
        }
      }
    }
  }

  test("sort is a permutation: sorted output has identical multiset of keys") {
    forAllSamples(rows) { data =>
      val d = df(data)
      val sorted = d.orderBy(col("v").desc, col("k"))
      assert(sorted.count() == data.size)
      assert(sorted.groupBy("k").count().except(d.groupBy("k").count()).count() == 0)
    }
  }

  test("mergeByKey: idempotent, covers both keyspaces, changes always win") {
    forAllSamples2(rows, rows) { (a, b) =>
      val base = df(a).dropDuplicates("k")
      val changes = df(b).dropDuplicates("k").withColumn("v", lit(999.0))
      val once = graft.ops.Relational.mergeByKey(base, changes, "k")
      val twice = graft.ops.Relational.mergeByKey(once, changes, "k")
      assert(once.count() ==
        (a.map(_._1) ++ b.map(_._1)).distinct.size, "union of keyspaces")
      assert(once.except(twice).count() == 0 && twice.except(once).count() == 0,
        "merging the same change set twice is a no-op")
      assert(once.join(changes.select("k"), "k").filter(col("v") =!= 999.0).count() == 0,
        "every changed key carries the change's value")
    }
  }

  test("bloomPrune: never drops a member key; prunes to superset only") {
    val keyLists = Gen.zip(
      Gen.listOfN(30, Gen.chooseNum(0L, 5000L)),
      Gen.listOfN(200, Gen.chooseNum(0L, 5000L)))
    forAllSamples(keyLists, n = 6) { case (keys, fact) =>
      val s = spark
      import s.implicits._
      // a NULL key must be ignored by the build, not crash it
      val keysDf = keys.toDF("k").distinct()
        .union(s.sql("SELECT CAST(NULL AS BIGINT)"))
      val factDf = fact.toDF("fk")
      val pruned = graft.ops.Scale.bloomPrune(factDf, "fk", keysDf, "k", 1 << 12)
        .collect().map(_.getLong(0))
      val keySet = keys.toSet
      val trueMatches = fact.filter(keySet.contains)
      // no false negatives: every true match survives (with multiplicity)
      assert(trueMatches.groupBy(identity).forall { case (k, g) =>
        pruned.count(_ == k) >= g.size
      })
      // survivors are a subset of the fact multiset
      assert(pruned.length <= fact.length)
    }
  }

  test("heavyHitters equals exact GROUP BY/HAVING for any stream and k") {
    val streams = Gen.zip(
      Gen.listOfN(300, Gen.oneOf("x", "y", "z", "w", "p", "q")),
      Gen.chooseNum(2, 8))
    forAllSamples(streams, n = 6) { case (stream, k) =>
      val s = spark
      import s.implicits._
      val d = stream.toDF("token").repartition(4)
      val got = graft.ops.Corpus.heavyHitters(d, "token", k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = stream.size
      val exact = stream.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, c) => c * k > n }.toMap
      assert(got == exact, s"k=$k n=$n")
    }
  }

  test("throttle: kept rows respect the min-gap; dropped rows are within gap of a kept one") {
    val gens = Gen.listOfN(60, Gen.zip(
      Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 1000L)))
    forAllSamples(gens, n = 6) { raw =>
      val s = spark
      import s.implicits._
      // unique tie ids; times intentionally collide to exercise tie-breaks
      val rows = raw.zipWithIndex.map { case ((k, t), i) => (k, i.toLong, t) }
      val gap = 50L
      val kept = graft.ops.EventAnalytics
        .throttle(rows.toDF("k", "id", "t").repartition(4), "k", "t", "id", gap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      rows.groupBy(_._1).foreach { case (_, es) =>
        val sorted = es.sortBy(e => (e._3, e._2))
        val keptTimes = sorted.filter(e => kept((e._1, e._2))).map(_._3)
        // min-gap invariant over consecutive kept rows
        keptTimes.sliding(2).foreach {
          case Seq(a, b) => assert(b - a > gap)
          case _ => ()
        }
        // greedy maximality: each dropped row is within gap of the latest
        // kept row at or before it
        var lastKept = Long.MinValue
        sorted.foreach { case (k, id, t) =>
          if (kept((k, id))) lastKept = t
          else assert(lastKept != Long.MinValue && t - lastKept <= gap)
        }
        assert(keptTimes.nonEmpty == sorted.nonEmpty, "first row per key is always kept")
      }
    }
  }

  test("sessionize: sessions partition events; gap=∞ gives one session per key") {
    val events = Gen.listOfN(30, Gen.zip(
      Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 100000L)))
    forAllSamples(events, 8) { data =>
      val s = spark
      import s.implicits._
      val d = data.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "id")
      val sessions = graft.ops.EventAnalytics.sessionize(d, "k", "t", "id", 1000L)
      assert(sessions.agg(sum("n_events")).collect().head.getLong(0) == data.size,
        "sessions partition the events")
      assert(sessions.filter(col("start_us") > col("end_us")).count() == 0)
      val one = graft.ops.EventAnalytics.sessionize(d, "k", "t", "id", Long.MaxValue)
      assert(one.count() == data.map(_._1).distinct.size,
        "infinite gap yields exactly one session per key")
    }
  }

  test("TopKPerGroup ≡ window row_number filter for any data and k") {
    forAllSamples2(rows, Gen.chooseNum(1, 6)) { (data, k) =>
      val d = data.zipWithIndex.map { case ((g, v, _), i) => (g, v, i.toLong) }
      val s = spark
      import s.implicits._
      val in = d.toDF("g", "v", "id")
      val native = graft.plans.TopKPerGroup(
          in, Seq("g"), Seq("v" -> true, "id" -> false), k)
        .select(col("g"), col("v"), col("id"), col("rn"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
      val expected = d.groupBy(_._1).flatMap { case (_, vs) =>
        vs.sortBy { case (_, v, id) => (-v, id) }.take(k).zipWithIndex
          .map { case ((g, v, id), i) => (g, v, id, (i + 1).toLong) }
      }.toSet
      assert(native == expected, s"k=$k")
    }
  }

  test("jaro_winkler: bounded, symmetric, 1 on self, 0 without common chars") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double = graft.functions.JaroWinkler.compute(
      UTF8String.fromString(a), UTF8String.fromString(b))
    val word = Gen.listOfN(8, Gen.alphaLowerChar).map(_.mkString)
      .flatMap(s => Gen.chooseNum(0, 8).map(s.take))
    forAllSamples2(word, word) { (a, b) =>
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0, s"out of bounds: jw($a, $b) = $s")
      assert(s == jw(b, a), s"asymmetric on ($a, $b)")
      assert(jw(a, a) == 1.0 || a.isEmpty)
      if (a.nonEmpty && b.nonEmpty && a.toSet.intersect(b.toSet).isEmpty)
        assert(s == 0.0, s"no shared chars but jw($a, $b) = $s")
      // a transposition never scores below the same-position substitution
      if (a.length >= 4) {
        val tr = a.substring(0, 2) + a.charAt(3) + a.charAt(2) + a.substring(4)
        val sub = a.substring(0, 2) + "?!" + a.substring(4)
        assert(jw(a, tr) >= jw(a, sub), s"transposition under-scored on $a")
      }
    }
  }

  test("large-star/small-star components equal union-find on random graphs") {
    val s = spark
    import s.implicits._
    // sparse-ish random graphs over a small id space: plenty of multi-node
    // components, chains, self-loop-free duplicates, and isolated-pair mixes
    val edges = Gen.listOfN(30, Gen.zip(Gen.chooseNum(0L, 24L), Gen.chooseNum(0L, 24L)))
      .map(_.filter { case (a, b) => a != b })
    forAllSamples(edges, 8) { es =>
      if (es.nonEmpty) {
        val got = graft.ops.Graph.ccFromEdges(es.toDF("u", "v")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        val par = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (par.getOrElse(r, r) != r) { par(r) = par.getOrElse(par(r), par(r)); r = par(r) }
          r
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) par(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = es.flatMap { case (a, b) => Seq(a, b) }.toSet
        val want = nodes.groupBy(find).flatMap { case (_, ns) =>
          val m = ns.min; ns.map(_ -> m)
        }
        assert(got == want, s"component labels diverge on edge set $es")
      }
    }
  }
}
