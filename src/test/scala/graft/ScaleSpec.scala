package graft

import graft.ops.Scale
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {

  test("salted join returns exactly the rows of the plain join") {
    val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber", "l_quantity")
    val dim  = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val plain  = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
    val salted = Scale.saltedJoin(fact, dim, "l_orderkey", "o_orderkey", 8)
    assert(salted.count() == plain.count())
    assert(salted.select(fact.columns.map(col) ++ dim.columns.map(col): _*)
      .except(plain).count() == 0)
  }

  test("salted join spreads a pathological hot key across salt buckets") {
    import spark.implicits._
    val hotFact = (1 to 1000).map(i => (42L, i)).toDF("k", "payload")
    val dim = Seq((42L, "only")).toDF("dk", "name")
    val salted = hotFact.withColumn("_salt",
      pmod(xxhash64(col("k"), col("payload")), lit(8)).cast("int"))
    val nBuckets = salted.select("_salt").distinct().count()
    assert(nBuckets == 8, s"hot key should fan out to all 8 salts, got $nBuckets")
    assert(Scale.saltedJoin(hotFact, dim, "k", "dk", 8).count() == 1000)
  }
}
