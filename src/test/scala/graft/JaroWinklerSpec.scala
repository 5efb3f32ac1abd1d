package graft

import graft.functions.JaroWinkler
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class JaroWinklerSpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    JaroWinkler.compute(UTF8String.fromString(a), UTF8String.fromString(b))

  test("known record-linkage values match the classic definition") {
    // Winkler's canonical examples (also DuckDB jaro_winkler_similarity's
    // values — the q_fuzzy_jw oracle cross-checks the full corpus)
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-15)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-15)
    assert(math.abs(jw("JELLYFISH", "SMELLYFISH") - 0.8962962962962964) < 1e-15)
    // boost gated at jaro > 0.7: shared prefix alone must not lift a weak pair
    assert(math.abs(jw("aXXXXX", "aYYYYY") - 0.4444444444444444) < 1e-15)
    // prefix capped at 4 even with 6 shared chars
    assert(math.abs(jw("PREFIXaaaa", "PREFIXbbbb") - 0.8400000000000001) < 1e-15)
    assert(jw("abc", "abc") == 1.0)
    assert(jw("", "") == 1.0)
    assert(jw("", "x") == 0.0)
    assert(jw("a", "b") == 0.0)
    // symmetric
    assert(jw("DWAYNE", "DUANE") == jw("DUANE", "DWAYNE"))
  }

  test("SQL registration works and the expression stays in codegen") {
    import spark.implicits._
    val lit = Seq(("MARTHA", "MARHTA")).toDF("a", "b")
      .select(expr("jaro_winkler(a, b)").as("jw"))
    assert(math.abs(lit.collect()(0).getDouble(0) - 0.9611111111111111) < 1e-15)
    // a parquet-backed source (literals constant-fold to LocalTableScan)
    val df = Tables.part(spark, sf)
      .select(expr("jaro_winkler(p_name, reverse(p_name))").as("jw"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan.take(400))
    // NULL propagates, never throws
    val n = Seq(("x", Option.empty[String])).toDF("a", "b")
      .select(expr("jaro_winkler(a, b)").as("jw")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("q_fuzzy_jw finds transposition pairs levenshtein-3 ranks poorly") {
    val rows = graft.ops.Dedup.qFuzzyJw(spark, sf).collect()
    assert(rows.forall(r => r.getAs[Double]("jw") >= 0.88 && r.getAs[Double]("jw") <= 1.0))
    assert(rows.forall(r => r.getAs[Long]("a_key") < r.getAs[Long]("b_key")))
  }
}
