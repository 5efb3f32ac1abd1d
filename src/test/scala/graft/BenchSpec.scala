package graft

import com.fasterxml.jackson.databind.ObjectMapper

class BenchSpec extends SparkSpec {

  private def parsedSf(dir: String) =
    new ObjectMapper().readTree(s"""{"sf":${Bench.sfField(dir)}}""").get("sf")

  test("the contract line's sf field is always valid JSON") {
    val num = parsedSf("/data/sf0.1/")
    assert(num.isNumber && num.asDouble == 0.1)
    assert(parsedSf("/data/sf10").asInt == 10)
    // not a well-formed number: the dir comes back verbatim as a string
    for (dir <- Seq("/data/sf1.", "/data/sf0.1.2", "/data/a\"b\\sf", "/data/tpch")) {
      val v = parsedSf(dir)
      assert(v.isTextual && v.asText == dir, s"$dir -> $v")
    }
  }

  test("each key's bench_full.json entry counts the codegen compiles of its samples") {
    val shape = spark.range(8).selectExpr("id * 7919 + 104729 AS x")
    def run(): Unit = shape.write.format("noop").mode("overwrite").save()
    val cold = Bench.sample("cold")(run())
    // the first sample compiles the shape's classes, the second reuses them
    assert(cold.min >= 0 && cold.compiles > 0, cold)
    val warm = Bench.sample("warm")(run())
    assert(warm.compiles == 0L, warm)
    val entry = new ObjectMapper().readTree(s"{${cold.json}}").get("cold")
    assert(entry.get("codegen_compiles").asLong == cold.compiles, entry)
    for (f <- Seq("t1", "t2", "min", "gc_ms")) assert(entry.has(f), s"$f missing from $entry")
  }
}
