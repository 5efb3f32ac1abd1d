package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

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
}
