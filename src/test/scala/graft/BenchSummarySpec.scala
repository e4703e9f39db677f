package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's budgeted final line: the driver parses it as JSON from
  * a bounded tail capture, so every input must yield a line inside the
  * budget that still parses. */
class BenchSummarySpec extends AnyFunSuite {

  private def parts(queryName: Int => String, nQueries: Int, failed: Seq[String]) =
    Bench.SummaryParts(total = 12.5, sf = "/data/sf0.1",
      expensiveFirst = (0 until nQueries).map(i => queryName(i) -> (nQueries - i).toDouble),
      rep2Load = (0 until 3).map(i => queryName(i) -> ((1.0, 0.5))),
      failed = failed,
      probeBuildJson = """{"p":1.0}""",
      streamingJson = """{"bars":{"events":1000,"sec":1.0}}""",
      streamingCompactJson = """{"bars_eps":1000.0}""",
      boxJson = """{"contaminated":false,"warm1_sec":0.2}""",
      boxCompactJson = """{"contaminated":false}""")

  private def parse(line: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)

  test("an ordinary run keeps the costliest queries and every block") {
    val line = Bench.summaryLine(parts(i => s"q$i", 135, Nil))
    assert(line.length <= Bench.summaryMaxLen)
    val json = parse(line)
    assert(json.get("queries").size() == 16)
    assert(json.get("n_queries").asInt() == 135)
    assert(json.has("probe_build_sec") && json.has("queries_rep2_load"))
  }

  test("2000-char query and failed names still yield a line inside the budget that parses") {
    val long = (i: Int) => s"q$i" + "x" * 2000
    val line = Bench.summaryLine(parts(long, 135, (0 until 10).map(long)))
    assert(line.length <= Bench.summaryMaxLen, s"${line.length} chars")
    val json = parse(line)
    assert(json.get("metric").asText() == "total")
    assert(json.get("value").asDouble() == 12.5)
    assert(json.get("n_queries").asInt() == 135)
    assert(json.get("queries_failed_n").asInt() == 10)
    assert(json.get("streaming").get("bars_eps").asDouble() == 1000.0)
    assert(!json.get("box").get("contaminated").asBoolean())
  }
}
