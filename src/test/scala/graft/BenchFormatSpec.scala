package graft

/** Round-9 postmortem gate #2: the driver keeps only the final ~2000
  * chars of Bench stdout, so the headline line must be LAST and must fit
  * that window for the FULL registered headline set. */
class BenchFormatSpec extends SparkSpec {

  test("compact line for every registered bench query fits the driver's 2000-char tail") {
    val medians = SparkEntry.benchQueries.keys.toSeq.map(_ -> 123.456)
    val line = Bench.compactLine(medians, 99.9, "/root/testdata/sf0.1")
    assert(line.length < 1900, s"compact line is ${line.length} chars")
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.contains("\"queries\":{"), "per-query medians should still fit today")
    assert(line.endsWith("}"))
  }

  test("conf echo escapes quotes and backslashes and keeps the line's shape") {
    val conf = Seq("spark.x" -> """say "hi" \ C:\tmp""", "k" -> "plain")
    val line = Bench.compactLine(Seq("q1" -> 1.5), 1.0, "/sf", conf)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    import scala.jdk.CollectionConverters._
    assert(json.fieldNames().asScala.toSeq ===
      Seq("metric", "value", "unit", "min_total", "conf", "queries", "sf"))
    assert(json.get("conf").elements().asScala.map(_.asText()).toSeq ===
      conf.map { case (k, v) => s"$k=$v" })
    assert(json.get("queries").get("q1").asDouble() === 1.5)
  }

  test("the bench ledger appends one parseable JSON line per run") {
    val p = java.nio.file.Files.createTempFile("bench_ledger", ".jsonl")
    try {
      Bench.appendLedger("""{"run":1}""", p)
      Bench.appendLedger("""{"run":2}""", p)
      val lines = java.nio.file.Files.readAllLines(p)
      assert(lines.size === 2, "each run must append exactly one line")
      assert(lines.get(0) === """{"run":1}""" && lines.get(1) === """{"run":2}""")
    } finally java.nio.file.Files.deleteIfExists(p)
  }

  test("an oversized queries map degrades to the headline-only line, never breaches") {
    val huge = (1 to 300).map(i => s"q${i}_some_rather_long_query_name" -> 1.0)
    val line = Bench.compactLine(huge, 1.0, "/x")
    assert(line.length < 1900)
    assert(line.contains("\"value\":300.000"), "total must survive the degrade")
    assert(!line.contains("queries"))
  }
}
