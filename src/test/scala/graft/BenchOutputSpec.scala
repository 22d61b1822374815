package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.util.Locale

/** The bench and CapStress result lines are JSON whatever the JVM's
  * default locale: a comma-decimal locale must not turn `0.583` into
  * `0,583`. */
class BenchOutputSpec extends AnyFunSuite {
  private def underLocale[T](l: Locale)(body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(saved)
  }

  test("the compact \"metric\":\"total\" line parses as JSON under de_DE") {
    val line = underLocale(Locale.GERMANY) {
      Bench.summaryLine(1234.5678, 233, Seq("q2", "q1"), 17L, 890L,
        "/data/sf0.1")
    }
    val doc = new ObjectMapper().readTree(line)
    assert(doc.get("metric").asText() == "total")
    assert(doc.get("value").isNumber && doc.get("value").asDouble() == 1234.568)
    assert(doc.get("n_queries").asInt() == 233)
    assert(doc.get("failed").toString == """["q1","q2"]""")
    assert(underLocale(Locale.GERMANY)(Bench.sec3(0.5834)) == "0.583")
  }

  test("the LoadBench result line parses as JSON under de_DE") {
    val line = underLocale(Locale.GERMANY)(LoadBench.resultLine(500000L, 5.4321))
    val doc = new ObjectMapper().readTree(line)
    assert(doc.get("seconds").isNumber && doc.get("seconds").asDouble() == 5.43)
    assert(doc.get("records").asLong() == 500000L)
  }

  test("the CapStress family and query lines parse as JSON under de_DE") {
    val (family, query) = underLocale(Locale.GERMANY) {
      (ops.CapStress.familyLine("minhash_bands", 64, 10L, 70L, 9L, 400L, 300L),
        ops.CapStress.queryLine("q23_dedup_minhash", 12L, 1.234))
    }
    val f = new ObjectMapper().readTree(family)
    assert(f.get("dropped_frac").isNumber && f.get("dropped_frac").asDouble() == 0.25)
    assert(f.get("pairs_kept").asLong() == 300L)
    val q = new ObjectMapper().readTree(query)
    assert(q.get("sec").isNumber && q.get("sec").asDouble() == 1.23)
    assert(q.get("rows").asLong() == 12L)
  }
}
