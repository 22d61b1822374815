package graftbench

import java.util.Locale
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Every number the harness prints must stay valid JSON, and keep its
  * decimal point, under a comma-decimal default locale. */
class JsonLocaleSpec extends AnyFunSuite {
  private def underLocale[T](l: Locale)(body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(saved)
  }

  test("result JSON parses under a de_DE default locale") {
    val values = Seq(1.5, 1234567.891, 0.000123456789, -2.25, 3.0, 1e16)
    val line = underLocale(Locale.GERMANY) {
      assert(String.format("%.1f", Double.box(1.5)) == "1,5", "the locale is in effect")
      Json.render(Map("correct" -> true, "attempted" -> 42, "metrics" ->
        values.zipWithIndex.map { case (v, i) => s"m$i" -> v }.toMap,
        "name" -> "a \"quoted\"\n name"))
    }
    val doc = new ObjectMapper().readTree(line)
    values.zipWithIndex.foreach { case (v, i) =>
      val got = doc.get("metrics").get(s"m$i").asDouble
      assert(got == v, s"m$i: $got vs $v")
    }
    assert(doc.get("name").asText == "a \"quoted\"\n name")
    assert(doc.get("correct").asBoolean)
    assert(doc.get("attempted").asInt == 42)
  }

  test("curve lines print numbers with a decimal point under de_DE") {
    val begin = JvmSample(0L, 0L, 0L, 0L, 0L, 0L, 0L)
    val o = new Op(3, "sync", "timed", false, begin)
    o.end = JvmSample(1234500000L, 2000250000L, 0L, 17L, 0L, 6L, 0L)
    val line = underLocale(Locale.GERMANY)(Run.curveLine(o, 12))
    assert(line == "curve 3 sync timed 1234.5 2000.25 17.0 6 12")
  }
}
