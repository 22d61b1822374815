package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geometric mean of per-kind medians weighs every kind once") {
    // medians 100 and 400 whatever the sample counts: geomean 200
    val byKind = Map("sync" -> Seq(90.0, 100.0, 110.0, 100.0, 1000.0),
                     "readback" -> Seq(400.0))
    assert(math.abs(Stats.geomeanOfMedians(byKind) - 200.0) < 1e-9)
  }

  test("union length merges overlapping and nested intervals once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))) == 25L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  test("self time subtracts overlapping children once, clipped to the span") {
    // span [100, 200); children overlap each other and one starts before it
    val children = Seq((90L, 120L), (110L, 150L), (140L, 160L), (190L, 250L))
    // covered: [100,160) = 60 and [190,200) = 10
    assert(Stats.selfTime(100L, 200L, children) == 30L)
    assert(Stats.selfTime(100L, 200L, Nil) == 100L)
  }

  private val stat0 =
    """cpu  6478231 0 328228 5670539 3693 0 131746 492276 0 0
      |cpu0 1 2 3 4 5 6 7 8 0 0
      |intr 1 2 3""".stripMargin
  private val stat1 =
    """cpu  6478240 0 328231 5672528 3693 0 131747 492306 0 0
      |cpu0 1 2 3 4 5 6 7 9 0 0""".stripMargin

  test("steal comes from the eighth value of the aggregate cpu line") {
    assert(Stats.stealJiffies(stat0) == 492276L)
    assert(Stats.stealJiffies("cpu  1 2 3") == -1L)
    assert(Stats.stealJiffies("") == -1L)
  }

  test("steal rate is jiffies per second between two readings") {
    assert(math.abs(Stats.stealRate(stat0, stat1, 10.0) - 3.0) < 1e-12)
    assert(Stats.stealRate("", stat1, 10.0) == -1.0)
    assert(Stats.stealRate(stat0, stat1, 0.0) == -1.0)
  }
}
