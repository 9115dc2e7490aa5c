package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("median and percentile interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0) == 1.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 100) == 5.0)
    assert(Stats.percentile(Seq(10.0, 20.0), 25) == 12.5)
    assert(Stats.percentile((1 to 101).map(_.toDouble), 99) == 100.0)
    assert(Stats.median(Nil) == 0.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("pair digest ignores order and sees any change") {
    val xs = Seq((1L, 1L), (2L, 1L), (3L, 3L))
    assert(Digest.ofPairs(xs) == Digest.ofPairs(xs.reverse))
    assert(Digest.ofPairs(xs) != Digest.ofPairs(Seq((1L, 1L), (2L, 2L), (3L, 3L))))
    assert(Digest.ofPairs(xs) != Digest.ofPairs(xs :+ ((3L, 3L))))
    assert(Digest.ofPairs(Nil).startsWith("0:"))
  }

  test("dedup check: coverage, min-id roots, pair recall and precision") {
    // truth: {1,2,3} {4,5}; found: {1,2} {3} {4,5}
    val truth = Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L)
    val ok = Checks.dedup(Array((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L)), truth)
    assert(ok.errors.isEmpty)
    assert(ok.clusters == 3)
    assert(ok.recall == 2.0 / 4.0) // (1,2) (4,5) of (1,2) (1,3) (2,3) (4,5)
    assert(ok.precision == 1.0)

    val bad = Checks.dedup(Array((1L, 2L), (2L, 2L), (2L, 2L), (6L, 6L)), truth)
    assert(bad.errors.exists(_.contains("without a cluster")))
    assert(bad.errors.exists(_.contains("not in the input")))
    assert(bad.errors.exists(_.contains("more than once")))
    assert(bad.errors.exists(_.contains("minimum member id")))
  }

  test("driver idle time is the part of a window no job covers") {
    val l = new GroupListener
    l.jobIntervals ++= Seq((1000L, 2000L), (1500L, 2500L), (4000L, 5000L))
    assert(l.idleSeconds(0L, 6000L) == 3.5)
    assert(l.idleSeconds(1200L, 2200L) == 0.0)
    assert(l.idleSeconds(3000L, 3500L) == 0.5)
  }

  test("JSON emission escapes strings and rejects non-finite numbers") {
    assert(Json.obj(Seq("a" -> "x\"y\n", "b" -> Seq(1, 2), "d" -> 2.5, "c" -> true)) ==
      """{"a":"x\"y\n","b":[1,2],"d":2.5,"c":true}""")
    assertThrows[IllegalArgumentException](Json.value(Double.NaN))
  }
}
