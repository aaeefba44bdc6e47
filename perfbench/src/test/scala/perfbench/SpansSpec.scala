package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  test("union coverage clips to the parent and counts overlaps once") {
    assert(Spans.coveredUs(0, 100, Nil) == 0)
    assert(Spans.coveredUs(0, 100, Seq(10L -> 20L, 15L -> 30L, 50L -> 60L)) == 30)
    assert(Spans.coveredUs(0, 100, Seq(-50L -> 10L, 90L -> 200L)) == 20)
    assert(Spans.coveredUs(0, 100, Seq(200L -> 300L)) == 0)
    assert(Spans.coveredUs(0, 100, Seq(0L -> 100L, 20L -> 30L)) == 100)
  }

  test("self time is duration minus the children's covered interval") {
    val log = new SpanLog("t")
    val root = log.add(0, "workload", "run", 0, 1000)
    val batch = log.add(root, "streaming", "batch-0", 100, 600)
    val sinkA = log.add(batch, "sink", "append a", 200, 300)
    log.add(batch, "sink", "append b", 300, 400)
    log.add(sinkA, "spark_job", "job", 210, 290)
    log.add(root, "streaming", "batch-1", 700, 800)
    val self = Spans.selfTimesUs(log.spans)
    assert(self(root) == 1000 - 500 - 100)
    assert(self(batch) == 500 - 200)
    assert(self(sinkA) == 100 - 80)
    val byLayer = Spans.selfTimeByLayerUs(log.spans)
    assert(byLayer("workload") == 400)
    assert(byLayer("streaming") == 300 + 100)
    assert(byLayer("sink") == 20 + 100)
    assert(byLayer("spark_job") == 80)
    // every microsecond of the root is attributed to exactly one layer
    assert(byLayer.values.sum == 1000)
  }

  test("a span cannot end before it starts") {
    intercept[IllegalArgumentException](Span(1, 0, "l", "n", 10, 5))
  }
}
