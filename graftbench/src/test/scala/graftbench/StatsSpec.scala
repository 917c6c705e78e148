package graftbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.Interval

class StatsSpec extends AnyFunSuite {
  test("tail is the value with exactly ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Stats.tail(scala.util.Random.shuffle(xs))
    assert(t.value == 30.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.percentile == 75.0)
    assert(t.beyond == 10 && t.n == 40)
  }

  test("tail with ten or fewer samples is the maximum, with none beyond") {
    val t = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(t == Stats.Tail(3.0, 100.0, 0, 3))
    assert(Stats.tail((1 to 11).map(_.toDouble)).value == 1.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of the children, not their sum") {
    val parent = Interval(0, 100)
    val kids = Seq(Interval(10, 30), Interval(20, 40), Interval(90, 120))
    assert(Stats.unionLength(kids) == 60)
    // Children are clipped to the parent: 10..40 and 90..100.
    assert(Stats.selfTime(parent, kids) == 60)
    assert(Stats.selfTime(parent, Nil) == 100)
  }

  test("disjoint trims overlaps and clips to the parent") {
    val out = Stats.disjoint(Seq(Interval(20, 50), Interval(10, 30),
      Interval(15, 25), Interval(90, 200)), Interval(0, 100))
    assert(out == Seq(Some(Interval(30, 50)), Some(Interval(10, 30)), None,
      Some(Interval(90, 100))))
  }

  test("jobs are attributed to the window they were submitted in") {
    val windows = Seq(Interval(0, 10), Interval(10, 20), Interval(30, 40))
    assert(Stats.attribute(Seq(0, 9, 10, 25, 39, 40), windows) ==
      Seq(Some(0), Some(0), Some(1), None, Some(2), None))
  }

  test("attached intervals keep an operation's self times summing to its wall") {
    val t = new Tracer
    t.op(0, "op:x") {
      t.span("queries.build") { Thread.sleep(5) }
      t.span("queries.force") { Thread.sleep(5) }
    }
    val root = t.spans.head
    val build = t.spans(1)
    val force = t.spans(2)
    // A job overlapping both children, one overlapping another job, one
    // straddling the end of the operation, and one outside it.
    t.attach(0, Seq(
      "spark.job" -> Interval(build.start + 1000, force.start + 1000),
      "spark.job" -> Interval(build.start + 500, build.start + 2000),
      "spark.job" -> Interval(force.end - 1000, root.end + 5000),
      "spark.job" -> Interval(root.end + 10, root.end + 20)))
    assert(t.spans.size == 6)
    assert(t.selfTimes(0).values.sum == root.length)
    t.spans.filter(_.parent >= 0).foreach { s =>
      val p = t.spans(s.parent)
      assert(s.start >= p.start && s.end <= p.end)
    }
  }
}

class ExpectSpec extends AnyFunSuite {
  private val pinned = Map("ops/q1/rows" -> "6", "ops/q1/fp" -> "6:12:34")

  test("matching observations pass") {
    assert(Expect.mismatches(pinned, pinned.toSeq).isEmpty)
  }

  test("negative control: a wrong pinned value fails the check") {
    val wrong = pinned.updated("ops/q1/rows", "7")
    val bad = Expect.mismatches(wrong, pinned.toSeq)
    assert(bad == Seq("ops/q1/rows: expected 7, observed 6"))
  }

  test("an observation without a pinned expectation fails the check") {
    assert(Expect.mismatches(pinned, Seq("ops/q2/rows" -> "1")).size == 1)
  }

  test("negative control: a pinned output that was not written fails the check") {
    val plan = Map("plan/v0/p/exit" -> "0", "plan/v0/p/out/a" -> "1:2:3",
      "plan/v0/p/out/b" -> "4:5:6", "plan/v0/q/out/c" -> "7:8:9")
    val wrote = Seq("plan/v0/p/exit" -> "0", "plan/v0/p/out/a" -> "1:2:3")
    assert(Expect.mismatches(plan, wrote).isEmpty)
    assert(Expect.missing(plan, Seq("plan/v0/p/"), wrote) ==
      Seq("plan/v0/p/out/b: pinned but not observed"))
    assert(Expect.missing(plan, Seq("plan/v0/p/exit"), wrote).isEmpty)
  }

  test("expectations survive a save and load") {
    val f = java.io.File.createTempFile("expect", ".json")
    try {
      Expect.save(f, pinned)
      assert(Expect.load(f) == pinned)
    } finally f.delete()
  }
}

class HeapWatchSpec extends AnyFunSuite {
  test("after-GC usage counts heap pools only") {
    val pools = Map("G1 Eden Space" -> 0L, "G1 Old Gen" -> 300L,
      "G1 Survivor Space" -> 20L, "Metaspace" -> 1000L)
    assert(HeapWatch.heapUsed(pools, Set("G1 Eden Space", "G1 Old Gen",
      "G1 Survivor Space")) == 320L)
  }

  test("the watch keeps the peak of the collections it saw") {
    val watch = new HeapWatch
    try {
      watch.record(5L << 20)
      watch.record(3L << 20)
      assert(watch.collections == 2)
      assert(watch.peakMb == 5.0)
    } finally watch.close()
  }
}

class MainSpec extends AnyFunSuite {
  test("query families follow the name prefix") {
    assert(Main.family("q12_late_classes") == "analytics")
    assert(Main.family("qc_profile") == "rules")
    assert(Main.family("qd_tfidf_pairs") == "dedup")
    assert(Main.family("qm_phash_clusters") == "multimodal")
    assert(Main.family("qt_bigram_lm") == "text")
    assert(Main.family("qp_split") == "pipeline")
  }

  test("plan variables take four variants of the seed") {
    assert(Main.planVars(1)._1 == 1)
    assert(Main.planVars(5) == Main.planVars(1))
    assert(Main.planVars(-3)._1 == 1)
    assert(Main.planVars(2)._2 == Map("refresh_mod" -> "5"))
  }
}
