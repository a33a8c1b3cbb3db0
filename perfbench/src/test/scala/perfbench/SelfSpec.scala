package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.metric.SQLMetricInfo
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own arithmetic and bookkeeping. */
class SelfSpec extends AnyFunSuite {

  test("Harrell-Davis percentiles weigh every sample") {
    val xs = Seq(7.0, 1.0, 10.0, 3.0, 5.0, 2.0, 9.0, 4.0, 8.0, 6.0)
    // symmetric samples: the p50 is their centre
    assert(math.abs(Stats.percentile(xs, 50) - 5.5) < 1e-9)
    // reference value from direct numeric integration of the Beta weights
    assert(math.abs(Stats.percentile(xs, 90) - 9.435115) < 1e-5)
    assert(Stats.percentile(Seq(4.2), 50) == 4.2)
    assert(math.abs(Stats.percentile((1 to 27).map(_.toDouble).reverse, 90) - 24.801388) < 1e-5)
    // within the samples' range and rising with p
    val ps = Seq(5.0, 25.0, 50.0, 75.0, 90.0, 99.0).map(Stats.percentile(xs, _))
    assert(ps.forall(v => v >= 1.0 && v <= 10.0) && ps == ps.sorted)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 0))
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 100))
  }

  test("medians and sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val s = new Samples
    Seq(0.9, 0.7, 0.8).foreach(s.add("setup_s", "s", _))
    assert(s.median("setup_s").contains(Metric(0.8, "s", 3)))
    assert(s.median("absent").isEmpty)
  }

  test("span self time excludes nested spans and sums to the outer wall") {
    var t = 0L
    val active = scala.collection.mutable.ArrayBuffer.empty[String]
    val spans = new Spans(true, () => t, active += _)
    spans("compiler.build") {
      t += 2
      spans("parser.parse") { t += 3 }
      t += 1
      spans("exec.run") { t += 4 }
      t += 1
    }
    spans("exec.run") { t += 5 }
    assert(spans.selfNanos == Map("compiler.build" -> 4L, "parser.parse" -> 3L, "exec.run" -> 9L))
    assert(spans.selfNanos.values.sum == 16L)
    assert(spans.coveredNanos == 16L)
    assert(active.toSeq == Seq("compiler.build", "parser.parse", "compiler.build",
      "exec.run", "compiler.build", Spans.Untraced, "exec.run", Spans.Untraced))
    spans.reset()
    assert(spans.selfNanos.isEmpty && spans.coveredNanos == 16L)
  }

  test("shifted self time moves between spans and never goes negative") {
    var t = 0L
    val spans = new Spans(true, () => t)
    spans("compiler.build") { t += 10 }
    spans.shift("compiler.build", "catalyst.analyze", 4)
    assert(spans.selfNanos == Map("compiler.build" -> 6L, "catalyst.analyze" -> 4L))
    spans.shift("compiler.build", "catalyst.analyze", 100)
    assert(spans.selfNanos == Map("compiler.build" -> 0L, "catalyst.analyze" -> 10L))
    assert(spans.coveredNanos == 10L)
    val off = new Spans(false)
    off.shift("compiler.build", "catalyst.analyze", 4)
    assert(off.selfNanos.isEmpty)
  }

  test("a span that throws still closes") {
    var t = 0L
    val spans = new Spans(true, () => t)
    assertThrows[RuntimeException](spans("exec.run") { t += 2; throw new RuntimeException })
    assert(spans.selfNanos == Map("exec.run" -> 2L))
  }

  test("a disabled tracer records nothing") {
    val spans = new Spans(false)
    assert(spans("exec.run")(41 + 1) == 42)
    assert(spans.selfNanos.isEmpty && spans.coveredNanos == 0L)
  }

  test("jobs, stages and tasks follow the span that submitted the job") {
    val a = new Attribution
    a.jobStart("compiler.build", Seq(1))
    a.jobStart("exec.run", Seq(2, 3))
    a.jobStart(null, Seq(4))
    a.stageCompleted(2); a.stageCompleted(3); a.stageCompleted(1)
    a.taskEnd(2, 10, 1, 100, 0, 0)
    a.taskEnd(3, 20, 0, 0, 100, 7)
    a.taskEnd(1, 5, 0, 0, 0, 0)
    a.taskEnd(9, 1, 0, 0, 0, 0) // a stage no job announced
    val (by, _) = a.drain()
    val run = by("exec.run")
    assert((run.jobs, run.stages, run.tasks, run.taskNanos) == (1L, 2L, 2L, 30L))
    assert((run.gcNanos, run.shuffleWrite, run.shuffleRead, run.spill) == (1L, 100L, 100L, 7L))
    assert(by("compiler.build").jobs == 1 && by("compiler.build").tasks == 1)
    assert(by(Spans.Untraced).jobs == 1 && by(Spans.Untraced).tasks == 1)
    assert(a.drain()._1.isEmpty)
  }

  test("broadcast bytes count only broadcast data-size metrics") {
    def m(name: String, id: Long) = new SQLMetricInfo(name, id, "size")
    val plan = new SparkPlanInfo("HashAggregate", "", Seq(
      new SparkPlanInfo("BroadcastExchange", "", Nil, Map.empty,
        Seq(m("data size", 11), m("time to broadcast", 12))),
      new SparkPlanInfo("Exchange", "", Nil, Map.empty, Seq(m("data size", 13)))),
      Map.empty, Seq(m("data size", 14)))
    assert(SpanListener.broadcastIds(plan) == Seq(11L))
    val a = new Attribution
    a.broadcastMetrics(SpanListener.broadcastIds(plan))
    a.accumUpdates(Seq(11L -> 1000L, 12L -> 5L, 13L -> 99L))
    assert(a.drain()._2 == 1000L)
    assert(a.drain()._2 == 0L)
  }

  test("the listener attributes real Spark jobs to the active span") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val a = new Attribution
      spark.sparkContext.addSparkListener(new SpanListener(a))
      val spans = new Spans(true,
        onActive = s => spark.sparkContext.setLocalProperty(SpanListener.Key, s))
      spans("compiler.build")(spark.range(100).localCheckpoint())
      spans("exec.run")(spark.range(1000).repartition(3).collect())
      spark.range(10).collect()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val (by, _) = a.drain()
      assert(by("compiler.build").jobs >= 1)
      assert(by("exec.run").jobs >= 1)
      assert(by("exec.run").tasks >= 3)
      assert(by("exec.run").shuffleWrite > 0)
      assert(by(Spans.Untraced).jobs >= 1)
    } finally spark.stop()
  }

  private def loaded(): StoreModel = {
    val m = new StoreModel
    (0L until 100L).foreach(k => m.loadItem(k, s"v$k", k % 10))
    (0L until 50L).foreach(k => m.loadFeed(k, s"t$k"))
    Seq(3L, 3L, 7L).foreach(m.loadEdge)
    m
  }

  test("store model applies each statement kind") {
    import Stmt._
    val m = loaded()
    assert(m.aggregate == (100L, (0L until 100L).map(_ % 10).sum))
    assert(m.recent(0) == 99L && m.recent(5) == 94L)
    m(SetV(99, "x"))
    assert(m.items(99) == ((Some("x"), Some(9L))))
    m(Delete(99))
    assert(!m.items.contains(99) && m.recent(0) == 98L && m.liveItems == 99)
    m(Create(100, "c", 4))
    assert(m.recent(0) == 100L)
    m(Merge(101, "m"))
    assert(m.items(101) == ((Some("m"), None)) && m.recent(0) == 101L)
    m(Merge(5, "m5"))
    assert(m.items(5) == ((Some("m5"), Some(5L))))
    m(BigSet(95, 102, 0))
    assert(m.items(95)._2.contains(6L) && m.items(100)._2.contains(5L) && m.items(101)._2.isEmpty)
    assert(m.items(94)._2.contains(4L))
    m(Upsert(1, Seq(3L -> "u", 60L -> "new")))
    assert(m.feed(3) == "u" && m.feed(60) == "new" && m.feed.size == 51)
    assert(m.follows(3) == 2 && m.follows(7) == 1 && m.follows(8) == 0)
    m(SetV(99, "gone")) // a SET on a deleted key changes nothing
    assert(!m.items.contains(99))
  }

  test("a pass mixes 7 writes, 26 reads and periodic compactions; reads carry the model's answer") {
    import Stmt._
    val m = loaded()
    val pass = m.nextPass(new java.util.Random(1), feedKeys = 50, bigSetWidth = 10, compactEvery = 9)
    assert(pass.count(_ == Compact) == 3)
    assert(pass.count(s => s.write && s != Compact) == 7)
    assert(pass.count(!_.write) == 26)
    // replay the writes on a fresh model: each read must match the state
    // reached by the statements before it
    val replay = loaded()
    pass.foreach {
      case PointRead(k, e) => assert(replay.items.get(k) == e)
      case Aggregate(c, s) => assert(replay.aggregate == ((c, s)))
      case FeedRead(k, e) => assert(replay.feed.get(k) == e)
      case EdgeRead(k, e) => assert(replay.follows(k) == e)
      case w => replay(w)
    }
    assert(replay.items == m.items && replay.feed == m.feed)
    // same seed, same stream
    assert(loaded().nextPass(new java.util.Random(1), 50, 10, 9) == pass)
  }

  test("store keys skew toward recent rows") {
    val m = new StoreModel
    (0L until 10000L).foreach(k => m.loadItem(k, "v", 0))
    val rng = new java.util.Random(7)
    val pass = (1 to 40).flatMap(_ => m.nextPass(rng, 100, 10, 9))
    val keys = pass.collect { case Stmt.PointRead(k, _) => k }
    assert(keys.count(_ >= 9000) > keys.size / 3, "at least a third of lookups hit the newest 10%")
  }
}
