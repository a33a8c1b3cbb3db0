package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Nested wall-clock spans around the benchmark's own calls into each
  * layer. A span's self time excludes the spans opened inside it, so the
  * self times of an operation's spans add up to the time spent in them.
  * `onActive` is told the innermost open span on every enter and exit;
  * the benchmark uses it to tag Spark jobs with the span that launched
  * them. A disabled tracer runs the bodies and records nothing.
  */
final class Spans(enabled: Boolean, clock: () => Long = () => System.nanoTime(),
    onActive: String => Unit = _ => ()) {
  private final class Open(val name: String, val start: Long) { var inner = 0L }
  private val stack = mutable.ArrayBuffer.empty[Open]
  private val self = mutable.LinkedHashMap.empty[String, Long]
  private var covered = 0L

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val o = new Open(name, clock())
      stack += o
      onActive(name)
      try body
      finally {
        val d = clock() - o.start
        stack.remove(stack.size - 1)
        self(name) = self.getOrElse(name, 0L) + d - o.inner
        stack.lastOption.foreach(_.inner += d)
        if (stack.isEmpty) covered += d
        onActive(stack.lastOption.map(_.name).getOrElse(Spans.Untraced))
      }
    }

  /** Re-attribute up to `nanos` of `from`'s self time to `to`: for a phase
    * that ran inside `from` and was timed by its own clock.
    */
  def shift(from: String, to: String, nanos: Long): Unit =
    if (enabled) {
      val d = math.min(math.max(nanos, 0L), self.getOrElse(from, 0L))
      self(from) = self.getOrElse(from, 0L) - d
      self(to) = self.getOrElse(to, 0L) + d
    }

  /** Self time of every span name since the last reset, in nanoseconds. */
  def selfNanos: Map[String, Long] = self.toMap

  /** Wall time spent inside outermost spans since the tracer was made. */
  def coveredNanos: Long = covered

  def reset(): Unit = self.clear()
}

object Spans {
  /** Tag of work launched outside any span. */
  val Untraced = "untraced"
}

/** Per-span totals of what the Spark scheduler ran. Pure bookkeeping, fed
  * by [[SpanListener]]: a job belongs to the span that was active when it
  * was submitted, and its stages and tasks follow the job.
  */
final class Attribution {
  final class Totals {
    var jobs, stages, tasks, taskNanos, gcNanos = 0L
    var shuffleWrite, shuffleRead, spill = 0L
  }
  private val bySpan = mutable.LinkedHashMap.empty[String, Totals]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val broadcastIds = mutable.Set.empty[Long]
  private var broadcast = 0L

  private def totals(span: String) = bySpan.getOrElseUpdate(span, new Totals)

  def jobStart(span: String, stageIds: Seq[Int]): Unit = synchronized {
    val s = Option(span).getOrElse(Spans.Untraced)
    totals(s).jobs += 1
    stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s))
  }

  def stageCompleted(stageId: Int): Unit = synchronized {
    totals(stageSpan.getOrElse(stageId, Spans.Untraced)).stages += 1
  }

  def taskEnd(stageId: Int, runNanos: Long, gcNanos: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long): Unit = synchronized {
    val t = totals(stageSpan.getOrElse(stageId, Spans.Untraced))
    t.tasks += 1
    t.taskNanos += runNanos
    t.gcNanos += gcNanos
    t.shuffleWrite += shuffleWrite
    t.shuffleRead += shuffleRead
    t.spill += spill
  }

  /** Accumulator ids of a plan's broadcast "data size" metrics. */
  def broadcastMetrics(ids: Iterable[Long]): Unit = synchronized { broadcastIds ++= ids }

  def accumUpdates(updates: Seq[(Long, Long)]): Unit = synchronized {
    updates.foreach { case (id, v) => if (broadcastIds(id)) broadcast += v }
  }

  /** Totals per span and broadcast bytes since the last call; resets both. */
  def drain(): (Map[String, Totals], Long) = synchronized {
    val out = (bySpan.toMap, broadcast)
    bySpan.clear()
    broadcast = 0L
    out
  }
}

/** Feeds scheduler and SQL events into an [[Attribution]]. */
final class SpanListener(attr: Attribution) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    attr.jobStart(Option(e.properties).map(_.getProperty(SpanListener.Key)).orNull,
      e.stageIds)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    attr.stageCompleted(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      attr.taskEnd(e.stageId, m.executorRunTime * 1000000L, m.jvmGCTime * 1000000L,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => attr.broadcastMetrics(SpanListener.broadcastIds(s.sparkPlanInfo))
    case u: SparkListenerSQLAdaptiveExecutionUpdate => attr.broadcastMetrics(SpanListener.broadcastIds(u.sparkPlanInfo))
    case d: SparkListenerDriverAccumUpdates => attr.accumUpdates(d.accumUpdates)
    case _ => ()
  }
}

object SpanListener {
  /** Spark local property that carries the active span into job events. */
  val Key = "perfbench.span"

  def broadcastIds(p: SparkPlanInfo): Seq[Long] =
    (if (p.nodeName.startsWith("BroadcastExchange"))
       p.metrics.filter(_.name == "data size").map(_.accumulatorId)
     else Nil) ++ p.children.flatMap(broadcastIds)
}
