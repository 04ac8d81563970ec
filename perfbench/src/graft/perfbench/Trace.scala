package graft.perfbench

import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One timed region around a call into a layer. `parent` is the index of
  * the enclosing span (-1 at top level); `op` is the op the span belongs
  * to (-1 for set-up and layer-prefix work).
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int,
                      op: Long)

/** Engine-side counts over an interval, from [[Counters]]. */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
                        shuffleWriteBytes: Long, spillBytes: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes)
}

/** Exact job/stage/task/shuffle/spill counts, summed from listener events.
  * Callers read them through [[Trace.counts]], which drains the listener
  * bus first.
  */
final class Counters extends SparkListener {
  private val jobs, stages, tasks, shuffleWrite, spill = new LongAdder
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def snapshot: Counts = Counts(jobs.sum, stages.sum, tasks.sum,
    shuffleWrite.sum, spill.sum)
}

/** In-memory span recorder plus the listener. Disabled (the untraced
  * run), `span` only runs its body and `counts` is all zeros; enabled, the
  * listener can still be detached around single ops so a traced run can
  * time the same op with and without tracing.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private val counters = new Counters
  private var attached = false
  private var stack: List[Int] = Nil
  var op: Long = -1L

  def attach(on: Boolean): Unit = if (enabled && on != attached) {
    org.apache.spark.perfbenchshim.Bus.drain(sc)
    if (on) sc.addSparkListener(counters) else sc.removeSparkListener(counters)
    attached = on
  }
  attach(true)

  def active: Boolean = enabled && attached

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), -1L, stack.headOption
        .getOrElse(-1), op)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  def counts: Counts =
    if (!active) Counts(0, 0, 0, 0, 0)
    else { org.apache.spark.perfbenchshim.Bus.drain(sc); counters.snapshot }
}
