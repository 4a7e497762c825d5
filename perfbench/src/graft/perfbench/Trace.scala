package graft.perfbench

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator

import graft.etl.NeoLoader

/** Span recorder for a layer call. Untraced runs use [[NoTrace]], which only
  * evaluates the body; the traced run uses a [[Tracer]].
  */
trait Trace {
  def apply[T](layer: String, tag: String = "")(body: => T): T
}

object NoTrace extends Trace {
  override def apply[T](layer: String, tag: String)(body: => T): T = body
}

/** Spark counters of one span's own jobs (jobs started while the span was
  * the innermost open one).
  */
final class Counts {
  var jobs, stages, tasks, runMs, cpuNs, shuffleBytes, spillBytes,
      rowsRead, rowsOut, bytesOut = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    rowsRead += o.rowsRead; rowsOut += o.rowsOut; bytesOut += o.bytesOut
  }
}

/** Attributes Spark jobs, stages and tasks to spans through the job-local
  * property [[SpanListener.Key]], which the [[Tracer]] sets before each
  * layer call. Registered by the benchmark for the traced run only.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  val bySpan = new ConcurrentHashMap[Long, Counts]()

  private def counts(span: Long): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.Key)))
      .foreach { s =>
        val span = s.toLong
        counts(span).jobs += 1
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => counts(s).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = counts(s)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.rowsRead += m.inputMetrics.recordsRead
        c.rowsOut += m.outputMetrics.recordsWritten
        c.bytesOut += m.outputMetrics.bytesWritten
      }
    }
}

object SpanListener {
  val Key = "graft.perfbench.span"
}

/** One recorded layer call. `parent` is -1 for a root span. */
final case class Span(id: Long, layer: String, tag: String, parent: Long,
                      start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Records nested spans on the driver thread, keeps them in memory and sets
  * the span id as a job-local property so [[SpanListener]] can attribute
  * each Spark job to the innermost open span.
  */
final class Tracer(sc: SparkContext) extends Trace {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  override def apply[T](layer: String, tag: String)(body: => T): T = {
    val s = Span(spans.size.toLong, layer, tag, open.headOption.fold(-1L)(_.id), System.nanoTime)
    spans += s
    open = s :: open
    val outer = sc.getLocalProperty(SpanListener.Key)
    sc.setLocalProperty(SpanListener.Key, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime
      open = open.tail
      sc.setLocalProperty(SpanListener.Key, outer)
    }
  }

  /** Self time of every span: its duration minus its children's. */
  def selfSeconds: Map[Long, Double] = {
    val child = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }

  /** Each span's counters including those of its descendants. */
  def inclusive(own: Long => Counts): Map[Long, Counts] = {
    val acc = spans.map(s => s.id -> { val c = new Counts; c.add(own(s.id)); c }).toMap
    // children are created after their parents: fold bottom-up
    spans.reverseIterator.filter(_.parent >= 0).foreach(s => acc(s.parent).add(acc(s.id)))
    acc
  }
}

/** Timing decorator around a [[NeoLoader.CypherTransport]]: counts calls,
  * busy nanoseconds and statement bytes in accumulators, so the executor
  * side of the load reports back to the driver.
  */
final class TimedTransport(inner: NeoLoader.CypherTransport, val calls: LongAccumulator,
                           val busyNs: LongAccumulator, val bytes: LongAccumulator)
    extends NeoLoader.CypherTransport {
  override def run(statement: String): Unit = {
    val t0 = System.nanoTime
    try inner.run(statement)
    finally {
      calls.add(1)
      busyNs.add(System.nanoTime - t0)
      bytes.add(statement.getBytes(StandardCharsets.UTF_8).length.toLong)
    }
  }
}

object TimedTransport {
  def apply(sc: SparkContext, inner: NeoLoader.CypherTransport): TimedTransport =
    new TimedTransport(inner, sc.longAccumulator("bolt.calls"),
      sc.longAccumulator("bolt.busy_ns"), sc.longAccumulator("bolt.bytes"))
}
