package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Spans of one benchmark operation share
  * `op`; `parent` is the enclosing span on the same thread (0 at the top).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Counts of the Spark work one operation caused, summed over its jobs. */
final class OpCounts {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs = 0L
  var recordsRead, bytesRead, bytesWritten = 0L
  var shuffleRead, shuffleWrite, spill = 0L
}

/** The traced run's recorder. Spans are kept in memory and written once,
  * when the run ends. Spark work is attributed to an operation through the
  * job group the benchmark sets on the calling thread (`op-<id>`), read by
  * a [[SparkListener]] registered only for the traced phase.
  */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (span id, op)
  private val counts = new ConcurrentHashMap[Long, OpCounts]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()

  private val listener = new SparkListener {
    private def opOf(props: java.util.Properties): Option[Long] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("op-")).map(_.drop(3).toLong)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      opOf(e.properties).foreach { op =>
        val c = counts.computeIfAbsent(op, _ => new OpCounts)
        c.synchronized { c.jobs += 1 }
        e.stageIds.foreach(s => stageOp.put(s, op))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
        val c = counts.get(op)
        c.synchronized { c.stages += 1 }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        val m = e.taskMetrics
        if (m != null) {
          val c = counts.get(op)
          c.synchronized {
            c.tasks += 1
            c.cpuNs += m.executorCpuTime
            c.gcMs += m.jvmGCTime
            c.recordsRead += m.inputMetrics.recordsRead
            c.bytesRead += m.inputMetrics.bytesRead
            c.bytesWritten += m.outputMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.diskBytesSpilled
          }
        }
      }
  }

  def start(): Unit = sc.addSparkListener(listener)

  /** Deliver every pending listener event, then detach the listener. */
  def stop(): Unit = {
    org.apache.spark.perfbenchshim.Shim.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  def newOp(): Long = ids.incrementAndGet()

  /** Run `f` as operation `op`: its Spark jobs carry the op's job group. */
  def inOp[T](op: Long)(f: => T): T = {
    sc.setJobGroup(s"op-$op", "perfbench", interruptOnCancel = false)
    stack.set((0L, op) :: Nil)
    try f finally { stack.set(Nil); sc.clearJobGroup() }
  }

  /** Time `f` as a span named `name` under the current span. */
  def span[T](name: String)(f: => T): T = {
    val st = stack.get()
    val (parent, op) = st.headOption.getOrElse((0L, 0L))
    val id = ids.incrementAndGet()
    stack.set((id, op) :: st)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(st)
      spans.add(Span(id, parent, op, name, t0, t1))
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Per-operation total of the spans named `name`, in ms. */
  def perOp(name: String): Seq[Double] =
    allSpans.filter(_.name == name).groupBy(_.op).values.map(_.map(_.ms).sum).toSeq

  def countsOf(op: Long): OpCounts = Option(counts.get(op)).getOrElse(new OpCounts)

  /** Write every span as one JSON line: the run's trace file. */
  def write(path: Path): Unit = {
    val sb = new StringBuilder
    allSpans.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    Common.write(path, sb.toString)
  }
}

object Tracer {
  /** Per-op medians of the listener counts for the ops in `ops`. */
  def medianCount(t: Tracer, ops: Seq[Long])(f: OpCounts => Double): Double =
    if (ops.isEmpty) 0.0 else Common.median(ops.map(o => f(t.countsOf(o))))

  def sumCount(t: Tracer, ops: Seq[Long])(f: OpCounts => Double): Double =
    ops.map(o => f(t.countsOf(o))).sum
}
