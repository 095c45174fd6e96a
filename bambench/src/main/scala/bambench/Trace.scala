package bambench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.bam.codec.Pos
import graft.bam.io.SeekableInput

/** Tracing helpers of the traced run. None of them is constructed on the
  * untraced path, so untraced timings load no listener and no wrapper. */

/** One timed interval. `op` groups the spans of one benchmark operation. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; written out once, when the run ends. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  private var open = List.empty[Int] // driver-side nesting stack
  private var ids = 0
  private var nextOp = 0
  private var curOp = -1

  /** Time `f` as span `name`, child of the innermost open span. */
  def apply[T](name: String)(f: => T): T = {
    val (id, parent) = synchronized {
      val p = open.headOption.getOrElse(-1)
      ids += 1
      open = ids :: open
      (ids, p)
    }
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      synchronized {
        open = open.tail
        buf += Span(id, parent, curOp, name, t0, t1)
      }
    }
  }

  /** Root span of one benchmark operation: a fresh op id. */
  def op[T](name: String)(f: => T): T = {
    synchronized { nextOp += 1; curOp = nextOp }
    apply(name)(f)
  }

  /** A span whose interval was measured elsewhere (e.g. a listener). */
  def record(name: String, startNs: Long, endNs: Long): Unit = synchronized {
    ids += 1
    buf += Span(ids, open.headOption.getOrElse(-1), curOp, name, startNs, endNs)
  }

  def all: Seq[Span] = synchronized(buf.toList)

  /** Duration minus the part of it that child spans cover. */
  def selfNs(s: Span, children: Map[Int, Seq[Span]]): Long = {
    val kids = children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    s.durNs - covered
  }

  /** Per span name: count, total seconds, self seconds. */
  def summary: Seq[(String, Int, Double, Double)] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.length, ss.map(_.durNs).sum / 1e9,
        ss.map(s => selfNs(s, children)).sum / 1e9)
    }.sortBy(_._1)
  }

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Counts and times every positioned read; bytes pass through untouched. */
final class CountingInput(in: SeekableInput) extends SeekableInput {
  var calls = 0L
  var bytes = 0L
  var ns = 0L
  override def length: Long = in.length
  override def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
    val t0 = System.nanoTime()
    val n = in.readAt(pos, buf, off, len)
    ns += System.nanoTime() - t0
    calls += 1
    if (n > 0) bytes += n
    n
  }
  override def close(): Unit = in.close()
}

/** Counts and times the checker verdicts of a boundary scan; each verdict
  * is returned unchanged. */
final class CountingAccept(accept: Pos => Boolean) extends (Pos => Boolean) {
  var probes = 0L
  var accepts = 0L
  var ns = 0L
  override def apply(p: Pos): Boolean = {
    val t0 = System.nanoTime()
    val ok = accept(p)
    ns += System.nanoTime() - t0
    probes += 1
    if (ok) accepts += 1
    ok
  }
}

/** Job, task, shuffle and spill tallies from the scheduler, plus one
  * `sql.exec` span per executed query action (event times are wall-clock
  * milliseconds, mapped onto the span clock). */
final class Profile(spans: Spans) extends SparkListener {
  private val taskNs = ArrayBuffer.empty[Long]
  private val execStart = scala.collection.mutable.Map.empty[Long, Long]
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  var jobs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      // CPU time has nanosecond resolution; run time only milliseconds
      taskNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execStart(s.executionId) = s.time * 1000000L + clockOffsetNs)
    case x: SparkListenerSQLExecutionEnd =>
      synchronized(execStart.remove(x.executionId)).foreach { t0 =>
        spans.record("sql.exec", t0, x.time * 1000000L + clockOffsetNs)
      }
    case _ =>
  }

  /** Run `f`, returning the jobs, shuffle bytes and spill bytes it caused.
    * The listener bus is drained before reading. */
  def around[T](spark: org.apache.spark.sql.SparkSession)(f: => T): (T, Delta) = {
    def snap = synchronized(Delta(jobs, shuffleBytes, spillBytes))
    val a = snap
    val r = f
    Profile.drain(spark)
    val b = snap
    (r, Delta(b.jobs - a.jobs, b.shuffleBytes - a.shuffleBytes, b.spillBytes - a.spillBytes))
  }

  /** CPU seconds of every task that ended while registered. */
  def taskSeconds: Seq[Double] = synchronized(taskNs.map(_ / 1e9).toList)
}

final case class Delta(jobs: Long, shuffleBytes: Long, spillBytes: Long)

object Profile {
  /** Block until every event posted so far has reached the listeners. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.BenchListenerBus.drain(spark.sparkContext)
}
