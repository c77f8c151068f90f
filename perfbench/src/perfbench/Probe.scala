package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAccumulator}

import scala.collection.mutable

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work counters over one interval. */
final case class Work(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long, peakExecMem: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, peakExecMem)
}

/** Counts every job, stage and task of every SparkContext in this JVM —
  * including the sessions the CLI creates and stops itself, because it is
  * installed through `spark.extraListeners`. Jobs are attributed to the
  * span named by the `perfbench.span` local property of the thread that
  * submitted them (set by [[Tracer]]). */
class JobProbe(conf: SparkConf) extends SparkListener {
  import JobProbe._
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    span.foreach { s =>
      perSpan(s).jobs.incrementAndGet()
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => perSpan(s).stages.incrementAndGet())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = Option(stageSpan.get(e.stageId)).map(perSpan).toSeq :+ total
      c.foreach { k =>
        k.tasks.incrementAndGet()
        k.taskMs.addAndGet(m.executorRunTime)
        k.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        k.spill.addAndGet(m.diskBytesSpilled)
        k.peak.accumulate(m.peakExecutionMemory)
      }
    }
  }
}

object JobProbe {
  val SpanKey = "perfbench.span"

  final class Counters {
    val jobs, stages, tasks, taskMs, shuffleWrite, spill = new AtomicLong()
    val peak = new LongAccumulator((a, b) => math.max(a, b), 0L)
  }
  private[perfbench] val jobs, stages = new AtomicLong()
  private[perfbench] val total = new Counters
  private val spans = new ConcurrentHashMap[String, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private def perSpan(s: String): Counters = spans.computeIfAbsent(s, _ => new Counters)

  /** Totals so far; `resetPeak` starts a new peak-memory interval. */
  def snapshot(resetPeak: Boolean = false): Work = {
    val w = Work(jobs.get, stages.get, total.tasks.get, total.taskMs.get,
      total.shuffleWrite.get, total.spill.get, total.peak.get)
    if (resetPeak) total.peak.reset()
    w
  }

  def forSpan(s: String): Work = Option(spans.get(s)).map(c =>
    Work(c.jobs.get, c.stages.get, c.tasks.get, c.taskMs.get, c.shuffleWrite.get,
      c.spill.get, c.peak.get)).getOrElse(Work(0, 0, 0, 0, 0, 0, 0))
}

/** Sums each streaming trigger's `durationMs` phases and counts the
  * micro-batches that read input. */
class StreamProbe(conf: SparkConf) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = StreamProbe.synchronized {
    val p = e.progress
    p.durationMs.forEach((k, v) => StreamProbe.phases(k) = StreamProbe.phases.getOrElse(k, 0L) + v)
    if (p.numInputRows > 0) StreamProbe.batches += 1
  }
}

object StreamProbe {
  val Phases = Seq("latestOffset", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets")
  private val phases = mutable.Map.empty[String, Long]
  private var batches = 0L
  def reset(): Unit = synchronized { phases.clear(); batches = 0L }
  def snapshot: (Map[String, Long], Long) = synchronized { (phases.toMap, batches) }
}

/** One recorded span: a call the benchmark made into one layer. */
final case class Span(id: String, name: String, parent: Option[String],
    invocation: String, startNs: Long, endNs: Long, work: Work) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Each span sets `perfbench.span` on the
  * calling thread so the jobs it submits are counted against it; spans
  * are written out once, when the run ends. */
final class Tracer(enabled: Boolean = true) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  private var n = 0
  private var invocation = "inv0"

  def newInvocation(name: String): Unit = { invocation = name; stack = Nil }

  def span[T](name: String, sc: => Option[org.apache.spark.SparkContext])(body: => T): T =
    if (enabled) record(name, sc)(body) else body

  private def record[T](name: String, sc: Option[org.apache.spark.SparkContext])(body: => T): T = {
    n += 1
    val id = s"$invocation/$n:$name"
    val parent = stack.headOption
    val ctx = sc
    val prev = ctx.map(_.getLocalProperty(JobProbe.SpanKey))
    ctx.foreach(_.setLocalProperty(JobProbe.SpanKey, id))
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      ctx.foreach { c =>
        c.setLocalProperty(JobProbe.SpanKey, prev.orNull)
        org.apache.spark.perfbenchshim.Bus.drain(c)
      }
      done += Span(id, name, parent, invocation, t0, t1, JobProbe.forSpan(id))
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** A span's duration minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent.contains(s.id)).map(_.seconds).sum

  def json: String = done.map { s =>
    val p = s.parent.map(x => "\"" + x + "\"").getOrElse("null")
    f"""{"id":"${s.id}","name":"${s.name}","parent":$p,"invocation":"${s.invocation}",""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}%.6f,""" +
      f""""jobs":${s.work.jobs},"stages":${s.work.stages},"tasks":${s.work.tasks},""" +
      f""""task_ms":${s.work.taskMs},"shuffle_write_bytes":${s.work.shuffleWriteBytes}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
