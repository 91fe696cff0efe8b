package perf

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each engine layer.
  *
  * A span is (id, name, parent, request, start, end); spans of one
  * operation share a request id. Nothing is recorded while `enabled` is
  * false, so untraced runs pay one branch per call. When on, the span id
  * rides on the Spark local property [[SpanProp]], and [[SparkCounters]]
  * books every job the engine launches inside the span onto it.
  *
  * Spans stay in memory; [[dump]] writes them out once, at run end.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var request = 0L
  /** Toggled per operation by the traced run to measure its own cost. */
  var active: Boolean = enabled

  val counters: Option[SparkCounters] =
    if (enabled) Some(new SparkCounters(sc)) else None

  def newRequest(): Unit = request += 1

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = open.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.length, name, parent, request, System.nanoTime(), 0L)
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span: its duration minus the union of its children's. */
  def selfNanos: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      s.id -> math.max(0L, s.end - s.start - covered)
    }.toMap
  }

  /** One JSON object per span, with the Spark counters booked on it. */
  def dump(path: java.nio.file.Path): Unit = {
    val c = counters.map(_.snapshot()).getOrElse(Map.empty[Int, Counts])
    val self = selfNanos
    val lines = spans.map { s =>
      val k = c.getOrElse(s.id, Counts())
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        f""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)},""" +
        f""""jobs":${k.jobs},"stages":${k.stages},"tasks":${k.tasks},""" +
        f""""records_read":${k.recordsRead},"bytes_read":${k.bytesRead},""" +
        f""""shuffle_bytes":${k.shuffleBytes},"spill_bytes":${k.spillBytes},""" +
        f""""gc_ms":${k.gcMs},"cpu_ns":${k.cpuNs},"sched_wait_ms":${k.schedWaitMs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perf.span"

  final case class Span(id: Int, name: String, parent: Int, request: Long,
                        start: Long, var end: Long) {
    def ms: Double = (end - start) / 1e6
  }

  /** Spark work booked on one span. */
  final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          recordsRead: Long = 0, bytesRead: Long = 0,
                          shuffleBytes: Long = 0, spillBytes: Long = 0,
                          gcMs: Long = 0, cpuNs: Long = 0, schedWaitMs: Long = 0) {
    def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, recordsRead + o.recordsRead, bytesRead + o.bytesRead,
      shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
      gcMs + o.gcMs, cpuNs + o.cpuNs, schedWaitMs + o.schedWaitMs)
  }
}

/** The benchmark's own listener: books jobs, stages, tasks, records and
  * bytes read, shuffle, spill, GC, executor CPU and scheduler wait (job
  * submit to first task launch) onto the span that launched the job, via
  * the [[Tracer.SpanProp]] local property the job carries. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  import Tracer.Counts

  private final class Job(val span: Int, val submitMs: Long) {
    @volatile var firstLaunchMs: Long = Long.MaxValue
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  private val acc = new ConcurrentHashMap[Int, Counts]()

  sc.addSparkListener(this)

  private def add(span: Int, c: Counts): Unit =
    acc.merge(span, c, (a: Counts, b: Counts) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProp))).map(_.toInt)
    span.foreach { s =>
      val j = new Job(s, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
      add(s, Counts(jobs = 1))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      if (submitted.add(e.stageInfo.stageId))
        add(j.span, Counts(stages = 1))
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      if (m == null) add(j.span, Counts(tasks = 1))
      else add(j.span, Counts(
        tasks = 1,
        recordsRead = m.inputMetrics.recordsRead,
        bytesRead = m.inputMetrics.bytesRead,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        gcMs = m.jvmGCTime,
        cpuNs = m.executorCpuTime))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      if (j.firstLaunchMs != Long.MaxValue)
        add(j.span, Counts(schedWaitMs = j.firstLaunchMs - j.submitMs))
    }

  /** Drain the listener bus, then read every span's counts. */
  def snapshot(): Map[Int, Counts] = {
    org.apache.spark.GraftSparkShim.drainListenerBus(sc)
    acc.asScala.toMap
  }
}
