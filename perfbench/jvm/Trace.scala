package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A span: one interval of work at a layer boundary. Spans of one wave or
  * pass share `trace`; `parent` is the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store, written out as JSON lines when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** An id for a span whose children are recorded before it ends. */
  def nextId(): Long = ids.incrementAndGet()

  def add(parent: Long, trace: String, name: String, layer: String,
      startNs: Long, endNs: Long, id: Long = nextId()): Long = {
    spans.add(Span(id, parent, trace, name, layer, startNs, endNs))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** The part of `s` that the union of `kids` covers, in ns. */
  def coveredNs(s: Span, kids: Seq[Span]): Long = {
    val iv = kids.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Span duration minus the part of it that its children cover. */
  def selfNs: Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map(s => s.id -> (s.durNs - coveredNs(s, kids.getOrElse(s.id, Nil)))).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val lines = all.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}","layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark scheduler events, kept with the `perfbench.tag` local property the
  * benchmark sets around each public call. */
final class JobListener extends SparkListener {
  import JobListener.Job
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stageShuffleWrite = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (task end ms, executor run ms) */
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.Tag)))
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, tag, e.time, -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null)
      stageShuffleWrite.put(e.stageInfo.stageId, m.shuffleWriteMetrics.bytesWritten)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      tasks.add((e.taskInfo.finishTime, e.taskMetrics.executorRunTime))

  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
  def jobsTagged(tag: String): Seq[Job] = jobs.values.asScala.toSeq.filter(_.tag == tag)
  def busyMsIn(fromMs: Long, toMs: Long): Long =
    tasks.asScala.filter(t => t._1 >= fromMs && t._1 <= toMs).map(_._2).sum
}

object JobListener {
  val Tag = "perfbench.tag"
  final case class Job(id: Int, tag: String, startMs: Long, var endMs: Long, stages: Seq[Int])
}

/** Every streaming progress event, by query id. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.id == id).sortBy(_.batchId)
}

object ProgressListener {
  /** The micro-batch phases, in the order a batch runs them. */
  val Phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")
  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
  def phaseMs(p: StreamingQueryProgress, phase: String): Long =
    Option(p.durationMs.get(phase)).map(_.longValue).getOrElse(0L)
  /** A phase's layer: the source lists and reads, the engine plans and
    * logs, and addBatch runs decode, parse and the sink or state write. */
  def layer(phase: String): String = phase match {
    case "latestOffset" | "getBatch" => "sources"
    case "addBatch" => "flowlog+sink"
    case _ => "streaming"
  }
}

/** Metrics by name: value and unit. */
final class Metrics {
  private val m = mutable.Map.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def toMap: Map[String, (Double, String)] = m.toMap
}
