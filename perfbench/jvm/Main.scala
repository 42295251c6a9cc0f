package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.sources.BinaryFileEnvelopeSource

/** JVM side of the benchmark: runs one workload and writes its result as
  * JSON to `--result`. `perfbench/run.py` builds this, starts it, adds the
  * DuckDB oracle check and prints the final line. */
object Main {
  /** Spark runs at `local[Cores]` with as many shuffle partitions. */
  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: Path, result: Path, datagenS: Double)

  final class Result {
    var attempted = 0
    var failed = 0
    val checks = ArrayBuffer.empty[(String, Option[String])]
    val e2e = new Metrics
    val layer = new Metrics
    def attempt(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
    /** A correctness check; `None` means it passed. Counts as one attempted
      * operation, failed when it did not pass. */
    def check(name: String, outcome: => Option[String]): Unit = {
      val r = try outcome catch { case e: Throwable => Some(s"threw $e") }
      r.foreach(m => System.err.println(s"[perfbench] check $name FAILED: $m"))
      checks += name -> r
      attempt(r.isEmpty)
    }
    /** Runs the checks on `threads` threads, records them in order. */
    def checkAll(threads: Int, cs: Seq[(String, () => Option[String])]): Unit = {
      val pool = Executors.newFixedThreadPool(threads)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try cs.map { case (n, c) => n -> Future(c()) }
        .foreach { case (n, f) => check(n, Await.result(f, Duration.Inf)) }
      finally pool.shutdown()
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("work")).toAbsolutePath,
      Paths.get(kv.getOrElse("data", kv("work"))).toAbsolutePath,
      Paths.get(kv("result")).toAbsolutePath, kv.getOrElse("datagen-s", "0").toDouble)
    val spark = session(Cores, o.work)
    try {
      val seamOk = seamDefaultSessionOk(spark, o.work)
      // the one setting the source seam needs (see seamDefaultSessionOk)
      spark.conf.set("spark.sql.streaming.schemaInference", "true")
      val tr = new TraceCtx(spark, o.trace)
      val res = o.workload match {
        case "stream_pipeline" => Streams.run(spark, o, tr)
        case "iterative_chains" => Chains.run(spark, o, tr)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (o.trace) tr.tracer.writeJsonl(o.work.resolve("spans.jsonl"))
      writeResult(o.result, res, seamOk)
    } finally spark.stop()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // dt/hr read back as the strings the sink wrote
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Whether `BinaryFileEnvelopeSource.load` works on a session with default
    * settings, over a directory that holds an envelope. It does not today: a
    * `binaryFile` stream needs a user schema or
    * `spark.sql.streaming.schemaInference=true`. */
  def seamDefaultSessionOk(spark: SparkSession, work: Path): Boolean = {
    val dir = Files.createDirectories(work.resolve("seam"))
    Files.write(dir.resolve("e.json.gz"), Gen.gzip("{}"))
    try { new BinaryFileEnvelopeSource(dir.toString).load(spark); true }
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] seam check: ${e.getMessage.linesIterator.next()}")
      false
    }
  }

  /** Live heap after a full collection, in MB. Collects twice: Spark's
    * context cleaner frees broadcast and checkpoint blocks only after the
    * first collection has cleared their references. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val t0 = System.nanoTime()
  /** A timestamped progress line on the run's log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  private def writeResult(path: Path, r: Result, seamOk: Boolean): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def obj(m: Metrics) = m.toMap.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val checks = (r.checks.map { case (n, c) => s""""$n":${c.isEmpty}""" } :+
      s""""seam_default_session_ok":$seamOk""").mkString("{", ",", "}")
    Files.writeString(path,
      s"""{"attempted":${r.attempted},"failed":${r.failed},"checks":$checks,""" +
      s""""e2e":${obj(r.e2e)},"layer":${obj(r.layer)}}""")
  }

  /** Tracing for `--trace 1`: spans from the benchmark's own calls plus
    * listeners reading Spark from outside. With `--trace 0` only the wave
    * and pass spans are kept and no listener is registered. */
  final class TraceCtx(spark: SparkSession, trace: Boolean) {
    val tracer = new Tracer
    val jobs = new JobListener
    val progress = new ProgressListener
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
    }
    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private def gcMs = gcBeans.map(_.getCollectionTime).sum
    private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    private def artifactDirs: Set[String] =
      Option(tmp.toFile.list()).map(_.toSet).getOrElse(Set.empty).filter(_.startsWith("graft_"))

    // the timed window
    var startNs, startMs, endNs, endMs, gc0, gc1 = 0L
    private var dirs0, dirs1 = Set.empty[String]
    def begin(): Unit = {
      startNs = System.nanoTime(); startMs = System.currentTimeMillis()
      gc0 = gcMs; dirs0 = artifactDirs
    }
    def end(): Unit = {
      endNs = System.nanoTime(); endMs = System.currentTimeMillis()
      gc1 = gcMs; dirs1 = artifactDirs
    }
    def elapsedS: Double = (System.nanoTime() - startNs) / 1e9

    /** Metrics of the whole timed window. */
    def windowLayers(res: Result): Unit = {
      val js = jobs.jobsIn(startMs, endMs).filter(_.endMs >= 0)
      res.layer.put("jvm.gc_ms", (gc1 - gc0).toDouble, "ms")
      res.layer.put("spark.core_busy_share",
        jobs.busyMsIn(startMs, endMs) / ((endNs - startNs) / 1e6 * Cores), "ratio")
      res.layer.put("ops.job_ms_p50",
        if (js.isEmpty) 0.0 else Stats.median(js.map(j => (j.endMs - j.startMs).toDouble)), "ms")
      res.layer.put("artifacts.dirs_built_timed", (dirs1 -- dirs0).size.toDouble, "count")
    }

    /** A query's progress events of batches that started in the window. */
    def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
      progress.of(q.id).filter { p =>
        val t = ProgressListener.startMs(p)
        t >= startMs && t <= endMs
      }
  }
}
