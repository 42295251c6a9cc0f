package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.flowlog.{FlowLog, FlowLogStream}
import graft.sources.BinaryFileEnvelopeSource
import graft.streaming.StreamOps

/** `stream_pipeline`: the paper's pipeline as deployed. Six queries read
  * one watched directory through `BinaryFileEnvelopeSource`: the sink
  * (decode → parse → `withDatePartitions` → dt/hr-partitioned Parquet via
  * `StreamOps.startParquetSink`) and the five `FlowLogStream` detectors,
  * each appending to its own Parquet alert table.
  *
  * Closed loop, one client: the generator renders a wave, its files are
  * renamed into the watched directory, then every query drains it
  * (`processAllAvailable`) before the next wave is rendered. A wave is
  * timed from its last rename to the moment the slowest query has
  * processed it. Set-up renders wave 0, starts the queries and drains wave
  * 0, so the queries' first planning, code generation and state-store
  * start-up are set-up time. The event time crosses a UTC midnight in
  * timed wave 1 and the watermark closes that day in timed wave 2, so the
  * timed waves include the detectors' day-close retirement. After the timed
  * waves the five batch reports over the landed table and the five alert
  * tables are read back and checked. */
object Streams {
  val EnvPerWave = 16
  val LinesPerEnv = 250
  /** Event time per wave: 20 minutes, the most the 5-minutes-early lines
    * allow (see [[Gen]]), so a run's few waves cross midnight and close a day. */
  val SpanS = 1200L
  /** Timed waves in every run: the watermark closes the first day in wave 2. */
  val MinWaves = 2
  /** The most waves a run lands; a run that drains them all stops early. */
  val MaxWaves = 8
  /** A wave still running after this long counts as stalled and failed. */
  val StallS = 60L
  val SetupReps = 3

  val Detectors: Seq[String] = Seq("port_scan", "syn_scan", "beacon", "exfil", "ecs")

  def genConfig(seed: Long): GenConfig = {
    // a day from the seed; wave 1, the first timed wave, starts at the next
    // UTC midnight, and the watermark closes the day in timed wave 2
    val day = 19723L + Math.floorMod(seed, 300L) // 2024-01-01 + n days
    GenConfig(seed, EnvPerWave, LinesPerEnv, SpanS, (day + 1) * 86400L - SpanS)
  }

  private def startQueries(spark: SparkSession, dir: Path): Seq[(String, StreamingQuery)] = {
    def src = new BinaryFileEnvelopeSource(dir.resolve("in").toString).load(spark)
    def sink(name: String, df: DataFrame, parts: Seq[String] = Nil) =
      name -> StreamOps.startParquetSink(df, dir.resolve(s"out/$name").toString,
        dir.resolve(s"ckpt/$name").toString, parts)
    Seq(
      sink("sink", FlowLog.withDatePartitions(
        FlowLog.parseFlowLogs(FlowLog.decodeEnvelopes(src))), Seq("dt", "hr")),
      sink("port_scan", FlowLogStream.streamPortScan(src, minPorts = 10).toDF()),
      sink("syn_scan", FlowLogStream.streamSynScanRefined(src, minPorts = 5).toDF()),
      sink("beacon", FlowLogStream.streamBeaconRegularity(src, minFlows = 5).toDF()),
      sink("exfil", FlowLogStream.streamExfilRatio(src).toDF()),
      sink("ecs", FlowLogStream.streamEcsServiceTraffic(src, minBytes = 2000000L).toDF()))
  }

  /** Renders wave `w` into `staging/wNNNNN/`, then renames its files into
    * `in`, in name order. */
  private def land(g: GenConfig, staging: Path, in: Path, w: Int): Wave = {
    val wave = Gen.wave(g, w)
    val d = Files.createDirectories(staging.resolve(f"w$w%05d"))
    wave.files.foreach { case (name, bytes) => Files.write(d.resolve(name), bytes) }
    wave.files.map(_._1).sorted.foreach(name =>
      Files.move(d.resolve(name), in.resolve(name), StandardCopyOption.ATOMIC_MOVE))
    wave
  }

  /** Drains every query. False when one of them failed or was stopped, or
    * when a drain ran past `stallS` seconds: the watchdog then stops every
    * query, and `processAllAvailable` on a stopped query returns normally,
    * so the flag, not an exception, reports the stall. */
  def drain(qs: Seq[StreamingQuery], stallS: Long = StallS): Boolean = {
    val stalled = new AtomicBoolean(false)
    val dog = Executors.newSingleThreadScheduledExecutor()
    val alarm = dog.schedule(new Runnable {
      def run(): Unit = {
        stalled.set(true)
        qs.foreach(q => try q.stop() catch { case _: Throwable => () })
      }
    }, stallS, TimeUnit.SECONDS)
    try {
      qs.foreach(_.processAllAvailable())
      !stalled.get && qs.forall(q => q.isActive && q.exception.isEmpty)
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] drain failed: $e")
      false
    } finally { alarm.cancel(false); dog.shutdownNow() }
  }

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def reads(spark: SparkSession, out: Path): Seq[(String, () => DataFrame)] = {
    val landed = spark.read.parquet(out.resolve("sink").toString)
    Check.reports.map { case (n, f) => s"report.$n" -> (() => f(landed)) } ++
      Detectors.map(d => s"alerts.$d" -> (() => spark.read.parquet(out.resolve(d).toString)))
  }

  def run(spark: SparkSession, o: Main.Opts, tr: Main.TraceCtx): Main.Result = {
    val g = genConfig(o.seed)
    val res = new Main.Result
    // set-up, three times in fresh directories: render wave 0, start the
    // queries and drain wave 0 (their first planning, code generation and
    // state-store start-up); the last set-up's queries run the timed waves
    val reps = (1 to SetupReps).map { r =>
      val dir = o.work.resolve(s"rep$r")
      val ((qs, wave0, ok), s) = time {
        val in = Files.createDirectories(dir.resolve("in"))
        val qs = startQueries(spark, dir)
        val wave0 = land(g, dir.resolve("staging"), in, 0)
        (qs, wave0, drain(qs.map(_._2)))
      }
      Main.log(f"setup rep $r: $s%.2fs")
      res.attempt(ok)
      if (!ok) throw new IllegalStateException(s"set-up $r: wave 0 did not drain")
      if (r < SetupReps) { qs.foreach(_._2.stop()); Main.deleteTree(dir) }
      (dir, qs, wave0, s)
    }
    res.e2e.put("setup_s", Stats.median(reps.map(_._4)), "s")
    res.layer.put("bench.first_setup_s", reps.head._4, "s")
    val (dir, qs, wave0, _) = reps.last
    val staging = dir.resolve("staging")
    val in = dir.resolve("in")
    val out = dir.resolve("out")

    val waveMs = ArrayBuffer.empty[Double]
    var landed = wave0.totals
    var envelopes = 0L
    var w = 1
    var ok = true
    tr.begin()
    while (ok && w < MaxWaves && (w <= MinWaves || tr.elapsedS < o.seconds)) {
      val wave = land(g, staging, in, w)
      val t0 = System.nanoTime()
      ok = drain(qs.map(_._2))
      val t1 = System.nanoTime()
      res.attempt(ok)
      if (ok) {
        waveMs += (t1 - t0) / 1e6
        tr.tracer.add(0, s"wave-$w", "wave", "bench", t0, t1)
        envelopes += wave.files.size
      } else System.err.println(s"[perfbench] wave $w stalled or failed; the loop stops")
      // a failed wave's lines are in the directory, so the checks expect them
      landed = landed + wave.totals
      w += 1
    }
    tr.end()
    Main.log(s"timed loop: ${waveMs.size} waves, ms ${waveMs.map(_.round).mkString(" ")}")
    if (waveMs.isEmpty) throw new IllegalStateException("no wave completed")
    res.e2e.put("latency_ms_p50", Stats.median(waveMs.toSeq), "ms")
    res.e2e.put("heap_after_gc_mb", Main.heapAfterGcMb(), "MB")
    res.layer.put("bench.waves_timed", waveMs.size.toDouble, "count")

    val read = readback(res, reads(spark, out), passes = if (o.trace) 2 else 1)
    Main.log("read-back done")

    // the batch path over the same files, decoded once for every check
    val batch = FlowLog.parseFlowLogs(FlowLog.decodeEnvelopes(
      spark.read.format("binaryFile").load(in.toString).select(col("content").as("value"))))
      .localCheckpoint()
    val landedDf = spark.read.parquet(out.resolve("sink").toString)
    val ref = FlowLog.withDatePartitions(batch)
    // the day the watermark has closed: the one before the midnight wave 1 starts at
    val day0 = g.t0S + SpanS - 86400L
    val detRef = Check.detectorReference(batch, day0)
    res.checkAll(Main.Cores, Seq(
      "sink_rows_equal_batch" -> (() => Check.sameRows(landedDf, ref)),
      "sink_totals_equal_generator" ->
        (() => Check.totals(landedDf, landed))) ++
      Check.reports.map { case (n, f) => s"report_$n" ->
        (() => Check.sameRows(read(s"report.$n"), f(ref).collect().toSeq.map(_.toSeq)))
      } ++
      Detectors.map { d => s"detect_${d}_final_equal_batch" -> (() =>
        Check.sameRows(Check.finalRows(spark.read.parquet(out.resolve(d).toString), day0), detRef(d)))
      })
    Main.log("checks done")
    if (o.trace) {
      val files = Files.walk(out.resolve("sink")).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      val dataBatches = tr.progress.of(qs.head._2.id).count(_.numInputRows > 0)
      res.layer.put("streaming.sink_files_total", files.size.toDouble, "count")
      res.layer.put("streaming.sink_files_per_batch", files.size.toDouble / math.max(1, dataBatches), "count")
      res.layer.put("streaming.sink_bytes_per_line", files.map(Files.size).sum.toDouble / landed.lines, "B")
      traceLayers(spark, tr, res, qs, envelopes, batch, in.toString)
    }
    qs.foreach(_._2.stop())
    res
  }

  /** Layer metrics of the traced run: progress events of the timed
    * batches, spans under each wave, and batch calls over the run's files. */
  private def traceLayers(spark: SparkSession, tr: Main.TraceCtx, res: Main.Result,
      qs: Seq[(String, StreamingQuery)], envelopes: Long, batch: DataFrame, inDir: String): Unit = {
    import ProgressListener._
    tr.windowLayers(res)
    val waves = tr.tracer.all.filter(_.name == "wave")
    val all = qs.map { case (name, q) => name -> tr.progressOf(q) }
    // each batch under the wave it started in, its phases laid end to end
    val nsOff = tr.startNs - tr.startMs * 1000000L
    all.foreach { case (name, ps) => ps.foreach { p =>
      val s0 = startMs(p) * 1000000L + nsOff
      val wave = waves.find(wv => s0 >= wv.startNs - 1000000L && s0 < wv.endNs)
      val trace = wave.map(_.trace).getOrElse("between-waves")
      val id = tr.tracer.add(wave.map(_.id).getOrElse(0L), trace, s"batch.$name", "streaming",
        s0, s0 + phaseMs(p, "triggerExecution") * 1000000L)
      var t = s0
      Phases.foreach { ph =>
        val d = phaseMs(p, ph) * 1000000L
        if (d > 0) tr.tracer.add(id, trace, ph, layer(ph), t, t + d)
        t += d
      }
    } }
    val byParent = tr.tracer.all.groupBy(_.parent)
    val phaseCovered = waves.map { wv =>
      tr.tracer.coveredNs(wv, byParent.getOrElse(wv.id, Nil).flatMap(b => byParent.getOrElse(b.id, Nil)))
    }.sum
    res.layer.put("trace.covered_share", phaseCovered.toDouble / waves.map(_.durNs).sum, "ratio")

    val flat = all.flatMap(_._2)
    val data = flat.filter(_.numInputRows > 0)
    def p50(ps: Seq[StreamingQueryProgress], ph: String) =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(phaseMs(_, ph).toDouble))
    res.layer.put("sources.latest_offset_ms_p50", p50(flat, "latestOffset"), "ms")
    res.layer.put("sources.get_batch_ms_p50", p50(data, "getBatch"), "ms")
    res.layer.put("sources.batches_per_wave", flat.size.toDouble / qs.size / waves.size, "count")
    res.layer.put("sources.envelopes_per_batch",
      if (data.isEmpty) 0.0 else data.map(_.numInputRows).sum.toDouble / data.size, "count")
    res.layer.put("flowlog.decodes_per_line", flat.map(_.numInputRows).sum.toDouble / envelopes, "ratio")
    all.foreach { case (name, ps) =>
      Seq("query_planning" -> "queryPlanning", "add_batch" -> "addBatch",
        "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets").foreach {
        case (m, ph) => res.layer.put(s"streaming.$name.${m}_ms_p50", p50(ps, ph), "ms")
      }
      val st = ps.flatMap(_.stateOperators.toSeq)
      if (st.nonEmpty) {
        res.layer.put(s"detect.$name.state_rows_max", st.map(_.numRowsTotal).max.toDouble, "count")
        res.layer.put(s"detect.$name.state_mb_max", st.map(_.memoryUsedBytes).max / 1048576.0, "MB")
        res.layer.put(s"detect.$name.state_commit_ms_p50", Stats.median(st.map(_.commitTimeMs.toDouble)), "ms")
        res.layer.put(s"detect.$name.rows_removed_total", st.map(_.numRowsRemoved).sum.toDouble, "count")
        res.layer.put(s"detect.$name.late_rows_dropped", st.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
      }
    }

    // per-line decode and parse cost: batch calls over the run's files, noop write
    val lines = batch.count().toDouble
    val raw = spark.read.format("binaryFile").load(inDir).select(col("content").as("value"))
    def noopUs(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e3
    }
    noopUs(FlowLog.decodeEnvelopes(raw)) // compile
    val dec = noopUs(FlowLog.decodeEnvelopes(raw))
    val par = noopUs(FlowLog.parseFlowLogs(FlowLog.decodeEnvelopes(raw)))
    res.layer.put("flowlog.decode_us_per_line", dec / lines, "us")
    res.layer.put("flowlog.parse_us_per_line", math.max(0.0, par - dec) / lines, "us")
    res.layer.put("flowlog.quarantined_lines",
      batch.filter(col("parse_error").isNotNull).count().toDouble, "count")
  }

  /** Reads back the five reports over the landed table and the five alert
    * tables, each with `collect()` (count would let the optimizer prune what
    * a user's read materializes), and returns the rows of the last pass. A
    * traced run reads twice and reports the second pass's times per report:
    * the first pass compiles the reads. */
  private def readback(res: Main.Result, calls: Seq[(String, () => DataFrame)],
      passes: Int): Map[String, Seq[Seq[Any]]] = {
    val last = (1 to passes).map { _ =>
      calls.map { case (n, f) =>
        val (rows, s) = time(try Some(f().collect().toSeq.map(_.toSeq)) catch {
          case e: Throwable => System.err.println(s"[perfbench] read-back $n failed: $e"); None })
        res.attempt(rows.nonEmpty)
        (n, s, rows.getOrElse(Nil))
      }
    }.last
    last.foreach { case (n, s, _) =>
      if (n.startsWith("report."))
        res.layer.put(s"flowlog.report_ms.${n.stripPrefix("report.")}", s * 1000.0, "ms")
    }
    last.map(c => c._1 -> c._3).toMap
  }
}
