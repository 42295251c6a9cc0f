package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.flowlog.FlowLog
import graft.sources.BinaryFileEnvelopeSource

/** The benchmark's own tests: generator determinism, the correctness
  * checker, the tail-percentile rule and the stall watchdog. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var failures = 0
    def expect(name: String, ok: Boolean): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }

    val g = GenConfig(seed = 7, envPerWave = 4, linesPerEnv = 50, spanS = 1200, t0S = 1704067200L)
    def bytes(w: Wave) = w.files.map { case (n, b) => n -> b.toSeq }
    expect("same seed gives byte-identical waves", bytes(Gen.wave(g, 3)) == bytes(Gen.wave(g, 3)))
    expect("another seed gives different waves",
      bytes(Gen.wave(g, 3)) != bytes(Gen.wave(g.copy(seed = 8), 3)))

    val hundred = (1 to 100).map(_.toDouble)
    expect("p90 of 99 samples is refused (9 beyond it)", Stats.percentile(hundred.tail, 90).isEmpty)
    expect("p90 of 100 samples is 90 (10 beyond it)", Stats.percentile(hundred, 90).contains(90.0))
    expect("p99 of 100 samples is refused", Stats.percentile(hundred, 99).isEmpty)
    expect("the median needs no tail", Stats.percentile(Seq(3.0, 1.0, 2.0), 50).contains(2.0))

    val work = Paths.get(args.headOption.getOrElse(".")).toAbsolutePath
    val spark = Main.session(2, work)
    try {
      val wave = Gen.wave(g, 1)
      val dir = Files.createDirectories(work.resolve("selftest-wave"))
      wave.files.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
      val parsed = FlowLog.parseFlowLogs(FlowLog.decodeEnvelopes(
        spark.read.format("binaryFile").load(dir.toString).select(col("content").as("value"))))
        .localCheckpoint()
      val first = parsed.select("event_id").head().getString(0)
      val duplicated = parsed.unionByName(parsed.filter(col("event_id") === first))
      val dropped = parsed.filter(col("event_id") =!= first)
      expect("rows equal to themselves pass", Check.sameRows(parsed, parsed).isEmpty)
      expect("a duplicated line is caught", Check.sameRows(duplicated, parsed).nonEmpty)
      expect("a dropped line is caught", Check.sameRows(dropped, parsed).nonEmpty)
      expect("the generator's totals match its wave", Check.totals(parsed, wave.totals).isEmpty)
      expect("totals catch a duplicated line", Check.totals(duplicated, wave.totals).nonEmpty)
      expect("totals catch a dropped line", Check.totals(dropped, wave.totals).nonEmpty)
      val report = FlowLog.bytesPerEniHour(parsed).collect().toSeq.map(_.toSeq)
      val wrong = report.updated(0, report.head.updated(2, report.head(2).asInstanceOf[Long] + 1))
      expect("a report equal to itself passes", Check.sameRows(report, report).isEmpty)
      expect("a wrong report row is caught", Check.sameRows(wrong, report).nonEmpty)
      expect("a missing report row is caught", Check.sameRows(report.tail, report).nonEmpty)

      // the stall watchdog: a query still in a batch after the stall limit
      // is stopped, and the drain reports it rather than returning as drained
      spark.conf.set("spark.sql.streaming.schemaInference", "true")
      def start(name: String, body: (DataFrame, Long) => Unit) =
        new BinaryFileEnvelopeSource(dir.toString).load(spark).writeStream
          .option("checkpointLocation", work.resolve(s"selftest-ckpt/$name").toString)
          .foreachBatch(body).start()
      val quick = start("quick", (_, _) => ())
      expect("a query that drains is reported drained", Streams.drain(Seq(quick), stallS = 30))
      quick.stop()
      val slow = start("slow", (_, _) => Thread.sleep(60000))
      val t0 = System.nanoTime()
      val drained = Streams.drain(Seq(slow), stallS = 2)
      expect("a query that never drains is reported stalled",
        !drained && System.nanoTime() - t0 < 30e9 && !slow.isActive)
    } finally spark.stop()
    println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
