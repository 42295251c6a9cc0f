package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** `iterative_chains`: the driver-loop queries, called through
  * `SparkEntry.queries` on tables generated from the seed. Each call is
  * timed as build (the call itself, where the eager checkpoint and
  * convergence jobs run), plan (`executedPlan`) and exec (`collect()`).
  *
  * Closed loop, one client: passes over the four queries, one query at a
  * time. The first pass builds the persisted artifacts and compiles the
  * code paths; it is set-up. The last timed pass's rows are written for
  * the DuckDB oracle check, which runs after this JVM exits. */
object Chains {
  /** One query per driver-loop family: the k-core peel, the Louvain
    * sweep, label propagation over ANN pairs and Lloyd rounds. */
  val Queries: Seq[String] = Seq("graph_kcore", "graph_louvain_full",
    "llm_dedup_semantic", "llm_cluster_kmeans")

  final case class Call(q: String, buildNs: Long, planNs: Long, execNs: Long,
      rows: Array[Row], schema: org.apache.spark.sql.types.StructType)

  private def call(spark: SparkSession, dataDir: String, pass: Int, q: String): Call = {
    val sc = spark.sparkContext
    def tagged[A](phase: String)(body: => A): (A, Long) = {
      sc.setLocalProperty(JobListener.Tag, s"$pass/$q/$phase")
      val t0 = System.nanoTime()
      try (body, System.nanoTime() - t0)
      finally sc.setLocalProperty(JobListener.Tag, null)
    }
    val (df, b) = tagged("build")(SparkEntry.queries(q)(spark, dataDir))
    val (_, p) = tagged("plan")(df.queryExecution.executedPlan)
    val (rows, e) = tagged("exec")(df.collect())
    Call(q, b, p, e, rows, df.schema)
  }

  /** One pass; `None` for a query that threw. Records pass → query →
    * build/plan/exec spans. */
  private def pass(spark: SparkSession, tr: Main.TraceCtx, dataDir: String,
      n: Int): Seq[(String, Option[Call])] = {
    val t0 = System.nanoTime()
    val passId = tr.tracer.nextId()
    val calls = Queries.map { q =>
      val s = System.nanoTime()
      val c = try Some(call(spark, dataDir, n, q)) catch { case e: Throwable =>
        System.err.println(s"[perfbench] $q failed: $e"); None }
      c.foreach { c =>
        val id = tr.tracer.add(passId, s"pass-$n", q, "ops", s, s + c.buildNs + c.planNs + c.execNs)
        tr.tracer.add(id, s"pass-$n", "build", "ops.build", s, s + c.buildNs)
        tr.tracer.add(id, s"pass-$n", "plan", "ops.plan", s + c.buildNs, s + c.buildNs + c.planNs)
        tr.tracer.add(id, s"pass-$n", "exec", "ops.exec", s + c.buildNs + c.planNs,
          s + c.buildNs + c.planNs + c.execNs)
      }
      q -> c
    }
    tr.tracer.add(0, s"pass-$n", "pass", "bench", t0, System.nanoTime(), passId)
    calls
  }

  def run(spark: SparkSession, o: Main.Opts, tr: Main.TraceCtx): Main.Result = {
    val res = new Main.Result
    val data = o.data.toString
    val t0 = System.nanoTime()
    pass(spark, tr, data, 0).foreach { case (_, c) => res.attempt(c.nonEmpty) }
    res.e2e.put("setup_s", (System.nanoTime() - t0) / 1e9 + o.datagenS, "s")
    Main.log(f"setup pass: ${(System.nanoTime() - t0) / 1e9}%.2fs")

    val passes = ArrayBuffer.empty[Seq[(String, Option[Call])]]
    tr.begin()
    // at least one pass, then until the run's seconds are spent
    while (passes.isEmpty || tr.elapsedS < o.seconds) {
      val p = pass(spark, tr, data, passes.size + 1)
      p.foreach { case (_, c) => res.attempt(c.nonEmpty) }
      passes += p
    }
    tr.end()
    Main.log(s"timed passes: ${passes.size}")
    val ok = passes.filter(_.forall(_._2.nonEmpty)).map(_.map(_._2.get))
    if (ok.isEmpty) throw new IllegalStateException("no pass completed")
    val passMs = ok.map(_.map(c => (c.buildNs + c.planNs + c.execNs) / 1e6).sum)
    res.e2e.put("latency_ms_p50", Stats.median(passMs.toSeq), "ms")
    res.e2e.put("heap_after_gc_mb", Main.heapAfterGcMb(), "MB")
    res.layer.put("bench.passes_timed", ok.size.toDouble, "count")

    // rows of the last pass, for the oracle check
    val out = o.work.resolve("oracle")
    ok.last.foreach { c =>
      spark.createDataFrame(java.util.Arrays.asList(c.rows: _*), c.schema)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(c.q).toString)
    }
    Queries.foreach(q => Files.writeString(out.resolve(s"$q.sql"), SparkEntry.oracleSql(q)))

    if (o.trace) {
      tr.windowLayers(res)
      val lastPass = passes.size
      Queries.foreach { q =>
        val cs = ok.map(_.find(_.q == q).get)
        Seq("build" -> cs.map(_.buildNs), "plan" -> cs.map(_.planNs), "exec" -> cs.map(_.execNs))
          .foreach { case (ph, ns) =>
            res.layer.put(s"ops.$q.${ph}_ms", Stats.median(ns.map(_ / 1e6).toSeq), "ms")
          }
        def jobs(ph: String) = tr.jobs.jobsTagged(s"$lastPass/$q/$ph")
        val all = Seq("build", "plan", "exec").flatMap(jobs)
        res.layer.put(s"ops.$q.jobs_build", jobs("build").size.toDouble, "count")
        res.layer.put(s"ops.$q.jobs_exec", jobs("exec").size.toDouble, "count")
        res.layer.put(s"ops.$q.stages", all.flatMap(_.stages).distinct.size.toDouble, "count")
        res.layer.put(s"ops.$q.shuffle_write_mb", all.flatMap(_.stages).distinct
          .map(s => Option(tr.jobs.stageShuffleWrite.get(s)).map(_.longValue).getOrElse(0L)).sum / 1048576.0, "MB")
      }
      val spans = tr.tracer.all
      val self = tr.tracer.selfNs
      val ps = spans.filter(s => s.name == "pass" && s.trace != "pass-0")
      res.layer.put("trace.covered_share",
        1.0 - ps.map(s => self(s.id)).sum.toDouble / ps.map(_.durNs).sum, "ratio")
    }
    res
  }
}
