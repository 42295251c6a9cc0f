package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.flowlog.FlowLog

/** Correctness checks. Each returns None when the output is right, or a
  * one-line reason. Row sets compare as multisets over the columns the
  * reference names, each cast to string, so a duplicated, dropped or
  * changed row shows. */
object Check {
  def sameRows(got: DataFrame, want: DataFrame): Option[String] = {
    val cols = want.columns.toSeq.sorted
    if (!cols.forall(got.columns.contains))
      return Some(s"columns ${cols.mkString(",")} not all in ${got.columns.mkString(",")}")
    val g = fingerprint(got, cols)
    val w = fingerprint(want, cols)
    if (g == w) None
    else Some(s"$g rows/hash sums, want $w (a difference in count is a dropped or duplicated row)")
  }

  /** Order-independent multiset fingerprint: row count and the sums of two
    * independent row hashes (decimal sums, so they never overflow). A
    * duplicated, dropped or changed row moves it. */
  private def fingerprint(df: DataFrame, cols: Seq[String]): (Long, BigDecimal, BigDecimal) = {
    val vals = cols.map(c => coalesce(col(c).cast("string"), lit("\u0000null")))
    val r = df.select(xxhash64(vals: _*).cast("decimal(38,0)").as("a"),
        hash(vals: _*).cast("decimal(38,0)").as("b"))
      .agg(count(lit(1)), sum("a"), sum("b")).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)),
      BigDecimal(Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  /** [[sameRows]] for collected rows. */
  def sameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] = {
    def key(r: Seq[Any]) = r.map(String.valueOf).mkString("\u0001")
    val g = got.map(key).groupBy(identity).map { case (k, v) => k -> v.size }
    val w = want.map(key).groupBy(identity).map { case (k, v) => k -> v.size }
    if (g == w) None
    else {
      val keys = g.keySet ++ w.keySet
      val diff = keys.toSeq.map(k => g.getOrElse(k, 0) - w.getOrElse(k, 0))
      Some(s"${diff.filter(_ > 0).sum} unexpected rows, ${-diff.filter(_ < 0).sum} missing rows")
    }
  }

  /** The five batch reports the landed table exists to serve. */
  val reports: Seq[(String, DataFrame => DataFrame)] = Seq(
    "top_talkers" -> (df => FlowLog.topTalkers(df)),
    "rejected_traffic" -> (df => FlowLog.rejectedTrafficReport(df)),
    "bytes_per_eni_hour" -> (df => FlowLog.bytesPerEniHour(df)),
    "port_scan_suspects" -> (df => FlowLog.portScanSuspects(df)),
    "pair_bidirectional" -> (df => FlowLog.pairBidirectional(df)))

  /** The landed table against the generator: no duplicate event ids, and
    * the per-status line counts and byte sum it planted. */
  def totals(landed: DataFrame, t: Totals): Option[String] = {
    val r = landed.agg(
      count(lit(1)), countDistinct(col("event_id")),
      sum(when(col("log_status") === "OK", 1).otherwise(0)),
      sum(when(col("log_status") === "NODATA", 1).otherwise(0)),
      sum(when(col("log_status") === "SKIPDATA", 1).otherwise(0)),
      sum(when(col("parse_error").isNotNull, 1).otherwise(0)),
      coalesce(sum(col("bytes")), lit(0L))).head()
    val got = (0 until 7).map(i => r.getAs[Number](i).longValue)
    val want = Seq(t.lines, t.lines, t.ok, t.noData, t.skipData, t.quarantined, t.bytesSum)
    if (got == want) None
    else Some(s"(lines, distinct ids, ok, nodata, skipdata, quarantined, bytes) = " +
      s"${got.mkString(",")}, generator planted ${want.mkString(",")}")
  }

  private def day: Column = date_trunc("DAY", col("start_ts")).cast("long").as("day")

  /** Batch twins of the five detectors' FINAL rows for the closed day
    * `day0` (epoch seconds of its midnight), over parsed lines with the
    * planted beyond-watermark lines (event id suffix `L`) removed: the
    * stream drops those, and every other line is inside the watermark. */
  def detectorReference(parsed: DataFrame, day0: Long): Map[String, DataFrame] = {
    val p = parsed.filter(!col("event_id").endsWith("L") &&
      date_trunc("DAY", col("start_ts")).cast("long") === day0)
    val isReject = coalesce(col("action") === "REJECT", lit(false))
    val portScan = p.filter(col("parse_error").isNull && col("dstport").isNotNull &&
        col("srcaddr").isNotNull)
      .withColumn("day", day)
    val portScanRef = FlowLog.portScanSuspects(portScan.filter(col("day") === day0), minPorts = 10)
      .select(col("srcaddr"), lit(day0).as("day"), col("n_ports"), col("n_rejects"))
    val flags = col("tcp_flags").cast("int")
    val syn = (flags.bitwiseAND(lit(2)) =!= 0) && (flags.bitwiseAND(lit(16)) === 0)
    val synRef = p.filter(col("tcp_flags").isNotNull)
      .groupBy(col("srcaddr"), day)
      .agg(countDistinct(when(syn, col("dstport"))).as("n_syn_ports"),
        sum(when(syn, 1L).otherwise(0L)).as("n_syn_flows"),
        sum(when(syn && isReject, 1L).otherwise(0L)).as("n_syn_rejects"),
        count(lit(1)).as("n_flows"))
      .filter(col("n_syn_ports") >= 5)
    val bc = p.filter(col("log_status") === "OK" && col("parse_error").isNull &&
        col("dstport").isNotNull)
      .select(col("srcaddr"), col("dstport").cast("long").as("dstport"), day,
        col("start_ts").cast("long").as("s"))
    val gap = col("s") - lag(col("s"), 1).over(
      Window.partitionBy("srcaddr", "dstport", "day").orderBy("s"))
    val beaconRef = bc.withColumn("g", gap)
      .groupBy("srcaddr", "dstport", "day")
      .agg(count(lit(1)).as("n_flows"), (max("s") - min("s")).as("span_s"),
        coalesce(sum(col("g") * col("g")), lit(0L)).as("ss"))
      .filter(col("n_flows") >= 5)
      .select(col("srcaddr"), col("dstport"), col("day"), col("n_flows"), col("span_s"),
        ((col("n_flows") - 1) * col("ss") - col("span_s") * col("span_s")).as("dispersion"))
    val exfilRef = p.filter(col("flow_direction").isNotNull)
      .groupBy(concat(lit("10.1."), element_at(split(col("dstaddr"), "\\."), 3)).as("subnet"), day)
      .agg(sum(when(col("flow_direction") === "ingress", col("bytes")).otherwise(0L)).as("ingress_bytes"),
        sum(when(col("flow_direction") === "egress", col("bytes")).otherwise(0L)).as("egress_bytes"),
        count(lit(1)).as("n_flows"))
      .filter(col("ingress_bytes") > 0 && col("egress_bytes") > 0)
      .withColumn("exfil_ratio", col("egress_bytes").cast("double") / col("ingress_bytes").cast("double"))
    val ecsRef = p.filter(col("version") === 7 && col("ecs_service_name").isNotNull)
      .groupBy(col("ecs_cluster_name"), col("ecs_service_name"), day)
      .agg(count(lit(1)).as("n_flows"), sum(col("bytes")).as("total_bytes"),
        countDistinct(col("ecs_task_id")).as("n_tasks"))
    Map("port_scan" -> portScanRef, "syn_scan" -> synRef, "beacon" -> beaconRef,
      "exfil" -> exfilRef, "ecs" -> ecsRef)
  }

  /** A detector's FINAL rows for `day0`, with `day` as epoch seconds. */
  def finalRows(alerts: DataFrame, day0: Long): DataFrame = {
    val f = if (alerts.columns.contains("kind")) alerts.filter(col("kind") === "FINAL") else alerts
    f.withColumn("day", col("day").cast("long")).filter(col("day") === day0)
  }
}
