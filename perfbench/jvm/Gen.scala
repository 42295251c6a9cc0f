package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded generator of CloudWatch-subscription envelope waves.
  *
  * A wave is a set of files, one gzip JSON envelope each, that lands in the
  * watched directory at once. Wave `w` covers event time
  * `[t0 + w·span, t0 + (w+1)·span)`; each wave draws from its own random
  * stream, so wave `w` is the same bytes whatever was rendered before it.
  *
  * Planted content, counted in [[Totals]] so a checker can compare:
  *  - v2, v5 and v7 lines; NODATA and SKIPDATA lines; malformed lines that
  *    the parser quarantines;
  *  - port scanners, SYN scanners, beaconing channels, ECS services and
  *    mirrored (bidirectional) flows, so every detector and report has rows;
  *  - lines out of order within the 30-minute watermark (5 minutes early)
  *    and beyond it (3 to 4 hours early, event id suffixed `L`; never in
  *    wave 0, the first wave a query sees, which has no watermark yet);
  *  - a CONTROL_MESSAGE envelope in waves 1, 5, 9, … and a payload that is
  *    not gzip in waves 3, 7, 11, …; both are dropped by the decoder.
  *
  * The span must be at most 20 minutes: a wave split over two micro-batches
  * then still keeps its 5-minutes-early lines above the 30-minute watermark.
  */
final case class GenConfig(seed: Long, envPerWave: Int, linesPerEnv: Int,
    spanS: Long, t0S: Long)

/** Per-wave counts of what the decoder and parser must produce. */
final case class Totals(lines: Long, ok: Long, noData: Long, skipData: Long,
    quarantined: Long, bytesSum: Long, lateBeyond: Long) {
  def +(o: Totals): Totals = Totals(lines + o.lines, ok + o.ok,
    noData + o.noData, skipData + o.skipData, quarantined + o.quarantined,
    bytesSum + o.bytesSum, lateBeyond + o.lateBeyond)
}
object Totals { val zero: Totals = Totals(0, 0, 0, 0, 0, 0, 0) }

final case class Wave(index: Int, files: Seq[(String, Array[Byte])],
    totals: Totals)

object Gen {
  val Account = "123456789012"

  def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream(s.length / 4)
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes(UTF_8)); gz.close()
    bos.toByteArray
  }

  private def envelopeJson(stream: String, events: Seq[(String, Long, String)],
      messageType: String = "DATA_MESSAGE"): String = {
    val sb = new java.lang.StringBuilder(events.size * 160 + 200)
    sb.append("{\"messageType\":\"").append(messageType)
      .append("\",\"owner\":\"").append(Account)
      .append("\",\"logGroup\":\"vpc-flow-logs\",\"logStream\":\"").append(stream)
      .append("\",\"subscriptionFilters\":[\"flowlogs-to-kinesis\"],\"logEvents\":[")
    var first = true
    events.foreach { case (id, tsMs, msg) =>
      if (!first) sb.append(',')
      first = false
      sb.append("{\"id\":\"").append(id).append("\",\"timestamp\":").append(tsMs)
        .append(",\"message\":\"").append(msg).append("\"}")
    }
    sb.append("]}").toString
  }

  /** One wave. Deterministic in (config, w). */
  def wave(c: GenConfig, w: Int): Wave = {
    val rnd = new SplittableRandom(c.seed * 1000003L + w * 7919L + 17L)
    val waveStart = c.t0S + w * c.spanS
    var totals = Totals.zero
    val files = Seq.newBuilder[(String, Array[Byte])]
    for (e <- 0 until c.envPerWave) {
      val eni = s"eni-${rnd.nextInt(64)}"
      val events = Vector.newBuilder[(String, Long, String)]
      var n = 0
      def add(startS: Long, msg: String, late: Boolean): Unit = {
        val id = s"$w.$e.$n" + (if (late) "L" else "")
        events += ((id, startS * 1000L, msg))
        n += 1
      }
      while (n < c.linesPerEnv) {
        val r = rnd.nextDouble()
        // event time: in-wave, 5 minutes early, or beyond the watermark
        val t = rnd.nextDouble()
        val late = w > 0 && t < 0.01
        val startS =
          if (late) waveStart - 3 * 3600 - rnd.nextInt(3600)
          else if (t < 0.06) waveStart - 60 - rnd.nextInt(240)
          else waveStart + rnd.nextLong(c.spanS)
        val endS = startS + 1 + rnd.nextInt(59)
        if (r < 0.02) {
          add(startS, s"2 $Account $eni - - - - - - - $startS $endS - NODATA", late)
          totals = totals.copy(noData = totals.noData + 1)
        } else if (r < 0.03) {
          add(startS, s"2 $Account $eni - - - - - - - $startS $endS - SKIPDATA", late)
          totals = totals.copy(skipData = totals.skipData + 1)
        } else if (r < 0.04) {
          add(startS, s"2 $Account $eni truncated-record ${rnd.nextInt(1000)}", late)
          totals = totals.copy(quarantined = totals.quarantined + 1)
        } else {
          val f = flow(rnd, eni, startS, endS, waveStart, c.spanS)
          add(f.startS, f.line, late && !f.beacon)
          totals = totals.copy(ok = totals.ok + 1, bytesSum = totals.bytesSum + f.bytes)
          if (f.mirror.nonEmpty && n < c.linesPerEnv) {
            add(f.startS, f.mirror.get._1, late && !f.beacon)
            totals = totals.copy(ok = totals.ok + 1,
              bytesSum = totals.bytesSum + f.mirror.get._2)
          }
        }
      }
      val evs = events.result()
      val lateHere = evs.count(_._1.endsWith("L"))
      totals = totals.copy(lines = totals.lines + evs.size,
        lateBeyond = totals.lateBeyond + lateHere)
      files += ((f"w$w%05d-e$e%03d.json.gz", gzip(envelopeJson(eni, evs))))
    }
    if (w % 4 == 1)
      files += ((f"w$w%05d-control.json.gz", gzip(envelopeJson("", Seq(
        ("", waveStart * 1000L,
          "CWL CONTROL MESSAGE: Checking health of destination Kinesis stream.")),
        "CONTROL_MESSAGE"))))
    if (w % 4 == 3)
      files += ((f"w$w%05d-plain.json",
        envelopeJson("eni-plain", Seq(("p", waveStart * 1000L,
          s"2 $Account eni-plain 10.0.0.1 10.0.0.2 1 2 6 1 1 $waveStart $waveStart ACCEPT OK")))
          .getBytes(UTF_8)))
    Wave(w, files.result(), totals)
  }

  private final case class Flow(line: String, startS: Long, bytes: Long,
      beacon: Boolean, mirror: Option[(String, Long)])

  private object Flow {
    def v5(core: String, tcpFlags: Int, direction: String): String =
      s"$core vpc-0a1 subnet-0b${tcpFlags % 3} i-0c1 $tcpFlags IPv4 - - us-east-1 use1-az1 - - - - $direction -"
    def v7(core: String, tcpFlags: Int, direction: String, cluster: String,
        service: String, task: String): String =
      v5(core, tcpFlags, direction) +
        s" arn:aws:ecs:us-east-1:$Account:cluster/$cluster $cluster" +
        s" arn:aws:ecs:ci/$cluster ci-$cluster c-$task - $service" +
        s" arn:aws:ecs:td/$service:1 arn:aws:ecs:task/$task $task"
  }

  private def flow(rnd: SplittableRandom, eni: String, startS0: Long,
      endS0: Long, waveStart: Long, spanS: Long): Flow = {
    val kind = rnd.nextDouble()
    val version = { val v = rnd.nextDouble(); if (v < 0.4) 2 else if (v < 0.7) 5 else 7 }
    var startS = startS0
    var endS = endS0
    var beacon = false
    val (src, dst, srcPort, dstPort, proto, reject) =
      if (kind < 0.03) { // port / SYN scanner
        (s"10.9.0.${rnd.nextInt(4)}", s"10.0.${rnd.nextInt(8)}.${rnd.nextInt(32)}",
          40000 + rnd.nextInt(2000), 1 + rnd.nextInt(1024), 6, rnd.nextDouble() < 0.7)
      } else if (kind < 0.05) { // beacon: fixed channel, minute-aligned
        beacon = true
        val ch = rnd.nextInt(8)
        startS = waveStart + 60L * rnd.nextLong(spanS / 60)
        endS = startS + 2
        (s"10.0.200.$ch", s"10.1.77.$ch", 50000 + ch, 8443, 6, false)
      } else {
        (s"10.0.${rnd.nextInt(16)}.${rnd.nextInt(64)}",
          s"10.1.${rnd.nextInt(30)}.${rnd.nextInt(25)}",
          1024 + rnd.nextInt(60000), Array(80, 443, 22, 53, 5432, 8080)(rnd.nextInt(6)),
          if (rnd.nextInt(3) == 0) 17 else 6, rnd.nextDouble() < 0.15)
      }
    val packets = 1 + rnd.nextInt(200)
    val bytes = 40L * packets + rnd.nextInt(1500)
    val action = if (reject) "REJECT" else "ACCEPT"
    val tcpFlags =
      if (proto == 17) 0
      else if (kind < 0.03) 2
      else Array(2, 18, 16, 3, 19, 1)(rnd.nextInt(6))
    val direction = if (rnd.nextInt(3) == 0) "ingress" else "egress"
    val cluster = s"cl-${rnd.nextInt(3)}"
    val service = s"svc-${rnd.nextInt(6)}"
    val task = s"task-${rnd.nextInt(20)}"
    def render(v: Int, s: String, d: String, sp: Int, dp: Int, b: Long): String = {
      val core = s"$v $Account $eni $s $d $sp $dp $proto $packets $b $startS $endS $action OK"
      v match {
        case 2 => core
        case 5 => Flow.v5(core, tcpFlags, direction)
        case _ => Flow.v7(core, tcpFlags, direction, cluster, service, task)
      }
    }
    val mirror =
      if (!beacon && kind >= 0.05 && rnd.nextDouble() < 0.05) {
        val b2 = 40L * packets + 7
        Some((render(version, dst, src, dstPort, srcPort, b2), b2))
      } else None
    Flow(render(version, src, dst, srcPort, dstPort, bytes), startS, bytes,
      beacon, mirror)
  }
}
