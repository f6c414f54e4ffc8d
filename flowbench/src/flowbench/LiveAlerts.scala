package flowbench

import graft.config.MoConfig
import graft.filter.{Compiler, FilterEnv}
import graft.operators.Fwm
import graft.sinks.SqlExport
import graft.sources.{NetflowDecoder, UdpCollector}
import graft.streaming.{ExtStatsGate, MavgStream, Pipeline}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.io.File
import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress}
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `live_alerts`: one sender thread offers NetFlow v5 over loopback UDP
  * at a fixed rate to a `UdpCollector`; the spool is tailed by a
  * streaming query through `decodeStream` and `Pipeline.build` (one
  * 2-second fwm section, one 1-second mavg section with an overlimit).
  * Breaches are scheduled for known keys at known times.
  *
  * Schedule seconds are numbered globally (`r`); second `r` always
  * carries the same packets for a seed. Packets are due inside
  * [30 ms, 950 ms] of their wall-clock second, so the collector stamps
  * each with its scheduled second. Both queries trigger every
  * `WindowSec` seconds on the wall-clock grid the fwm windows and the
  * offers start on, so a window's export waits for a fixed number of
  * triggers rather than for wherever free-running micro-batches happen
  * to fall. */
final class LiveAlerts(a: Args, ctx: Ctx, dir: File) extends Workload {
  import LiveAlerts._

  private val rate = if (a.smoke) 40 else PacketsPerSec
  private var nextR = 0

  /** Ground truth of schedule second `r`: octets per destination host
    * (passing the MO filter), the due offset in µs of each host's last
    * contributing packet, and flow counts. */
  private final case class Second(sums: SumMap, lastUs: SumMap, flows: Long,
                                  passing: Long)
  private val truth = new ConcurrentHashMap[Int, Second]()

  private def offsetUs(j: Int): Long =
    if (j < 0) BreachOffsetUs else 30000L + j.toLong * 920000L / rate

  private def breachHost(r: Int): Option[Long] =
    if (r >= WarmupSec) Some(HostBase + (r * 37L) % Hosts) else None

  private def packetFlows(r: Int, j: Int): Flows =
    if (j < 0) {
      val f = new Flows(1)
      f.add(Rng.ip(172, 16, 0, 1), breachHost(r).get, 40000, 80, 6,
        BreachOctets, 1000000L, 0L, 1)
      f
    } else {
      val rng = new SplittableRandom(a.seed * 7919L + r * 100003L + j)
      val f = new Flows(FlowsPerPacket)
      (0 until FlowsPerPacket).foreach { _ =>
        val pk = 1 + rng.nextInt(10)
        f.add(Rng.ip(172, 16, 0, 0) + rng.nextInt(65536),
          HostBase + rng.nextInt(Hosts), 1024 + rng.nextInt(60000),
          Seq(80, 443, 53)(rng.nextInt(3)),
          if (rng.nextDouble() < 0.9) 6 else 17,
          pk.toLong * (40 + rng.nextInt(1460)), pk.toLong, 0L, 1)
      }
      f
    }

  /** Packets of second `r` in due order: (offset µs, packet index; -1 is
    * the breach packet). */
  private def schedule(r: Int): Seq[(Long, Int)] =
    ((0 until rate).map(j => offsetUs(j) -> j) ++
      breachHost(r).map(_ => offsetUs(-1) -> -1)).sortBy(_._1)

  private def second(r: Int): Second = truth.computeIfAbsent(r, { _ =>
    val sums = new SumMap(512)
    val last = new SumMap(512)
    var flows = 0L
    var passing = 0L
    schedule(r).foreach { case (off, j) =>
      val f = packetFlows(r, j)
      (0 until f.n).foreach { i =>
        flows += 1
        if (f.proto(i) == 6) {
          passing += 1
          sums.add(f.dst(i), f.octets(i))
          last.max(f.dst(i), off)
        }
      }
    }
    Second(sums, last, flows, passing)
  })

  /** Datagram `j` of schedule second `r` as sent in wall second `sec`. */
  private[flowbench] def datagram(r: Int, j: Int, sec: Long): Array[Byte] = {
    val f = packetFlows(r, j)
    Wire.v5(f, 0, f.n, sec, j.toLong, 1)
  }

  /** Expected rows of schedule second `r` exported as wall second `sec`. */
  private[flowbench] def expectedRows(r: Int, sec: Long): Seq[Expect.Row] =
    Expect.topN(Map(sec -> second(r).sums), Limit)

  def sizes: Map[String, Long] = Map("packets_per_s" -> rate.toLong,
    "flows_per_packet" -> FlowsPerPacket.toLong,
    "warmup_s" -> WarmupSec.toLong, "tail_s" -> TailSec.toLong)

  def generate(): Unit = (0 until WarmupSec).foreach(second)

  // --- sender ------------------------------------------------------------
  /** Offers schedule seconds [firstR, firstR + n) starting at the wall
    * second `baseSec`, one datagram at a time from one socket. */
  private final class Sender(port: Int, baseSec: Long, firstR: Int, n: Int)
      extends Thread("flowbench-sender") {
    setDaemon(true)
    @volatile var halt = false
    @volatile var sent = 0L
    @volatile var maxLagMs = 0.0
    private val nanoBase =
      System.nanoTime() + (baseSec * 1000L - System.currentTimeMillis()) *
        1000000L

    override def run(): Unit = {
      val sock = new DatagramSocket()
      val to = new InetSocketAddress("127.0.0.1", port)
      try (0 until n).foreach { k =>
        val r = firstR + k
        schedule(r).foreach { case (off, j) =>
          if (!halt) {
            val due = nanoBase + k * 1000000000L + off * 1000L
            var wait = due - System.nanoTime()
            while (wait > 0) { LockSupport.parkNanos(wait)
              wait = due - System.nanoTime() }
            maxLagMs = math.max(maxLagMs, -wait / 1e6)
            val f = packetFlows(r, j)
            val p = Wire.v5(f, 0, f.n, baseSec + k, sent, 1)
            sock.send(new DatagramPacket(p, p.length, to))
            sent += 1
          }
        }
      } finally sock.close()
    }
  }

  // --- the pipeline ------------------------------------------------------
  private var fwm: Fwm.Conf = _
  private var pred: org.apache.spark.sql.Column = _
  private val sqlConf = SqlExport.Conf("live", "w1", ipCols = Set("dst_host"))
  private var collector: UdpCollector = _
  private var queries: Seq[StreamingQuery] = Nil
  private var spool: File = _
  @volatile private var schema: StructType = _
  /** Window exports as (emit ms, SQL text) and alert starts as (key,
    * handled ms). */
  private val exports = new ConcurrentLinkedQueue[(Long, String)]
  private val starts = new ConcurrentLinkedQueue[(String, Long)]
  private val handleMs = new ConcurrentLinkedQueue[Double]
  /** Wall second → schedule second, for every second offered. */
  private val secondOf = new ConcurrentHashMap[Long, Int]()
  private var sentTotal = 0L

  def setup(spark: SparkSession): Unit = {
    val base = new File(dir, "run")
    spool = new File(base, "spool")
    // one state partition: the stream is small, and a micro-batch is
    // mostly fixed per-task and per-state-store cost
    spark.conf.set("spark.sql.shuffle.partitions", 1L)
    val env = FilterEnv.flow(spark)
    val (mo, configMs) = Check.timed(MoConfig.parse("live", MoJson))
    val (p, filterMs) = Check.timed(Compiler.filterColumn(mo.filter, env)
      .fold(e => sys.error(e), identity))
    pred = p
    ctx.metric("config.compile_ms", configMs, "ms")
    ctx.metric("filter.compile_ms", filterMs, "ms")
    val s = mo.fwm.head
    fwm = Fwm.Conf(s.name, s.fields, s.timeSec, s.limit)
    collector = new UdpCollector(spool.getPath, rotateMillis = RotateMs)
    val src = spark.readStream.format("pktdump").option("strict", "true")
      .load(spool.getPath)
    val flows = NetflowDecoder.decodeStream(src, "flowbench-live")
      .withColumn("ts", col("ts_sec").cast("timestamp"))
    val (fwms, mavgs) = Pipeline.build(mo, flows, env)
    val gate = new ExtStatsGate
    val fwmQ = fwms.head.windowed.writeStream.outputMode("append")
      .queryName("fwm")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", new File(base, "ck-fwm").getPath)
      .foreachBatch(Pipeline.fwmBatchWriter(fwms.head, gate) { df =>
        if (schema == null) schema = df.schema
        val sql = SqlExport.exportSql(df, sqlConf)
        exports.add((System.currentTimeMillis(), sql)); ()
      }).start()
    val sink = Pipeline.alertSink(mavgs.head,
      new File(base, "notif").getPath)
    val write = Pipeline.alertBatchWriter(mavgs.head, gate, sink)
    val mavgQ = mavgs.head.alerts.writeStream.outputMode("append")
      .queryName("mavg")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", new File(base, "ck-mavg").getPath)
      .foreachBatch { (ds: Dataset[MavgStream.AlertRow], id: Long) =>
        ds.persist()
        try {
          val (_, ms) = Check.timed(write(ds, id))
          val at = System.currentTimeMillis()
          handleMs.add(ms)
          ds.collect().filter(_.event == "start")
            .foreach(e => starts.add((e.key, at)))
        } finally { ds.unpersist(); () }
      }.start()
    queries = Seq(fwmQ, mavgQ)
  }

  /** Fixed warm-up: `WarmupWindows` windows of traffic and the second
    * that closes the last, until that window is out (the first
    * micro-batches run slower for a few windows). */
  def warmUp(spark: SparkSession): Unit = {
    // the wait for the next window start is the schedule's, not the
    // engine's: sleep untimed to 50 ms before it
    untimed {
      val rest = nextWindowSec() * 1000L - System.currentTimeMillis()
      if (rest > 50L) Thread.sleep(rest - 50L)
    }
    val (baseSec, _) = offer(WarmupSec)
    if (!awaitWindow(baseSec + WarmupSec - 1 - WindowSec, 30000L))
      ctx.note("warm-up windows not exported within 30 s")
  }

  /** Offer `n` schedule seconds from the next window start; returns
    * (first wall second, first schedule second). */
  private def offer(n: Int): (Long, Int) = {
    finishSender()
    val baseSec = nextWindowSec()
    val firstR = nextR
    nextR += n
    (0 until n).foreach(k => secondOf.put(baseSec + k, firstR + k))
    val s = new Sender(collector.localPort, baseSec, firstR, n)
    s.start()
    sender = s
    (baseSec, firstR)
  }
  private var sender: Sender = _

  private def finishSender(): Unit = if (sender != null) {
    sender.join()
    sentTotal += sender.sent
    maxLagMs = math.max(maxLagMs, sender.maxLagMs)
    sender = null
  }

  private val WindowRe = raw"to_timestamp\((\d+)\)".r
  private def windowsOf(sql: String): Seq[Long] =
    WindowRe.findAllMatchIn(sql).map(_.group(1).toLong).toSeq.distinct

  /** Block until window `w` has been exported (or the deadline passes). */
  private def awaitWindow(w: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!exports.asScala.exists(e => windowsOf(e._2).exists(_ >= w)) &&
           System.currentTimeMillis() < deadline) {
      queries.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(20)
    }
    System.currentTimeMillis() < deadline
  }

  private def await(cond: => Boolean, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    cond
  }

  /** The offered seconds of the window starting at wall second `w`, as
    * (wall second, ground truth). */
  private def windowSeconds(w: Long): Seq[(Long, Second)] =
    (w until w + WindowSec).filter(secondOf.containsKey)
      .map(s => s -> second(secondOf.get(s)))

  /** Octets per destination host in window `w`. */
  private def windowSums(w: Long): SumMap = {
    val sums = new SumMap(512)
    windowSeconds(w).foreach(_._2.sums.foreach(sums.add))
    sums
  }

  /** Expected rows of the windows in `ws` (window starts, wall seconds). */
  private def expectedRows(ws: Seq[Long]): Seq[Expect.Row] =
    Expect.topN(ws.map(w => w -> windowSums(w)).toMap, Limit)

  /** Wall ms of each key's last contributing event in window `w`. */
  private def lastEventMs(w: Long): SumMap = {
    val last = new SumMap(512)
    windowSeconds(w).foreach { case (s, sec) =>
      sec.lastUs.foreach((k, us) => last.max(k, s * 1000L + us / 1000L))
    }
    last
  }

  /** The first wall second, from one second ahead, that starts a window. */
  private def nextWindowSec(): Long = {
    val s = System.currentTimeMillis() / 1000L + 1
    s + (WindowSec - s % WindowSec) % WindowSec
  }

  /** Run `m` measured seconds (whole windows) plus the closing tail;
    * checks every export and alert and returns the delivered rate and
    * latencies. */
  private def run(spark: SparkSession, m: Int): Measured = {
    val mark = exports.size
    (nextR until nextR + m + TailSec).foreach(second)
    val (baseSec, firstR) = offer(m + TailSec)
    val samples = mutable.ArrayBuffer.empty[Int]
    while (sender.isAlive) {
      samples += backlogFiles()
      Thread.sleep(100)
    }
    finishSender()
    checkBacklog(samples.toSeq)
    ctx.meta("generator_lag_ms_max") = maxLagMs
    val lastW = baseSec + m - WindowSec
    val breaches = (firstR until firstR + m + TailSec)
      .flatMap(r => breachHost(r).map(h => (r, h)))
    if (!awaitWindow(lastW, 30000L))
      ctx.note(s"window $lastW not exported within 30 s")
    await(breaches.forall(b => starts.asScala.exists(_._1 == ip(b._2))),
      10000L)
    // every export of this run, checked against the ground truth
    val emitted = mutable.Map.empty[Long, Long]
    exports.asScala.drop(mark).foreach { case (at, sql) =>
      val ws = windowsOf(sql).filter(secondOf.containsKey)
      if (ws.nonEmpty) {
        val ok = sql == Check.expectedSql(spark, schema, expectedRows(ws),
          Seq("dst_host"), k => Seq(k), sqlConf)
        ctx.attempt(ws.size, if (ok) 0 else ws.size,
          s"windows ${ws.mkString(",")}: SQL export differs")
        if (ok) ws.foreach(w => emitted(w) = at)
      }
    }
    val measured = (baseSec to lastW by WindowSec)
    val missing = measured.count(w => !emitted.contains(w))
    ctx.attempt(missing, missing, s"$missing windows never exported")
    // latency per result row: last contributing event → export
    val lat = measured.filter(emitted.contains).flatMap { w =>
      val last = lastEventMs(w)
      val rows = expectedRows(Seq(w))
      val top = rows.flatMap(_.key).toSet
      var othersLast = 0L
      last.foreach((k, v) => if (!top(k)) othersLast = math.max(othersLast, v))
      rows.map(r => (emitted(w) - r.key.map(k => last.get(k).get)
        .getOrElse(othersLast)).toDouble)
    }
    val got = starts.asScala.toSeq
    breached ++= breaches.map(b => ip(b._2))
    val alertLat = breaches.flatMap { case (r, h) =>
      got.find(_._1 == ip(h)).map(_._2 - (baseSec + r - firstR) * 1000L -
        BreachOffsetUs / 1000L).map(_.toDouble)
    }
    ctx.attempt(breaches.size, breaches.size - alertLat.size,
      "expected alerts missing")
    val unexpected = got.count(g => !breached(g._1))
    ctx.attempt(0, unexpected, s"$unexpected alerts for unbreached keys")
    val flows = measured.filter(emitted.contains)
      .flatMap(windowSeconds).map(_._2.flows).sum
    val span = emitted.get(lastW).map(_ - (baseSec * 1000L)).getOrElse(0L)
    Measured(flows, if (span > 0) span / 1e3 else m.toDouble, lat,
      alertLat)
  }
  private var maxLagMs = 0.0
  private var backlogMax = 0

  /** A pipeline that falls behind the offered rate invalidates the run.
    * The backlog, sampled every 100 ms, climbs while a micro-batch runs
    * and drops when it commits; the value after each drop is the spool
    * written during that batch. Those troughs may rise by at most
    * `BacklogRiseSec` of spool files over the run, and the backlog may
    * never exceed `BacklogMaxSec` of them. */
  private def checkBacklog(samples: Seq[Int]): Unit = {
    backlogMax = if (samples.isEmpty) 0 else samples.max
    ctx.meta("backlog_files") = samples
    val perSec = 1000L / RotateMs
    val troughs = samples.sliding(2).collect { case Seq(x, y) if y < x => y }
      .toSeq
    val rise = if (troughs.size < 2) 0 else troughs.last - troughs.head
    ctx.attempt(1, if (rise <= BacklogRiseSec * perSec &&
        backlogMax <= BacklogMaxSec * perSec) 0 else 1,
      s"spool backlog fell behind: troughs $troughs, peak $backlogMax files")
  }

  /** Keys breached so far. */
  private val breached = mutable.Set.empty[String]

  private def ip(h: Long): String =
    Seq(24, 16, 8, 0).map(s => (h >> s) & 0xff).mkString(".")

  /** Spooled files the fwm query has not consumed yet. */
  private def backlogFiles(): Int = {
    val done = Option(queries.head.lastProgress)
      .flatMap(p => p.sources.headOption).map(_.endOffset)
      .map(_.replaceAll("^\"|\"$", "")).map(s => s.substring(
        s.lastIndexOf('/') + 1)).getOrElse("")
    Option(spool.list()).toSeq.flatten
      .count(f => f.startsWith("seg-") && f > done)
  }

  /** Whole windows, at least two, closest to `seconds`. */
  private def windowed(seconds: Double): Int =
    math.max(2, math.round(seconds / WindowSec).toInt) * WindowSec

  def measure(spark: SparkSession, seconds: Double): Measured =
    run(spark, windowed(seconds))

  override def teardown(): Unit = {
    if (sender != null) sender.halt = true
    finishSender()
    if (collector != null)
      await(collector.packetsReceived.get >= sentTotal, 2000L)
    queries.foreach(_.stop())
    queries = Nil
    if (collector != null) {
      ctx.attempt(sentTotal, math.max(0L, sentTotal -
        collector.packetsReceived.get), "UDP packets not spooled")
      collector.close()
      collector = null
    }
  }

  /** Spool files in collector order. */
  private def spoolFiles: Seq[File] = Option(spool.listFiles()).toSeq.flatten
    .filter(_.getName.startsWith("seg-")).sortBy(_.getName)

  /** Batch replay of every datagram spooled so far on a one-slot session:
    * decode → filter → fwm top-N → SQL export, checked like the live
    * windows (every sum `ReplayCopies` times over); the rate is the
    * median of at least `ReplayReports` reports. The datagrams are
    * copied `ReplayCopies` times into one capture file: replaying the
    * spool's ten files a second measured mostly per-file task cost, and
    * a report of one copy mostly per-job cost; either moved by a sixth
    * to a quarter between runs. */
  def measureOneSlot(spark: SparkSession, seconds: Double): Measured = {
    val env = FilterEnv.flow(spark)
    val replay = new File(dir, "replay")
    val datagrams = spoolFiles.flatMap(DumpFile.read)
    DumpFile.write(new File(replay, "live.gpkd"),
      Seq.fill(ReplayCopies)(datagrams).flatten)
    val windows = secondOf.asScala.keys.toSeq.map(s => s - s % WindowSec)
      .distinct.sorted
    def report(): DataFrame = Fwm.batch(NetflowDecoder.decode(
      spark.read.format("pktdump").load(replay.getPath)).filter(pred), env,
      fwm, col("ts_sec"))
    val expected = Check.expectedSql(spark, report().schema,
      expectedRows(windows).map(r => r.copy(value = r.value * ReplayCopies)),
      Seq("dst_host"), k => Seq(k), sqlConf)
    val flows = secondOf.asScala.values.toSeq.map(second(_).flows).sum *
      ReplayCopies
    SqlExport.exportSql(report(), sqlConf) // first job of the fresh session
    val lat = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var good = 0L
    while (lat.size < ReplayReports ||
           (System.nanoTime() - t0) / 1e9 < seconds) {
      val (sql, ms) = Check.timed(SqlExport.exportSql(report(), sqlConf))
      ctx.attempt(1, if (sql == expected) 0 else 1,
        "one-slot replay: SQL export differs")
      if (sql == expected) good += flows
      lat += ms
      rates += (if (sql == expected) flows / (ms / 1e3) else 0.0)
    }
    Measured(good, (System.nanoTime() - t0) / 1e9, lat.toSeq,
      passRates = rates.toSeq, passFlows = flows)
  }

  def traced(spark: SparkSession, seconds: Double): Measured = {
    val listener = new StreamListener
    spark.streams.addListener(listener)
    val m = try run(spark, windowed(seconds))
    finally spark.streams.removeListener(listener)
    val batches = listener.batches.asScala.toSeq
    def p50(key: String) = Stats.median(batches.flatMap(_.durations.get(key))
      .map(_.toDouble))
    val trig = batches.flatMap(_.durations.get("triggerExecution"))
      .map(_.toDouble)
    ctx.metric("streaming.batches", batches.size.toDouble, "count")
    ctx.metric("streaming.trigger_ms_p50", Stats.median(trig), "ms")
    ctx.metric("streaming.trigger_ms_ptail", Stats.ptail(trig)._1, "ms")
    ctx.metric("streaming.add_batch_ms_p50", p50("addBatch"), "ms")
    ctx.metric("streaming.query_planning_ms_p50", p50("queryPlanning"), "ms")
    ctx.metric("streaming.latest_offset_ms_p50", p50("latestOffset"), "ms")
    ctx.metric("streaming.wal_commit_ms_p50", p50("walCommit"), "ms")
    ctx.metric("streaming.commit_offsets_ms_p50", p50("commitOffsets"), "ms")
    val byQuery = batches.groupBy(_.query)
    ctx.metric("streaming.state.rows", byQuery.values
      .map(_.map(_.stateRows).max).sum.toDouble, "count")
    ctx.metric("streaming.state.memory_mb", byQuery.values
      .map(_.map(_.stateMem).max).sum / 1048576.0, "MB")
    ctx.metric("streaming.state.commit_ms_p50",
      Stats.median(batches.map(_.stateCommitMs.toDouble)), "ms")
    ctx.metric("streaming.backlog_files_max", backlogMax.toDouble, "count")
    ctx.metric("streaming.watermark_lag_ms_p50", Stats.median(
      byQuery.getOrElse("fwm", Nil).flatMap(b => b.watermarkMs
        .map(w => (b.atMs - w).toDouble))), "ms")
    ctx.metric("sinks.alert.events", starts.size.toDouble, "count")
    ctx.metric("sinks.alert.handle_ms_p50",
      Stats.median(handleMs.asScala.toSeq), "ms")
    ctx.metric("sinks.alert.latency_ms_p50", Stats.median(m.alertMs), "ms")
    ctx.metric("sinks.alert.latency_ms_ptail", Stats.ptail(m.alertMs)._1,
      "ms")
    ctx.metric("sinks.sqlexport.bytes", Stats.median(exports.asScala.toSeq
      .filter(e => windowsOf(e._2).nonEmpty).map(_._2.length.toDouble)),
      "bytes")
    ctx.metric("operators.fwm.groups_out", Stats.median(secondOf.asScala
      .keys.toSeq.map(s => s - s % WindowSec).distinct.map(w =>
        windowSums(w).size.toDouble)), "count")
    ctx.metric("operators.topk.rows_out", Limit + 1.0, "count")
    val offered = secondOf.asScala.values.toSeq.map(second)
    ctx.metric("filter.pass_ratio", offered.map(_.passing).sum.toDouble /
      math.max(1L, offered.map(_.flows).sum), "ratio")
    ctx.metric("bench.generator_lag_ms_max", maxLagMs, "ms")
    ctx.metric("sources.udp.packets_spooled",
      collector.packetsReceived.get.toDouble, "count")
    ctx.metric("sources.udp.drop_ratio", 1.0 - collector.packetsReceived.get
      .toDouble / math.max(1L, sentTotal), "ratio")
    DecodeCounts.report(ctx, Seq(spoolFiles -> DecodeCounts.netflow()))
    m
  }
}

object LiveAlerts {
  val PacketsPerSec = 400
  val FlowsPerPacket = 30
  val Hosts = 256
  val HostBase: Long = Rng.ip(10, 1, 0, 0)
  /** fwm window and trigger interval, seconds. */
  val WindowSec = 2
  val TriggerMs: Long = WindowSec * 1000L
  val WarmupWindows = 4
  val WarmupSec: Int = WarmupWindows * WindowSec + 1
  val TailSec = 1
  val Limit = 5
  val RotateMs = 100L
  val BacklogRiseSec = 2
  val ReplayCopies = 8
  val ReplayReports = 3
  val BacklogMaxSec = 10
  val BreachOffsetUs = 500100L
  val BreachOctets = 1500000000L
  val MoJson: String =
    s"""{
      |  "filter": "proto 6",
      |  "fwm": [{"name": "w1", "fields": ["octets desc", "dst host"],
      |           "time": $WindowSec, "limit": $Limit}],
      |  "mavg": [{"name": "rate", "fields": ["octets", "dst host"],
      |            "time": 1,
      |            "overlimit": [{"name": "flood", "default": [100000000],
      |                           "back2norm-time": 2}]}]
      |}""".stripMargin
}
