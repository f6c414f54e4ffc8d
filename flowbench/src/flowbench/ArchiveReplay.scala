package flowbench

import graft.config.MoConfig
import graft.filter.{Compiler, FieldSpec, FilterEnv}
import graft.operators.{Classification, Fwm, Mavg}
import graft.sinks.SqlExport
import graft.sources.{NetflowDecoder, SflowDecoder}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable

/** `archive_replay`: a pktdump archive of NetFlow v5/v9/IPFIX and sFlow
  * exporters, replayed as one report after another:
  * scan → decode → MO filter → fwm top-N+others → SQL export. The MO's
  * classification and moving-average sections run over the same
  * filtered flows in the traced run, which times them as layers. */
final class ArchiveReplay(a: Args, ctx: Ctx, dir: File) extends Workload {
  import ArchiveReplay._

  /** Flows in the archive: at this size decode is about half of a
    * report's time (README, sizing evidence). */
  private val archiveFlows = if (a.smoke) 3000 else 5000000

  /** The archive's capture files and ground truth. */
  private[flowbench] final case class Archive(dir: File, packets: Long,
      flows: Long, passing: Long, groups: Long, bytes: Long,
      expect: Seq[Expect.Row], classes: Set[(Long, Long, Long)],
      mavg: Map[Long, (Long, Long)]) {
    var expectedSql: String = _
  }
  private[flowbench] var archive: Archive = _

  def sizes: Map[String, Long] = Map("packets" -> archive.packets,
    "flows" -> archive.flows, "bytes" -> archive.bytes)

  def generate(): Unit = {
    val r = new SplittableRandom(a.seed * 1000003L)
    val start = T0
    val archiveDir = new File(dir, "archive")
    var packets = 0L
    var bytes = 0L
    val windows = mutable.Map.empty[Long, SumMap]
    var passing = 0L
    // classification: octets per (dst port << 8 | proto); mavg: octets
    // per (dst port << 32 | capture second)
    val classes = new SumMap(64)
    val portSec = new SumMap(1024)
    def truth(f: Flows): Unit = (0 until f.n).foreach { i =>
      if (f.proto(i) == 6 && (f.src(i) >>> 24) == 10) {
        passing += 1
        windows.getOrElseUpdate(Expect.window(f.ts(i), WindowSec),
          new SumMap(512)).add(f.src(i), f.octets(i) * f.rate(i))
        classes.add((f.dport(i).toLong << 8) | f.proto(i), f.octets(i))
        portSec.add((f.dport(i).toLong << 32) | f.ts(i), f.octets(i))
      }
    }
    val nfFlows = (archiveFlows * (1 - SflowShare)).toInt / Exporters.size
    Exporters.zipWithIndex.foreach { case ((kind, rate), e) =>
      val perPacket = if (kind == "v5") 30 else 20
      val f = flows(r, nfFlows, start, perPacket, rate)
      val exporter = Rng.ip(192, 0, 2, e + 1)
      val pk = (0 until f.n by perPacket).zipWithIndex.map { case (i, j) =>
        val until = math.min(f.n, i + perPacket)
        val announce = j % Reannounce == 0
        val ts = f.ts(i)
        val p = kind match {
          case "v5" => Wire.v5(f, i, until, ts, j.toLong, rate)
          case "v9" => Wire.v9(f, i, until, ts, j.toLong, e.toLong, rate,
            announce)
          case _ => Wire.ipfix(f, i, until, ts, j.toLong, e.toLong, rate,
            announce)
        }
        (p, ts, exporter)
      }
      packets += pk.size
      bytes += DumpFile.write(new File(archiveDir, s"nf/exp-$e.gpkd"), pk)
      truth(f)
    }
    val sfFlows = (archiveFlows * SflowShare).toInt / SflowRates.size
    SflowRates.zipWithIndex.foreach { case (rate, k) =>
      val f = flows(r, sfFlows, start, SflowPerDatagram, rate)
      val agent = Rng.ip(198, 51, 100, k + 1)
      val pk = (0 until f.n by SflowPerDatagram).zipWithIndex.map {
        case (i, j) =>
          (Wire.sflow(f, i, math.min(f.n, i + SflowPerDatagram), agent,
            j.toLong, rate), f.ts(i), agent)
      }
      packets += pk.size
      bytes += DumpFile.write(new File(archiveDir, s"sf/agent-$k.gpkd"), pk)
      truth(f)
    }
    archive = Archive(archiveDir, packets,
      nfFlows.toLong * Exporters.size + sfFlows.toLong * SflowRates.size,
      passing, windows.values.map(_.size.toLong).sum, bytes,
      Expect.topN(windows, Limit), Expect.classCut(classes, ClsPct),
      Expect.decayedFinal(portSec, MavgSec))
  }

  /** `n` flows spread over the archive's span, `perPacket` to a packet;
    * every packet's flows share its capture time. */
  private def flows(r: SplittableRandom, n: Int, start: Long,
                    perPacket: Int, rate: Int): Flows = {
    val f = new Flows(n)
    val packetsN = (n + perPacket - 1) / perPacket
    (0 until n).foreach { i =>
      val ts = start + (i / perPacket).toLong * SpanSec / packetsN
      val src =
        if (r.nextDouble() < 0.7) Rng.ip(10, 0, 0, 0) + Rng.skewed(r, 600, 2.0)
        else Rng.ip(172, 16, 0, 0) + r.nextInt(65536)
      val dst = Rng.ip(192, 168, 0, 0) + r.nextInt(4096)
      val u = r.nextDouble()
      val proto = if (u < 0.7) 6 else if (u < 0.95) 17 else 1
      val pk = 1 + r.nextInt(20)
      f.add(src, dst, 1024 + r.nextInt(64512), Ports(r.nextInt(Ports.size)),
        proto, pk.toLong * (40 + r.nextInt(1460)), pk.toLong, ts, rate)
    }
    f
  }

  // --- the pipeline ------------------------------------------------------
  private var mo: MoConfig.MonitoringObject = _
  private var fwm: Fwm.Conf = _
  private var pred: Column = _
  private var env: FilterEnv = _
  private val sqlConf = SqlExport.Conf("archive", "top_src",
    ipCols = Set("src_host"))
  private val rateCol = Some(coalesce(col("sampling_rate"), lit(1L)))

  private def scans(spark: SparkSession) =
    (spark.read.format("pktdump").load(new File(archive.dir, "nf").getPath),
      spark.read.format("pktdump").load(new File(archive.dir, "sf").getPath))

  private def decoded(spark: SparkSession): DataFrame = {
    val (nf, sf) = scans(spark)
    NetflowDecoder.decode(nf).unionByName(SflowDecoder.decode(sf))
  }

  private[flowbench] def report(spark: SparkSession): DataFrame =
    Fwm.batch(decoded(spark).filter(pred), env, fwm, col("ts_sec"), rateCol)

  private def spec(f: String): FieldSpec =
    FieldSpec.parse(f).fold(e => sys.error(e), identity)

  /** The MO's classification section over its filtered flows. */
  private def classes(spark: SparkSession): DataFrame = {
    val c = mo.classification.head
    val keys = c.fields.map(spec)
    val measure = spec(c.valField)
    val projected = decoded(spark).filter(pred).select(keys.map(k =>
      k.column(env).as(k.sqlName)) :+ measure.column(env).as(measure.sqlName): _*)
    Classification.classTable(projected, Classification.Conf(
      keys.map(_.sqlName), measure.sqlName, c.topPct,
      concat_ws(":", keys.map(k => col(k.sqlName)): _*)),
      col(measure.sqlName))
  }

  /** The MO's moving-average section: final value per key. */
  private def mavg(spark: SparkSession): DataFrame = {
    val m = mo.mavg.head
    val (aggrs, keys) = m.fields.map(spec).partition(_.isAggr)
    val projected = decoded(spark).filter(pred).select(keys.map(k =>
      k.column(env).as(k.sqlName)) ++ Seq(col("ts_sec"), col("in_pkts"),
      aggrs.head.column(env).as(aggrs.head.sqlName)): _*)
    Mavg.decayedFinal(projected, Mavg.Conf(keys.map(_.sqlName), "ts_sec",
      "in_pkts", aggrs.head.sqlName, m.timeSec))
  }

  private def long(r: org.apache.spark.sql.Row, i: Int): Long =
    r.getAs[Number](i).longValue

  def setup(spark: SparkSession): Unit = {
    val (parsed, configMs) = Check.timed(MoConfig.parse("archive", MoJson))
    mo = parsed
    env = FilterEnv.flow(spark)
    val (p, filterMs) = Check.timed(Compiler.filterColumn(mo.filter, env)
      .fold(e => sys.error(e), identity))
    pred = p
    ctx.metric("config.compile_ms", configMs, "ms")
    ctx.metric("filter.compile_ms", filterMs, "ms")
    val s = mo.fwm.head
    fwm = Fwm.Conf(s.name, s.fields, s.timeSec, s.limit)
    untimed {
      archive.expectedSql = Check.expectedSql(spark, report(spark).schema,
        archive.expect, Seq("src_host"), k => Seq(k), sqlConf)
    }
  }

  def warmUp(spark: SparkSession): Unit =
    (0 until WarmupReports).foreach(_ => runReport(spark))

  /** One report: returns (checked ok, latency ms). */
  private[flowbench] def runReport(spark: SparkSession): (Boolean, Double) = {
    val (sql, ms) = Check.timed(SqlExport.exportSql(report(spark), sqlConf))
    (sql == archive.expectedSql, ms)
  }

  /** Reports for `seconds`, at least `minPasses` of them. */
  private def loop(spark: SparkSession, seconds: Double,
                   minPasses: Int): Measured = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val rates = mutable.ArrayBuffer.empty[Double]
    var flows = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (ok, ms) = runReport(spark)
      ctx.attempt(archive.packets + 1, if (ok) 0 else 1,
        "report: SQL export differs from ground truth")
      if (ok) flows += archive.flows
      lat += ms
      rates += (if (ok) archive.flows / (ms / 1e3) else 0.0)
      i += 1
    }
    Measured(flows, (System.nanoTime() - t0) / 1e9, lat.toSeq,
      passRates = rates.toSeq, passFlows = archive.flows)
  }

  def measure(spark: SparkSession, seconds: Double): Measured =
    loop(spark, seconds, minPasses = 1)

  /** At least three reports, so the rate is the median of three: a
    * single one-slot report moved by a fifth between runs. */
  def measureOneSlot(spark: SparkSession, seconds: Double): Measured = {
    env = FilterEnv.flow(spark)
    loop(spark, seconds, minPasses = 3)
  }

  /** Cumulative prefixes of the report in pipeline order, each
    * projecting exactly the decoded columns the full report reads, then
    * the sFlow-only pair. The export layer is the report itself. */
  private[flowbench] def prefixFrames(spark: SparkSession)
      : Seq[(String, DataFrame)] = {
    val cols = Plans.decodedColumns(report(spark)).toSeq.sorted.map(col)
    val (nf, sf) = scans(spark)
    val dec = decoded(spark)
    val filtered = dec.filter(pred)
    val agg = Fwm.aggregate(filtered, env, fwm, col("ts_sec"), rateCol)
    Seq("scan" -> nf.unionByName(sf), "decode" -> dec.select(cols: _*),
      "filter" -> filtered.select(cols: _*), "fwm" -> agg,
      "topk" -> Fwm.finishWindows(agg, fwm), "sflow_scan" -> sf,
      "sflow" -> SflowDecoder.decode(sf).select(cols: _*))
  }

  /** The traced run's chains: the prefixes through top-N, then the
    * export; the sFlow scan, then its decode; for the classification and
    * mavg sections, their filtered input projected to the decoded columns
    * each reads, then the section itself. */
  private def chains(spark: SparkSession): Seq[Seq[(String, () => Any)]] = {
    // the top-N result is small: collect it, as the export does
    val steps = prefixFrames(spark).map { case (n, df) =>
      n -> (() => if (n == "topk") df.collect() else Plans.noop(df))
    }
    def section(name: String, df: DataFrame) = {
      // the section's own mapPartitions output is serialized too
      val input = decoded(spark).columns.toSet
      val cols = Plans.decodedColumns(df).filter(input).toSeq.sorted.map(col)
      Seq(s"${name}_input" -> (() => Plans.noop(decoded(spark).filter(pred)
        .select(cols: _*))), name -> (() => df.collect()))
    }
    Seq(steps.take(5) :+ ("export" -> (() => SqlExport.exportSql(
      report(spark), sqlConf))), steps.drop(5),
      section("classification", classes(spark)), section("mavg", mavg(spark)))
  }

  def traced(spark: SparkSession, seconds: Double): Measured =
    PrefixTimer.around(spark, ctx) { timer =>
      var passes = 0
      var flows = 0L
      var fullS = 0.0
      var sqlBytes = 0L
      val t0 = System.nanoTime()
      while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val Seq(main, sflow, cls, mv) = chains(spark)
        val (sql, d) = timer.chain(passes, main).last
        fullS += d
        flows += archive.flows
        sqlBytes += sql.toString.length
        ctx.attempt(archive.packets + 1,
          if (sql == archive.expectedSql) 0 else 1,
          "traced report: SQL differs")
        timer.chain(passes, sflow)
        val got = timer.chain(passes, cls).last._1
          .asInstanceOf[Array[org.apache.spark.sql.Row]]
          .map(r => (long(r, 0), long(r, 1), long(r, 2))).toSet
        ctx.attempt(1, if (got == archive.classes) 0 else 1,
          s"classification: ${got.size} classes, expected " +
            s"${archive.classes.size}")
        val finals = timer.chain(passes, mv).last._1
          .asInstanceOf[Array[org.apache.spark.sql.Row]]
          .map(r => long(r, 0) -> ((long(r, 1), long(r, 2)))).toMap
        ctx.attempt(1, if (finals == archive.mavg) 0 else 1,
          "mavg: final values differ")
        passes += 1
      }
      val (self, sum) = timer.perPass(passes,
        Seq("scan", "decode", "filter", "fwm", "topk", "export"))
      layerMetrics(self, timer.shuffle.toDouble / passes,
        sqlBytes.toDouble / passes)
      val decodedFlows = DecodeCounts.report(ctx, Seq(
        files("nf") -> DecodeCounts.netflow(),
        files("sf") -> ((p, ts, _) => SflowDecoder.decodePacket(p, ts)
          .size)))
      ctx.attempt(1, if (decodedFlows == archive.flows) 0 else 1,
        s"decoded $decodedFlows flows, generated ${archive.flows}")
      ctx.metric("operators.fwm.input_scans",
        Plans.scans(report(spark)).toDouble, "count")
      Measured(flows, fullS, Nil, passFlows = archive.flows, prefixSelfS = sum)
    }

  private def files(sub: String): Seq[File] =
    Option(new File(archive.dir, sub).listFiles()).toSeq.flatten.sorted

  private def layerMetrics(self: Map[String, Double], shuffle: Double,
                           sqlBytes: Double): Unit = {
    ctx.metric("sources.pktdump.scan_s", self("scan"), "s")
    ctx.metric("sources.pktdump.bytes", archive.bytes.toDouble, "bytes")
    ctx.metric("sources.decode.self_s", self("decode"), "s")
    ctx.metric("sources.sflow.self_s", self("sflow"), "s")
    ctx.metric("filter.self_s", self("filter"), "s")
    ctx.metric("filter.pass_ratio", archive.passing.toDouble / archive.flows,
      "ratio")
    ctx.metric("operators.fwm.self_s", self("fwm"), "s")
    ctx.metric("operators.fwm.shuffle_bytes", shuffle, "bytes")
    ctx.metric("operators.fwm.groups_out", archive.groups.toDouble, "count")
    ctx.metric("operators.topk.self_s", self("topk"), "s")
    ctx.metric("operators.topk.rows_out", archive.expect.size.toDouble,
      "count")
    ctx.metric("sinks.sqlexport.self_s", self("export"), "s")
    ctx.metric("sinks.sqlexport.bytes", sqlBytes, "bytes")
    ctx.metric("operators.classification.self_s", self("classification"), "s")
    ctx.metric("operators.mavg.self_s", self("mavg"), "s")
  }
}

object ArchiveReplay {
  val T0 = 1699999980L // a multiple of 60
  val SpanSec = 60L
  val WindowSec = 30L
  val Limit = 10
  val SflowShare = 0.1
  val SflowPerDatagram = 8
  val Reannounce = 16
  /** Reports still speed up over the first five or six in a JVM. */
  val WarmupReports = 6
  val ClsPct = 90.0
  val MavgSec = 5L
  /** (kind, sampling rate) per NetFlow exporter: with the two sFlow
    * agents, 16 capture files. */
  val Exporters: Seq[(String, Int)] = Seq("v5", "v9", "ipfix").flatMap(k =>
    Seq(1, 2, 4, 3, 1).map(k -> _)).take(14)
  val SflowRates = Seq(10, 20)
  val Ports = Array(80, 443, 53, 22, 25, 8080, 3306, 123)
  val MoJson: String =
    s"""{
      |  "filter": "proto 6 and src net 10.0.0.0/8",
      |  "fwm": [{"name": "top_src", "fields": ["octets desc", "src host"],
      |           "time": $WindowSec, "limit": $Limit}],
      |  "classification": [{"fields": ["dst port", "proto"],
      |                      "top-percents": $ClsPct, "val": "octets desc"}],
      |  "mavg": [{"name": "rate", "fields": ["octets", "dst port"],
      |            "time": $MavgSec}]
      |}""".stripMargin
}
