package flowbench

import graft.sources.NetflowDecoder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.SerializeFromObject
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.io.File
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One run's bookkeeping: metrics, failure accounting, metadata and
  * spans. Spans stay in memory and are written out when the run ends. */
final class Ctx(val workload: String) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val meta = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Count `n` attempts of which `bad` failed. */
  def attempt(n: Long, bad: Long, why: => String = ""): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) note(s"$bad/$n failed: $why")
  }

  def note(msg: String): Unit = {
    failures += msg
    System.err.println(s"flowbench[$workload]: $msg")
  }

  def failureNotes: Seq[String] = failures.toSeq

  // --- spans ---------------------------------------------------------
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
                        startNs: Long, endNs: Long)
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Time `body` as a span named `name`. */
  def span[A](name: String, pass: Int, parent: Int = -1)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally spans += Span(spans.size, name, parent, pass, t0,
      System.nanoTime())
  }
}

object Stats {
  /** The middle value; the mean of the two middle values for an even
    * count; 0 for an empty sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Nearest-rank percentile; 0 for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt
      s(math.min(s.size - 1, math.max(0, rank - 1)))
    }

  /** The highest whole percentile with at least ten samples above it:
    * (value, percentile, sample count). Under 100 samples that percentile
    * falls below the 90th, which is no tail (at 20 samples it is the
    * median), so the maximum is reported instead, as percentile 100. */
  def ptail(xs: Seq[Double]): (Double, Int, Int) = {
    val n = xs.size
    if (n < 100) (if (xs.isEmpty) 0.0 else xs.max, 100, n)
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      (percentile(xs, p), p, n)
    }
  }
}

/** Plan inspection used by the traced prefixes and their guard. */
object Plans {
  /** Decoder output columns a plan actually reads: the outputs of its
    * `SerializeFromObject` nodes that a later operator references or the
    * plan returns. Whole-stage codegen evaluates only those, so this is
    * what a decode costs inside the plan. */
  def decodedColumns(df: DataFrame): Set[String] = {
    val plan = df.queryExecution.optimizedPlan
    val serialized = AttributeSet(plan.collect {
      case s: SerializeFromObject => s.output
    }.flatten)
    val read = plan.collect {
      case p if !p.isInstanceOf[SerializeFromObject] => p.references
    }.foldLeft(AttributeSet(plan.output))(_ ++ _)
    serialized.filter(read.contains).map(_.name).toSet
  }

  /** Scan leaves of a plan's physical plan. */
  def scans(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collectLeaves().count {
      case _: BatchScanExec | _: FileSourceScanExec => true
      case _ => false
    }

  /** Columns the plan's scans read after pruning. */
  def scanColumns(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collectLeaves().collect {
      case s: BatchScanExec => s.output.map(_.name)
      case s: FileSourceScanExec => s.output.map(_.name)
    }.flatten.distinct

  /** Materialise every row without writing anywhere. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Times cumulative prefixes of one pipeline: each step of a chain runs
  * as a span, and its wall time minus the previous step's is that
  * layer's self time. Shuffle bytes written during the `fwm` step are
  * the aggregation's. */
final class PrefixTimer(ctx: Ctx) {
  private val listener = new EngineListener
  private val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var shuffle = 0L

  /** Run one chain of `steps` in pass `pass`; returns each step's output
    * and wall seconds. */
  def chain(pass: Int, steps: Seq[(String, () => Any)]): Seq[(Any, Double)] = {
    var prev = 0.0
    steps.map { case (name, action) =>
      val r = step(pass, name, prev)(action())
      prev = r._2
      r
    }
  }

  /** One step whose previous prefix took `prev` seconds. */
  def step[A](pass: Int, name: String, prev: Double = 0.0)(body: => A)
      : (A, Double) = {
    val before = listener.shuffleWrite.get
    val t = System.nanoTime()
    val out = ctx.span(name, pass)(body)
    val d = (System.nanoTime() - t) / 1e9
    self(name) += d - prev
    if (name == "fwm") shuffle += listener.shuffleWrite.get - before
    (out, d)
  }

  /** Self times per pass, and the sum of the positive ones among `layers`. */
  def perPass(passes: Int, layers: Seq[String])
      : (Map[String, Double], Double) = {
    val per = self.toMap.map { case (k, v) => k -> v / passes }
      .withDefaultValue(0.0)
    (per, layers.map(k => math.max(0.0, per(k))).sum)
  }
}

object PrefixTimer {
  /** Run `body` with a timer whose listener is attached to `spark`. */
  def around[A](spark: SparkSession, ctx: Ctx)(body: PrefixTimer => A): A = {
    val t = new PrefixTimer(ctx)
    spark.sparkContext.addSparkListener(t.listener)
    try body(t) finally spark.sparkContext.removeSparkListener(t.listener)
  }
}

/** Decode counts from the engine's per-packet decoders over capture
  * files, in file order. */
object DecodeCounts {
  type Decode = (Array[Byte], Long, Long) => Int

  /** NetFlow/IPFIX decode of one (packet, capture time, source) record,
    * with a template cache per source: its flow count. */
  def netflow(): Decode = {
    val caches = mutable.Map.empty[Long, NetflowDecoder.TemplateCache]
    (p, ts, src) => NetflowDecoder.decodePacket(p, ts, src,
      caches.getOrElseUpdate(src, new NetflowDecoder.TemplateCache)).size
  }

  /** Reports the `sources.decode.*` counts over every file, each set of
    * files with its decoder; returns the flows decoded. */
  def report(ctx: Ctx, sets: Seq[(Seq[File], Decode)]): Long = {
    var packets = 0L
    var flows = 0L
    var empty = 0L
    for ((files, decode) <- sets; f <- files;
         (p, ts, src) <- DumpFile.read(f)) {
      val n = decode(p, ts, src)
      packets += 1; flows += n; if (n == 0) empty += 1
    }
    ctx.metric("sources.decode.packets", packets.toDouble, "count")
    ctx.metric("sources.decode.flows", flows.toDouble, "count")
    ctx.metric("sources.decode.flows_per_packet",
      flows.toDouble / math.max(1L, packets), "flows/packet")
    ctx.metric("sources.decode.empty_packet_ratio",
      empty.toDouble / math.max(1L, packets), "ratio")
    flows
  }
}

/** Task-level engine counters from Spark's listener bus. */
final class EngineListener extends SparkListener {
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val jobs = new AtomicLong
  val tasks = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def snapshot: Array[Long] = Array(cpuNs.get, gcMs.get, shuffleWrite.get,
    jobs.get, tasks.get)
}

object EngineListener {
  /** Run `body` with a listener attached; returns the counter deltas
    * (cpu ns, gc ms, shuffle bytes, jobs, tasks) and wall seconds. */
  def measure[A](spark: SparkSession)(body: => A)
      : (A, Array[Long], Double) = {
    val l = new EngineListener
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    val t0 = System.nanoTime()
    try {
      val a = body
      val wall = (System.nanoTime() - t0) / 1e9
      // the bus is asynchronous: let queued task-end events land
      Thread.sleep(200)
      (a, l.snapshot, wall)
    } finally sc.removeSparkListener(l)
  }

  def report(ctx: Ctx, d: Array[Long], wall: Double, cpus: Int): Unit = {
    val cpuS = d(0) / 1e9
    ctx.metric("engine.cpu_s", cpuS, "s")
    ctx.metric("engine.cpu_busy_ratio",
      if (wall > 0) cpuS / (wall * cpus) else 0.0, "ratio")
    ctx.metric("engine.gc_s", d(1) / 1e3, "s")
    ctx.metric("engine.shuffle_write_bytes", d(2).toDouble, "bytes")
    ctx.metric("engine.jobs", d(3).toDouble, "count")
    ctx.metric("engine.tasks", d(4).toDouble, "count")
  }
}

/** Per-micro-batch progress from Spark's streaming listener bus. */
final class StreamListener extends StreamingQueryListener {
  final case class Batch(query: String, rows: Long, durations: Map[String, Long],
                         stateRows: Long, stateMem: Long, stateCommitMs: Long,
                         watermarkMs: Option[Long], atMs: Long)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = mutable.Map.empty[String, Long]
    p.durationMs.forEach((k, v) => d(k) = v.longValue())
    val ops = p.stateOperators
    val wm = Option(p.eventTime.get("watermark"))
      .map(s => java.time.Instant.parse(s).toEpochMilli)
    batches.add(Batch(p.name, p.numInputRows, d.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, wm,
      java.time.Instant.parse(p.timestamp).toEpochMilli))
    ()
  }
}
