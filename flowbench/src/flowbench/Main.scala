package flowbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.jdk.CollectionConverters._

/** Result of a timed measurement: flows carried to a checked result,
  * the wall seconds they took, the per-result latencies and, for batch
  * workloads, each pass's rate. A traced batch run adds the sum of its
  * layers' positive self times per pass. */
final case class Measured(flows: Long, seconds: Double, latMs: Seq[Double],
                          alertMs: Seq[Double] = Nil,
                          passRates: Seq[Double] = Nil, passFlows: Long = 0,
                          prefixSelfS: Double = 0.0) {
  /** The median pass's rate; a single measurement's own rate without
    * passes. */
  def flowsPerS: Double =
    if (passRates.nonEmpty) Stats.median(passRates)
    else if (seconds > 0) flows / seconds else 0.0
}

/** One benchmark workload. `generate` writes the seeded inputs and
  * computes the ground truth (untimed); `setup` (config parse and
  * compile, stream start) and the fixed `warmUp` are what a user pays
  * before the first result; `measure` runs timed passes; `traced` runs
  * the layer prefixes with spans. */
trait Workload {
  def generate(): Unit
  def setup(spark: SparkSession): Unit
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double): Measured
  /** The same pipeline on a one-slot session (`local[1]`). */
  def measureOneSlot(spark: SparkSession, seconds: Double): Measured
  def traced(spark: SparkSession, seconds: Double): Measured
  def teardown(): Unit = ()
  /** Input sizes for the run metadata. */
  def sizes: Map[String, Long]

  /** Time spent before the first timed pass on the calibration loop,
    * input generation and the benchmark's own checking, which `setup_s`
    * leaves out. */
  var untimedNs = 0L
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }
}

/** One run's arguments. `smoke` (tiny inputs) is set by the self-test;
  * `startMs` is when the process started, which `setup_s` counts from. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: File, cpus: Int, smoke: Boolean,
                      commit: String, outDir: File,
                      startMs: Long = Main.jvmStart)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Args(
      workload = m.getOrElse("--workload", sys.error("--workload required")),
      seed = get("--seed", "1").toLong,
      seconds = get("--seconds", "10").toDouble,
      trace = get("--trace", "0") == "1",
      work = new File(get("--work", ".bench_build/flowbench/work")),
      cpus = Runtime.getRuntime.availableProcessors,
      smoke = false,
      commit = get("--commit", "unknown"),
      outDir = new File(get("--out", ".bench_build/flowbench/out")))
  }
}

object Sessions {
  def start(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("flowbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Main {
  /** (name, unit) of every metric BENCHMARK.json lists under `key`
    * (`end_to_end` or `per_layer`); read from the working directory. */
  def named(key: String): Seq[(String, String)] =
    new ObjectMapper().readTree(new File("BENCHMARK.json")).get(key)
      .elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText)
      .toSeq

  /** Per-layer metrics, by name prefix, that a workload does not
    * exercise: its traced record reads 0 for them and must measure every
    * other one. */
  val notExercised: Map[String, Seq[String]] = {
    val live = Seq("streaming.", "sinks.alert.", "sources.udp.",
      "bench.generator_lag_ms_max")
    Map(
      "archive_replay" -> live,
      "live_alerts" -> Seq("sources.pktdump.", "sources.decode.self_s",
        "sources.sflow.", "filter.self_s", "operators.fwm.self_s",
        "operators.fwm.shuffle_bytes", "operators.fwm.input_scans",
        "operators.topk.self_s", "operators.classification.",
        "operators.mavg.", "sinks.sqlexport.self_s", "bench.prefix_sum_ratio"))
  }

  /** Share of `--seconds` spent on the all-cores passes; the rest goes to
    * the one-slot passes of `flows_per_s_1cpu`. */
  val MainShare = 0.75

  def workload(a: Args, ctx: Ctx, dir: File): Workload = a.workload match {
    case "archive_replay" => new ArchiveReplay(a, ctx, dir)
    case "live_alerts"    => new LiveAlerts(a, ctx, dir)
    case other            => sys.error(s"unknown workload '$other'")
  }

  /** Fixed pure-JVM CPU loop: the drift control timed in every run. */
  def calibration(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0.0
      var i = 0
      while (i < 40000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += (x & 0xffff) * 1e-5
        i += 1
      }
      if (acc == 42.0) println("")
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(Seq.fill(3)(once()))
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  val jvmStart: Long = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"flowbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2fs $msg")

  /** Run one workload; failures are counted, never thrown. */
  def run(a: Args): Ctx = {
    val ctx = new Ctx(a.workload)
    deleteTree(a.work)
    a.work.mkdirs()
    var spark: SparkSession = null
    try {
      val w = workload(a, ctx, new File(a.work, "input"))
      val cal = w.untimed(calibration())
      ctx.meta("calibration_s") = cal
      log("generate")
      w.untimed(w.generate())
      ctx.meta("input") = w.sizes
      log(s"inputs ${w.sizes}")
      spark = Sessions.start(a.cpus, a.work)
      w.setup(spark)
      w.warmUp(spark)
      // from JVM start to the first timed pass, cold, without the
      // calibration loop, input generation and expectation rendering
      val setup = (System.currentTimeMillis() - a.startMs) / 1e3 -
        w.untimedNs / 1e9
      log(f"set-up: $setup%.2f s")
      ctx.meta("untimed_s") = w.untimedNs / 1e9
      val mainS = a.seconds * MainShare
      if (!a.trace) {
        ctx.metric("setup_s", setup, "s")
        val m = w.measure(spark, mainS)
        log(s"measured ${m.flows} flows in ${m.seconds} s")
        w.teardown(); spark.stop(); spark = null
        spark = Sessions.start(1, a.work)
        val one = w.measureOneSlot(spark, a.seconds - mainS)
        log(s"one slot: ${one.flows} flows in ${one.seconds} s")
        reportEndToEnd(ctx, m, one)
      } else {
        val (traced, d, wall) = EngineListener.measure(spark) {
          w.traced(spark, mainS)
        }
        val untraced = w.measure(spark, mainS)
        w.teardown()
        EngineListener.report(ctx, d, wall, a.cpus)
        ctx.metric("bench.calibration_s", cal, "s")
        ctx.metric("bench.tracing_overhead_ratio",
          if (traced.flowsPerS > 0) untraced.flowsPerS / traced.flowsPerS - 1
          else 0.0, "ratio")
        if (traced.prefixSelfS > 0) {
          // the layers' positive self times against one untraced pass
          val ratio = traced.prefixSelfS /
            (untraced.passFlows / untraced.flowsPerS)
          ctx.metric("bench.prefix_sum_ratio", ratio, "ratio")
          ctx.attempt(1, if (ratio > 0.5 && ratio < 2.0) 0 else 1,
            f"layer self times sum to $ratio%.2f× the untraced pass")
        }
        writeSpans(a, ctx)
      }
    } catch {
      case e: Throwable =>
        ctx.attempt(1, 1, s"workload threw ${e.getClass.getName}: " +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | "))
        e.printStackTrace()
    } finally {
      if (spark != null) {
        try spark.stop() catch { case _: Throwable => () }
      }
      ctx.metrics.getOrElseUpdate("peak_rss_mb", (peakRssMb(), "MB"))
    }
    ctx
  }

  def reportEndToEnd(ctx: Ctx, m: Measured, one: Measured): Unit = {
    ctx.metric("flows_per_s", m.flowsPerS, "flows/s")
    ctx.metric("flows_per_s_1cpu", one.flowsPerS, "flows/s")
    ctx.metric("latency_ms_p50", Stats.median(m.latMs), "ms")
    val (tail, p, n) = Stats.ptail(m.latMs)
    ctx.metric("latency_ms_ptail", tail, "ms")
    ctx.meta("latency_ptail") = Map("percentile" -> p, "samples" -> n)
    ctx.meta("passes_s") = Map("all_cpus" -> m.seconds,
      "one_slot" -> one.seconds)
    ctx.meta("pass_rates") = m.passRates
  }

  private def writeSpans(a: Args, ctx: Ctx): Unit = {
    a.outDir.mkdirs()
    val f = new File(a.outDir, s"spans-${a.workload}-s${a.seed}.jsonl")
    val w = new java.io.PrintWriter(f)
    val om = new ObjectMapper()
    try ctx.spans.foreach { s =>
      w.println(om.writeValueAsString(Map[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "workload" -> ctx.workload, "pass" -> s.pass,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs).asJava))
    } finally w.close()
  }

  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.toMap.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case o => o
  }

  /** Whether the run is correct, and its metrics as measured, with the
    * units they were recorded in: every end-to-end metric
    * (`--trace 0`) or every per-layer metric (`--trace 1`) that
    * BENCHMARK.json names. Only the layers the workload does not exercise
    * read 0; a metric missing or recorded in another unit fails the run. */
  def result(a: Args, ctx: Ctx): (Boolean, Map[String, (Double, String)]) = {
    val want = named(if (a.trace) "per_layer" else "end_to_end")
    val idle = if (a.trace) notExercised(a.workload) else Nil
    def isIdle(n: String) = idle.exists(n.startsWith)
    val measured = ctx.metrics.filter(m => want.exists(_._1 == m._1)).toMap
    val metrics = measured ++ want.collect {
      case (n, u) if isIdle(n) && !measured.contains(n) => n -> (0.0, u)
    }
    val problems = want.collect {
      case (n, _) if !metrics.contains(n) => s"$n not measured"
      case (n, u) if metrics(n)._2 != u =>
        s"$n recorded in ${metrics(n)._2}, BENCHMARK.json says $u"
    } ++ measured.keys.filter(isIdle).map(n =>
      s"$n measured, but listed as not exercised")
    problems.foreach(ctx.note)
    (ctx.failed == 0 && ctx.attempted > 0 && problems.isEmpty, metrics)
  }

  /** The run's record: metadata line, then the result line last. */
  def emit(a: Args, ctx: Ctx): Boolean = {
    val (correct, metrics) = result(a, ctx)
    val om = new ObjectMapper()
    val meta = ctx.meta ++ Map("workload" -> a.workload, "seed" -> a.seed,
      "trace" -> a.trace, "commit" -> a.commit, "cpus" -> a.cpus,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jvm" -> System.getProperty("java.version"),
      "error_ratio" -> (if (ctx.attempted > 0)
        ctx.failed.toDouble / ctx.attempted else 1.0),
      "failures" -> ctx.failureNotes.take(20))
    println(om.writeValueAsString(Map("flowbench_meta" -> toJava(meta))
      .asJava))
    println(om.writeValueAsString(Map[String, Any](
      "correct" -> correct, "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> ctx.failed, "metrics" -> metrics.map { case (n, (v, u)) =>
        n -> Map[String, Any]("value" -> v, "unit" -> u).asJava }.asJava)
      .asJava))
    correct
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val ctx = run(a)
    val ok = emit(a, ctx)
    System.out.flush()
    deleteTree(a.work)
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }
}
