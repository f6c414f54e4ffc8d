package flowbench

import graft.sources.NetflowDecoder

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The benchmark's own tests: seeded inputs are reproducible, the checks
  * catch a corrupted input, the traced prefixes read the same decoded
  * columns as the full plan, and a smoke-sized run of every workload
  * reports every metric BENCHMARK.json names, with its unit.
  *
  *   python3 flowbench/run.py --self-test      (from the repository root)
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable =>
      e.printStackTrace(); false }
    if (!ok) failures += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name")
  }

  private def args(work: File, workload: String, seed: Long,
                   trace: Boolean = false) =
    Args(workload, seed, seconds = 2, trace = trace, work = work,
      cpus = 2, smoke = true, commit = "self-test",
      outDir = new File(work, "out"), startMs = System.currentTimeMillis())

  private def tree(d: File): Map[String, Seq[Byte]] =
    Files.walk(d.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => d.toPath.relativize(p).toString ->
        Files.readAllBytes(p).toSeq).toMap

  def main(argv: Array[String]): Unit = {
    val root = new File(".bench_build/flowbench/self-test")
    Main.deleteTree(root)

    // 1. same seed → byte-identical inputs and identical expectations
    def generated(tag: String, seed: Long) = {
      val d = new File(root, tag)
      val w = new ArchiveReplay(args(d, "archive_replay", seed),
        new Ctx("archive_replay"), new File(d, "input"))
      w.generate()
      (w, new File(d, "input"))
    }
    val (a1, d1) = generated("a1", 7)
    val (a2, d2) = generated("a2", 7)
    val (a3, d3) = generated("a3", 8)
    check("archive_replay: same seed, byte-identical pktdump files") {
      tree(d1) == tree(d2) && tree(d1).nonEmpty
    }
    check("archive_replay: same seed, identical expectations") {
      a1.archive.expect == a2.archive.expect &&
        a1.archive.classes == a2.archive.classes &&
        a1.archive.mavg == a2.archive.mavg
    }
    check("archive_replay: another seed, other inputs") {
      tree(d1) != tree(d3) && a1.archive.expect != a3.archive.expect
    }
    def live(seed: Long) = new LiveAlerts(args(root, "live_alerts", seed),
      new Ctx("live_alerts"), new File(root, "unused"))
    check("live_alerts: same seed, identical datagrams and expectations") {
      val (x, y, z) = (live(7), live(7), live(8))
      // schedule seconds after the warm-up carry a breach packet (j = -1)
      val rs = LiveAlerts.WarmupSec until LiveAlerts.WarmupSec + 5
      rs.forall(r => (-1 until 10).forall(j =>
        java.util.Arrays.equals(x.datagram(r, j, 1700000000L),
          y.datagram(r, j, 1700000000L)))) &&
        x.expectedRows(3, 1700000000L) == y.expectedRows(3, 1700000000L) &&
        x.expectedRows(3, 1700000000L) != z.expectedRows(3, 1700000000L)
    }

    // 2. traced prefixes read exactly the decoded columns of the report
    val spark = Sessions.start(2, new File(root, "session"))
    try {
      a1.setup(spark)
      a1.warmUp(spark)
      val dir = a1.archive.dir
      check("archive_replay: every traced prefix reads the report's " +
        "decoded columns, and only those") {
        val full = Plans.decodedColumns(a1.report(spark))
        val reading = a1.prefixFrames(spark).filter(f => Set("decode",
          "filter", "fwm", "topk", "sflow")(f._1))
        val wrong = reading.filter(f => Plans.decodedColumns(f._2) != full)
        wrong.foreach(f => println(s"  ${f._1} reads " +
          s"${Plans.decodedColumns(f._2).toSeq.sorted}, report reads " +
          s"${full.toSeq.sorted}"))
        // the trap the guard exists for: decode with nothing downstream
        val unprojected = Plans.decodedColumns(NetflowDecoder.decode(
          spark.read.format("pktdump").load(new File(dir, "nf").getPath)))
        full.nonEmpty && full.size < 10 && reading.size == 5 &&
          wrong.isEmpty && unprojected.size > 60
      }

      // 3. one packet's octet field changed → the check fails
      check("archive_replay: untouched archive passes the check") {
        a1.runReport(spark)._1
      }
      check("archive_replay: one changed octet field is detected") {
        val f = new File(dir, "nf/exp-0.gpkd") // NetFlow v5
        val b = Files.readAllBytes(f.toPath)
        // file header 8, packet header 16, v5 header 24, then 48-byte
        // records: src at +0, dOctets at +20, protocol at +38. Change a
        // flow the MO filter (proto 6, src 10/8) keeps.
        val rec = (0 until 30).map(8 + 16 + 24 + 48 * _)
          .find(o => b(o) == 10 && b(o + 38) == 6).get
        b(rec + 23) = (b(rec + 23) ^ 1).toByte
        Files.write(f.toPath, b)
        !a1.runReport(spark)._1
      }
    } finally spark.stop()

    // 4. smoke: every workload, both modes, every named metric measured
    //    (or listed as not exercised) and recorded in its unit
    Seq("archive_replay", "live_alerts").foreach { w =>
      Seq(false, true).foreach { trace =>
        val a = args(new File(root, s"smoke-$w-$trace"), w, 3, trace)
        val (correct, metrics) = Main.result(a, Main.run(a))
        val want = Main.named(if (trace) "per_layer" else "end_to_end")
          .toMap
        check(s"$w trace=$trace: smoke run correct, every metric present " +
          "with its unit") {
          correct && metrics.keySet == want.keySet &&
            want.forall { case (n, u) => metrics(n)._2 == u }
        }
      }
    }
    Main.deleteTree(root)
    println(if (failures == 0) "self-test: all passed"
            else s"self-test: $failures failed")
    Runtime.getRuntime.halt(if (failures == 0) 0 else 1)
  }
}
