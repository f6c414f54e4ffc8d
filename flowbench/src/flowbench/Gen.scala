package flowbench

import java.io.ByteArrayOutputStream
import java.util.SplittableRandom

/** Seeded traffic generation: flow tables, their wire encodings
  * (NetFlow v5, v9, IPFIX, sFlow v5) and the ground truth the engine's
  * results are checked against. Everything here is plain JVM code; the
  * engine only ever sees the bytes written out. */

/** Columnar flow table. `ts` is epoch seconds, `rate` the exporter's
  * sampling rate (the engine multiplies measures by it). */
final class Flows(cap: Int) {
  var n = 0
  val src = new Array[Long](cap)
  val dst = new Array[Long](cap)
  val sport = new Array[Int](cap)
  val dport = new Array[Int](cap)
  val proto = new Array[Int](cap)
  val octets = new Array[Long](cap)
  val pkts = new Array[Long](cap)
  val ts = new Array[Long](cap)
  val rate = new Array[Int](cap)

  def add(s: Long, d: Long, sp: Int, dp: Int, pr: Int, oct: Long, pk: Long,
          t: Long, r: Int): Int = {
    src(n) = s; dst(n) = d; sport(n) = sp; dport(n) = dp; proto(n) = pr
    octets(n) = oct; pkts(n) = pk; ts(n) = t; rate(n) = r
    n += 1
    n - 1
  }
}

object Rng {
  /** Heavy-tailed index in [0, m): P(idx < k) = (k/m)^(1/a). */
  def skewed(r: SplittableRandom, m: Int, a: Double): Int =
    math.min(m - 1, (m * math.pow(r.nextDouble(), a)).toInt)

  def ip(a: Int, b: Int, c: Int, d: Int): Long =
    (a.toLong << 24) | (b.toLong << 16) | (c.toLong << 8) | d.toLong
}

/** Wire encoders. Byte layouts follow the public specs (RFC 3954,
  * RFC 7011, sFlow v5) as the engine's decoders read them. */
object Wire {
  private final class Buf extends ByteArrayOutputStream(1500) {
    def u8(v: Int): Unit = write(v & 0xff)
    def u16(v: Int): Unit = { write((v >>> 8) & 0xff); write(v & 0xff) }
    def u32(v: Long): Unit = { u16((v >>> 16).toInt); u16(v.toInt) }
    def u64(v: Long): Unit = { u32(v >>> 32); u32(v & 0xffffffffL) }
    def patch16(at: Int, v: Int): Unit = {
      buf(at) = ((v >>> 8) & 0xff).toByte; buf(at + 1) = (v & 0xff).toByte
    }
  }

  /** NetFlow v5: 24-byte header + 48-byte records; the header's
    * sampling interval carries the rate. */
  def v5(f: Flows, from: Int, until: Int, unixSecs: Long, seq: Long,
         rate: Int): Array[Byte] = {
    val b = new Buf
    b.u16(5); b.u16(until - from); b.u32(100000L); b.u32(unixSecs)
    b.u32(0); b.u32(seq); b.u8(0); b.u8(0); b.u16(rate & 0x3fff)
    var i = from
    while (i < until) {
      b.u32(f.src(i)); b.u32(f.dst(i)); b.u32(0)
      b.u16(1); b.u16(2)
      b.u32(f.pkts(i)); b.u32(f.octets(i))
      b.u32(90000L); b.u32(99000L)
      b.u16(f.sport(i)); b.u16(f.dport(i))
      b.u8(0); b.u8(0x18); b.u8(f.proto(i)); b.u8(0)
      b.u16(64512); b.u16(64513); b.u8(24); b.u8(24); b.u16(0)
      i += 1
    }
    b.toByteArray
  }

  // (field id, length) of the flow template shared by v9 and IPFIX
  private val flowTemplate = Seq(8 -> 4, 12 -> 4, 7 -> 2, 11 -> 2, 4 -> 1,
    1 -> 8, 2 -> 4, 22 -> 4, 21 -> 4)
  val FlowTid = 256
  val OptTid = 257

  private def flowRecord(b: Buf, f: Flows, i: Int): Unit = {
    b.u32(f.src(i)); b.u32(f.dst(i)); b.u16(f.sport(i)); b.u16(f.dport(i))
    b.u8(f.proto(i)); b.u64(f.octets(i)); b.u32(f.pkts(i))
    b.u32(90000L); b.u32(99000L)
  }

  /** NetFlow v9. With `announce`, the packet leads with the flow
    * template, the sampling options template and one options record
    * (field 34 = sampling interval). */
  def v9(f: Flows, from: Int, until: Int, unixSecs: Long, seq: Long,
         sourceId: Long, rate: Int, announce: Boolean): Array[Byte] = {
    val b = new Buf
    b.u16(9); b.u16(0); b.u32(100000L); b.u32(unixSecs); b.u32(seq)
    b.u32(sourceId)
    if (announce) {
      b.u16(0); b.u16(4 + 4 + 4 * flowTemplate.size)
      b.u16(FlowTid); b.u16(flowTemplate.size)
      flowTemplate.foreach { case (id, len) => b.u16(id); b.u16(len) }
      b.u16(1); b.u16(4 + 6 + 4 + 4)
      b.u16(OptTid); b.u16(4); b.u16(4)
      b.u16(1); b.u16(4) // scope: system
      b.u16(34); b.u16(4) // SAMPLING_INTERVAL
      b.u16(OptTid); b.u16(4 + 8); b.u32(sourceId); b.u32(rate)
    }
    b.u16(FlowTid); b.u16(4 + 33 * (until - from))
    var i = from
    while (i < until) { flowRecord(b, f, i); i += 1 }
    val out = b.toByteArray
    val records = (until - from) + (if (announce) 3 else 0)
    out(2) = (records >>> 8).toByte; out(3) = records.toByte
    out
  }

  /** IPFIX; same template content as [[v9]], options template carries
    * scope 149 (observationDomainId) + 34 (samplingInterval). */
  def ipfix(f: Flows, from: Int, until: Int, exportSecs: Long, seq: Long,
            domainId: Long, rate: Int, announce: Boolean): Array[Byte] = {
    val b = new Buf
    b.u16(10); b.u16(0); b.u32(exportSecs); b.u32(seq); b.u32(domainId)
    if (announce) {
      b.u16(2); b.u16(4 + 4 + 4 * flowTemplate.size)
      b.u16(FlowTid); b.u16(flowTemplate.size)
      flowTemplate.foreach { case (id, len) => b.u16(id); b.u16(len) }
      b.u16(3); b.u16(4 + 6 + 8)
      b.u16(OptTid); b.u16(2); b.u16(1)
      b.u16(149); b.u16(4); b.u16(34); b.u16(4)
      b.u16(OptTid); b.u16(4 + 8); b.u32(domainId); b.u32(rate)
    }
    b.u16(FlowTid); b.u16(4 + 33 * (until - from))
    var i = from
    while (i < until) { flowRecord(b, f, i); i += 1 }
    b.patch16(2, b.size())
    b.toByteArray
  }

  /** sFlow v5 datagram: one flow sample per flow, each with a raw
    * Ethernet/IPv4/L4 header record; frame length carries the octets. */
  def sflow(f: Flows, from: Int, until: Int, agent: Long, seq: Long,
            rate: Int): Array[Byte] = {
    val b = new Buf
    b.u32(5); b.u32(1); b.u32(agent); b.u32(0); b.u32(seq); b.u32(100000L)
    b.u32(until - from)
    var i = from
    while (i < until) {
      val hdrLen = 14 + 20 + 20
      val recLen = 16 + hdrLen + 2 // header padded to a 4-byte boundary
      b.u32(1); b.u32(32 + 8 + recLen)
      b.u32(seq * 64 + i); b.u32(1); b.u32(rate); b.u32(rate * 1000L)
      b.u32(0); b.u32(1); b.u32(2); b.u32(1)
      b.u32(1); b.u32(recLen)
      b.u32(1); b.u32(f.octets(i)); b.u32(0); b.u32(hdrLen)
      // Ethernet
      b.u16(0x0200); b.u32(1); b.u16(0x0200); b.u32(2); b.u16(0x0800)
      // IPv4
      b.u8(0x45); b.u8(0); b.u16(1500); b.u16(i & 0xffff); b.u16(0)
      b.u8(64); b.u8(f.proto(i)); b.u16(0); b.u32(f.src(i)); b.u32(f.dst(i))
      // TCP/UDP ports + the rest of a 20-byte TCP header
      b.u16(f.sport(i)); b.u16(f.dport(i)); b.u32(0); b.u32(0)
      b.u8(0x50); b.u8(0x18); b.u16(1024); b.u32(0)
      b.u16(0)
      i += 1
    }
    b.toByteArray
  }
}

/** Open-addressing Long → Long sum map (ground-truth aggregation). */
final class SumMap(initial: Int = 1024) {
  private var cap = Integer.highestOneBit(math.max(16, initial) * 2)
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var used = new Array[Boolean](cap)
  var size = 0

  private def slot(k: Long): Int = {
    var h = k * 0x9E3779B97F4A7C15L
    h ^= h >>> 31
    var i = (h & (cap - 1)).toInt
    while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
    i
  }

  def add(k: Long, v: Long): Unit = {
    if (size * 2 >= cap) grow()
    val i = slot(k)
    if (!used(i)) { used(i) = true; keys(i) = k; size += 1 }
    vals(i) += v
  }

  def max(k: Long, v: Long): Unit = {
    if (size * 2 >= cap) grow()
    val i = slot(k)
    if (!used(i)) { used(i) = true; keys(i) = k; vals(i) = v; size += 1 }
    else if (v > vals(i)) vals(i) = v
  }

  def get(k: Long): Option[Long] = {
    val i = slot(k)
    if (used(i)) Some(vals(i)) else None
  }

  def foreach(fn: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < cap) { if (used(i)) fn(keys(i), vals(i)); i += 1 }
  }

  private def grow(): Unit = {
    val (ok, ov, ou) = (keys, vals, used)
    cap *= 2
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    used = new Array[Boolean](cap); size = 0
    var i = 0
    while (i < ok.length) { if (ou(i)) add(ok(i), ov(i)); i += 1 }
  }
}

/** Expected fwm output: per window, the top-N groups by measure desc
  * then key asc, plus one NULL-keyed "others" row summing the rest —
  * the order `Fwm.finishWindows` emits. */
object Expect {
  /** One expected output row: window start, key (None = others), sum. */
  final case class Row(time: Long, key: Option[Long], value: Long)

  def topN(windows: collection.Map[Long, SumMap], n: Int): Seq[Row] =
    windows.keys.toSeq.sorted.flatMap { w =>
      val all = Array.newBuilder[(Long, Long)]
      windows(w).foreach((k, v) => all += ((k, v)))
      val sorted = all.result().sortWith { case ((k1, v1), (k2, v2)) =>
        v1 > v2 || (v1 == v2 && java.lang.Long.compareUnsigned(k1, k2) < 0)
      }
      val head = sorted.take(n).map { case (k, v) => Row(w, Some(k), v) }
      val rest = sorted.drop(n)
      head.toSeq ++ (if (rest.isEmpty) Nil
                     else Seq(Row(w, None, rest.map(_._2).sum)))
    }

  def window(ts: Long, len: Long): Long = ts - ts % len

  /** Classification cut: the largest classes, by value, until `pct`
    * percent of the total is covered, as (key >>> 8, key & 0xff, value). */
  def classCut(classes: SumMap, pct: Double): Set[(Long, Long, Long)] = {
    val all = Array.newBuilder[(Long, Long)]
    classes.foreach((k, v) => all += ((k, v)))
    val sorted = all.result().sortWith { case ((k1, v1), (k2, v2)) =>
      v1 > v2 || (v1 == v2 && k1 < k2)
    }
    val total = sorted.map(_._2).sum.toDouble
    var cum = 0L
    sorted.takeWhile { case (_, v) =>
      val keep = cum < total * pct / 100.0
      cum += v
      keep
    }.map { case (k, v) => (k >>> 8, k & 0xff, v) }.toSet
  }

  /** Final decayed moving average per key from values summed per
    * (key << 32 | second): key → (value, last second). Values of one
    * second add up whatever their order, so per-second sums fold like
    * the single flows. */
  def decayedFinal(perSec: SumMap, windowSec: Long): Map[Long, (Long, Long)] = {
    val all = Array.newBuilder[(Long, Long)]
    perSec.foreach((k, v) => all += ((k, v)))
    all.result().groupBy(_._1 >>> 32).map { case (key, xs) =>
      var n = 0L
      var t = Long.MinValue
      xs.map { case (k, v) => (k & 0xffffffffL, v) }.sortBy(_._1).foreach {
        case (ts, v) =>
          n = if (t == Long.MinValue || ts - t >= windowSec) v
              else n - ((ts - t) * n) / windowSec + v
          t = ts
      }
      key -> ((n, t))
    }
  }
}

/** pktdump files (the engine's capture format: "GPKD", version, then
  * [u32 len][u64 ts][u32 src][payload] per packet), written with plain
  * java.io the way a collector writes them — no checksum sidecars. */
object DumpFile {
  import java.io._

  def write(f: File, packets: Iterable[(Array[Byte], Long, Long)]): Long = {
    f.getParentFile.mkdirs()
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(f), 1 << 16))
    try {
      out.writeInt(graft.sources.PktDump.MAGIC)
      out.writeInt(graft.sources.PktDump.VERSION)
      packets.foreach { case (p, ts, src) =>
        out.writeInt(p.length); out.writeLong(ts); out.writeInt(src.toInt)
        out.write(p)
      }
    } finally out.close()
    f.length()
  }

  def read(f: File): Seq[(Array[Byte], Long, Long)] = {
    val in = new DataInputStream(new BufferedInputStream(
      new FileInputStream(f), 1 << 16))
    try {
      in.readInt(); in.readInt()
      val out = Seq.newBuilder[(Array[Byte], Long, Long)]
      var more = true
      while (more) {
        try {
          val len = in.readInt()
          val ts = in.readLong()
          val src = in.readInt().toLong & 0xffffffffL
          val p = new Array[Byte](len)
          in.readFully(p)
          out += ((p, ts, src))
        } catch { case _: EOFException => more = false }
      }
      out.result()
    } finally in.close()
  }
}
