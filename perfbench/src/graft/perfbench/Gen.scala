package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** AIS position-report traffic, fully determined by the seed.
  *
  * The fleet is sized so that its transmit cadences add up to the
  * production feed rate (2,800 frames/s): moving vessels report every
  * 5–30 s, anchored ones every 180 s, which gives about 42k vessels.
  * About 20 % of the vessels sail outside the South China Sea box
  * (filter W1 drops their frames), about 10 % of frames carry a
  * non-position message type (filter W4), and about 1 % of frames are
  * delivered up to 60 s after their event time.
  *
  * Event time is the generator clock: frame k of vessel v is stamped at
  * `phase(v) + k * cadence(v)` ms after [[Gen.EpochSec]]. Because every
  * cadence is at least 5 s, `(mmsi, event second)` identifies a frame.
  */
object Gen {
  val RateFps = 2800.0
  val EpochSec = 1767225600L // 2026-01-01T00:00:00Z, generator clock 0
  val MmsiBase = 412000000
  val PositionTypes = Array(1, 1, 1, 1, 1, 3, 18, 18, 27, 2)
  val OtherTypes = Array(5, 24, 21)

  /** South China Sea box of filter W1 (exclusive bounds). */
  def inBox(lonE5: Int, latE5: Int): Boolean =
    latE5 > 700000 && latE5 < 2300000 && lonE5 > 10500000 && lonE5 < 12300000
  def positionType(t: Int): Boolean = t == 1 || t == 2 || t == 3 || t == 18 || t == 27

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Per-frame random stream: a pure function of (seed, vessel, frame,
    * salt), so a frame's content does not depend on generation order. */
  private[perfbench] def rnd(seed: Long, v: Int, k: Int, salt: Int): Int =
    (mix(seed * 0x9E3779B97F4A7C15L + v * 0x632BE59BD9B4E019L +
         k * 0x85157AF5L + salt) >>> 33).toInt

  final class Fleet(seed: Long) {
    private val b = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    private val r = new java.util.SplittableRandom(seed)
    private var rate = 0.0
    while (rate < RateFps) {
      val anchored = r.nextInt(10) == 0
      val cadS = if (anchored) 180 else 5 + r.nextInt(26)
      val inside = r.nextInt(5) != 0
      // in-box vessels start 0.5° inside the box and drift at most
      // 0.001° per report, so they never leave it within a run
      val lon0 = if (inside) 10550000 + r.nextInt(1700000) else 12350000 + r.nextInt(500000)
      val lat0 = 750000 + r.nextInt(1500000)
      val (dLon, dLat) = if (anchored) (0, 0) else (r.nextInt(201) - 100, r.nextInt(201) - 100)
      b += Array(cadS, r.nextInt(cadS * 1000), lon0, lat0, dLon, dLat, if (anchored) 1 else 0)
      rate += 1.0 / cadS
    }
    val n: Int = b.size
    val cadS: Array[Int] = b.map(_(0)).toArray
    val phaseMs: Array[Int] = b.map(_(1)).toArray
    val lon0: Array[Int] = b.map(_(2)).toArray
    val lat0: Array[Int] = b.map(_(3)).toArray
    val dLon: Array[Int] = b.map(_(4)).toArray
    val dLat: Array[Int] = b.map(_(5)).toArray
    val anchored: Array[Boolean] = b.map(_(6) == 1).toArray
  }

  /** Every frame whose delivery time falls before `horizonMs`, in
    * delivery order. */
  def frames(seed: Long, horizonMs: Long): Frames = new Frames(seed, new Fleet(seed), horizonMs)
}

final class Frames(seed: Long, val fleet: Gen.Fleet, horizonMs: Long) {
  import Gen._
  private val perVessel: Array[Int] = Array.tabulate(fleet.n) { v =>
    // frames with event time before the horizon; late ones may still be
    // cut below by their delivery time
    val p = fleet.phaseMs(v).toLong
    if (p >= horizonMs) 0 else ((horizonMs - 1 - p) / (fleet.cadS(v) * 1000L) + 1).toInt
  }
  /** Offset of vessel v's frame 0 in vessel-major numbering. */
  private val vStart: Array[Int] = perVessel.scanLeft(0)(_ + _)

  // vessel-major draft, then sorted by delivery time
  private val all = vStart(fleet.n)
  private val dDeliver = new Array[Long](all)
  private val dLateMs = new Array[Int](all)
  for (v <- 0 until fleet.n; k <- 0 until perVessel(v)) {
    val i = vStart(v) + k
    val t = fleet.phaseMs(v) + k.toLong * fleet.cadS(v) * 1000L
    val late = rnd(seed, v, k, 1) % 100 == 0
    dLateMs(i) = if (late) 1000 + rnd(seed, v, k, 2) % 59001 else 0
    dDeliver(i) = t + dLateMs(i)
  }
  private val order: Array[Int] = {
    val keys = Array.tabulate(all)(i => (dDeliver(i) << 24) | i)
    java.util.Arrays.sort(keys)
    keys.iterator.map(k => (k & 0xFFFFFF).toInt)
      .filter(i => dDeliver(i) < horizonMs).toArray
  }
  /** Frames delivered before the horizon. */
  val n: Int = order.length
  /** Delivery-order position of each vessel-major frame, -1 if cut. */
  private val pos: Array[Int] = {
    val p = Array.fill(all)(-1); var j = 0
    while (j < n) { p(order(j)) = j; j += 1 }; p
  }
  val vessel = new Array[Int](n)
  val k = new Array[Int](n)
  val tMs = new Array[Long](n)
  val deliverMs = new Array[Long](n)
  val late = new Array[Boolean](n)
  val msgType = new Array[Int](n)
  val lonE5 = new Array[Int](n)
  val latE5 = new Array[Int](n)
  val sog10 = new Array[Int](n)
  val cog10 = new Array[Int](n)
  val rot = new Array[Int](n)
  locally {
    // vessel of a vessel-major index
    val vOf = new Array[Int](all)
    for (v <- 0 until fleet.n; kk <- 0 until perVessel(v)) vOf(vStart(v) + kk) = v
    var j = 0
    while (j < n) {
      val i = order(j); val v = vOf(i); val kk = i - vStart(v)
      vessel(j) = v; k(j) = kk
      tMs(j) = fleet.phaseMs(v) + kk.toLong * fleet.cadS(v) * 1000L
      deliverMs(j) = dDeliver(i); late(j) = dLateMs(i) > 0
      val m = rnd(seed, v, kk, 3)
      msgType(j) = if (m % 100 < 10) OtherTypes(m / 100 % 3) else PositionTypes(m / 100 % 10)
      lonE5(j) = fleet.lon0(v) + kk * fleet.dLon(v)
      latE5(j) = fleet.lat0(v) + kk * fleet.dLat(v)
      val s = rnd(seed, v, kk, 4)
      sog10(j) = if (fleet.anchored(v)) s % 4 else 10 + s % 240
      cog10(j) = rnd(seed, v, kk, 5) % 3600
      rot(j) = if (fleet.anchored(v)) 0 else rnd(seed, v, kk, 6) % 255 - 127
      j += 1
    }
  }

  def mmsi(j: Int): Int = MmsiBase + vessel(j)
  def tsSec(j: Int): Long = EpochSec + tMs(j) / 1000

  /** Delivery position of vessel `mmsi`'s frame stamped in second `sec`,
    * or -1 when no delivered frame matches. */
  def find(mmsi: Int, sec: Long): Int = {
    val v = mmsi - MmsiBase
    if (v < 0 || v >= fleet.n) return -1
    val cadMs = fleet.cadS(v) * 1000L
    val num = (sec - EpochSec) * 1000L - fleet.phaseMs(v)
    val kk = if (num <= 0) 0L else (num + cadMs - 1) / cadMs
    if (kk >= perVessel(v)) return -1
    val j = pos(vStart(v) + kk.toInt)
    if (j >= 0 && tsSec(j) == sec) j else -1
  }

  /** Frame j as the Kafka `value` JSON envelope: all 17 fields of
    * `AisPipeline.aisSchema`. */
  def appendJson(sb: java.lang.StringBuilder, j: Int): Unit = {
    val v = vessel(j); val anchored = fleet.anchored(v)
    sb.append("{\"timestamp_utc\":\"")
    appendTs(sb, tsSec(j))
    sb.append("\",\"mmsi\":").append(mmsi(j))
    sb.append(",\"position\":\"POINT (")
    appendE5(sb, lonE5(j)); sb.append(' '); appendE5(sb, latE5(j))
    sb.append(")\",\"navigation_status\":").append(if (anchored) "1.0" else "0.0")
    sb.append(",\"speed_over_ground\":"); appendTenths(sb, sog10(j))
    sb.append(",\"course_over_ground\":"); appendTenths(sb, cog10(j))
    sb.append(",\"message_type\":").append(msgType(j))
    sb.append(",\"source_identifier\":\"T-").append(v % 7)
    sb.append("\",\"position_verified\":1,\"position_latency\":").append(k(j) & 1)
    sb.append(",\"raim_flag\":0,\"vessel_name\":\"VESSEL ").append(v)
    sb.append("\",\"vessel_type\":\"").append(VesselTypes(v % VesselTypes.length))
    sb.append("\",\"timestamp_offset_seconds\":").append(tsSec(j) % 60)
    sb.append(",\"true_heading\":").append(cog10(j) / 10).append(".0")
    sb.append(",\"rate_of_turn\":").append(rot(j)).append(".0")
    sb.append(",\"repeat_indicator\":0}\n")
  }
  private val VesselTypes = Array("Cargo", "Tanker", "Fishing", "Passenger", "Tug")

  private def appendE5(sb: java.lang.StringBuilder, x: Int): Unit = {
    if (x < 0) sb.append('-')
    val a = math.abs(x)
    sb.append(a / 100000).append('.')
    val f = a % 100000
    var d = 10000
    while (d > 0) { sb.append((('0' + f / d % 10)).toChar); d /= 10 }
  }
  private def appendTenths(sb: java.lang.StringBuilder, x: Int): Unit =
    sb.append(x / 10).append('.').append(x % 10)
  private def appendTs(sb: java.lang.StringBuilder, sec: Long): Unit =
    sb.append(java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
      .format(TsFormat)).append('Z')
  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Writes frames [from, until) as one file into `dir`, written under
    * `stage` first and renamed in, so a file source never sees a
    * partial file. */
  def writeFile(stage: Path, dir: Path, name: String, from: Int, until: Int): Unit = {
    val sb = new java.lang.StringBuilder((until - from) * 420)
    var j = from
    while (j < until) { appendJson(sb, j); j += 1 }
    val tmp = stage.resolve(name)
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Final per-vessel top 3 recomputed in plain Scala over frames
    * [0, until): filters W4 and W1, then the ts-desc order of
    * `StatefulOps.featDescOrdering` (ties by longitude, latitude, sog,
    * cog, all descending). Each row is (ts_us, lon, lat, sog, cog). */
  def expectedTop3(until: Int): java.util.HashMap[Int, Vector[Out]] = {
    val by = new java.util.HashMap[Int, List[Out]]()
    var j = 0
    while (j < until) {
      if (positionType(msgType(j)) && inBox(lonE5(j), latE5(j))) {
        val o = Out(tsSec(j) * 1000000L, lonE5(j) / 100000.0, latE5(j) / 100000.0,
                    sog10(j) / 10.0, cog10(j) / 10.0)
        val cur = by.get(mmsi(j))
        by.put(mmsi(j), (o :: (if (cur == null) Nil else cur)).sorted(Out.desc).take(3))
      }
      j += 1
    }
    val res = new java.util.HashMap[Int, Vector[Out]]()
    by.forEach((m, l) => res.put(m, l.toVector))
    res
  }
}

final case class Out(tsUs: Long, lon: Double, lat: Double, sog: Double, cog: Double)
object Out {
  val desc: Ordering[Out] = new Ordering[Out] {
    def compare(a: Out, b: Out): Int = {
      var c = java.lang.Long.compare(b.tsUs, a.tsUs)
      if (c == 0) c = java.lang.Double.compare(b.lon, a.lon)
      if (c == 0) c = java.lang.Double.compare(b.lat, a.lat)
      if (c == 0) c = java.lang.Double.compare(b.sog, a.sog)
      if (c == 0) c = java.lang.Double.compare(b.cog, a.cog)
      c
    }
  }
}
