package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      out: String, work: String, slice: String, sf: String) {
  /** Sessions run `local[cpus]` with one core per host cpu. */
  val cpus: Int = Runtime.getRuntime.availableProcessors
}

object Paths {
  def apply(s: String): java.nio.file.Path = java.nio.file.Paths.get(s).toAbsolutePath
}

object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(String.valueOf(x))
  }
  private def obj(kv: Seq[(Any, Any)]): String =
    kv.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); 0 when empty, as in
    * a run whose every operation failed. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val a = xs.toArray
    if (a.isEmpty) return 0.0
    java.util.Arrays.sort(a)
    val h = (a.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, a.length - 1)
    a(lo) + (h - lo) * (a(hi) - a(lo))
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def secs(ns: Long): Double = ns / 1e9
}

object Sessions {
  /** A `local[cpus]` session configured like `graft.Bench`'s, except
    * that Spark's scratch dir lives in the benchmark's work dir. */
  def create(cpus: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs `setup` `times` times, each in a fresh session (the previous
    * one is stopped untimed), and returns the last result with every
    * set-up's wall time. */
  def timedSetups[T](times: Int)(stopPrev: T => Unit)(setup: () => T): (T, Seq[Double]) = {
    var last: Option[T] = None
    val ts = (1 to times).map { _ =>
      last.foreach(stopPrev)
      val t0 = System.nanoTime()
      last = Some(setup())
      Stats.secs(System.nanoTime() - t0)
    }
    (last.get, ts)
  }
}

object Heap {
  /** Live heap in MB: used heap right after a full collection. The
    * benchmark samples it after each measured pass and reports the
    * peak; a young collection's figure would depend on when old-gen
    * garbage happens to be reclaimed. */
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Host interference around a measured region, from `graft.CpuMeter`. */
final class HostMeter {
  private val c0 = graft.CpuMeter.snap()
  def done(): Map[String, Double] = {
    val d = graft.CpuMeter.delta(c0, graft.CpuMeter.snap())
    Map("host.steal_s" -> d.stealS, "host.other_cpu_s" -> d.otherS,
        "host.iowait_s" -> d.iowaitS, "host.gc_s" -> d.gcS,
        "host.load_avg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
  }
}
