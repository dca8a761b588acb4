package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.{AisPipeline, StatefulOps, StreamingOps}
import graft.streaming.StatefulOps.{Feat, RankedFeat}

/** The reference's two-job chain assembled from the engine's public
  * functions: text file source → `AisPipeline.preprocess` →
  * `toJsonEnvelope` → `from_json(featureSchema)` →
  * `flatMapGroupsWithState(StatefulOps.last3FeatPerKey)` → a
  * `foreachBatch` sink that collects each batch's output. */
object Ais {
  val TickMs = 100
  /** Leading seconds of the live feed that only warm the stream up
    * (the backfill drains once untimed for the same reason): per-batch
    * code paths get hot over tens of batches, which the set-up's
    * one-batch warm-up cannot do. */
  val WarmS = 6
  /** Backlog of the backfill workload: 20 s of the feed (~56k
    * frames), in files of one second's frames, drained 4 files per
    * trigger (5 micro-batches per drain). */
  val BacklogMs = 20000L
  val FileMs = 1000L
  val FilesPerTrigger = 4
  val Setups = 3

  def chain(spark: SparkSession, dir: Path, maxFiles: Option[Int], observe: Boolean): Dataset[RankedFeat] = {
    import spark.implicits._
    val reader = maxFiles.fold(spark.readStream)(n => spark.readStream.option("maxFilesPerTrigger", n.toString))
    val src = reader.text(dir.toString)
    val raw = if (observe) src.observe("read", count(lit(1)).as("n")) else src
    val features0 = AisPipeline.preprocess(raw)
    val features = if (observe) features0.observe("kept", count(lit(1)).as("n")) else features0
    features.select(AisPipeline.toJsonEnvelope(features))
      .select(from_json($"value", AisPipeline.featureSchema).as("m"))
      .select($"m.mmsi".as("mmsi"), unix_micros($"m.timestamp_utc").as("ts_us"),
              $"m.speed_over_ground".as("speed_over_ground"),
              $"m.course_over_ground".as("course_over_ground"),
              $"m.rate_of_turn".as("rate_of_turn"), $"m.longitude".as("longitude"),
              $"m.latitude".as("latitude"), $"m.cartesian_x".as("cartesian_x"),
              $"m.cartesian_y".as("cartesian_y"))
      .as[Feat]
      .groupByKey(_.mmsi)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        StatefulOps.last3FeatPerKey _)
  }

  /** Collects every batch's emitted rows: keeps each vessel's latest
    * top 3 and the time each frame was first emitted at rn = 1. */
  final class Sink(fr: Frames, tracer: Tracer) {
    val top = new java.util.HashMap[Int, Vector[Out]]()
    val firstNs: Array[Long] = Array.fill(fr.n)(-1L)
    val fn: (DataFrame, Long) => Unit = (df, id) =>
      tracer.span(df.sparkSession, Tracer.SinkLayer, s"sink $id") { _ =>
        val rows = df.select("mmsi", "rn", "ts_us", "longitude", "latitude",
                             "speed_over_ground", "course_over_ground").collect()
        val firsts = ArrayBuffer.empty[Int]
        rows.groupBy(_.getInt(0)).foreach { case (m, rs) =>
          val sorted = rs.sortBy(_.getInt(1))
          top.put(m, sorted.iterator.map(r => Out(r.getLong(2), r.getDouble(3), r.getDouble(4),
                                                 r.getDouble(5), r.getDouble(6))).toVector)
          val j = fr.find(m, sorted.head.getLong(2) / 1000000L)
          if (j >= 0 && firstNs(j) < 0) firsts += j
        }
        val t = System.nanoTime()
        firsts.foreach(firstNs(_) = t)
      }
  }

  def start(ranked: Dataset[RankedFeat], sink: Sink, ckpt: Path, trigger: Trigger): StreamingQuery =
    ranked.toDF().writeStream.foreachBatch(sink.fn).outputMode("update")
      .option("checkpointLocation", ckpt.toString).trigger(trigger).start()

  final case class Ctx(spark: SparkSession, fr: Frames, backlog: Path)

  /** Vessels whose final top 3 differs from the plain-Scala
    * recomputation. */
  private def check(got: java.util.HashMap[Int, Vector[Out]],
                    expected: java.util.HashMap[Int, Vector[Out]]): Set[Int] = {
    val bad = mutable.HashSet.empty[Int]
    expected.forEach((m, e) => if (got.get(m) != e) bad += m)
    got.forEach((m, _) => if (!expected.containsKey(m)) bad += m)
    bad.toSet
  }

  private def dir(p: Path): Path = { Files.createDirectories(p); p }
  private def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally s.close()
  }

  /** Session, streaming settings and a short warm-up stream, so the
    * timed runs see a JIT-warm chain and an initialised state store. */
  private def session(a: Args, cpus: Int, work: Path, warm: Boolean): SparkSession = {
    val spark = Sessions.create(cpus, dir(work.resolve("local")).toString)
    StreamingOps.configureStreaming(spark)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (warm) {
      val wd = work.resolve("warm"); rmrf(wd)
      val fr = Gen.frames(a.seed, 3000L)
      fr.writeFile(dir(wd.resolve("stage")), dir(wd.resolve("in")), "0.json", 0, fr.n)
      val q = start(chain(spark, wd.resolve("in"), None, observe = false), new Sink(fr, new Tracer(false)),
                    wd.resolve("ckpt"), Trigger.AvailableNow())
      q.awaitTermination()
      rmrf(wd)
    }
    spark
  }

  private def stageBacklog(fr: Frames, work: Path): Path = {
    val d = work.resolve("backlog"); rmrf(d)
    val in = dir(d.resolve("in")); val st = dir(d.resolve("stage"))
    var j = 0; var f = 0
    while (j < fr.n) {
      val lim = (f + 1) * FileMs
      var e = j
      while (e < fr.n && fr.deliverMs(e) < lim) e += 1
      if (e > j) fr.writeFile(st, in, f"$f%05d.json", j, e)
      j = e; f += 1
    }
    in
  }

  private def batchStart(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
  private def trigMs(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  /** Result of one measured pass over the workload's input. */
  final case class Pass(passS: Double, latMs: Seq[Double], batchS: Seq[Double], consumed: Long,
                        attempted: Long, failed: Long, error: Option[String],
                        layers: Map[String, Double], extra: Map[String, Double])

  /** Attempted/failed frames over every pass (`others` are the traced
    * and baseline ones), and the metrics shared by both AIS workloads. */
  private def result(a: Args, setups: Seq[Double], heapMb: Double, host: Map[String, Double],
                     passes: Seq[Pass], others: Seq[Pass], traced: Option[Pass], e2e: Map[String, Double],
                     overheadS: Option[Double], extra: Map[String, Double]): Result = {
    val all = passes ++ others
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val layers = traced.map { t =>
      t.layers ++ extra ++ Map("exec.gc_s" -> t.layers("host.gc_s"),
                               "trace.overhead_s" -> overheadS.getOrElse(0.0),
                               "failed_frac" -> failed.toDouble / attempted)
    }.getOrElse(Map.empty)
    val detail = Map[String, Any](
      "setup_runs_s" -> setups, "host" -> host, "passes_s" -> passes.map(_.passS),
      "batches_s" -> passes.map(_.batchS),
      "frames" -> passes.head.attempted, "failed_frames" -> all.map(_.failed),
      "errors" -> all.flatMap(_.error), "heap_peak_mb" -> heapMb) ++ extra
    all.flatMap(_.error).foreach(e => System.err.println(s"[perfbench] stream failed: $e"))
    new Result(failed == 0, attempted, failed, e2e, layers, detail)
  }

  /** Checks a finished stream. A frame fails when the stream died, or
    * when its vessel's final top 3 is wrong; a frame the stream never
    * read fails too. Returns the error, the progress, the frames read,
    * the failed-frame test and the failed-frame count. */
  private def finish(q: StreamingQuery, fr: Frames, sink: Sink, expected: java.util.HashMap[Int, Vector[Out]]) = {
    val err = q.exception.map(e => e.getClass.getName + ": " + e.getMessage)
    val progress = q.recentProgress.toSeq
    val consumed = progress.map(_.numInputRows).sum
    val bad = if (err.isDefined) Set.empty[Int] else check(sink.top, expected)
    val failedFrame: Int => Boolean = j => err.isDefined || bad(fr.mmsi(j))
    val failed = (0 until fr.n).count(failedFrame) + math.max(0L, fr.n - consumed)
    (err, progress, consumed, failedFrame, math.min(failed, fr.n.toLong))
  }

  // ---------------------------------------------------------------- live

  /** Writes the feed on a fixed 100 ms tick, whatever the stream does:
    * frames whose delivery time falls in tick k are written together at
    * k × 100 ms, which is when they are due. */
  final class Feed(fr: Frames, drop: Path, stage: Path, seconds: Int) extends Thread("perfbench-feed") {
    setDaemon(true)
    @volatile var startNs = 0L
    @volatile var startMs = 0L
    @volatile var endMs = 0L
    @volatile var error: Throwable = null
    val lateMs = ArrayBuffer.empty[Double]
    def dueNs(j: Int): Long = startNs + (fr.deliverMs(j) / TickMs + 1) * TickMs * 1000000L
    override def run(): Unit = try {
      startNs = System.nanoTime()
      startMs = System.currentTimeMillis()
      var j = 0
      for (k <- 1 to seconds * 1000 / TickMs) {
        val due = startNs + k * TickMs * 1000000L
        var now = System.nanoTime()
        while (now < due) { java.util.concurrent.locks.LockSupport.parkNanos(due - now); now = System.nanoTime() }
        var e = j
        while (e < fr.n && fr.deliverMs(e) < k * TickMs) e += 1
        if (e > j) fr.writeFile(stage, drop, f"$k%06d.json", j, e)
        lateMs += (System.nanoTime() - due) / 1e6
        j = e
      }
      endMs = System.currentTimeMillis()
    } catch { case t: Throwable => error = t }
  }

  private def livePass(c: Ctx, a: Args, work: Path, tracer: Tracer, tag: String,
                       expected: java.util.HashMap[Int, Vector[Out]]): Pass = {
    val d = work.resolve(s"live-$tag"); rmrf(d)
    val drop = dir(d.resolve("in")); val stage = dir(d.resolve("stage"))
    val fr = c.fr
    val sink = new Sink(fr, tracer)
    tracer.attach(c.spark)
    val feed = new Feed(fr, drop, stage, WarmS + a.seconds)
    val host = new HostMeter
    val (q, caughtNs) = tracer.span(c.spark, "pass", "live") { _ =>
      val q = start(chain(c.spark, drop, None, tracer.on), sink, d.resolve("ckpt"), Trigger.ProcessingTime(0L))
      feed.start(); feed.join()
      try q.processAllAvailable() catch { case _: Exception => () }
      (q, System.nanoTime())
    }
    q.stop()
    tracer.detach()
    val (err0, progress, _, failedFrame, failed) = finish(q, fr, sink, expected)
    val err = err0.orElse(Option(feed.error).map(_.toString))
    val consumedByEnd = progress.filter(p => batchStart(p) + trigMs(p) <= feed.endMs)
      .map(_.numInputRows).sum
    val lat = (0 until fr.n)
      .filter(j => !fr.late(j) && fr.deliverMs(j) >= WarmS * 1000 && sink.firstNs(j) >= 0 &&
                   !failedFrame(j))
      .map(j => (sink.firstNs(j) - feed.dueNs(j)) / 1e6)
    val measured = progress.filter(p => p.numInputRows > 0 && batchStart(p) >= feed.startMs + WarmS * 1000)
    rmrf(d)
    Pass(Stats.secs(caughtNs - feed.startNs) - WarmS, lat, measured.map(trigMs(_) / 1e3), consumedByEnd,
         fr.n, failed, err,
         if (tracer.on) tracer.report() ++ host.done() else Map.empty,
         Map("gen.frames" -> fr.n.toDouble, "gen.late_ms_p99" -> Stats.quantile(feed.lateMs, 0.99)))
  }

  def live(a: Args): Result = {
    val work = Paths(a.work)
    val (c, setups) = Sessions.timedSetups(Setups)((c: Ctx) => Sessions.stop(c.spark)) { () =>
      val spark = session(a, a.cpus, work, warm = true)
      Ctx(spark, Gen.frames(a.seed, (WarmS + a.seconds) * 1000L), null)
    }
    val expected = c.fr.expectedTop3(c.fr.n)
    val host = new HostMeter
    val p = livePass(c, a, work, new Tracer(false), "m", expected)
    val heapMb = Heap.liveMb()
    val hostM = host.done()
    val traced = if (a.trace) Some(livePass(c, a, work, new Tracer(true), "t", expected)) else None
    Sessions.stop(c.spark)
    result(a, setups, heapMb, hostM, Seq(p), traced.toSeq, traced, Map(
      "setup_s" -> Stats.median(setups),
      "latency_p50_ms" -> Stats.median(p.latMs),
      "latency_p99_ms" -> Stats.quantile(p.latMs, 0.99),
      "consumed_frac" -> p.consumed.toDouble / c.fr.n,
      "throughput_fps" -> p.consumed.toDouble * (p.attempted - p.failed) / p.attempted /
                          (WarmS + a.seconds),
      "pass_s" -> p.passS,
      "query_p50_s" -> Stats.median(p.batchS),
      "query_p95_s" -> Stats.quantile(p.batchS, 0.95),
      "heap_peak_mb" -> heapMb),
      traced.map(t => (Stats.median(t.latMs) - Stats.median(p.latMs)) / 1e3),
      traced.getOrElse(p).extra)
  }

  // ------------------------------------------------------------ backfill

  private def drain(c: Ctx, work: Path, tracer: Tracer, tag: String,
                    expected: java.util.HashMap[Int, Vector[Out]]): Pass = {
    val ckpt = work.resolve(s"ckpt-$tag"); rmrf(ckpt)
    val fr = c.fr
    val sink = new Sink(fr, tracer)
    tracer.attach(c.spark)
    val host = new HostMeter
    val t0 = System.nanoTime()
    val q = tracer.span(c.spark, "pass", "drain") { _ =>
      val q = start(chain(c.spark, c.backlog, Some(FilesPerTrigger), tracer.on), sink, ckpt,
                    Trigger.AvailableNow())
      try q.awaitTermination() catch { case _: Exception => () }
      q
    }
    val t1 = System.nanoTime()
    tracer.detach()
    val (err, progress, consumed, failedFrame, failed) = finish(q, fr, sink, expected)
    rmrf(ckpt)
    val lat = (0 until fr.n).filter(j => sink.firstNs(j) >= 0 && !failedFrame(j))
      .map(j => (sink.firstNs(j) - t0) / 1e6)
    Pass(Stats.secs(t1 - t0), lat, progress.filter(_.numInputRows > 0).map(trigMs(_) / 1e3),
         consumed, fr.n, failed, err, if (tracer.on) tracer.report() ++ host.done() else Map.empty,
         Map("gen.frames" -> fr.n.toDouble))
  }

  def backfill(a: Args): Result = {
    val work = Paths(a.work)
    val (c, setups) = Sessions.timedSetups(Setups)((c: Ctx) => Sessions.stop(c.spark)) { () =>
      val spark = session(a, a.cpus, work, warm = true)
      val fr = Gen.frames(a.seed, BacklogMs)
      Ctx(spark, fr, stageBacklog(fr, work))
    }
    val expected = c.fr.expectedTop3(c.fr.n)
    val host = new HostMeter
    val warm = drain(c, work, new Tracer(false), "w", expected)
    val passes = ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    // another drain only if it fits the run length: three at least
    var heapMb = 0.0
    while (passes.size < 3 || Stats.secs(System.nanoTime() - t0) + passes.last.passS <= a.seconds) {
      passes += drain(c, work, new Tracer(false), s"m${passes.size}", expected)
      heapMb = math.max(heapMb, Heap.liveMb())
    }
    val hostM = host.done()
    val traced = if (a.trace) Some(drain(c, work, new Tracer(true), "t", expected)) else None
    Sessions.stop(c.spark)
    // single-threaded baseline of the same drain, traced runs only
    val base = if (!a.trace) None else {
      val s1 = session(a, 1, work, warm = false)
      val b = drain(c.copy(spark = s1), work, new Tracer(false), "b", expected)
      Sessions.stop(s1)
      Some(b)
    }
    def med(f: Pass => Double) = Stats.median(passes.map(f))
    val batchS = passes.flatMap(_.batchS).toSeq
    result(a, setups, heapMb, hostM, warm +: passes.toSeq, traced.toSeq ++ base, traced, Map(
      "setup_s" -> Stats.median(setups),
      "latency_p50_ms" -> med(p => Stats.median(p.latMs)),
      "latency_p99_ms" -> med(p => Stats.quantile(p.latMs, 0.99)),
      "consumed_frac" -> passes.map(_.consumed).sum.toDouble / (c.fr.n.toLong * passes.size),
      "throughput_fps" -> med(p => (p.attempted - p.failed) / p.passS),
      "pass_s" -> med(_.passS),
      "query_p50_s" -> Stats.median(batchS),
      "query_p95_s" -> Stats.quantile(batchS, 0.95),
      "heap_peak_mb" -> heapMb),
      traced.map(_.passS - med(_.passS)),
      passes.head.extra ++ base.map(b => "baseline.local1_throughput_fps" -> (b.attempted - b.failed) / b.passS))
  }
}
