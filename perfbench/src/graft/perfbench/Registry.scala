package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Bench, QueryModule, SparkEntry}
import graft.operators._
import graft.sources.SourceOps
import graft.streaming.StreamingOps

/** Runs registered queries of `SparkEntry.queries` at sf0.1, each
  * materialised through the `noop` sink as `graft.Bench` does. */
object Registry {
  val Modules: Seq[(String, QueryModule)] = Seq(
    "RelationalOps" -> RelationalOps, "TemporalJoinOps" -> TemporalJoinOps,
    "SpatialJoinOps" -> SpatialJoinOps, "FuzzyJoinOps" -> FuzzyJoinOps, "AisOps" -> AisOps,
    "WindowOps" -> WindowOps, "AnalyticsOps" -> AnalyticsOps, "TextOps" -> TextOps,
    "CurationOps" -> CurationOps, "DedupOps" -> DedupOps, "SimilarityOps" -> SimilarityOps,
    "MultimodalOps" -> MultimodalOps, "GraphOps" -> GraphOps, "MiningOps" -> MiningOps,
    "ScaleOps" -> ScaleOps, "SurfaceOps" -> SurfaceOps, "SourceOps" -> SourceOps,
    "StreamingOps" -> StreamingOps)

  /** The fixed slice one run measures. A full pass takes three to six
    * minutes on a 4-core host, more than a run can hold, so the slice
    * keeps one query of every operator module, mostly the module's
    * cheaper ones. f3_rot_decode (through Tbl.events),
    * s13_stream_curation (through runToTable) and x_pipe_syntax (a temp
    * view) keep known leaks and a stream's start/stop in view;
    * j9_fuzzy_join_ed2, x_triangle_count and j10_geofence_join are the
    * lightest queries their modules have and set the tail. */
  val Slice: Seq[String] = Seq(
    "f3_rot_decode",         // AisOps
    "x_pipe_syntax",         // AnalyticsOps
    "x_k_anonymity",         // CurationOps
    "dd_key_dedup",          // DedupOps
    "j9_fuzzy_join_ed2",     // FuzzyJoinOps
    "x_triangle_count",      // GraphOps
    "x_correlation",         // MiningOps
    "mm_ingest",             // MultimodalOps
    "j2_anti_join",          // RelationalOps
    "x_kmv_distinct",        // ScaleOps
    "sim_topk_brute",        // SimilarityOps
    "src_seed_union",        // SourceOps
    "j10_geofence_join",     // SpatialJoinOps
    "s13_stream_curation",   // StreamingOps
    "x_bitwise",             // SurfaceOps
    "j5_asof_join",          // TemporalJoinOps
    "tx_quality_score",      // TextOps
    "x_cube_orders")         // WindowOps

  val SetupRuns = 3

  private def moduleOf(q: String): String =
    Modules.collectFirst { case (m, mod) if mod.queries.contains(q) => m }.getOrElse("?")

  /** What a query may leave behind in the session. */
  final case class SessionState(conf: Map[String, String], views: Set[String],
                                cached: Boolean, streams: Set[String])
  private def state(s: SparkSession): SessionState =
    SessionState(s.conf.getAll, s.sqlContext.tableNames().toSet,
                 !s.sharedState.cacheManager.isEmpty,
                 s.streams.active.map(q => Option(q.name).getOrElse(q.id.toString)).toSet)

  /** Leaks of one query, as readable strings; empty when hermetic. */
  private def leaks(before: SessionState, after: SessionState): Seq[String] =
    after.conf.collect { case (k, v) if !before.conf.get(k).contains(v) => s"conf $k=$v" }.toSeq.sorted ++
      (after.views -- before.views).toSeq.sorted.map("view " + _) ++
      (if (after.cached && !before.cached) Seq("cached relation") else Nil) ++
      (after.streams -- before.streams).toSeq.sorted.map("stream " + _)

  /** Bench's between-query cleanup, plus stopping any stream left
    * running so it cannot load later queries. Confs stay as left. */
  private def cleanup(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sqlContext.tableNames().foreach(s.catalog.dropTempView)
    s.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => })
  }

  final case class Exec(name: String, ok: Boolean, error: String,
                        buildS: Double, execS: Double) {
    def wallS: Double = buildS + execS
  }

  private def runQuery(s: SparkSession, tracer: Tracer, sfDir: String, name: String, parent: Long,
                       ledger: mutable.Map[String, Seq[String]])(write: org.apache.spark.sql.DataFrame => Unit): Exec = {
    val before = tracer.harness(s)(state(s))
    var tb = 0L; var te = 0L
    val t0 = System.nanoTime()
    val err = tracer.span(s, "query", name, parent) { qid =>
      try {
        val df = tracer.span(s, Tracer.BuildLayer, name, qid) { _ => SparkEntry.queries(name)(s, sfDir) }
        tb = System.nanoTime()
        tracer.span(s, Tracer.ExecuteLayer, name, qid) { _ => write(df) }
        te = System.nanoTime()
        ""
      } catch { case NonFatal(e) => e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300) }
    }
    tracer.harness(s) {
      val l = leaks(before, state(s))
      if (l.nonEmpty) ledger(name) = (ledger.getOrElse(name, Nil) ++ l).distinct
      cleanup(s)
    }
    if (err.nonEmpty) System.err.println(s"[perfbench] $name failed: $err")
    Exec(name, err.isEmpty, err, Stats.secs(tb - t0), Stats.secs(te - tb))
  }

  private def pass(s: SparkSession, tracer: Tracer, sfDir: String, names: Seq[String], i: Int,
                   ledger: mutable.Map[String, Seq[String]]): (Seq[Exec], Double) = {
    val t0 = System.nanoTime()
    val ex = tracer.span(s, "pass", s"pass $i") { pid =>
      names.map(n => runQuery(s, tracer, sfDir, n, pid, ledger)(Bench.materialize))
    }
    (ex, Stats.secs(System.nanoTime() - t0))
  }

  /** Untimed pass that writes every output as parquet, then compares
    * each with its DuckDB oracle through `tools/check.py`. Returns the
    * failing queries with the reason. */
  private def checkPass(s: SparkSession, a: Args, names: Seq[String], work: Path,
                        ledger: mutable.Map[String, Seq[String]]): Map[String, String] = {
    val out = work.resolve("out")
    val written = names.map { n =>
      // one ordered file per output, as tools/check.py expects; the
      // checkpoint runs the query at full parallelism first, so the
      // single-partition write only concatenates its sorted partitions
      runQuery(s, new Tracer(false), a.sf, n, 0L, ledger)(
        _.localCheckpoint().coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString))
    }
    val thrown = written.filterNot(_.ok).map(e => e.name -> e.error).toMap
    Files.createDirectories(out)
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(out.resolve("oracle_sql.json"), Json(oracles).getBytes(UTF_8))
    val pb = new ProcessBuilder((Seq("python3", "tools/check.py", a.sf, out.toString) ++
                                 names.filterNot(thrown.contains)): _*)
    val env = pb.environment()
    env.put("CHECK_CACHE", Paths(a.work).getParent.resolve("oracle_cache").toString)
    env.put("CHECK_SPILL", work.resolve("duck_spill").toString)
    env.put("CHECK_MEM", "2GB")
    env.put("CHECK_THREADS", a.cpus.toString)
    env.put("PYTHONIOENCODING", "utf-8")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val lines = new String(p.getInputStream.readAllBytes(), UTF_8).linesIterator.toSeq
    p.waitFor()
    val verdicts = lines.filter(l => l.startsWith("✓ ") || l.startsWith("✗ ")).map { l =>
      val parts = l.drop(2).trim.split("\\s+", 2)
      parts(0) -> (l.startsWith("✓ "), if (parts.length > 1) parts(1) else "")
    }.toMap
    val rowsOnly = "ROWS-ONLY\\((\\d+)\\)".r
    val bad = names.filterNot(thrown.contains).flatMap { n =>
      verdicts.get(n) match {
        case None => Some(n -> "no verdict from tools/check.py")
        case Some((false, why)) => Some(n -> why)
        case Some((true, rowsOnly(rows))) if rows.toInt == 0 => Some(n -> "no rows (no oracle)")
        case _ => None
      }
    }.toMap
    (thrown ++ bad).foreach { case (n, why) => System.err.println(s"[perfbench] check $n: $why") }
    thrown ++ bad
  }

  def run(a: Args): Result = {
    val work = Paths(a.work)
    val full = a.slice == "full"
    val names = (if (full) SparkEntry.queries.keys.toSeq else Slice).sorted
    val (spark, setups) = Sessions.timedSetups(if (full) 1 else SetupRuns)(Sessions.stop) { () =>
      val s = Sessions.create(a.cpus, Files.createDirectories(work.resolve("local")).toString)
      val pristine = s.conf.getAll
      // the flagship query warms the session; every slice query's own
      // first-run costs land in the untimed check pass
      Bench.materialize(SparkEntry.entry(s))
      cleanup(s)
      // confs the warm-up left are reset, so the ledger blames the
      // first measured query that sets them
      s.conf.getAll.foreach { case (k, v) =>
        pristine.get(k) match {
          case None => s.conf.unset(k)
          case Some(p) if p != v => s.conf.set(k, p)
          case _ =>
        }
      }
      s
    }
    val ledger = mutable.LinkedHashMap.empty[String, Seq[String]]
    val tc = System.nanoTime()
    val checkFailed = if (full) Map.empty[String, String] else checkPass(spark, a, names, work, ledger)
    val checkS = Stats.secs(System.nanoTime() - tc)
    val host = new HostMeter
    val passes = ArrayBuffer.empty[(Seq[Exec], Double)]
    val t0 = System.nanoTime()
    // another pass only if it fits the run length: one pass at least
    var heapMb = 0.0
    while (passes.isEmpty || Stats.secs(System.nanoTime() - t0) + passes.last._2 <= a.seconds) {
      passes += pass(spark, new Tracer(false), a.sf, names, passes.size + 1, ledger)
      heapMb = math.max(heapMb, Heap.liveMb())
    }
    val hostM = host.done()

    // traced pass: layer attribution and the cost of tracing itself
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val traced: Seq[Exec] = if (!a.trace) Nil else {
      val tracer = new Tracer(true)
      val h = new HostMeter
      tracer.attach(spark)
      val (ex, tPass) = pass(spark, tracer, a.sf, names, 0, ledger)
      tracer.detach()
      layers ++= tracer.report()
      layers ++= h.done()
      layers("exec.gc_s") = layers("host.gc_s")
      layers("SparkEntry.build_s") = ex.map(_.buildS).sum
      Modules.foreach { case (m, _) =>
        layers(s"$m.wall_s") = ex.filter(e => moduleOf(e.name) == m).map(_.wallS).sum }
      layers("trace.overhead_s") = tPass - Stats.median(passes.map(_._2).toSeq)
      ex
    }

    // a query that threw once or whose output is wrong is never timed
    val execs = passes.flatMap(_._1).toSeq
    val failedNames = checkFailed.keySet ++ (execs ++ traced).filterNot(_.ok).map(_.name)
    val okPasses = passes.map(_._1.filterNot(e => failedNames(e.name))).toSeq
    val ok = okPasses.flatten
    val attempted = execs.size + traced.size
    val failed = (execs ++ traced).count(e => failedNames(e.name))
    val passS = Stats.median(okPasses.map(_.map(_.wallS).sum))
    // a query's result is out once it and the queries before it in its
    // pass have run
    val doneMs = okPasses.flatMap(_.scanLeft(0.0)(_ + _.wallS).tail.map(_ * 1e3))
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "latency_p50_ms" -> Stats.median(doneMs),
      "latency_p99_ms" -> Stats.quantile(doneMs, 0.99),
      "consumed_frac" -> ok.size.toDouble / execs.size,
      "throughput_fps" -> (if (passS > 0) names.count(n => !failedNames(n)) / passS else 0.0),
      "pass_s" -> passS,
      "query_p50_s" -> Stats.median(ok.map(_.wallS)),
      "query_p95_s" -> Stats.quantile(ok.map(_.wallS), 0.95),
      "heap_peak_mb" -> heapMb)
    layers("registry.leaked_queries") = ledger.size
    layers("failed_frac") = failed.toDouble / attempted
    Sessions.stop(spark)

    val detail = mutable.LinkedHashMap[String, Any](
      "sf" -> a.sf, "queries" -> names, "setup_runs_s" -> setups, "check_s" -> checkS,
      "passes_s" -> passes.map(_._2), "host" -> hostM,
      "failed_queries" -> (checkFailed ++ execs.filterNot(_.ok).map(e => e.name -> e.error)),
      "leaks" -> ledger,
      "query_s" -> names.map(n => n -> execs.filter(_.name == n).map(_.wallS)).toMap,
      "traced_query_s" -> traced.map(e => e.name -> e.wallS).toMap)
    new Result(failed == 0, attempted, failed, e2e, layers.toMap, detail.toMap)
  }
}
