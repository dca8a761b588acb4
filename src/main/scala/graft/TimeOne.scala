package graft
import org.apache.spark.sql.SparkSession

/** Local profiling aid: time registered queries in a warm JVM
  * (3 runs each, cache cleared between) — separates query cost from the
  * ~20 s sbt/JVM startup that dominates single-query Verify walls.
  * Usage: sbt "runMain graft.TimeOne <query> [query...] [sfDir]"
  * (sfDir defaults to SPARK_GRAFT_SF_DIR when the last arg is a
  * query name rather than a path) */
object TimeOne {
  def main(args: Array[String]): Unit = {
    JvmOpens.check() // fail fast on a bare-java launch (see JvmOpens)
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // memory-sink streams at sf10 outgrow the 1g default (see Verify)
      .config("spark.driver.maxResultSize", "8g")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Tbl.sparkLocalDir)
    // experiment knob: SPARK_GRAFT_CONF="k=v;k2=v2" extra session confs
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => b.config(k, v)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
        }
      }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (names, dir) =
      if (args.length > 1 && new java.io.File(args.last).isDirectory)
        (args.init.toSeq, args.last)
      else
        (args.toSeq, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          throw new IllegalArgumentException(
            "no sfDir argument and SPARK_GRAFT_SF_DIR unset")))
    // SPARK_GRAFT_RUNS: run count per query (default 3) — sf100-class
    // measurements at many minutes per run don't need best-of-3
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // host-load alongside every sample (same rationale as Bench's
    // per-query fields): this box is time-shared and the co-tenant
    // load is invisible to `ps` (separate PID namespaces) — a round-11
    // probe caught it delivering ~1 core of aggregate regex throughput
    // under loadavg 54 while `ps` showed our 32 threads "on CPU", so a
    // TimeOne number without its load is unusable as a scale ledger
    // entry. House rule: record sf100p walls only from samples whose
    // load column ≈ our own worker count.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    for (name <- names) {
      (1 to runs).foreach { i =>
        val l0 = osBean.getSystemLoadAverage
        val c0 = CpuMeter.snap()
        val t0 = System.nanoTime()
        Bench.materialize(SparkEntry.queries(name)(spark, dir))
        val cd = CpuMeter.delta(c0, CpuMeter.snap())
        println(f"$name run$i ${(System.nanoTime() - t0) / 1e9}%.3f" +
          f" load=$l0%.1f->${osBean.getSystemLoadAverage}%.1f ${cd.fmt}")
        spark.catalog.clearCache()
        spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
      }
    }
    spark.stop()
  }
}
