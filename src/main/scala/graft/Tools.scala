package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Local diagnostics for registered queries, one main with subcommands:
  *
  *   runMain graft.Tools time <query...> [sfDir]
  *     Times each query in a warm JVM (`SPARK_GRAFT_RUNS` runs, default
  *     3, caches cleared between), apart from the ~20 s sbt/JVM startup
  *     that dominates single-query Verify walls.
  *   runMain graft.Tools explain <query...> [sfDir]
  *     Prints each query's executed plan without running it to
  *     completion (`SPARK_GRAFT_EXPLAIN_MODE=formatted` for the
  *     numbered-operator form; `SPARK_GRAFT_UNROLL_PLANS` unrolls the
  *     iterative loops, see `GraphOps.roundCkpt`).
  *   runMain graft.Tools j9skew [sfDir]
  *     Key distribution of the ed≤2 fuzzy join's blocking relation.
  *
  * sfDir is a trailing directory argument, else `SPARK_GRAFT_SF_DIR`.
  * `SPARK_GRAFT_CONF` adds session confs (see `Local.envConf`). The
  * exit status is nonzero if any query threw. */
object Tools {
  def main(args: Array[String]): Unit = {
    val (cmd, rest) = (args.headOption.getOrElse(""), args.toSeq.drop(1))
    val (names, dirArg) =
      if (rest.nonEmpty && new java.io.File(rest.last).isDirectory) (rest.init, Some(rest.last))
      else (rest, None)
    val ok = cmd match {
      case "time" | "explain" if names.nonEmpty => true
      case "j9skew" => names.isEmpty
      case _ => false
    }
    if (!ok) {
      System.err.println("usage: graft.Tools (time|explain) <query...> [sfDir] | j9skew [sfDir]")
      sys.exit(2)
    }
    val dir = dirArg.orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      throw new IllegalArgumentException("no sfDir argument and SPARK_GRAFT_SF_DIR unset"))
    // the iterative ops' unroll knob is a SYSTEM PROPERTY only `explain`
    // sets (from the env var): an UNROLL var lingering in a Bench/Verify
    // shell must not change those runs' plans (r15 ADVICE)
    if (cmd == "explain" && sys.env.contains("SPARK_GRAFT_UNROLL_PLANS"))
      System.setProperty("graft.unrollPlans", "1")
    val spark = Local.session(Local.envConf)
    val failed = cmd match {
      case "time" => time(spark, names, dir)
      case "explain" => explain(spark, names, dir)
      case "j9skew" => j9skew(spark, dir); Nil
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  private def time(spark: SparkSession, names: Seq[String],
                   dir: String): Seq[String] = {
    // SPARK_GRAFT_RUNS: run count per query (default 3) — sf100-class
    // measurements at many minutes per run don't need best-of-3
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // host-load alongside every sample (same rationale as Bench's
    // per-query fields): this box is time-shared and the co-tenant
    // load is invisible to `ps` (separate PID namespaces) — a round-11
    // probe caught it delivering ~1 core of aggregate regex throughput
    // under loadavg 54 while `ps` showed our 32 threads "on CPU", so a
    // timing without its load is unusable as a scale ledger entry.
    // House rule: record sf100p walls only from samples whose load
    // column ≈ our own worker count.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    names.flatMap { name =>
      val errs = (1 to runs).flatMap { i =>
        val l0 = osBean.getSystemLoadAverage
        val c0 = CpuMeter.snap()
        val t0 = System.nanoTime()
        val err = Local.run(spark, name, dir)(Bench.materialize)
        val cd = CpuMeter.delta(c0, CpuMeter.snap())
        println(f"$name run$i ${(System.nanoTime() - t0) / 1e9}%.3f" +
          f" load=$l0%.1f->${osBean.getSystemLoadAverage}%.1f ${cd.fmt}" +
          err.fold("")(e => s" failed=$e"))
        Local.reset(spark)
        err
      }
      errs.headOption.map(_ => name)
    }
  }

  private def explain(spark: SparkSession, names: Seq[String],
                      dir: String): Seq[String] = {
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "simple")
    names.flatMap { name =>
      println(s"===== $name =====")
      val err = Local.run(spark, name, dir) { df =>
        val qe = df.queryExecution
        if (mode == "formatted")
          println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
        else println(qe.executedPlan.toString)
      }
      Local.reset(spark)
      err.map(_ => name)
    }
  }

  /** Bucket size histogram of the ed≤2 fuzzy join's blocking relation,
    * plus the candidate-pair mass each bucket size contributes (sum over
    * buckets of C(sz,2)). A heavy key would show as top-bucket >> p99;
    * near-singleton buckets mean the equi-join has no skew to fix. */
  private def j9skew(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    // the SAME builder the query runs (FuzzyJoinOps.deletionKeyed), so
    // the audit measures the exact relation (round-8 ADVICE)
    val rel = graft.operators.FuzzyJoinOps.hexNames(spark, dir)
    val keyed = graft.operators.FuzzyJoinOps.deletionKeyed(rel, 2)
    val buckets = keyed.groupBy($"kh").agg(count(lit(1)).as("sz")).persist()
    val stats = buckets.agg(
      count(lit(1)).as("n_buckets"), sum($"sz").as("n_rows"),
      max($"sz").as("max_sz"), avg($"sz").as("avg_sz"),
      expr("approx_percentile(sz, array(0.5, 0.99, 0.999))").as("p"),
      sum($"sz" * ($"sz" - 1) / 2).as("candidate_mass")).collect()(0)
    System.err.println(s"[j9skew] blocking keys: $stats")
    val hist = buckets.groupBy($"sz").agg(
        count(lit(1)).as("n_buckets"),
        (count(lit(1)) * $"sz" * ($"sz" - 1) / 2).as("pair_mass"))
      .orderBy($"sz").collect()
    hist.foreach(r => System.err.println(s"[j9skew] bucket_sz=${r.get(0)} " +
      s"n=${r.get(1)} pair_mass=${r.get(2)}"))
  }
}
