package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Queries that
  * threw are printed as `{"failed":[{"query":…,"error":…}]}` (Bench's
  * shape), and the exit status is nonzero if there are any. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (fast local iteration)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = Local.session()
    new java.io.File(outDir).mkdirs()
    // first, so a JVM-fatal error mid-loop still leaves the oracle SQL
    // (and a watcher can check outputs as they land)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Local.jstr(k)}: ${Local.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failed = SparkEntry.queries.keys.toSeq
      .filter(name => only.isEmpty || only(name))
      .flatMap { name =>
        val err = Local.run(spark, name, sfDir)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        Local.reset(spark)
        err.map(name -> _)
      }
    println(s"""{"failed":${Local.failedJson(failed.sortBy(_._1))}}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
