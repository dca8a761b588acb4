package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** What one run reports: `e2e` from the untraced measurement, `layers`
  * from the traced one (empty unless `--trace 1`), `detail` for the
  * artifact. */
final class Result(val correct: Boolean, val attempted: Long, val failed: Long,
                   val e2e: Map[String, Double], val layers: Map[String, Double],
                   val detail: Map[String, Any]) {
  def json: String = Json(scala.collection.mutable.LinkedHashMap[String, Any](
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "e2e" -> e2e, "layers" -> layers, "detail" -> detail))
}

/** Benchmark entry point; see perfbench/run.py for the command line. */
object Main {
  def main(argv: Array[String]): Unit = {
    graft.JvmOpens.check()
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
                 kv("out"), kv("work"), kv.getOrElse("slice", "default"), kv("sf"))
    val r = a.workload match {
      case "ais_live" => Ais.live(a)
      case "ais_backfill" => Ais.backfill(a)
      case "registry" => Registry.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(java.nio.file.Paths.get(a.out), r.json.getBytes(UTF_8))
    System.exit(0)
  }
}
