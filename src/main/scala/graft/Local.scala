package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one local session and query loop every main runs through. */
object Local {
  /** `local[n]` cores: `SPARK_GRAFT_CPUS`, else the host's cores. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Extra session confs for experiments: `SPARK_GRAFT_CONF="k=v;k2=v2"`.
    * Only the experiment mains (StreamBench, Tools) pass these to
    * [[session]]; Bench and Verify must not pick up a stray env var. */
  def envConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
        }
      }

  def session(extra: Seq[(String, String)] = Nil): SparkSession = {
    JvmOpens.check() // fail fast on a bare-java launch (see JvmOpens)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Tbl.sparkLocalDir)
      .config("spark.sql.session.timeZone", "UTC")
      // streaming embodiments land in a memory sink before they are
      // written out; at sf10 (10M events) a windowed agg's sink rows
      // exceed the 1g default. In local mode "driver results" and
      // executor memory are the same heap, so the cap only gets in the way
      .config("spark.driver.maxResultSize", "8g")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // built once: `SparkEntry.queries` re-wraps every module's map per call,
  // which must not land inside a caller's timed span
  private lazy val registry = SparkEntry.queries

  /** Builds the registered query `name` on `sfDir` and applies `act` to
    * it. Returns the exception class if building or `act` threw. */
  def run(s: SparkSession, name: String, sfDir: String)(act: DataFrame => Unit): Option[String] =
    try { act(registry(name)(s, sfDir)); None }
    catch { case NonFatal(e) =>
      System.err.println(s"[$name] failed: $e")
      Some(e.getClass.getName)
    }

  /** Drops the cached relations and temp views a query left behind
    * (e.g. memory-sink tables) so they cannot affect the next query. */
  def reset(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sqlContext.tableNames().foreach(s.catalog.dropTempView)
  }

  /** A quoted JSON string: backslash, quote and every control char
    * (< 0x20) escaped, so a tab or CR in a value cannot break a reader. */
  def jstr(v: String): String = "\"" + v.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `[{"query":…,"error":<exception class>}, …]`, the failure list of
    * Bench's and Verify's lines. */
  def failedJson(failed: Seq[(String, String)]): String =
    failed.map { case (q, e) => s"""{"query":${jstr(q)},"error":${jstr(e)}}""" }
      .mkString("[", ",", "]")
}
