package graft

import scala.util.control.NonFatal

/** Hermeticity of the query registry: a query may change the session
  * only through its result. Every registered query runs at sf0.001 and
  * is fully materialised (`Bench.materialize`); afterwards the session
  * conf, the temp views and the set of active streams must be exactly
  * what they were before it. (Only a TIMESTAMP(NANOS) events file sets
  * a conf for good, `Tbl.NanosAsLong`; the test data is µs.) */
class StreamHarnessSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("every registry query leaves conf, temp views and streams as it found them") {
    val leaks = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val conf0 = spark.conf.getAll
      val views0 = tempViews
      val failed =
        try { Bench.materialize(SparkEntry.queries(name)(spark, d)); Nil }
        catch { case NonFatal(e) => Seq(s"failed: ${e.getClass.getName}") }
      val conf1 = spark.conf.getAll
      val confDiff = (conf0.keySet ++ conf1.keySet).toSeq.sorted
        .filter(k => conf0.get(k) != conf1.get(k))
        .map(k => s"conf $k: ${conf0.get(k)} -> ${conf1.get(k)}")
      val viewDiff = (tempViews -- views0).toSeq.sorted.map("view " + _)
      val streams = spark.streams.active.map(q => s"stream ${q.name}").toSeq
      spark.streams.active.foreach(_.stop())
      val found = failed ++ confDiff ++ viewDiff ++ streams
      if (found.isEmpty) None else Some(name -> found)
    }
    assert(leaks.isEmpty,
      leaks.map { case (n, l) => s"$n: ${l.mkString("; ")}" }.mkString("\n", "\n", ""))
  }

  test("a stream run restores a caller's streaming conf and leaves unset keys unset") {
    val shuffle = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val before = spark.conf.getAll
    spark.conf.set(noData, "true")
    spark.conf.unset(provider)
    try {
      val caller = spark.conf.getAll
      // s5 is stateful (its state partitions are sized per run) and
      // touches every streaming key the harness scopes
      assert(SparkEntry.queries("s5_stream_complete")(spark, d).count() == 5)
      assert(spark.conf.getAll == caller)
      assert(spark.conf.get(noData) == "true")
      assert(!spark.conf.getAll.contains(provider))
      assert(spark.conf.get(shuffle) == before(shuffle))
    } finally {
      Seq(noData, provider).foreach { k =>
        before.get(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }
    }
  }
}
