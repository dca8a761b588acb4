package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** `Local.run` / `Local.reset`, the query loop every main runs through. */
class LocalSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("run: a good query returns None") {
    assert(Local.run(spark, "q1_pricing_summary", d)(Bench.materialize).isEmpty)
  }

  test("run: a throw in the action or the build returns its class and does not propagate") {
    val thrown = Local.run(spark, "q1_pricing_summary", d) { _ =>
      throw new IllegalStateException("boom")
    }
    assert(thrown.contains("java.lang.IllegalStateException"))
    val unknown = Local.run(spark, "no_such_query", d)(Bench.materialize)
    assert(unknown.contains("java.util.NoSuchElementException"))
  }

  test("reset drops the temp views and persisted relations a query left behind") {
    // own temp-view namespace, so other specs' views are untouched
    val s = spark.newSession()
    var kept: DataFrame = null
    val err = Local.run(s, "q1_pricing_summary", d) { df =>
      kept = df.persist()
      kept.createOrReplaceTempView("local_spec_view")
      kept.count()
    }
    assert(err.isEmpty)
    assert(s.catalog.tableExists("local_spec_view"))
    assert(kept.storageLevel != StorageLevel.NONE)
    Local.reset(s)
    assert(!s.catalog.tableExists("local_spec_view"))
    assert(kept.storageLevel == StorageLevel.NONE)
  }
}
