package graft.operators

import graft.{QueryModule, Tbl}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core: aggregation, joins, set ops, sorts, limits, ranking.
  *
  * Covers SURVEY.md §2.6 A3 (top-K per key — reference
  * `predict_path.py:60-66`), §2.8 J1 (`predict_path.py:78` union),
  * J2 (extension-mandated star-schema joins), J3/J4 (sorts/limits),
  * §2.5 W2 (`predict_path.py:66` IN-list).
  *
  * All money/metric aggregates run on exactly-scaled integers (Tbl.cents)
  * so the DuckDB oracle hash-matches bit-for-bit; every output carries a
  * total order.
  */
object RelationalOps extends QueryModule {

  /** TPC-H Q1-style pricing summary — the canonical "A1-class" batch
    * aggregation (sliding-window variant lives in WindowOps). */
  private def q1PricingSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val disc100 = (lit(100) - Tbl.cents($"l_discount")) // 1 - disc, in 1e-2
    val tax100  = (lit(100) + Tbl.cents($"l_tax"))      // 1 + tax, in 1e-2
    Tbl.lineitem(s, d)
      .where($"l_shipdate" <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(Tbl.cents($"l_quantity")).as("qty_c"),
        sum(Tbl.cents($"l_extendedprice")).as("price_c"),
        sum(Tbl.cents($"l_extendedprice") * disc100).as("disc_price_c4"),
        sum(Tbl.cents($"l_extendedprice") * disc100 * tax100).as("charge_c6"),
        sum(Tbl.cents($"l_discount")).as("disc_c"),
        count(lit(1)).as("count_order"))
      .select(
        $"l_returnflag", $"l_linestatus",
        round($"qty_c" / 100.0, 2).as("sum_qty"),
        round($"price_c" / 100.0, 2).as("sum_base_price"),
        round($"disc_price_c4" / 10000.0, 4).as("sum_disc_price"),
        round($"charge_c6" / 1000000.0, 6).as("sum_charge"),
        // integer-scaled floor averages: round() after division-by-count
        // is resolved differently per engine at exact .5 boundaries (see
        // WindowOps.kinematicFinish). The ×10000 runs in DECIMAL(38,0):
        // a long multiply would overflow around sf1000 group sums while
        // the oracle's HUGEINT sails on — `div` on decimals still yields
        // an exact integral long
        (expr("CAST(qty_c AS DECIMAL(38,0)) * 10000 div count_order")
          .cast("double") / 1000000.0).as("avg_qty"),
        (expr("CAST(price_c AS DECIMAL(38,0)) * 10000 div count_order")
          .cast("double") / 1000000.0).as("avg_price"),
        (expr("CAST(disc_c AS DECIMAL(38,0)) * 10000 div count_order")
          .cast("double") / 1000000.0).as("avg_disc"),
        $"count_order")
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(CAST(round(l_quantity*100) AS BIGINT))/100.0, 2) AS sum_qty,
      |  round(sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0, 2) AS sum_base_price,
      |  round(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT)))/10000.0, 4) AS sum_disc_price,
      |  round(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))*(100+CAST(round(l_tax*100) AS BIGINT)))/1000000.0, 6) AS sum_charge,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) * 10000 // count(*) AS BIGINT)/1000000.0 AS avg_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) * 10000 // count(*) AS BIGINT)/1000000.0 AS avg_price,
      |  CAST(sum(CAST(round(l_discount*100) AS BIGINT)) * 10000 // count(*) AS BIGINT)/1000000.0 AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** 5-way star join (lineitem⋈orders⋈customer⋈nation⋈region), revenue per
    * region/nation. Dims are broadcast — at 100 TB the only shuffle is the
    * lineitem⋈orders equi-join on orderkey. */
  private def starRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rev = Tbl.cents($"l_extendedprice") * (lit(100) - Tbl.cents($"l_discount"))
    // fanOut: AQE both broadcasts the dim chain into the scan stage and
    // coalesces byte-light exchanges, so the whole 600k-row join+agg
    // span otherwise runs inside the single-split lineitem scan task
    // (see Tbl.fanOut - identity at real scan parallelism); what
    // repartitions is the pruned 3-column fact projection
    Tbl.fanOut(Tbl.lineitem(s, d))
      .join(Tbl.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tbl.customer(s, d)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tbl.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tbl.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(sum(rev).as("rev_c4"),
           countDistinct($"o_orderkey").as("n_orders"),
           count(lit(1)).as("n_lines"))
      .select($"r_name", $"n_name",
              round($"rev_c4" / 10000.0, 4).as("revenue"),
              $"n_orders", $"n_lines")
      .orderBy($"r_name", $"n_name")
  }

  private val starRevenueSql =
    """SELECT r_name, n_name,
      |  round(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT)))/10000.0, 4) AS revenue,
      |  count(DISTINCT o_orderkey) AS n_orders, count(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Left-semi join: customers having at least one order above a price. */
  private def semiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bigOrders = Tbl.orders(s, d).where($"o_totalprice" > 100000.0)
    Tbl.customer(s, d)
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  private val semiJoinSql =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join: customers with no orders at all. */
  private def antiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.customer(s, d)
      .join(Tbl.orders(s, d), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_nationkey")
      .orderBy($"c_custkey")
  }

  private val antiJoinSql =
    """SELECT c_custkey, c_name, c_nationkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** A3: latest-3-events-per-key via ranking window — the reference's
    * "last 3 positions per vessel" (`predict_path.py:60-66`), with an
    * event_id tiebreaker for determinism (SURVEY.md §7.4.3). */
  private def top3PerKey(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tbl.events(s, d)
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 3)
      .select($"user_id", $"rn", $"event_id",
              unix_micros($"ts").as("ts_us"), $"value")
      .orderBy($"user_id", $"rn")
  }

  private val top3PerKeySql =
    graft.Oracles.top3PerKey

  /** A3 as a NATIVE physical operator (extension path (c)): the custom
    * TopKPerKeyExec prunes each map partition to ≤3 rows per key with a
    * bounded heap BEFORE the shuffle, so the exchange moves O(keys·3)
    * rows instead of the whole table, and no full per-key sort ever
    * happens — the window that follows ranks only the ≤3 survivors.
    * Same oracle as a3_top3_per_key: the operator must be
    * result-identical to the built-in formulation. */
  private def nativeTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tbl.events(s, d).select($"event_id", $"ts", $"user_id", $"value")
    val pruned = org.apache.spark.sql.graft.TopKPerKey(
      ev, 3, Seq("user_id"), Seq(("ts", true), ("event_id", true)))
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    pruned
      .withColumn("rn", row_number().over(w))
      .select($"user_id", $"rn", $"event_id",
              unix_micros($"ts").as("ts_us"), $"value")
      .orderBy($"user_id", $"rn")
  }

  /** J1: union of two event slices (reference `predict_path.py:78`),
    * deduplicated then re-aggregated. */
  private def unionMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tbl.events(s, d)
    val clicks    = ev.where($"event_type" === "click")
    val purchases = ev.where($"event_type" === "purchase")
    clicks.unionByName(purchases)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum(Tbl.cents($"value")).as("v_c"))
      .select($"user_id", $"n", round($"v_c" / 100.0, 2).as("sum_value"))
      .orderBy($"user_id")
  }

  private val unionMergeSql =
    """SELECT user_id, count(*) AS n,
      |  round(sum(CAST(round(value*100) AS BIGINT))/100.0, 2) AS sum_value
      |FROM (SELECT * FROM events WHERE event_type = 'click'
      |      UNION ALL
      |      SELECT * FROM events WHERE event_type = 'purchase')
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** J3/J4: global sort + limit with full tiebreakers. */
  private def sortLimit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_quantity")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      .limit(50)
  }

  private val sortLimitSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
      |FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 50""".stripMargin

  /** W2: IN-list predicate (`predict_path.py:66`). */
  private def inFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .where($"event_type".isin("purchase", "signup"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }

  private val inFilterSql =
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
      |FROM events WHERE event_type IN ('purchase','signup')
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Set operators (INTERSECT / EXCEPT) as a retention cohort: buyers
    * active in both halves of the order history vs only the first.
    * Catalyst rewrites Intersect to a distinct left-SEMI join and
    * Except to a distinct left-ANTI join — the same broadcast-able
    * hash-join shapes as j2, so the set-op surface inherits every join
    * strategy (broadcast under the threshold, shuffled-hash beyond)
    * instead of needing its own physical operator. */
  private def setopsCohort(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tbl.orders(s, d)
    val split = lit("1998-01-01").cast("timestamp")
    val early = o.where($"o_orderdate" < split).select($"o_custkey")
    val late  = o.where($"o_orderdate" >= split).select($"o_custkey")
    early.intersect(late).select($"o_custkey", lit("retained").as("cohort"))
      .union(early.except(late).select($"o_custkey", lit("lapsed").as("cohort")))
      .orderBy($"cohort", $"o_custkey")
  }

  private val setopsCohortSql =
    """WITH a AS (SELECT o_custkey FROM orders
      |           WHERE o_orderdate < TIMESTAMP '1998-01-01'),
      |b AS (SELECT o_custkey FROM orders
      |      WHERE o_orderdate >= TIMESTAMP '1998-01-01')
      |SELECT o_custkey, 'retained' AS cohort
      |FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
      |UNION ALL
      |SELECT o_custkey, 'lapsed'
      |FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
      |ORDER BY cohort, o_custkey""".stripMargin

  /** Multiset set ops (INTERSECT ALL / EXCEPT ALL): per-part shipment
    * multiplicities shared between the returned ('R') and accepted
    * ('A') lineitem streams, and the surplus unique to 'R'.
    *
    * A different Catalyst path from x_setops_cohort's semi/anti
    * lowering: `RewriteIntersectAll`/`RewriteExceptAll` tag each side
    * with constant markers, run ONE grouped aggregate over the union,
    * and re-inflate the surviving multiplicities through
    * `Generate(ReplicateRows)` — multiset difference without any join,
    * so the only exchange is the |keys|-sized aggregate shuffle and the
    * replication fan-out is computed per key, never materialized as a
    * pre-join relation. The trailing groupBy collapses the replicated
    * rows back to (key, copies) so the output stays |parts|-bounded at
    * any corpus size while the plan still carries the Generate stage
    * (plan-spec-pinned). */
  private def setopsAll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tbl.lineitem(s, d)
    val r = li.where($"l_returnflag" === "R").select($"l_partkey")
    val a = li.where($"l_returnflag" === "A").select($"l_partkey")
    val shared = r.intersectAll(a)
      .groupBy($"l_partkey").agg(count(lit(1)).as("copies"))
      .select(lit("intersect_all").as("op"), $"l_partkey", $"copies")
    val surplus = r.exceptAll(a)
      .groupBy($"l_partkey").agg(count(lit(1)).as("copies"))
      .select(lit("except_all").as("op"), $"l_partkey", $"copies")
    shared.unionByName(surplus).orderBy($"op", $"l_partkey")
  }

  private val setopsAllSql =
    """WITH r AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
      |a AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'),
      |ia AS (SELECT l_partkey FROM r INTERSECT ALL SELECT l_partkey FROM a),
      |ea AS (SELECT l_partkey FROM r EXCEPT ALL SELECT l_partkey FROM a)
      |SELECT 'intersect_all' AS op, l_partkey, count(*) AS copies
      |FROM ia GROUP BY l_partkey
      |UNION ALL
      |SELECT 'except_all' AS op, l_partkey, count(*) AS copies
      |FROM ea GROUP BY l_partkey
      |ORDER BY op, l_partkey""".stripMargin

  /** J11 — NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): the
    * join-semantics trap every ETL hits once. Under plain `=`, NULL
    * keys silently vanish from an inner join (NULL = NULL is NULL, not
    * TRUE); `<=>` makes NULL a first-class key value that matches
    * itself. Both sides derive a nullable key (a sentinel id range maps
    * to NULL), so the NULL bucket really exists and carries rows.
    * CRITICALLY for scale, Spark plans EqualNullSafe as a HASH join
    * key, not a post-join filter — the plan spec pins
    * BroadcastHashJoin with no nested-loop fallback, so the NULL
    * semantics cost nothing at 100 TB. The output splits the NULL
    * bucket from the valued buckets (`is_null_bucket`), pinning that
    * NULL⋈NULL rows actually joined. */
  private def nullsafeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fact: events with key = user_id % 40, nulled for the 0 residue
    val fact = Tbl.events(s, d)
      .select(when($"user_id" % 40 === 0, lit(null))
                .otherwise($"user_id" % 40).as("k"),
              Tbl.cents($"value").as("v_c"))
    // dim: nation with key = n_nationkey % 40, nulled for nationkey 0
    val dim = Tbl.nation(s, d)
      .select(when($"n_nationkey" === 0, lit(null))
                .otherwise($"n_nationkey" % 40).as("k"),
              $"n_name")
    fact.join(broadcast(dim), fact("k") <=> dim("k"))
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n"),
           max(dim("k").isNull.cast("int")).as("is_null_bucket"),
           round(sum($"v_c") / 100.0, 2).as("sum_value"))
      .orderBy($"n_name")
  }

  private val nullsafeJoinSql =
    """WITH f AS (SELECT CASE WHEN user_id % 40 = 0 THEN NULL
      |                  ELSE user_id % 40 END AS k,
      |                  CAST(round(value*100) AS BIGINT) AS v_c
      |           FROM events),
      |d AS (SELECT CASE WHEN n_nationkey = 0 THEN NULL
      |             ELSE n_nationkey % 40 END AS k, n_name FROM nation)
      |SELECT n_name, count(*) AS n,
      |  CAST(max(CASE WHEN d.k IS NULL THEN 1 ELSE 0 END) AS INT)
      |    AS is_null_bucket,
      |  round(sum(v_c)/100.0, 2) AS sum_value
      |FROM f JOIN d ON f.k IS NOT DISTINCT FROM d.k
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Join-strategy HINTS through the SQL front door — the steering
    * surface ops teams actually use at 100 TB when the optimizer's
    * stats-driven choice is wrong (a dim just over the broadcast
    * threshold, a skewed build side). The SAME dim⋈fact aggregate runs
    * under `BROADCAST`, `SHUFFLE_MERGE`, and `SHUFFLE_HASH` hints on
    * the dim side and the union of all three must be value-identical
    * (strategy changes the PLAN, never the answer — the hash pins it
    * across all three at once). PlanSpec separately pins that each
    * hint actually produced its exec (BroadcastHashJoin /
    * SortMergeJoin / ShuffledHashJoin) — notably SHUFFLE_MERGE must
    * OVERRIDE the auto-broadcast the 25-row dim would otherwise get. */
  private def joinHintVariant(s: SparkSession, hint: String,
                              label: String): DataFrame =
    s.sql(
      s"""SELECT /*+ $hint */ '$label' AS strategy, n_name,
         |  count(*) AS n_cust,
         |  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
         |    AS bal_c
         |FROM cust_jh c JOIN nat_jh n ON c.c_nationkey = n.n_nationkey
         |GROUP BY n_name""".stripMargin)

  private def joinHints(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.withViews(s, "cust_jh" -> Tbl.customer(s, d), "nat_jh" -> Tbl.nation(s, d)) {
      joinHintVariant(s, "BROADCAST(n)", "broadcast")
        .unionAll(joinHintVariant(s, "SHUFFLE_MERGE(n)", "merge"))
        .unionAll(joinHintVariant(s, "SHUFFLE_HASH(n)", "shuffle_hash"))
        .orderBy($"strategy", $"n_name")
    }
  }

  private val joinHintsSql =
    """WITH base AS (
      |  SELECT n_name, count(*) AS n_cust,
      |         CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
      |           AS bal_c
      |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY n_name)
      |SELECT s.strategy, b.n_name, b.n_cust, b.bal_c
      |FROM base b
      |CROSS JOIN (VALUES ('broadcast'), ('merge'), ('shuffle_hash'))
      |  AS s(strategy)
      |ORDER BY s.strategy, b.n_name""".stripMargin

  /** LIMIT/OFFSET pagination through the SQL front door (OFFSET landed
    * in Spark 3.4; the classic REST-pagination shape). Deterministic
    * only over a TOTAL order — the unique-orderkey tiebreak makes page
    * boundaries engine-stable, which is the actual migration lesson
    * (an OFFSET over a non-total order returns different pages per
    * engine/run). Spark plans the pair as a single
    * TakeOrderedAndProject(limit+offset) — a bounded per-partition
    * heap of 50 rows then one driver-side merge, never a global sort,
    * so pagination over 10¹² rows moves K rows per partition, not the
    * table. DuckDB executes the IDENTICAL query text. */
  private def offsetLimitQuery(t: String) =
    s"""SELECT o_orderkey,
       |  CAST(round(o_totalprice*100) AS BIGINT) AS price_c
       |FROM $t
       |ORDER BY price_c DESC, o_orderkey
       |LIMIT 20 OFFSET 30""".stripMargin

  private def offsetLimit(s: SparkSession, d: String): DataFrame = {
    Tbl.withViews(s, "ord_ol" -> Tbl.orders(s, d)) {
      s.sql(offsetLimitQuery("ord_ol"))
    }
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j11_nullsafe_join"  -> (nullsafeJoin _),
    "x_setops_cohort"    -> (setopsCohort _),
    "x_setops_all"       -> (setopsAll _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "j2_star_revenue"    -> (starRevenue _),
    "j2_semi_join"       -> (semiJoin _),
    "j2_anti_join"       -> (antiJoin _),
    "a3_top3_per_key"    -> (top3PerKey _),
    "x_native_topk"      -> (nativeTopK _),
    "j1_union_merge"     -> (unionMerge _),
    "j3_sort_limit"      -> (sortLimit _),
    "x_join_hints"       -> (joinHints _),
    "x_offset_limit"     -> (offsetLimit _),
    "w2_in_filter"       -> (inFilter _))

  override val oracles: Map[String, String] = Map(
    "j11_nullsafe_join"  -> nullsafeJoinSql,
    "x_setops_cohort"    -> setopsCohortSql,
    "x_setops_all"       -> setopsAllSql,
    "q1_pricing_summary" -> q1Sql,
    "j2_star_revenue"    -> starRevenueSql,
    "j2_semi_join"       -> semiJoinSql,
    "j2_anti_join"       -> antiJoinSql,
    "a3_top3_per_key"    -> top3PerKeySql,
    "x_native_topk"      -> top3PerKeySql,
    "j1_union_merge"     -> unionMergeSql,
    "j3_sort_limit"      -> sortLimitSql,
    "x_join_hints"       -> joinHintsSql,
    "x_offset_limit"     -> offsetLimitQuery("orders"),
    "w2_in_filter"       -> inFilterSql)
}
