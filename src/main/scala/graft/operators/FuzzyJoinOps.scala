package graft.operators

import graft.{QueryModule, Tbl}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate string join (record linkage) — matching entity names that
  * differ by a typo is the classic master-data operation a 100 TB
  * ingest pipeline runs against every new snapshot, and the naive form
  * is an O(n²) levenshtein scan that no cluster survives.
  *
  * Blocking is the FastSS deletion neighborhood (Bocek et al., "Fast
  * Similarity Search in Large Dictionaries", 2007): for edit distance
  * ≤ 1, two strings match only if their {identity ∪ single-deletion}
  * variant sets intersect — substitutions share the deletion at the
  * substituted position, insertions/deletions share identity-vs-variant.
  * That turns the fuzzy join into
  *
  *   explode(L+1 variants) → hash EQUI-join on the variant → distinct
  *   candidate pair → levenshtein verify
  *
  * a linear key expansion (L+1 ≈ 19 here, never data-dependent) and one
  * shuffle on the variant string — the same block→equi-join→refine
  * discipline as the MinHash/LSH and spatial-grid families, and EXACT:
  * the neighborhood is a complete candidate generator for ed ≤ 1, and
  * the verify step keeps no false positives. Higher thresholds
  * generalize by deleting k characters (neighborhood L^k/k!), same
  * shape. The verify predicate is `levenshtein` — identical integer DP
  * on both engines, so the oracle matches exactly.
  *
  * Input: customer names plus one deterministic "typo twin" per row
  * (the character at position custkey mod length is dropped), so the
  * join must find planted deletion pairs AND the incidental
  * single-digit-substitution pairs the zero-padded names contain.
  */
object FuzzyJoinOps extends QueryModule {

  /** Mutant ids live far above every real custkey. */
  private val MutantOffset = 1000000000L

  /** Originals ∪ deterministic deletion mutants, (id, name). */
  private def names(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tbl.customer(s, d)
    cust.select($"c_custkey".as("id"), $"c_name".as("name"))
      .unionAll(cust.select(
        ($"c_custkey" + MutantOffset).as("id"),
        expr("concat(" +
             "substring(c_name, 1, cast(c_custkey % length(c_name) as int)), " +
             "substring(c_name, cast(c_custkey % length(c_name) as int) + 2, 1000))"
        ).as("name")))
  }

  /** Core ed≤1 pair join, shared with the spec (which feeds planted
    * strings through the same shape). `rel` must carry (id, name). */
  private[graft] def editDistancePairs(rel: DataFrame): DataFrame =
    editDistancePairsK(rel, 1)

  /** Generalized FastSS pair join for edit distance ≤ k (k = 1 or 2).
    *
    * The k-deletion neighborhood {0..k deletions} is generated by
    * applying the {identity ∪ single-deletion} expansion k times — round
    * r's output is every string reachable by ≤ r deletions. Completeness
    * for ed ≤ k: each of the ≤ k edit ops between two strings is
    * resolved by at most one deletion on each side (substitution →
    * delete the differing character on both sides; insertion/deletion →
    * delete the extra character on the longer side), so both sides reach
    * a common variant within k deletions and share a blocking key. The
    * neighborhood is L²/2-sized at k = 2 — bounded-length keys only
    * (the j9 corpus uses 12-char fingerprints → ≤ 79 variants/row),
    * which is what keeps the explode a fixed constant, never
    * data-dependent.
    *
    * What shuffles is the POINT of this shape, so it is kept minimal:
    * the exploded relation joins on `xxhash64(variant)` carrying only
    * the id — two longs per row instead of (id, full name, variant
    * string), and the candidate distinct dedups (id, id) pairs, not
    * string tuples (the zero-padded corpus makes candidate multiplicity
    * real: ~15 co-variant rows per hot key). A hash collision can only
    * ADD a candidate pair, which the exact levenshtein refine removes;
    * equal variants always hash equal, so no pair is lost. Names
    * re-attach AFTER the distinct by id join — the base relation is
    * orders of magnitude smaller than the exploded/joined stream (and
    * broadcast-sized here). */
  /** The deletion-neighborhood BLOCKING relation of `(id, name)` rows:
    * every string reachable by ≤ k deletions, keyed as `(id,
    * kh = xxhash64(variant))`, hash-deduped. Exposed (not inlined in
    * [[editDistancePairsK]]) so `Tools j9skew` measures the EXACT
    * relation the query joins — a hand-copied expression would silently
    * drift if this construction changes (round-8 ADVICE). */
  private[graft] def deletionKeyed(rel: DataFrame, k: Int): DataFrame = {
    val s = rel.sparkSession
    import s.implicits._
    // {identity ∪ single deletions}, deduped ("aab" deletes to "ab"
    // two ways); sequence(0, L)'s i = L term IS the identity string
    def del(col: String) =
      s"array_distinct(transform(sequence(0, length($col)), " +
      s"i -> concat(substring($col, 1, i), substring($col, i + 2, 1000))))"
    var variants = rel.select($"id", explode(expr(del("name"))).as("k"))
    for (_ <- 2 to k)
      variants = variants.select($"id", explode(expr(del("k"))).as("k"))
    val keyed = variants.select($"id", xxhash64($"k").as("kh"))
    // round 2 re-emits round 1's variants (the identity term), so the
    // same (id, key) arrives up to L+1 times — dedup here. (A no-dedup
    // variant that let the caller fold this into its own per-key
    // collect_set aggregation was measured and REJECTED in round 9 —
    // see editDistancePairsK's shape note — so this distinct is
    // unconditional.) Hash-only dedup is safe: the join is on the
    // hash, so merging hash-equal variants of one id cannot lose a
    // by-hash match. k = 1 never needs it (the within-row
    // array_distinct already deduped, and each id is one row).
    if (k > 1) keyed.distinct() else keyed
  }

  private[graft] def editDistancePairsK(rel: DataFrame, k: Int): DataFrame = {
    require(k == 1 || k == 2, s"edit-distance threshold must be 1 or 2, got $k")
    val s = rel.sparkSession
    import s.implicits._
    // Shape: distinct → self-join → pair-distinct. A measured round-9
    // alternative folded dedup + pairing into ONE wide exchange
    // (groupBy(kh) + collect_set, map-side pair flatten over the
    // audited near-singleton buckets) — fewer shuffled bytes, and the
    // theory said it should win. It LOST at sf10: best-of-3 165 s vs
    // 132 s for this shape under identical load. collect_set plans as
    // ObjectHashAggregate — no codegen, a per-key buffer object, spills
    // under the 170M-row non-deduped stream — while this shape keeps
    // every operator in Tungsten codegen (hash-agg distinct + SMJ on
    // two longs). Kept: the local CPU constant beats the saved
    // exchange; on a bandwidth-bound 1000-executor cluster the
    // one-exchange variant is the one to re-measure.
    val keyed = deletionKeyed(rel, k)
    // SHUFFLE_HASH, deliberately (r15, guide §3.1): Catalyst estimates
    // the deletion-keyed relation at its PRE-explode size (Generate
    // forwards child stats), so the planner auto-BROADCAST the entire
    // L+1-or-L²/2-times-exploded relation — at sf0.1 a ~6M-row driver-
    // built hash relation for j9 (j8 ~600k), growing linearly with the
    // corpus: a driver OOM at scale, and single-threaded build time at
    // any size. The hint restores the designed equi-join-on-the-
    // exchange: both sides share ONE reused exchange on kh (self-join),
    // the build side is a per-partition slice of near-singleton buckets
    // (`Tools j9skew`), and no SMJ sort is paid.
    val candidates = keyed.select($"id".as("id_a"), $"kh")
      .join(keyed.select($"id".as("id_b"), $"kh").hint("shuffle_hash"), "kh")
      .where($"id_a" < $"id_b")
      // distinct BEFORE the verify: identical strings share all L+1
      // variants, so the same pair arrives up to L+1 times
      .select($"id_a", $"id_b").distinct()
    candidates
      .join(rel.select($"id".as("id_a"), $"name".as("name_a")), "id_a")
      .join(rel.select($"id".as("id_b"), $"name".as("name_b")), "id_b")
      // plain 2-arg levenshtein, MEASURED choice: the 3-arg thresholded
      // form (banded O(k·n) DP, -1 past the bound) was tried round 10
      // and lost at sf10p — j9 30.0 → 37.4 s, j8 a wash (53.9 → 50.4 s),
      // best-of-2 warm under comparable load. On ≤25-char keys the full
      // DP is ~500 integer cells and the refine is nowhere near the
      // critical path (the variant-key exchange is); the banded form
      // adds per-row branching for nothing. Re-measure only if key
      // lengths grow past ~100 chars, where the band actually bites.
      .withColumn("ed", levenshtein($"name_a", $"name_b"))
      .where($"ed" <= k)
      .select($"id_a", $"id_b", $"ed")
  }

  private def fuzzyJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    editDistancePairs(names(s, d)).orderBy($"id_a", $"id_b")
  }

  private val fuzzyJoinSql =
    s"""WITH names AS (
       |  SELECT c_custkey AS id, c_name AS name FROM customer
       |  UNION ALL
       |  SELECT c_custkey + $MutantOffset AS id,
       |         substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT))
       |           || substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2, 1000) AS name
       |  FROM customer),
       |keys AS (
       |  SELECT id, name,
       |         unnest(list_distinct(list_transform(range(0, length(name) + 1),
       |           i -> substr(name, 1, CAST(i AS INT))
       |                  || substr(name, CAST(i AS INT) + 2, 1000)))) AS k
       |  FROM names),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |         a.name AS name_a, b.name AS name_b
       |  FROM keys a JOIN keys b ON a.k = b.k AND a.id < b.id)
       |SELECT id_a, id_b, levenshtein(name_a, name_b) AS ed
       |FROM cand WHERE levenshtein(name_a, name_b) <= 1
       |ORDER BY id_a, id_b""".stripMargin

  /** j9 corpus: 12-char document fingerprints plus three deterministic
    * mutant classes per row — one deletion (ed 1), one substitution
    * ('z' is outside the hex alphabet, so always ed 1), and two
    * deletions (ed exactly 2: the length gap alone forces ≥ 2). Cross-
    * class pairs land wherever levenshtein puts them (del1↔del2 is
    * ed 1, del↔sub is 1 or 2 depending on position interaction) — the
    * refine decides, identically on both engines. A BOUNDED key is the
    * point: ed ≤ 2 blocking explodes L²/2 variants, so the linkage key
    * is a fixed-width fingerprint, not free text — random hex also
    * keeps candidate buckets near-singleton where zero-padded names
    * would make every 2-deletion variant a hot key. */
  private[graft] def hexNames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tbl.documents(s, d)
      .select($"doc_id".as("id"),
              expr("substring(md5(cast(doc_id as string)), 1, 12)").as("name"))
    // edit positions are 1-based and derived from the id, mirrored
    // verbatim in the oracle SQL; expressions below reference the
    // PRE-projection id (the doc_id value), as in the SQL
    val del1 = base.select(($"id" + MutantOffset).as("id"), expr(
      "concat(substring(name, 1, cast(id % 12 as int)), " +
      "substring(name, cast(id % 12 as int) + 2, 100))").as("name"))
    val sub1 = base.select(($"id" + 2 * MutantOffset).as("id"), expr(
      "concat(substring(name, 1, cast((id * 3) % 12 as int)), 'z', " +
      "substring(name, cast((id * 3) % 12 as int) + 2, 100))").as("name"))
    val del2 = base.select($"id", expr(
        "concat(substring(name, 1, cast(id % 12 as int)), " +
        "substring(name, cast(id % 12 as int) + 2, 100))").as("name"))
      .select(($"id" + 3 * MutantOffset).as("id"), expr(
        "concat(substring(name, 1, cast((id * 5) % 11 as int)), " +
        "substring(name, cast((id * 5) % 11 as int) + 2, 100))").as("name"))
    base.unionAll(del1).unionAll(sub1).unionAll(del2)
  }

  private def fuzzyJoinEd2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    editDistancePairsK(hexNames(s, d), 2).orderBy($"id_a", $"id_b")
  }

  private val fuzzyJoinEd2Sql =
    s"""WITH base AS (
       |  SELECT doc_id AS id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS name
       |  FROM documents),
       |rel AS (
       |  SELECT id, name FROM base
       |  UNION ALL
       |  SELECT id + $MutantOffset,
       |         substr(name, 1, CAST(id % 12 AS INT))
       |           || substr(name, CAST(id % 12 AS INT) + 2, 100)
       |  FROM base
       |  UNION ALL
       |  SELECT id + ${2 * MutantOffset},
       |         substr(name, 1, CAST((id * 3) % 12 AS INT)) || 'z'
       |           || substr(name, CAST((id * 3) % 12 AS INT) + 2, 100)
       |  FROM base
       |  UNION ALL
       |  SELECT id + ${3 * MutantOffset},
       |         substr(name, 1, CAST((id * 5) % 11 AS INT))
       |           || substr(name, CAST((id * 5) % 11 AS INT) + 2, 100)
       |  FROM (SELECT id, substr(name, 1, CAST(id % 12 AS INT))
       |                     || substr(name, CAST(id % 12 AS INT) + 2, 100) AS name
       |        FROM base) d1),
       |k1 AS (
       |  SELECT id, unnest(list_distinct(list_transform(range(0, length(name) + 1),
       |           i -> substr(name, 1, CAST(i AS INT))
       |                  || substr(name, CAST(i AS INT) + 2, 1000)))) AS k
       |  FROM rel),
       |k2 AS (
       |  SELECT DISTINCT id, k FROM (
       |    SELECT id, unnest(list_distinct(list_transform(range(0, length(k) + 1),
       |             i -> substr(k, 1, CAST(i AS INT))
       |                    || substr(k, CAST(i AS INT) + 2, 1000)))) AS k
       |    FROM k1) t),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM k2 a JOIN k2 b ON a.k = b.k AND a.id < b.id)
       |SELECT id_a, id_b, levenshtein(ra.name, rb.name) AS ed
       |FROM cand JOIN rel ra ON ra.id = cand.id_a
       |          JOIN rel rb ON rb.id = cand.id_b
       |WHERE levenshtein(ra.name, rb.name) <= 2
       |ORDER BY id_a, id_b""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j8_fuzzy_join" -> (fuzzyJoin _),
    "j9_fuzzy_join_ed2" -> (fuzzyJoinEd2 _))

  override def oracles: Map[String, String] = Map(
    "j8_fuzzy_join" -> fuzzyJoinSql,
    "j9_fuzzy_join_ed2" -> fuzzyJoinEd2Sql)
}
