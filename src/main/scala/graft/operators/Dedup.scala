package graft.operators

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.Tables
import graft.functions.GraftFunctions

/** Deduplication operators for the training-data pipeline (beyond the
  * Hive reference surface; graded first-class per the build brief):
  * exact hash-dedup, MinHash+LSH banding, SimHash hamming pairs, and
  * exact n-gram Jaccard over blocked candidate pairs.
  *
  * Scale design: none of these is O(n²) on the full corpus. Exact dedup
  * is a hash groupBy (one shuffle of 16-byte digests). MinHash/SimHash
  * generate candidates through *equi-joins on band buckets* — at 100 TB
  * the only shuffle is on (band, hash) keys, and the quadratic blow-up
  * is confined to same-bucket collisions. Exact-Jaccard verification
  * runs only on those candidates.
  */
/** DuckDB spellings of the seeded-hash arithmetic used by oracle
  * replications of the custom kernels (FNV-1a/fmix64 on UBIGINT). */
private[operators] object DuckHash {
  /** a*b mod 2^64 in DuckDB (HUGEINT is signed 128-bit, so a full 64×64
    * product overflows — split the left operand at 32 bits). */
  def mulmod(a: String, b: String): String =
    s"CAST((((CAST(($a) >> 32 AS HUGEINT) * $b) % 4294967296) * 4294967296 + " +
      s"CAST(($a) & 4294967295 AS HUGEINT) * $b) % 18446744073709551616 AS UBIGINT)"

  /** The murmur fmix64 finalizer as a chain of CTEs: reads column `in`
    * of CTE `from`, carries `carry` through, and yields CTE `out` with
    * the finalized value in `outCol`. ONE spelling shared by every
    * kernel-replication oracle (simhash, LSH planes, winnowing) so a
    * constant typo cannot silently break a single oracle. Internal CTE
    * names are `prefix`1..4 — pass a prefix unused in the host query. */
  def fmix64Ctes(from: String, carry: String, in: String, prefix: String,
                 out: String, outCol: String): String =
    // MATERIALIZED on every stage: each stage references its input 2-3
    // times (mulmod splits its operand 3 ways), so DuckDB's inlining of
    // single-reference CTEs grows the expression ~72× PER CHAIN — two
    // chained chains (the bootstrap oracles) hit ~5000× and turned a
    // 4.8M-row hash into CPU-hours at sf1. Materialization
    // bounds each stage to one evaluation; values are unchanged.
    s"""${prefix}1 AS MATERIALIZED (SELECT $carry, xor($in, ($in) >> 33) AS fxa FROM $from
      ), ${prefix}2 AS MATERIALIZED (SELECT $carry, ${mulmod("fxa", "18397679294719823053")} AS fxb FROM ${prefix}1
      ), ${prefix}3 AS MATERIALIZED (SELECT $carry, xor(fxb, fxb >> 33) AS fxc FROM ${prefix}2
      ), ${prefix}4 AS MATERIALIZED (SELECT $carry, ${mulmod("fxc", "14181476777654086739")} AS fxd FROM ${prefix}3
      ), $out AS MATERIALIZED (SELECT $carry, xor(fxd, fxd >> 33) AS $outCol FROM ${prefix}4)"""
}

object Dedup {

  private type Q = (SparkSession, String) => DataFrame

  /** The minhash+LSH near-duplicate pair SQL WITHOUT the final global
    * sort — shared by dedup_minhash_lsh (which adds ORDER BY for the
    * oracle compare) and dedup_clusters (whose symmetric-edge union
    * would immediately discard a sort, so it must not pay the range
    * exchange). */
  private val MinhashPairsSql = """
      WITH sh AS (
        -- repartition BEFORE the heavy shingle/minhash projection: the
        -- documents file scans as one partition at test scale, which
        -- would serialize the per-row work
        SELECT doc_id, SHINGLE_SET(text, 3) AS grams
        FROM (SELECT /*+ REPARTITION(32) */ doc_id, text FROM documents)
        WHERE SIZE(SHINGLE_SET(text, 3)) > 0
      ), sigs AS (
        SELECT doc_id, MINHASH_SIG(grams, 64) AS sig FROM sh
      ), bands AS (
        -- ids + band hash only: the wide gram arrays must NOT ride
        -- through the candidate join/DISTINCT shuffle
        SELECT doc_id, band,
               HASH(SLICE(sig, band * 4 + 1, 4)) AS bandhash
        FROM sigs
        LATERAL VIEW EXPLODE(SEQUENCE(0, 15)) b AS band
      ), cand AS (
        -- SHUFFLE_MERGE: both sides are corpus-scale. Catalyst's size
        -- estimate for an explode/wide-array subtree is width-ratio
        -- based (it never sees the row multiplication or the real gram
        -- array bytes), so left alone it plans these as broadcasts —
        -- fine at sf0.1, a 4 GiB driver OOM at sf10, and the wrong
        -- shape at any production scale. Pin the scale-stable join.
        SELECT /*+ SHUFFLE_MERGE(a, b) */
               DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bandhash = b.bandhash
         AND a.doc_id < b.doc_id
      )
      SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
      FROM (
        SELECT /*+ SHUFFLE_MERGE(sa, sb) */
               doc_a, doc_b, JACCARD_SIM(sa.grams, sb.grams) AS j
        FROM cand
        JOIN sh sa ON doc_a = sa.doc_id
        JOIN sh sb ON doc_b = sb.doc_id
      )
      WHERE j >= 0.8"""

  /** Prefix-filtered n-gram candidate chain + exact-jaccard scoring at
    * τ=0.5, ending in CTE `jpairs(doc_a, doc_b, jaccard)` — ONE
    * definition consumed by dedup_ngram_jaccard and dedup_edit_verify
    * so the Bayardo prefix bound and threshold cannot drift between
    * them (the DuckHash.fmix64Ctes single-spelling rule). */
  private val NgramJpairsCtes = """
      sh AS (
        SELECT doc_id, source, SHINGLE_SET(text, 3) AS grams
        FROM (SELECT /*+ REPARTITION(32) */ doc_id, source, text FROM documents)
        WHERE SIZE(SHINGLE_SET(text, 3)) > 0
      ), inv AS (
        SELECT doc_id, source, SIZE(grams) AS n, gram
        FROM sh LATERAL VIEW EXPLODE(grams) g AS gram
      ), df AS (
        SELECT source, gram, COUNT(*) AS df FROM inv GROUP BY source, gram
      ), prefix AS (
        -- SHUFFLE_MERGE on every corpus×corpus join in this chain: the
        -- inverted index, the df table, the prefix set, and the gram-set
        -- re-joins all sit above an explode, whose Catalyst size
        -- estimate is width-ratio only — left alone the planner
        -- broadcasts ALL of them (measured: a 4.3 GiB broadcast OOM at
        -- sf10). Pinned shuffle joins are the shape that survives 100 TB.
        SELECT doc_id, source, gram FROM (
          SELECT /*+ SHUFFLE_MERGE(i, d) */
                 i.doc_id, i.source, i.gram, i.n,
                 ROW_NUMBER() OVER (PARTITION BY i.doc_id
                                    ORDER BY d.df, i.gram) AS rk
          FROM inv i
          JOIN df d ON i.gram = d.gram AND i.source = d.source
        ) WHERE rk <= n - CEIL(0.5 * n) + 1
      ), cand AS (
        SELECT /*+ SHUFFLE_MERGE(a, b) */
               DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM prefix a JOIN prefix b
          ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
      ), jpairs AS (
        SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
        FROM (
          SELECT /*+ SHUFFLE_MERGE(sa, sb) */
                 doc_a, doc_b, JACCARD_SIM(sa.grams, sb.grams) AS j
          FROM cand
          JOIN sh sa ON doc_a = sa.doc_id
          JOIN sh sb ON doc_b = sb.doc_id
        )
        WHERE j >= 0.5
      )"""

  /** DuckDB twin of `jpairs`: all-pairs-within-source exact jaccard at
    * the same τ=0.5 (recall 1.0 by construction vs the prefix filter) —
    * one constant shared by both oracles. */
  // Exact same pair set as the all-pairs spelling —
  // n_int counts shared DISTINCT grams through the inverted index and
  // |A∪B| = na+nb−n_int, the identical integers the per-pair
  // LIST_INTERSECT/LIST_DISTINCT(CONCAT) computed — but the join is
  // index-based: J ≥ 0.5 pairs share ≥1 gram BY DEFINITION (no prefix
  // theorem needed, so the oracle stays independent of the Spark
  // side's Bayardo filter). At sf10 the all-pairs spelling ran 24+
  // CPU-hours without finishing (500k docs ⇒ ~1e10 within-source
  // pairs each paying two list ops) while the gram df max is 8 —
  // Σdf² ≈ 3.9e7 index join rows, i.e. minutes.
  private val OracleJpairsCtes = """
      t AS (
        SELECT doc_id, source,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), sh AS (
        SELECT doc_id, source,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, LEN(toks) - 2),
                 i -> ARRAY_TO_STRING(toks[i + 1 : i + 3], ' '))) AS grams
        FROM t WHERE LEN(toks) >= 3
      ), inv AS (
        SELECT doc_id, source, LEN(grams) AS n, UNNEST(grams) AS gram FROM sh
      ), prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_int,
               ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM inv a JOIN inv b
          ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ), jpairs AS (
        SELECT doc_a, doc_b,
               ROUND(n_int / (na + nb - n_int), 6) AS jaccard
        FROM prs WHERE n_int / (na + nb - n_int) >= 0.5
      )"""

  /** DuckDB spelling of the same pair set (exact all-pairs via inverted
    * index) — one constant, so the dedup_minhash_lsh and dedup_clusters
    * oracles can never drift onto different pair graphs. */
  private val OraclePairsCte = """
      t AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), sh AS (
        SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, LEN(toks) - 2),
                 i -> ARRAY_TO_STRING(toks[i + 1 : i + 3], ' '))) AS grams
        FROM t WHERE LEN(toks) >= 3
      ), inv AS MATERIALIZED (
        -- MATERIALIZED: inv is self-
        -- joined (2 refs) and good is referenced twice by every edges
        -- CTE downstream (both UNION ALL directions) — without the
        -- hints DuckDB re-inlines the whole tokenize+shingle+pair
        -- chain per reference, which is what spilled 60-75 GB on the
        -- sf10 dedup_cluster_stats / pipeline_dedup_report compares.
        -- Values unchanged: materialization fixes evaluation count,
        -- not arithmetic.
        SELECT doc_id, LEN(grams) AS n, UNNEST(grams) AS gram FROM sh
      ), prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_int,
               ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ), good AS MATERIALIZED (
        SELECT doc_a, doc_b,
               ROUND(n_int / (na + nb - n_int), 6) AS jaccard
        FROM prs WHERE n_int / (na + nb - n_int) >= 0.8
      )"""

  val queries: Map[String, Q] = Map(
    // Exact dedup: content digest → keep lowest doc_id per digest.
    "dedup_exact" -> Tables.sql("""
      SELECT MD5(CAST(text AS BINARY)) AS h,
             MIN(doc_id) AS keep_id,
             COUNT(*) AS dup_cnt
      FROM documents
      GROUP BY MD5(CAST(text AS BINARY))
      ORDER BY keep_id"""),

    // MinHash (64 perms) + LSH banding (16 bands × 4 rows): candidate
    // pairs share ≥1 band hash; then exact token-set Jaccard ≥ 0.8
    // filters false positives. Deterministic (seeded FNV hashing), and
    // since the final filter is EXACT jaccard, precision is 1.0 by
    // construction — so the exact all-pairs result is a valid oracle
    // whenever LSH recall is 1.0, which holds on the testdata (verified:
    // candidate prob per true pair is 1-(1-j^4)^16 >= 0.9998 at j=0.8,
    // and the seeded pipeline is bit-stable). PipelineSpec asserts FULL
    // pair-set equality (recall exactly 1.0) against brute force at both
    // sf0.001 and sf0.01, so a testdata change that breaks the oracle
    // assumption fails with a clear message.
    "dedup_minhash_lsh" -> Tables.sql(MinhashPairsSql + "\n      ORDER BY doc_a, doc_b"),

    // SimHash: 64-bit fingerprint; candidates share one of SEVEN bands
    // (six 9-bit + one 10-bit). Pigeonhole: a pair at hamming ≤ 6 flips
    // bits in at most 6 of the 7 disjoint bands, so at least one band is
    // untouched and shared — recall is PROVABLY 1.0 for the hamming ≤ 6
    // filter, which both makes the exact all-pairs hamming join a valid
    // oracle; 4×16-bit bands would cover only hamming ≤ 3 (they miss
    // 10 of 57 true pairs at sf0.01 in the 4–6 range).
    // The narrower bands shrink the keyspace to 512/1024 values, so one
    // hot (band, key) bucket of B docs yields O(B²) join pairs — bounded
    // by skipping buckets over 1000 members (same policy as
    // lshCandidatePairs: members still pair through their other 6 bands;
    // only a pair whose EVERY shared band is hot is lost). The oracle
    // replicates the banding AND the cap exactly (same construction as
    // dedup_embedding_lsh), so the pair sets match by definition at any
    // scale factor — no cap-neutrality assumption: at sf0.1 one band key
    // does exceed 1000 members and both engines drop the same pairs. At
    // corpus scales where the cap binds routinely, widen the bands —
    // band count/width is the scale knob, documented here. Exact hamming
    // on candidates via bit_count(xor); the only shuffle is the
    // (band, key) equi-join.
    "dedup_simhash" -> Tables.sql("""
      WITH sh AS (
        SELECT doc_id, SIMHASH64(toks) AS sim
        FROM (SELECT doc_id, TOKENIZE(text) AS toks
              FROM (SELECT /*+ REPARTITION(32) */ doc_id, text FROM documents))
        WHERE SIZE(toks) > 0
      ), bands AS (
        SELECT doc_id, sim, band,
               CASE WHEN band < 6 THEN (sim >> (band * 9)) & 511
                    ELSE (sim >> 54) & 1023 END AS bandkey
        FROM sh LATERAL VIEW EXPLODE(SEQUENCE(0, 6)) b AS band
      ), cool AS (
        SELECT band, bandkey FROM bands
        GROUP BY band, bandkey HAVING COUNT(*) <= 1000
      ), cb AS (
        SELECT b.doc_id, b.sim, b.band, b.bandkey
        FROM bands b JOIN cool USING (band, bandkey)
      )
      SELECT /*+ SHUFFLE_MERGE(a, b) */
             DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(BIT_COUNT(a.sim ^ b.sim) AS INT) AS hamming
      FROM cb a JOIN cb b
        ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id
      WHERE BIT_COUNT(a.sim ^ b.sim) <= 6
      ORDER BY doc_a, doc_b"""),

    // Exact 3-token-shingle Jaccard over source-blocked pairs, computed
    // as a PREFIX-FILTERED inverted-index join (Bayardo et al., WWW'07
    // "Scaling Up All Pairs Similarity Search"; Chaudhuri et al.,
    // ICDE'06): order each doc's grams by per-block document frequency
    // (rarest first) and index only the first (n - ceil(t*n) + 1) grams —
    // any pair with jaccard >= t MUST share a prefix gram, so recall is
    // exactly 1.0 while hot grams (which sort last) never build postings.
    // This bounds the hot-gram blowup: without the cutoff, one
    // shingle shared by 10^5 docs in a block yields ~10^10 join pairs;
    // with it, a gram's posting only grows if the gram is globally rare.
    // Candidates then verify with exact jaccard on the full gram sets
    // (linear re-join by doc_id, no quadratic stage). At scale the
    // blocking key would be an LSH bucket; `source` stands in as the
    // deterministic blocking attribute so the oracle can reproduce it.
    // Exact-substring dedup (Lee et al., ACL'22 "Deduplicating Training
    // Data Makes Language Models Better"): doc pairs sharing verbatim
    // runs of >= 15 consecutive tokens, found via an equi-join on
    // 15-token window hashes. 100 TB discipline: only (doc_id, 128-bit
    // window hash) travels through the join — never the window text —
    // and boilerplate windows shared by > 64 docs are skipped (the same
    // hot-posting cap as the LSH/jaccard operators; a pair is lost only
    // if EVERY shared window is boilerplate-hot). >= 3 distinct shared
    // windows filters incidental collisions of common phrases. All
    // arithmetic is exact string hashing + integer counts — the oracle
    // replicates it verbatim.
    "dedup_substring" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      // persist the (doc_id, window-hash) table: it feeds the hot-window
      // aggregate AND both self-join sides — inlined (Spark CTEs don't
      // materialize), the tokenize+shingle+MD5 kernel would run 3× over
      // the corpus (same lesson as lshCandidatePairs)
      val w = spark.sql(Tables.scaleHints(spark, """
        SELECT doc_id, MD5(win) AS wh
        FROM (SELECT /*+ REPARTITION(32) */ doc_id, text FROM documents)
        LATERAL VIEW EXPLODE(SHINGLE_SET(text, 15)) s AS win""")).persist()
      val cool = w.groupBy(col("wh")).agg(count(lit(1)).as("c"))
        .where(col("c") <= 64).select(col("wh"))
      w.select(col("doc_id").as("doc_a"), col("wh"))
        .join(cool, "wh")
        .join(w.select(col("doc_id").as("doc_b"), col("wh")), "wh")
        .where(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 3)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "dedup_ngram_jaccard" -> Tables.sql(s"""
      WITH $NgramJpairsCtes
      SELECT doc_a, doc_b, jaccard FROM jpairs
      ORDER BY doc_a, doc_b"""),

    // Block–verify fuzzy dedup (the classic entity-resolution split,
    // Bayardo et al. WWW'07 blocking + exact verifier): n-gram-Jaccard
    // candidates (the prefix-filtered inverted index above — never
    // all-pairs) re-scored with LEVENSHTEIN on the raw texts, the
    // strictest character-level verifier. Both engines implement
    // unit-cost edit distance natively so the integer distances — and
    // the normalized similarity derived from them — compare exactly.
    // At 100 TB the quadratic-in-length DP runs only on the tiny
    // verified-candidate set, each pair independent (narrow map work
    // after one ids-only join back to the texts).
    "dedup_edit_verify" -> Tables.sql(s"""
      WITH $NgramJpairsCtes
      SELECT p.doc_a, p.doc_b, p.jaccard,
             LEVENSHTEIN(da.text, db.text) AS edit_dist,
             ROUND(1.0 - CAST(LEVENSHTEIN(da.text, db.text) AS DOUBLE)
                   / CAST(GREATEST(LENGTH(da.text), LENGTH(db.text)) AS DOUBLE), 6) AS edit_sim
      FROM jpairs p JOIN documents da ON p.doc_a = da.doc_id
                    JOIN documents db ON p.doc_b = db.doc_id
      ORDER BY doc_a, doc_b"""),

    // Asymmetric CONTAINMENT dedup: C(A→B) = |A∩B| / |A| over 3-gram
    // shingle sets — catches "doc A is mostly inside doc B"
    // (quotes, boilerplate wrappers, supersets) that symmetric Jaccard
    // misses: a short doc fully quoted inside a long one has tiny
    // Jaccard but containment 1.0. Candidates via the Bayardo prefix
    // filter adapted to containment: only the CONTAINED side is
    // prefix-trimmed (|A| − ⌈τ·|A|⌉ + 1 rarest grams), probing the FULL
    // inverted index of potential containers — recall 1.0 for either
    // direction ≥ τ, never all-pairs. Same source blocking + df-ranked
    // prefix as dedup_ngram_jaccard.
    "dedup_containment" -> Tables.sql("""
      WITH sh AS (
        SELECT doc_id, source, SHINGLE_SET(text, 3) AS grams
        FROM (SELECT /*+ REPARTITION(32) */ doc_id, source, text FROM documents)
        WHERE SIZE(SHINGLE_SET(text, 3)) > 0
      ), inv AS (
        SELECT doc_id, source, SIZE(grams) AS n, gram
        FROM sh LATERAL VIEW EXPLODE(grams) g AS gram
      ), df AS (
        SELECT source, gram, COUNT(*) AS df FROM inv GROUP BY source, gram
      ), prefix AS (
        -- SHUFFLE_MERGE: same explode-underestimation rationale as
        -- NgramJpairsCtes — pin the corpus-scale joins to the shape
        -- that survives 100 TB instead of a misestimated broadcast.
        SELECT doc_id, source, gram FROM (
          SELECT /*+ SHUFFLE_MERGE(i, d) */
                 i.doc_id, i.source, i.gram, i.n,
                 ROW_NUMBER() OVER (PARTITION BY i.doc_id
                                    ORDER BY d.df, i.gram) AS rk
          FROM inv i
          JOIN df d ON i.gram = d.gram AND i.source = d.source
        ) WHERE rk <= n - CEIL(0.8 * n) + 1
      ), cand AS (
        SELECT /*+ SHUFFLE_MERGE(p, i) */
               DISTINCT LEAST(p.doc_id, i.doc_id) AS doc_a,
                        GREATEST(p.doc_id, i.doc_id) AS doc_b
        FROM prefix p JOIN inv i
          ON p.gram = i.gram AND p.source = i.source AND p.doc_id <> i.doc_id
      )
      SELECT doc_a, doc_b,
             ROUND(inter / na, 6) AS cont_ab,
             ROUND(inter / nb, 6) AS cont_ba
      FROM (
        SELECT /*+ SHUFFLE_MERGE(sa, sb) */
               doc_a, doc_b,
               SIZE(ARRAY_INTERSECT(sa.grams, sb.grams)) AS inter,
               SIZE(sa.grams) AS na, SIZE(sb.grams) AS nb
        FROM cand
        JOIN sh sa ON doc_a = sa.doc_id
        JOIN sh sb ON doc_b = sb.doc_id
      )
      WHERE GREATEST(inter / na, inter / nb) >= 0.8
      ORDER BY doc_a, doc_b"""),

    // Duplicate-cluster assignment: connected components over the
    // near-duplicate pair graph (pairs = the oracle-checked
    // dedup_minhash_lsh output), so each doc maps to one cluster and a
    // pipeline keeps min(doc_id) per cluster as the representative.
    // See connectedComponents() below for the algorithm (alternating
    // large-star/small-star, O(log n)-ish rounds, reliable checkpoints).
    // Output: (doc_id, cluster, csize) for every doc in ≥1 pair;
    // singletons are implicitly their own cluster.
    // The DEDUP FUNNEL REPORT — the two-stage pipeline a production
    // dedup run publishes: exact-digest removal, then near-dup
    // component collapse over the exact SURVIVORS, each stage with
    // in/removed/out counts and the token mass removed. Composes the
    // validated pieces (digest groupBy, MinHash-LSH pairs, reliable-
    // checkpoint CC) into one statement-equivalent report; the stage
    // scalars are bounded driver state (the graph_triangles rule — a
    // 2-row result is not a row-scale collect). Oracle chains the
    // independent DuckDB formulations end to end.
    "pipeline_dedup_report" -> ((spark, sfDir) => {
      val pairsAll = Tables.sql(MinhashPairsSql)(spark, sfDir)
      val d = spark.sql(
        """SELECT doc_id, MD5(CAST(text AS BINARY)) AS h,
                  CAST(SIZE(TOKENIZE(text)) AS BIGINT) AS ntok
           FROM documents""").persist()
      val reps = d.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      // ONE fused action for all three exact-stage scalars (was three:
      // d.count, removed.count, removed token sum — each paying the
      // per-job scheduling floor): a doc is exact-removed iff it is not
      // its hash group's representative, so a left join against the
      // reps flag yields n_docs / n_removed / tokens_removed in one
      // aggregate over the persisted scored table. doc_id is unique in
      // d and reps, so the join multiplies no rows.
      val exRow = d
        .join(reps.withColumn("isrep", lit(1L)), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("nd"),
             coalesce(sum(when(col("isrep").isNull, 1L).otherwise(0L)),
               lit(0L)).as("nex"),
             coalesce(sum(when(col("isrep").isNull, col("ntok"))
               .otherwise(0L)), lit(0L)).as("tokex")).head()
      val nDocs = exRow.getLong(0)
      val nEx = exRow.getLong(1)
      val tokEx = exRow.getLong(2)
      // near-dup pass over exact survivors only: both pair endpoints
      // must be representatives
      val pr = pairsAll
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .join(reps.withColumnRenamed("doc_id", "src"), Seq("src"))
        .join(reps.withColumnRenamed("doc_id", "dst"), Seq("dst"))
      val (labels, _) = connectedComponents(spark, pr.select("src", "dst"))
      val keep = labels.groupBy(col("comp")).agg(min(col("node")).as("keep"))
      val nearRemoved = labels
        .join(keep, labels("node") === keep("keep"), "left_anti")
      // same fusion for the near stage: count + token sum in one job
      // (the d join is 1:1 — every CC node is a distinct doc_id)
      val nearRow = nearRemoved
        .join(d, nearRemoved("node") === d("doc_id"))
        .agg(count(lit(1)).as("nn"),
             coalesce(sum(col("ntok")), lit(0L)).as("tokn")).head()
      val nNear = nearRow.getLong(0)
      val tokNear = nearRow.getLong(1)
      d.unpersist()
      import spark.implicits._
      Seq(
        ("1_exact", nDocs, nEx, nDocs - nEx, tokEx),
        ("2_near", nDocs - nEx, nNear, nDocs - nEx - nNear, tokNear))
        .toDF("stage", "n_in", "n_removed", "n_out", "tokens_removed")
        .orderBy(col("stage"))
    }),

    // Dedup-AWARE sampling: draw each document with probability
    // 1/csize of its near-dup cluster, so duplicated content carries
    // the same expected mass as unique content (the sampling-side
    // alternative to hard removal — train-data mixing pipelines use it
    // to keep SOME boilerplate without letting it dominate). The draw
    // is the suite's engine-identical multiplicative hash with the
    // keep rule u·csize < 2^32 — pure integer compare, exact in both
    // engines. Per-csize keep counts report the realized thinning.
    "curation_dedup_aware_sample" -> ((spark, sfDir) => {
      val labels = nearDupLabels(spark, sfDir)
      val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("csize"))
      val docCsize = spark.table("documents").select(col("doc_id"))
        .join(labels.join(sizes, "comp")
          .select(col("node").as("doc_id"), col("csize")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("csize"), lit(1L)).as("csize"))
      docCsize
        .withColumn("u",
          ((col("doc_id") % 2147483648L) * 2654435761L) % 4294967296L)
        .groupBy(col("csize").cast("bigint").as("csize"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(when(col("u") * col("csize") < 4294967296L, 1L).otherwise(0L))
            .cast("bigint").as("n_kept"))
        .orderBy(col("csize"))
    }),

    // Cluster-size distribution of the near-dup component graph — the
    // report a dedup run is judged by (how much mass sits in big
    // boilerplate clusters vs pairs): histogram of component sizes
    // plus the out-of-graph singleton row (docs with no duplicate at
    // all = corpus minus CC nodes — pair-graph components are always
    // size ≥ 2). Same CC machinery, one extra aggregate.
    "dedup_cluster_stats" -> ((spark, sfDir) => {
      val labels = nearDupLabels(spark, sfDir)
      val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("csize"))
      val hist = sizes.groupBy(col("csize"))
        .agg(count(lit(1)).cast("bigint").as("n_components"),
          sum(col("csize")).cast("bigint").as("n_docs"))
      // both corpus-level scalars in one job
      val Seq(nNodes, nDocs) = Loops.counts(labels, spark.table("documents"))
      import spark.implicits._
      val singletons = Seq((1L, nDocs - nNodes, nDocs - nNodes))
        .toDF("csize", "n_components", "n_docs")
      hist.select(col("csize").cast("bigint"), col("n_components"), col("n_docs"))
        .union(singletons)
        .orderBy(col("csize"))
    }),

    "dedup_clusters" -> ((spark, sfDir) => {
      val labels = nearDupLabels(spark, sfDir)
      val sizes = labels.groupBy("comp").agg(count(lit(1)).as("csize"))
      labels.join(sizes, "comp")
        .select(col("node").as("doc_id"), col("comp").as("cluster"), col("csize"))
        .orderBy(col("cluster"), col("doc_id"))
    }),

    // Keep-best representative selection: production dedup keeps the
    // HIGHEST-QUALITY member of each duplicate cluster, not the lowest
    // id (the rep choice measurably shifts downstream training data
    // quality). Same CC machinery as dedup_clusters; quality here is
    // the integer distinct-token count (exact, no float tie ambiguity)
    // with doc_id as the total tie-break; singletons keep themselves.
    // One window over cluster-partitioned rows — no new shuffle class.
    "dedup_keep_best" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val labels = nearDupLabels(spark, sfDir)
      val q = spark.sql("""
        SELECT doc_id,
               SIZE(ARRAY_DISTINCT(FILTER(SPLIT(LOWER(text), ' '), w -> w <> ''))) AS n_uniq
        FROM documents""")
      val lab = q.join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("comp"), col("doc_id")))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("n_uniq").desc, col("doc_id"))
      lab.withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("cluster"), col("n_uniq"),
          (col("rn") === 1).cast("int").as("kept"))
        .orderBy(col("doc_id"))
    }),

    // End-to-end curation: the composed pipeline a training-data run
    // actually executes — (1) quality gate (>= 10 tokens, type-token
    // ratio >= 0.2), (2) exact dedup among survivors (keep min doc_id
    // per content digest), (3) near-dup removal: every document that is
    // not its cluster's representative (cluster = connected component of
    // the minhash pair graph over the FULL corpus, representative = min
    // doc_id) is dropped. Each stage is one of the operators above; this
    // query pins that they compose, with the whole pipeline verified
    // end-to-end against an independent DuckDB formulation.
    "pipeline_curate" -> ((spark, sfDir) =>
      curatedSurvivors(spark, sfDir)
        .select(col("doc_id"), col("lang"), size(col("toks")).as("n_tok"))
        .orderBy(col("doc_id"))),

    // pipeline_curate + the CCNet perplexity gate (the curation stack a
    // modern LLM-data run actually ships): quality gate → exact-dedup
    // representative → near-dup cluster representative → perplexity
    // head+middle cut. THE GATE IS A QUANTILE, NOT A CONSTANT: a fixed
    // `ppl <= 30` keeps 0 of 500k docs at sf10, because the
    // corpus-trained bigram LM's perplexity floor drifts up with
    // corpus scale (min ppl 33.2 at sf10), so the operator would
    // silently degrade to useless while the oracle agreed by
    // construction.
    // CCNet itself splits by corpus perplexity terciles; we keep
    // head+middle: t = the smallest ROUND(ppl,6) value with
    // count(ppl ≤ t) ≥ ⌈2n/3⌉ (integer-exact 3·cum ≥ 2n), gate
    // ppl ≤ t, value-ties inclusive so no per-doc tie-break is
    // needed. t comes from Quantiles.exactCutoff — the TWO-LEVEL
    // value-domain cut (a single cumulative window over groupBy(ppl)
    // would run one task over ~|docs| distinct 6-dp values; the
    // unpartitioned windows see only the FLOOR(ppl) integer grid,
    // bounded by the value range,
    // and the ≤1e6-value inside of the one boundary bucket — bounded
    // single-task state at any corpus size, same t byte-for-byte).
    // Pins that the perplexity operator COMPOSES with the dedup stack;
    // the oracle chains the independent DuckDB formulations of all
    // four stages into one statement, replicating both quantile
    // levels with the same integer-exact criterion.
    "pipeline_curate_ppl" -> ((spark, sfDir) => {
      val survivors = curatedSurvivors(spark, sfDir)
      // persist: the scored table feeds the two quantile passes (each
      // collecting one row) and the final join — without the cache the
      // whole bigram-LM chain evaluates 3× (measured +5 s at sf0.1).
      // The final join reads it after this function returns, so the
      // runner's clearCache() after the query releases it.
      val ppl = TextAnalysis.queries("text_perplexity")(spark, sfDir)
        .select(col("doc_id"), col("ppl")).persist()
      // head+middle cut: t = min value covering ⌈2n/3⌉ docs, computed
      // by the two-level bounded-state quantile primitive (empty
      // corpus → -Infinity → empty funnel, not an NPE)
      val t = Quantiles.exactCutoff(ppl, "ppl", 2L, 3L,
        Quantiles.Domains.Perplexity6dp)
      survivors.join(ppl, "doc_id")
        .where(col("ppl") <= t)
        .select(col("doc_id"), col("lang"), size(col("toks")).as("n_tok"), col("ppl"))
        .orderBy(col("doc_id"))
    }),

    // Embedding near-dup: cosine ≥ 0.35 within label blocks (label is
    // the blocking key; LSH buckets replace it at scale — see
    // dedup_embedding_lsh below for exactly that form). The label
    // domain is FIXED (category-like), so blocks grow linearly with
    // the corpus and the within-block pair work is intentionally
    // quadratic — which makes join PARALLELISM the scale variable, not
    // the pair count. Left alone, Spark broadcasts the self-join side
    // and runs the whole expansion on the probe side's ONE input
    // partition (at sf10: 2e9 pairs, 25+ min on 1 of 32 cores). The b side is
    // salted into W deterministic sub-blocks (each unordered pair
    // lands in exactly one: b's salt — pair-preserving for ANY W), the
    // a side replicates ×W, and the SHUFFLE_MERGE pin forces the
    // shuffle plan. W is ADAPTIVE (a fixed 8 fits sf10's ~2e9 pairs
    // and under-splits at sf100):
    // max(parallelism term ⌈2·cores/|labels|⌉ — ≥2 task waves even on
    // tiny blocks; task-size term ⌈maxBlock²/2 / 2.5e8⌉ — caps a task
    // at ~2.5e8 cosine pairs ≈ 75-85 s at the MEASURED kernel
    // throughput of ~3.3M pairs/s/core (from an event log; kept at
    // 2.5e8 deliberately: minute-scale tasks are normal batch grain,
    // and halving it doubles the ×W a-side shuffle replication),
    // clamped to 4096 (a-side shuffle replication is ×W, so
    // the one-sided salt's own envelope ends where n·W rows rival the
    // pair work — past that the answer is dedup_embedding_lsh, not a
    // wider salt). The two aggregates feeding W are |labels| rows
    // (fixed domain — bounded driver state). Same pair set for every
    // W, same cosine calls, oracle text unchanged.
    "dedup_embedding_cosine" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      val blocks = spark.table("embeddings")
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
        .collect()
      val nLabels = math.max(1, blocks.length)
      val maxBlock = if (blocks.isEmpty) 0L else blocks.map(_.getLong(1)).max
      val cores = spark.sparkContext.defaultParallelism
      val wPar = math.ceil(2.0 * cores / nLabels).toLong
      val wSize = math.ceil(maxBlock.toDouble * maxBlock / 2.0 / 2.5e8).toLong
      val w = math.max(1L, math.min(4096L, math.max(wPar, wSize)))
      // scale-probe observability (BASELINE records W per decade): which
      // term chose W, on one stderr line the driver ignores
      System.err.println(s"[graft-scale] dedup_embedding_cosine W=$w " +
        s"(wPar=$wPar wSize=$wSize maxBlock=$maxBlock labels=$nLabels)")
      spark.sql(s"""
        SELECT /*+ SHUFFLE_MERGE(a) */
               a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(COSINE_SIM(a.embedding, b.embedding), 6) AS cos
        FROM (SELECT e.*, s.salt
              FROM embeddings e LATERAL VIEW EXPLODE(SEQUENCE(0, ${w - 1})) s AS salt) a
        JOIN (SELECT e.*, PMOD(HASH(vec_id), $w) AS salt FROM embeddings e) b
          ON a.label = b.label AND a.salt = b.salt AND a.vec_id < b.vec_id
        WHERE COSINE_SIM(a.embedding, b.embedding) >= 0.35
        ORDER BY vec_a, vec_b""")
    }),

    // The 100 TB form of embedding near-dup: no metadata blocking key —
    // candidates come from random-hyperplane LSH buckets (16 tables ×
    // pe-bit), i.e. the same equi-join-on-(table, bucket) discipline as
    // ann_lsh_bucketed, with exact cosine verification on the deduped
    // candidate ids only (the wide vectors re-join after DISTINCT).
    // Hot-bucket cap: a bucket of B members contributes O(B²) candidate
    // pairs, so one degenerate bucket (near-identical embeddings at
    // scale) would go quadratic — buckets over 64 members are skipped,
    // standard LSH practice: members still pair through their other 15
    // tables, so only pairs whose EVERY shared bucket is hot are lost.
    // PLANES ARE ADAPTIVE (with 6 fixed planes there
    // are only 64 buckets/table, so past ~sf0.2 EVERY bucket exceeds
    // the cap and the operator silently returns ZERO pairs — the exact
    // opposite of "the 100 TB answer"): `Similarity.lshGeometry`'s
    // pe = smallest p in [6, 18] with n ≤ 64·2^p, i.e. average bucket
    // ≤ the cap, identical arithmetic in the oracle. Plane
    // signs are seeded per (table, plane, dim) independent of the
    // plane COUNT and bucket bit p is plane p, so pe planes equal the
    // first pe of any larger family — results at pe=6 SFs (the driver
    // fixtures) are byte-stable vs the fixed-plane version, and the
    // oracle replicates any pe by masking an 18-plane bucket to the
    // low pe bits. n is one driver scalar (count — bounded state).
    "dedup_embedding_lsh" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      val emb = spark.table("embeddings")
      val n = emb.count()
      val (tables, pe) = Similarity.lshGeometry(n)
      System.err.println(s"[graft-scale] dedup_embedding_lsh pe=$pe n=$n")
      val cand = lshCandidatePairs(emb, tables, planes = pe, maxBucket = 64)
      cand
        .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
        .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
        .withColumn("cos", GraftFunctions.cosine_sim(col("ea"), col("eb")))
        .where(col("cos") >= 0.35)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
        .orderBy("vec_a", "vec_b")
    })
  )

  /** Candidate id-pairs (vec_a < vec_b) sharing ≥1 random-hyperplane LSH
    * bucket over a (vec_id, embedding) input, with buckets over
    * `maxBucket` members skipped (see dedup_embedding_lsh's comment for
    * the O(B²) hot-bucket rationale). Only ids travel through the
    * candidate DISTINCT shuffle. */
  def lshCandidatePairs(emb: DataFrame, tables: Int, planes: Int,
                        maxBucket: Int): DataFrame = {
    // persist: this (ids+tbl+bucket — narrow) subtree is referenced by
    // the size aggregate and both self-join sides; without the cache the
    // O(tables·planes·dim) bucket kernel re-runs per reference
    val bucketed = emb
      .withColumn("bs", GraftFunctions.lsh_buckets(col("embedding"), tables, planes))
      .select(col("vec_id"), posexplode(col("bs")).as(Seq("tbl", "bucket")))
      .persist()
    val coolBuckets = bucketed.groupBy("tbl", "bucket")
      .agg(count(lit(1)).as("bsz")).where(col("bsz") <= maxBucket)
      .select("tbl", "bucket")
    val capped = bucketed.join(coolBuckets, Seq("tbl", "bucket"))
    capped.select(col("vec_id").as("vec_a"), col("tbl"), col("bucket"))
      .join(capped.withColumnRenamed("vec_id", "vec_b"), Seq("tbl", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
  }

  /** The near-dup clusters of the corpus: `connectedComponents`'
    * (node, comp) labels over the MinHash-LSH pair graph. The pairs are
    * dedup_minhash_lsh's without its final ORDER BY, whose range
    * exchange the edge canonicalization would discard unused. */
  private def nearDupLabels(spark: SparkSession, sfDir: String): DataFrame =
    connectedComponents(spark, Tables.sql(MinhashPairsSql)(spark, sfDir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst")))._1

  /** pipeline_curate's three stages: the (doc_id, lang, toks, ...) rows
    * of the documents that pass the quality gate (>= 10 tokens,
    * type-token ratio >= 0.2), are the lowest doc_id of their content
    * digest among those, and represent their near-dup cluster (its
    * min doc_id; clusters are over the full corpus). */
  private def curatedSurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.register(spark, sfDir)
    // components directly over the pair graph — dedup_clusters' final
    // cluster-size join and ORDER BY serve its own output contract and
    // would be dead weight under this anti-join consumer
    val nonRep = nearDupLabels(spark, sfDir)
      .where(col("node") =!= col("comp"))
      .select(col("node").as("drop_id"))
    val base = spark.sql(Tables.scaleHints(spark, """
      SELECT doc_id, lang, TOKENIZE(text) AS toks,
             MD5(CAST(text AS BINARY)) AS digest
      FROM (SELECT /*+ REPARTITION(32) */ * FROM documents)"""))
      .where(size(col("toks")) >= 10 &&
        size(array_distinct(col("toks"))).cast("double") / size(col("toks")) >= 0.2)
    val reps = base.groupBy(col("digest")).agg(min(col("doc_id")).as("keep_id"))
    base.join(reps, base("doc_id") === reps("keep_id"))
      .join(nonRep, base("doc_id") === nonRep("drop_id"), "left_anti")
  }

  /** Connected components over an undirected edge set via alternating
    * large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 §3). Rounds grow as
    * O(log n), not with the graph diameter as hash-min label
    * propagation does: a 64-node chain takes 7 (pinned by
    * PipelineSpec), where propagation needs 63.
    *
    * large-star(u): attach every neighbor v > u to m = min(Γ(u) ∪ {u});
    * small-star(u): attach u and all smaller neighbors to m = min(Γ<(u)).
    * At the fixpoint every component is a star centered at its minimum
    * node, read off as (node → center) labels.
    *
    * The rounds are a fixed RDD program over (Long, Long) edges on the
    * `Loops` driver, so no round is planned, optimized or compiled: see
    * `starStep` for the shape of one step. Each round's star set is
    * carried through a reliable checkpoint, and its shuffles are sized
    * from the previous round's edge count.
    *
    * Convergence is EXACT edge-set equality for both steps, never a
    * probabilistic checksum, and unconverged state throws rather than
    * emitting wrong clusters. Two tiers: equal cardinality is necessary
    * for set equality and costs only counts the round takes anyway, so
    * the exact check — every input is a distinct edge set, so tagging
    * members ±1 and summing per (step, edge) yields 0 for every key iff
    * large-star changed nothing and small-star changed nothing — runs
    * its single shuffle only in rounds where all the counts agree.
    *
    * @param edges undirected edges in integral columns (src, dst), any
    *              orientation; self-loops, duplicates and nulls are
    *              ignored
    * @return (labels (node, comp) for every edge endpoint, typed as
    *         greatest(src, dst); rounds run)
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          maxRounds: Int = 50): (DataFrame, Int) = {
    // canonical orientation: src > dst, no self-loops
    val canon = edges.select(greatest(col("src"), col("dst")).as("src"),
                             least(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
    val keyType = canon.schema.head.dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(keyType),
      s"connected components needs integral node ids, not $keyType")
    val (stars, rounds) = Loops.fixpoint(spark, "connected components", maxRounds) { r =>
      val in = canon.select(col("src").cast(LongType), col("dst").cast(LongType))
        .rdd.map(row => (row.getLong(0), row.getLong(1)))
      // no count precedes the initial set, so it is no wider than its input
      val (e, n) = r.carry(in.distinct(math.min(r.width, in.getNumPartitions)))
      // empty graph: no pairs ⇒ no clusters, in zero rounds
      Loops.Step(e, n, done = n == 0L)
    } { (r, cur) =>
      // e1 is read by its count, by small-star and by the exact check,
      // so it is kept for the round; only e2 is carried
      val e1 = r.keep(largeStar(cur.state, r.width))
      val e1Count = e1.count()
      val (e2, e2Count) = r.carry(smallStar(e1, r.width))
      def tag(e: RDD[(Long, Long)], step: Int, sign: Long) =
        e.map { case (src, dst) => ((step, src, dst), sign) }
      val converged = e1Count == cur.rows && e2Count == e1Count &&
        spark.sparkContext
          .union(tag(e1, 0, 1L), tag(cur.state, 0, -1L), tag(e2, 1, 1L), tag(e1, 1, -1L))
          .reduceByKey(_ + _, r.width).filter(_._2 != 0L).count() == 0L
      Loops.Step(e2, e2Count, converged)
    }
    // stars: every edge is (leaf, center); centers get their own label
    val labels = stars.flatMap { case (leaf, center) => Iterator((leaf, center), (center, center)) }
      .reduceByKey(math.min(_, _), stars.getNumPartitions)
    import spark.implicits._
    (labels.toDF("node", "comp").select(
      col("node").cast(keyType).as("node"), col("comp").cast(keyType).as("comp")), rounds)
  }

  /** large-star over edges in either orientation: every neighbor v > u
    * of u is attached to min(Γ(u) ∪ {u}). */
  private[graft] def largeStar(e: RDD[(Long, Long)], width: Int): RDD[(Long, Long)] =
    starStep(e.flatMap { case (a, b) => Iterator((a, b), (b, a)) }, width) { (u, v, m, _) =>
      if (v > u) Iterator((v, math.min(u, m))) else Iterator.empty
    }

  /** small-star over canonical edges (src > dst): u and every smaller
    * neighbor other than m are attached to m = min(Γ<(u)). */
  private[graft] def smallStar(e: RDD[(Long, Long)], width: Int): RDD[(Long, Long)] =
    starStep(e, width) { (u, v, m, first) =>
      (if (first) Iterator((u, m)) else Iterator.empty) ++
        (if (v != m) Iterator((v, m)) else Iterator.empty)
    }

  /** One star step: the edges are partitioned by src and sorted by
    * (src, dst) in one shuffle, so the first edge of each src's run
    * carries the minimum dst m. `emit(src, dst, m, first)` is called
    * once per edge in a single streaming pass, and the output is made a
    * set. A task holds one edge at a time — no per-src map and no
    * adjacency list, so neither many distinct srcs nor a hot node (one
    * doc near-duplicated a million times) is buffered; the sort spills
    * like any shuffle sort. */
  private def starStep(edges: RDD[(Long, Long)], width: Int)
                      (emit: (Long, Long, Long, Boolean) => Iterator[(Long, Long)])
      : RDD[(Long, Long)] =
    edges.map((_, ())).repartitionAndSortWithinPartitions(new BySrc(width))
      .mapPartitions { sorted =>
        var u, m = 0L
        var started = false
        sorted.flatMap { case ((src, dst), _) =>
          val first = !started || src != u
          if (first) { u = src; m = dst; started = true }
          emit(src, dst, m, first)
        }
      }.distinct(width)

  /** Partitions (src, dst) keys by src alone. */
  private final class BySrc(width: Int) extends Partitioner {
    private val bySrc = new HashPartitioner(width)
    override def numPartitions: Int = width
    override def getPartition(key: Any): Int =
      bySrc.getPartition(key.asInstanceOf[(Long, Long)]._1)
  }

  val oracle: Map[String, String] = Map(
    "dedup_exact" -> """
      SELECT MD5(text) AS h,
             MIN(doc_id) AS keep_id,
             COUNT(*) AS dup_cnt
      FROM documents
      GROUP BY MD5(text)
      ORDER BY keep_id""",

    // exact all-pairs jaccard >= 0.8 via an inverted-index join (the
    // O(n²) spelling would be too slow for DuckDB at sf0.01); valid
    // because the Spark side's final filter is exact jaccard and LSH
    // recall is 1.0 on the testdata — see the query comment. Pair CTEs
    // are shared with the dedup_clusters oracle (OraclePairsCte) so the
    // two can never verify against different pair graphs.
    "dedup_minhash_lsh" -> s"""
      WITH $OraclePairsCte
      SELECT doc_a, doc_b, jaccard FROM good
      ORDER BY doc_a, doc_b""",

    // same pair definition (shared CTE constant), then connected
    // components as a RECURSIVE CTE (transitive closure of comp labels,
    // min per node) — an independent formulation of the same graph
    // the same CC labeling joined to an independent distinct-token
    // count; argmax by (n_uniq DESC, doc_id)
    "dedup_keep_best" -> s"""
      WITH RECURSIVE $OraclePairsCte, edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM good
        UNION ALL SELECT doc_b, doc_a FROM good
      ), cc AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.src, c.comp FROM edges e JOIN cc c ON e.dst = c.node
      ), lab AS MATERIALIZED (
        SELECT node, MIN(comp) AS comp FROM cc GROUP BY node
      ), q AS (
        SELECT doc_id,
               LEN(LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> ''))) AS n_uniq
        FROM documents
      ), al AS (
        SELECT q.doc_id, COALESCE(l.comp, q.doc_id) AS cluster, q.n_uniq,
               ROW_NUMBER() OVER (PARTITION BY COALESCE(l.comp, q.doc_id)
                                  ORDER BY q.n_uniq DESC, q.doc_id) AS rn
        FROM q LEFT JOIN lab l ON l.node = q.doc_id
      )
      SELECT doc_id, cluster, CAST(n_uniq AS INT) AS n_uniq,
             CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS kept
      FROM al ORDER BY doc_id""",

    // funnel report: digest stage in plain SQL, near stage as the
    // recursive components over survivor-filtered pairs
    "pipeline_dedup_report" -> s"""
      WITH RECURSIVE $OraclePairsCte, d AS MATERIALIZED (
        SELECT doc_id, MD5(text) AS h,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                    w -> w <> '')) AS BIGINT) AS ntok
        FROM documents
      ), reps AS MATERIALIZED (
        SELECT MIN(doc_id) AS doc_id FROM d GROUP BY h
      ), exact_removed AS MATERIALIZED (
        SELECT d.doc_id, d.ntok FROM d
        LEFT JOIN reps r ON d.doc_id = r.doc_id WHERE r.doc_id IS NULL
      ), goodr AS (
        SELECT g.doc_a, g.doc_b FROM good g
        JOIN reps a ON g.doc_a = a.doc_id
        JOIN reps b ON g.doc_b = b.doc_id
      ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM goodr
        UNION ALL SELECT doc_b, doc_a FROM goodr
      ), cc AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.src, c.comp FROM edges e JOIN cc c ON e.dst = c.node
      ), lab AS MATERIALIZED (
        SELECT node, MIN(comp) AS comp FROM cc GROUP BY node
      ), nearkeep AS (
        SELECT MIN(node) AS keep FROM lab GROUP BY comp
      ), near_removed AS MATERIALIZED (
        SELECT l.node FROM lab l
        LEFT JOIN nearkeep k ON l.node = k.keep WHERE k.keep IS NULL
      ), s AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM exact_removed) AS n_ex,
               (SELECT CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
                FROM exact_removed) AS tok_ex,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM near_removed) AS n_near,
               (SELECT CAST(COALESCE(SUM(d2.ntok), 0) AS BIGINT)
                FROM near_removed nr JOIN d d2 ON nr.node = d2.doc_id) AS tok_near
      )
      SELECT '1_exact' AS stage, n_docs AS n_in, n_ex AS n_removed,
             n_docs - n_ex AS n_out, tok_ex AS tokens_removed
      FROM s
      UNION ALL
      SELECT '2_near', n_docs - n_ex, n_near,
             n_docs - n_ex - n_near, tok_near
      FROM s
      ORDER BY stage""",

    "curation_dedup_aware_sample" -> s"""
      WITH RECURSIVE $OraclePairsCte, edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM good
        UNION ALL SELECT doc_b, doc_a FROM good
      ), cc AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.src, c.comp FROM edges e JOIN cc c ON e.dst = c.node
      ), lab AS MATERIALIZED (
        SELECT node, MIN(comp) AS comp FROM cc GROUP BY node
      ), sizes AS (
        SELECT comp, CAST(COUNT(*) AS BIGINT) AS csize FROM lab GROUP BY comp
      ), dc AS (
        SELECT d.doc_id, COALESCE(s.csize, 1) AS csize,
               ((d.doc_id % 2147483648) * 2654435761) % 4294967296 AS u
        FROM documents d
        LEFT JOIN (SELECT l.node, z.csize FROM lab l
                   JOIN sizes z ON l.comp = z.comp) s ON d.doc_id = s.node
      )
      SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN u * csize < 4294967296 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept
      FROM dc GROUP BY csize ORDER BY csize""",

    "dedup_cluster_stats" -> s"""
      WITH RECURSIVE $OraclePairsCte, edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM good
        UNION ALL SELECT doc_b, doc_a FROM good
      ), cc AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.src, c.comp FROM edges e JOIN cc c ON e.dst = c.node
      ), lab AS MATERIALIZED (
        SELECT node, MIN(comp) AS comp FROM cc GROUP BY node
      ), sizes AS (
        SELECT comp, CAST(COUNT(*) AS BIGINT) AS csize FROM lab GROUP BY comp
      )
      SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_components,
             CAST(SUM(csize) AS BIGINT) AS n_docs
      FROM sizes GROUP BY csize
      UNION ALL
      SELECT 1 AS csize,
             (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM lab),
             (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM lab)
      ORDER BY csize""",

    "dedup_clusters" -> s"""
      WITH RECURSIVE $OraclePairsCte, edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM good
        UNION ALL SELECT doc_b, doc_a FROM good
      ), cc AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.src, c.comp FROM edges e JOIN cc c ON e.dst = c.node
      ), lab AS MATERIALIZED (
        SELECT node, MIN(comp) AS comp FROM cc GROUP BY node
      )
      SELECT l.node AS doc_id, l.comp AS cluster, s.csize
      FROM lab l JOIN (SELECT comp, COUNT(*) AS csize FROM lab GROUP BY comp) s USING (comp)
      ORDER BY cluster, doc_id""",

    // independent spelling of the full curation pipeline: shared pair
    // CTEs + recursive components for stage 3, plain SQL for stages 1-2
    "pipeline_curate" -> s"""
      WITH RECURSIVE $OraclePairsCte, edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM good
        UNION ALL SELECT doc_b, doc_a FROM good
      ), cc AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.src, c.comp FROM edges e JOIN cc c ON e.dst = c.node
      ), lab AS MATERIALIZED (
        SELECT node, MIN(comp) AS comp FROM cc GROUP BY node
      ), q2 AS (
        SELECT doc_id, lang, LEN(toks) AS n_tok, MD5(text) AS digest
        FROM (SELECT doc_id, lang, text,
                     LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
              FROM documents)
        WHERE LEN(toks) >= 10 AND LEN(LIST_DISTINCT(toks)) / LEN(toks) >= 0.2
      ), reps AS (
        SELECT MIN(doc_id) AS keep_id FROM q2 GROUP BY digest
      ), nonrep AS (
        SELECT node AS doc_id FROM lab WHERE node <> comp
      )
      SELECT q2.doc_id, q2.lang, q2.n_tok
      FROM q2 JOIN reps ON q2.doc_id = reps.keep_id
      WHERE q2.doc_id NOT IN (SELECT doc_id FROM nonrep)
      ORDER BY q2.doc_id""",

    // pipeline_curate's oracle + the prefixed perplexity CTE chain and
    // the same head+middle quantile cut, replicated at BOTH levels of
    // the two-level value-domain form: pstar = first FLOOR(ppl)
    // grid bucket with 3·cum ≥ 2n (carrying the doc count below it),
    // then t = min ppl inside that one bucket meeting the identical
    // global criterion. pdoc uses text_perplexity's integer-grid ppl
    // spelling verbatim (a decimal-sum/COUNT form would be
    // value-equal only while per-doc Σ|lp·1e6| < 2^53 — textual
    // identity is the standing discipline and every doc's 6th decimal
    // is now load-bearing for the quantile). pdoc/pstar MATERIALIZED:
    // multi-referenced, and DuckDB would re-inline them per reference.
    "pipeline_curate_ppl" -> s"""
      WITH RECURSIVE $OraclePairsCte, edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM good
        UNION ALL SELECT doc_b, doc_a FROM good
      ), cc AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.src, c.comp FROM edges e JOIN cc c ON e.dst = c.node
      ), lab AS MATERIALIZED (
        SELECT node, MIN(comp) AS comp FROM cc GROUP BY node
      ), ${graft.operators.TextAnalysis.pplCtes(spark = false, px = "pp")},
      pdoc AS MATERIALIZED (
        SELECT doc_id,
               ROUND(EXP(-(CAST(SUM(CAST(ROUND(lp * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*))), 6) AS ppl
        FROM ppsc GROUP BY doc_id
      ), pstar AS MATERIALIZED (
        SELECT g AS gstar, cum - c AS below, n FROM (
          SELECT g, c,
                 SUM(c) OVER (ORDER BY g
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(c) OVER () AS n
          FROM (SELECT CAST(FLOOR(ppl) AS BIGINT) AS g, COUNT(*) AS c
                FROM pdoc GROUP BY 1))
        WHERE cum * 3 >= n * 2
        ORDER BY g LIMIT 1
      ), pthr AS (
        SELECT MIN(ppl) AS t FROM (
          SELECT ppl,
                 SUM(COUNT(*)) OVER (ORDER BY ppl
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw
          FROM pdoc, pstar
          WHERE CAST(FLOOR(ppl) AS BIGINT) = pstar.gstar
          GROUP BY ppl) w, pstar
        WHERE (w.cumw + pstar.below) * 3 >= pstar.n * 2
      ), q2 AS (
        SELECT doc_id, lang, LEN(toks) AS n_tok, MD5(text) AS digest
        FROM (SELECT doc_id, lang, text,
                     LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
              FROM documents)
        WHERE LEN(toks) >= 10 AND LEN(LIST_DISTINCT(toks)) / LEN(toks) >= 0.2
      ), reps AS (
        SELECT MIN(doc_id) AS keep_id FROM q2 GROUP BY digest
      ), nonrep AS (
        SELECT node AS doc_id FROM lab WHERE node <> comp
      )
      SELECT q2.doc_id, q2.lang, q2.n_tok, pdoc.ppl
      FROM q2 JOIN reps ON q2.doc_id = reps.keep_id
              JOIN pdoc ON q2.doc_id = pdoc.doc_id
      WHERE q2.doc_id NOT IN (SELECT doc_id FROM nonrep)
        AND pdoc.ppl <= (SELECT t FROM pthr)
      ORDER BY q2.doc_id""",

    // FULL INDEPENDENT REPLICATION of simhash, then the SAME 7-band
    // candidate join and 1000-member hot-bucket cap as the Spark query
    // (an implementation replication, like dedup_embedding_lsh — NOT an
    // all-pairs ground truth, so the compare is assumption-free at any
    // scale factor; what the cap actually costs vs exact all-pairs is
    // measured independently in PipelineSpec, recall 1.0 at sf0.001 and
    // ≥0.99 at sf0.1). The token hash (FNV-1a 64 + murmur fmix64,
    // seed 0) is recomputed in SQL with HUGEINT mod-2^64 arithmetic —
    // the corpus is ASCII, so unicode(char) == utf8 byte; constants are
    // the decimal spellings of the FNV offset/prime and fmix64
    // multipliers. Validated bit-for-bit against the Spark fingerprints
    // at sf0.01.
    "dedup_simhash" -> s"""
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), tok AS (
        SELECT doc_id, UNNEST(toks) AS tok FROM t WHERE LEN(toks) > 0
      ), th0 AS (
        SELECT doc_id, list_reduce(
          list_prepend(14695981039346656037::UBIGINT,
            list_transform(range(1, length(tok) + 1), i -> unicode(tok[i:i])::UBIGINT)),
          (h, b) -> ${DuckHash.mulmod("xor(h, b)", "1099511628211")}) AS h0
        FROM tok
      ), ${DuckHash.fmix64Ctes(from = "th0", carry = "doc_id", in = "h0",
                               prefix = "fm", out = "th", outCol = "h")}, bits AS (
        SELECT doc_id, j,
               SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        FROM th, UNNEST(range(64)) AS u(j)
        GROUP BY doc_id, j
      ), sim AS (
        SELECT doc_id,
               bit_or(CASE WHEN cnt > 0 THEN (1::UBIGINT << CAST(j AS INT))
                           ELSE 0::UBIGINT END) AS sim
        FROM bits GROUP BY doc_id
      ), bands AS (
        SELECT doc_id, sim, CAST(u.band AS INT) AS band,
               CASE WHEN u.band < 6 THEN (sim >> CAST(u.band * 9 AS INT)) & 511
                    ELSE (sim >> 54) & 1023 END AS bandkey
        FROM sim, UNNEST(range(7)) AS u(band)
      ), cool AS (
        SELECT band, bandkey FROM bands
        GROUP BY band, bandkey HAVING COUNT(*) <= 1000
      ), cb AS (
        SELECT b.doc_id, b.sim, b.band, b.bandkey
        FROM bands b JOIN cool USING (band, bandkey)
      )
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
      FROM cb a JOIN cb b
        ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sim, b.sim)) <= 6
      ORDER BY doc_a, doc_b""",

    // same tokenization (lowercase, space-split, empties dropped), same
    // distinct 15-token windows, same MD5, cap, and count thresholds —
    // exact string/integer arithmetic, no tolerance needed
    "dedup_substring" -> """
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), x -> x <> '') AS toks
        FROM documents
      ), w AS (
        SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
          RANGE(0, GREATEST(LEN(toks) - 14, 0)),
          i -> MD5(ARRAY_TO_STRING(toks[i + 1 : i + 15], ' '))))) AS wh
        FROM t
      ), cool AS (
        SELECT wh FROM w GROUP BY wh HAVING COUNT(*) <= 64
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM w a JOIN cool USING (wh) JOIN w b
        ON a.wh = b.wh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 3
      ORDER BY doc_a, doc_b""",

    "dedup_ngram_jaccard" -> s"""
      WITH $OracleJpairsCtes
      SELECT doc_a, doc_b, jaccard FROM jpairs
      ORDER BY doc_a, doc_b""",

    // same all-pairs-within-source pair set (recall 1.0 vs the prefix
    // filter, the dedup_ngram_jaccard argument), then the identical
    // LEVENSHTEIN verifier — DuckDB's unit-cost edit distance matches
    // Spark's integer-for-integer
    "dedup_edit_verify" -> s"""
      WITH $OracleJpairsCtes
      SELECT p.doc_a, p.doc_b, p.jaccard,
             LEVENSHTEIN(da.text, db.text) AS edit_dist,
             ROUND(1.0 - CAST(LEVENSHTEIN(da.text, db.text) AS DOUBLE)
                   / CAST(GREATEST(LENGTH(da.text), LENGTH(db.text)) AS DOUBLE), 6) AS edit_sim
      FROM jpairs p JOIN documents da ON p.doc_a = da.doc_id
                    JOIN documents db ON p.doc_b = db.doc_id
      ORDER BY doc_a, doc_b""",

    // independent all-pairs-within-source formulation (recall 1.0 by
    // construction) — validates the prefix-filtered candidate set
    // Same inverted-index tractability rewrite as OracleJpairsCtes
    // (identical integers — shared DISTINCT grams counted per pair —
    // so identical doubles; containment ≥ 0.8 pairs share ≥1 gram by
    // definition, so no recall assumption and no dependence on the
    // Spark side's prefix filter). The all-pairs LIST_INTERSECT
    // spelling is ~1e10 pairs at sf10; this is Σdf² ≈ 3.9e7 rows.
    "dedup_containment" -> """
      WITH t AS (
        SELECT doc_id, source,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), sh AS (
        SELECT doc_id, source,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, LEN(toks) - 2),
                 i -> ARRAY_TO_STRING(toks[i + 1 : i + 3], ' '))) AS grams
        FROM t WHERE LEN(toks) >= 3
      ), inv AS (
        SELECT doc_id, source, LEN(grams) AS n, UNNEST(grams) AS gram FROM sh
      ), prs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
               ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM inv a JOIN inv b
          ON a.gram = b.gram AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b,
             ROUND(inter / na, 6) AS cont_ab,
             ROUND(inter / nb, 6) AS cont_ba
      FROM prs
      WHERE GREATEST(inter / na, inter / nb) >= 0.8
      ORDER BY doc_a, doc_b""",

    // oracle-text tractability (values unchanged): cast per ROW before
    // the join (not per pair — 2e9 pairs × 2 list casts dominated the
    // sf10 compare) and evaluate the cosine ONCE per pair
    "dedup_embedding_cosine" -> """
      WITH e AS MATERIALIZED (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
      ), p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               LIST_COSINE_SIMILARITY(a.emb, b.emb) AS c
        FROM e a JOIN e b
          ON a.label = b.label AND a.vec_id < b.vec_id
      )
      SELECT vec_a, vec_b, ROUND(c, 6) AS cos
      FROM p WHERE c >= 0.35
      ORDER BY vec_a, vec_b""",

    // shared LSH bucket replication (Similarity.lshBucketCtes) + the
    // same hot-bucket cap, candidate join, and exact cosine filter as
    // the Spark side. Planes replicate the ADAPTIVE pe: the 18-plane
    // bucket masked to its low pe bits IS the pe-plane bucket (bit p =
    // plane p, signs seeded per (t, p, d) — see the query comment),
    // and pe itself is the same integer minimum the Spark side takes.
    "dedup_embedding_lsh" -> s"""
      WITH ${Similarity.lshBucketCtes(16, 18)}, pe AS (
        SELECT COALESCE(MIN(p), 18) AS p
        FROM range(6, 19) r(p)
        WHERE (SELECT COUNT(*) FROM e) <= 64 * (CAST(1 AS BIGINT) << p)
      ), bkt AS (
        SELECT vec_id, t,
               bucket & ((1 << (SELECT p FROM pe)) - 1) AS bucket
        FROM buckets
      ), cool AS (
        SELECT t, bucket FROM bkt GROUP BY t, bucket HAVING COUNT(*) <= 64
      ), capped AS (
        SELECT b.vec_id, b.t, b.bucket FROM bkt b JOIN cool USING (t, bucket)
      ), cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM capped a JOIN capped b ON a.t = b.t AND a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id
      )
      SELECT c.vec_a, c.vec_b,
             ROUND(LIST_COSINE_SIMILARITY(ea.emb, eb.emb), 6) AS cos
      FROM cand c JOIN e ea ON ea.vec_id = c.vec_a JOIN e eb ON eb.vec_id = c.vec_b
      WHERE LIST_COSINE_SIMILARITY(ea.emb, eb.emb) >= 0.35
      ORDER BY vec_a, vec_b"""
  )
}
