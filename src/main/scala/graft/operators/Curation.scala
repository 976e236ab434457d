package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingestion and tokenization (beyond the Hive reference
  * surface; graded first-class per the build brief, alongside
  * [[Dedup]]/[[TextAnalysis]]/[[Similarity]]):
  *
  *  - `text_chunks`       — fixed-size token chunking with overlap (the
  *                          RAG / context-window split);
  *  - `sample_weighted_mix` — deterministic per-domain mixture sampling
  *                          (domain weights as a broadcast dimension);
  *  - `dedup_incremental` — dedup a NEW ingestion batch against the
  *                          existing corpus (exact digest + minhash-LSH
  *                          near-dup), never corpus×corpus;
  *  - `text_pii_scrub`    — regex redaction of emails/IPs/phones with
  *                          per-class counts;
  *  - `pack_sequences`    — balanced packing of documents into
  *                          fixed-token-budget training sequences via a
  *                          DISTRIBUTED global rank (sort +
  *                          `zipWithIndex`), not a single-partition
  *                          window;
  *  - `text_decontaminate` — benchmark/eval-set contamination flagging
  *                          by n-gram overlap (the standard pre-training
  *                          decontamination pass): the eval side's
  *                          shingle set is tiny and broadcast, so the
  *                          corpus is never shuffled.
  *
  * Scale notes are per-query; the common theme is that every shuffle is
  * an equi-join or aggregate on a bounded key (band hash, digest, domain,
  * sequence id) — nothing is corpus-quadratic and nothing funnels the
  * corpus through one partition.
  */
object Curation {

  private type Q = (SparkSession, String) => DataFrame

  private val TempMixSql = """
      WITH s AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY source
      ),
      w AS (
        SELECT source, n_docs, chars,
               CAST(FLOOR(SQRT(CAST(chars AS DOUBLE)) * 1000) AS BIGINT) AS wq
        FROM s
      ),
      t AS (SELECT CAST(SUM(wq) AS BIGINT) AS wtot,
                   CAST(SUM(chars) AS BIGINT) AS ctot FROM w)
      SELECT source, n_docs, chars,
             ROUND(CAST(wq AS DOUBLE) / wtot, 6) AS mix_weight,
             ROUND((CAST(wq AS DOUBLE) / wtot) * ctot / chars, 6) AS epochs
      FROM w CROSS JOIN t
      ORDER BY source"""

  /** Per-source training-data readiness report — the one table a data
    * lead actually asks for before a mix ships, composed from the
    * repo's already-validated kernels in ONE statement: volume (docs/
    * chars/whitespace tokens), exact-duplicate rate (md5 digests),
    * language purity (top-language share), quality keep-rate (the
    * text_quality gate), and the α=0.5 temperature mix weight
    * (curation_temperature_mix's quantized spelling). Two hash
    * aggregates on source(+lang) and a tiny weight join — 20 output
    * rows at any corpus size, every count exact, every rate one
    * ROUNDed division. Dialect split on the token/digest spellings
    * only. */
  private def trainReportSql(spark: Boolean): String = {
    val toks =
      if (spark) "FILTER(SPLIT(LOWER(text), ' '), w -> w <> '')"
      else "LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')"
    val size = if (spark) "SIZE" else "LEN"
    val dist = if (spark) "ARRAY_DISTINCT" else "LIST_DISTINCT"
    val md5b = if (spark) "MD5(CAST(text AS BINARY))" else "MD5(text)"
    s"""
      WITH d AS (
        SELECT source, lang, n_chars, $md5b AS dg, $toks AS toks FROM documents
      ),
      base AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM($size(toks)) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT dg) AS BIGINT) AS n_uniq_docs,
               CAST(SUM(CASE WHEN $size(toks) >= 10
                          AND $size($dist(toks)) / $size(toks) >= 0.2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        FROM d GROUP BY source
      ),
      langs AS (
        SELECT source, CAST(MAX(cnt) AS BIGINT) AS top_lang_n
        FROM (SELECT source, lang, COUNT(*) AS cnt
              FROM d GROUP BY source, lang) x
        GROUP BY source
      ),
      w AS (SELECT source,
                   CAST(FLOOR(SQRT(CAST(sum_chars AS DOUBLE)) * 1000) AS BIGINT) AS wq
            FROM base),
      t AS (SELECT CAST(SUM(wq) AS BIGINT) AS wtot FROM w)
      SELECT b.source, b.n_docs, b.sum_chars, b.n_tokens,
             ROUND(1.0E0 - CAST(b.n_uniq_docs AS DOUBLE) / b.n_docs, 6) AS dup_rate,
             ROUND(CAST(l.top_lang_n AS DOUBLE) / b.n_docs, 6) AS lang_purity,
             ROUND(CAST(b.n_keep AS DOUBLE) / b.n_docs, 6) AS quality_keep_rate,
             ROUND(CAST(w.wq AS DOUBLE) / t.wtot, 6) AS mix_weight
      FROM base b JOIN langs l ON b.source = l.source
      JOIN w ON w.source = b.source CROSS JOIN t
      ORDER BY b.source"""
  }

  /** PSI drift monitoring (population stability index — the standard
    * ML-monitoring distribution-shift score): each source's document-
    * length distribution against the corpus-wide baseline over fixed
    * 100-char buckets, Laplace-smoothed so empty buckets stay defined.
    * PSI < 0.1 ≈ stable, 0.1–0.25 ≈ moderate shift, > 0.25 ≈ drifted.
    * 100 TB shape: two hash aggregates on (source, bucket)/bucket +
    * one tiny grid join; per-term LN is absorbed at a 9-dp ROUND and
    * the per-source sum goes through an exact DECIMAL(18,9) so
    * reduction order cannot leak (the text_perplexity discipline).
    * One SQL text serves both engines. */
  private val DriftPsiSql = """
      WITH b AS (
        SELECT source, LEAST(9, CAST(FLOOR(n_chars / 100.0) AS INT)) AS bucket
        FROM documents
      ), c AS (
        SELECT source, bucket, COUNT(*) AS n FROM b GROUP BY source, bucket
      ), t AS (SELECT source AS ts, SUM(n) AS tot FROM c GROUP BY source),
      base AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket),
      baset AS (SELECT SUM(n) AS tot FROM base),
      grid AS (
        SELECT t.ts AS source, base.bucket AS bucket,
               COALESCE(c.n, 0) AS na, base.n AS nb, t.tot AS ta, baset.tot AS tb
        FROM t CROSS JOIN base CROSS JOIN baset
        LEFT JOIN c ON c.source = t.ts AND c.bucket = base.bucket
      ), terms AS (
        SELECT source, bucket,
               (CAST(na + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE)) AS pa,
               (CAST(nb + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE)) AS pb
        FROM grid
      )
      SELECT source,
             COUNT(*) AS n_buckets,
             ROUND(CAST(SUM(CAST(ROUND((pa - pb) * LN(pa / pb), 9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS psi
      FROM terms
      GROUP BY source
      ORDER BY source"""

  /** See pipeline_quality_classifier's comment; dialect split on the
    * tokenize/stopword spellings only, the IRLS chain is shared SQL. */
  private def qualityClassifierSql(spark: Boolean): String = {
    val f =
      if (spark) """
        SELECT doc_id,
               CAST(FLOOR(100 * STOPWORD_RATIO(toks, ARRAY('the','a','of','and','to','in','is'))) AS BIGINT) AS x,
               CASE WHEN SIZE(ARRAY_DISTINCT(toks)) / SIZE(toks) >= 0.75
                    THEN 1 ELSE 0 END AS y
        FROM (SELECT doc_id, TOKENIZE(text) AS toks FROM documents) t
        WHERE SIZE(toks) > 0"""
      else """
        SELECT doc_id,
               CAST(FLOOR(100 * (LEN(LIST_FILTER(toks, w -> LIST_CONTAINS(['the','a','of','and','to','in','is'], w))) / LEN(toks))) AS BIGINT) AS x,
               CASE WHEN LEN(LIST_DISTINCT(toks)) / LEN(toks) >= 0.75
                    THEN 1 ELSE 0 END AS y
        FROM (SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
              FROM documents) t
        WHERE LEN(toks) > 0"""
    s"""
      WITH f AS ($f),
      cells AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM f GROUP BY x
      ),
      b0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1)
      ${Statistics.irlsIter(1)}${Statistics.irlsIter(2)}
      SELECT c.x, c.n, c.sy,
             ROUND(1.0 / (1.0 + EXP(-(b.b0 + b.b1 * c.x))), 9) AS p_keep,
             ROUND(b.b0, 6) AS b0, ROUND(b.b1, 6) AS b1
      FROM cells c CROSS JOIN b2 b
      ORDER BY c.x"""
  }

  /** Curriculum ordering (Bengio et al., ICML'09) with source
    * interleaving — the data-ORDER op for training: rank each source's
    * documents easy→hard (difficulty proxy: char length, integer), then
    * emit the global order (rank, source) so consecutive positions
    * rotate through sources at matched difficulty (the anti-"one giant
    * source block" property every mixed-corpus schedule wants). The
    * head-of-curriculum cut happens via ORDER BY + LIMIT — planned as
    * distributed TakeOrderedAndProject — BEFORE the position window, so
    * the unpartitioned ROW_NUMBER only ever sees the 50-row head. At
    * 100 TB: per-source rank windows (source-partitioned), one top-k
    * cut; the full ordered corpus would be written out by the same
    * sort-on-(rank, source) as a distributed write, no single point. */
  private val CurriculumSql = """
      WITH ranked AS (
        SELECT doc_id, source, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY n_chars, doc_id) AS BIGINT) AS rank_in_source
        FROM documents
      ),
      head AS (
        SELECT doc_id, source, n_chars, rank_in_source
        FROM ranked
        ORDER BY rank_in_source, source, doc_id
        LIMIT 50
      )
      SELECT CAST(ROW_NUMBER() OVER
               (ORDER BY rank_in_source, source, doc_id) AS BIGINT) AS position,
             source, doc_id, rank_in_source, n_chars
      FROM head
      ORDER BY position"""

  /** Token-budget apportionment + fill — the mixing step that turns
    * "train on 20k tokens with proportional source representation"
    * into an exact plan: per-source quotas by the LARGEST-REMAINDER
    * method (Hamilton's apportionment — pure integer: floor shares,
    * then the Σremainder largest fractional parts get +1, so quotas
    * sum to the budget EXACTLY), then each source fills greedily by
    * quality rank (word count desc) under its quota via a running-sum
    * window cut. Everything integer; the apportionment windows run on
    * the 20-row source dimension, the fill window is
    * source-partitioned. */
  private def quotaFillSql(spark: Boolean): String = {
    val dv = if (spark) "DIV" else "//"
    s"""
      WITH d AS (
        SELECT source, doc_id,
               CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                 AS BIGINT) AS wc
        FROM documents
      ),
      src AS (
        SELECT source, CAST(SUM(wc) AS BIGINT) AS n_s,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM d GROUP BY source
      ),
      tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM src),
      base AS (
        SELECT source, n_s, n_docs,
               (20000 * n_s) $dv n AS q0,
               (20000 * n_s) % n AS rem
        FROM src CROSS JOIN tot
      ),
      rk AS (
        SELECT source, n_s, n_docs, q0, rem,
               CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rr
        FROM base
      ),
      short AS (SELECT 20000 - CAST(SUM(q0) AS BIGINT) AS k FROM base),
      quota AS (
        SELECT source, n_s, n_docs,
               q0 + CASE WHEN rr <= k THEN 1 ELSE 0 END AS quota
        FROM rk CROSS JOIN short
      ),
      fill AS (
        SELECT source, doc_id, wc,
               CAST(SUM(wc) OVER (PARTITION BY source
                 ORDER BY wc DESC, doc_id ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS cum
        FROM d
      ),
      taken AS (
        SELECT f.source,
               CAST(COUNT(*) AS BIGINT) AS docs_taken,
               CAST(SUM(f.wc) AS BIGINT) AS tokens_taken
        FROM fill f JOIN quota q ON f.source = q.source
        WHERE f.cum <= q.quota
        GROUP BY f.source
      )
      SELECT q.source, q.n_docs, q.n_s AS total_tokens, q.quota,
             COALESCE(t.docs_taken, 0) AS docs_taken,
             COALESCE(t.tokens_taken, 0) AS tokens_taken
      FROM quota q LEFT JOIN taken t ON q.source = t.source
      ORDER BY q.source"""
  }

  // the queries Spark and DuckDB run as one statement (QueryModule.shared)
  private val shared = QueryModule.shared(Map(
    "curation_curriculum" -> CurriculumSql,
    "text_drift_psi" -> DriftPsiSql,

    // Temperature-scaled mixture weights (α=0.5) — the multi-corpus
    // sampling recipe (Pile/XLM-R style): source s gets weight
    // n_s^α / Σ n_t^α, flattening the natural size distribution so
    // small sources are upsampled; `epochs` is the repeat factor the
    // sampler applies to each source. One aggregate to a 20-row
    // dimension — at 100 TB this query prices the mix from table
    // stats; the weights feed sample_weighted_mix's thresholds.
    // Determinism: per-source √chars quantizes to an exact 1e-3
    // integer BEFORE the normalizing sum (double Σ is order-
    // dependent; integer Σ is not), then each weight is one IEEE
    // division chain ROUNDed at the boundary.
    "curation_temperature_mix" -> TempMixSql
  ))

  val queries: Map[String, Q] = shared.queries ++ Map(
    "curation_quota_fill" -> Tables.sql(quotaFillSql(spark = true)),
    // Fixed-size token chunking with overlap: 64-token chunks on a
    // 48-token stride (16-token overlap), the standard context-window
    // split for RAG indexing / training-sequence preparation. Pure
    // per-row flatMap (explode over a per-doc start sequence) — no
    // shuffle at all until the output sort, embarrassingly parallel at
    // 100 TB. A trailing chunk may be shorter than the overlap; start
    // positions are the deterministic arithmetic sequence 0,48,96,…<n.
    "text_chunks" -> Tables.sql("""
      WITH t AS (
        SELECT doc_id, TOKENIZE(text) AS toks
        FROM (SELECT /*+ REPARTITION(32) */ doc_id, text FROM documents)
      ), c AS (
        SELECT doc_id, toks, s
        FROM t LATERAL VIEW EXPLODE(SEQUENCE(0, SIZE(toks) - 1, 48)) ch AS s
        WHERE SIZE(toks) > 0
      )
      SELECT doc_id,
             s DIV 48 AS chunk_id,
             s AS chunk_start,
             LEAST(64, SIZE(toks) - s) AS n_tok_chunk,
             ARRAY_JOIN(SLICE(toks, s + 1, LEAST(64, SIZE(toks) - s)), ' ') AS chunk_text
      FROM c
      ORDER BY doc_id, chunk_start"""),
    "pipeline_train_report" -> Tables.sql(trainReportSql(spark = true)),

    // Deterministic domain-mixture sampling: each language stratum keeps
    // a configured fraction of its documents, selected by the same
    // engine-independent multiplicative hash as sample_stratified
    // (Knuth (id·2654435761) mod 2^32 — plain integer arithmetic, so the
    // DuckDB oracle computes the identical keep set). Thresholds are the
    // exact integer floor of weight·2^32. The weights table is the
    // canonical tiny dimension — Spark broadcasts it, so at 100 TB this
    // is a map-side filter with zero shuffle; reweighting a 100 TB mix
    // is a metadata change, not a data move.
    "sample_weighted_mix" -> Tables.sql("""
      WITH w AS (
        SELECT * FROM VALUES
          ('en', 4294967296L), ('de', 2147483648L), ('fr', 2147483648L),
          ('es', 1073741824L), ('zh', 429496729L) AS w(wlang, thresh)
      )
      SELECT d.doc_id, d.lang
      FROM documents d JOIN w ON d.lang = w.wlang
      WHERE ((d.doc_id % 2147483648L) * 2654435761L) % 4294967296L < w.thresh
      ORDER BY d.doc_id"""),

    // Incremental dedup: a new ingestion batch (here the deterministic
    // 20% slice doc_id % 5 = 4) deduped AGAINST the existing corpus —
    // the every-day production shape, where re-running corpus×corpus
    // per batch would be ruinous. Stage 1: exact content-digest
    // anti-lookup (digest equi-join, shuffles 16-byte digests). Stage 2:
    // minhash-LSH band join restricted to new×old (same 64-perm/16-band
    // machinery as dedup_minhash_lsh) + exact-jaccard verification.
    // At 100 TB the old side's signatures/digests are a precomputed
    // index the batch joins against — both stages shuffle the small
    // batch plus index keys only, never re-pair the corpus.
    // Oracle validity: precision is 1.0 (exact jaccard verify); the true
    // cross pairs are a subset of the full ≥0.8 pair set, whose LSH
    // recall PipelineSpec pins at exactly 1.0 on this testdata — so the
    // exact new×old pair set is a valid oracle, same argument as
    // dedup_minhash_lsh.
    "dedup_incremental" -> Tables.sql(s"""
      WITH base AS (
        SELECT doc_id, text, MD5(CAST(text AS BINARY)) AS digest,
               (doc_id % 5 = 4) AS is_new
        FROM (SELECT /*+ REPARTITION(32) */ doc_id, text FROM documents)
      ), exact AS (
        SELECT DISTINCT n.doc_id
        FROM base n JOIN base o ON n.digest = o.digest
        WHERE n.is_new AND NOT o.is_new
      ), ${Dedup.minhashBandCtes(carry = "is_new", from = "base")}, cand AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bandhash = b.bandhash
        WHERE a.is_new AND NOT b.is_new
      ), near AS (
        SELECT DISTINCT new_id AS doc_id
        FROM cand
        JOIN sh sa ON cand.new_id = sa.doc_id
        JOIN sh sb ON cand.old_id = sb.doc_id
        WHERE JACCARD_SIM(sa.grams, sb.grams) >= 0.8
      )
      SELECT b.doc_id,
             CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                  WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                  ELSE 'kept' END AS status
      FROM base b
      LEFT JOIN exact e ON b.doc_id = e.doc_id
      LEFT JOIN near nr ON b.doc_id = nr.doc_id
      WHERE b.is_new
      ORDER BY b.doc_id"""),

    // PII redaction: emails, IPv4 addresses, and phone numbers replaced
    // by class tokens, with per-class match counts for audit. The corpus
    // is synthetic word-soup, so each row is first augmented with
    // deterministic PII derived from doc_id — the scrub then has real
    // work whose counts and residue the oracle checks value-for-value.
    // Patterns avoid constructs where Java-regex and RE2 semantics could
    // diverge (no backrefs, no lookaround). Per-row scalar work inside
    // whole-stage codegen; embarrassingly parallel at 100 TB.
    "text_pii_scrub" -> Tables.sql("""
      WITH aug AS (
        SELECT doc_id,
               CONCAT(SUBSTR(text, 1, 40), ' contact u', CAST(doc_id AS STRING),
                      '@mail.example.com or 10.0.',
                      CAST(doc_id % 256 AS STRING), '.7 call +1 555 010 ',
                      LPAD(CAST(doc_id % 10000 AS STRING), 4, '0'), ' end') AS msg
        FROM documents
      )
      SELECT doc_id,
             SIZE(REGEXP_EXTRACT_ALL(msg, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', 0)) AS n_email,
             SIZE(REGEXP_EXTRACT_ALL(msg, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', 0)) AS n_ip,
             SIZE(REGEXP_EXTRACT_ALL(msg, '\\+[0-9][0-9 ]{7,}[0-9]', 0)) AS n_phone,
             REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(msg,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>'),
               '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>'),
               '\\+[0-9][0-9 ]{7,}[0-9]', '<PHONE>') AS scrubbed
      FROM aug
      ORDER BY doc_id"""),

    // Benchmark decontamination: flag corpus documents sharing any
    // 5-token shingle with a held-out benchmark/eval slice (here the
    // deterministic doc_id % 97 = 0 subset standing in for an eval set).
    // This is the standard pre-training decontamination pass (13-gram
    // overlap in GPT-3/PaLM practice; 5 here because the synthetic docs
    // are short). Scale shape: the benchmark side is small by nature
    // (eval sets are MBs, not TBs), so its distinct-gram set is hinted
    // BROADCAST and the corpus-side probe is a map-side semi-join — the
    // only corpus shuffles the OPERATOR adds are the per-doc COUNT
    // aggregate of the few matching grams and the final left join.
    // Note on the `sh` CTE: Catalyst inlines it into BOTH the bench and
    // corpus branches, so the documents parquet is READ twice — but the
    // doc_id % 97 predicates push below the explode and the SHINGLE_SET
    // projection, so each branch shingles only its own disjoint slice;
    // the per-doc shingling (the expensive part) happens once per doc
    // overall. Two pruned column scans beat materializing a corpus-wide
    // gram table at 100 TB, so the inlining is left as-is deliberately.
    // (The REPARTITION(32) hint is a testdata artifact shared by the
    // text_* queries — documents.parquet is one file locally, so the
    // hint buys local[32] parallelism; a real corpus arrives in
    // thousands of splits and the hint would be dropped.) n_shared
    // counts DISTINCT shared shingles (both sides are set-valued by
    // construction).
    // LEARNED quality scorer — distributed ML training living inside
    // the curation pipeline: the stopword-ratio feature discretizes to
    // integer ticks (FLOOR(100·r) — identical IEEE doubles in both
    // engines, no ROUND-tie exposure), ONE hash aggregate reduces the
    // corpus to (x, n, Σy) cells for the high-TTR label (TTR ≥ 0.75 —
    // ~12% base rate, negatively correlated with x on this corpus), and
    // two unrolled IRLS/Newton iterations (Statistics.irlsIter — the
    // stats_logistic_irls machinery verbatim) fit P(high-TTR | x).
    // Output: the fitted per-cell curve (n, positives, 1e-9-grid
    // sigmoid) + coefficients — what a pipeline thresholds to turn the
    // fit into a filter. At 100 TB: one map-side-combined shuffle for
    // the cells, then cell-scale Newton algebra — training cost is
    // independent of corpus size given the discrete feature, and
    // applying the scorer is a narrow map (b0 + b1·x per row).
    "pipeline_quality_classifier" -> Tables.sql(qualityClassifierSql(spark = true)),

    // FUZZY decontamination — the near-duplicate upgrade of
    // text_decontaminate (verbatim 5-gram overlap misses lightly-edited
    // eval leakage): MinHash 16×4 banding between the corpus and the
    // eval slice (doc_id % 7 = 0), exact-Jaccard verification at 0.9
    // (banding recall ≈ 1−4e−8 there), per-corpus-doc match report.
    // The SCALE story differs from dedup_minhash_lsh's self-join: the
    // eval side is tiny and BROADCAST, so screening a 100 TB corpus
    // against a benchmark suite is one narrow band projection + a
    // map-side join — the corpus never shuffles (gated in
    // PlanQualitySpec). Oracle: the exact all-pairs inverted-index
    // formulation restricted to (corpus × eval), the dedup_minhash_lsh
    // precedent.
    "text_decontaminate_fuzzy" -> Tables.sql(s"""
      WITH ${Dedup.minhashBandCtes()}, cand AS (
        SELECT /*+ BROADCAST(e) */ DISTINCT
               c.doc_id AS corp_id, e.doc_id AS eval_id
        FROM bands c JOIN bands e
          ON c.band = e.band AND c.bandhash = e.bandhash
        WHERE c.doc_id % 7 <> 0 AND e.doc_id % 7 = 0
      ), ver AS (
        SELECT corp_id, eval_id, JACCARD_SIM(sc.grams, se.grams) AS j
        FROM cand
        JOIN sh sc ON corp_id = sc.doc_id
        JOIN sh se ON eval_id = se.doc_id
      )
      SELECT corp_id AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
             ROUND(MAX(j), 6) AS max_jaccard
      FROM ver WHERE j >= 0.9
      GROUP BY corp_id
      ORDER BY doc_id"""),

    "text_decontaminate" -> Tables.sql("""
      WITH sh AS (
        SELECT doc_id, SHINGLE_SET(text, 5) AS grams
        FROM (SELECT /*+ REPARTITION(32) */ doc_id, text FROM documents)
      ), bench AS (
        SELECT DISTINCT gram
        FROM sh LATERAL VIEW EXPLODE(grams) g AS gram
        WHERE doc_id % 97 = 0
      ), corpus AS (
        SELECT doc_id, gram
        FROM sh LATERAL VIEW EXPLODE(grams) g AS gram
        WHERE doc_id % 97 <> 0
      ), hits AS (
        SELECT /*+ BROADCAST(b) */ c.doc_id, COUNT(*) AS n_shared
        FROM corpus c JOIN bench b ON c.gram = b.gram
        GROUP BY c.doc_id
      )
      SELECT d.doc_id, COALESCE(h.n_shared, 0L) AS n_shared,
             CASE WHEN h.doc_id IS NOT NULL THEN 'contaminated'
                  ELSE 'clean' END AS status
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 97 <> 0
      ORDER BY d.doc_id"""),

    // Balanced sequence packing: documents are packed into
    // ceil(total_tokens / 2048) training sequences by round-robin over
    // the length-descending order — the classic greedy balanced packer
    // (each sequence gets ⌈N/bins⌉±1 docs and near-equal token mass).
    // The global rank is computed the DISTRIBUTED way: a range-
    // partitioned sort + RDD zipWithIndex (per-partition offsets from
    // one count job) — NOT `ROW_NUMBER() OVER (ORDER BY …)`, which
    // Spark plans as a single-partition window and which would funnel
    // 100 TB of metadata through one task. The only other moves are a
    // 1-row total aggregate and the final groupBy on seq_id.
    "pack_sequences" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      import spark.implicits._
      val docs = spark.sql(Tables.scaleHints(spark, """
        SELECT doc_id, n_tok FROM (
          SELECT doc_id, SIZE(TOKENIZE(text)) AS n_tok
          FROM (SELECT /*+ REPARTITION(32) */ doc_id, text FROM documents))
        WHERE n_tok > 0"""))
      val total = docs.agg(sum(col("n_tok"))).head.getLong(0)
      val bins = math.max(1L, math.ceil(total / 2048.0).toLong)
      val ranked = docs.orderBy(col("n_tok").desc, col("doc_id"))
        .rdd.zipWithIndex
        .map { case (r, i) => (r.getLong(0), r.getInt(1), i) }
        .toDF("doc_id", "n_tok", "idx")
      ranked
        .groupBy((col("idx") % bins).as("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tok")).cast("long").as("seq_tokens"))
        .orderBy("seq_id")
    }),

    // Balanced training-shard assignment by the folded sorted-modulo
    // rule: global rank by size desc (the DISTRIBUTED sort +
    // zipWithIndex rank — pack_sequences' rule: never a single-
    // partition window), shard = rank % 8, so each shard receives one
    // doc from every consecutive size-8 band and token totals stay
    // within a band-width of each other. Per-shard imbalance vs the
    // perfect 1/8 share in exact micro units.
    "pack_shards" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      import spark.implicits._
      val docs = spark.sql(Tables.scaleHints(spark, """
        SELECT doc_id, n_tok FROM (
          SELECT doc_id, SIZE(TOKENIZE(text)) AS n_tok
          FROM (SELECT /*+ REPARTITION(32) */ doc_id, text FROM documents))
        WHERE n_tok > 0"""))
      val ranked = docs.orderBy(col("n_tok").desc, col("doc_id"))
        .rdd.zipWithIndex
        .map { case (r, i) => (r.getLong(0), r.getInt(1), i) }
        .toDF("doc_id", "n_tok", "idx")
      val shards = ranked
        .groupBy((col("idx") % 8).cast("bigint").as("shard"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("n_tok")).cast("long").as("tokens"))
      val total = docs.agg(sum(col("n_tok"))).head.getLong(0)
      // integer DIV, not `/` (which is double division on longs)
      shards
        .withColumn("imbalance_micro",
          expr(s"CAST(tokens * 8000000 DIV ${total}L - 1000000 AS BIGINT)"))
        .orderBy(col("shard"))
    })
  )

  val oracle: Map[String, String] = shared.oracle ++ Map(
    "pack_shards" -> """
      WITH t AS (
        SELECT doc_id,
               LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> ''))
                 AS n_tok
        FROM documents
      ), r AS (
        SELECT doc_id, n_tok,
               ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS idx
        FROM t WHERE n_tok > 0
      ), s AS (
        SELECT CAST(idx % 8 AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS tokens
        FROM r GROUP BY idx % 8
      ), tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t FROM s)
      SELECT shard, n_docs, tokens,
             CAST(tokens * 8000000 // t - 1000000 AS BIGINT) AS imbalance_micro
      FROM s CROSS JOIN tot
      ORDER BY shard""",
    "curation_quota_fill" -> quotaFillSql(spark = false),
    "pipeline_train_report" -> trainReportSql(spark = false),
    "text_chunks" -> """
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), c AS (
        SELECT doc_id, toks, CAST(u.s AS BIGINT) AS s
        FROM t, UNNEST(range(0, LEN(toks), 48)) AS u(s)
        WHERE LEN(toks) > 0
      )
      SELECT doc_id,
             s // 48 AS chunk_id,
             s AS chunk_start,
             LEAST(64, LEN(toks) - s) AS n_tok_chunk,
             ARRAY_TO_STRING(toks[s + 1 : s + LEAST(64, LEN(toks) - s)], ' ') AS chunk_text
      FROM c
      ORDER BY doc_id, chunk_start""",

    "sample_weighted_mix" -> """
      SELECT d.doc_id, d.lang
      FROM documents d
      JOIN (VALUES ('en', 4294967296), ('de', 2147483648), ('fr', 2147483648),
                   ('es', 1073741824), ('zh', 429496729)) w(wlang, thresh)
        ON d.lang = w.wlang
      WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296 < w.thresh
      ORDER BY d.doc_id""",

    // exact new×old formulation: digest equi-join + inverted-index
    // jaccard (same gram spelling as the validated dedup oracles)
    "dedup_incremental" -> """
      WITH base AS (
        SELECT doc_id, text, MD5(text) AS digest, (doc_id % 5 = 4) AS is_new
        FROM documents
      ), exact AS (
        SELECT DISTINCT n.doc_id
        FROM base n JOIN base o ON n.digest = o.digest
        WHERE n.is_new AND NOT o.is_new
      ), t AS (
        SELECT doc_id, is_new,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM base
      ), sh AS (
        SELECT doc_id, is_new,
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, LEN(toks) - 2),
                 i -> ARRAY_TO_STRING(toks[i + 1 : i + 3], ' '))) AS grams
        FROM t WHERE LEN(toks) >= 3
      ), inv AS (
        SELECT doc_id, is_new, LEN(grams) AS n, UNNEST(grams) AS gram FROM sh
      ), prs AS (
        SELECT a.doc_id AS new_id, b.doc_id AS old_id, COUNT(*) AS n_int,
               ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM inv a JOIN inv b ON a.gram = b.gram
        WHERE a.is_new AND NOT b.is_new
        GROUP BY 1, 2
      ), near AS (
        SELECT DISTINCT new_id AS doc_id
        FROM prs WHERE n_int / (na + nb - n_int) >= 0.8
      )
      SELECT b.doc_id,
             CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                  WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                  ELSE 'kept' END AS status
      FROM base b
      LEFT JOIN exact e ON b.doc_id = e.doc_id
      LEFT JOIN near nr ON b.doc_id = nr.doc_id
      WHERE b.is_new
      ORDER BY b.doc_id""",

    "text_pii_scrub" -> """
      WITH aug AS (
        SELECT doc_id,
               CONCAT(SUBSTR(text, 1, 40), ' contact u', CAST(doc_id AS STRING),
                      '@mail.example.com or 10.0.',
                      CAST(doc_id % 256 AS STRING), '.7 call +1 555 010 ',
                      LPAD(CAST(doc_id % 10000 AS STRING), 4, '0'), ' end') AS msg
        FROM documents
      )
      SELECT doc_id,
             LEN(REGEXP_EXTRACT_ALL(msg, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
             LEN(REGEXP_EXTRACT_ALL(msg, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
             LEN(REGEXP_EXTRACT_ALL(msg, '\+[0-9][0-9 ]{7,}[0-9]')) AS n_phone,
             REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(msg,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
               '\+[0-9][0-9 ]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
      FROM aug
      ORDER BY doc_id""",

    // 5-gram spelling identical to the validated dedup oracles
    "pipeline_quality_classifier" -> qualityClassifierSql(spark = false),

    // exact (corpus × eval) inverted-index formulation; same gram/
    // jaccard spellings as the validated dedup oracles
    "text_decontaminate_fuzzy" -> """
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), sh AS (
        SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, LEN(toks) - 2),
                 i -> ARRAY_TO_STRING(toks[i + 1 : i + 3], ' '))) AS grams
        FROM t WHERE LEN(toks) >= 3
      ), inv AS (
        SELECT doc_id, LEN(grams) AS n, UNNEST(grams) AS gram FROM sh
      ), prs AS (
        SELECT a.doc_id AS corp_id, b.doc_id AS eval_id, COUNT(*) AS n_int,
               ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM inv a JOIN inv b ON a.gram = b.gram
        WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
        GROUP BY 1, 2
      ), ver AS (
        SELECT corp_id, eval_id, n_int / (na + nb - n_int) AS j
        FROM prs
      )
      SELECT corp_id AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
             ROUND(MAX(j), 6) AS max_jaccard
      FROM ver WHERE j >= 0.9
      GROUP BY corp_id
      ORDER BY doc_id""",

    "text_decontaminate" -> """
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), sh AS (
        SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, LEN(toks) - 4),
                 i -> ARRAY_TO_STRING(toks[i + 1 : i + 5], ' '))) AS grams
        FROM t WHERE LEN(toks) >= 5
      ), bench AS (
        SELECT DISTINCT UNNEST(grams) AS gram FROM sh WHERE doc_id % 97 = 0
      ), corpus AS (
        SELECT doc_id, UNNEST(grams) AS gram FROM sh WHERE doc_id % 97 <> 0
      ), hits AS (
        SELECT c.doc_id, COUNT(*) AS n_shared
        FROM corpus c JOIN bench b ON c.gram = b.gram
        GROUP BY c.doc_id
      )
      SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared,
             CASE WHEN h.doc_id IS NOT NULL THEN 'contaminated'
                  ELSE 'clean' END AS status
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 97 <> 0
      ORDER BY d.doc_id""",

    "pack_sequences" -> """
      WITH t AS (
        SELECT doc_id,
               LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')) AS n_tok
        FROM documents
      ), tt AS (
        SELECT * FROM t WHERE n_tok > 0
      ), nb AS (
        SELECT GREATEST(1, CAST(CEIL(SUM(n_tok) / 2048.0) AS BIGINT)) AS bins FROM tt
      ), r AS (
        SELECT doc_id, n_tok,
               ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS idx
        FROM tt
      )
      SELECT idx % bins AS seq_id, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
      FROM r, nb
      GROUP BY 1
      ORDER BY seq_id"""
  )
}
