package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for the training-data pipeline: language ID
  * (stopword-ratio heuristic), quality scoring, repetition filtering
  * (the Gopher rules), token counting (whitespace + BPE-ish regex),
  * n-gram frequency (Hive `ngrams` UDAF re-expressed as a
  * bounded-buffer Aggregator), and winnowing document fingerprints.
  *
  * Everything is per-row scalar work inside whole-stage codegen except
  * ngrams_topk (a mergeable partial aggregate) and text_repetition's
  * fine-grained (doc, token) aggregate — all embarrassingly parallel at
  * 100 TB, no shuffle except the final top-k merge.
  */
object TextAnalysis {

  private type Q = (SparkSession, String) => DataFrame

  // TOKENIZE is the one-pass custom expression — equivalent to
  // FILTER(SPLIT(LOWER(text),' '), w -> w <> '') which costs ~10× more
  // (three intermediate arrays per row)
  private val TokCte = """
    WITH t AS (
      SELECT doc_id, text, lang, n_chars, TOKENIZE(text) AS toks
      FROM documents
    )"""

  /** BPE-style pair-merge learning (Sennrich et al., ACL'16, over word
    * tokens): 3 iterations of (count adjacent pairs → take the most
    * frequent non-self pair → greedily merge its occurrences), the
    * vocabulary-learning primitive behind every subword tokenizer.
    * Excluding self-pairs (a = b) makes adjacent matches provably
    * non-overlapping — a match at i and i+1 would need
    * toks[i+1] = pb = pa — so the greedy merge is a position-local
    * flatten, not a sequential fold, and both engines rebuild the
    * token stream with the SAME per-position CASE. Counts are integer
    * exact, the (freq DESC, a, b) top-1 is total, and the per-doc
    * rebuild is narrow — each iteration's only shuffle is the pair
    * count, which at 100 TB is (pair, count) rows after map-side
    * partials, never the corpus. */
  private object BpeSql {
    private val size = "LEN(toks)"
    private def el(i: String) = s"toks[$i]"
    private val tok = "LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')"
    private val pairIdx = ", UNNEST(RANGE(1, LEN(toks))) AS e(i)"
    private val rebuildSeq = "RANGE(1, LEN(toks) + 1)"
    private val xform = "LIST_TRANSFORM"
    private val emptyArr = "CAST([] AS VARCHAR[])"
    private def arr1(e: String) = s"[$e]"
    private def iter(k: Int) = s"""
      , p$k AS (
        SELECT ${el("i")} AS a, ${el("i + 1")} AS b
        FROM t${k - 1} $pairIdx
        WHERE $size >= 2
      ), m$k AS (
        SELECT a AS pa, b AS pb, COUNT(*) AS freq
        FROM p$k WHERE a <> b
        GROUP BY a, b
        ORDER BY freq DESC, a, b
        LIMIT 1
      ), t$k AS (
        SELECT doc_id, FLATTEN($xform($rebuildSeq, i -> CASE
            WHEN i > 1 AND ${el("i - 1")} = pa AND ${el("i")} = pb THEN $emptyArr
            WHEN i < $size AND ${el("i")} = pa AND ${el("i + 1")} = pb
              THEN ${arr1("CONCAT(pa, '_', pb)")}
            ELSE ${arr1(el("i"))} END)) AS toks
        FROM t${k - 1} CROSS JOIN m$k
      )"""
    private def out(k: Int) = s"""
      SELECT $k AS merge_rank, pa AS pair_a, pb AS pair_b, freq,
             (SELECT CAST(SUM(${size}) AS BIGINT) FROM t$k) AS tokens_after
      FROM m$k"""
    private val ctes = s"""
      WITH t0 AS (
        SELECT doc_id, toks
        FROM (SELECT doc_id, $tok AS toks FROM documents) x
        WHERE $size >= 1
      )${iter(1)}${iter(2)}${iter(3)}"""
    val merges: String = s"""$ctes
      SELECT CAST(merge_rank AS INT) AS merge_rank, pair_a, pair_b, freq, tokens_after
      FROM (${out(1)} UNION ALL ${out(2)} UNION ALL ${out(3)}) u
      ORDER BY merge_rank"""
    // encode = the trained merge table APPLIED: per-doc token counts
    // before/after, top savers first (exact integers end to end)
    val encode: String = s"""$ctes
      SELECT t0.doc_id,
             CAST(LEN(t0.toks) AS BIGINT) AS n_tok_base,
             CAST(LEN(t3.toks) AS BIGINT) AS n_tok_enc,
             CAST(LEN(t0.toks) - LEN(t3.toks) AS BIGINT) AS n_saved
      FROM t0 JOIN t3 USING (doc_id)
      ORDER BY n_saved DESC, doc_id
      LIMIT 20"""
  }

  /** Positional phrase search ("table hash") over a positional
    * inverted index: postings are (doc_id, pos, term); a 2-term phrase
    * is one self-equi-join on (doc_id, adjacent pos) between the two
    * term filters. At 100 TB the term predicates push into the
    * postings scan (each side reads ONE term's postings, the classic
    * inverted-index access path) and the adjacency join shuffles
    * (doc_id, pos) id pairs only. Counts/positions are exact integers.
    * Dialect split on the tokenize/explode spelling only: Spark
    * posexplode is 0-based, DuckDB generate_subscripts is 1-based —
    * normalized to 1-based here. */
  private def phraseSql(spark: Boolean): String = {
    val postings =
      if (spark) """
      t AS (SELECT doc_id, FILTER(SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
            FROM documents),
      p AS (SELECT doc_id, pos + 1 AS pos, w
            FROM t LATERAL VIEW POSEXPLODE(toks) x AS pos, w)"""
      else """
      t AS (SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
            FROM documents),
      p AS (SELECT doc_id, GENERATE_SUBSCRIPTS(toks, 1) AS pos, UNNEST(toks) AS w
            FROM t)"""
    s"""
      WITH $postings,
      m AS (SELECT a.doc_id, a.pos
            FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            WHERE a.w = 'table' AND b.w = 'hash')
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
             CAST(MIN(pos) AS BIGINT) AS first_pos
      FROM m GROUP BY doc_id
      ORDER BY n_matches DESC, doc_id
      LIMIT 20"""
  }

  /** Skip-gram window co-occurrence (the word2vec/GloVe counting pass):
    * unordered word pairs within a forward window of 3 positions,
    * counted once per position pair, with windowed PMI. Distinct from
    * text_pmi_bigrams (adjacent-only): this is the matrix an embedding
    * trainer actually consumes. Same positional postings as
    * text_phrase_search; the pair join is banded on (doc_id, pos ≤
    * pos+3) — id/pos shuffles only, never all-pairs. Counts are exact;
    * the rank cut is integer-ordered (count DESC, words); PMI is one
    * LN per OUTPUT row (20 evaluations) ROUNDed at 6dp. */
  private def skipgramSql(spark: Boolean): String = {
    val postings =
      if (spark) """
      t AS (SELECT doc_id, FILTER(SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
            FROM documents),
      p AS (SELECT doc_id, pos + 1 AS pos, w
            FROM t LATERAL VIEW POSEXPLODE(toks) x AS pos, w)"""
      else """
      t AS (SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
            FROM documents),
      p AS (SELECT doc_id, GENERATE_SUBSCRIPTS(toks, 1) AS pos, UNNEST(toks) AS w
            FROM t)"""
    s"""
      WITH $postings,
      uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY w),
      nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
      co AS (
        SELECT LEAST(a.w, b.w) AS wa, GREATEST(a.w, b.w) AS wb,
               CAST(COUNT(*) AS BIGINT) AS cab
        FROM p a JOIN p b
          ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
        WHERE a.w <> b.w
        GROUP BY LEAST(a.w, b.w), GREATEST(a.w, b.w)
        HAVING COUNT(*) >= 5
      ),
      np AS (SELECT CAST(SUM(cab) AS BIGINT) AS n FROM co),
      top AS (
        SELECT wa, wb, cab FROM co
        ORDER BY cab DESC, wa, wb LIMIT 20
      )
      SELECT t.wa, t.wb, t.cab,
             ROUND(LN((CAST(t.cab AS DOUBLE) / np.n)
                      / ((CAST(ua.c AS DOUBLE) / nu.n)
                         * (CAST(ub.c AS DOUBLE) / nu.n))), 6) AS pmi
      FROM top t JOIN uni ua ON t.wa = ua.w JOIN uni ub ON t.wb = ub.w
      CROSS JOIN nu CROSS JOIN np
      ORDER BY t.cab DESC, t.wa, t.wb"""
  }

  /** Shared BPE training loop (see text_bpe_merges): returns the
    * tokenized generation-0 frame, the learned merges with stats, the
    * final generation, and the persisted frames for caller-side
    * unpersist. */
  private def bpeTrain(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[(Int, String, String, Long, Long)], DataFrame,
         Seq[DataFrame]) = {
    Tables.register(spark, sfDir)
    import org.apache.spark.sql.Column
    var t = spark.table("documents")
      .select(col("doc_id"),
        expr("FILTER(SPLIT(LOWER(text), ' '), w -> w <> '')").as("toks"))
      .where(size(col("toks")) >= 1)
      .persist()
    val t0 = t
    val gens = scala.collection.mutable.ArrayBuffer(t)
    val merges = (1 to 3).map { k =>
      val top = t.where(size(col("toks")) >= 2)
        .select(posexplode(expr("SLICE(toks, 1, SIZE(toks) - 1)"))
          .as(Seq("i0", "a")), col("toks"))
        .select(col("a"),
          element_at(col("toks"), col("i0").cast("int") + 2).as("b"))
        .where(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b")).limit(1)
        .collect()(0)
      val (pa, pb, freq) = (top.getString(0), top.getString(1), top.getLong(2))
      val toks = col("toks")
      def elAt(i: Column) = element_at(toks, i.cast("int"))
      val merged = flatten(transform(sequence(lit(1), size(toks)), i =>
        when(i > 1 && elAt(i - 1) === lit(pa) && elAt(i) === lit(pb),
          array().cast("array<string>"))
          .when(i < size(toks) && elAt(i) === lit(pa) && elAt(i + 1) === lit(pb),
            array(lit(s"${pa}_$pb")))
          .otherwise(array(elAt(i)))))
      t = t.select(col("doc_id"), merged.as("toks")).persist()
      gens += t
      val tokensAfter = t.agg(sum(size(col("toks")))).collect()(0).getLong(0)
      (k, pa, pb, freq, tokensAfter)
    }
    (t0, merges, t, gens.toSeq)
  }

  /** C4-style heuristic document filters (Raffel et al., JMLR'20 §2.2
    * — the cleaning pass behind the C4 corpus), adapted to the
    * word-soup corpus: per-source pass counts for each rule plus the
    * conjunctive keep count. Rules are INTEGER predicates end to end —
    * the mean-word-length band [3,10] is spelled as the cross-multiply
    * 3·wc ≤ chars ≤ 10·wc so no division ever happens. The top-token
    * share rule (no token may exceed 20% of the doc) needs the one
    * genuine shuffle: a (doc, token) hash count whose map-side partials
    * bound state at vocab size; everything else is a narrow scalar map.
    * At 100 TB: scan → per-doc flags → O(sources) aggregate. */
  private def c4Sql(spark: Boolean): String = {
    val tok =
      if (spark) "FILTER(SPLIT(LOWER(text), ' '), w -> w <> '')"
      else "LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')"
    val sz = if (spark) "SIZE" else "LEN"
    val contains = if (spark) "ARRAY_CONTAINS" else "LIST_CONTAINS"
    val expl =
      if (spark) "t LATERAL VIEW EXPLODE(toks) x AS tok"
      else "(SELECT doc_id, UNNEST(toks) AS tok FROM t) x"
    s"""
      WITH t AS (
        SELECT doc_id, source, text, $tok AS toks FROM documents
      ),
      d AS (
        SELECT doc_id, source,
               CAST($sz(toks) AS BIGINT) AS wc,
               CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS nsc,
               CASE WHEN $contains(toks, 'the') OR $contains(toks, 'a')
                    THEN 1 ELSE 0 END AS has_stop
        FROM t
      ),
      mx AS (
        SELECT doc_id, CAST(MAX(c) AS BIGINT) AS maxtok
        FROM (SELECT doc_id, tok, COUNT(*) AS c
              FROM $expl GROUP BY doc_id, tok) g
        GROUP BY doc_id
      ),
      f AS (
        SELECT d.source,
               CASE WHEN d.wc >= 20 THEN 1 ELSE 0 END AS r_min_words,
               CASE WHEN d.wc <= 10000 THEN 1 ELSE 0 END AS r_max_words,
               CASE WHEN 3 * d.wc <= d.nsc AND d.nsc <= 10 * d.wc
                    THEN 1 ELSE 0 END AS r_word_len,
               d.has_stop AS r_stopword,
               CASE WHEN m.maxtok * 5 <= d.wc THEN 1 ELSE 0 END AS r_top_token
        FROM d JOIN mx m ON d.doc_id = m.doc_id
      )
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(r_min_words) AS BIGINT) AS pass_min_words,
             CAST(SUM(r_max_words) AS BIGINT) AS pass_max_words,
             CAST(SUM(r_word_len) AS BIGINT) AS pass_word_len,
             CAST(SUM(r_stopword) AS BIGINT) AS pass_stopword,
             CAST(SUM(r_top_token) AS BIGINT) AS pass_top_token,
             CAST(SUM(r_min_words * r_max_words * r_word_len
                      * r_stopword * r_top_token) AS BIGINT) AS n_kept
      FROM f
      GROUP BY source
      ORDER BY source"""
  }

  /** C4's exact duplicate-SPAN census (Raffel et al. remove any
    * three-sentence span occurring more than once in the corpus; the
    * word-soup analog is the aligned 8-token span grid). A span's
    * corpus frequency comes from ONE hash aggregate on the span text;
    * per-source output reports how many grid spans are corpus
    * duplicates and the token mass span-dedup would strip. The span
    * table is (doc, span-text) — at 100 TB the aggregate's map-side
    * partials collapse repeats early and nothing ever joins all-pairs
    * (contrast dedup_substring, which pairs DOCUMENTS; this counts
    * span multiplicity). */
  private def spanDedupSql(spark: Boolean): String = {
    val tok =
      if (spark) "FILTER(SPLIT(LOWER(text), ' '), w -> w <> '')"
      else "LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')"
    val sz = if (spark) "SIZE" else "LEN"
    val grid =
      if (spark) "t LATERAL VIEW EXPLODE(SEQUENCE(0, n_tok - 8, 8)) g AS s"
      else "t, UNNEST(range(0, n_tok - 7, 8)) AS g(s)"
    val span =
      if (spark) "ARRAY_JOIN(SLICE(toks, s + 1, 8), ' ')"
      else "ARRAY_TO_STRING(toks[s + 1 : s + 8], ' ')"
    s"""
      WITH t0 AS (
        SELECT doc_id, source, $tok AS toks FROM documents
      ),
      t AS (
        SELECT doc_id, source, toks, CAST($sz(toks) AS BIGINT) AS n_tok
        FROM t0 WHERE $sz(toks) >= 8
      ),
      c AS (
        SELECT doc_id, source, $span AS span
        FROM $grid
      ),
      f AS (
        SELECT span, CAST(COUNT(*) AS BIGINT) AS freq FROM c GROUP BY span
      ),
      per AS (
        SELECT c.source,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN f.freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_spans
        FROM c JOIN f ON c.span = f.span
        GROUP BY c.source
      )
      SELECT source, n_spans, n_dup_spans,
             n_dup_spans * 8 AS dup_token_mass,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM f WHERE freq > 1)
               AS n_distinct_dup_spans
      FROM per
      ORDER BY source"""
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04): PageRank
    * over the word co-occurrence graph — adjacency-window-1 edges with
    * co-occurrence counts as weights, 3 damped iterations, top-20
    * words. The iteration follows graph_pagerank's engine-exact
    * discipline: ranks live on an integer 1e-6 grid (stored in DOUBLE,
    * always integer-valued), per-edge contributions FLOOR-quantize
    * before the order-independent SUM, damping is the FLOOR'd 17/20
    * rational — so both engines replay the iteration bit-for-bit and
    * the output is the exact integer grid value. Scale shape: the edge
    * list aggregates once (map-side combined), each iteration is one
    * equi-join + hash aggregate over (edge, rank) — O(E) per round,
    * the word-graph E being vocab-bounded, not corpus-bounded. */
  private def textrankSql(spark: Boolean): String = {
    val tok =
      if (spark) "FILTER(SPLIT(LOWER(text), ' '), w -> w <> '')"
      else "LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')"
    val el = if (spark) "ELEMENT_AT(toks, CAST(i AS INT))" else "toks[i]"
    val el1 = if (spark) "ELEMENT_AT(toks, CAST(i + 1 AS INT))" else "toks[i + 1]"
    val sz = if (spark) "SIZE" else "LEN"
    val grid =
      if (spark) "t LATERAL VIEW EXPLODE(SEQUENCE(1, n_tok - 1)) g AS i"
      else "t, UNNEST(range(1, n_tok)) AS g(i)"
    def iter(k: Int) = s"""
      , pr$k AS (
        SELECT d2.node AS node,
               150000.0 + FLOOR(17.0 * COALESCE(c.s, 0.0) / 20.0) AS q
        FROM wdeg d2 LEFT JOIN (
          SELECT e.b AS node,
                 CAST(SUM(FLOOR(CAST(p.q AS DOUBLE) * CAST(e.w AS DOUBLE)
                                / CAST(d.wd AS DOUBLE))) AS DOUBLE) AS s
          FROM e JOIN pr${k - 1} p ON e.a = p.node
                 JOIN wdeg d ON e.a = d.node
          GROUP BY e.b) c ON d2.node = c.node)"""
    s"""
      WITH t0 AS (SELECT doc_id, $tok AS toks FROM documents),
      t AS (
        SELECT doc_id, toks, CAST($sz(toks) AS BIGINT) AS n_tok
        FROM t0 WHERE $sz(toks) >= 2
      ),
      pairs AS (
        SELECT $el AS a, $el1 AS b FROM $grid
      ),
      e AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS w
        FROM (SELECT a, b FROM pairs WHERE a <> b
              UNION ALL
              SELECT b AS a, a AS b FROM pairs WHERE a <> b) s
        GROUP BY a, b
      ),
      wdeg AS (SELECT a AS node, CAST(SUM(w) AS BIGINT) AS wd FROM e GROUP BY a),
      pr0 AS (SELECT node, CAST(1000000 AS DOUBLE) AS q FROM wdeg)
      ${iter(1)}${iter(2)}${iter(3)}
      SELECT node AS word, CAST(q AS BIGINT) AS rank_q
      FROM pr3
      ORDER BY rank_q DESC, word
      LIMIT 20"""
  }

  /** Near-copy SEARCH — the single-query path of fuzzy dedup (find
    * documents containing material from THIS document), the plagiarism
    * / contamination-probe access pattern: the query docs' distinct
    * 5-gram sets are tiny and BROADCAST, so the corpus-side probe is a
    * map-side join + one aggregate — the corpus never shuffles for
    * candidates (plan-gated; contrast the dedup family's symmetric
    * self-joins). Shared-gram counts and the containment ratio
    * (|Q∩D| / |Q|, exact micro units) rank the hits. */
  private def nearCopiesSql(spark: Boolean): String = {
    val tok =
      if (spark) "FILTER(SPLIT(LOWER(text), ' '), w -> w <> '')"
      else "LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')"
    val sz = if (spark) "SIZE" else "LEN"
    val grid =
      if (spark) "t LATERAL VIEW EXPLODE(SEQUENCE(1, n_tok - 4)) g AS i"
      else "t, UNNEST(range(1, n_tok - 3)) AS g(i)"
    val gram =
      if (spark) "ARRAY_JOIN(SLICE(toks, i, 5), ' ')"
      else "ARRAY_TO_STRING(toks[i : i + 4], ' ')"
    val mdiv = Statistics.microDiv(_: String, _: String, spark)
    s"""
      WITH t AS (
        SELECT doc_id, toks, CAST($sz(toks) AS BIGINT) AS n_tok
        FROM (SELECT doc_id, $tok AS toks FROM documents) x
        WHERE $sz(toks) >= 5
      ),
      grams AS (
        SELECT doc_id, $gram AS gram FROM $grid
      ),
      q AS (
        SELECT DISTINCT doc_id AS qid, gram FROM grams
        WHERE doc_id IN (8, 45, 98)
      ),
      nq AS (
        SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_query_grams
        FROM q GROUP BY qid
      ),
      cand AS (
        SELECT q.qid, g.doc_id,
               CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS shared
        FROM grams g JOIN q ON g.gram = q.gram
        WHERE g.doc_id <> q.qid
        GROUP BY q.qid, g.doc_id
      )
      SELECT c.qid, c.doc_id, c.shared, n.n_query_grams,
             ${mdiv("c.shared", "n.n_query_grams")} AS containment_micro
      FROM cand c JOIN nq n ON c.qid = n.qid
      ORDER BY c.shared DESC, c.qid, c.doc_id
      LIMIT 10"""
  }

  val queries: Map[String, Q] = Map(
    // Compression-ratio quality signal (the Gopher-class filter:
    // deflate(text)/len near 1 = high-entropy noise, tiny = boilerplate
    // repetition) via the codegen'd DEFLATE_LEN kernel. JDK-zlib
    // determinism is same-JVM, not engine-portable, so this is a
    // rows-only harness entry (the multimodal-codec class); its
    // contracts are pinned by invariants in ExpressionsSpec. Integer
    // arithmetic end to end; pure narrow map + per-source aggregate.
    "text_compression_quality" -> Tables.sql("""
      WITH r AS (
        SELECT source,
               (CAST(DEFLATE_LEN(text) AS BIGINT) * 1000000)
                 DIV LENGTH(text) AS ratio_micro
        FROM documents WHERE LENGTH(text) > 0
      )
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ratio_micro) DIV COUNT(*) AS BIGINT) AS mean_ratio_micro,
             CAST(SUM(CASE WHEN ratio_micro < 250000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_repetitive,
             CAST(SUM(CASE WHEN ratio_micro > 950000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_noise
      FROM r GROUP BY source ORDER BY source"""),

    "search_near_copies" -> Tables.sql(nearCopiesSql(spark = true)),
    "text_textrank" -> Tables.sql(textrankSql(spark = true)),
    "text_c4_filters" -> Tables.sql(c4Sql(spark = true)),
    "text_span_dedup" -> Tables.sql(spanDedupSql(spark = true)),
    "text_skipgram_cooc" -> Tables.sql(skipgramSql(spark = true)),
    "text_phrase_search" -> Tables.sql(phraseSql(spark = true)),
    // Spark side of the BPE trainer: each generation persists (the
    // pure-CTE spelling re-tokenized the corpus exponentially under
    // Catalyst CTE inlining — 17 s vs ~3 s), the 1-row top pair
    // collects to the driver (a merge table IS driver state in every
    // real BPE trainer), and the rebuild is a narrow per-doc
    // projection with the pair as literals. Kernel-identical to the
    // oracle's per-position CASE.
    "text_bpe_merges" -> ((spark, sfDir) => {
      val (_, merges, _, gens) = bpeTrain(spark, sfDir)
      gens.foreach(_.unpersist())
      import spark.implicits._
      merges.toDF("merge_rank", "pair_a", "pair_b", "freq", "tokens_after")
        .orderBy(col("merge_rank"))
    }),

    // BPE ENCODE — the inference-time twin of the trainer: the learned
    // merge table applied to the corpus, reporting per-doc compression
    // (token counts before/after, exact integers). The top-20 result is
    // collected while the generation frames are still persisted, then
    // rebuilt as a local frame — the apply itself stays a narrow
    // per-doc projection chain at any corpus size (the merge table IS
    // driver state in every real tokenizer).
    "text_bpe_encode" -> ((spark, sfDir) => {
      val (t0, _, tEnc, gens) = bpeTrain(spark, sfDir)
      val rows = t0
        .select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tok_base"))
        .join(tEnc.select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_tok_enc")), Seq("doc_id"))
        .withColumn("n_saved", col("n_tok_base") - col("n_tok_enc"))
        .orderBy(col("n_saved").desc, col("doc_id")).limit(20)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      gens.foreach(_.unpersist())
      import spark.implicits._
      rows.toDF("doc_id", "n_tok_base", "n_tok_enc", "n_saved")
        .orderBy(col("n_saved").desc, col("doc_id"))
    }),

    // Stopword-ratio language scorer (n-gram-free heuristic; the test
    // corpus is synthetic word-soup so scores, not accuracy, are the
    // contract — lang column is an independent label). STOPWORD_RATIO is
    // the one-pass hashed-set kernel: the FILTER(toks, w ->
    // ARRAY_CONTAINS(...)) spelling interprets a lambda + linear list
    // scan per token, ×3 lists per row (it made this the slowest scalar
    // query in the bench, ~4.3 s cold; value-identical to the oracle's
    // formulation).
    "text_langid" -> Tables.sql(TokCte + """
      SELECT doc_id, s_en, s_de, s_fr,
             CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                  WHEN s_de >= s_fr THEN 'de'
                  ELSE 'fr' END AS lang_pred
      FROM (
        SELECT doc_id,
          ROUND(STOPWORD_RATIO(toks, ARRAY('the','a','of','and','to','in','is','that','it','for')), 6) AS s_en,
          ROUND(STOPWORD_RATIO(toks, ARRAY('der','die','das','und','ist','ein','zu','den','mit','von')), 6) AS s_de,
          ROUND(STOPWORD_RATIO(toks, ARRAY('le','la','les','et','est','un','une','de','du','que')), 6) AS s_fr
        FROM t WHERE SIZE(toks) > 0
      ) s
      ORDER BY doc_id"""),

    // Character-trigram language ID (Cavnar–Trenkle, "N-Gram-Based Text
    // Categorization", SDAIR'94): score = fraction of the document's
    // char trigrams (spaces kept — word-boundary grams carry the
    // signal) found in each language's published top-trigram profile
    // (graft.functions.LangProfiles), argmax wins. A real n-gram
    // classifier vs text_langid's word-stopword heuristic; same
    // synthetic-corpus caveat (scores, not accuracy, are the contract —
    // lang is an independent label). LANG_TRIGRAM_SCORES is the fused
    // one-pass kernel: rolling code-point window, no gram arrays —
    // value-identical to STOPWORD_RATIO(CHAR_NGRAMS(text,3), p) ×3
    // (equivalence pinned in ExpressionsSpec) but ~6× cheaper, which
    // took this from the most expensive bench query (6.0 s at sf0.1)
    // to ~1 s. Pure narrow map work at 100 TB.
    "text_langid_trigram" -> Tables.sql("""
      WITH s AS (
        SELECT doc_id, LANG_TRIGRAM_SCORES(text) AS sc FROM documents
      )
      SELECT doc_id, t_en, t_de, t_fr,
             CASE WHEN t_en >= t_de AND t_en >= t_fr THEN 'en'
                  WHEN t_de >= t_fr THEN 'de'
                  ELSE 'fr' END AS lang_pred
      FROM (
        SELECT doc_id, ROUND(sc.t_en, 6) AS t_en, ROUND(sc.t_de, 6) AS t_de,
               ROUND(sc.t_fr, 6) AS t_fr
        FROM s WHERE sc IS NOT NULL
      ) x
      ORDER BY doc_id"""),

    // Quality metrics: length, token stats, type-token ratio, stopword
    // ratio, alphanumeric ratio, and a composite keep/drop flag.
    "text_quality" -> Tables.sql(TokCte + """
      SELECT doc_id,
             LENGTH(text) AS n_char,
             SIZE(toks) AS n_tok,
             ROUND(LENGTH(text) / SIZE(toks), 6) AS chars_per_tok,
             SIZE(ARRAY_DISTINCT(toks)) AS n_uniq,
             ROUND(SIZE(ARRAY_DISTINCT(toks)) / SIZE(toks), 6) AS ttr,
             ROUND(STOPWORD_RATIO(toks, ARRAY('the','a','of','and','to','in','is')), 6) AS stop_ratio,
             ROUND(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z0-9 ]', '')) / LENGTH(text), 6) AS alnum_ratio,
             CASE WHEN SIZE(toks) >= 10
                   AND SIZE(ARRAY_DISTINCT(toks)) / SIZE(toks) >= 0.2
                  THEN 1 ELSE 0 END AS keep_flag
      FROM t WHERE SIZE(toks) > 0
      ORDER BY doc_id"""),

    // Token counting three ways: whitespace, BPE-ish regex pieces,
    // chars/4 approximation.
    "text_tokens" -> Tables.sql("""
      SELECT doc_id,
             SIZE(FILTER(SPLIT(text, ' '), w -> w <> '')) AS ws_tokens,
             SIZE(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS re_tokens,
             CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS approx_bpe
      FROM documents
      ORDER BY doc_id"""),

    // Corpus-level top-20 bigrams via the bounded-buffer ngrams
    // aggregator (Hive GenericUDAFnGrams shape); oracle recomputes the
    // exact counts relationally.
    "text_ngrams_topk" -> Tables.sql(TokCte + """
      SELECT g.ngram AS ngram, g.freq AS freq
      FROM (
        SELECT EXPLODE(NGRAMS_TOPK(toks, 2, 20, 500000)) AS g
        FROM (SELECT TOKENIZE(text) AS toks
              FROM (SELECT /*+ REPARTITION */ text FROM documents))
      )
      ORDER BY freq DESC, ngram"""),

    // context_ngrams (GenericUDAFContextNGrams): top fillers of the
    // wildcard slots of a fixed word context — here, the 10 words most
    // often following 'data'.
    "text_context_ngrams" -> Tables.sql(TokCte + """
      SELECT g.ngram AS follower, g.freq AS freq
      FROM (
        SELECT EXPLODE(CONTEXT_NGRAMS(toks, ARRAY('data', CAST(NULL AS STRING)), 10, 100000)) AS g
        FROM (SELECT TOKENIZE(text) AS toks
              FROM (SELECT /*+ REPARTITION */ text FROM documents))
      )
      ORDER BY freq DESC, follower"""),

    // Repetition-based quality filter (the Gopher repetition rules, Rae
    // et al. 2021 §A1.1): per-document duplicate-token fraction, most-
    // frequent-token fraction, and duplicate-3-gram fraction, plus the
    // composite keep flag. The per-token counts come from an explode +
    // two-stage aggregate keyed on (doc_id, token) then doc_id — both
    // keys are fine-grained, map-side partial agg applies, and nothing
    // is per-row quadratic (the ARRAY_MAX(TRANSFORM(FILTER...))
    // spelling of top-token count would be O(n²) per document).
    "text_repetition" -> Tables.sql(TokCte + """
      , cnt AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM t LATERAL VIEW EXPLODE(toks) x AS tok
        GROUP BY doc_id, tok
      ), m AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
               COUNT(*) AS n_uniq, MAX(c) AS top_c
        FROM cnt GROUP BY doc_id
      ), g AS (
        SELECT doc_id, SIZE(SHINGLE_SET(text, 3)) AS n3_uniq,
               GREATEST(SIZE(toks) - 2, 0) AS n3
        FROM t
      )
      SELECT m.doc_id, m.n_tok,
             ROUND(1.0 - m.n_uniq / m.n_tok, 6) AS frac_dup_tok,
             ROUND(m.top_c / m.n_tok, 6) AS top_tok_frac,
             ROUND(CASE WHEN g.n3 > 0 THEN 1.0 - g.n3_uniq / g.n3
                        ELSE 0.0 END, 6) AS frac_dup_3gram,
             CASE WHEN ROUND(1.0 - m.n_uniq / m.n_tok, 6) <= 0.3
                   AND ROUND(m.top_c / m.n_tok, 6) <= 0.1
                   AND ROUND(CASE WHEN g.n3 > 0 THEN 1.0 - g.n3_uniq / g.n3
                                  ELSE 0.0 END, 6) <= 0.2
                  THEN 1 ELSE 0 END AS keep_flag
      FROM m JOIN g ON m.doc_id = g.doc_id
      ORDER BY m.doc_id"""),

    // Winnowing fingerprints (k=8 chars, window=4): per-doc fingerprint
    // set size + stable sample values. The seeded hashing is replicated
    // in the DuckDB oracle (see below), so this is value-checked.
    "text_fingerprint" -> Tables.sql("""
      SELECT doc_id,
             SIZE(fp) AS n_fp,
             fp[0] AS first_fp,
             ARRAY_MIN(fp) AS min_fp
      FROM (SELECT doc_id, WINNOW_FINGERPRINT(text, 8, 4) AS fp
            FROM (SELECT /*+ REPARTITION */ doc_id, text FROM documents))
      ORDER BY doc_id"""),

    // Corpus diversity monitoring per source: token Shannon entropy +
    // type-token ratio — the drift/diversity dashboard numbers a
    // training-mix pipeline watches. The entropy sum runs as a fold
    // over the (token, count) list SORTED BY TOKEN, purely so Spark and
    // DuckDB accumulate the ln terms in the same order (bit-exact
    // before the ROUND; a plain SUM is partition-order-dependent).
    // Per-source vocab here is tiny; at unbounded vocab the at-scale
    // spelling is the plain SUM with a tolerance compare instead.
    // Flesch reading-ease readability — the classic corpus-quality
    // signal beside gopher repetition and the stopword gate. Counts
    // are exact integers from regexp_extract_all (words, [.!?]+
    // sentence ends, [aeiouy]+ vowel groups as the standard syllable
    // heuristic); the score formula runs once per doc on exact inputs
    // so both engines agree bit-for-bit. Single narrow scan, codegen'd
    // regex kernels, no shuffle at all.
    "text_readability" -> Tables.sql("""
      SELECT doc_id, words, sentences, syllables,
             ROUND(206.835
                   - 1.015 * (CAST(words AS DOUBLE) / GREATEST(sentences, 1))
                   - 84.6 * (CAST(syllables AS DOUBLE) / GREATEST(words, 1)),
                   4) AS flesch
      FROM (
        SELECT doc_id,
               CAST(SIZE(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+', 0)) AS BIGINT) AS words,
               CAST(SIZE(REGEXP_EXTRACT_ALL(text, '[.!?]+', 0)) AS BIGINT) AS sentences,
               CAST(SIZE(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiouy]+', 0)) AS BIGINT) AS syllables
        FROM documents WHERE lang = 'en'
      ) c
      ORDER BY doc_id"""),

    // Cross-source vocabulary similarity: Jaccard overlap of distinct
    // token sets between every source pair — the mix-design diagnostic
    // (which corpus slices duplicate each other's vocabulary). The
    // pair counts come from an inverted-index equi-join on the token
    // (the Bayardo shape, never all-pairs-of-docs); top-30 by
    // (jaccard DESC, pair) total order.
    "text_source_similarity" -> Tables.sql(sourceSimSql(spark = true)),

    // RAKE phrase-keyword extraction (Rose et al. 2010) — the phrase
    // complement of text_tfidf_keywords' unigrams: candidate phrases
    // are maximal stopword-free runs (split on the langid stopword
    // list), words score degree/frequency over phrase occurrences,
    // phrases sum their words' scores. All counts exact; word scores
    // quantize to 1e-6 integers before the phrase sum (order-
    // independent), so both engines cut the top-20 identically. Two
    // explodes + three hash aggregates — embarrassingly parallel.
    "text_rake" -> Tables.sql(rakeSql(spark = true)),

    "text_entropy" -> Tables.sql("""
      WITH t AS (
        SELECT doc_id, source, TOKENIZE(text) AS toks FROM documents
      ), wc AS (
        SELECT source, tok, COUNT(*) AS cnt
        FROM t LATERAL VIEW EXPLODE(toks) e AS tok
        GROUP BY source, tok
      ), g AS (
        SELECT source, SUM(cnt) AS total, COUNT(*) AS vocab,
               SORT_ARRAY(COLLECT_LIST(STRUCT(tok, cnt))) AS pairs
        FROM wc GROUP BY source
      )
      SELECT source, total AS n_tokens, CAST(vocab AS INT) AS vocab,
             ROUND(-AGGREGATE(pairs, CAST(0.0 AS DOUBLE), (acc, p) ->
               acc + (CAST(p.cnt AS DOUBLE) / CAST(total AS DOUBLE))
                   * LN(CAST(p.cnt AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS entropy,
             ROUND(CAST(vocab AS DOUBLE) / CAST(total AS DOUBLE), 6) AS ttr
      FROM g
      ORDER BY source"""),

    // BM25 keyword retrieval (Robertson–Spärck Jones; k1=1.2, b=0.75) —
    // the lexical half of hybrid search beside the ann_* operators:
    // top-10 docs for a fixed 4-term query. 100 TB shape: one corpus
    // scan computes per-doc (len, tf·terms); one aggregate reduces it
    // to a single stats row (N, total_len, df·terms) that joins back as
    // a broadcast; scoring is narrow; ORDER BY+LIMIT plans
    // TakeOrderedAndProject, never a global sort (PlanQualitySpec).
    // Determinism: tf/df/len/N are integers; each per-term score is one
    // fixed IEEE op sequence (bm25Term — textually identical SQL on
    // both engines); the 4 terms add in fixed order; LN may differ from
    // DuckDB's by 1 ulp, so the score carries the same ROUND boundary
    // as cluster_*'s cosines, and ranking orders by the ROUNDED value.
    "text_bm25_topk" -> Tables.sql(s"""
      WITH ${bm25Ctes(spark = true)}
      SELECT doc_id, len AS n_tokens,
             ROUND(${bm25Sum()}, 6) AS score
      FROM d CROSS JOIN st
      ORDER BY score DESC, doc_id
      LIMIT 10"""),

    // Bigram-LM perplexity scoring (the CCNet filtering signal, Wenzek
    // et al. LREC'20 — low-perplexity-under-a-reference-LM ≈ fluent
    // text): an add-0.5-smoothed bigram model is fit on the corpus
    // itself and every document is scored by its average bigram
    // log-probability and perplexity exp(-avg). 100 TB shape: the
    // bigram explode is narrow map work; c(w1,w2)/c(w1·) are two
    // standard hash aggregates on token keys; the count lookup joins
    // are equi-joins co-partitioned with the counts; V is a 1-row
    // broadcast. Determinism: counts are integers, each bigram's LN is
    // one fixed IEEE sequence absorbed at the 6-dp ROUND, and the
    // per-doc mean goes through an exact DECIMAL(18,6) sum so the
    // reduction order cannot leak (same discipline as cluster_*).
    "text_perplexity" -> Tables.sql(s"""
      WITH ${pplCtes(spark = true)}
      SELECT doc_id,
             COUNT(*) AS n_bigrams,
             -- exact micro-unit grid, round in the INTEGER domain: the
             -- decimal-sum/COUNT spelling put doc 854's average exactly on
             -- the 6th-decimal half boundary, where Spark's exact-BigDecimal
             -- ROUND and DuckDB's scaled-multiply ROUND disagree (an sf1
             -- sweep saw 1e-6 drift on 10 replicas of the doc). Here the
             -- divided double is correctly rounded from an exact rational in
             -- both engines, and a .5 tie is exactly representable, which
             -- both engines round away from zero.
             ROUND(CAST(SUM(CAST(ROUND(lp * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*)) / 1000000.0 AS avg_logp,
             ROUND(EXP(-(CAST(SUM(CAST(ROUND(lp * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*))), 6) AS ppl
      FROM sc
      GROUP BY doc_id
      ORDER BY doc_id"""),

    // TF-IDF keyword extraction: per-document top-3 terms by
    // tf·ln(N/df) — the classic salient-term signal (summaries, index
    // keys, weak labels). 100 TB shape: tf and df are hash aggregates
    // on (doc, term)/term keys, N is a 1-row broadcast, and the
    // per-doc top-3 is a window over each doc's OWN terms (partitioned
    // by doc_id — no global sort). Determinism: tf/df/N are integers,
    // one LN per (doc, term) absorbed at the 6-dp ROUND, and
    // (tfidf DESC, term) is a total order within each doc.
    "text_tfidf_keywords" -> Tables.sql(tfidfSql(spark = true)),

    // Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over
    // the corpus vocabulary — natural language sits near -1, so the
    // slope is a one-number corpus-quality/distribution signal (the
    // synthetic word-soup here fits ~-0.18, itself the point: the
    // metric DISCRIMINATES). All OLS moments go through 9-dp-ROUNDed
    // logs and exact DECIMAL sums (reduction-order-free); the rank
    // window runs over the vocabulary table, not the corpus.
    "text_zipf_slope" -> Tables.sql(zipfSql(spark = true)),
    "text_heaps_law" -> ((spark, sfDir) => {
      Tables.register(spark, sfDir)
      // materialize the 10 checkpoint points ONCE and fit on a local
      // frame (the BPE rebuild pattern — 10 rows IS driver state): the
      // single-statement spelling re-derived the bigram explode under
      // Catalyst CTE inlining (xy + tot each re-expand pts → 24 corpus
      // scans; the scalar-subquery variant hit 66 — both measured)
      import spark.implicits._
      val pts = spark
        .sql(heapsSql(spark = true) + " SELECT c, n_tokens, vocab FROM pts")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .toDF("c", "n_tokens", "vocab")
      pts.createOrReplaceTempView("heaps_pts")
      spark.sql("WITH z AS (SELECT 1)" + heapsFitTail("heaps_pts"))
    }),

    // PMI collocation mining (Church & Hanks, CL'90): pointwise mutual
    // information ln(p(w1,w2) / (p(w1)·p(w2))) over corpus bigrams,
    // top-30 pairs above a min-count support floor — the standard
    // phrase/collocation signal for tokenizer and phrase-vocab
    // construction. 100 TB shape: three hash aggregates on token keys
    // (pair, left-marginal, right-marginal), the marginals join back on
    // the pair table's own keys, N is a 1-row broadcast, and the top-k
    // is TakeOrderedAndProject. Determinism: all counts are integers,
    // one LN per surviving pair absorbed at the 6-dp ROUND, and
    // (pmi DESC, w1, w2) is a unique sort key.
    "text_pmi_bigrams" -> Tables.sql(pmiSql(spark = true)),

    // Multinomial naive-Bayes language ID — the SUPERVISED third leg of
    // the language-ID family (text_langid = stopword heuristic,
    // text_langid_trigram = profile n-grams): train on the 80% split
    // (doc_id % 5 <> 4, the dedup_incremental convention), Laplace
    // α=1, score the held-out 20% and argmax the log-posterior. The
    // entire train+predict cycle is joins and hash aggregates — "model
    // training as a query" — so at 100 TB the model (V×k likelihoods)
    // is a broadcast-sized table and scoring is one token-keyed join.
    // Determinism: every log term quantizes to an exact 1e-9 integer
    // BEFORE the per-(doc, class) SUM (the geomean discipline), so
    // reduction order cannot matter and the (score DESC, class) argmax
    // is total. Zero-token docs drop (no evidence to score — the
    // tfidf convention).
    "text_langid_nb" -> Tables.sql(nbSql(spark = true)),

    // Hashing-trick featurization (Weinberger et al., "Feature Hashing
    // for Large Scale Multitask Learning", ICML'09): every token maps
    // to one of 64 buckets via md5, with a second md5 bit giving the
    // ±1 sign that keeps collision noise zero-mean — the fixed-width
    // featurizer that needs NO vocabulary pass, so the 100 TB shape is
    // a pure narrow map plus one (doc, bucket) hash aggregate with
    // map-side partials. Features stay signed integer counts (exact —
    // no normalization float). SF-proportional sample of docs keeps
    // the row count bounded.
    "text_feature_hashing" -> Tables.sql(featHashSql(spark = true)),

    // DSIR importance weighting (Xie et al., "Data Selection for
    // Language Models via Importance Resampling", NeurIPS'23): score
    // every document by the log-likelihood ratio of a TARGET hashed-
    // unigram LM (here: the English slice, standing in for the
    // high-quality corpus) over the RAW-corpus LM, and keep the top
    // scorers. Hashing (the same 64-bucket md5 trick as
    // text_feature_hashing) is DSIR's own point: both LMs are
    // fixed-width 64-row tables regardless of vocabulary, so at 100 TB
    // they broadcast and scoring is a narrow map + one per-doc
    // aggregate — no vocabulary join, no second corpus pass. The
    // paper's Gumbel-noise resampling is replaced by the deterministic
    // top-k (the reproducible variant). Per-bucket log-ratios quantize
    // to exact 1e-9 integers before the per-doc SUM (the geomean
    // discipline); add-1 smoothing keeps every bucket finite.
    "curation_dsir" -> Tables.sql(dsirSql(spark = true))
  )

  /** Whole curation_dsir statement — parameterized on the tokenizer and
    * hex→int spellings, like featHashSql. */
  private def dsirSql(spark: Boolean): String = {
    val md58 =
      if (spark) "SUBSTR(MD5(CAST(tok AS BINARY)), 1, 8)"
      else "SUBSTR(MD5(tok), 1, 8)"
    val bucket =
      if (spark) s"CAST(CONV($md58, 16, 10) AS BIGINT) % 64"
      else s"CAST(('0x' || $md58) AS BIGINT) % 64"
    val tokCte =
      if (spark) """
      tok AS (
        SELECT doc_id, lang, tok
        FROM documents LATERAL VIEW EXPLODE(TOKENIZE(text)) e AS tok
      )"""
      else """
      tok AS (
        SELECT doc_id, lang,
               UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')) AS tok
        FROM documents
      )"""
    s"""
      WITH $tokCte
      , h AS (SELECT doc_id, lang, $bucket AS b FROM tok)
      , tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM h WHERE lang = 'en' GROUP BY b)
      , rawc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY b)
      , tt AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM tgt)
      , tr AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM rawc)
      , lr AS (
          SELECT r.b,
                 CAST(ROUND((LN(CAST(COALESCE(g.c, 0) + 1 AS DOUBLE)
                                / CAST(tt.t + 64 AS DOUBLE))
                             - LN(CAST(r.c + 1 AS DOUBLE)
                                  / CAST(tr.t + 64 AS DOUBLE)))
                            * 1000000000.0) AS BIGINT) AS lrq
          FROM rawc r LEFT JOIN tgt g ON g.b = r.b
          CROSS JOIN tt CROSS JOIN tr)
      , w AS (
          SELECT h.doc_id,
                 CAST(SUM(l.lrq) AS BIGINT) AS wq,
                 CAST(COUNT(*) AS BIGINT) AS n_toks
          FROM h JOIN lr l ON l.b = h.b
          GROUP BY h.doc_id)
      SELECT d.doc_id, d.lang, w.n_toks, w.wq,
             ROUND(CAST(w.wq AS DOUBLE) / 1000000000.0, 6) AS logratio
      FROM w JOIN documents d ON d.doc_id = w.doc_id
      ORDER BY w.wq DESC, d.doc_id
      LIMIT 20"""
  }

  /** Whole text_langid_nb statement — parameterized on the tokenizer
    * spelling only; the train/score SQL is textually identical in both
    * engines. Priors come from the documents table (zero-token docs
    * still carry prior mass); likelihoods from train token counts. */
  private def nbSql(spark: Boolean): String = {
    val tokCte =
      if (spark) """
      tok AS (
        SELECT doc_id, lang, tok
        FROM documents LATERAL VIEW EXPLODE(TOKENIZE(text)) e AS tok
      )"""
      else """
      tok AS (
        SELECT doc_id, lang,
               UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')) AS tok
        FROM documents
      )"""
    s"""
      WITH $tokCte
      , tr AS (SELECT doc_id, lang, tok FROM tok WHERE doc_id % 5 <> 4)
      , cls AS (
          SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS docs
          FROM documents WHERE doc_id % 5 <> 4 GROUP BY lang)
      , nd AS (SELECT CAST(SUM(docs) AS BIGINT) AS n FROM cls)
      , vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tr)
      , tc AS (
          SELECT lang AS c, tok, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tr GROUP BY lang, tok)
      , tot AS (SELECT c, CAST(SUM(cnt) AS BIGINT) AS nt FROM tc GROUP BY c)
      , lik AS (
          SELECT tc.c, tc.tok,
                 CAST(ROUND(LN(CAST(tc.cnt + 1 AS DOUBLE)
                               / CAST(t.nt + vocab.v AS DOUBLE))
                            * 1000000000.0) AS BIGINT) AS lq
          FROM tc JOIN tot t ON tc.c = t.c CROSS JOIN vocab)
      , oov AS (
          SELECT t.c,
                 CAST(ROUND(LN(1.0 / CAST(t.nt + vocab.v AS DOUBLE))
                            * 1000000000.0) AS BIGINT) AS oq
          FROM tot t CROSS JOIN vocab)
      , pri AS (
          SELECT cls.c,
                 CAST(ROUND(LN(CAST(cls.docs AS DOUBLE) / CAST(nd.n AS DOUBLE))
                            * 1000000000.0) AS BIGINT) AS pq
          FROM cls CROSS JOIN nd)
      , te AS (SELECT doc_id, tok FROM tok WHERE doc_id % 5 = 4)
      , sc AS (
          SELECT te.doc_id, o.c, CAST(SUM(COALESCE(l.lq, o.oq)) AS BIGINT) AS tokq
          FROM te CROSS JOIN oov o
          LEFT JOIN lik l ON l.c = o.c AND l.tok = te.tok
          GROUP BY te.doc_id, o.c)
      , best AS (
          SELECT s.doc_id, s.c, p.pq + s.tokq AS score_q,
                 ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                    ORDER BY p.pq + s.tokq DESC, s.c) AS rn
          FROM sc s JOIN pri p ON p.c = s.c)
      SELECT b.doc_id, b.c AS pred_lang, d.lang AS lang, b.score_q,
             CAST((b.c = d.lang) AS INT) AS correct
      FROM best b JOIN documents d ON d.doc_id = b.doc_id
      WHERE b.rn = 1
      ORDER BY b.doc_id"""
  }

  /** Whole text_feature_hashing statement — parameterized on the
    * tokenizer and hex→int spellings (Spark CONV ↔ DuckDB 0x-cast;
    * md5 of the token bytes renders identically in both engines). */
  private def featHashSql(spark: Boolean): String = {
    def md5sub(from: Int, len: Int) =
      if (spark) s"SUBSTR(MD5(CAST(tok AS BINARY)), $from, $len)"
      else s"SUBSTR(MD5(tok), $from, $len)"
    def hex2int(h: String) =
      if (spark) s"CAST(CONV($h, 16, 10) AS BIGINT)"
      else s"CAST(('0x' || $h) AS BIGINT)"
    val tokCte =
      if (spark) """
      tok AS (
        SELECT doc_id, tok
        FROM documents LATERAL VIEW EXPLODE(TOKENIZE(text)) e AS tok
        WHERE doc_id % 20 = 3
      )"""
      else """
      tok AS (
        SELECT doc_id,
               UNNEST(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')) AS tok
        FROM documents WHERE doc_id % 20 = 3
      )"""
    s"""
      WITH $tokCte
      , h AS (
          SELECT doc_id,
                 ${hex2int(md5sub(1, 8))} % 64 AS bucket,
                 CASE WHEN ${hex2int(md5sub(9, 1))} % 2 = 0 THEN 1 ELSE -1 END AS sgn
          FROM tok)
      SELECT doc_id, bucket,
             CAST(SUM(sgn) AS BIGINT) AS feat,
             CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM h
      GROUP BY doc_id, bucket
      ORDER BY doc_id, bucket"""
  }

  /** Whole text_tfidf_keywords statement — parameterized on the
    * tokenizer spelling only; counts/LN/ranking SQL is textually
    * identical in both engines. */
  private def tfidfSql(spark: Boolean): String = {
    val toksCte =
      if (spark) """
      t AS (
        SELECT doc_id, TOKENIZE(text) AS toks FROM documents
      ), tf AS (
        SELECT doc_id, term FROM t LATERAL VIEW EXPLODE(toks) e AS term
      )"""
      else """
      t AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), tf AS (
        SELECT doc_id, UNNEST(toks) AS term FROM t
      )"""
    s"""
      WITH $toksCte
      , tfc AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term
      ), dfc AS (
        SELECT term, COUNT(*) AS df FROM tfc GROUP BY term
      ), n AS (SELECT COUNT(*) AS nd FROM t),
      scored AS (
        SELECT tfc.doc_id AS doc_id, tfc.term AS term,
               ROUND(CAST(tfc.tf AS DOUBLE) * LN(CAST(nd AS DOUBLE) / CAST(dfc.df AS DOUBLE)), 6) AS tfidf
        FROM tfc JOIN dfc ON tfc.term = dfc.term CROSS JOIN n
      ), ranked AS (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        FROM scored
      )
      SELECT doc_id, term, tfidf, rk FROM ranked WHERE rk <= 3 AND doc_id < 50
      ORDER BY doc_id, rk"""
  }

  /** Whole text_zipf_slope statement — parameterized on the tokenizer
    * spelling; the rank/OLS SQL is textually identical. */
  /** Heaps' law fit (Heaps 1978; Herdan 1960) — vocabulary growth
    * V(n) ≈ K·n^β, the companion of text_zipf_slope and the corpus
    * statistic that predicts how much NEW vocabulary another 10× of
    * data buys. The trick that makes it one pass: vocab at checkpoint
    * c = #tokens whose FIRST-occurrence doc ≤ c (a MIN-per-token
    * aggregate), so no prefix re-scans; 10 doc-id checkpoints give the
    * (ln n, ln V) points and β comes from the zipf-style quantized
    * OLS (ln terms ROUND to the 1e-9 grid, sums through exact
    * DECIMAL). The checkpoint theta-join has a 10-row side — bounded,
    * never data×data. The vocabulary UNIT is word BIGRAMS: the
    * synthetic corpus's unigram vocabulary (31 words) saturates at the
    * first checkpoint (β would be exactly 0), while the bigram space
    * keeps discovering new types — the same choice a real Heaps audit
    * makes when the tokenizer's base vocab is closed. Synthetic-corpus
    * caveat (the langid convention: the MACHINERY is the contract):
    * even the bigram space of the 31-word soup nears saturation, so β
    * here is small-positive, not the ≈0.5 of natural text. */
  /** The OLS tail of the Heaps fit over a points table `(c, n_tokens,
    * vocab)` — ONE spelling consumed composed-into-the-oracle and
    * standalone by the Spark side, which PERSISTS the 10-row points
    * frame first: the single-statement spelling re-derived the explode
    * chain under Catalyst CTE inlining (xy and tot each re-expand pts
    * → 24 corpus scans; the scalar-subquery variant hit 66 — measured).
    * The graph/BPE persist rule. */
  private def heapsFitTail(table: String): String = s"""
      , xy AS (SELECT ROUND(LN(CAST(n_tokens AS DOUBLE)), 9) AS x,
                      ROUND(LN(CAST(vocab AS DOUBLE)), 9) AS y
               FROM $table WHERE n_tokens > 0 AND vocab > 0)
      , s AS (SELECT COUNT(*) AS n,
                CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxy,
                CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxx
              FROM xy)
      , tot AS (SELECT MAX(n_tokens) AS total_tokens, MAX(vocab) AS total_vocab
                FROM $table)
      SELECT CAST(s.n AS BIGINT) AS n_checkpoints,
             tot.total_tokens, tot.total_vocab,
             ROUND((s.n * s.sxy - s.sx * s.sy)
                   / (s.n * s.sxx - s.sx * s.sx), 6) AS heaps_beta,
             ROUND((s.sy - ((s.n * s.sxy - s.sx * s.sy)
                   / (s.n * s.sxx - s.sx * s.sx)) * s.sx) / s.n, 6) AS ln_k
      FROM s CROSS JOIN tot"""

  private def heapsSql(spark: Boolean): String = {
    val wCte =
      if (spark) """
      t0 AS (SELECT doc_id, TOKENIZE(text) AS toks FROM documents),
      t AS (SELECT doc_id, toks, SIZE(toks) AS n_tok FROM t0 WHERE SIZE(toks) >= 2),
      w AS (SELECT doc_id,
                   CONCAT(ELEMENT_AT(toks, CAST(i AS INT)), ' ',
                          ELEMENT_AT(toks, CAST(i + 1 AS INT))) AS tok
            FROM t LATERAL VIEW EXPLODE(SEQUENCE(1, n_tok - 1)) g AS i)"""
      else """
      t0 AS (SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
            FROM documents),
      t AS (SELECT doc_id, toks, LEN(toks) AS n_tok FROM t0 WHERE LEN(toks) >= 2),
      w AS (SELECT doc_id, CONCAT(toks[i], ' ', toks[i + 1]) AS tok
            FROM t, UNNEST(range(1, n_tok)) AS g(i))"""
    val dv = if (spark) "DIV" else "//"
    val ks =
      if (spark) "(SELECT 1) z LATERAL VIEW EXPLODE(SEQUENCE(1, 10)) g AS k"
      else "(SELECT 1) z, UNNEST(range(1, 11)) AS g(k)"
    s"""
      WITH $wCte
      , wc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
               FROM w GROUP BY doc_id)
      , first AS (SELECT tok, MIN(doc_id) AS d0 FROM w GROUP BY tok)
      -- max doc id from the BASE table (no tokenize): referencing wc
      -- here would re-derive the whole explode chain under Catalyst
      -- CTE inlining (measured: the scalar-subquery spelling of `pts`
      -- planned 66 parquet scans — 20 corpus re-tokenizations)
      , md AS (SELECT MAX(doc_id) AS m FROM documents)
      , cp AS (SELECT (md.m * k) $dv 10 AS c FROM md, $ks)
      -- checkpoint aggregation as JOINS against the 10-row side, so
      -- wc and first are each referenced (and derived) exactly once
      , ptsA AS (
        SELECT cp.c, CAST(SUM(wc.nt) AS BIGINT) AS n_tokens
        FROM cp JOIN wc ON wc.doc_id <= cp.c GROUP BY cp.c
      )
      , ptsB AS (
        SELECT cp.c, CAST(COUNT(*) AS BIGINT) AS vocab
        FROM cp JOIN first f ON f.d0 <= cp.c GROUP BY cp.c
      )
      , pts AS (
        SELECT a.c, a.n_tokens, b.vocab
        FROM ptsA a JOIN ptsB b ON a.c = b.c
      )"""
  }

  /** Oracle: one statement (DuckDB derives each CTE once). Spark runs
    * heapsSql's prefix alone, PERSISTS the 10-row points frame, and
    * fits on the materialization — see heapsFitTail's scaladoc. */
  private def heapsOracle: String =
    heapsSql(spark = false) + heapsFitTail("pts")

  private def zipfSql(spark: Boolean): String = {
    val wCte =
      if (spark) """
      t AS (SELECT TOKENIZE(text) AS toks FROM documents),
      w AS (SELECT tok FROM t LATERAL VIEW EXPLODE(toks) e AS tok)"""
      else """
      t AS (SELECT LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
            FROM documents),
      w AS (SELECT UNNEST(toks) AS tok FROM t)"""
    s"""
      WITH $wCte
      , f AS (SELECT tok, COUNT(*) AS freq FROM w GROUP BY tok)
      , r AS (SELECT tok, freq,
                ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
              FROM f)
      , xy AS (SELECT ROUND(LN(CAST(rank AS DOUBLE)), 9) AS x,
                      ROUND(LN(CAST(freq AS DOUBLE)), 9) AS y
               FROM r)
      , s AS (SELECT COUNT(*) AS n,
                CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxy,
                CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxx
              FROM xy)
      SELECT n AS vocab,
             ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
             ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
      FROM s"""
  }

  /** Whole text_pmi_bigrams statement — everything after the bigram
    * explode is textually identical SQL in both engines. */
  private def pmiSql(spark: Boolean): String = s"""
      WITH ${bigramCtes(spark)}
      , cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM b GROUP BY w1, w2)
      , c1 AS (SELECT w1, COUNT(*) AS cnt1 FROM b GROUP BY w1)
      , c2 AS (SELECT w2, COUNT(*) AS cnt2 FROM b GROUP BY w2)
      , n AS (SELECT COUNT(*) AS nb FROM b)
      SELECT cb.w1 AS w1, cb.w2 AS w2, cb.c12 AS c12,
             ROUND(LN(CAST(cb.c12 AS DOUBLE) * CAST(nb AS DOUBLE)
                    / (CAST(cnt1 AS DOUBLE) * CAST(cnt2 AS DOUBLE))), 6) AS pmi
      FROM cb JOIN c1 ON cb.w1 = c1.w1
              JOIN c2 ON cb.w2 = c2.w2
              CROSS JOIN n
      WHERE cb.c12 >= 10
      ORDER BY pmi DESC, w1, w2
      LIMIT 30"""

  /** The doc→bigram explode (t, b CTEs), parameterized on tokenizer +
    * list-indexing spelling (Spark: TOKENIZE kernel + ZIP_WITH of two
    * SLICEs; DuckDB: validated STRING_SPLIT replication + 1-based
    * UNNEST(RANGE) indexing). Shared by text_perplexity and
    * text_pmi_bigrams. */
  private[operators] def bigramCtes(spark: Boolean, px: String = ""): String =
    if (spark) s"""
      ${px}t AS (
        SELECT doc_id, TOKENIZE(text) AS toks FROM documents
      ), ${px}b AS (
        SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2
        FROM ${px}t
        LATERAL VIEW EXPLODE(ZIP_WITH(SLICE(toks, 1, SIZE(toks) - 1),
                                      SLICE(toks, 2, SIZE(toks) - 1),
                                      (x, y) -> NAMED_STRUCT('w1', x, 'w2', y))) bgv AS bg
        WHERE SIZE(toks) >= 2
      )"""
    else s"""
      ${px}t AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), ${px}b AS (
        SELECT doc_id, toks[p] AS w1, toks[p + 1] AS w2
        FROM ${px}t, UNNEST(RANGE(1, LEN(toks))) AS r(p)
        WHERE LEN(toks) >= 2
      )"""

  /** `px` prefixes every CTE name so the chain can nest inside a host
    * query that already uses the bare names (pipeline_curate_ppl).
    *
    * The two dialects spell the SAME counts differently on purpose:
    * Catalyst inlines every CTE reference, so each b-reference re-runs
    * the tokenize+explode corpus pass — the old spelling (cw from b, vv from b UNION b, sc
    * joining b⋈cb⋈cw) derived b FIVE times. Spark now derives c1 as a
    * window over cb (SUM of the (w1,w2) counts per w1 — the identical
    * BIGINT), vv from cb's key pairs (distinct w1/w2 of cb = distinct
    * w1/w2 of b by construction), and sc joins b once against the
    * c1-carrying cb — 3 b-derivations, one fewer shuffle join. DuckDB
    * materializes CTEs, so the oracle keeps the textbook spelling and
    * its values never depended on the respell. */
  private[operators] def pplCtes(spark: Boolean, px: String = ""): String = {
    bigramCtes(spark, px) + (if (spark) s"""
      , ${px}cb0 AS (SELECT w1, w2, COUNT(*) AS c12 FROM ${px}b GROUP BY w1, w2)
      , ${px}cb AS (SELECT w1, w2, c12,
               SUM(c12) OVER (PARTITION BY w1) AS c1 FROM ${px}cb0)
      , ${px}vv AS (SELECT COUNT(DISTINCT w) AS v
               FROM (SELECT EXPLODE(ARRAY(w1, w2)) AS w FROM ${px}cb0) u)
      , ${px}sc AS (
          SELECT b.doc_id,
                 ROUND(LN((CAST(cb.c12 AS DOUBLE) + 0.5)
                        / (CAST(cb.c1 AS DOUBLE) + 0.5 * CAST(vv.v AS DOUBLE))), 6) AS lp
          FROM ${px}b b JOIN ${px}cb cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
                 CROSS JOIN ${px}vv vv
      )"""
    else s"""
      , ${px}cb AS (SELECT w1, w2, COUNT(*) AS c12 FROM ${px}b GROUP BY w1, w2)
      , ${px}cw AS (SELECT w1, COUNT(*) AS c1 FROM ${px}b GROUP BY w1)
      , ${px}vv AS (SELECT COUNT(DISTINCT w) AS v
               FROM (SELECT w1 AS w FROM ${px}b UNION SELECT w2 AS w FROM ${px}b) u)
      , ${px}sc AS (
          SELECT b.doc_id,
                 ROUND(LN((CAST(cb.c12 AS DOUBLE) + 0.5)
                        / (CAST(cw.c1 AS DOUBLE) + 0.5 * CAST(vv.v AS DOUBLE))), 6) AS lp
          FROM ${px}b b JOIN ${px}cb cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
                 JOIN ${px}cw cw ON b.w1 = cw.w1
                 CROSS JOIN ${px}vv vv
      )""")
  }

  /** One BM25 term's contribution, as SQL that parses identically in
    * Spark and DuckDB — every operand is cast to DOUBLE explicitly and
    * the op order is fixed by the parenthesization, so both engines run
    * the same IEEE sequence (LN aside — absorbed by the 6-dp ROUND). */
  private def bm25Term(tf: String, df: String): String = s"""
    LN(1.0 + (CAST(n AS DOUBLE) - CAST($df AS DOUBLE) + 0.5)
           / (CAST($df AS DOUBLE) + 0.5))
    * (CAST($tf AS DOUBLE) * 2.2)
    / (CAST($tf AS DOUBLE)
       + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(len AS DOUBLE)
                / (CAST(total_len AS DOUBLE) / CAST(n AS DOUBLE)))))"""

  /** The 4 query terms summed in fixed (left-assoc) order. Shared with
    * Similarity's hybrid-search fusion (same lexical ranking). */
  private[operators] def bm25Sum(): String =
    Seq(bm25Term("tf1", "df1"), bm25Term("tf2", "df2"),
        bm25Term("tf3", "df3"), bm25Term("tf4", "df4")).mkString(" + ")

  /** The t/d/st CTE chain feeding bm25Sum — per-doc token/tf facts plus
    * the one-row corpus stats — parameterized on the tokenizer spelling
    * so the SPARK side uses the one-pass TOKENIZE kernel and the DUCKDB
    * side its validated LIST_FILTER(STRING_SPLIT(...)) replication
    * (everything after tokenization is textually identical SQL). */
  private[operators] def bm25Ctes(spark: Boolean): String = {
    val (toks, size, filt) =
      if (spark) ("TOKENIZE(text)", "SIZE", "FILTER")
      else ("LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '')",
            "LEN", "LIST_FILTER")
    s"""
      t AS (
        SELECT doc_id, $toks AS toks FROM documents
      ), d AS (
        SELECT doc_id, $size(toks) AS len,
               $size($filt(toks, w -> w = 'spark'))  AS tf1,
               $size($filt(toks, w -> w = 'join'))   AS tf2,
               $size($filt(toks, w -> w = 'window')) AS tf3,
               $size($filt(toks, w -> w = 'query'))  AS tf4
        FROM t
      ), st AS (
        SELECT COUNT(*) AS n, SUM(len) AS total_len,
               SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
               SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
               SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3,
               SUM(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END) AS df4
        FROM d
      )"""
  }

  /** Source-pair vocabulary Jaccard (dialect split on tokenize +
    * explode spellings, mirroring zipfSql). */
  private def sourceSimSql(spark: Boolean): String = {
    val stCte =
      if (spark) """
      t AS (SELECT source, TOKENIZE(text) AS toks FROM documents),
      st AS (SELECT DISTINCT source, tok
             FROM t LATERAL VIEW EXPLODE(toks) e AS tok)"""
      else """
      t AS (SELECT source,
                   LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
            FROM documents),
      st AS (SELECT DISTINCT source, UNNEST(toks) AS tok FROM t)"""
    s"""
      WITH $stCte,
      sc AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
      pairs AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
      )
      SELECT src_a, src_b, inter,
             ROUND(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6) AS jaccard
      FROM pairs JOIN sc ca ON src_a = ca.source JOIN sc cb ON src_b = cb.source
      ORDER BY jaccard DESC, src_a, src_b
      LIMIT 30"""
  }

  /** RAKE text — dialect split on the regex-split spelling, the
    * explode syntax, and string-literal escaping (Spark SQL treats
    * backslash as an escape inside literals; DuckDB does not). */
  private def rakeSql(spark: Boolean): String = {
    val stop = "(?:the|a|of|and|to|in|is|that|it|for)"
    val phCte =
      if (spark) s"""
      ph0 AS (SELECT TRIM(p) AS phrase
              FROM en LATERAL VIEW EXPLODE(
                SPLIT(LOWER(text), '\\\\b$stop\\\\b')) t AS p)"""
      else s"""
      ph0 AS (SELECT TRIM(p) AS phrase FROM (
                SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(text),
                  '\\b$stop\\b')) AS p
                FROM en) u)"""
    val pwCte =
      if (spark) """
      pw AS (SELECT phrase, SIZE(SPLIT(phrase, ' ')) AS wlen, w
             FROM ph LATERAL VIEW EXPLODE(SPLIT(phrase, ' ')) t AS w
             WHERE w <> '')"""
      else """
      pw AS (SELECT * FROM (
               SELECT phrase, LEN(STRING_SPLIT(phrase, ' ')) AS wlen,
                      UNNEST(STRING_SPLIT(phrase, ' ')) AS w
               FROM ph) u WHERE w <> '')"""
    val dpwCte =
      if (spark) """
      dpw AS (SELECT phrase, w
              FROM dp LATERAL VIEW EXPLODE(SPLIT(phrase, ' ')) t AS w
              WHERE w <> '')"""
      else """
      dpw AS (SELECT * FROM (
                SELECT phrase, UNNEST(STRING_SPLIT(phrase, ' ')) AS w
                FROM dp) u WHERE w <> '')"""
    s"""
      WITH en AS (SELECT text FROM documents WHERE lang = 'en'),
      $phCte,
      ph AS (SELECT phrase FROM ph0 WHERE phrase <> ''),
      $pwCte,
      wstat AS (
        SELECT w, COUNT(*) AS freq, CAST(SUM(wlen) AS BIGINT) AS degree
        FROM pw GROUP BY w
      ),
      wscore AS (
        SELECT w, CAST(ROUND(degree * 1000000.0E0 / freq) AS BIGINT) AS score_q
        FROM wstat
      ),
      pcnt AS (SELECT phrase, COUNT(*) AS n_occ FROM ph GROUP BY phrase),
      dp AS (SELECT phrase FROM pcnt),
      $dpwCte,
      ps AS (
        SELECT dpw.phrase, CAST(SUM(score_q) AS BIGINT) AS pscore_q
        FROM dpw JOIN wscore ON dpw.w = wscore.w
        GROUP BY dpw.phrase
      )
      SELECT ps.phrase AS phrase, pcnt.n_occ,
             ROUND(CAST(pscore_q AS DOUBLE) / 1000000, 4) AS rake_score
      FROM ps JOIN pcnt ON ps.phrase = pcnt.phrase
      ORDER BY rake_score DESC, ps.phrase
      LIMIT 20"""
  }

  val oracle: Map[String, String] = Map(
    "search_near_copies" -> nearCopiesSql(spark = false),
    "text_textrank" -> textrankSql(spark = false),
    "text_c4_filters" -> c4Sql(spark = false),
    "text_span_dedup" -> spanDedupSql(spark = false),
    "text_skipgram_cooc" -> skipgramSql(spark = false),
    "text_phrase_search" -> phraseSql(spark = false),
    "text_bpe_merges" -> BpeSql.merges,
    "text_bpe_encode" -> BpeSql.encode,

    "text_rake" -> rakeSql(spark = false),
    "text_source_similarity" -> sourceSimSql(spark = false),
    // FULL INDEPENDENT REPLICATION of the winnowing fingerprint
    // (Schleimer et al., SIGMOD'03): the k-gram FNV-1a/fmix64 hashes are
    // recomputed with HUGEINT mod-2^64 arithmetic (ASCII corpus ⇒
    // unicode(char) == utf8 byte), converted to SIGNED two's-complement
    // (the kernel compares Scala Longs), and the rightmost-minimum of
    // each 4-window is selected by maximizing the lexicographic key
    // ((2^63-1 − g)·2^32 + i); consecutive duplicate picks collapse via
    // LAG (a non-consecutive re-pick is impossible: two candidates
    // co-resident in overlapping windows compare identically in each).
    // Validated bit-for-bit against the Spark output at sf0.01.
    "text_fingerprint" -> s"""
      WITH docs AS (
        SELECT doc_id, text, length(text) AS tl FROM documents
      ), pos AS (
        SELECT doc_id, tl, CAST(u.i AS INT) AS i, text[u.i + 1 : u.i + 8] AS gram
        FROM docs, UNNEST(range(GREATEST(tl - 7, 0))) AS u(i)
      ), h0 AS (
        SELECT doc_id, tl, i, list_reduce(
          list_prepend(14695981039346656037::UBIGINT,
            list_transform(range(1, 9), c -> unicode(gram[c:c])::UBIGINT)),
          (h, b) -> ${DuckHash.mulmod("xor(h, b)", "1099511628211")}) AS v0
        FROM pos
      ), ${DuckHash.fmix64Ctes(from = "h0", carry = "doc_id, tl, i", in = "v0",
                               prefix = "fm", out = "hfin", outCol = "hu")},
      grams AS (
        SELECT doc_id, tl, i,
               CAST(CASE WHEN hu < 9223372036854775808::UBIGINT
                         THEN CAST(hu AS HUGEINT)
                         ELSE CAST(hu AS HUGEINT) - 18446744073709551616::HUGEINT
                    END AS BIGINT) AS g
        FROM hfin
      ), keyed AS (
        SELECT doc_id, tl, i, g,
               MAX((9223372036854775807::HUGEINT - g) * 4294967296 + i) OVER
                 (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS pick
        FROM grams
      ), starts AS (
        SELECT doc_id, i AS s, CAST(pick % 4294967296 AS INT) AS minidx
        FROM keyed WHERE i <= GREATEST(tl - 7 - 4, 0)
      ), dedup AS (
        SELECT doc_id, s, minidx,
               LAG(minidx) OVER (PARTITION BY doc_id ORDER BY s) AS prev
        FROM starts
      ), picks AS (
        SELECT doc_id, s, minidx FROM dedup WHERE prev IS NULL OR prev <> minidx
      ), fp AS (
        SELECT p.doc_id, LIST(g.g ORDER BY p.s) AS fp
        FROM picks p JOIN grams g ON g.doc_id = p.doc_id AND g.i = p.minidx
        GROUP BY p.doc_id
      )
      SELECT d.doc_id,
             COALESCE(LEN(f.fp), 0) AS n_fp,
             f.fp[1] AS first_fp,
             LIST_MIN(f.fp) AS min_fp
      FROM docs d LEFT JOIN fp f USING (doc_id)
      ORDER BY d.doc_id""",

    // same trigram extraction (substr is char-based in both engines;
    // int/int division → double, like text_langid's ratio)
    "text_langid_trigram" -> """
      WITH g AS (
        SELECT doc_id,
               list_transform(range(1, GREATEST(LEN(text) - 1, 1)),
                 i -> substr(LOWER(text), CAST(i AS INT), 3)) AS gs
        FROM documents
      )
      SELECT doc_id, t_en, t_de, t_fr,
             CASE WHEN t_en >= t_de AND t_en >= t_fr THEN 'en'
                  WHEN t_de >= t_fr THEN 'de'
                  ELSE 'fr' END AS lang_pred
      FROM (
        SELECT doc_id,
          ROUND(LEN(LIST_FILTER(gs, g -> LIST_CONTAINS(['the','he ',' th','ing','ng ',' an','and','nd ','ion','on ',' of','of ',' to','to ','ed ','er ',' in','in ','at ','ent','es ','tio','ati',' co','for',' fo',' is','is ','tha','hat'], g))) / LEN(gs), 6) AS t_en,
          ROUND(LEN(LIST_FILTER(gs, g -> LIST_CONTAINS(['en ','er ',' de','der','ie ','die','sch','ein',' ei','che','ch ','ung',' un','und','ich',' ge','ver',' ve','ten','den','ber',' be','das',' da','cht','ht ','gen','nen',' au','ne '], g))) / LEN(gs), 6) AS t_de,
          ROUND(LEN(LIST_FILTER(gs, g -> LIST_CONTAINS([' de','de ','es ','le ',' le','ent','nt ','la ',' la','ion','on ','re ',' co','que',' qu','ue ','les','et ',' et','eur','our',' po','ur ','ans',' pa','tio','men','ait','e d',' du'], g))) / LEN(gs), 6) AS t_fr
        FROM g WHERE LEN(gs) > 0
      ) s
      ORDER BY doc_id""",

    "text_langid" -> """
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      )
      SELECT doc_id, s_en, s_de, s_fr,
             CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                  WHEN s_de >= s_fr THEN 'de'
                  ELSE 'fr' END AS lang_pred
      FROM (
        SELECT doc_id,
          ROUND(LEN(LIST_FILTER(toks, w -> LIST_CONTAINS(['the','a','of','and','to','in','is','that','it','for'], w))) / LEN(toks), 6) AS s_en,
          ROUND(LEN(LIST_FILTER(toks, w -> LIST_CONTAINS(['der','die','das','und','ist','ein','zu','den','mit','von'], w))) / LEN(toks), 6) AS s_de,
          ROUND(LEN(LIST_FILTER(toks, w -> LIST_CONTAINS(['le','la','les','et','est','un','une','de','du','que'], w))) / LEN(toks), 6) AS s_fr
        FROM t WHERE LEN(toks) > 0
      ) s
      ORDER BY doc_id""",

    "text_quality" -> """
      WITH t AS (
        SELECT doc_id, text, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      )
      SELECT doc_id,
             LENGTH(text) AS n_char,
             LEN(toks) AS n_tok,
             ROUND(LENGTH(text) / LEN(toks), 6) AS chars_per_tok,
             LEN(LIST_DISTINCT(toks)) AS n_uniq,
             ROUND(LEN(LIST_DISTINCT(toks)) / LEN(toks), 6) AS ttr,
             ROUND(LEN(LIST_FILTER(toks, w -> LIST_CONTAINS(['the','a','of','and','to','in','is'], w))) / LEN(toks), 6) AS stop_ratio,
             ROUND(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z0-9 ]', '', 'g')) / LENGTH(text), 6) AS alnum_ratio,
             CASE WHEN LEN(toks) >= 10
                   AND LEN(LIST_DISTINCT(toks)) / LEN(toks) >= 0.2
                  THEN 1 ELSE 0 END AS keep_flag
      FROM t WHERE LEN(toks) > 0
      ORDER BY doc_id""",

    "text_repetition" -> """
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), e AS (
        SELECT doc_id, UNNEST(toks) AS tok FROM t
      ), cnt AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM e GROUP BY doc_id, tok
      ), m AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
               COUNT(*) AS n_uniq, MAX(c) AS top_c
        FROM cnt GROUP BY doc_id
      ), g AS (
        SELECT doc_id,
               CASE WHEN LEN(toks) >= 3
                    THEN LEN(LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, LEN(toks) - 2),
                           i -> ARRAY_TO_STRING(toks[i + 1 : i + 3], ' '))))
                    ELSE 0 END AS n3_uniq,
               GREATEST(LEN(toks) - 2, 0) AS n3
        FROM t
      )
      SELECT m.doc_id, m.n_tok,
             ROUND(1.0 - m.n_uniq / m.n_tok, 6) AS frac_dup_tok,
             ROUND(m.top_c / m.n_tok, 6) AS top_tok_frac,
             ROUND(CASE WHEN g.n3 > 0 THEN 1.0 - g.n3_uniq / g.n3
                        ELSE 0.0 END, 6) AS frac_dup_3gram,
             CASE WHEN ROUND(1.0 - m.n_uniq / m.n_tok, 6) <= 0.3
                   AND ROUND(m.top_c / m.n_tok, 6) <= 0.1
                   AND ROUND(CASE WHEN g.n3 > 0 THEN 1.0 - g.n3_uniq / g.n3
                                  ELSE 0.0 END, 6) <= 0.2
                  THEN 1 ELSE 0 END AS keep_flag
      FROM m JOIN g ON m.doc_id = g.doc_id
      ORDER BY m.doc_id""",

    "text_tokens" -> """
      SELECT doc_id,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w <> '')) AS ws_tokens,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re_tokens,
             CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS approx_bpe
      FROM documents
      ORDER BY doc_id""",

    "text_context_ngrams" -> """
      WITH t AS (
        SELECT LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), bigr AS (
        SELECT UNNEST(LIST_TRANSFORM(RANGE(0, LEN(toks) - 1),
                 i -> [toks[i + 1], toks[i + 2]])) AS bg
        FROM t WHERE LEN(toks) >= 2
      )
      SELECT bg[2] AS follower, COUNT(*) AS freq
      FROM bigr WHERE bg[1] = 'data'
      GROUP BY 1
      ORDER BY freq DESC, follower
      LIMIT 10""",

    "text_ngrams_topk" -> """
      WITH t AS (
        SELECT LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), grams AS (
        SELECT UNNEST(LIST_TRANSFORM(RANGE(0, LEN(toks) - 1),
                 i -> toks[i + 1] || ' ' || toks[i + 2])) AS ngram
        FROM t WHERE LEN(toks) >= 2
      )
      SELECT ngram, COUNT(*) AS freq
      FROM grams
      GROUP BY ngram
      ORDER BY freq DESC, ngram
      LIMIT 20""",

    // same tokenization replication; LIST(... ORDER BY tok) +
    // list_reduce replicate the sorted fold, so the ln-term
    // accumulation order matches Spark's AGGREGATE exactly
    "text_readability" -> """
      SELECT doc_id, words, sentences, syllables,
             ROUND(206.835
                   - 1.015 * (CAST(words AS DOUBLE) / GREATEST(sentences, 1))
                   - 84.6 * (CAST(syllables AS DOUBLE) / GREATEST(words, 1)),
                   4) AS flesch
      FROM (
        SELECT doc_id,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+')) AS BIGINT) AS words,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')) AS BIGINT) AS sentences,
               CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiouy]+')) AS BIGINT) AS syllables
        FROM documents WHERE lang = 'en'
      ) c
      ORDER BY doc_id""",

    "text_entropy" -> """
      WITH t AS (
        SELECT doc_id, source,
               LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS toks
        FROM documents
      ), w AS (
        SELECT source, UNNEST(toks) AS tok FROM t
      ), wc AS (
        SELECT source, tok, COUNT(*) AS cnt FROM w GROUP BY source, tok
      ), g AS (
        SELECT source, SUM(cnt) AS total, COUNT(*) AS vocab,
               LIST(STRUCT_PACK(tok := tok, cnt := cnt) ORDER BY tok, cnt) AS pairs
        FROM wc GROUP BY source
      )
      SELECT source, CAST(total AS BIGINT) AS n_tokens, CAST(vocab AS INT) AS vocab,
             ROUND(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(pairs, p ->
                 (CAST(p.cnt AS DOUBLE) / CAST(total AS DOUBLE))
                   * LN(CAST(p.cnt AS DOUBLE) / CAST(total AS DOUBLE)))),
               (x, y) -> x + y), 6) AS entropy,
             ROUND(CAST(vocab AS DOUBLE) / CAST(total AS DOUBLE), 6) AS ttr
      FROM g
      ORDER BY source""",

    // same tokenization replication as text_tokens, then textually the
    // SAME bm25Term/bm25Sum arithmetic — only LN differs (1 ulp),
    // absorbed by the shared ROUND(., 6) boundary
    "text_bm25_topk" -> s"""
      WITH ${bm25Ctes(spark = false)}
      SELECT doc_id, CAST(len AS INT) AS n_tokens,
             ROUND(${bm25Sum()}, 6) AS score
      FROM d CROSS JOIN st
      ORDER BY score DESC, doc_id
      LIMIT 10""",

    // same tokenization replication, DuckDB 1-based list indexing for
    // the bigram explode, then textually identical count/LN/DECIMAL-sum
    // arithmetic (LN's 1 ulp absorbed at the shared ROUND boundary, the
    // per-doc mean exact via DECIMAL so reduction order cannot leak)
    "text_perplexity" -> s"""
      WITH ${pplCtes(spark = false)}
      SELECT doc_id,
             COUNT(*) AS n_bigrams,
             -- exact micro-unit grid, round in the INTEGER domain: the
             -- decimal-sum/COUNT spelling put doc 854's average exactly on
             -- the 6th-decimal half boundary, where Spark's exact-BigDecimal
             -- ROUND and DuckDB's scaled-multiply ROUND disagree (an sf1
             -- sweep saw 1e-6 drift on 10 replicas of the doc). Here the
             -- divided double is correctly rounded from an exact rational in
             -- both engines, and a .5 tie is exactly representable, which
             -- both engines round away from zero.
             ROUND(CAST(SUM(CAST(ROUND(lp * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*)) / 1000000.0 AS avg_logp,
             ROUND(EXP(-(CAST(SUM(CAST(ROUND(lp * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*))), 6) AS ppl
      FROM sc
      GROUP BY doc_id
      ORDER BY doc_id""",

    // identical statement modulo the DuckDB bigram-explode spelling
    "text_pmi_bigrams" -> pmiSql(spark = false),

    // identical statement modulo the DuckDB tokenizer spelling
    "text_langid_nb" -> nbSql(spark = false),
    "text_feature_hashing" -> featHashSql(spark = false),
    "curation_dsir" -> dsirSql(spark = false),
    "text_tfidf_keywords" -> tfidfSql(spark = false),

    // identical statement modulo the DuckDB tokenizer spelling
    "text_zipf_slope" -> zipfSql(spark = false),
    "text_heaps_law" -> heapsOracle
  )
}
