package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{QueryModule, Tables}

/** Scalar function surface + table-generating functions (SURVEY.md §2.7,
  * §2.1 #14-15) — the ~230-name Hive FunctionRegistry
  * (QL/exec/FunctionRegistry.java) and the UDTF/LATERAL VIEW machinery
  * (QL/exec/UDTFOperator.java, LateralViewJoinOperator.java).
  *
  * Nearly all are same-name Spark built-ins evaluated inside whole-stage
  * codegen; the oracle side sometimes needs a different DuckDB spelling
  * (dialects may differ — only the values must match). Functions Spark
  * genuinely lacks (`field`, `parse_url_tuple`, `ngrams`) live in
  * graft.functions as custom expressions/aggregators.
  */
object Functions {

  private type Q = (SparkSession, String) => DataFrame

  private val NeymanSql = """
      WITH cents AS (
        SELECT c_custkey, c_mktsegment AS seg,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
      ),
      st AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS nh,
               CAST(SUM(CAST(v AS DECIMAL(18, 0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(v AS DECIMAL(18, 0))
                        * CAST(v AS DECIMAL(18, 0))) AS DOUBLE) AS sxx
        FROM cents GROUP BY seg
      ),
      alloc0 AS (
        SELECT seg, nh,
               CAST(ROUND(nh * SQRT(sxx / nh - (sx / nh) * (sx / nh)) / 100.0)
                    AS BIGINT) AS wq
        FROM st
      ),
      t AS (SELECT CAST(SUM(wq) AS BIGINT) AS wtot FROM alloc0),
      alloc AS (SELECT seg, nh, wq,
                       CAST(FLOOR(500.0 * wq / wtot) AS BIGINT) AS n_alloc
                FROM alloc0 CROSS JOIN t),
      r AS (SELECT c.c_custkey, c.seg,
                   ROW_NUMBER() OVER (PARTITION BY c.seg
                     ORDER BY ((c.c_custkey % 2147483648) * 2654435761) % 4294967296,
                              c.c_custkey) AS rk
            FROM cents c)
      SELECT r.c_custkey, r.seg AS segment,
             CAST(r.rk AS BIGINT) AS sample_rank, a.n_alloc
      FROM r JOIN alloc a ON r.seg = a.seg
      WHERE r.rk <= a.n_alloc
      ORDER BY segment, c_custkey"""

  // the queries Spark and DuckDB run as one statement (QueryModule.shared)
  private val shared = QueryModule.shared(Map(
    // Null-semantics pinning in one oracled row: aggregate null
    // skipping (COUNT(expr)/SUM with NULL branches), MAX over a
    // null-bearing column, an all-null group collapsing to NULL then
    // COALESCE'd, and a predicate that can never be NULL — the 3VL
    // corners a Hive-1.2 user depends on, value-compared cross-engine
    // (SURVEY §7.3 trap family; the NOT IN null trap has its own row).
    "semantics_nulls" -> """
      SELECT o_orderstatus,
             COUNT(*) AS n,
             COUNT(NULLIF(o_orderpriority, '5-LOW')) AS cnt_skips_null,
             CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN NULL ELSE 1 END) AS BIGINT) AS sum_skips_null,
             MAX(NULLIF(o_orderpriority, '5-LOW')) AS max_skips_null,
             COALESCE(MIN(NULLIF(o_orderpriority, o_orderpriority)), 'all-null') AS min_of_allnull,
             CAST(COUNT(CASE WHEN (o_totalprice > 200000) IS NULL THEN 1 END) AS BIGINT) AS never_null_pred
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""",

    // Hive's OTHER sampling form, TABLESAMPLE(BUCKET x OUT OF y ON col)
    // (FilterDesc$SampleDesc, SURVEY §2.1#2): rows where hash(col) mod y
    // lands in bucket x — DETERMINISTIC on the column, so unlike the
    // seeded Bernoulli row sample it is exactly value-checkable. Spelled
    // with the engine-independent multiplicative hash (as
    // sample_stratified) instead of Hive's ObjectInspector hash (which
    // no other engine computes); the key pre-reduces mod 2^31 so the
    // product caps at (2^31-1)·2654435761 ≈ 5.7e18 < 2^63-1 ≈ 9.2e18
    // and NEVER overflows BIGINT — keys beyond
    // 2^31 alias into the same hash domain, which a bucket sampler
    // tolerates by construction (DuckDB would raise on the unreduced
    // product; Spark non-ANSI would silently wrap negative). Pure
    // map-side predicate: no shuffle, no state — at 100 TB this samples
    // inside the scan.
    "sample_bucket_on" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      WHERE (o_orderkey % 2147483648) * 2654435761 % 4294967296 % 8 = 0
      ORDER BY o_orderkey""",

    // Systematic (every k-th) sampling by key stride — the zero-shuffle
    // sampling form: the predicate evaluates at the scan, pushes into
    // parquet row-group filtering where stats allow, and needs no
    // window or ordering at any scale. TABLESAMPLE's deterministic
    // cousin for evenly-spaced key spaces. Integer arithmetic: the
    // bucket predicate is engine-independent.
    "sample_systematic" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      WHERE o_orderkey % 25 = 0
      ORDER BY o_orderkey""",

    // Stratified exact-count sampling — the training-data form of
    // sampling (k docs per language/source/quality stratum, reproducible
    // across runs): rank rows inside each stratum by a deterministic
    // multiplicative hash (Knuth: (id * 2654435761) mod 2^32 — plain
    // integer arithmetic both engines compute identically; the
    // (id % 2^31) pre-reduction keeps the product under 2^63 for ANY
    // key domain — keys >= ~3.5e9 would otherwise overflow BIGINT,
    // an error in DuckDB / ANSI Spark) and keep the first k. One shuffle on the stratum key, map-side nothing wasted —
    // at 100 TB this is the per-stratum top-k pattern (window + filter),
    // which AQE handles under stratum skew.
    "sample_stratified" -> """
      SELECT lang, doc_id, sample_rank FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id) AS sample_rank
        FROM documents)
      WHERE sample_rank <= 30
      ORDER BY lang, doc_id""",

    // Class-balanced downsampling — the imbalanced-learning primitive:
    // every language class is downsampled to the MINORITY class's
    // count (computed from the data, not configured), rows picked by
    // the reproducible Knuth hash rank. One aggregate for the class
    // counts (broadcast — it's a tiny dimension), one window rank per
    // class: at 100 TB the majority classes never shuffle more than
    // their rank window needs, and re-runs pick identical rows.
    "sample_balanced" -> """
      WITH cc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
                  FROM documents GROUP BY lang),
      tgt AS (SELECT CAST(MIN(n) AS BIGINT) AS k FROM cc),
      r AS (SELECT lang, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY lang
                     ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id) AS rk
            FROM documents)
      SELECT r.lang, r.doc_id, CAST(r.rk AS BIGINT) AS sample_rank, t.k AS class_size
      FROM r CROSS JOIN tgt t
      WHERE r.rk <= t.k
      ORDER BY r.lang, r.doc_id""",

    // Neyman-allocation stratified sampling — the survey-statistics
    // upgrade of sample_stratified: the 500-row budget is allocated
    // n_h ∝ N_h·S_h (stratum size × stratum std-dev), so volatile
    // strata get proportionally more rows — the minimum-variance
    // allocation for estimating the population mean. Two passes, both
    // scale-shaped: (1) per-stratum moments as ONE map-side-combined
    // hash aggregate (cents-quantized, DECIMAL product sums — exact at
    // any scale), N_h·S_h quantized to an exact integer BEFORE the
    // tiny normalizing sum; (2) the per-stratum top-n_h pick by the
    // same Knuth multiplicative hash as sample_stratified (window rank
    // + filter, one stratum-key shuffle — reproducible across runs),
    // so the statement is engine-independent end to end.
    "sample_neyman" -> NeymanSql
  ))

  val queries: Map[String, Q] = shared.queries ++ Map(
    "string_fns" -> Tables.sql("""
      SELECT c_custkey,
             CONCAT_WS('|', c_name, c_mktsegment) AS joined,
             UPPER(c_name) AS up,
             LOWER(c_mktsegment) AS lo,
             SUBSTR(c_name, 10, 5) AS sub,
             LENGTH(c_name) AS len,
             LPAD(CAST(c_custkey AS STRING), 8, '0') AS padded,
             RPAD(c_mktsegment, 12, '.') AS rpadded,
             REVERSE(c_name) AS rev,
             REPLACE(c_name, 'Customer#', 'C-') AS repl,
             TRIM(LPAD(c_mktsegment, 20, ' ')) AS trimmed,
             INSTR(c_name, '#') AS hashpos,
             REPEAT('ab', 3) AS rep,
             ASCII(c_mktsegment) AS first_ascii,
             TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS translated,
             REGEXP_REPLACE(c_name, '[0-9]+', 'N') AS renum,
             REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS digits,
             CAST(c_name RLIKE 'Customer#0+1.*' AS INT) AS rl
      FROM customer
      WHERE c_custkey < 200
      ORDER BY c_custkey"""),

    // Second string batch: set/indexing/encoding helpers.
    "string_fns2" -> Tables.sql("""
      SELECT c_custkey,
             FIND_IN_SET(c_mktsegment, 'BUILDING,AUTOMOBILE,MACHINERY,HOUSEHOLD,FURNITURE') AS seg_idx,
             SUBSTRING_INDEX(c_name, '#', 1) AS name_prefix,
             SUBSTRING_INDEX(c_name, '#', -1) AS name_suffix,
             LOCATE('0', c_name) AS zero_pos,
             ELT(1 + CAST(c_custkey % 3 AS INT), 'alpha', 'beta', 'gamma') AS bucket3,
             SPACE(3) || c_mktsegment AS padded,
             BASE64(CAST(c_mktsegment AS BINARY)) AS b64,
             CAST(UNBASE64(BASE64(CAST(c_name AS BINARY))) AS STRING) AS roundtrip,
             SPLIT_PART(c_name, '#', 2) AS after_hash,
             LEFT(c_name, 8) AS l8,
             RIGHT(c_name, 4) AS r4,
             CHAR_LENGTH(c_name) AS clen
      FROM customer
      WHERE c_custkey < 150
      ORDER BY c_custkey"""),

    // to_json/from_json round-trip + nested extraction: values compared
    // via extraction (whitespace conventions differ across engines).
    "json_roundtrip" -> Tables.sql("""
      SELECT o_orderkey,
             CAST(GET_JSON_OBJECT(j, '$.k') AS BIGINT) AS k_back,
             GET_JSON_OBJECT(j, '$.s') AS s_back,
             CAST(GET_JSON_OBJECT(j, '$.nested.price') AS DOUBLE) AS price_back
      FROM (
        SELECT o_orderkey,
               TO_JSON(NAMED_STRUCT(
                 'k', o_orderkey,
                 's', o_orderstatus,
                 'nested', NAMED_STRUCT('price', o_totalprice))) AS j
        FROM orders WHERE o_orderkey < 200
      )
      ORDER BY o_orderkey"""),

    "date_fns" -> Tables.sql("""
      SELECT o_orderkey,
             YEAR(o_orderdate) AS y,
             MONTH(o_orderdate) AS m,
             DAY(o_orderdate) AS d,
             QUARTER(o_orderdate) AS q,
             WEEKOFYEAR(o_orderdate) AS wk,
             DATE_ADD(CAST(o_orderdate AS DATE), 30) AS plus30,
             ADD_MONTHS(CAST(o_orderdate AS DATE), 2) AS plus2m,
             LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
             DATE_TRUNC('month', o_orderdate) AS month_start,
             DATEDIFF(DATE'2000-01-01', CAST(o_orderdate AS DATE)) AS days_to_2000,
             UNIX_TIMESTAMP(o_orderdate) AS epoch_s,
             DATE_FORMAT(o_orderdate, 'yyyy-MM-dd') AS fmt
      FROM orders
      WHERE o_orderkey < 300
      ORDER BY o_orderkey"""),

    // dtype discipline: the result hash compare is dtype-strict, and FLOOR/CEIL/SIGN/FACTORIAL return different types in
    // Spark vs DuckDB — CAST to one agreed type on BOTH sides.
    "math_fns" -> Tables.sql("""
      SELECT p_partkey,
             ROUND(p_retailprice, 1) AS r1,
             CAST(FLOOR(p_retailprice) AS BIGINT) AS fl,
             CAST(CEIL(p_retailprice) AS BIGINT) AS ce,
             ABS(-p_size) AS ab,
             ROUND(SQRT(p_size), 9) AS sq,
             ROUND(CBRT(p_size), 9) AS cb,
             ROUND(EXP(p_size / 100.0), 9) AS ex,
             ROUND(LN(p_size + 1), 9) AS lg,
             ROUND(LOG10(p_size + 1), 9) AS l10,
             POWER(p_size, 2) AS p2,
             PMOD(-p_size, 7) AS pm,
             CAST(SIGN(p_size - 25) AS DOUBLE) AS sg,
             HEX(p_size) AS hx,
             SHIFTLEFT(p_size, 2) AS shl,
             CAST(FACTORIAL(p_size % 10) AS BIGINT) AS fact
      FROM part
      WHERE p_partkey < 300
      ORDER BY p_partkey"""),

    "conditional_fns" -> Tables.sql("""
      SELECT s_suppkey,
             CASE WHEN s_acctbal < 0 THEN 'neg'
                  WHEN s_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS bucket,
             IF(s_acctbal > 0, 1, 0) AS pos_flag,
             NVL(NULLIF(s_name, 'Supplier#000000000'), '<zero>') AS nm,
             COALESCE(NULLIF(s_nationkey, 0), -1) AS nk,
             GREATEST(s_acctbal, 0.0) AS bal_floor,
             LEAST(s_acctbal, 1000.0) AS bal_cap,
             CAST(ISNULL(NULLIF(s_nationkey, 3)) AS INT) AS is_n3,
             CASE s_nationkey WHEN 0 THEN 'zero' WHEN 1 THEN 'one' ELSE 'other' END AS nk_name
      FROM supplier
      ORDER BY s_suppkey"""),

    "complex_type_fns" -> Tables.sql("""
      SELECT doc_id,
             SIZE(SPLIT(text, ' ')) AS n_toks,
             SIZE(ARRAY_DISTINCT(SPLIT(text, ' '))) AS n_uniq,
             CAST(ARRAY_CONTAINS(SPLIT(text, ' '), 'data') AS INT) AS has_data,
             SORT_ARRAY(SLICE(SPLIT(text, ' '), 1, 3)) [0] AS first3_min,
             ARRAY_JOIN(SLICE(SPLIT(text, ' '), 1, 4), '_') AS first4,
             ELEMENT_AT(SPLIT(text, ' '), 2) AS tok2,
             NAMED_STRUCT('id', doc_id, 'n', n_chars).n AS meta_n,
             ARRAY_MAX(TRANSFORM(SPLIT(text, ' '), w -> LENGTH(w))) AS max_tok_len
      FROM documents
      WHERE doc_id < 100
      ORDER BY doc_id"""),

    "json_fns" -> Tables.sql("""
      SELECT event_id,
             CAST(GET_JSON_OBJECT(props, '$.k') AS INT) AS k
      FROM events
      WHERE user_id <= 10
      ORDER BY event_id"""),

    // LATERAL VIEW explode — Hive's signature generator syntax, parsed
    // natively by Spark SQL (Generate node).
    "lateral_view_explode" -> Tables.sql("""
      SELECT word, COUNT(*) AS cnt
      FROM documents
      LATERAL VIEW EXPLODE(SPLIT(text, ' ')) t AS word
      WHERE word <> ''
      GROUP BY word
      ORDER BY cnt DESC, word
      LIMIT 30"""),

    "lateral_view_posexplode" -> Tables.sql("""
      SELECT doc_id, pos, word
      FROM documents
      LATERAL VIEW POSEXPLODE(SPLIT(text, ' ')) t AS pos, word
      WHERE pos < 3 AND doc_id < 50
      ORDER BY doc_id, pos"""),

    // LATERAL VIEW OUTER: empty generator output still emits the row
    // (with NULL) — LateralViewJoinOperator outer semantics.
    "lateral_view_outer" -> Tables.sql("""
      SELECT doc_id, rare_word
      FROM documents
      LATERAL VIEW OUTER EXPLODE(FILTER(SPLIT(text, ' '), w -> w = 'zzz')) t AS rare_word
      WHERE doc_id < 100
      ORDER BY doc_id"""),

    // stack() constant UDTF (GenericUDTFStack).
    "udtf_stack" -> Tables.sql("""
      SELECT k, v FROM (SELECT STACK(3, 'a', 1, 'b', 2, 'c', 3) AS (k, v))
      ORDER BY k"""),

    // inline() over an array of structs (GenericUDTFInline).
    "udtf_inline" -> Tables.sql("""
      SELECT id, name
      FROM (SELECT INLINE(ARRAY(STRUCT(1, 'x'), STRUCT(2, 'y'))) AS (id, name))
      ORDER BY id"""),

    // json_tuple multi-field extraction (GenericUDTFJSONTuple).
    "udtf_json_tuple" -> Tables.sql("""
      SELECT event_id, CAST(jt.k AS INT) AS k
      FROM events
      LATERAL VIEW JSON_TUPLE(props, 'k') jt AS k
      WHERE user_id <= 5
      ORDER BY event_id"""),

    // TRANSFORM ... USING — Hive ScriptOperator (QL/exec/
    // ScriptOperator.java:323); Spark's no-serde ScriptTransformation.
    "transform_script" -> Tables.sql("""
      SELECT key, val FROM (
        SELECT TRANSFORM(l_orderkey, l_linenumber)
               USING 'cat' AS (key STRING, val STRING)
        FROM lineitem
        WHERE l_orderkey <= 40
      ) t
      ORDER BY CAST(key AS BIGINT), CAST(val AS BIGINT)"""),

    // parse_url family (Hive GenericUDFParseUrl / parse_url_tuple — the
    // tuple form is parse_url × n selected as columns).
    "url_fns" -> Tables.sql("""
      SELECT p_partkey,
             PARSE_URL(url, 'HOST') AS host,
             PARSE_URL(url, 'PATH') AS path,
             PARSE_URL(url, 'QUERY') AS query,
             PARSE_URL(url, 'QUERY', 'brand') AS brand,
             PARSE_URL(url, 'PROTOCOL') AS protocol
      FROM (
        SELECT p_partkey,
               CONCAT('https://parts.example.com/catalog/',
                      REPLACE(LOWER(p_type), ' ', '-'),
                      '?brand=', REPLACE(p_brand, '#', ''),
                      '&size=', CAST(p_size AS STRING)) AS url
        FROM part WHERE p_partkey < 200
      )
      ORDER BY p_partkey"""),

    // [2.x] masking family (Hive GenericUDFMask*): Spark's built-in
    // mask + the graft composite expressions for the positional
    // variants (all codegen'd concat/substring algebra — see
    // graft.functions.Hive2x). mask_hash is Hive 2.x's md5 hex. The
    // oracle re-derives each mask as a 3-pass regexp_replace.
    "mask_fns" -> Tables.sql("""
        SELECT c_custkey,
               mask(c_name) AS m_all,
               mask_first_n(c_name, 9) AS m_first9,
               mask_last_n(c_name, 3) AS m_last3,
               mask_show_first_n(c_name, 9) AS m_show_first9,
               mask_show_last_n(c_name, 3) AS m_show_last3,
               mask_hash(c_mktsegment) AS m_hash
        FROM customer WHERE c_custkey < 120
        ORDER BY c_custkey"""),

    // [2.x] sort_array_by (GenericUDFSortArrayByField) lowered onto
    // array_sort with a field comparator; the sort key embeds the
    // custkey so it is UNIQUE — the collect_list build order (which is
    // partition-nondeterministic at any scale) can then never leak into
    // the output. posexplode turns the sorted array back into rows the
    // oracle can re-derive with a rank window.
    "sort_array_struct" -> Tables.sql("""
        WITH s AS (
          SELECT c_nationkey,
                 sort_array_by(collect_list(named_struct(
                   'k', CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey,
                   'c', c_custkey)), 'k') AS arr
          FROM customer WHERE c_custkey < 400
          GROUP BY c_nationkey)
        SELECT c_nationkey, pos, e.c AS c_custkey
        FROM s LATERAL VIEW posexplode(arr) t AS pos, e
        ORDER BY c_nationkey, pos"""),

    // [2.x] replicate_rows (GenericUDTFReplicateRows) lowered onto
    // inline(array_repeat(struct, n)) — a real generator under LATERAL
    // VIEW; the group-by collapses the fan-out so the oracle can state
    // the expected multiplicity directly.
    "replicate_rows_fns" -> Tables.sql("""
        WITH src AS (
          SELECT CAST(o_orderkey AS BIGINT) AS okey,
                 CAST(o_orderkey % 3 + 1 AS INT) AS nrep
          FROM orders WHERE o_orderkey < 300)
        SELECT k AS o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM src LATERAL VIEW replicate_rows(nrep, okey) t AS k
        GROUP BY k ORDER BY o_orderkey"""),

    // [2.x] aes_encrypt/aes_decrypt round-trip under a fixed 128-bit
    // key in deterministic ECB mode: the oracled row asserts
    // decrypt(encrypt(x)) = x value-for-value (DuckDB has no AES — the
    // oracle states the identity directly, which is exactly what the
    // round-trip must produce).
    "aes_roundtrip" -> Tables.sql("""
      SELECT c_custkey,
             CAST(aes_decrypt(aes_encrypt(CAST(c_name AS BINARY),
                                          '0123456789abcdef', 'ECB'),
                              '0123456789abcdef', 'ECB') AS STRING) AS name_roundtrip
      FROM customer WHERE c_custkey < 200
      ORDER BY c_custkey"""),

    // uniontype (SERDE/typeinfo/UnionTypeInfo) as the SURVEY §1.3
    // struct-tag encoding: create_union/union_tag/extract_union over a
    // price-or-status alternative per order. The oracle runs DuckDB's
    // NATIVE union type (union_value/union_tag/union_extract with
    // explicit member casts), so the encoding is value-checked against
    // a real union implementation rather than a mirror of itself.
    "uniontype_encode" -> Tables.sql("""
        WITH t AS (
          SELECT create_union(CASE WHEN o_totalprice > 150000 THEN 0 ELSE 1 END,
                              o_totalprice, o_orderstatus) AS u
          FROM orders)
        SELECT union_tag(u) AS tag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN union_tag(u) = 0
                             THEN CAST(ROUND(extract_union(u, 0) * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS price_cents,
               MAX(extract_union(u, 1)) AS max_status
        FROM t GROUP BY union_tag(u) ORDER BY tag"""),

    // parse_url_tuple as a true one-row UDTF (GenericUDTFParseUrlTuple):
    // one URL parse serving all requested parts, vs parse_url × n above.
    "url_tuple" -> Tables.sql("""
        SELECT p_partkey, t.host AS host, t.path AS path, t.brand AS brand
        FROM (
          SELECT p_partkey,
                 CONCAT('https://parts.example.com/catalog/',
                        REPLACE(LOWER(p_type), ' ', '-'),
                        '?brand=', REPLACE(p_brand, '#', ''),
                        '&size=', CAST(p_size AS STRING)) AS url
          FROM part WHERE p_partkey < 200
        )
        LATERAL VIEW PARSE_URL_TUPLE(url, 'HOST', 'PATH', 'QUERY:brand') t AS host, path, brand
        ORDER BY p_partkey"""),

    // TABLESAMPLE with seed: deterministic within Spark, but sampling
    // algorithms differ across engines — rows-only check + ScalaTest.
    "sample_bernoulli" -> Tables.sql("""
      SELECT o_orderkey FROM orders TABLESAMPLE (10 PERCENT) REPEATABLE (42)
      ORDER BY o_orderkey"""),

    // Deterministic train/val/test split — the reproducibility
    // primitive every training pipeline needs: assignment is a pure
    // function of the KEY (first md5 byte-pair against hex thresholds:
    // 0x00-0xcb train ≈ 79.7%, 0xcc-0xe5 val ≈ 10.2%, rest test), so
    // re-runs, backfills, and late-arriving shards land identically
    // with zero coordination. Two granularities in one pass:
    // per-row (doc_id) and GROUP-level (source) — the leakage-safe
    // variant that keeps all docs of one origin in one split so
    // near-duplicates cannot straddle train/test. Narrow map at any
    // scale; md5 renders identically in both engines.
    "sample_split_hash" -> Tables.sql("""
      SELECT doc_id, source,
             CASE WHEN SUBSTR(MD5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 2) < 'cc' THEN 'train'
                  WHEN SUBSTR(MD5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS row_split,
             CASE WHEN SUBSTR(MD5(CAST(source AS BINARY)), 1, 2) < 'cc' THEN 'train'
                  WHEN SUBSTR(MD5(CAST(source AS BINARY)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS group_split
      FROM documents
      ORDER BY doc_id"""),
    // Weighted sampling without replacement (Efraimidis–Spirakis, IPL
    // 2006 A-ES): priority = ln(u)/w with u a deterministic
    // md5-derived uniform in (0,1) — the top-k by priority IS a
    // weighted sample, reproducible across runs/backfills like
    // sample_split_hash. Here w = n_chars: longer documents
    // proportionally likelier — the corpus-mixture subsampling shape.
    // TakeOrderedAndProject top-k, narrow map otherwise; ranking
    // orders by the ROUNDed priority (LN's 1 ulp absorbed, the bm25
    // discipline).
    "sample_weighted_aes" -> Tables.sql(aesSql(spark = true))
  )

  /** A-ES statement parameterized on the hex→int spelling (Spark CONV
    * ↔ DuckDB 0x-prefix cast); md5 of the decimal id string renders
    * identically in both engines. */
  private def aesSql(spark: Boolean): String = {
    val hex8 =
      if (spark)
        "CAST(CONV(SUBSTR(MD5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
      else
        "CAST(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    s"""
      WITH u AS (
        SELECT doc_id, n_chars,
               ($hex8 + 1e0) / 4294967297e0 AS uni
        FROM documents WHERE n_chars > 0
      ), pr AS (
        SELECT doc_id, n_chars,
               ROUND(LN(uni) / CAST(n_chars AS DOUBLE), 9) AS priority
        FROM u
      )
      SELECT doc_id, n_chars, priority FROM pr
      ORDER BY priority DESC, doc_id
      LIMIT 20"""
  }

  /** DuckDB re-derivation of Hive-default masking (upper→X, lower→x,
    * digit→n, other kept) as three regexp passes. */
  private def duckMask(e: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($e, " +
      s"'[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')"

  val oracle: Map[String, String] = shared.oracle ++ Map(
    "mask_fns" -> s"""
      SELECT c_custkey,
             ${duckMask("c_name")} AS m_all,
             ${duckMask("substr(c_name, 1, 9)")} || substr(c_name, 10) AS m_first9,
             substr(c_name, 1, greatest(length(c_name) - 3, 0))
               || ${duckMask("substr(c_name, greatest(length(c_name) - 3, 0) + 1)")} AS m_last3,
             substr(c_name, 1, 9) || ${duckMask("substr(c_name, 10)")} AS m_show_first9,
             ${duckMask("substr(c_name, 1, greatest(length(c_name) - 3, 0))")}
               || substr(c_name, greatest(length(c_name) - 3, 0) + 1) AS m_show_last3,
             md5(c_mktsegment) AS m_hash
      FROM customer WHERE c_custkey < 120
      ORDER BY c_custkey""",

    "sort_array_struct" -> """
      SELECT c_nationkey,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
               ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey)
               - 1 AS INT) AS pos,
             c_custkey
      FROM customer WHERE c_custkey < 400
      ORDER BY c_nationkey, pos""",

    "replicate_rows_fns" -> """
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
             CAST(o_orderkey % 3 + 1 AS BIGINT) AS n_rows
      FROM orders WHERE o_orderkey < 300
      ORDER BY o_orderkey""",

    "aes_roundtrip" -> """
      SELECT c_custkey, c_name AS name_roundtrip
      FROM customer WHERE c_custkey < 200
      ORDER BY c_custkey""",

    "uniontype_encode" -> """
      WITH t AS (
        SELECT CASE WHEN o_totalprice > 150000
                 THEN CAST(union_value(field0 := o_totalprice)
                           AS UNION(field0 DOUBLE, field1 VARCHAR))
                 ELSE CAST(union_value(field1 := o_orderstatus)
                           AS UNION(field0 DOUBLE, field1 VARCHAR)) END AS u
        FROM orders)
      SELECT CASE union_tag(u) WHEN 'field0' THEN 0 ELSE 1 END AS tag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN union_tag(u) = 'field0'
                           THEN CAST(ROUND(union_extract(u, 'field0') * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS price_cents,
             MAX(union_extract(u, 'field1')) AS max_status
      FROM t GROUP BY 1 ORDER BY tag""",

    "sample_weighted_aes" -> aesSql(spark = false),

    // identical md5-hex thresholding (DuckDB md5 takes VARCHAR directly)
    "sample_split_hash" -> """
      SELECT doc_id, source,
             CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                  WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS row_split,
             CASE WHEN SUBSTR(MD5(source), 1, 2) < 'cc' THEN 'train'
                  WHEN SUBSTR(MD5(source), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS group_split
      FROM documents
      ORDER BY doc_id""",

    "string_fns" -> """
      SELECT c_custkey,
             CONCAT_WS('|', c_name, c_mktsegment) AS joined,
             UPPER(c_name) AS up,
             LOWER(c_mktsegment) AS lo,
             SUBSTR(c_name, 10, 5) AS sub,
             LENGTH(c_name) AS len,
             LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
             RPAD(c_mktsegment, 12, '.') AS rpadded,
             REVERSE(c_name) AS rev,
             REPLACE(c_name, 'Customer#', 'C-') AS repl,
             TRIM(LPAD(c_mktsegment, 20, ' ')) AS trimmed,
             INSTR(c_name, '#') AS hashpos,
             REPEAT('ab', 3) AS rep,
             ASCII(c_mktsegment) AS first_ascii,
             TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS translated,
             REGEXP_REPLACE(c_name, '[0-9]+', 'N', 'g') AS renum,
             REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS digits,
             CAST(REGEXP_MATCHES(c_name, 'Customer#0+1.*') AS INT) AS rl
      FROM customer
      WHERE c_custkey < 200
      ORDER BY c_custkey""",

    "string_fns2" -> """
      SELECT c_custkey,
             CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'AUTOMOBILE' THEN 2
                               WHEN 'MACHINERY' THEN 3 WHEN 'HOUSEHOLD' THEN 4
                               WHEN 'FURNITURE' THEN 5 ELSE 0 END AS seg_idx,
             SPLIT_PART(c_name, '#', 1) AS name_prefix,
             SPLIT_PART(c_name, '#', 2) AS name_suffix,
             STRPOS(c_name, '0') AS zero_pos,
             ['alpha','beta','gamma'][1 + CAST(c_custkey % 3 AS INT)] AS bucket3,
             '   ' || c_mktsegment AS padded,
             TO_BASE64(ENCODE(c_mktsegment)) AS b64,
             c_name AS roundtrip,
             SPLIT_PART(c_name, '#', 2) AS after_hash,
             LEFT(c_name, 8) AS l8,
             RIGHT(c_name, 4) AS r4,
             LENGTH(c_name) AS clen
      FROM customer
      WHERE c_custkey < 150
      ORDER BY c_custkey""",

    "json_roundtrip" -> """
      SELECT o_orderkey,
             o_orderkey AS k_back,
             o_orderstatus AS s_back,
             o_totalprice AS price_back
      FROM orders WHERE o_orderkey < 200
      ORDER BY o_orderkey""",

    "date_fns" -> """
      SELECT o_orderkey,
             YEAR(o_orderdate) AS y,
             MONTH(o_orderdate) AS m,
             DAY(o_orderdate) AS d,
             QUARTER(o_orderdate) AS q,
             WEEKOFYEAR(o_orderdate) AS wk,
             CAST(o_orderdate AS DATE) + 30 AS plus30,
             CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
             LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
             DATE_TRUNC('month', o_orderdate) AS month_start,
             DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_2000,
             CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s,
             STRFTIME(o_orderdate, '%Y-%m-%d') AS fmt
      FROM orders
      WHERE o_orderkey < 300
      ORDER BY o_orderkey""",

    "math_fns" -> """
      SELECT p_partkey,
             ROUND(p_retailprice, 1) AS r1,
             CAST(FLOOR(p_retailprice) AS BIGINT) AS fl,
             CAST(CEIL(p_retailprice) AS BIGINT) AS ce,
             ABS(-p_size) AS ab,
             ROUND(SQRT(p_size), 9) AS sq,
             ROUND(CBRT(p_size), 9) AS cb,
             ROUND(EXP(p_size / 100.0), 9) AS ex,
             ROUND(LN(p_size + 1), 9) AS lg,
             ROUND(LOG10(p_size + 1), 9) AS l10,
             POWER(p_size, 2) AS p2,
             ((-p_size % 7) + 7) % 7 AS pm,
             CAST(SIGN(p_size - 25) AS DOUBLE) AS sg,
             UPPER(TO_HEX(p_size)) AS hx,
             p_size << 2 AS shl,
             CAST(FACTORIAL(p_size % 10) AS BIGINT) AS fact
      FROM part
      WHERE p_partkey < 300
      ORDER BY p_partkey""",

    "conditional_fns" -> """
      SELECT s_suppkey,
             CASE WHEN s_acctbal < 0 THEN 'neg'
                  WHEN s_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS bucket,
             CASE WHEN s_acctbal > 0 THEN 1 ELSE 0 END AS pos_flag,
             COALESCE(NULLIF(s_name, 'Supplier#000000000'), '<zero>') AS nm,
             COALESCE(NULLIF(s_nationkey, 0), -1) AS nk,
             GREATEST(s_acctbal, 0.0) AS bal_floor,
             LEAST(s_acctbal, 1000.0) AS bal_cap,
             CAST(NULLIF(s_nationkey, 3) IS NULL AS INT) AS is_n3,
             CASE s_nationkey WHEN 0 THEN 'zero' WHEN 1 THEN 'one' ELSE 'other' END AS nk_name
      FROM supplier
      ORDER BY s_suppkey""",

    "complex_type_fns" -> """
      SELECT doc_id,
             LEN(STRING_SPLIT(text, ' ')) AS n_toks,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_uniq,
             CAST(LIST_CONTAINS(STRING_SPLIT(text, ' '), 'data') AS INT) AS has_data,
             LIST_SORT(STRING_SPLIT(text, ' ')[1:3])[1] AS first3_min,
             ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:4], '_') AS first4,
             STRING_SPLIT(text, ' ')[2] AS tok2,
             n_chars AS meta_n,
             LIST_MAX(LIST_TRANSFORM(STRING_SPLIT(text, ' '), w -> LENGTH(w))) AS max_tok_len
      FROM documents
      WHERE doc_id < 100
      ORDER BY doc_id""",

    "json_fns" -> """
      SELECT event_id,
             CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) AS k
      FROM events
      WHERE user_id <= 10
      ORDER BY event_id""",

    "lateral_view_explode" -> """
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents) u
      WHERE word <> ''
      GROUP BY word
      ORDER BY cnt DESC, word
      LIMIT 30""",

    "lateral_view_posexplode" -> """
      SELECT doc_id, pos, toks[pos + 1] AS word
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents WHERE doc_id < 50),
           (SELECT UNNEST([0, 1, 2]) AS pos)
      WHERE pos < LEN(toks)
      ORDER BY doc_id, pos""",

    "lateral_view_outer" -> """
      SELECT doc_id,
             UNNEST(CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '), w -> w = 'zzz')) = 0
                         THEN [NULL]
                         ELSE LIST_FILTER(STRING_SPLIT(text, ' '), w -> w = 'zzz') END) AS rare_word
      FROM documents
      WHERE doc_id < 100
      ORDER BY doc_id""",

    "udtf_stack" -> """
      SELECT k, v FROM (VALUES ('a', 1), ('b', 2), ('c', 3)) t(k, v) ORDER BY k""",

    "udtf_inline" -> """
      SELECT id, name FROM (VALUES (1, 'x'), (2, 'y')) t(id, name) ORDER BY id""",

    "udtf_json_tuple" -> """
      SELECT event_id, CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) AS k
      FROM events
      WHERE user_id <= 5
      ORDER BY event_id""",

    "url_fns" -> """
      SELECT p_partkey,
             'parts.example.com' AS host,
             '/catalog/' || REPLACE(LOWER(p_type), ' ', '-') AS path,
             'brand=' || REPLACE(p_brand, '#', '') || '&size=' || CAST(p_size AS VARCHAR) AS query,
             REPLACE(p_brand, '#', '') AS brand,
             'https' AS protocol
      FROM part WHERE p_partkey < 200
      ORDER BY p_partkey""",

    "transform_script" -> """
      SELECT CAST(l_orderkey AS VARCHAR) AS key,
             CAST(l_linenumber AS VARCHAR) AS val
      FROM lineitem
      WHERE l_orderkey <= 40
      ORDER BY l_orderkey, l_linenumber""",

    "url_tuple" -> """
      SELECT p_partkey,
             'parts.example.com' AS host,
             '/catalog/' || REPLACE(LOWER(p_type), ' ', '-') AS path,
             REPLACE(p_brand, '#', '') AS brand
      FROM part WHERE p_partkey < 200
      ORDER BY p_partkey"""
  )
}
