package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions._

class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = LocalSpark.spark
  import spark.implicits._

  test("hash64 is deterministic and seed-sensitive") {
    val b = "hello world".getBytes("UTF-8")
    assert(Hashing.hash64(b, 0, b.length, 0L) == Hashing.hash64(b, 0, b.length, 0L))
    assert(Hashing.hash64(b, 0, b.length, 0L) != Hashing.hash64(b, 0, b.length, 1L))
    assert(Hashing.hash64(b, 0, 5, 0L) != Hashing.hash64(b, 0, b.length, 0L))
  }

  test("char_ngrams: multiplicity, boundaries, short inputs; trigram langid on real text") {
    GraftFunctions.register(spark)
    val grams = spark.sql("SELECT char_ngrams('Aba ab', 3)")
      .collect().head.getSeq[String](0)
    assert(grams == Seq("aba", "ba ", "a a", " ab"))
    assert(spark.sql("SELECT char_ngrams('ab', 3)")
      .collect().head.getSeq[String](0).isEmpty)
    // the profile scorer must classify REAL sentences correctly (the
    // harness corpus is synthetic; this pins actual classifier behavior)
    val sentences = Seq(
      ("en", "the quick brown fox is in the garden and it is hunting for food"),
      ("de", "der schnelle braune fuchs ist in dem garten und die katze schläft"),
      ("fr", "le renard brun est dans le jardin et les chats dorment que du bonheur"))
    sentences.foreach { case (expect, text) =>
      val pred = spark.sql(s"""
        SELECT CASE WHEN t_en >= t_de AND t_en >= t_fr THEN 'en'
                    WHEN t_de >= t_fr THEN 'de' ELSE 'fr' END
        FROM (SELECT
          STOPWORD_RATIO(char_ngrams('$text', 3), ARRAY('the','he ',' th','ing','ng ',' an','and','nd ','ion','on ',' of','of ',' to','to ','ed ','er ',' in','in ','at ','ent','es ','tio','ati',' co','for',' fo',' is','is ','tha','hat')) AS t_en,
          STOPWORD_RATIO(char_ngrams('$text', 3), ARRAY('en ','er ',' de','der','ie ','die','sch','ein',' ei','che','ch ','ung',' un','und','ich',' ge','ver',' ve','ten','den','ber',' be','das',' da','cht','ht ','gen','nen',' au','ne ')) AS t_de,
          STOPWORD_RATIO(char_ngrams('$text', 3), ARRAY(' de','de ','es ','le ',' le','ent','nt ','la ',' la','ion','on ','re ',' co','que',' qu','ue ','les','et ',' et','eur','our',' po','ur ','ans',' pa','tio','men','ait','e d',' du')) AS t_fr)
      """).collect().head.getString(0)
      assert(pred == expect, s"trigram langid misclassified '$expect' sentence as '$pred'")
    }
  }

  test("approx_topk through the engine: multi-partition exact regime + ordering") {
    GraftFunctions.register(spark)
    // 16 partitions force partial buffers through serialize/merge
    spark.createDataset((1 to 300).map(i => s"v${i % 7}")).repartition(16)
      .toDF("s").createOrReplaceTempView("atk_in")
    val got = spark.sql("SELECT INLINE(approx_topk(s, 7, 32)) FROM atk_in")
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val expect = (1 to 300).map(i => s"v${i % 7}")
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.toMap == expect, s"counts drifted: ${got.toSeq}")
    // output ordered by (cnt desc, item)
    assert(got.toSeq == got.toSeq.sortBy { case (i, c) => (-c, i) })
    // null rows skipped
    val withNull = spark.sql(
      "SELECT approx_topk(v, 1, 4)[0].cnt FROM VALUES ('a'), (CAST(NULL AS STRING)), ('a') t(v)")
      .collect().head.getLong(0)
    assert(withNull == 2L)
  }

  test("cosine_sim_d: exact values, -2.0 zero-norm guard, loud null element") {
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT cosine_sim_d(array(3.0d, 4.0d), array(3.0d, 4.0d))")
      .collect().head.getDouble(0) == 1.0)
    assert(spark.sql("SELECT cosine_sim_d(array(1.0d, 0.0d), array(0.0d, 1.0d))")
      .collect().head.getDouble(0) == 0.0)
    // zero norm → -2.0 (total for argmax), not NULL
    assert(spark.sql("SELECT cosine_sim_d(array(0.0d, 0.0d), array(1.0d, 0.0d))")
      .collect().head.getDouble(0) == -2.0)
    // length mismatch → NULL (matches the float kernel)
    assert(spark.sql("SELECT cosine_sim_d(array(1.0d), array(1.0d, 0.0d))")
      .collect().head.isNullAt(0))
    // null ELEMENT fails loudly — ArrayData.getDouble would read 0.0
    val ex = intercept[Exception] {
      spark.sql("SELECT cosine_sim_d(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d))").collect()
    }
    assert(ex.getMessage.contains("null element") ||
      ex.getCause != null && ex.getCause.getMessage.contains("null element"))
  }

  test("lang_trigram_scores equals the composed CHAR_NGRAMS+STOPWORD_RATIO spelling") {
    GraftFunctions.register(spark)
    def arr(g: Seq[String]) = g.map(s => s"'$s'").mkString("ARRAY(", ",", ")")
    val en = arr(LangProfiles.en); val de = arr(LangProfiles.de)
    val fr = arr(LangProfiles.fr)
    // real docs text: the fused rolling-window kernel must be
    // bit-identical to the materialized-gram spelling on every row
    graft.Tables.register(spark, LocalSpark.sf)
    val diff = spark.sql(s"""
      SELECT doc_id FROM (
        SELECT doc_id, LANG_TRIGRAM_SCORES(text) AS sc,
               STOPWORD_RATIO(CHAR_NGRAMS(text, 3), $en) AS c_en,
               STOPWORD_RATIO(CHAR_NGRAMS(text, 3), $de) AS c_de,
               STOPWORD_RATIO(CHAR_NGRAMS(text, 3), $fr) AS c_fr
        FROM documents)
      WHERE (sc IS NULL) <> (c_en IS NULL)
         OR sc.t_en <> c_en OR sc.t_de <> c_de OR sc.t_fr <> c_fr""").count()
    assert(diff == 0, s"$diff rows diverge between fused and composed scorers")
  }

  test("cosine_sim: identity, orthogonality, nulls") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(3.0f, 4.0f, 0.0f), Array(3.0f, 4.0f, 0.0f))
    ).toDF("id", "a", "b")
    val rows = df.select($"id", GraftFunctions.cosine_sim($"a", $"b").as("c"))
      .orderBy($"id").collect()
    assert(math.abs(rows(0).getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(rows(1).getDouble(1)) < 1e-12)
    assert(math.abs(rows(2).getDouble(1) - 1.0) < 1e-12)
    // length mismatch → null
    val bad = Seq((Array(1.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(GraftFunctions.cosine_sim($"a", $"b")).collect()
    assert(bad(0).isNullAt(0))
  }

  test("simhash64: order-independent, near sets are hamming-close") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f", "g", "h")),
      (2L, Seq("h", "g", "f", "e", "d", "c", "b", "a")),
      (3L, Seq("a", "b", "c", "d", "e", "f", "g", "zzz")),
      (4L, Seq("p", "q", "r", "s", "t", "u", "v", "w"))
    ).toDF("id", "toks")
    val h = df.select($"id", GraftFunctions.simhash64($"toks").as("h"))
      .orderBy($"id").collect().map(_.getLong(1))
    assert(h(0) == h(1)) // permutation invariant
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0), h(2)) < ham(h(0), h(3)))
  }

  test("minhash_sig: jaccard estimate within tolerance") {
    val a = (0 until 100).map("x" + _)
    val b = (50 until 150).map("x" + _) // true jaccard = 50/150 = 1/3
    val df = Seq((1L, a), (2L, b)).toDF("id", "toks")
    val sigs = df.select($"id", GraftFunctions.minhash_sig($"toks", 128).as("s"))
      .orderBy($"id").collect().map(_.getSeq[Long](1))
    assert(sigs(0).length == 128)
    val est = sigs(0).zip(sigs(1)).count { case (x, y) => x == y } / 128.0
    assert(math.abs(est - 1.0 / 3.0) < 0.15, s"estimate $est")
    // identical input → identical signature
    val again = df.where($"id" === 1)
      .select(GraftFunctions.minhash_sig($"toks", 128)).collect()(0).getSeq[Long](0)
    assert(again == sigs(0))
  }

  test("winnow_fingerprint: deterministic, bounded, shift-tolerant") {
    val text = "the quick brown fox jumps over the lazy dog" * 3
    val df = Seq((1L, text), (2L, text), (3L, "xy")).toDF("id", "t")
    val fps = df.select($"id", GraftFunctions.winnow_fingerprint($"t", 8, 4).as("fp"))
      .orderBy($"id").collect().map(_.getSeq[Long](1))
    assert(fps(0) == fps(1))
    assert(fps(0).nonEmpty && fps(0).length <= text.length)
    assert(fps(2).isEmpty) // shorter than k
    // winnowing property: shared long substring → shared fingerprints
    val other = "PREFIX-" + text
    val fp2 = Seq(other).toDF("t")
      .select(GraftFunctions.winnow_fingerprint($"t", 8, 4)).collect()(0).getSeq[Long](0)
    val shared = fps(0).toSet.intersect(fp2.toSet)
    assert(shared.size > fps(0).size / 4)
  }

  test("jaccard_sim equals the SIZE(ARRAY_INTERSECT)/SIZE(ARRAY_UNION) spelling") {
    GraftFunctions.register(spark)
    // duplicates inside an input must count once (set semantics), and
    // results must be bit-identical to the composed built-ins
    val rows = spark.sql("""
      SELECT JACCARD_SIM(a, b) AS j,
             SIZE(ARRAY_INTERSECT(a, b)) / SIZE(ARRAY_UNION(a, b)) AS ref
      FROM VALUES
        (ARRAY('x','y','z'), ARRAY('y','z','w')),
        (ARRAY('x','x','y'), ARRAY('y','y','x')),
        (ARRAY('a'), ARRAY('b')),
        (ARRAY('a','b'), ARRAY('a','b')) AS t(a, b)""").collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"kernel ${r.getDouble(0)} vs composed ${r.getDouble(1)}"))
    // empty-vs-empty: composed spelling divides 0/0; kernel defines 0.0
    val e = spark.sql(
      "SELECT JACCARD_SIM(CAST(ARRAY() AS ARRAY<STRING>), CAST(ARRAY() AS ARRAY<STRING>)) AS j"
    ).collect()(0)
    assert(e.getDouble(0) == 0.0)
  }

  test("field(): 1-based index, 0 when absent/null") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT FIELD('b','a','b','c') AS f1, FIELD('z','a','b') AS f2, FIELD(CAST(NULL AS STRING),'a') AS f3"
    ).collect()(0)
    assert(r.getInt(0) == 2 && r.getInt(1) == 0 && r.getInt(2) == 0)
  }

  test("field() over columns: codegen path agrees with interpreted, stays in WholeStageCodegen") {
    GraftFunctions.register(spark)
    // a range() scan (not a LocalRelation, which ConvertToLocalRelation
    // folds via the interpreted path) so the expression really generates
    // code; a CodegenFallback here would break the stage's codegen span
    val q = spark.sql(
      "SELECT FIELD(CAST(id AS STRING), '1', '2', '3') AS f FROM RANGE(5) ORDER BY id")
    assert(q.collect().map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3, 0))
    // inspect AFTER execution — AQE only renders codegen spans (*(n)) in
    // the finalized plan. The *(n) prefix must be on the fieldfn
    // PROJECTION LINE itself: a plan-wide contains("*(") is vacuously
    // true from the Range scan even when the fieldfn Project fell out of
    // codegen (exactly what happened while FieldFn was a CodegenFallback)
    // only the "== Final Plan ==" section — the AQE dump repeats the
    // plan under "== Initial Plan ==" without codegen stars
    def finalPlanLines(s: String): Seq[String] =
      s.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toSeq
    val planStr = q.queryExecution.executedPlan.toString
    val fieldLines = finalPlanLines(planStr).filter(_.contains("fieldfn"))
    assert(fieldLines.nonEmpty, s"expected a fieldfn projection in:\n$planStr")
    assert(fieldLines.forall(_.contains("*(")),
      s"fieldfn projection fell out of whole-stage codegen:\n$planStr")
    // heterogeneous argument types run the boxed kernel — also inside
    // the codegen span, with .equals semantics (no cross-type equality)
    val mixed = spark.sql("SELECT FIELD(CAST(id AS STRING), '1', 1) AS f FROM RANGE(2) ORDER BY id")
    assert(mixed.collect().map(_.getInt(0)).toSeq == Seq(0, 1))
    val mixedLines = finalPlanLines(mixed.queryExecution.executedPlan.toString)
      .filter(_.contains("fieldfn"))
    assert(mixedLines.nonEmpty && mixedLines.forall(_.contains("*(")),
      s"mixed-type fieldfn must stay in codegen:\n${mixed.queryExecution.executedPlan}")
  }

  test("lsh_buckets: shape, range, scale-invariance") {
    val v = Array.tabulate(64)(i => (math.sin(i + 1)).toFloat)
    val df = Seq((1L, v), (2L, v.map(_ * 2.5f))).toDF("id", "e")
    val bs = df.select($"id", GraftFunctions.lsh_buckets($"e", 4, 10).as("b"))
      .orderBy($"id").collect().map(_.getSeq[Int](1))
    assert(bs(0).length == 4)
    assert(bs(0).forall(b => b >= 0 && b < 1024))
    assert(bs(0) == bs(1)) // positive scaling preserves signs
  }

  test("ngrams_topk matches exact counts on a small corpus") {
    GraftFunctions.register(spark)
    val docs = Seq(
      Seq("a", "b", "a", "b", "c"),
      Seq("a", "b", "c", "d"),
      Seq("b", "c", "d")
    ).toDF("toks")
    docs.createOrReplaceTempView("ngdocs")
    val got = spark.sql(
      "SELECT EXPLODE(ngrams_topk(toks, 2, 3, 1000)) AS g FROM ngdocs"
    ).select($"g.ngram", $"g.freq").collect().map(r => (r.getString(0), r.getLong(1)))
    // bigram counts: "a b"->3 ("a b" twice in doc1? doc1 bigrams: ab, ba, ab, bc → "a b"=2,"b a"=1,"b c"=1; doc2: ab, bc, cd; doc3: bc, cd
    // totals: "a b"=3, "b c"=3, "c d"=2, "b a"=1 → top3 = (a b,3),(b c,3),(c d,2)
    assert(got.toSeq == Seq(("a b", 3L), ("b c", 3L), ("c d", 2L)))
  }

  test("tokenize/shingle_set match the composed built-in pipelines exactly") {
    Tables.register(spark, LocalSpark.sf)
    GraftFunctions.register(spark)
    // equivalence on the real corpus, not samples — any drift breaks
    // oracle parity for every dedup/text query
    val diff = spark.sql("""
      SELECT COUNT(*) AS bad FROM (
        SELECT TOKENIZE(text) AS fast,
               FILTER(SPLIT(LOWER(text), ' '), w -> w <> '') AS slow,
               SHINGLE_SET(text, 3) AS fastsh,
               ARRAY_SORT(ARRAY_DISTINCT(TRANSFORM(
                 SEQUENCE(0, GREATEST(SIZE(FILTER(SPLIT(LOWER(text),' '), w -> w <> '')) - 3, -1)),
                 i -> CONCAT_WS(' ', SLICE(FILTER(SPLIT(LOWER(text),' '), w -> w <> ''), i + 1, 3))))) AS slowsh
        FROM documents)
      WHERE fast <> slow OR ARRAY_SORT(fastsh) <> slowsh
    """).collect()(0).getLong(0)
    assert(diff == 0)
    // edge cases
    val edge = spark.sql(
      "SELECT TOKENIZE('  A  b   '), SHINGLE_SET('a b', 3), SHINGLE_SET('', 3)").collect()(0)
    assert(edge.getSeq[String](0) == Seq("a", "b"))
    assert(edge.getSeq[String](1).isEmpty)
    assert(edge.getSeq[String](2).isEmpty)
    // n=5 (text_decontaminate's width): 4 tokens → empty, 5 → one, 6 → two
    val e5 = spark.sql(
      "SELECT SHINGLE_SET('a b c d', 5), SHINGLE_SET('a b c d e', 5), SHINGLE_SET('a b c d e f', 5)").collect()(0)
    assert(e5.getSeq[String](0).isEmpty)
    assert(e5.getSeq[String](1) == Seq("a b c d e"))
    assert(e5.getSeq[String](2).toSet == Set("a b c d e", "b c d e f"))
  }

  test("parse_url_tuple generator agrees with parse_url per part") {
    GraftFunctions.register(spark)
    Seq(
      "https://user@host.example.com:8080/a/b.html?x=1&y=2#frag",
      "http://plain.org/path",
      "ftp://files.net/dir/f.txt?x=only"
    ).toDF("url").createOrReplaceTempView("urls")
    val got = spark.sql("""
      SELECT t.h, t.p, t.q, t.x, t.r
      FROM urls
      LATERAL VIEW PARSE_URL_TUPLE(url, 'HOST', 'PATH', 'QUERY', 'QUERY:x', 'REF') t AS h, p, q, x, r
      ORDER BY t.h""").collect()
    val expect = spark.sql("""
      SELECT PARSE_URL(url, 'HOST') h, PARSE_URL(url, 'PATH') p,
             PARSE_URL(url, 'QUERY') q, PARSE_URL(url, 'QUERY', 'x') x,
             PARSE_URL(url, 'REF') r
      FROM urls ORDER BY h""").collect()
    assert(got.toSeq == expect.toSeq)
    assert(got.length == 3)
  }

  test("stopword_ratio equals the FILTER/ARRAY_CONTAINS spelling") {
    GraftFunctions.register(spark)
    Seq("the cat sat on the mat", "der hund", "", "xyz").toDF("text")
      .createOrReplaceTempView("swdocs")
    val rows = spark.sql("""
      SELECT STOPWORD_RATIO(TOKENIZE(text), ARRAY('the','on','der')) AS a,
             CASE WHEN SIZE(TOKENIZE(text)) = 0 THEN CAST(NULL AS DOUBLE)
                  ELSE SIZE(FILTER(TOKENIZE(text), w -> ARRAY_CONTAINS(ARRAY('the','on','der'), w))) / SIZE(TOKENIZE(text)) END AS b
      FROM swdocs""").collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
  }

  test("damerau_levenshtein: true-DL recurrence, edges, null safety") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT damerau_levenshtein('kitten', 'sitting'),
                damerau_levenshtein('ca', 'abc'),
                damerau_levenshtein('ab', 'ba'),
                damerau_levenshtein('', 'abc'),
                damerau_levenshtein('abc', ''),
                damerau_levenshtein('same', 'same'),
                damerau_levenshtein(CAST(NULL AS STRING), 'x')""").collect().head
    assert(rows.getInt(0) == 3)
    // the sentinel separating true DL from optimal-string-alignment:
    // ca -> ac (transpose) -> abc (insert) = 2; OSA forbids the post-
    // transposition edit and returns 3
    assert(rows.getInt(1) == 2)
    assert(rows.getInt(2) == 1)   // one transposition, not two edits
    assert(rows.getInt(3) == 3 && rows.getInt(4) == 3)
    assert(rows.getInt(5) == 0)
    assert(rows.isNullAt(6))
  }

  test("jaro_winkler: textbook values, boost gate, DuckDB edge semantics") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT jaro_winkler('martha', 'marhta'),
                jaro_winkler('dwayne', 'duane'),
                jaro_winkler('dixon', 'dicksonx'),
                jaro_winkler('a', 'a'),
                jaro_winkler('', ''),
                jaro_winkler('a', 'ab'),
                jaro_winkler('abcdefghij', 'abzzzzzzzzzzzzzzz')""").collect().head
    assert(r.getDouble(0) == 0.9611111111111111)
    assert(r.getDouble(1) == 0.8400000000000001)
    assert(r.getDouble(2) == 0.8133333333333332)
    // 1-char equal strings need the clamped (>=0) match window
    assert(r.getDouble(3) == 1.0)
    // DuckDB defines empty-vs-empty as 0.0, not 1.0 — mirrored
    assert(r.getDouble(4) == 0.0)
    assert(r.getDouble(5) == 0.8500000000000001)
    // jaro <= 0.7 -> NO prefix boost despite the common 'ab' prefix
    assert(r.getDouble(6) == 0.4392156862745098)
  }

  test("context_ngrams: top fillers for a wildcard slot") {
    GraftFunctions.register(spark)
    Seq(
      Seq("big", "data", "rocks"),
      Seq("my", "data", "rocks"),
      Seq("data", "flows", "here"),
      Seq("no", "match", "here")
    ).toDF("toks").createOrReplaceTempView("ctxdocs")
    val got = spark.sql(
      "SELECT EXPLODE(context_ngrams(toks, ARRAY('data', CAST(NULL AS STRING)), 2)) AS g FROM ctxdocs"
    ).select($"g.ngram", $"g.freq").collect().map(r => (r.getString(0), r.getLong(1)))
    // words following 'data': rocks×2, flows×1 → top2
    assert(got.toSeq == Seq(("rocks", 2L), ("flows", 1L)))
  }

  test("deflate_len: compression-ratio signal separates repetition from entropy") {
    graft.functions.GraftFunctions.register(spark)
    def dl(expr: String): Int =
      spark.sql(s"SELECT deflate_len($expr)").first().getInt(0)
    val rep = dl("repeat('spark ', 200)")        // 1200 bytes of boilerplate
    val mixed = dl("repeat('the cat sat on a mat and then ran off ', 30)")
    // pseudo-random hex: high entropy, near-incompressible per byte
    val noise = dl("concat_ws('', transform(sequence(1, 150), i -> md5(cast(i as string))))")
    assert(rep < 60, s"repetition must crush: $rep")
    assert(noise > 2000, s"4800 hex chars of noise stay large: $noise")
    assert(rep < mixed && mixed < noise, s"$rep < $mixed < $noise ordering")
    // determinism within the JVM (the rows-only contract)
    assert(dl("repeat('spark ', 200)") == rep)
    // the quality query: every doc accounted, flags within bounds
    Tables.register(spark, LocalSpark.sf)
    val rows = graft.operators.TextAnalysis
      .queries("text_compression_quality")(spark, LocalSpark.sf).collect()
    assert(rows.map(_.getLong(1)).sum == spark.table("documents").count())
    rows.foreach { r =>
      assert(r.getLong(2) > 0 && r.getLong(2) < 2000000)
      assert(r.getLong(3) + r.getLong(4) <= r.getLong(1))
    }
  }

  test("sign_rand_proj: matches the SQL parity formula; guards dim and nulls") {
    // the kernel's precomputed matrix must equal the quadratic-residue
    // parity both oracle dialects spell in SQL, and the projection of a
    // one-hot quantized vector reads the matrix back directly
    def signOf(i: Long, j: Long): Double = {
      val t = (i * 73856093L + j * 19349663L) % 1000003L
      if (((t * t) % 1000003L) % 2 == 0) 1.0 else -1.0
    }
    for (hot <- Seq(1, 7, 64)) {
      val v = Array.tabulate(64)(d => if (d == hot - 1) 1000000.0 else 0.0)
      val out = Seq(v).toDF("qe")
        .select(GraftFunctions.sign_rand_proj(col("qe")).as("p"))
        .head().getSeq[Double](0)
      assert(out.length == 16)
      (1 to 16).foreach { j =>
        assert(out(j - 1) == signOf(hot, j) * 1000000.0, s"(i=$hot, j=$j)")
      }
    }
    val short = intercept[Exception] {
      Seq(Array.fill(8)(1.0)).toDF("qe")
        .select(GraftFunctions.sign_rand_proj(col("qe"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(short).exists(_.contains("expected dim 64")), msgs(short))
  }
}
