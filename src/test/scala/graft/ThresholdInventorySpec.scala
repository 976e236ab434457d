package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fixed-threshold/cap adjudication gate.
  *
  * Operators have sat oracle-green while silently degraded at scale,
  * because a constant tuned at sf0.01-0.1 drifted out of its regime as
  * a corpus-dependent distribution shifted: the fixed 6-plane LSH
  * geometry (per-bucket occupancy grows linearly with the corpus) and
  * the fixed `ppl <= 30` curation gate (the corpus-trained LM's
  * perplexity floor drifts past any constant). Both are instances of
  * ONE defect class. This spec
  * turns the lesson into a standing gate: every comparison-form
  * threshold constant in the operator sources is detected by pattern
  * and must carry exactly one classification:
  *
  *  - invariant: scale-invariant by ARGUMENT — a per-row/per-pair
  *    ratio, a similarity score on a bounded domain, a fixed edit/
  *    hamming radius, or a fixed-size output contract (top-k report).
  *    Meaning does not drift with corpus size; only result cardinality
  *    scales.
  *  - adaptive: the constant is the DESIGN POINT of an adaptive
  *    control computed from corpus stats (the LSH occupancy target 64
  *    maintained by pe = min p with n <= 64*2^p; the quantile gate).
  *  - fixed(<drift>): deliberately constant, with the direction of
  *    scale drift stated — these are the sites a future change must
  *    re-examine when a rowratio suspect fires.
  *
  * A NEW constant matching the detectors (or a new occurrence of a
  * pinned one) fails this suite until classified here — the
  * FloatDisciplineSpec pin-set discipline applied to scale safety.
  * Kernel-geometry constants (16 LSH tables, 64 minhash perms, 7
  * simhash bands) are call arguments, not comparisons; they are
  * adjudicated in their operators' design comments and measured in
  * PipelineSpec, and the band/table count is itself the documented
  * scale knob there.
  */
class ThresholdInventorySpec extends AnyFunSuite {

  private val OperatorsDir = "src/main/scala/graft/operators"

  // ---- detectors ----------------------------------------------------
  private val detectors: Seq[(String, scala.util.matching.Regex)] = Seq(
    "having-cap"     -> """HAVING COUNT\(\*\) <= \d+""".r,
    "support-floor"  -> """HAVING COUNT\(\*\) >= \d+""".r,
    "topk-limit"     -> """\.limit\(\d+\)""".r,
    "probe-set"      -> """(?:vec_id|user_id|qid)"?\)?\s*(?:<=|<)\s*(?:lit\()?\d+""".r,
    "tau-cut"        -> """(?:>=|<=|>|<)\s*0\.\d+""".r,
    "count-col-cap"  -> """col\("(?:c|bsz|n_shared|cnt|csize|sz)"\)\s*(?:<=|>=)\s*\d+""".r,
    "hamming-radius" -> """(?i)bit_count\(.*?\)\s*<=\s*\d+""".r
  )

  /** Comment-stripped source so prose mentioning a number never counts
    * as a site — WITHOUT blinding the detectors:
    * a `*`-led line is dropped only INSIDE a real block comment (SQL
    * multiplication continuations like `* CAST(v AS ...)` are code),
    * and a `//` starts a line comment only OUTSIDE string literals
    * (oracle SQL uses DuckDB's `//` integer division inside strings). */
  private def codeOf(path: java.nio.file.Path): String = {
    var inBlock = false
    java.nio.file.Files.readString(path).linesIterator.map { l =>
      val t = l.trim
      if (inBlock) {
        if (t.contains("*/")) inBlock = false
        ""
      } else if (t.startsWith("/*")) {
        if (!t.contains("*/")) inBlock = true
        ""
      } else {
        // quote-aware line-comment strip: `//` counts only with an
        // EVEN number of '"' before it (outside any string literal)
        var i = 0; var quotes = 0; var cut = -1
        while (i < l.length - 1 && cut < 0) {
          if (l.charAt(i) == '"') quotes += 1
          else if (l.charAt(i) == '/' && l.charAt(i + 1) == '/' && quotes % 2 == 0)
            cut = i
          i += 1
        }
        if (cut >= 0) l.substring(0, cut) else l
      }
    }.mkString("\n")
  }

  private def detected(): Map[(String, String, String), Int] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(OperatorsDir))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val counts = scala.collection.mutable.Map[(String, String, String), Int]()
    for (f <- files) {
      val code = codeOf(f)
      val name = f.getFileName.toString
      for ((tag, re) <- detectors; m <- re.findAllMatchIn(code)) {
        // a '>' or '<' that is really a lambda arrow / XML-ish token:
        // skip comparisons immediately preceded by '-' (e.g. "-> 0.5")
        val arrow = tag == "tau-cut" && m.start > 0 && code.charAt(m.start - 1) == '-'
        if (!arrow) {
          val key = (name, tag, m.matched.replaceAll("\\s+", " "))
          counts(key) = counts.getOrElse(key, 0) + 1
        }
      }
    }
    counts.toMap
  }

  // ---- the adjudicated inventory ------------------------------------
  // (file, detector, matched text) -> (occurrences, classification)
  private val inventory: Map[(String, String, String), (Int, String)] = Map(
    ("Acid.scala", "topk-limit", ".limit(1)") ->
      (1, "invariant: structural single-row pick (latest txn id)"),
    ("Curation.scala", "tau-cut", ">= 0.2") ->
      (1, "invariant: per-doc distinct-token ratio (C4 diversity gate)"),
    ("Curation.scala", "tau-cut", ">= 0.75") ->
      (2, "invariant: per-doc distinct-token ratio flag, spark+oracle"),
    ("Curation.scala", "tau-cut", ">= 0.8") ->
      (2, "invariant: pair jaccard tau (decontaminate-fuzzy), bounded [0,1]"),
    ("Curation.scala", "tau-cut", ">= 0.9") ->
      (2, "invariant: winnow near-copy confirm jaccard tau, spark+oracle"),
    ("Dedup.scala", "count-col-cap", "col(\"c\") <= 64") ->
      (1, "fixed: winnow hot-window posting cap; drift: more windows " +
          "capped as the corpus grows -> candidate loss at hot shingles; " +
          "oracle replicates the cap so compares stay exact; paired " +
          "oracle site is the Dedup having-cap 64"),
    ("Dedup.scala", "count-col-cap", "col(\"n_shared\") >= 3") ->
      (1, "invariant: per-pair evidence floor (>=3 shared fingerprint " +
          "windows) — a match-quality criterion, not a corpus statistic"),
    ("Dedup.scala", "hamming-radius", "BIT_COUNT(a.sim ^ b.sim) <= 6") ->
      (1, "invariant: 64-bit simhash distance radius (7-band pigeonhole " +
          "proves recall 1.0 at this radius at any scale)"),
    ("Dedup.scala", "hamming-radius", "bit_count(xor(a.sim, b.sim)) <= 6") ->
      (1, "invariant: oracle twin of the simhash radius"),
    ("Dedup.scala", "having-cap", "HAVING COUNT(*) <= 1000") ->
      (2, "fixed: simhash hot-band cap, spark+oracle; drift: more bands " +
          "exceed the cap at scale -> pair loss at capped keys; cost vs " +
          "all-pairs truth measured in PipelineSpec (recall 1.0/0.99+); " +
          "the documented scale knob is widening the bands"),
    ("Dedup.scala", "having-cap", "HAVING COUNT(*) <= 64") ->
      (2, "adaptive(lsh)/fixed(winnow): the dedup_embedding_lsh oracle's " +
          "64 is the occupancy DESIGN POINT maintained by adaptive pe " +
          "(n <= 64*2^p); the winnow oracle's 64 pairs the fixed " +
          "count-col-cap above"),
    ("Dedup.scala", "support-floor", "HAVING COUNT(*) >= 3") ->
      (1, "invariant: oracle twin of the n_shared >= 3 evidence floor"),
    ("Dedup.scala", "tau-cut", ">= 0.2") ->
      (3, "invariant: per-doc distinct-token ratio (curate quality gate), " +
          "1 spark (curatedSurvivors) + 2 oracle"),
    ("Dedup.scala", "tau-cut", ">= 0.35") ->
      (4, "invariant: embedding cosine tau on bounded [-1,1], " +
          "cosine+lsh variants, spark+oracle"),
    ("Dedup.scala", "tau-cut", ">= 0.5") ->
      (2, "invariant: containment tau (|A∩B|/|A|), bounded [0,1]"),
    ("Dedup.scala", "tau-cut", ">= 0.8") ->
      (4, "invariant: minhash/ngram jaccard tau, spark+oracle"),
    ("Events.scala", "probe-set", "user_id <= 30") ->
      (3, "fixed: probe batch by design (as-of serving shape); output " +
          "flat as the corpus grows — the rowratio benign class, " +
          "adjudicated in tools/rowratio.py"),
    ("Events.scala", "probe-set", "user_id <= 5") ->
      (1, "fixed: small demo probe set (attribution), same class"),
    ("Events.scala", "topk-limit", ".limit(0)") ->
      (1, "invariant: structural empty-DF idiom (schema-only)"),
    ("Functions.scala", "probe-set", "user_id <= 10") ->
      (2, "fixed: probe set for lateral-view demos, spark+oracle"),
    ("Functions.scala", "probe-set", "user_id <= 5") ->
      (2, "fixed: probe set, spark+oracle"),
    ("Graph.scala", "having-cap", "HAVING COUNT(*) <= 50") ->
      (1, "fixed: recsys hot-product cap; drift: more products capped " +
          "at scale -> pair loss on bestsellers (deliberate: bestseller " +
          "co-occurrence is noise for item-item CF)"),
    ("Graph.scala", "support-floor", "HAVING COUNT(*) >= 2") ->
      (3, "invariant: absolute co-occurrence evidence floor; selectivity " +
          "RELAXES as the corpus grows (more pairs pass) — no silent " +
          "zero-output direction"),
    ("Graph.scala", "support-floor", "HAVING COUNT(*) >= 3") ->
      (3, "invariant: same evidence-floor class (assoc rules / user CF)"),
    ("Multimodal.scala", "hamming-radius", "bit_count(ha ^ hb)\") <= 10") ->
      (1, "invariant: 64-bit phash distance radius, spark-side spelling"),
    ("Multimodal.scala", "hamming-radius", "bit_count(xor(ha.g, hb.g)) <= 10") ->
      (1, "invariant: oracle twin of the phash radius"),
    ("Multimodal.scala", "having-cap", "HAVING COUNT(*) <= 64") ->
      (1, "fixed: audio-fp hot-landmark posting cap; drift: more " +
          "landmarks capped at scale -> match loss on ubiquitous " +
          "landmarks (deliberate — they carry no discriminative power)"),
    ("Multimodal.scala", "topk-limit", ".limit(20)") ->
      (1, "invariant: fixed-size top-k report contract"),
    ("Quantiles.scala", "tau-cut", ">= 0.0") ->
      (1, "invariant: exactPercentiles argument-validation guard " +
          "(require every percentage in [0,1]) — not a data threshold"),
    ("Quantiles.scala", "topk-limit", ".limit(1)") ->
      (1, "invariant: structural one-row boundary-bucket pick"),
    ("Relational.scala", "topk-limit", ".limit(200)") ->
      (1, "invariant: sort_zorder's fixed-size ordered sample contract"),
    ("Similarity.scala", "probe-set", "vec_id < 10") ->
      (1, "fixed: hard-negative mining probe batch by design"),
    ("Similarity.scala", "probe-set", "vec_id < 20") ->
      (1, "fixed: eval_retrieval query set by design"),
    ("Similarity.scala", "probe-set", "vec_id < 32") ->
      (1, "fixed: IVF coarse-quantizer pivot set (oracle side); at " +
          "deployment k scales with the corpus — see Clustering kEff"),
    ("Similarity.scala", "probe-set", "vec_id < 5") ->
      (3, "fixed: MMR/PQ probe batches by design"),
    ("Similarity.scala", "probe-set", "vec_id < 50") ->
      (2, "fixed: the ANN 50-query probe batch (SQL spelling)"),
    ("Similarity.scala", "probe-set", "vec_id\") < 32") ->
      (1, "fixed: IVF pivot set, spark-side spelling"),
    ("Similarity.scala", "probe-set", "vec_id\") < 5") ->
      (1, "fixed: MMR probe batch, spark-side spelling"),
    ("Similarity.scala", "probe-set", "vec_id\") < 50") ->
      (4, "fixed: the ANN 50-query probe batch (batch + indexed-probe " +
          "paths); probe cost is batch-bounded by construction"),
    ("Similarity.scala", "tau-cut", ">= 0.88") ->
      (1, "invariant: jaro-winkler match tau on bounded [0,1]"),
    ("Similarity.scala", "topk-limit", ".limit(0)") ->
      (1, "invariant: structural empty-DF idiom (empty probe batch)"),
    ("Similarity.scala", "topk-limit", ".limit(10)") ->
      (1, "invariant: the PQ serving paths' k=10 answer size (pqAdcTopK, " +
          "shared by the exhaustive and cell-pruned probes; the " +
          "queries' contract, same k as the batch form's oracle)"),
    ("TextAnalysis.scala", "support-floor", "HAVING COUNT(*) >= 5") ->
      (1, "invariant: collocation evidence floor (absolute count); " +
          "relaxes with scale, no zero-output direction"),
    ("TextAnalysis.scala", "tau-cut", "<= 0.1") ->
      (2, "invariant: Gopher top-token repetition ratio, spark+oracle"),
    ("TextAnalysis.scala", "tau-cut", "<= 0.2") ->
      (2, "invariant: Gopher duplicate-line ratio, spark+oracle"),
    ("TextAnalysis.scala", "tau-cut", "<= 0.3") ->
      (2, "invariant: Gopher repetition ratio, spark+oracle"),
    ("TextAnalysis.scala", "tau-cut", ">= 0.2") ->
      (2, "invariant: distinct-token diversity ratio, spark+oracle"),
    ("TextAnalysis.scala", "topk-limit", ".limit(1)") ->
      (1, "invariant: structural single-row pick (top bigram)"),
    ("TextAnalysis.scala", "topk-limit", ".limit(20)") ->
      (1, "invariant: fixed-size top-k report contract (BPE savings)"),
    ("Windows.scala", "probe-set", "user_id <= 20") ->
      (1, "fixed: window_lead_lag's probe cohort by design, one statement " +
          "both engines run"),
    ("Windows.scala", "tau-cut", "<= 0.5") ->
      (1, "invariant: ABC-class cumulative-share quantile cut (ratio)"),
    ("Windows.scala", "tau-cut", "<= 0.8") ->
      (1, "invariant: ABC-class cumulative-share quantile cut (ratio)")
  )

  test("every detected threshold site is adjudicated, at its pinned multiplicity") {
    val found = detected()
    val unreviewed = found.keySet -- inventory.keySet
    assert(unreviewed.isEmpty,
      s"UNCLASSIFIED threshold sites (the silent-degradation " +
        s"class): ${unreviewed.toSeq.sortBy(_.toString)} — classify each " +
        "in ThresholdInventorySpec.inventory as invariant / adaptive / " +
        "fixed(<drift direction>)")
    val drifted = found.collect {
      case (k, n) if inventory(k)._1 != n => (k, inventory(k)._1, n)
    }
    assert(drifted.isEmpty,
      s"occurrence count changed (new or removed copy of a pinned " +
        s"constant — re-adjudicate): $drifted")
  }

  test("the inventory carries no stale entries") {
    val found = detected()
    val stale = inventory.keySet -- found.keySet
    assert(stale.isEmpty, s"pinned but no longer detected (remove): " +
      s"${stale.toSeq.sortBy(_.toString)}")
  }

  test("every classification names a known class") {
    val ok = Seq("invariant", "adaptive", "fixed")
    for ((k, (_, cls)) <- inventory)
      assert(ok.exists(cls.startsWith), s"$k: classification must start " +
        s"with one of $ok: $cls")
  }
}
