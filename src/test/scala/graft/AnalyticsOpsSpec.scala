package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Aggregates, Events, Graph, Profiling, Relational, TextAnalysis, Windows}

/** Round-6 analytics wave: Z-order layout, readability, ACF,
  * attribution, k-hop — each checked against an independent in-test
  * recomputation, not just its DuckDB oracle. */
class AnalyticsOpsSpec extends AnyFunSuite {
  lazy val spark = LocalSpark.spark
  import spark.implicits._

  test("sort_zorder: interleave is exact and the head is TakeOrderedAndProject") {
    def spreadRef(v: Long): Long =
      (0 until 16).map(i => ((v >> i) & 1L) << (2 * i)).sum
    val df = Relational.queries("sort_zorder")(spark, LocalSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (zx, zy, z) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(z == (spreadRef(zx) | (spreadRef(zy) << 1)),
        s"zx=$zx zy=$zy zkey=$z")
    }
    // layout order is ascending in the interleaved key
    val ks = rows.map(_.getLong(3)).toSeq
    assert(ks == ks.sorted)
  }

  test("text_readability: formula reproduces from the counts") {
    val rows = TextAnalysis.queries("text_readability")(spark, LocalSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, s, y, f) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      val expect = 206.835 - 1.015 * (w.toDouble / math.max(s, 1)) -
        84.6 * (y.toDouble / math.max(w, 1))
      assert(math.abs(f - expect) < 5e-5, s"doc ${r.getLong(0)}: $f vs $expect")
      assert(y >= w || w == 0, s"every word has >=1 vowel group: w=$w y=$y")
    }
  }

  test("events_autocorr: matches a driver-side ACF on the daily counts") {
    val out = Events.queries("events_autocorr")(spark, LocalSpark.sf)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(out.keySet == (1 to 7).toSet)
    Tables.register(spark, LocalSpark.sf)
    val xs = spark.table("events")
      .groupBy(to_date($"ts").as("d")).count()
      .orderBy("d").select("count").as[Long].collect().map(_.toDouble)
    val mu = xs.sum / xs.length
    val den = xs.map(x => (x - mu) * (x - mu)).sum
    (1 to 7).foreach { k =>
      val num = (0 until xs.length - k)
        .map(t => (xs(t) - mu) * (xs(t + k) - mu)).sum
      assert(math.abs(out(k) - num / den) < 1e-5, s"lag $k")
      assert(out(k).abs <= 1.0 + 1e-9)
    }
  }

  test("events_attribution: credit conserves purchase value over attributed purchases") {
    val rows = Events.queries("events_attribution")(spark, LocalSpark.sf)
      .collect()
    assert(rows.map(_.getString(0)).toSet == Set("click", "view"))
    val credited = rows.map(_.getDouble(2)).sum
    Tables.register(spark, LocalSpark.sf)
    // purchases with >=1 click/view touch in the prior 7 days get fully
    // attributed (cent-rounding slack: one cent per (purchase, channel))
    val p = spark.table("events").where($"event_type" === "purchase")
      .select($"user_id", $"ts".as("pts"), $"value")
    val t = spark.table("events")
      .where($"event_type".isin("click", "view"))
      .select($"user_id", $"ts".as("tts"))
    val attrPurch = p.join(t, Seq("user_id"))
      .where($"tts" < $"pts" && $"tts" >= $"pts" - expr("INTERVAL 7 DAYS"))
      .select($"user_id", $"pts", $"value").distinct()
    val nAttr = attrPurch.count()
    val attributed = attrPurch
      .agg(sum(round($"value" * 100).cast("long"))).as[Long].head() / 100.0
    // each (purchase, channel) share rounds to a cent: ±0.5 cent × 2
    // channels per purchase bounds the drift
    assert(math.abs(credited - attributed) <= 0.01 * nAttr + 1e-6,
      s"$credited vs $attributed over $nAttr purchases")
  }

  test("events_changepoint: cusum telescopes to zero and flags the max") {
    val rows = Events.queries("events_changepoint")(spark, LocalSpark.sf)
      .orderBy("d").collect()
    assert(rows.nonEmpty)
    // S_n = Σ(x−μ) telescopes to ~0 at the last day
    assert(math.abs(rows.last.getDouble(2)) < 0.5)
    val maxAbs = rows.map(r => math.abs(r.getDouble(2))).max
    val flagged = rows.filter(_.getInt(3) == 1)
    assert(flagged.nonEmpty)
    flagged.foreach(r => assert(math.abs(math.abs(r.getDouble(2)) - maxAbs) < 0.02))
  }

  test("events_outliers_mad: median/MAD reproduce from the series") {
    val rows = Events.queries("events_outliers_mad")(spark, LocalSpark.sf)
      .collect()
    val xs = rows.map(_.getLong(1).toDouble).sorted
    def med(v: Array[Double]) =
      if (v.length % 2 == 1) v(v.length / 2)
      else (v(v.length / 2 - 1) + v(v.length / 2)) / 2
    val m = med(xs)
    val madRef = med(rows.map(r => math.abs(r.getLong(1) - m)).sorted)
    rows.foreach { r =>
      assert(r.getDouble(2) == m, s"median ${r.getDouble(2)} vs $m")
      assert(r.getDouble(3) == madRef, s"mad ${r.getDouble(3)} vs $madRef")
      val z = 0.6745 * (r.getLong(1) - m) / madRef
      assert(math.abs(r.getDouble(4) - z) < 5e-3, s"z ${r.getDouble(4)} vs $z")
      assert((math.abs(z) > 3.5) == (r.getInt(5) == 1))
    }
  }

  test("events_session_overlap: pairs genuinely overlap and are click×view") {
    val rows = Events.queries("events_session_overlap")(spark, LocalSpark.sf)
      .collect()
    assert(rows.nonEmpty) // 1-day gap sessions overlap even at sf0.001
    rows.foreach(r => assert(r.getLong(3) >= 0, s"negative overlap: $r"))
  }

  test("recsys_item_sim: scores bounded and consistent with counts") {
    Tables.register(spark, LocalSpark.sf)
    val rows = Graph.queries("recsys_item_sim")(spark, LocalSpark.sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val cos = rows.map(_.getDouble(3))
    assert(cos.sameElements(cos.sorted.reverse)) // ranked by cosine desc
    rows.foreach { r =>
      val (c, j) = (r.getDouble(3), r.getDouble(4))
      assert(c > 0 && c <= 1.0 && j > 0 && j <= 1.0)
      assert(j <= c + 1e-9) // Jaccard never exceeds cosine
    }
  }

  test("profile_benford: fractions sum to 1 and expectations follow log10(1+1/d)") {
    val rows = Profiling.queries("profile_benford")(spark, LocalSpark.sf)
      .collect()
    assert(rows.map(_.getInt(0)).forall(d => d >= 1 && d <= 9))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    rows.foreach { r =>
      val exp = math.log10(1.0 + 1.0 / r.getInt(0))
      assert(math.abs(r.getDouble(3) - exp) < 1e-6)
      assert(math.abs(r.getDouble(4) - (r.getDouble(2) - exp)) < 2e-6)
    }
  }

  test("window_drawdown: peak is the running max and drawdown is consistent") {
    val rows = Windows.queries("window_drawdown")(spark, LocalSpark.sf)
      .orderBy("d").collect()
    var peak = Double.MinValue
    rows.foreach { r =>
      peak = math.max(peak, r.getDouble(1))
      assert(r.getDouble(2) == peak)
      val dd = (peak - r.getDouble(1)) / peak
      assert(math.abs(r.getDouble(3) - dd) < 1e-4)
      assert(r.getDouble(3) >= 0.0)
    }
  }

  test("window_rolling_stats: windowed moments reproduce from the series") {
    val rows = Windows.queries("window_rolling_stats")(spark, LocalSpark.sf)
      .orderBy("d").collect()
    val rev = rows.map(_.getDouble(1))
    rows.indices.foreach { i =>
      val w = rev.slice(math.max(0, i - 6), i + 1)
      val mean = w.sum / w.length
      val variance = w.map(x => (x - mean) * (x - mean)).sum / w.length
      assert(math.abs(rows(i).getDouble(2) - mean) < 5e-2)
      assert(math.abs(rows(i).getDouble(3) - math.sqrt(variance)) < 5e-2)
    }
  }

  test("agg_weighted_percentile: quartiles ordered and median correct") {
    Tables.register(spark, LocalSpark.sf)
    val rows = Aggregates.queries("agg_weighted_percentile")(spark, LocalSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3))
      // weighted median: smallest v with cumweight >= half of total
      val pts = spark.table("lineitem")
        .where($"l_returnflag" === r.getString(0))
        .select(round($"l_extendedprice" * 100).cast("long"),
          round($"l_quantity").cast("long"))
        .collect().map(x => (x.getLong(0), x.getLong(1))).sortBy(_._1)
      val tot = pts.map(_._2).sum
      var cum = 0L
      val med = pts.find { case (_, w) => cum += w; 2 * cum >= tot }.get._1
      assert(r.getDouble(2) == med / 100.0, s"${r.getString(0)}")
    }
  }

  test("sample_systematic: exact stride membership") {
    val rows = Relational.queries.get("sample_systematic")
      .orElse(graft.operators.Functions.queries.get("sample_systematic")).get
      .apply(spark, LocalSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) % 25 == 0))
    Tables.register(spark, LocalSpark.sf)
    val expect = spark.table("orders").where($"o_orderkey" % 25 === 0).count()
    assert(rows.length == expect)
  }

  test("events_interarrival: fractions sum to 1 over nonnegative buckets") {
    val rows = Events.queries("events_interarrival")(spark, LocalSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).forall(_ >= 0))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    val total = rows.map(_.getLong(1)).sum
    // gaps = events - one first-event per (user, having-events) group
    Tables.register(spark, LocalSpark.sf)
    val nEvents = spark.table("events").count()
    val nUsers = spark.table("events").select("user_id").distinct().count()
    assert(total == nEvents - nUsers)
  }

  test("events_bursts: islands are maximal runs above the 1.5x threshold") {
    val bursts = Events.queries("events_bursts")(spark, LocalSpark.sf)
      .orderBy("start_h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(bursts.nonEmpty)
    Tables.register(spark, LocalSpark.sf)
    val hourly = spark.table("events")
      .groupBy((unix_micros($"ts") / lit(3600000000L)).cast("long").as("h"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nh = hourly.size
    val tot = hourly.values.sum
    val hot = hourly.filter { case (_, n) => 2 * n * nh >= 3 * tot }.keySet
    bursts.foreach { case (s, e, nHours, peak) =>
      assert(e - s + 1 == nHours) // consecutive run
      (s to e).foreach(h => assert(hot(h), s"hour $h inside burst not hot"))
      assert(!hot(s - 1) && !hot(e + 1), "burst must be maximal")
      assert(peak == (s to e).map(hourly).max)
    }
    assert(bursts.map(b => b._3).sum == hot.size)
  }

  test("agg_geomean: AM >= GM >= HM and values reproduce driver-side") {
    Tables.register(spark, LocalSpark.sf)
    val rows = Aggregates.queries("agg_geomean")(spark, LocalSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val qs = spark.table("lineitem")
        .where($"l_returnflag" === r.getString(0))
        .select($"l_quantity").as[Double].collect()
      val am = qs.sum / qs.length
      val gm = math.exp(qs.map(math.log).sum / qs.length)
      val hm = qs.length / qs.map(1.0 / _).sum
      assert(math.abs(r.getDouble(2) - gm) < 1e-4, s"geomean ${r.getDouble(2)} vs $gm")
      assert(math.abs(r.getDouble(3) - hm) < 1e-4, s"harmonic ${r.getDouble(3)} vs $hm")
      assert(am >= r.getDouble(2) && r.getDouble(2) >= r.getDouble(3))
    }
  }

  test("text_rake: reproduces a full driver-side RAKE on the corpus") {
    val out = TextAnalysis.queries("text_rake")(spark, LocalSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    Tables.register(spark, LocalSpark.sf)
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
    val texts = spark.table("documents").where($"lang" === "en")
      .select("text").as[String].collect()
    val phrases = texts.flatMap { t =>
      val words = t.toLowerCase.split(" ")
      val sb = scala.collection.mutable.Buffer[List[String]]()
      var cur = List.empty[String]
      words.foreach { w =>
        if (stop(w)) { if (cur.nonEmpty) sb += cur.reverse; cur = Nil }
        else cur = w :: cur
      }
      if (cur.nonEmpty) sb += cur.reverse
      sb
    }
    val freq = phrases.flatten.groupBy(identity).view.mapValues(_.length).toMap
    val degree = phrases.flatMap(p => p.map(_ -> p.length.toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def wscore(w: String) =
      math.round(degree(w) * 1e6 / freq(w)) / 1e6
    out.foreach { case (phrase, nOcc, score) =>
      val ws = phrase.split(" ").toList
      val ref = math.round(ws.map(w => math.round(degree(w) * 1e6 / freq(w))).sum / 100.0) / 1e4
      assert(math.abs(score - ref) < 1e-3, s"'$phrase': $score vs $ref")
      assert(nOcc == phrases.count(_.mkString(" ") == phrase))
    }
  }

  test("graph_label_prop: matches a driver-side synchronous LPA replay") {
    val out = Graph.queries("graph_label_prop")(spark, LocalSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    Tables.register(spark, LocalSpark.sf)
    val io = spark.table("lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val edges = io.as("a").join(io.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .groupBy($"a.p".as("s"), $"b.p".as("d")).count()
      .where($"count" >= 2).select("s", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = edges ++ edges.map { case (s, d) => (d, s) }
    var lbl = sym.map(_._1).distinct.map(n => n -> n).toMap
    (1 to 3).foreach { _ =>
      lbl = sym.groupBy(_._2).map { case (node, in) =>
        val votes = in.map(e => lbl(e._1)).groupBy(identity)
          .view.mapValues(_.length).toSeq
        node -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case (c, s) => (c, s) }
      .sortBy { case (c, s) => (-s, c) }.take(20)
    assert(out.toSeq == sizes, s"\n$out\nvs\n$sizes")
    // graph_modularity scores the same communities
    val modularity = Graph.queries("graph_modularity")(spark, LocalSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(modularity.toSeq == sizes, s"\n${modularity.toSeq}\nvs\n$sizes")
  }

  test("events_active_users: DAU <= WAU <= MAU and windows match recounts") {
    val rows = Events.queries("events_active_users")(spark, LocalSpark.sf)
      .orderBy("d").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    Tables.register(spark, LocalSpark.sf)
    val du = spark.table("events")
      .select(datediff(to_date($"ts"), lit("1970-01-01")).as("d"), $"user_id")
      .distinct().collect().map(r => (r.getInt(0), r.getLong(1)))
    rows.foreach { case (d, dau, wau, mau) =>
      assert(dau <= wau && wau <= mau)
      assert(dau == du.count(_._1 == d))
      assert(wau == du.filter(x => x._1 >= d - 6 && x._1 <= d).map(_._2).distinct.length)
      assert(mau == du.filter(x => x._1 >= d - 29 && x._1 <= d).map(_._2).distinct.length)
    }
  }

  test("text_source_similarity: Jaccard matches driver-side vocab overlap") {
    val rows = TextAnalysis.queries("text_source_similarity")(spark, LocalSpark.sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.length <= 30)
    Tables.register(spark, LocalSpark.sf)
    val vocab = spark.table("documents").select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSet)
      .groupBy(_._1).view.mapValues(_.map(_._2).reduce(_ ++ _)).toMap
    rows.foreach { case (a, b, inter, j) =>
      val i = (vocab(a) & vocab(b)).size
      assert(inter == i, s"$a/$b inter $inter vs $i")
      val jRef = i.toDouble / (vocab(a) ++ vocab(b)).size
      assert(math.abs(j - jRef) < 1e-6)
    }
    val js = rows.map(_._4)
    assert(js.sameElements(js.sorted.reverse))
  }

  test("graph_khop: agrees with a driver-side BFS; 2-hop dominates 1-hop") {
    val out = Graph.queries("graph_khop")(spark, LocalSpark.sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.foreach { case (_, (d1, d2)) => assert(d2 >= d1) }
    // independent BFS over the collected (tiny at sf0.001) edge list
    Tables.register(spark, LocalSpark.sf)
    val io = spark.table("lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val adj = io.as("a").join(io.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .groupBy($"a.p".as("s"), $"b.p".as("d")).count()
      .where($"count" >= 2).select("s", "d").collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { case (seed, (d1, d2)) =>
      val n1 = adj(seed)
      val n2 = (n1.flatMap(adj) ++ n1) - seed
      assert(d1 == n1.size, s"seed $seed 1-hop")
      assert(d2 == n2.size, s"seed $seed 2-hop")
    }
  }

  test("text_c4_filters: rule counts bounded by doc counts; keep is the conjunction floor") {
    val rows = graft.operators.TextAnalysis
      .queries("text_c4_filters")(spark, LocalSpark.sf).collect()
    assert(rows.nonEmpty)
    Tables.register(spark, LocalSpark.sf)
    val perSource = spark.table("documents").groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (src, n) = (r.getString(0), r.getLong(1))
      assert(n == perSource(src), s"$src doc count")
      val passes = (2 to 6).map(r.getLong)
      passes.foreach(p => assert(p >= 0 && p <= n))
      val kept = r.getLong(7)
      // conjunction can't beat the weakest rule, nor the inclusion-
      // exclusion floor Σpass − 4n
      assert(kept <= passes.min)
      assert(kept >= math.max(0L, passes.sum - 4 * n), s"$src kept floor")
    }
  }

  test("text_span_dedup: span accounting consistent; duplicate spans genuinely repeat") {
    val rows = graft.operators.TextAnalysis
      .queries("text_span_dedup")(spark, LocalSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nSpans, nDup, mass) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nDup <= nSpans && mass == nDup * 8)
    }
    // independent recount of the grid: Σ n_spans = Σ_docs ⌊wc/8⌋
    Tables.register(spark, LocalSpark.sf)
    val expect = spark.table("documents")
      .select((size(filter(split(lower($"text"), " "), w => w =!= "")) / 8)
        .cast("long").as("k"))
      .agg(sum($"k")).first().getLong(0)
    assert(rows.map(_.getLong(1)).sum == expect, "grid span total")
  }

  test("eval_retrieval: metrics reproduce from rank/label ground truth") {
    val rows = graft.operators.Similarity
      .queries("eval_retrieval")(spark, LocalSpark.sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (nRel, hits) = (r.getLong(1), r.getLong(2))
      val firstRel = if (r.isNullAt(3)) None else Some(r.getLong(3))
      assert(hits <= math.min(10L, nRel))
      assert(r.getLong(4) == BigInt(hits) * 1000000 / math.min(10L, nRel))
      assert(r.getLong(5) == hits * 100000)
      assert(r.getLong(6) == firstRel.map(1000000L / _).getOrElse(0L))
      assert((hits == 0) == firstRel.isEmpty)
    }
    // the label structure is real: retrieval must beat the ~10% random
    // same-label base rate on average
    val meanHits = rows.map(_.getLong(2)).sum.toDouble / rows.length
    assert(meanHits > 1.0, s"mean hits@10 $meanHits — labels carry no signal?")
  }

  test("ann_pq_adc: full driver-side PQ replay matches (codebook, codes, ADC)") {
    val out = graft.operators.Similarity
      .queries("ann_pq_adc")(spark, LocalSpark.sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    Tables.register(spark, LocalSpark.sf)
    val vecs = spark.table("embeddings")
      .select($"vec_id", $"label", $"embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(v => math.floor(v.toDouble * 1e6).toLong).toArray))
    def truncDiv(s: Long, n: Long) = if (s >= 0) s / n else -((-s) / n)
    // codebook: per (subspace, label, dim) truncated mean
    val book = (0 until 4).map { s =>
      vecs.groupBy(_._2).view.mapValues { g =>
        (0 until 16).map { d =>
          truncDiv(g.map(_._3(s * 16 + d)).sum, g.length)
        }.toArray
      }.toMap
    }
    def subDist(q: Array[Long], s: Int, cw: Array[Long]): Long =
      (0 until 16).map { d => val df = q(s * 16 + d) - cw(d); df * df }.sum
    // encode every vector; ADC against query vec 0
    val q0 = vecs.find(_._1 == 0L).get._3
    val adc = vecs.filter(_._1 != 0L).map { case (id, _, qv) =>
      val dist = (0 until 4).map { s =>
        val code = book(s).toSeq.map { case (l, cw) => (subDist(qv, s, cw), l) }.min._2
        subDist(q0, s, book(s)(code))
      }.sum
      (id, dist)
    }.sortBy { case (id, d) => (d, id) }.take(10)
    out.zip(adc).zipWithIndex.foreach { case (((rank, nid, d), (eid, ed)), i) =>
      assert(rank == i + 1)
      assert(nid == eid && d == ed, s"rank ${i + 1}: ($nid,$d) vs ($eid,$ed)")
    }
  }

  test("pipeline_dedup_report: funnel stages chain and agree with the standalone ops") {
    val rows = graft.operators.Dedup
      .queries("pipeline_dedup_report")(spark, LocalSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq("1_exact", "2_near"))
    val (ex, near) = (rows(0), rows(1))
    // stages chain: near's input is exact's output
    assert(ex._2 - ex._3 == ex._4 && ex._4 == near._2)
    assert(near._2 - near._3 == near._4)
    Tables.register(spark, LocalSpark.sf)
    assert(ex._2 == spark.table("documents").count())
    // exact stage agrees with dedup_exact's digest groups
    val dupExtra = graft.operators.Dedup
      .queries("dedup_exact")(spark, LocalSpark.sf)
      .agg(sum($"dup_cnt" - 1)).first().getLong(0)
    assert(ex._3 == dupExtra, "exact removals = sum(dup_cnt - 1)")
    // token mass only removed when docs are removed
    assert((ex._3 == 0) == (ex._5 == 0))
    assert((near._3 == 0) == (near._5 == 0))
  }

  test("text_heaps_law: OLS replays from driver-side checkpoint counts") {
    val r = graft.operators.TextAnalysis
      .queries("text_heaps_law")(spark, LocalSpark.sf).first()
    Tables.register(spark, LocalSpark.sf)
    val docs = spark.table("documents").select("doc_id", "text").collect()
      .map(row => row.getLong(0) ->
        row.getString(1).toLowerCase.split(" ").filter(_.nonEmpty))
      .filter(_._2.length >= 2)
    val bigrams = docs.flatMap { case (d, toks) =>
      toks.dropRight(1).zip(toks.drop(1)).map(p => (d, s"${p._1} ${p._2}"))
    }
    val first = bigrams.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val m = docs.map(_._1).max
    val pts = (1 to 10).map { k =>
      val c = m * k / 10
      val nTok = bigrams.count(_._1 <= c).toLong
      val vocab = first.values.count(_ <= c).toLong
      (nTok, vocab)
    }.filter(p => p._1 > 0 && p._2 > 0)
    assert(r.getLong(0) == pts.length)
    assert(r.getLong(1) == pts.map(_._1).max && r.getLong(2) == pts.map(_._2).max)
    def q9(v: Double) = math.rint(v * 1e9) / 1e9
    val xs = pts.map(p => q9(math.log(p._1.toDouble)))
    val ys = pts.map(p => q9(math.log(p._2.toDouble)))
    val n = pts.length
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => q9(a * b) }.sum
    val sxx = xs.map(a => q9(a * a)).sum
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(r.getDouble(3) - beta) < 1e-5, s"${r.getDouble(3)} vs $beta")
    assert(r.getDouble(3) >= 0.0, "vocab growth can't be negative")
    assert(r.getLong(2) <= r.getLong(1))
  }

  test("dedup_cluster_stats: histogram accounts for every document exactly once") {
    val rows = graft.operators.Dedup
      .queries("dedup_cluster_stats")(spark, LocalSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    Tables.register(spark, LocalSpark.sf)
    val nDocs = spark.table("documents").count()
    assert(rows.map(_._3).sum == nDocs, "every doc in exactly one component")
    rows.foreach { case (csize, nComp, nDocsIn) =>
      assert(nDocsIn == csize * nComp)
      assert(csize >= 1)
    }
    // pair-graph components are size >= 2; size-1 row is the out-of-graph rest
    assert(rows.count(_._1 == 1L) == 1)
  }

  test("stats_capture_recapture: marks replay; Lincoln-Petersen lands near truth") {
    val r = graft.operators.Statistics
      .queries("stats_capture_recapture")(spark, LocalSpark.sf).first()
    Tables.register(spark, LocalSpark.sf)
    val keys = spark.table("orders").select($"o_orderkey").collect().map(_.getLong(0))
    def mark(k: Long, mult: Long, frac: Long) =
      ((k % 2147483648L) * mult) % 4294967296L < 4294967296L / frac
    val a = keys.count(mark(_, 2654435761L, 10)).toLong
    val b = keys.count(mark(_, 2246822519L, 7)).toLong
    val ab = keys.count(k => mark(k, 2654435761L, 10) && mark(k, 2246822519L, 7)).toLong
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((keys.length.toLong, a, b, ab)))
    assert(r.getLong(4) == BigInt(a) * b * 1000000 / ab)
    // the estimator should land within ~25% of truth even at sf0.001
    val err = math.abs(r.getLong(5)) / 1e6 / keys.length
    assert(err < 0.25, s"relative error $err")
  }

  test("events_peaks: strict local maxima with prominence replay driver-side") {
    val rows = graft.operators.Events
      .queries("events_peaks")(spark, LocalSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    Tables.register(spark, LocalSpark.sf)
    val hourly = spark.table("events")
      .groupBy($"event_type", (unix_micros($"ts") / 3600000000L).cast("long").as("h"))
      .count().collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = hourly.groupBy(_._1).toSeq.flatMap { case (t, g) =>
      val xs = g.sortBy(_._2)
      (2 until xs.length - 2).flatMap { i =>
        val x = xs(i)._3
        val nb = Seq(xs(i - 1)._3, xs(i - 2)._3, xs(i + 1)._3, xs(i + 2)._3)
        // the SQL neighbors are LAG/LEAD over the OBSERVED grid, which
        // this sorted-sequence replay reproduces exactly
        if (nb.forall(x > _) && x - nb.max >= 3)
          Some((t, xs(i)._2, x, x - nb.max))
        else None
      }
    }.sortBy(p => (p._1, p._2))
    assert(rows.toSeq == expect, s"${rows.length} vs ${expect.length}")
  }

  test("events_forecast_backtest: errors replay in 16ths; EWMA beats naive") {
    val rows = graft.operators.Events
      .queries("events_forecast_backtest")(spark, LocalSpark.sf).collect()
    assert(rows.length == 5)
    Tables.register(spark, LocalSpark.sf)
    val hourly = spark.table("events")
      .groupBy($"event_type", (unix_micros($"ts") / 3600000000L).cast("long").as("h"))
      .count().collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def truncDiv(x: Long, d: Long) = if (x >= 0) x / d else -((-x) / d)
    rows.foreach { r =>
      val t = r.getString(0)
      val xs = hourly.filter(_._1 == t).sortBy(_._2).map(_._3)
      val errs = (4 until xs.length).map { i =>
        16 * xs(i) - (8 * xs(i - 1) + 4 * xs(i - 2) + 2 * xs(i - 3) + 2 * xs(i - 4))
      }
      val naive = (4 until xs.length).map(i => 16 * (xs(i) - xs(i - 1)))
      assert(r.getLong(1) == errs.length)
      assert(r.getLong(2) == truncDiv(errs.map(math.abs).sum * 1000000, 16 * errs.length))
      assert(r.getLong(3) == truncDiv(errs.sum * 1000000, 16 * errs.length))
      assert(r.getLong(4) == truncDiv(naive.map(math.abs).sum * 1000000, 16 * errs.length))
      // exact skill replay; whether EWMA beats naive is data-dependent
      // at sf0.001's sparse hour grid (it does at sf0.1: +17-20%)
      val (sae, sn) = (errs.map(math.abs).sum, naive.map(math.abs).sum)
      assert(r.getLong(5) == truncDiv((sn - sae) * 1000000, sn), s"$t skill")
    }
  }

  test("search_near_copies: containment replays from a driver-side gram recount") {
    val rows = graft.operators.TextAnalysis
      .queries("search_near_copies")(spark, LocalSpark.sf).collect()
    Tables.register(spark, LocalSpark.sf)
    val grams = spark.table("documents").select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)
        r.getLong(0) -> toks.sliding(5).filter(_.length == 5)
          .map(_.mkString(" ")).toSet
      }.toMap
    val qids = Set(8L, 45L, 98L)
    rows.foreach { r =>
      val (qid, did, shared, nq, cont) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(qids.contains(qid) && did != qid)
      assert(nq == grams(qid).size)
      assert(shared == (grams(qid) & grams(did)).size, s"($qid,$did)")
      assert(cont == BigInt(shared) * 1000000 / nq)
    }
  }

  test("link_blocking_metrics: counts replay; completeness is total on this corruption") {
    val r = graft.operators.Similarity
      .queries("link_blocking_metrics")(spark, LocalSpark.sf).first()
    val (nd, np, nCand, nTrue) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    Tables.register(spark, LocalSpark.sf)
    assert(np == spark.table("part").count())
    assert(nd == spark.table("part").where($"p_partkey" % 5 === 0).count())
    // the 3-prefix + length key survives the swap corruption by
    // construction, so every true match must be in the candidates
    assert(nTrue == nd)
    assert(r.getLong(5) == 1000000L)
    assert(nCand >= nd && nCand < nd * np)
    assert(r.getLong(4) == (BigInt(nd) * np - nCand) * 1000000 / (BigInt(nd) * np))
  }

  test("graph_ppr: bit-exact driver replay of the personalized iteration") {
    Tables.register(spark, LocalSpark.sf)
    val io = spark.table("lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val e = io.as("a").join(io.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .groupBy($"a.p".as("s"), $"b.p".as("d")).count()
      .where($"count" >= 2).select("s", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = e ++ e.map(_.swap)
    val deg = sym.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val seed = deg.toSeq.map { case (n, dd) => (-dd, n) }.min._2
    // graph_pagerank is the same iteration, starting and restarting
    // uniformly instead of at the seed
    for ((q, restartsAt) <- Seq[(String, Long => Boolean)](
           "graph_ppr" -> (_ == seed), "graph_pagerank" -> (_ => true))) {
      val out = graft.operators.Graph
        .queries(q)(spark, LocalSpark.sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(out.nonEmpty)
      var pr = deg.keys.map(n => n -> (if (restartsAt(n)) 1000000.0 else 0.0)).toMap
      for (_ <- 1 to 3) {
        val contrib = sym.map { case (s, d) => d -> math.floor(pr(s) / deg(s)) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        pr = deg.keys.map(n => n ->
          ((if (restartsAt(n)) 150000.0 else 0.0) +
            math.floor(17.0 * contrib.getOrElse(n, 0.0) / 20.0))).toMap
      }
      // PPR drops zero-mass nodes; every PageRank node keeps its restart
      val expect = pr.toSeq.map { case (n, q) => (n, q.toLong) }
        .filter(_._2 > 0).sortBy { case (n, q) => (-q, n) }.take(20)
      assert(out.toSeq == expect, s"$q:\n${out.toSeq}\nvs\n$expect")
    }
  }

  test("stats_mann_kendall: S and tie-corrected variance replay driver-side") {
    val rows = graft.operators.Statistics
      .queries("stats_mann_kendall")(spark, LocalSpark.sf).collect()
    assert(rows.nonEmpty)
    Tables.register(spark, LocalSpark.sf)
    val daily = spark.table("events")
      .groupBy($"event_type", to_date($"ts").as("d")).count()
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    rows.foreach { r =>
      val t = r.getString(0)
      val xs = daily.filter(_._1 == t).sortBy(_._2).map(_._3)
      val n = xs.length.toLong
      assert(r.getLong(1) == n)
      val s = (for (i <- xs.indices; j <- i + 1 until xs.length)
        yield java.lang.Long.signum(xs(j) - xs(i)).toLong).sum
      assert(r.getLong(2) == s, s"$t S")
      val tie = xs.groupBy(identity).values.map(_.length.toLong)
        .filter(_ > 1).map(tt => tt * (tt - 1) * (2 * tt + 5)).sum
      assert(r.getLong(3) == n * (n - 1) * (2 * n + 5) - tie, s"$t var18")
      val z = r.getDouble(4)
      val expectZ =
        if (s > 0) (s - 1.0) / math.sqrt(r.getLong(3) / 18.0)
        else if (s < 0) (s + 1.0) / math.sqrt(r.getLong(3) / 18.0)
        else 0.0
      assert(math.abs(z - expectZ) < 1e-5, s"$t z")
    }
  }

  test("curation_curriculum: difficulty never decreases per source; head interleaves sources") {
    val rows = graft.operators.Curation
      .queries("curation_curriculum")(spark, LocalSpark.sf).collect()
    assert(rows.length == 50)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 50L))
    // per-source difficulty (n_chars) is monotone in rank
    rows.groupBy(_.getString(1)).values.foreach { g =>
      val sorted = g.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(4)).sameElements(sorted.map(_.getLong(4)).sorted))
    }
    // interleave property: the first |sources| positions are rank-1
    // docs of distinct sources — no source block at the head
    val nSources = rows.map(_.getString(1)).distinct.length
    val head = rows.take(nSources)
    assert(head.forall(_.getLong(3) == 1L), "head must be rank-1 rows")
    assert(head.map(_.getString(1)).distinct.length == nSources)
  }

  test("embed_hard_negatives: positives same-label, negatives different, both cosine-ordered") {
    val rows = graft.operators.Similarity
      .queries("embed_hard_negatives")(spark, LocalSpark.sf).collect()
    assert(rows.length == 60) // 10 anchors × (3 pos + 3 neg)
    Tables.register(spark, LocalSpark.sf)
    val labels = spark.table("embeddings").select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (qid, g) =>
      val (pos, neg) = g.partition(_.getInt(2) == 1)
      assert(pos.length == 3 && neg.length == 3)
      pos.foreach(r => assert(labels(r.getLong(1)) == labels(qid)))
      neg.foreach(r => assert(labels(r.getLong(1)) != labels(qid)))
      Seq(pos, neg).foreach { side =>
        val byRank = side.sortBy(_.getInt(4))
        assert(byRank.map(_.getDouble(3)).sameElements(
          byRank.map(_.getDouble(3)).sortBy(-(_: Double))), "cos must fall with rank")
      }
    }
  }

  test("embed_quantile_norm: every dimension carries the identical post-norm distribution") {
    val rows = graft.operators.Similarity
      .queries("embed_quantile_norm")(spark, LocalSpark.sf).collect()
    assert(rows.length == 64)
    // the operator's contract: rank-replacement equalizes distributions
    assert(rows.map(_.getLong(2)).distinct.length == 1, "sum_norm differs by dim")
    assert(rows.map(_.getLong(3)).distinct.length == 1, "min_norm differs by dim")
    assert(rows.map(_.getLong(4)).distinct.length == 1, "max_norm differs by dim")
    // reference curve replay on one rank: the cross-dim truncated mean
    // of per-dim minima equals the reported min
    Tables.register(spark, LocalSpark.sf)
    val vecs = spark.table("embeddings").select($"embedding").collect()
      .map(_.getSeq[Float](0).map(v => math.floor(v.toDouble * 1e6).toLong))
    val mins = (0 until 64).map(d => vecs.map(_(d)).min)
    val s = mins.sum
    val expectMin = if (s >= 0) s / 64 else -((-s) / 64)
    assert(rows.head.getLong(3) == expectMin)
  }

  test("events_interval_coverage: sweep totals replay a driver-side interval union") {
    val out = graft.operators.Events
      .queries("events_interval_coverage")(spark, LocalSpark.sf).collect()
    assert(out.nonEmpty)
    Tables.register(spark, LocalSpark.sf)
    // rebuild the session intervals independently, then union them
    val evs = spark.table("events")
      .where($"event_type".isin("click", "view"))
      .select($"user_id", $"event_type", unix_micros($"ts").as("t"), $"event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val dayUs = 86400000000L
    val sess = evs.groupBy(e => (e._1, e._2)).values.flatMap { g =>
      val ts = g.sortBy(e => (e._3, e._4)).map(_._3)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var (s, e) = (ts.head, ts.head)
      ts.tail.foreach { t =>
        if (t > e + dayUs) { buf += ((s, e)); s = t; e = t } else e = t
      }
      buf += ((s, e))
      buf.filter(i => i._2 > i._1).map(i => (g.head._1, i._1, i._2))
    }.toSeq
    def union(iv: Seq[(Long, Long)]): Long = {
      val sorted = iv.sorted
      var (cov, cur) = (0L, Long.MinValue)
      sorted.foreach { case (s, e) =>
        if (s > cur) { cov += e - s; cur = e }
        else if (e > cur) { cov += e - cur; cur = e }
      }
      cov
    }
    val byUser = sess.groupBy(_._1)
    out.foreach { r =>
      val u = r.getLong(0)
      val iv = byUser(u).map(i => (i._2, i._3))
      assert(r.getLong(1) == iv.length, s"user $u n_intervals")
      assert(r.getLong(2) == iv.map(i => i._2 - i._1).sum, s"user $u sum_len")
      assert(r.getLong(3) == union(iv), s"user $u covered")
      assert(r.getLong(4) == r.getLong(2) - r.getLong(3))
      assert(r.getLong(3) <= r.getLong(5)) // covered <= span
    }
  }

  test("recsys_als_step: closed-form solve replays the ridge normal equations") {
    val out = graft.operators.Graph
      .queries("recsys_als_step")(spark, LocalSpark.sf).collect()
    assert(out.length == 20)
    Tables.register(spark, LocalSpark.sf)
    val ratings = spark.table("lineitem")
      .join(spark.table("orders"), $"l_orderkey" === $"o_orderkey")
      .join(spark.table("part"), $"l_partkey" === $"p_partkey")
      .groupBy($"o_custkey", $"p_brand").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val brands = ratings.map(_._2).distinct.sorted
    val f = brands.zipWithIndex.map { case (b, i) =>
      b -> (1L + i % 7, 1L + i % 5)
    }.toMap
    def truncDiv(x: Long, d: Long) = if (x >= 0) x / d else -((-x) / d)
    out.foreach { r =>
      val u = r.getLong(0)
      val mine = ratings.filter(_._1 == u)
      assert(r.getLong(1) == mine.length)
      val (a11, a12, a22, b1, b2) = mine.foldLeft((1L, 0L, 1L, 0L, 0L)) {
        case ((p11, p12, p22, q1, q2), (_, brand, rating)) =>
          val (f1, f2) = f(brand)
          (p11 + f1 * f1, p12 + f1 * f2, p22 + f2 * f2,
            q1 + rating * f1, q2 + rating * f2)
      }
      val det = a11 * a22 - a12 * a12
      assert(det > 0) // ridge term keeps A positive definite
      val n1 = a22 * b1 - a12 * b2
      val n2 = a11 * b2 - a12 * b1
      assert(r.getLong(2) == truncDiv(n1 * 1000000, det), s"user $u u1")
      assert(r.getLong(3) == truncDiv(n2 * 1000000, det), s"user $u u2")
      assert(r.getLong(4) == truncDiv((n1 * 3 + n2 * 2) * 1000000, det), s"user $u pred")
    }
  }

  test("text_textrank: word ranks replay a driver-side weighted PageRank") {
    val out = graft.operators.TextAnalysis
      .queries("text_textrank")(spark, LocalSpark.sf).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.length == 20)
    Tables.register(spark, LocalSpark.sf)
    val docs = spark.table("documents").select("text").collect()
      .map(_.getString(0).toLowerCase.split(" ").filter(_.nonEmpty))
    val pairs = docs.flatMap(t => t.dropRight(1).zip(t.drop(1))).filter(p => p._1 != p._2)
    val edges = (pairs ++ pairs.map(_.swap)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val wdeg = edges.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    var pr = wdeg.keys.map(_ -> 1000000.0).toMap
    for (_ <- 1 to 3) {
      val contrib = edges.toSeq
        .map { case ((a, b), w) => b -> math.floor(pr(a) * w / wdeg(a)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      pr = wdeg.keys.map(n =>
        n -> (150000.0 + math.floor(17.0 * contrib.getOrElse(n, 0.0) / 20.0))).toMap
    }
    val expect = pr.toSeq.map { case (w, q) => (w, q.toLong) }
      .sortBy { case (w, q) => (-q, w) }.take(20)
    assert(out.toSeq == expect, s"\n$out\nvs\n$expect")
  }

  test("profile_skew: shares/percentiles reproduce from per-key counts") {
    val rows = graft.operators.Profiling
      .queries("profile_skew")(spark, LocalSpark.sf).collect()
    assert(rows.length == 10)
    Tables.register(spark, LocalSpark.sf)
    val counts = spark.table("lineitem").groupBy("l_suppkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sorted = counts.values.toSeq.sorted
    val (nKeys, nRows) = (counts.size.toLong, sorted.sum)
    val top = counts.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    rows.zip(top).foreach { case (r, (k, c)) =>
      assert(r.getLong(1) == k && r.getLong(2) == c)
      assert(r.getLong(3) == BigInt(c) * 1000000 / nRows, "share_micro")
      assert(r.getLong(4) == nKeys && r.getLong(5) == nRows)
      // lower-percentile definition: smallest value with cum*q >= n*p
      def pct(p: Int) = sorted(((nKeys * p + 99) / 100 - 1).toInt.max(0))
      assert(r.getLong(6) == pct(50), "p50")
      assert(r.getLong(7) == pct(99), "p99")
      assert(r.getLong(9) == BigInt(c) * nKeys * 1000000 / nRows, "skew factor")
    }
  }
}
