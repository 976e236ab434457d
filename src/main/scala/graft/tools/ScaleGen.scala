package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Bench-only scale-up generator: replicates an existing SF directory
  * K× (default 10) into `<dest>`, preserving the statistical shape the
  * operators care about rather than naively copying rows:
  *
  *  - fact keys (order/part/supp/cust/user/doc/vec/event ids) get a
  *    per-replica offset, keeping every foreign-key join consistent
  *    and key cardinality growing linearly;
  *  - dimension tables (nation, region) do NOT scale — as in any real
  *    warehouse decade;
  *  - text columns that feed blocking/dedup (p_name, document text)
  *    get a per-replica AFFINE ALPHABET PERMUTATION (letter i ↦
  *    a·i+b mod 26, a coprime to 26 — 156 distinct maps): each replica
  *    is a disjoint vocabulary with the source's own prefix/shingle
  *    structure, so per-block and true-near-dup work replicates
  *    LINEARLY — the honest decade. Two earlier designs measurably
  *    failed this: a 3-char text salt left replicas at shingle-Jaccard
  *    ≈0.99 (a corpus 99% near-duplicates at sf10 — true pair count
  *    quadratic in replication; the round-12 probe mismeasured
  *    minhash-LSH at 15.6× for 10× data from that artifact alone), and
  *    a plain rotation gives only 26 vocabularies, whose compositions
  *    collide into verbatim copies when decades are stacked;
  *  - embeddings get a per-replica ISOMETRY (circular dimension shift,
  *    whole-vector negation for replicas ≥64 — 128 distinct maps):
  *    within a replica every norm/cosine/centroid/bucket relationship
  *    is EXACTLY the source's, while cross-replica cosines decohere to
  *    noise. The first version nudged dim 0 by r·1e-4, which kept
  *    replicas at cosine ≈1.0 and exploded semantic-dedup clusters the
  *    same quadratic way.
  *
  * ALWAYS generate a target SF directly from the SOURCE fixture dir
  * (`sf0.1 → sf10` is `k=100`, not two stacked `k=10` runs): stacking
  * composes the per-replica maps, and compositions collide — e.g.
  * replica (0,5) and replica (5,0) of a stacked run apply the same
  * map, yielding whole verbatim corpus copies and a fake exact-dup
  * explosion. Direct generation keeps all k maps distinct for
  * k ≤ 128 (embeddings) / 156 (text).
  *
  * Output is NEVER oracled — it exists purely for measured scaling
  * exponents (BASELINE.md "scale evidence"). Usage:
  *   runMain graft.tools.ScaleGen /root/testdata/sf0.1 target/sf1 [10]
  */
object ScaleGen {

  private val Off = 1000000000L // per-replica key offset (> any fixture key)

  /** The r-th affine permutation of the alphabet, as the 52-char
    * translate() image of "a..zA..Z": i ↦ units(r mod 12)·i + r mod 26.
    * Distinct (a,b) pairs — hence distinct permutations — for r < 156
    * (= lcm(12,26)). */
  private[graft] def affineImage(r: Int): String = {
    val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val a = units(r % units.length); val b = r % 26
    val lower = (0 until 26).map(i => ('a' + (a * i + b) % 26).toChar)
    (lower ++ lower.map(_.toUpper)).mkString
  }
  private val Alphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"

  /** Marker dropped into every ScaleGen output dir. Its PRESENCE in a
    * SOURCE dir means someone is stacking runs — the compositions of
    * per-replica maps collide into verbatim corpus copies (header doc),
    * the exact quadratic artifact the honest generator exists to
    * prevent — so stacking is a hard error, not a warning. */
  private val Marker = "_SCALEGEN_OUTPUT.json"

  def main(args: Array[String]): Unit = {
    val (src, dest) = (args(0), args(1))
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    require(k <= 128,
      s"k=$k exceeds the distinct-map capacity (128 embedding isometries, " +
        "156 affine text permutations)")
    require(!new java.io.File(src, Marker).exists(),
      s"$src is itself a ScaleGen output (found $Marker) — NEVER stack " +
        "runs: composed per-replica maps collide into verbatim corpus " +
        "copies and fake quadratic dup growth. Generate the target SF " +
        "directly from the source fixture (sf0.1 -> sf10 is one k=100 run).")
    // Stamp the output dir BEFORE generating (complete=false): a
    // crashed/partial run then still carries the marker and refuses
    // reuse as a stacking source — rewritten with complete=true at the
    // end. (Local-FS paths only, like the source check above.)
    def writeMarker(complete: Boolean): Unit = {
      new java.io.File(dest).mkdirs()
      val mk = new java.io.PrintWriter(new java.io.File(dest, Marker))
      try mk.write(s"""{"source": "$src", "k": $k, "complete": $complete}""")
      finally mk.close()
    }
    writeMarker(complete = false)
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scalegen")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(t: String)(f: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Unit = {
      val base = Tables.parquet(spark, s"$src/$t.parquet")
      val reps = spark.range(k).withColumnRenamed("id", "graft_r")
      val out = f(base.crossJoin(reps), col("graft_r")).drop("graft_r")
      out.write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[scalegen] $t: ${out.count()} rows")
    }
    def offsetKeys(keys: String*)(df: DataFrame, r: org.apache.spark.sql.Column): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + r * Off))
    /** Union of k per-replica frames, each under its own affine
      * vocabulary — for the text tables where the per-replica map is a
      * driver-side constant (translate's image string). */
    def vocabReplicate(t: String, idCol: String, textCol: String): Unit = {
      val reps = (0 until k).map { r =>
        Tables.parquet(spark, s"$src/$t.parquet")
          .withColumn(idCol, col(idCol) + lit(r.toLong * Off))
          .withColumn(textCol, translate(col(textCol), Alphabet, affineImage(r)))
      }
      val out = reps.reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[scalegen] $t: ${out.count()} rows")
    }

    // dimensions: copy, don't scale
    for (t <- Seq("region", "nation")) {
      Tables.parquet(spark, s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[scalegen] $t: copied")
    }
    replicate("customer")(offsetKeys("c_custkey"))
    replicate("supplier")(offsetKeys("s_suppkey"))
    // p_name: entity-linking queries block on name prefix+length, and
    // (a) verbatim k× name copies explode every block k²× with exact
    // dupes, while (b) a shared synthetic prefix collapses ALL parts
    // into k giant blocks — both artifacts no real k×-bigger catalog
    // has. Disjoint per-replica vocabularies keep the ORIGINAL
    // per-replica block-size distribution (prefix diversity and name
    // lengths preserved), so per-block work replicates linearly.
    vocabReplicate("part", "p_partkey", "p_name")
    replicate("orders")(offsetKeys("o_orderkey", "o_custkey"))
    replicate("lineitem")(offsetKeys("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events")(offsetKeys("event_id", "user_id"))
    // document text: same disjoint-vocabulary argument for the dedup/
    // text family (see header — shingles, minhash bands, simhash,
    // n-gram Jaccard all see k independent corpora of the source's
    // internal duplicate structure; n_chars is length-preserving)
    vocabReplicate("documents", "doc_id", "text")
    // embedding isometry: circular shift by r (negated for r ≥ 64) —
    // norms, dots, centroid geometry preserved within a replica,
    // incoherent across replicas
    replicate("embeddings") { (df, r) =>
      val d = lit(64)
      val shifted = transform(col("embedding"), (_, i) =>
        element_at(col("embedding"),
          (((i + r % d) % d) + 1).cast("int")))
      offsetKeys("vec_id")(df, r)
        .withColumn("embedding",
          when(r >= 64, transform(shifted, x => -x)).otherwise(shifted))
    }
    // all tables generated — flip the pre-written marker to complete
    writeMarker(complete = true)
    if (!preExisting) spark.stop()
  }
}
