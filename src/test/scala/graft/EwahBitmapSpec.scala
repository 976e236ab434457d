package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Ewah

/** EWAH codec contracts (Lemire et al. DKE 2010 word-aligned hybrid):
  * exact round trip for arbitrary bitsets, O(1) compression of clean
  * runs, and set algebra consistent with java.util.BitSet. */
class EwahBitmapSpec extends AnyFunSuite {

  private def bs(positions: Int*): java.util.BitSet = {
    val b = new java.util.BitSet()
    positions.foreach(b.set)
    b
  }

  test("round trip: decode(encode(x)) == x for varied shapes") {
    val rng = new scala.util.Random(42)
    val cases = Seq(
      new java.util.BitSet(), // empty
      bs(0), bs(63), bs(64), bs(65), // word boundaries
      bs(0 until 1024: _*), // solid one-run
      bs((0 until 4096).filter(_ % 7 == 0): _*), // periodic literals
      bs(1000000), // one distant bit (long zero run)
      { // random
        val b = new java.util.BitSet()
        (0 until 500).foreach(_ => b.set(rng.nextInt(100000)))
        b
      }
    )
    for (c <- cases) {
      val rt = Ewah.toBitSet(Ewah.toValue(c))
      assert(rt == c, s"round-trip mismatch for cardinality ${c.cardinality()}")
    }
  }

  test("clean runs compress to O(1) words") {
    // 1M consecutive set bits = ~15626 dense words; EWAH: one marker
    // (plus at most a couple of boundary literals)
    val solid = bs(0 until 1000000: _*)
    val v = Ewah.toValue(solid)
    assert(v.length <= 4, s"solid run should be O(1) words, got ${v.length}")
    // one far bit = huge zero run + one literal: O(1) again
    val sparse = bs(999999)
    val v2 = Ewah.toValue(sparse)
    assert(v2.length <= 4, s"sparse bit should be O(1) words, got ${v2.length}")
  }

  test("set algebra matches BitSet AND/OR; empty detection exact") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val a = new java.util.BitSet(); val b = new java.util.BitSet()
      (0 until 300).foreach(_ => a.set(rng.nextInt(20000)))
      (0 until 300).foreach(_ => b.set(rng.nextInt(20000)))
      val ea = Ewah.toValue(a); val eb = Ewah.toValue(b)
      val and = Ewah.toBitSet(
        Ewah.toValue({ val c = a.clone().asInstanceOf[java.util.BitSet]; c.and(b); c }))
      val or = Ewah.toBitSet(
        Ewah.toValue({ val c = a.clone().asInstanceOf[java.util.BitSet]; c.or(b); c }))
      // round-trip through the serialized form, as the expressions do
      assert(Ewah.toBitSet(ea) == a && Ewah.toBitSet(eb) == b)
      val expectedAnd = { val c = a.clone().asInstanceOf[java.util.BitSet]; c.and(b); c }
      val expectedOr = { val c = a.clone().asInstanceOf[java.util.BitSet]; c.or(b); c }
      assert(and == expectedAnd && or == expectedOr)
    }
    assert(Ewah.toBitSet(Ewah.toValue(new java.util.BitSet())).isEmpty)
  }

  test("rogue positions rejected with a descriptive error, not a 256 MB buffer") {
    val spark = LocalSpark.spark
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    Seq(1, Int.MaxValue - 2).toDF("pos").createOrReplaceTempView("ewah_rogue")
    val e = intercept[Exception] {
      spark.sql("SELECT ewah_bitmap(pos) FROM ewah_rogue").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("[0, 134217728)")), e.toString)
  }

  test("foreign stream with an overrunning clean run fails loudly, no toInt truncation") {
    // hand-craft a marker whose zero-run claims 2^31 words against a
    // 1-word bitmap: the 32-bit field is legal EWAH but must not be
    // silently truncated through toInt
    val marker = (1L << 31) << 1 // runBit=0, runLen=2^31, litCount=0
    val e = intercept[IllegalArgumentException] {
      Ewah.decompress(Array(marker), 1)
    }
    assert(e.getMessage.contains("overruns"))
  }

  test("SQL surface: group bitmaps, intersect across groups, popcount") {
    val spark = LocalSpark.spark
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1, 10), (1, 20), (1, 30), (2, 20), (2, 40))
      .toDF("g", "pos").createOrReplaceTempView("ewah_t")
    val row = spark.sql("""
      WITH bm AS (SELECT g, ewah_bitmap(pos) AS b FROM ewah_t GROUP BY g)
      SELECT ewah_bitmap_count(ewah_bitmap_and(a.b, c.b)) AS n_and,
             ewah_bitmap_count(ewah_bitmap_or(a.b, c.b)) AS n_or,
             ewah_bitmap_empty(ewah_bitmap_and(a.b, c.b)) AS is_empty
      FROM bm a JOIN bm c ON a.g = 1 AND c.g = 2""").head
    assert(row.getLong(0) == 1 && row.getLong(1) == 4 && !row.getBoolean(2))
  }
}
