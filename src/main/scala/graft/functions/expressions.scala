package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for capabilities Spark lacks as built-ins
  * (SURVEY.md §7.2 decision table) plus the similarity/fingerprint
  * primitives of the training-data pipeline operators.
  *
  * All are deterministic, null-safe scalar expressions. Each implements
  * `doGenCode` by invoking its compiled kernel through a codegen
  * reference — the kernel itself is one JVM call per row (the inner
  * loops are tight primitive loops), and, unlike CodegenFallback, the
  * SURROUNDING operators keep whole-stage codegen: a single fallback
  * expression in a projection used to knock the entire stage out of
  * codegen. Input types are declared via Bridge.GraftExpectsInputTypes
  * so e.g. an array<double> literal fed to a float-vector kernel fails
  * analysis instead of silently misreading bytes.
  *
  * Hashing is FNV-1a 64 with a murmur-style finalizer — stable across
  * JVMs/partitions, so signatures computed on different executors agree.
  */
object Hashing {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** murmur3 fmix64 finalizer — public-domain avalanche mix. */
  @inline def fmix64(v: Long): Long = {
    var h = v
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33; h
  }

  /** Seeded 64-bit hash of raw bytes (FNV-1a core + fmix64). */
  def hash64(bytes: Array[Byte], offset: Int, len: Int, seed: Long): Long = {
    var h = FnvOffset ^ fmix64(seed * 0x9e3779b97f4a7c15L)
    var i = offset
    val end = offset + len
    while (i < end) { h = (h ^ (bytes(i) & 0xffL)) * FnvPrime; i += 1 }
    fmix64(h)
  }

  def hash64(s: UTF8String, seed: Long): Long = {
    val b = s.getBytes
    hash64(b, 0, b.length, seed)
  }

  /** Avalanche mix of two longs: fmix64(fmix64(a·φ) ^ (b+1)·φ). Exists
    * because a multiplicative congruential hash is a LATTICE — over a
    * dense key range it is EQUIDISTRIBUTED (discrepancy O(1)), which is
    * exactly wrong where pseudo-independent per-(key, replica) draws
    * are needed (Poisson bootstrap: lattice draws collapse resampling
    * variance from √n to O(1), as measured on the bootstrap queries). */
  @inline def mix64(a: Long, b: Long): Long =
    fmix64(fmix64(a * 0x9e3779b97f4a7c15L) ^ ((b + 1) * 0x9e3779b97f4a7c15L))
}

/** Shared text kernel: lowercase + space-split + drop empties, one pass. */
object TextKernels {
  def tokens(input: UTF8String): Array[String] = {
    val s = input.toLowerCase.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    val len = s.length
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) out += s.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    out.toArray
  }
}

/** cosine_sim(Array[Float], Array[Float]) → Double. Null on length
  * mismatch. Sequential double accumulation (index order) so the value
  * is reproducible regardless of partitioning. Implements doGenCode
  * inline — the hot loop of the ANN/dedup joins stays inside whole-stage
  * codegen instead of falling back to per-row interpreted eval. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
      int $n = $a.numElements();
      if ($n != $b.numElements() || $n == 0) {
        ${ev.isNull} = true;
      } else {
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $x = (double) $a.getFloat($i);
          double $y = (double) $b.getFloat($i);
          $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        }
        if ($na == 0.0 || $nb == 0.0) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        }
      }"""
    })
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements() || n == 0) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** cosine_sim_d(Array[Double], Array[Double]) → Double: the
  * double-array twin of CosineSim for the clustering / semantic-dedup
  * path, where vectors are 6-dp-quantized doubles (a float kernel would
  * re-round them). One pass in index order — the accumulation sequence
  * of each of dot/na/nb is identical to an independent left fold, which
  * is exactly what the DuckDB oracle replicates via list_reduce
  * (Clustering.cosSql), so values match bit-for-bit. Zero norm yields
  * -2.0 (below every real cosine) rather than NULL so the value is
  * total for argmax assignment. Codegen'd: the SemDeDup pair join
  * evaluates this over O(|cluster|²) candidate pairs per cluster —
  * interpreted higher-order folds (aggregate/zip_with are
  * CodegenFallback) cost 9× more wall-clock there in the bench. */
case class CosineSimD(left: Expression, right: Expression)
    extends BinaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
      int $n = $a.numElements();
      if ($n != $b.numElements() || $n == 0) {
        ${ev.isNull} = true;
      } else {
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) {
            throw new IllegalArgumentException(
              "cosine_sim_d: null element at index " + $i);
          }
          double $x = $a.getDouble($i);
          double $y = $b.getDouble($i);
          $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        }
        if ($na * $nb == 0.0) {
          ${ev.value} = -2.0;
        } else {
          ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        }
      }"""
    })
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements() || n == 0) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // fail loudly, like vec_sum: ArrayData.getDouble on a null slot
      // silently reads 0.0 (quiet wrong cosine)
      require(!a.isNullAt(i) && !b.isNullAt(i),
        s"cosine_sim_d: null element at index $i")
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na * nb == 0.0) -2.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimD =
    copy(left = newLeft, right = newRight)
}

/** Driver-built k-means centroid set, shipped ONCE PER EXECUTOR via
  * `SparkContext.broadcast` and consumed by ArgMaxCosineD. ids must be
  * ascending (ties in the argmax then resolve to the lowest cluster id).
  * The per-centroid norm accumulators are precomputed here in index
  * order — the identical left fold CosineSimD performs per row — so
  * `dot / (sqrt(na) * sqrtNb(c))` is bit-for-bit the value the pairwise
  * kernel (and the DuckDB oracle's list_reduce replication) produces. */
final class CentroidMatrix(val ids: Array[Int], val vecs: Array[Array[Double]])
    extends Serializable {
  require(vecs.nonEmpty, "CentroidMatrix: no centroids")
  require(ids.length == vecs.length, "CentroidMatrix: ids/vecs length mismatch")
  require(ids.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
    "CentroidMatrix: ids must be strictly ascending")
  val dim: Int = vecs(0).length
  require(vecs.forall(_.length == dim), "CentroidMatrix: ragged centroid dims")
  val nb: Array[Double] = vecs.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }
  val sqrtNb: Array[Double] = nb.map(math.sqrt)
}

/** argmax_cosine_d(Array[Double]) → struct(cluster INT, cos DOUBLE):
  * the scale-safe k-means assignment kernel. The k centroids arrive as
  * a broadcast matrix — NOT as k literal structs in the projection —
  * so the Catalyst plan holds ONE expression node regardless of k. At
  * the SemDeDup regime (k = 10⁴–10⁵, dim 64 ⇒ ~10⁶–10⁷ doubles) the
  * literal spelling is a plan/codegen bomb (k·dim constants in one
  * projection) and re-ships the matrix with every task; the broadcast
  * ships it once per executor and the kernel is one tight k×dim loop
  * per row. Values are bit-identical to per-centroid CosineSimD calls:
  * same index-order folds for dot/na/nb (nb precomputed in
  * CentroidMatrix with the same fold), same `na*nb == 0 → -2.0` guard,
  * same division. Ties keep the LOWEST cluster id (strict `>` over
  * ascending ids — mirrors ORDER BY cos DESC, cid). */
case class ArgMaxCosineD(child: Expression, centroids: Broadcast[CentroidMatrix])
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  override def prettyName: String = "argmax_cosine_d"
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  def kernel(a: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val m = centroids.value
    val n = a.numElements()
    require(n == m.dim,
      s"argmax_cosine_d: vector dim $n != centroid dim ${m.dim}")
    val v = new Array[Double](n)
    var na = 0.0
    var i = 0
    while (i < n) {
      // fail loudly like cosine_sim_d: getDouble on a null slot reads 0.0
      require(!a.isNullAt(i), s"argmax_cosine_d: null element at index $i")
      val x = a.getDouble(i)
      v(i) = x; na += x * x; i += 1
    }
    val sqrtNa = math.sqrt(na)
    var bestId = m.ids(0)
    var bestCos = Double.NegativeInfinity
    var c = 0
    while (c < m.vecs.length) {
      val cv = m.vecs(c)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += v(j) * cv(j); j += 1 }
      val cos = if (na * m.nb(c) == 0.0) -2.0
                else dot / (sqrtNa * m.sqrtNb(c))
      if (cos > bestCos) { bestCos = cos; bestId = m.ids(c) }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestId, bestCos))
  }

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argmaxCos", this, classOf[ArgMaxCosineD].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.kernel($a);")
  }
  override protected def withNewChildInternal(newChild: Expression): ArgMaxCosineD =
    copy(child = newChild)
}

/** sign_rand_proj(Array[Double]) → Array[Double](16): the Achlioptas
  * ±1 Johnson–Lindenstrauss projection 64→16 over PRE-QUANTIZED
  * (integer-valued-double) coordinates — embed_random_projection's
  * kernel. The sign matrix is the quadratic-residue parity of
  * (i·73856093 + j·19349663) mod 1000003 — a pure (i,j) constant,
  * precomputed once (the unrolled-SQL spelling re-evaluated the
  * quantize TRANSFORM behind its 1024 ELEMENT_AT references; this is
  * one tight 16×64 loop per row). Addends are exact integers (|qe_i| ≤
  * 1e6, Σ64 ≪ 2^53), so the sum is the same double in ANY order —
  * bit-identical to the DuckDB oracle's list_reduce fold by exactness,
  * not by order-matching. */
case class SignRandProj(child: Expression)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  override def prettyName: String = "sign_rand_proj"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  def kernel(a: ArrayData): ArrayData = {
    val n = a.numElements()
    require(n == 64, s"sign_rand_proj: expected dim 64, got $n")
    val out = new Array[Double](16)
    var j = 0
    while (j < 16) {
      val sg = SignRandProj.Signs(j)
      var s = 0.0
      var i = 0
      while (i < 64) {
        require(!a.isNullAt(i), s"sign_rand_proj: null element at index $i")
        s += sg(i) * a.getDouble(i)
        i += 1
      }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signProj", this, classOf[SignRandProj].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.kernel($a);")
  }
  override protected def withNewChildInternal(newChild: Expression): SignRandProj =
    copy(child = newChild)
}

object SignRandProj {
  /** ±1.0 for 1-based (i=coord 1..64, j=projection 1..16) — the same
    * parity both oracle dialects spell in SQL. */
  private def signOf(i: Long, j: Long): Double = {
    val t = (i * 73856093L + j * 19349663L) % 1000003L
    if (((t * t) % 1000003L) % 2 == 0) 1.0 else -1.0
  }
  private[functions] val Signs: Array[Array[Double]] =
    Array.tabulate(16)(j0 => Array.tabulate(64)(i0 => signOf(i0 + 1, j0 + 1)))
}

/** Two-level (IVF) companion of CentroidMatrix for the large-k
  * SemDeDup regime: the k centroids are themselves clustered into
  * g ≈ √k groups by a tiny driver-side spherical Lloyd (k×dim doubles
  * — microseconds), and assignment probes only the `probes`
  * best-matching groups. Per-row work drops from k·dim to
  * ≈ (1+probes)·√k·dim — the standard IVF coarse-quantizer tradeoff
  * (n·√k total, vs the flat kernel's n·k that measured super-linear
  * decades once kEff started tracking corpus size; a 3-level tree —
  * n·k^(1/3) — is the next rung if √k per row ever dominates).
  * Exactness contract: the kernel's cos fold and lowest-id tie rule
  * are IDENTICAL to ArgMaxCosineD over the scanned member set, so with
  * `probes ≥ g` the result is bit-for-bit the flat argmax; with fewer
  * probes it is the documented approximate assignment (SemDeDup's own
  * deployment discipline). Group construction is deterministic:
  * spread seeds by index stride, 3 Lloyd rounds, ties to the lowest
  * group id. */
final class IvfIndex(val cm: CentroidMatrix, val groups: Int, val probes: Int)
    extends Serializable {
  require(groups > 0 && probes > 0, "IvfIndex: groups/probes must be positive")
  val g: Int = math.min(groups, cm.vecs.length)
  // --- driver-side spherical mini-Lloyd over the centroids ---
  private def cosTo(su: Array[Double], nsu: Double, c: Int): Double = {
    var dot = 0.0; var j = 0
    val cv = cm.vecs(c)
    while (j < cv.length) { dot += su(j) * cv(j); j += 1 }
    if (nsu * cm.nb(c) == 0.0) -2.0
    else dot / (math.sqrt(nsu) * cm.sqrtNb(c))
  }
  val (superVecs: Array[Array[Double]], members: Array[Array[Int]]) = {
    val k = cm.vecs.length
    var sup = Array.tabulate(g)(i => cm.vecs((i.toLong * k / g).toInt).clone())
    var asg = new Array[Int](k)
    var round = 0
    while (round < 3) {
      val nsup = sup.map { s =>
        var n = 0.0; var j = 0
        while (j < s.length) { n += s(j) * s(j); j += 1 }; n
      }
      var c = 0
      while (c < k) {
        var best = 0; var bestCos = Double.NegativeInfinity
        var s = 0
        while (s < g) {
          val cos = cosTo(sup(s), nsup(s), c)
          if (cos > bestCos) { bestCos = cos; best = s }
          s += 1
        }
        asg(c) = best; c += 1
      }
      val sums = Array.fill(g)(new Array[Double](cm.dim))
      val cnts = new Array[Int](g)
      c = 0
      while (c < k) {
        val s = asg(c); val cv = cm.vecs(c)
        var j = 0
        while (j < cm.dim) { sums(s)(j) += cv(j); j += 1 }
        cnts(s) += 1; c += 1
      }
      sup = Array.tabulate(g) { s =>
        if (cnts(s) == 0) sup(s) // empty group keeps its seed
        else { val m = sums(s); var j = 0
               while (j < m.length) { m(j) /= cnts(s); j += 1 }; m }
      }
      round += 1
    }
    val mem = Array.fill(g)(Vector.newBuilder[Int])
    var c = 0
    while (c < k) { mem(asg(c)) += c; c += 1 }
    (sup, mem.map(_.result().toArray))
  }
  val superNb: Array[Double] = superVecs.map { s =>
    var n = 0.0; var j = 0
    while (j < s.length) { n += s(j) * s(j); j += 1 }; n
  }
  val superSqrtNb: Array[Double] = superNb.map(math.sqrt)
}

/** argmax_cosine_ivf_d(Array[Double]) → struct(cluster INT, cos
  * DOUBLE): ArgMaxCosineD through an IvfIndex — probe the top-`probes`
  * centroid groups, exact argmax (same fold, same -2.0 guard, ties to
  * the LOWEST id independent of probe order) over their members. */
case class ArgMaxCosineIvfD(child: Expression, index: Broadcast[IvfIndex])
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  override def prettyName: String = "argmax_cosine_ivf_d"
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  def kernel(a: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val ix = index.value
    val m = ix.cm
    val n = a.numElements()
    require(n == m.dim,
      s"argmax_cosine_ivf_d: vector dim $n != centroid dim ${m.dim}")
    val v = new Array[Double](n)
    var na = 0.0
    var i = 0
    while (i < n) {
      require(!a.isNullAt(i), s"argmax_cosine_ivf_d: null element at index $i")
      val x = a.getDouble(i)
      v(i) = x; na += x * x; i += 1
    }
    val sqrtNa = math.sqrt(na)
    // top-`probes` groups by cosine (tiny insertion sort; p is 4-ish)
    val p = math.min(ix.probes, ix.g)
    val topIdx = new Array[Int](p)
    val topCos = Array.fill(p)(Double.NegativeInfinity)
    var s = 0
    while (s < ix.g) {
      // mini-Lloyd can leave a group memberless (duplicate/degenerate
      // seeds: strict > ties drain one copy's group) — probing it
      // wastes a slot and, if every probed slot landed on one, left
      // bestId at -1 and crashed the task. Skip empties at selection.
      if (ix.members(s).length > 0) {
        val sv = ix.superVecs(s)
        var dot = 0.0; var j = 0
        while (j < n) { dot += v(j) * sv(j); j += 1 }
        val cos = if (na * ix.superNb(s) == 0.0) -2.0
                  else dot / (sqrtNa * ix.superSqrtNb(s))
        if (cos > topCos(p - 1)) {
          var q = p - 1
          while (q > 0 && topCos(q - 1) < cos) {
            topCos(q) = topCos(q - 1); topIdx(q) = topIdx(q - 1); q -= 1
          }
          topCos(q) = cos; topIdx(q) = s
        }
      }
      s += 1
    }
    var bestId = -1
    var bestCos = Double.NegativeInfinity
    var t = 0
    while (t < p) {
      if (topCos(t) > Double.NegativeInfinity) {
        val mem = ix.members(topIdx(t))
        var mi = 0
        while (mi < mem.length) {
          val c = mem(mi)
          val cv = m.vecs(c)
          var dot = 0.0; var j = 0
          while (j < n) { dot += v(j) * cv(j); j += 1 }
          val cos = if (na * m.nb(c) == 0.0) -2.0
                    else dot / (sqrtNa * m.sqrtNb(c))
          val id = m.ids(c)
          if (cos > bestCos || (cos == bestCos && id < bestId)) {
            bestCos = cos; bestId = id
          }
          mi += 1
        }
      }
      t += 1
    }
    // with empties skipped at selection, every filled probe slot has
    // ≥1 member, and ≥1 non-empty group always exists (the k members
    // are distributed among groups, k ≥ 1) — so this cannot fire
    require(bestId >= 0, "argmax_cosine_ivf_d: no centroid scanned")
    new GenericInternalRow(Array[Any](bestId, bestCos))
  }

  override def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argmaxIvf", this, classOf[ArgMaxCosineIvfD].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.kernel($a);")
  }
  override protected def withNewChildInternal(newChild: Expression): ArgMaxCosineIvfD =
    copy(child = newChild)
}

/** jaccard_sim(Array[String], Array[String]) → Double:
  * |distinct(A) ∩ distinct(B)| / |distinct(A) ∪ distinct(B)| in ONE
  * hash-set pass — for null-free inputs identical to
  * SIZE(ARRAY_INTERSECT(a,b)) / SIZE(ARRAY_UNION(a,b)) (exact integer
  * counts, same double division; pinned in ExpressionsSpec) but without
  * materializing either intermediate array, and computed once where the
  * composed spelling is evaluated separately for the filter and the
  * projection. Divergences from the composed spelling: NULL elements
  * are IGNORED here (Spark's array set ops match null to null), and
  * empty-vs-empty is defined as 0.0 where the composed form divides
  * 0/0. The dedup gram inputs contain neither. */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  def kernel(l: ArrayData, r: ArrayData): Double = {
    val aSet = new java.util.HashSet[UTF8String]()
    var i = 0
    val na = l.numElements()
    while (i < na) { if (!l.isNullAt(i)) aSet.add(l.getUTF8String(i)); i += 1 }
    val bSeen = new java.util.HashSet[UTF8String]()
    var inter = 0
    var bOnly = 0
    var j = 0
    val nb = r.numElements()
    while (j < nb) {
      if (!r.isNullAt(j)) {
        val v = r.getUTF8String(j)
        if (bSeen.add(v)) { if (aSet.contains(v)) inter += 1 else bOnly += 1 }
      }
      j += 1
    }
    val union = aSet.size + bOnly
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jaccard", this, classOf[JaccardSim].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}

/** mix64(BIGINT, BIGINT) → BIGINT: seeded avalanche mix (see
  * Hashing.mix64 for why a lattice hash cannot stand in). Oracle
  * replication: DuckHash.fmix64Ctes twice over mulmod'd UBIGINTs. */
case class Mix64(left: Expression, right: Expression)
    extends BinaryExpression with Bridge.GraftExpectsInputTypes {
  override def graftInputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType

  def kernel(a: Long, b: Long): Long = Hashing.mix64(a, b)

  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mix64", this, classOf[Mix64].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Mix64 =
    copy(left = newLeft, right = newRight)
}

/** simhash64(Array[String]) → Long: 64-bit bitwise-majority fingerprint
  * of the token multiset (Charikar's simhash; near-identical token sets
  * differ in few bits → hamming-distance dedup). */
case class SimHash64(child: Expression)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = LongType
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  def kernel(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = Hashing.hash64(arr.getUTF8String(i), 0L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
}

/** minhash_sig(Array[String], numHashes) → Array[Long]: one min-hash per
  * seeded permutation. Buffer is fixed-size (numHashes longs) — bounded
  * and mergeable per SURVEY.md §7.3 rule 6. */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  require(numHashes > 0 && numHashes <= 1024)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  def kernel(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    // Kirsch-Mitzenmacher double hashing (ESA'06): two full byte hashes
    // per element, permutation s = h1 + s·h2 (mod 2^64) — statistically
    // equivalent to k independent hashes for min-wise sketching at ~k×
    // less byte-hashing work (the dominant cost: grams are re-hashed
    // numHashes times otherwise). h2 is forced ODD so s·h2 cycles the
    // full 2^64 ring (h2=0 would make every permutation identical).
    // Changing this scheme re-rolls which pairs band-collide, so the
    // recall-exactly-1.0 oracle arguments are re-pinned empirically by
    // PipelineSpec at sf0.001/sf0.01/sf0.1.
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val bytes = arr.getUTF8String(i).getBytes
        val h1 = Hashing.hash64(bytes, 0, bytes.length, 0L)
        val h2 = Hashing.hash64(bytes, 0, bytes.length, 1L) | 1L
        var h = h1
        var s = 0
        while (s < numHashes) {
          if (h < sig(s)) sig(s) = h
          h += h2
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** winnow_fingerprint(String, k, w) → Array[Long]: winnowing document
  * fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03): rolling hash over
  * char k-grams, keep the rightmost minimum of each w-window, dedupe
  * consecutive picks. Output size is ~2/(w+1) of |text| — bounded. */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  require(k > 0 && w > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def graftInputTypes: Seq[DataType] = Seq(StringType)

  def kernel(input: UTF8String): ArrayData = {
    val bytes = input.getBytes
    val n = bytes.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val grams = new Array[Long](n)
    var i = 0
    while (i < n) { grams(i) = Hashing.hash64(bytes, i, k, 0L); i += 1 }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var lastPick = -1
    var start = 0
    val lastWindow = math.max(0, n - w)
    while (start <= lastWindow) {
      // rightmost minimum in [start, start+w)
      var minIdx = start
      var j = start + 1
      val end = math.min(start + w, n)
      while (j < end) { if (grams(j) <= grams(minIdx)) minIdx = j; j += 1 }
      if (minIdx != lastPick) { out += grams(minIdx); lastPick = minIdx }
      start += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnow", this, classOf[WinnowFingerprint].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override protected def withNewChildInternal(c: Expression): WinnowFingerprint =
    copy(child = c)
}

/** tokenize(text) → Array[String]: lowercase, split on spaces, drop
  * empties — one pass, one output array. Equivalent to
  * FILTER(SPLIT(LOWER(text),' '), w -> w <> '') but ~10× cheaper: the
  * composed built-ins materialize three intermediate arrays per row. */
case class Tokenize(child: Expression)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def graftInputTypes: Seq[DataType] = Seq(StringType)

  def kernel(input: UTF8String): ArrayData = {
    val toks = TextKernels.tokens(input)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenize", this, classOf[Tokenize].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override protected def withNewChildInternal(c: Expression): Tokenize = copy(c)
}

/** shingle_set(text, n) → Array[String]: distinct n-token shingles of
  * tokenize(text), first-occurrence order. Single pass; used by the
  * jaccard/minhash dedup operators where the composed
  * ARRAY_DISTINCT(TRANSFORM(SEQUENCE...SLICE...CONCAT_WS)) pipeline was
  * the dominant query cost. */
case class ShingleSet(child: Expression, n: Int)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  require(n >= 1 && n <= 16)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def graftInputTypes: Seq[DataType] = Seq(StringType)

  def kernel(input: UTF8String): ArrayData = {
    val toks = TextKernels.tokens(input)
    val m = toks.length
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]((m - n + 1) * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= m - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingles", this, classOf[ShingleSet].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override protected def withNewChildInternal(c: Expression): ShingleSet =
    copy(child = c)
}

/** char_ngrams(text, n) → Array[String]: ALL character n-grams (with
  * multiplicity, original order) of LOWER(text) — the feature extractor
  * for Cavnar–Trenkle-style n-gram language ID (text_langid_trigram):
  * spaces are kept, so word-boundary grams like "he " and " th" carry
  * the positional signal the published trigram profiles encode. Returns
  * an empty array for texts shorter than n. Character-based (not byte),
  * matching DuckDB's substr for the oracle replication. */
case class CharNGrams(child: Expression, n: Int)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  require(n >= 1 && n <= 8)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def graftInputTypes: Seq[DataType] = Seq(StringType)

  def kernel(input: UTF8String): ArrayData = {
    val s = input.toLowerCase
    val m = s.numChars()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var i = 0
    while (i <= m - n) {
      out(i) = s.substringSQL(i + 1, n)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charNgrams", this, classOf[CharNGrams].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override protected def withNewChildInternal(c: Expression): CharNGrams =
    copy(child = c)
}

/** deflate_len(text) → compressed byte length of the UTF-8 bytes at
  * zlib level 6 — the raw material of the COMPRESSION-RATIO quality
  * signal (used by Gopher-class corpus filters: near-1 ratios are
  * high-entropy noise, tiny ratios are boilerplate repetition).
  * Deterministic for a given JDK zlib (same JVM ⇒ same bytes), but NOT
  * engine-portable — the consuming query is a rows-only harness entry
  * (the JDK-codec class, like the multimodal decoders) and its
  * contracts are pinned by invariant tests, not a DuckDB oracle.
  * Allocation-light: one thread-local Deflater per executor thread
  * (native Deflater construction is expensive; reset() between rows is
  * cheap), streamed into a thread-local buffer, only the LENGTH
  * retained. */
case class DeflateLen(child: Expression)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def graftInputTypes: Seq[DataType] = Seq(StringType)

  def kernel(input: UTF8String): Int = {
    val bytes = input.getBytes
    val d = DeflateLen.deflater.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = DeflateLen.buf.get()
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }

  override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("deflateLen", this, classOf[DeflateLen].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override protected def withNewChildInternal(c: Expression): DeflateLen =
    copy(child = c)
}

object DeflateLen {
  // executor-thread-lifetime native state; never end()'d — the handful
  // of task threads each hold exactly one Deflater for the JVM's life,
  // a bounded cost that beats per-row native construct/destroy
  private[functions] val deflater: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() => new java.util.zip.Deflater(6))
  private[functions] val buf: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](512))
}

/** The published top-30 character-trigram profiles behind the trigram
  * language scorer (Cavnar–Trenkle SDAIR'94 method; gram lists from
  * public frequency tables). One definition shared by the fused kernel
  * and the composed CHAR_NGRAMS+STOPWORD_RATIO spelling the tests pin
  * equivalence against. */
object LangProfiles {
  val en: Seq[String] = Seq("the", "he ", " th", "ing", "ng ", " an", "and",
    "nd ", "ion", "on ", " of", "of ", " to", "to ", "ed ", "er ", " in",
    "in ", "at ", "ent", "es ", "tio", "ati", " co", "for", " fo", " is",
    "is ", "tha", "hat")
  val de: Seq[String] = Seq("en ", "er ", " de", "der", "ie ", "die", "sch",
    "ein", " ei", "che", "ch ", "ung", " un", "und", "ich", " ge", "ver",
    " ve", "ten", "den", "ber", " be", "das", " da", "cht", "ht ", "gen",
    "nen", " au", "ne ")
  val fr: Seq[String] = Seq(" de", "de ", "es ", "le ", " le", "ent", "nt ",
    "la ", " la", "ion", "on ", "re ", " co", "que", " qu", "ue ", "les",
    "et ", " et", "eur", "our", " po", "ur ", "ans", " pa", "tio", "men",
    "ait", "e d", " du")

  /** Trigram → packed long (3 × 21-bit code points — total for any
    * Unicode scalar). Sorted for binary search in the kernel. */
  private[functions] def encode(grams: Seq[String]): Array[Long] =
    grams.map { g =>
      val cps = g.codePoints().toArray
      require(cps.length == 3, s"profile gram '$g' is not 3 code points")
      (cps(0).toLong << 42) | (cps(1).toLong << 21) | cps(2).toLong
    }.sorted.toArray
}

/** lang_trigram_scores(text) → struct<t_en,t_de,t_fr double>: the three
  * profile-hit ratios of text_langid_trigram in ONE pass — a rolling
  * 3-code-point window over LOWER(text), binary-searched against the
  * packed LangProfiles, no gram array materialized. Value-identical to
  * ROUND-free STOPWORD_RATIO(CHAR_NGRAMS(text,3), profile) ×3 (each
  * ratio is an exact int count / int total — equivalence property-pinned
  * in ExpressionsSpec), but ~6× cheaper: the composed spelling was the
  * most expensive bench query at sf0.1 (6.0 s — ~1500 UTF8String grams
  * per row, scored three times). NULL for texts under 3 code points. */
case class LangTrigramScores(child: Expression)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = StructType(Seq(
    StructField("t_en", DoubleType, nullable = false),
    StructField("t_de", DoubleType, nullable = false),
    StructField("t_fr", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def graftInputTypes: Seq[DataType] = Seq(StringType)

  def kernel(input: UTF8String): Any = {
    val cps = input.toLowerCase.toString.codePoints().toArray
    val total = cps.length - 2
    if (total <= 0) return null
    var en = 0; var de = 0; var fr = 0
    // rolling 3×21-bit window: shift in the next code point, mask to 63 bits
    var win = (cps(0).toLong << 21) | cps(1).toLong
    var i = 2
    while (i < cps.length) {
      win = ((win << 21) | cps(i).toLong) & ((1L << 63) - 1)
      if (java.util.Arrays.binarySearch(LangTrigramScores.enSet, win) >= 0) en += 1
      if (java.util.Arrays.binarySearch(LangTrigramScores.deSet, win) >= 0) de += 1
      if (java.util.Arrays.binarySearch(LangTrigramScores.frSet, win) >= 0) fr += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](en.toDouble / total, de.toDouble / total, fr.toDouble / total))
  }

  override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langTri", this, classOf[LangTrigramScores].getName)
    val r = ctx.freshName("ltsRow") // fixed name would collide when the
    // expression appears twice in one codegen context (silent fallback)
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $r = $ref.kernel($c);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $r; }""")
  }
  override protected def withNewChildInternal(c: Expression): LangTrigramScores =
    copy(child = c)
}

object LangTrigramScores {
  private[functions] val enSet: Array[Long] = LangProfiles.encode(LangProfiles.en)
  private[functions] val deSet: Array[Long] = LangProfiles.encode(LangProfiles.de)
  private[functions] val frSet: Array[Long] = LangProfiles.encode(LangProfiles.fr)
}

/** stopword_ratio(Array[String], Array[String] literal) → Double: the
  * fraction of tokens found in the (foldable) stopword list; null for an
  * empty token array. One hashed-set pass — replaces the
  * SIZE(FILTER(toks, w -> ARRAY_CONTAINS(list, w)))/SIZE(toks) idiom,
  * which interprets a lambda + linear list scan per token (the bench
  * flagged text_langid, which evaluates three of those per row). */
case class StopwordRatio(left: Expression, right: Expression)
    extends BinaryExpression with Bridge.GraftExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  // reject a non-literal stopword list at ANALYSIS time — a lazy require
  // inside eval would surface as per-task executor failures instead
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (!base.isSuccess) base
    else if (!right.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "stopword_ratio: the stopword list must be a literal")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val arr = right.eval(null).asInstanceOf[ArrayData]
    val s = new java.util.HashSet[UTF8String](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) s.add(arr.getUTF8String(i))
      i += 1
    }
    s
  }

  def kernel(toks: ArrayData): Double = {
    val n = toks.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i) && stopSet.contains(toks.getUTF8String(i))) c += 1
      i += 1
    }
    c.toDouble / n
  }

  override def nullSafeEval(t: Any, unused: Any): Any = {
    val toks = t.asInstanceOf[ArrayData]
    if (toks.numElements() == 0) null else kernel(toks)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopratio", this, classOf[StopwordRatio].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"""
      if ($t.numElements() == 0) { ${ev.isNull} = true; }
      else { ${ev.value} = $ref.kernel($t); }""")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StopwordRatio =
    copy(left = newLeft, right = newRight)
}

/** lsh_buckets(Array[Float], numTables, numPlanes) → Array[Int]: one
  * random-hyperplane LSH bucket id per table (sign bits of dot products
  * with ±1 pseudo-random planes derived from seeded hashes — no stored
  * plane matrix, so executors need no broadcast state). Vectors with
  * high cosine similarity land in the same bucket with prob
  * (1 - θ/π)^numPlanes per table; multiple tables recover recall.
  * This is the 100 TB ANN path: candidates come from an equi-join on
  * (table, bucket) instead of an O(n²) cross join. */
case class LshBuckets(child: Expression, numTables: Int, numPlanes: Int)
    extends UnaryExpression with Bridge.GraftExpectsInputTypes {
  require(numTables >= 1 && numTables <= 64 && numPlanes >= 1 && numPlanes <= 30)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(FloatType))

  // The ±1 plane matrix is an (table, plane, dim) CONSTANT — derive it
  // once per executor instead of re-hashing fmix64 for every element of
  // every row (tables·planes·dim ≈ 6k hash chains per row dominated the
  // sf10 bench; the same constant-matrix fix as embed_random_projection).
  // Built lazily at the first row's dim; benign to race (deterministic
  // value), invalidated if dim ever changes. ±1.0 multiplication keeps
  // the accumulation bit-identical to the hash-per-element spelling.
  @transient private var signsCache: Array[Array[Double]] = _
  private def signs(dim: Int): Array[Array[Double]] = {
    var s = signsCache
    if (s == null || s(0).length != dim) {
      s = Array.tabulate(numTables * numPlanes) { tp =>
        val t = tp / numPlanes; val p = tp % numPlanes
        val planeSeed = (t.toLong << 32) | (p.toLong << 8)
        Array.tabulate(dim) { d =>
          if ((Hashing.fmix64(planeSeed ^ (d * 0x9e3779b97f4a7c15L)) & 1L) == 1L) 1.0
          else -1.0
        }
      }
      signsCache = s
    }
    s
  }

  def kernel(v: ArrayData): ArrayData = {
    val dim = v.numElements()
    val sg = signs(dim)
    val out = new Array[Int](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0
      var p = 0
      while (p < numPlanes) {
        val plane = sg(t * numPlanes + p)
        var dot = 0.0
        var d = 0
        while (d < dim) {
          dot += plane(d) * v.getFloat(d)
          d += 1
        }
        if (dot > 0) bucket |= (1 << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lsh", this, classOf[LshBuckets].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }
  override protected def withNewChildInternal(c: Expression): LshBuckets =
    copy(child = c)
}

/** lsh_plane_bit(Array[Float], tableIdx, planeIdx) → 0/1: the sign bit
  * ONE plane of the LshBuckets family contributes for one table —
  * plane signs come from the identical (table, plane, dim) seeded
  * stream and the dot accumulates in the identical dimension order, so
  * `LshBuckets(v, T, p+1)(t)` ≡ `LshBuckets(v, T, p)(t) |
  * (lsh_plane_bit(v, t, p) << p)` bit-for-bit. This is the re-bucketing
  * EPOCH kernel: stepping a persisted index from pe to pe+1 recomputes
  * only this one plane per row instead of the full pe+1-plane bucketing
  * (planes× less compute, and — with pe-invariant file routing — zero
  * shuffle). */
case class LshPlaneBit(left: Expression, right: Expression, plane: Int)
    extends BinaryExpression with Bridge.GraftExpectsInputTypes {
  require(plane >= 0 && plane <= 30)
  override def dataType: DataType = IntegerType
  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), IntegerType)

  // per-(table, dim) sign vector cache, same derivation as LshBuckets
  // (lazily built, deterministic — benign to race; tables are ≤ 64 in
  // every caller so a small map suffices)
  @transient private lazy val signsCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  private def signs(t: Int, dim: Int): Array[Double] =
    signsCache.computeIfAbsent((t, dim), { _ =>
      val planeSeed = (t.toLong << 32) | (plane.toLong << 8)
      Array.tabulate(dim) { d =>
        if ((Hashing.fmix64(planeSeed ^ (d * 0x9e3779b97f4a7c15L)) & 1L) == 1L) 1.0
        else -1.0
      }
    })

  def kernel(v: ArrayData, t: Int): Int = {
    val dim = v.numElements()
    val plane = signs(t, dim)
    var dot = 0.0
    var d = 0
    while (d < dim) {
      dot += plane(d) * v.getFloat(d)
      d += 1
    }
    if (dot > 0) 1 else 0
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[ArrayData], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshpb", this, classOf[LshPlaneBit].getName)
    nullSafeCodeGen(ctx, ev, (v, t) => s"${ev.value} = $ref.kernel($v, $t);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshPlaneBit =
    copy(left = newLeft, right = newRight)
}

/** field(needle, s1, s2, ...) → 1-based index of needle among the
  * following args, 0 if absent or needle null — Hive's UDFField
  * (one of the few registry names with no Spark builtin).
  *
  * Equality semantics (IDENTICAL on the interpreted and generated
  * paths): exact same-type equality — no cross-numeric-type coercion —
  * with binary compared by content, NaN matching NaN, and 0.0 distinct
  * from -0.0 (boxed-Double semantics). Types whose inline codegen
  * comparison (`ctx.genEqual`) differs from the boxed comparison
  * (float/double's ±0.0, binary) are routed through the shared kernel
  * in BOTH paths, so the result can never depend on which path ran.
  *
  * NOT a CodegenFallback: the mere presence of that trait makes
  * CollapseCodegenStages exclude the stage from whole-stage codegen
  * regardless of doGenCode. Inline-safe homogeneous argument types (the
  * common string case) generate short-circuiting inline equality;
  * everything else generates a boxed-kernel call — both stay inside the
  * codegen span. */
case class FieldFn(children: Seq[Expression]) extends Expression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  private def valueEquals(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a.equals(b)
  }

  /** Shared by the interpreted path and the kernel-call generated code. */
  def matchIndex(needle: Any, cands: Array[Object]): Int = {
    var i = 0
    while (i < cands.length) {
      if (cands(i) != null && valueEquals(cands(i), needle)) return i + 1
      i += 1
    }
    0
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val needle = children.head.eval(input)
    if (needle == null) return 0
    var i = 1
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v != null && valueEquals(v, needle)) return i
      i += 1
    }
    0
  }

  /** genEqual and boxed .equals agree for these (UTF8String/ integral /
    * boolean content equality); float/double (±0.0) and binary
    * (Arrays.equals vs reference) do NOT and must use the kernel. */
  private def inlineSafe(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | DateType | TimestampType => true
    case _ => false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral, JavaCode}
    val needle = children.head.genCode(ctx)
    val result = ctx.freshName("fieldIdx")
    val homogeneous = children.map(_.dataType).distinct.length == 1 &&
      inlineSafe(children.head.dataType)
    val body = if (homogeneous) {
      children.tail.zipWithIndex.map { case (c, i) =>
        val e = c.genCode(ctx)
        s"""if ($result == 0) {
           |  ${e.code}
           |  if (!${e.isNull} && ${ctx.genEqual(c.dataType, needle.value, e.value)}) {
           |    $result = ${i + 1};
           |  }
           |}""".stripMargin
      }.mkString("\n")
    } else {
      // mixed or non-inline-safe types: box every value and reuse the
      // interpreted kernel — still plain generated Java, so the stage
      // keeps codegen, and both paths share one equality definition
      val ref = ctx.addReferenceObj("fieldFn", this, classOf[FieldFn].getName)
      val cands = ctx.freshName("fieldCands")
      def boxed(dt: DataType, v: String): String =
        if (CodeGenerator.isPrimitiveType(dt)) s"${CodeGenerator.boxedType(dt)}.valueOf($v)"
        else v
      val fills = children.tail.zipWithIndex.map { case (c, i) =>
        val e = c.genCode(ctx)
        s"""${e.code}
           |$cands[$i] = ${e.isNull} ? null : (Object) ${boxed(c.dataType, e.value.toString)};""".stripMargin
      }.mkString("\n")
      s"""Object[] $cands = new Object[${children.length - 1}];
         |$fills
         |$result = $ref.matchIndex((Object) ${boxed(children.head.dataType, needle.value.toString)}, $cands);""".stripMargin
    }
    ev.copy(
      code = code"""
        ${needle.code}
        int $result = 0;
        if (!${needle.isNull}) {
          $body
        }""",
      value = JavaCode.variable(result, IntegerType),
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FieldFn = copy(children = newChildren)
}

/** damerau_levenshtein(s1, s2) → Int: TRUE Damerau–Levenshtein edit
  * distance (Lowrance–Wagner 1975, unrestricted transpositions — NOT the
  * cheaper optimal-string-alignment variant: DL("ca","abc")=2 where
  * OSA=3). The record-linkage scorer: one adjacent-key typo costs 1
  * instead of Levenshtein's 2, so a transposition-tolerant threshold of
  * 1-2 separates true matches from neighbors. O(|a|·|b|) per pair over a
  * flat int matrix + last-occurrence table; only ever evaluated inside a
  * blocked equi-join (never all-pairs), and DuckDB's builtin of the same
  * name implements the same true-DL recurrence (validated pairwise), so
  * the linkage oracle compares exact integers. */
case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression with Bridge.GraftExpectsInputTypes {
  override def prettyName: String = "damerau_levenshtein"
  override def dataType: DataType = IntegerType
  override def graftInputTypes: Seq[DataType] = Seq(StringType, StringType)

  def kernel(l: UTF8String, r: UTF8String): Int = {
    val a = l.toString
    val b = r.toString
    val la = a.length
    val lb = b.length
    if (la == 0) return lb
    if (lb == 0) return la
    val inf = la + lb
    val w = lb + 2
    val d = new Array[Int]((la + 2) * w)
    d(0) = inf
    var i = 0
    while (i <= la) { d((i + 1) * w) = inf; d((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(j + 1) = inf; d(w + j + 1) = j; j += 1 }
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      val ca = a.charAt(i - 1)
      j = 1
      while (j <= lb) {
        val cb = b.charAt(j - 1)
        val kv = da.get(cb)
        val k = if (kv == null) 0 else kv.intValue()
        val lpos = db
        val cost = if (ca == cb) { db = j; 0 } else 1
        var m = d(i * w + j) + cost                       // substitute/keep
        val del = d((i + 1) * w + j) + 1                  // delete from b
        if (del < m) m = del
        val ins = d(i * w + j + 1) + 1                    // insert into b
        if (ins < m) m = ins
        val tr = d(k * w + lpos) + (i - k - 1) + 1 + (j - lpos - 1)
        if (tr < m) m = tr                                // transposition
        d((i + 1) * w + j + 1) = m
        j += 1
      }
      da.put(ca, i)
      i += 1
    }
    d((la + 1) * w + lb + 1)
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dldist", this, classOf[DamerauLevenshtein].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DamerauLevenshtein =
    copy(left = newLeft, right = newRight)
}

/** jaro_winkler(s1, s2) → Double: Jaro similarity (match window
  * max(|a|,|b|)/2 - 1 clamped to >= 0, transpositions counted as
  * mismatched-positions/2 with INTEGER division) plus the Winkler
  * common-prefix boost (p=0.1, prefix capped at 4) applied only when
  * jaro > 0.7. Every detail — floored transpositions, the 0.7 boost
  * gate, empty-string → 0.0, the (m/l1 + m/l2 + (m-t)/m)/3 operation
  * order — mirrors DuckDB's jaro_winkler_similarity bit-for-bit
  * (validated on 18k real part-name pairs), so the linkage oracle
  * compares rounded doubles with no tolerance. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with Bridge.GraftExpectsInputTypes {
  override def prettyName: String = "jaro_winkler"
  override def dataType: DataType = DoubleType
  override def graftInputTypes: Seq[DataType] = Seq(StringType, StringType)

  def kernel(l: UTF8String, r: UTF8String): Double = {
    val a = l.toString
    val b = r.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val matchDist = math.max(0, math.max(la, lb) / 2 - 1)
    val m1 = new Array[Boolean](la)
    val m2 = new Array[Boolean](lb)
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - matchDist)
      val hi = math.min(lb - 1, i + matchDist)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && a.charAt(i) == b.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var th = 0
    var k = 0
    i = 0
    while (i < la) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) th += 1
        k += 1
      }
      i += 1
    }
    val t = th / 2
    val m = matches.toDouble
    val jd = (m / la + m / lb + (m - t) / m) / 3.0
    if (jd <= 0.7) jd
    else {
      var p = 0
      val maxP = math.min(4, math.min(la, lb))
      while (p < maxP && a.charAt(p) == b.charAt(p)) p += 1
      jd + 0.1 * p * (1.0 - jd)
    }
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jarow", this, classOf[JaroWinkler].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.kernel($a, $b);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

/** Column-side API + SQL registration for the custom expressions. */
object GraftFunctions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))
  def cosine_sim_d(a: Column, b: Column): Column =
    Bridge.column(CosineSimD(Bridge.expression(a), Bridge.expression(b)))
  def argmax_cosine_d(v: Column, cents: Broadcast[CentroidMatrix]): Column =
    Bridge.column(ArgMaxCosineD(Bridge.expression(v), cents))
  def argmax_cosine_ivf_d(v: Column, index: Broadcast[IvfIndex]): Column =
    Bridge.column(ArgMaxCosineIvfD(Bridge.expression(v), index))
  def sign_rand_proj(v: Column): Column =
    Bridge.column(SignRandProj(Bridge.expression(v)))
  def jaccard_sim(a: Column, b: Column): Column =
    Bridge.column(JaccardSim(Bridge.expression(a), Bridge.expression(b)))
  def damerau_levenshtein(a: Column, b: Column): Column =
    Bridge.column(DamerauLevenshtein(Bridge.expression(a), Bridge.expression(b)))
  def jaro_winkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(Bridge.expression(a), Bridge.expression(b)))
  def simhash64(c: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(c)))
  def minhash_sig(c: Column, numHashes: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(c), numHashes))
  def winnow_fingerprint(c: Column, k: Int, w: Int): Column =
    Bridge.column(WinnowFingerprint(Bridge.expression(c), k, w))
  def tokenize(c: Column): Column =
    Bridge.column(Tokenize(Bridge.expression(c)))
  def shingle_set(c: Column, n: Int): Column =
    Bridge.column(ShingleSet(Bridge.expression(c), n))
  def char_ngrams(c: Column, n: Int): Column =
    Bridge.column(CharNGrams(Bridge.expression(c), n))
  def stopword_ratio(toks: Column, stopwords: Column): Column =
    Bridge.column(StopwordRatio(Bridge.expression(toks), Bridge.expression(stopwords)))
  def lsh_buckets(c: Column, numTables: Int, numPlanes: Int): Column =
    Bridge.column(LshBuckets(Bridge.expression(c), numTables, numPlanes))

  def lsh_plane_bit(v: Column, tbl: Column, plane: Int): Column =
    Bridge.column(LshPlaneBit(Bridge.expression(v), Bridge.expression(tbl), plane))
  def field(cols: Column*): Column =
    Bridge.column(FieldFn(cols.map(Bridge.expression)))
  def vec_sum(c: Column): Column =
    Bridge.column(VecSumAgg(Bridge.expression(c)).toAggregateExpression())

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** Name → SQL builder for every graft-registered scalar/aggregate/
    * generator function — the single source of truth: register() walks
    * it, and FunctionParitySpec's exercise guard walks it too, so a
    * function added here without a passing smoke query fails the build
    * (vec_sum once shipped registered but unverified). */
  val builders: Map[String, Seq[Expression] => Expression] = Map[String, Seq[Expression] => Expression](
    "cosine_sim" -> (es => CosineSim(es(0), es(1))),
    "cosine_sim_d" -> (es => CosineSimD(es(0), es(1))),
    "jaccard_sim" -> (es => JaccardSim(es(0), es(1))),
    "damerau_levenshtein" -> (es => DamerauLevenshtein(es(0), es(1))),
    "jaro_winkler" -> (es => JaroWinkler(es(0), es(1))),
    "simhash64" -> (es => SimHash64(es.head)),
    "mix64" -> (es => Mix64(es(0), es(1))),
    "minhash_sig" -> (es => MinHashSig(es(0), intArg(es(1)))),
    "winnow_fingerprint" -> (es => WinnowFingerprint(es(0),
      intArg(es(1)), intArg(es(2)))),
    "tokenize" -> (es => Tokenize(es.head)),
    "shingle_set" -> (es => ShingleSet(es(0), intArg(es(1)))),
    "char_ngrams" -> (es => CharNGrams(es(0), intArg(es(1)))),
    "deflate_len" -> (es => DeflateLen(es.head)),
    "lang_trigram_scores" -> (es => LangTrigramScores(es.head)),
    "stopword_ratio" -> (es => StopwordRatio(es(0), es(1))),
    "lsh_buckets" -> (es => LshBuckets(es(0), intArg(es(1)), intArg(es(2)))),
    "field" -> (es => FieldFn(es)),
    "parse_url_tuple" -> (es => ParseUrlTuple(es)),
    "vec_sum" -> (es => VecSumAgg(es.head)),
    "approx_topk" -> (es => ApproxTopKAgg(es(0), intArg(es(1)), intArg(es(2)))),
    "countmin" -> (es => CountMinAgg(es(0), intArg(es(1)), intArg(es(2)))),
    "cm_query" -> (es => CmQuery(es(0), es(1))),
    "bloom_filter" -> (es => BloomFilterAgg(es(0), intArg(es(1)), intArg(es(2)))),
    "in_bloom_filter" -> (es => InBloomFilter(es(0), es(1))),
    // Hive bitmap-index family (EWAH codec; previously skip-pinned)
    "ewah_bitmap" -> (es => EwahBitmapAgg(es.head)),
    "ewah_bitmap_and" -> (es => EwahBitmapAnd(es(0), es(1))),
    "ewah_bitmap_or" -> (es => EwahBitmapOr(es(0), es(1))),
    "ewah_bitmap_empty" -> (es => EwahBitmapEmpty(es.head)),
    "ewah_bitmap_count" -> (es => EwahBitmapCount(es.head)),
    // Hive's ngrams / context_ngrams: `ngrams_topk(tokens, n, k [, maxBuf])`
    // and `context_ngrams(tokens, array('data', NULL, ...), k [, maxBuf])`,
    // whose context must be a foldable array literal (as in Hive)
    "ngrams_topk" -> (es => NGramsTopKAgg(es.head, intArg(es(1)), intArg(es(2)),
      if (es.length >= 4) intArg(es(3)) else 20000)),
    "context_ngrams" -> { es =>
      val ctxData = es(1).eval().asInstanceOf[ArrayData]
      val ctx = (0 until ctxData.numElements()).map { i =>
        if (ctxData.isNullAt(i)) None else Some(ctxData.getUTF8String(i).toString)
      }
      ContextNGramsAgg(es.head, ctx, intArg(es(2)),
        if (es.length >= 4) intArg(es(3)) else 20000)
    }
  ) ++ Hive2x.builders // [2.x] tail: mask_* family, sort_array_by, replicate_rows

  /** Make the functions usable from spark.sql text too: install each one
    * the session lacks, so a second call (or a call on a session built
    * with `GraftExtensions`) replaces nothing. `Tables.register` calls
    * this on every registration; call it directly only for a session
    * that registers no fixture views. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!reg.lookupFunctionBuilder(FunctionIdentifier(name)).contains(b))
        reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
