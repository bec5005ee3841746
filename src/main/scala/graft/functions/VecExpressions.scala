package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Dense-vector kernels for the embedding pipeline (ANN / near-dup cosine).
  *
  * These are the per-PAIR hot path of the similarity joins: a blocked
  * self-join over a 10^12-row corpus evaluates the dot product once per
  * candidate pair, so it must run at FMA speed inside whole-stage codegen —
  * not as an interpreted `aggregate(zip_with(...))` higher-order function
  * (which allocates a lambda frame per element and dominated the round-1
  * bench at 76% of total time).
  *
  * Both expressions generate a tight primitive loop over `ArrayData`
  * (UnsafeArrayData-backed after the quantize projection) with zero
  * allocation per call.
  */
object vecexprs {

  /** dot(a, b) over array<double>; length = min(|a|, |b|). */
  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes =
      Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
           |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
      copy(left = l, right = r)
    override def prettyName: String = "vec_dot"
  }

  /** Number of positions where two long arrays agree (minhash signature
    * verify — runs once per candidate pair, so codegen'd like VecDot). */
  case class SigAgree(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0
      var i = 0
      while (i < n) { if (x.getLong(i) == y.getLong(i)) s += 1; i += 1 }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        s"""
           |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |int $s = 0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.getLong($i) == $b.getLong($i)) $s++;
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgree =
      copy(left = l, right = r)
    override def prettyName: String = "sig_agree"
  }

  /** Intersection size of two SORTED ascending long arrays (allocation-free
    * two-pointer merge) — the per-candidate-pair verify kernel of the
    * word-set and n-gram Jaccard joins, which both carry token sets as
    * hashed longs. `array_intersect` builds a hash set per CALL;
    * on a near-all-pairs candidate set (template corpora defeat prefix
    * filtering) that allocation dominated the stage. Inputs must be sorted
    * and duplicate-free (array_sort(array_distinct(...)) upstream) — with
    * duplicates the count is undefined, so this stays an internal kernel
    * with its contract enforced by the caller. */
  case class SortedInterCount(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val na = x.numElements(); val nb = y.numElements()
      var i = 0; var j = 0; var c = 0
      while (i < na && j < nb) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      c
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |final int $na = $a.numElements();
           |final int $nb = $b.numElements();
           |int $i = 0, $j = 0, $c = 0;
           |while ($i < $na && $j < $nb) {
           |  final long $xv = $a.getLong($i);
           |  final long $yv = $b.getLong($j);
           |  if ($xv == $yv) { $c++; $i++; $j++; }
           |  else if ($xv < $yv) { $i++; } else { $j++; }
           |}
           |${ev.value} = $c;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedInterCount =
      copy(left = l, right = r)
    override def prettyName: String = "sorted_inter_count"
  }

  /** Deterministic sparse-hyperplane weight for LSH plane `p`, component
    * `j`: splitmix64 of a (p, j) key reduced to {-1, 0, 1}. Shared by the
    * interpreted and generated paths so they are bit-identical. */
  @inline def lshWeight(p: Int, j: Int): Int = {
    val z = graft.functions.textexprs.mix64(j.toLong * 131071L + p.toLong * 524287L)
    java.lang.Long.remainderUnsigned(z, 3L).toInt - 1
  }

  /** vec_lsh_bucket(v, nBits): random-hyperplane LSH bucket id — bit p is
    * the sign of sum_j v[j] * w(p, j) with w in {-1, 0, 1} from a seeded
    * splitmix64 mix (no RNG state). This is the per-ROW hashing kernel of
    * the bucketed ANN path, so like VecDot it must be a tight generated
    * loop, not an interpreted aggregate(zip_with(...)) HOF (measured ~100x
    * slower in round 1 — BENCH/BASELINE.md). */
  case class VecLshBucket(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(DoubleType), IntegerType)
    override def dataType: DataType = LongType
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val v = a.asInstanceOf[ArrayData]
      val nBits = b.asInstanceOf[Int]
      val n = v.numElements()
      var bucket = 0L
      var p = 0
      while (p < nBits) {
        var s = 0.0
        var j = 0
        while (j < n) { s += v.getDouble(j) * lshWeight(p, j); j += 1 }
        if (s >= 0.0) bucket |= (1L << p)
        p += 1
      }
      bucket
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val p = ctx.freshName("p")
        val j = ctx.freshName("j")
        val s = ctx.freshName("s")
        val z = ctx.freshName("z")
        val bucket = ctx.freshName("bucket")
        // inlined splitmix64 finalizer — identical to textexprs.mix64
        s"""
           |final int $n = $a.numElements();
           |long $bucket = 0L;
           |for (int $p = 0; $p < $b; $p++) {
           |  double $s = 0.0;
           |  for (int $j = 0; $j < $n; $j++) {
           |    long $z = (long) $j * 131071L + (long) $p * 524287L + 0x9e3779b97f4a7c15L;
           |    $z = ($z ^ ($z >>> 30)) * 0xbf58476d1ce4e5b9L;
           |    $z = ($z ^ ($z >>> 27)) * 0x94d049bb133111ebL;
           |    $z = $z ^ ($z >>> 31);
           |    $s += $a.getDouble($j) * (double) ((int) Long.remainderUnsigned($z, 3L) - 1);
           |  }
           |  if ($s >= 0.0) $bucket |= (1L << $p);
           |}
           |${ev.value} = $bucket;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecLshBucket =
      copy(left = l, right = r)
    override def prettyName: String = "vec_lsh_bucket"
  }

  /** vec_nearest(v): argmin over a FIXED centroid matrix carried inside the
    * expression (flattened row-major `double[]`, `dim` doubles per
    * centroid) -> struct(cell int, d2 double) = nearest centroid index and
    * exact squared distance. Ties break on the LOWER centroid index, the
    * same (d2, cent_id) ordering the previous crossJoin+window plan used.
    *
    * This is the IVF index-build kernel: the centroid set is capped
    * independently of corpus size (Ann.centroidCap), so the matrix is a
    * bounded driver-side object (<= 4096 x dim doubles ~ 2 MB) shipped once
    * per task like any closure constant — the assignment pass is one NARROW
    * projection over the corpus with zero joins, zero shuffle and no
    * per-row allocation beyond the 2-field result row. CodegenFallback is
    * deliberate: the O(C*dim) primitive loop inside eval dominates the
    * per-row cost, and a generated struct constructor would buy nothing.
    *
    * The case class holds the matrix as a plain Array (JVM default
    * toString), so plan strings stay O(1) — a typedLit matrix child would
    * re-inflate every explain/plan-description with C*dim literals (the
    * round-2 plan-printing OOM lesson). */
  case class VecNearest(child: Expression, flatCents: Array[Double], dim: Int)
      extends UnaryExpression with ExpectsInputTypes with codegen.CodegenFallback {
    require(dim > 0 && flatCents.length % dim == 0 && flatCents.length > 0,
      "vec_nearest needs a non-empty row-major centroid matrix")
    override def inputTypes = Seq(ArrayType(DoubleType))
    override def dataType: DataType = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("d2", DoubleType, nullable = false)))
    override protected def nullSafeEval(a: Any): Any = {
      val v = a.asInstanceOf[ArrayData]
      val n = v.numElements()
      val common = math.min(n, dim)
      val nCents = flatCents.length / dim
      // mixed-length exactness: the distance is over the UNION of positions
      // with missing entries as 0 — identical to the zero-padding the
      // previous n_v - 2*dot_minlen + n_c crossJoin formula implied. A
      // truncated loop would under-count dc, shrink the cell radii, and let
      // phase-2 prune cells holding true neighbors.
      var vTail = 0.0 // sum v_j^2 for j >= dim (vector longer than matrix)
      var j = common
      while (j < n) { val x = v.getDouble(j); vTail += x * x; j += 1 }
      var best = 0
      var bestD2 = Double.MaxValue
      var c = 0
      while (c < nCents) {
        val base = c * dim
        var s = vTail
        j = 0
        while (j < common) { val d = v.getDouble(j) - flatCents(base + j); s += d * d; j += 1 }
        j = common
        while (j < dim) { val x = flatCents(base + j); s += x * x; j += 1 } // centroid tail
        if (s < bestD2) { bestD2 = s; best = c } // strict: ties keep lower index
        c += 1
      }
      new GenericInternalRow(Array[Any](best, bestD2))
    }
    override protected def withNewChildInternal(c: Expression): VecNearest =
      copy(child = c)
    override def prettyName: String = "vec_nearest"
  }

  /** squared L2 norm: dot(v, v). */
  case class VecNorm2(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        val v = ctx.freshName("v")
        s"""
           |final int $n = $a.numElements();
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  final double $v = $a.getDouble($i);
           |  $s += $v * $v;
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): VecNorm2 = copy(child = c)
    override def prettyName: String = "vec_norm2"
  }
}
