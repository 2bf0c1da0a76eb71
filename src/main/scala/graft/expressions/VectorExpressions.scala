package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) allocates an intermediate
  * array and runs a lambda interpreter step per element; this expression
  * generates a tight fused loop instead (and stays inside whole-stage
  * codegen), which is the difference between ~35 s and a few seconds on
  * the all-pairs similarity queries at sf0.1. Summation is sequential in
  * element order — bit-for-bit the same result as the HOF version and as
  * DuckDB's list arithmetic, so oracle hash parity is preserved.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // accessors read via ArrayData.getDouble: anything but array<double>
  // (e.g. raw array<float> embeddings) would silently read garbage —
  // reject it at analysis time instead
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"dot_product: dimension mismatch ($n vs ${y.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // fresh locals: this expression can appear many times inside one
      // generated method — fixed names collide ("Redefinition of local
      // variable"), which silently drops the stage to interpreted eval
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "dot_product: dimension mismatch (" + $n + " vs " + $y.numElements() + ")");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Popcount of the bitwise AND of two `array<long>` bitmaps — set
  * intersection size when sets are encoded as fixed-width bitsets.
  * Generated code is a fused AND+POPCNT loop; the Jaccard all-pairs
  * dense path does one of these per candidate pair instead of a
  * co-occurrence join row per shared element.
  */
case class BitAndCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"bit_and_count: width mismatch ($n vs ${y.numElements()})")
    var s = 0
    var i = 0
    while (i < n) { s += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i)); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "bit_and_count: width mismatch (" + $n + " vs " + $y.numElements() + ")");
         |}
         |int $cnt = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $cnt += java.lang.Long.bitCount($x.getLong($i) & $y.getLong($i));
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection COUNT of two sorted `array<bigint>` sets via merge-scan.
  *
  * The built-in `size(array_intersect(a, b))` builds a hash set and
  * materializes the intersection array per invocation just to take its
  * length; the triangle edge-iterator calls this once per oriented edge,
  * so the allocation is the hot path. This expression merge-counts the
  * two sorted lists in O(|a|+|b|) with zero allocation and stays inside
  * whole-stage codegen. Inputs MUST be ascending-sorted and duplicate-
  * free (the adjacency build's `sort_array(collect_list)` over distinct
  * oriented edges guarantees it); unsorted input silently undercounts,
  * so callers own the invariant — parity with `array_intersect` is
  * spec-checked on the triangle fixtures.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  // getLong accessors: binding array<int> adjacency lists would silently
  // miscount — fail analysis instead (ADVICE r3)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n1 = x.numElements()
    val n2 = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n1 && j < n2) {
      val av = x.getLong(i); val bv = y.getLong(j)
      if (av < bv) i += 1
      else if (av > bv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n1 = ctx.freshName("n1")
      val n2 = ctx.freshName("n2")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val av = ctx.freshName("av")
      val bv = ctx.freshName("bv")
      s"""
         |int $n1 = $x.numElements();
         |int $n2 = $y.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n1 && $j < $n2) {
         |  long $av = $x.getLong($i);
         |  long $bv = $y.getLong($j);
         |  if ($av < $bv) { $i++; }
         |  else if ($av > $bv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Argmax-dot-product cell assignment against a constant centroid matrix
  * (`array<double>` input → centroid index). The matrix rides along as ONE
  * plan reference object — not k×dim scalar literals, which blow the
  * generated method past Janino limits and silently knock the whole stage
  * back to interpreted eval. Ties resolve to the highest index (the same
  * verdict as `array_max` over `struct<s,i>` scores, kept for
  * reproducibility of earlier results).
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    var best = -1
    var bestS = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val ct = centroids(c)
      if (ct.length != v.numElements())
        throw new IllegalArgumentException(
          s"nearest_centroid: dimension mismatch (${ct.length} vs ${v.numElements()})")
      var s = 0.0
      var i = 0
      while (i < ct.length) { s += ct(i) * v.getDouble(i); i += 1 }
      if (s >= bestS) { bestS = s; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val best = ctx.freshName("best")
      val bestS = ctx.freshName("bestS")
      val c = ctx.freshName("c")
      val ct = ctx.freshName("ct")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $best = -1;
         |double $bestS = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $cents.length; $c++) {
         |  double[] $ct = $cents[$c];
         |  if ($ct.length != $v.numElements()) {
         |    throw new IllegalArgumentException(
         |      "nearest_centroid: dimension mismatch (" + $ct.length + " vs " + $v.numElements() + ")");
         |  }
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $ct.length; $i++) $s += $ct[$i] * $v.getDouble($i);
         |  if ($s >= $bestS) { $bestS = $s; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization encoder (Jégou et al. 2011, public): the input
  * `array<double>` splits into `codebooks.length` contiguous
  * subvectors; output element m is the argmin-EUCLIDEAN code of
  * subvector m against `codebooks(m)` (PQ quantizes by L2
  * reconstruction error — dot-argmax is the wrong objective off the
  * unit sphere). Ties resolve to the LOWEST code (strict `<`), fixed
  * cross-engine. The codebook tensor rides as ONE reference object —
  * the [[NearestCentroid]] Janino lesson.
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def nullSafeEval(input: Any): Any =
    PqEncode.encode(input.asInstanceOf[ArrayData], codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbs = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expressions.PqEncode.encode($v, $cbs);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  /** Shared by interpreted eval and generated code (fused loop, no
    * boxing — the [[BpeEncode]] static-kernel discipline).
    */
  def encode(v: ArrayData, codebooks: Array[Array[Array[Double]]]): ArrayData = {
    val out = new Array[Int](codebooks.length)
    var m = 0
    var off = 0
    while (m < codebooks.length) {
      val cb = codebooks(m)
      val dsub = cb(0).length
      if (off + dsub > v.numElements())
        throw new IllegalArgumentException(
          s"pq_encode: vector too short (${v.numElements()}) for subspace $m at offset $off")
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cb.length) {
        val ct = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = v.getDouble(off + i) - ct(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(m) = best
      off += dsub
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def column(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), codebooks))
}

/** ALL random-hyperplane LSH signatures for one vector in one fused
  * pass: `tables(t)(p)` is plane p of table t; output element t is the
  * table-t signature (bit p set iff dot(vec, plane) ≥ 0 — the same
  * element-order dot and bit rule as the per-plane Column formulation,
  * so signatures are bit-identical). The plane tensor rides as ONE plan
  * reference object: at adaptive sizing (tens of tables × tens of
  * planes × dim literals) per-plane literal arrays blow the generated
  * method past Janino limits and seconds of codegen per query — the
  * [[NearestCentroid]] lesson at one more level of nesting.
  */
case class HyperplaneSignatures(child: Expression, tables: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val out = new Array[Long](tables.length)
    var t = 0
    while (t < tables.length) {
      val ps = tables(t)
      var sig = 0L
      var p = 0
      while (p < ps.length) {
        val plane = ps(p)
        if (plane.length != v.numElements())
          throw new IllegalArgumentException(
            s"hyperplane_signatures: dimension mismatch (${plane.length} vs ${v.numElements()})")
        var s = 0.0
        var i = 0
        while (i < plane.length) { s += plane(i) * v.getDouble(i); i += 1 }
        if (s >= 0) sig |= 1L << p
        p += 1
      }
      out(t) = sig
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbls = ctx.addReferenceObj("tables", tables, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val ps = ctx.freshName("ps")
      val sig = ctx.freshName("sig")
      val p = ctx.freshName("p")
      val plane = ctx.freshName("plane")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |long[] $out = new long[$tbls.length];
         |for (int $t = 0; $t < $tbls.length; $t++) {
         |  double[][] $ps = $tbls[$t];
         |  long $sig = 0L;
         |  for (int $p = 0; $p < $ps.length; $p++) {
         |    double[] $plane = $ps[$p];
         |    if ($plane.length != $v.numElements()) {
         |      throw new IllegalArgumentException(
         |        "hyperplane_signatures: dimension mismatch (" + $plane.length + " vs " + $v.numElements() + ")");
         |    }
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $plane.length; $i++) $s += $plane[$i] * $v.getDouble($i);
         |    if ($s >= 0) $sig |= 1L << $p;
         |  }
         |  $out[$t] = $sig;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Pack an `array<int>` of bit indices into a fixed-width `array<long>`
  * bitset. The higher-order-function formulation
  * (`aggregate(ids, zeros, (acc, id) => transform(acc, set-bit-if))`)
  * interprets O(ids × words) lambda steps per row; this is one fused
  * loop and stays inside whole-stage codegen. Out-of-range indices
  * throw — a silent drop would make set intersections plausibly wrong.
  */
case class IntsToBitset(child: Expression, nWords: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))

  override def nullSafeEval(input: Any): Any = {
    val ids = input.asInstanceOf[ArrayData]
    val out = new Array[Long](nWords)
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      val id = ids.getInt(i)
      if (id < 0 || id >= nWords * 64)
        throw new IllegalArgumentException(
          s"ints_to_bitset: index $id out of range for $nWords words")
      out(id >>> 6) |= 1L << (id & 63)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, ids => {
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val id = ctx.freshName("id")
      s"""
         |long[] $out = new long[$nWords];
         |int $n = $ids.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  int $id = $ids.getInt($i);
         |  if ($id < 0 || $id >= ${nWords * 64}) {
         |    throw new IllegalArgumentException(
         |      "ints_to_bitset: index " + $id + " out of range for $nWords words");
         |  }
         |  $out[$id >>> 6] |= 1L << ($id & 63);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** L2-normalize an `array<double>` in one pass: norm computed once per
  * vector (the HOF formulation `transform(c, x => x / norm(c))`
  * re-evaluates the full norm per element — O(dim²)). All-zero vectors
  * pass through unchanged instead of turning into NaNs.
  */
case class UnitVector(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); s += x * x; i += 1 }
    val nrm = math.sqrt(s)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = if (nrm == 0.0) v.getDouble(i) else v.getDouble(i) / nrm; i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val ss = ctx.freshName("ss")
      val nrm = ctx.freshName("nrm")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      s"""
         |int $n = $v.numElements();
         |double $ss = 0.0;
         |for (int $i = 0; $i < $n; $i++) { double $x = $v.getDouble($i); $ss += $x * $x; }
         |double $nrm = java.lang.Math.sqrt($ss);
         |double[] $out = new double[$n];
         |for (int $j = 0; $j < $n; $j++) {
         |  $out[$j] = $nrm == 0.0 ? $v.getDouble($j) : $v.getDouble($j) / $nrm;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** Column API for the codegen'd dot product; inputs must already be
    * `array<double>` (cast upstream — casting inside would break codegen
    * type assumptions).
    */
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Allocation-free intersection count of two SORTED `array<bigint>`
    * sets (caller owns the sorted/distinct invariant).
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Index of the max-dot-product centroid for an `array<double>` column;
    * the centroid matrix is a single plan constant, not k×dim literals.
    */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroid(ColumnBridge.expression(vec), centroids))

  /** All LSH table signatures (`array<long>`, one element per table)
    * for an `array<double>` vector; the plane tensor is a single plan
    * constant.
    */
  def hyperplaneSignatures(vec: Column, tables: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(HyperplaneSignatures(ColumnBridge.expression(vec), tables))

  /** One-pass L2 normalization with a zero-vector guard. */
  def unitVector(vec: Column): Column =
    ColumnBridge.column(UnitVector(ColumnBridge.expression(vec)))

  /** Pack bit indices (`array<int>`) into an `array<long>` bitset of
    * `nWords` words; out-of-range indices throw.
    */
  def intsToBitset(ids: Column, nWords: Int): Column =
    ColumnBridge.column(IntsToBitset(ColumnBridge.expression(ids), nWords))
}
