package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two `array<double>` columns: the ascending
  * index fold `acc += a_i * b_i` over the common prefix — the exact
  * order the SQL oracles mirror, so results are bit-identical to the
  * Scala-UDF predecessor. As an expression with `doGenCode` it stays
  * inside whole-stage codegen and reads elements straight out of the
  * UnsafeArrayData, where the UDF deserialized both arrays into fresh
  * Array[Double] per row; Spark's own `aggregate(zip_with(...))` form
  * evaluates interpreted per element (~1000× slower on 64-dim
  * vectors, see SCALE.md §3). */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"array_dot expects two array<double> columns, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ArrayDot.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ArrayDot = copy(left = newLeft, right = newRight)
}

/** Native null-element-free predicate over any array column: true iff
  * no element is null — the [[graft.exec.VecMomentsExpr]] row-inclusion
  * rule as a pushable filter. Exists because the built-in spellings
  * (`array_compact`, `exists`, `filter`) all desugar to interpreted
  * lambda HOFs, which the PlanAuditSpec gate bans from corpus-volume map
  * passes; this is one early-exit loop inside whole-stage codegen. */
case class ArrayNoNulls(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "array_no_nulls"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"array_no_nulls expects an array column, got $other")
  }

  override def nullSafeEval(a: Any): Any =
    ArrayNoNulls.noNulls(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.ArrayNoNulls.noNulls($a)")

  override protected def withNewChildInternal(newChild: Expression): ArrayNoNulls =
    copy(child = newChild)
}

object ArrayNoNulls {
  def apply(v: Column): Column =
    GraftColumnBridge.column(ArrayNoNulls(GraftColumnBridge.expression(v)))

  /** Shared by interpreted eval and generated code. */
  def noNulls(v: ArrayData): Boolean = {
    val n = v.numElements()
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return false
      i += 1
    }
    true
  }
}

/** Native centered k-component projection: `out_i = (v − μ)·basisᵢ`
  * over a raw `array<double>` column — the PCA apply step
  * ([[graft.llm.Similarity.pcaProject]]'s pass 2). The μ/basis
  * constants ride as codegen reference objects, so the per-row cost is
  * the k×dim FMAs straight off the UnsafeArrayData, where the UDF
  * predecessor decoded a Seq[Float] per row (the x11 ×100 term,
  * SCALE.md r12 points). A wrong-length vector projects to zeros
  * (mirroring the UDF's guard). */
case class ArrayProject(child: Expression, mu: Array[Double],
    basis: Array[Array[Double]]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "array_project"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"array_project expects array<double>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    ArrayProject.project(v.asInstanceOf[ArrayData], mu, basis)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("mu", mu, "double[]")
    val bRef = ctx.addReferenceObj("basis", basis, "double[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.ArrayProject.project($v, $muRef, $bRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayProject =
    copy(child = newChild)
}

object ArrayProject {
  def apply(v: Column, mu: Array[Double],
      basis: Array[Array[Double]]): Column =
    GraftColumnBridge.column(ArrayProject(
      GraftColumnBridge.expression(v), mu, basis))

  /** Shared by interpreted eval and generated code. */
  def project(v: ArrayData, mu: Array[Double],
      basis: Array[Array[Double]]): ArrayData = {
    val k = basis.length
    val out = new Array[Double](k)
    if (v.numElements() == mu.length) {
      var i = 0
      while (i < k) {
        val w = basis(i)
        var s = 0.0
        var j = 0
        while (j < mu.length) { s += (v.getDouble(j) - mu(j)) * w(j); j += 1 }
        out(i) = s
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object ArrayDot {
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(ArrayDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Shared by interpreted eval and generated code. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
}

/** Native nearest-centroid assignment over a raw `array<double>`
  * column: argmin over the broadcast centroid matrix by squared L2,
  * bit-identical to the boxed-UDF predecessor's loop (ascending
  * centroid order, strict `<` keeps the first on ties, distances fold
  * over the common prefix). The centroid ids/matrix ride as codegen
  * reference objects, so per-row cost is the k×dim subtract-square
  * FMAs straight off the UnsafeArrayData — the r12 verdict's
  * `kmeansCentroidsUncached` watch item (per-row `Array[Double]`
  * decode in the Lloyd assignment pass). Returns −1 for an empty
  * centroid table. */
case class NearestCentroid(child: Expression, ids: Array[Int],
    cents: Array[Array[Double]]) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<double>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    NearestCentroid.nearest(v.asInstanceOf[ArrayData], ids, cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ids", ids, "int[]")
    val cRef = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.NearestCentroid.nearest($v, $idsRef, $cRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  def apply(v: Column, ids: Array[Int], cents: Array[Array[Double]]): Column =
    GraftColumnBridge.column(NearestCentroid(
      GraftColumnBridge.expression(v), ids, cents))

  /** Shared by interpreted eval and generated code. */
  def nearest(v: ArrayData, ids: Array[Int],
      cents: Array[Array[Double]]): Int = {
    var best = -1
    var bestD = Double.MaxValue
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      val n = math.min(c.length, v.numElements())
      var d = 0.0
      var i = 0
      while (i < n) { val x = c(i) - v.getDouble(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = ids(ci) }
      ci += 1
    }
    best
  }
}

/** Native hyperplane-signature band keys over a raw `array<double>`
  * column: one r-bit key per band (bit j of band b = sign of
  * ⟨plane_{b·r+j}, v⟩), bit-identical to the boxed-UDF predecessor's
  * loop including the common-prefix bound. The plane matrix rides as a
  * codegen reference object — per-row cost is the bands·r·dim FMAs
  * straight off the UnsafeArrayData (the banding pass is a
  * corpus-volume map, the last r13 site of the per-row
  * `Array[Double]` decode class). */
case class HyperplaneBandKeys(child: Expression,
    planes: Array[Array[Double]], r: Int, bands: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "hyperplane_band_keys"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_band_keys expects array<double>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    HyperplaneBandKeys.keys(v.asInstanceOf[ArrayData], planes, r, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.HyperplaneBandKeys.keys($v, $pRef, $r, $bands)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBandKeys =
    copy(child = newChild)
}

object HyperplaneBandKeys {
  def apply(v: Column, planes: Array[Array[Double]], r: Int,
      bands: Int): Column =
    GraftColumnBridge.column(HyperplaneBandKeys(
      GraftColumnBridge.expression(v), planes, r, bands))

  /** Shared by interpreted eval and generated code. */
  def keys(v: ArrayData, planes: Array[Array[Double]], r: Int,
      bands: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < r) {
        val p = planes(b * r + j)
        val m = math.min(p.length, n)
        var s = 0.0
        var i = 0
        while (i < m) { s += p(i) * v.getDouble(i); i += 1 }
        if (s > 0) key |= 1L << j
        j += 1
      }
      out(b) = key
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Single packed signature (bit j = sign of ⟨plane_j, v⟩) — the
    * one-band 64-bit special case [[graft.llm.Similarity.annTopK]]
    * slices into 4-bit bands column-side. */
  def sig(v: ArrayData, planes: Array[Array[Double]]): Long = {
    val n = v.numElements()
    var sigv = 0L
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      val m = math.min(p.length, n)
      var s = 0.0
      var i = 0
      while (i < m) { s += p(i) * v.getDouble(i); i += 1 }
      if (s > 0) sigv |= 1L << j
      j += 1
    }
    sigv
  }
}

/** Native packed hyperplane signature (64-bit) — see
  * [[HyperplaneBandKeys.sig]]. */
case class HyperplaneSig(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "hyperplane_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects array<double>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    HyperplaneBandKeys.sig(v.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", planes, "double[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.HyperplaneBandKeys.sig($v, $pRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

object HyperplaneSig {
  def apply(v: Column, planes: Array[Array[Double]]): Column =
    GraftColumnBridge.column(HyperplaneSig(
      GraftColumnBridge.expression(v), planes))
}

/** Native `nprobe`-nearest-centroids assignment over a raw
  * `array<double>` column: the ids of the nprobe smallest squared-L2
  * centroids, ascending by distance with STABLE ties (equal distances
  * keep centroid-array order) — bit-identical to the boxed-UDF
  * predecessor's `sortBy(_._2).take(nprobe)`. The probing pass is the
  * corpus-volume map in cluster-blocked near-dup (x3/d8/c4); the
  * UDF decoded an `Array[Double]` and allocated k boxed tuples per
  * row. */
case class NearestCentroidProbes(child: Expression, ids: Array[Int],
    cents: Array[Array[Double]], nprobe: Int) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroid_probes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid_probes expects array<double>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    NearestCentroidProbes.probes(v.asInstanceOf[ArrayData], ids, cents,
      nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ids", ids, "int[]")
    val cRef = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.NearestCentroidProbes.probes($v, $idsRef, $cRef, $nprobe)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidProbes =
    copy(child = newChild)
}

object NearestCentroidProbes {
  def apply(v: Column, ids: Array[Int], cents: Array[Array[Double]],
      nprobe: Int): Column =
    GraftColumnBridge.column(NearestCentroidProbes(
      GraftColumnBridge.expression(v), ids, cents, nprobe))

  /** Shared by interpreted eval and generated code: bounded stable
    * insertion — equal distances keep centroid order, like the stable
    * sort it replaces. */
  def probes(v: ArrayData, ids: Array[Int], cents: Array[Array[Double]],
      nprobe: Int): ArrayData = {
    val k = cents.length
    val np = math.min(nprobe, k)
    val bd = new Array[Double](np)
    val bi = new Array[Int](np)
    var filled = 0
    val n = v.numElements()
    var ci = 0
    while (ci < k) {
      val c = cents(ci)
      val m = math.min(c.length, n)
      var d = 0.0
      var i = 0
      while (i < m) { val x = c(i) - v.getDouble(i); d += x * x; i += 1 }
      if (filled < np || d < bd(filled - 1)) {
        // insert AFTER all entries with distance <= d (stable ties)
        var pos = if (filled < np) filled else np - 1
        while (pos > 0 && bd(pos - 1) > d) {
          if (pos < np) { bd(pos) = bd(pos - 1); bi(pos) = bi(pos - 1) }
          pos -= 1
        }
        bd(pos) = d
        bi(pos) = ids(ci)
        if (filled < np) filled += 1
      }
      ci += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(bi, filled))
  }
}

/** Native per-doc MinHash signature over a raw `array<bigint>` shingle
  * hash set: out(i) = min over the set of (aᵢ·pmod(x, P) + bᵢ) mod P —
  * bit-identical to the boxed-UDF predecessor (same Long wrap
  * semantics, same pmod). The signature pass is d3's corpus-volume
  * map; the UDF decoded an `Array[Long]` per doc. Coefficient arrays
  * ride as codegen reference objects (memoize them per family so
  * plans canonicalize equal — case-class Array fields compare by
  * reference). */
case class MinHashSig(child: Expression, as: Array[Long], bs: Array[Long],
    p: Long) extends UnaryExpression {
  require(as.length == bs.length && as.nonEmpty, "coefficient arrays")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<bigint>, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    MinHashSig.sig(v.asInstanceOf[ArrayData], as, bs, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("as", as, "long[]")
    val bRef = ctx.addReferenceObj("bs", bs, "long[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.MinHashSig.sig($v, $aRef, $bRef, ${p}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  def apply(v: Column, as: Array[Long], bs: Array[Long], p: Long): Column =
    GraftColumnBridge.column(MinHashSig(
      GraftColumnBridge.expression(v), as, bs, p))

  /** Shared by interpreted eval and generated code. */
  def sig(v: ArrayData, as: Array[Long], bs: Array[Long], p: Long): ArrayData = {
    val k = as.length
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = v.numElements()
    var j = 0
    while (j < n) {
      val h0 = v.getLong(j)
      val h = ((h0 % p) + p) % p
      var i = 0
      while (i < k) {
        val x = (as(i) * h + bs(i)) % p
        if (x < out(i)) out(i) = x
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native PQ encoder over a raw `array<double>` vector + its norm:
  * per subspace, the nearest codeword index of the NORMALIZED
  * subvector (squared L2, strict `<` keeps the first on ties) — one
  * byte per subspace, bit-identical to the boxed-UDF predecessor. The
  * encode is the corpus-volume map that builds the 100 TB PQ index;
  * the codebook tensor rides as a codegen reference object. */
case class PqEncode(vec: Expression, nrm: Expression,
    books: Array[Array[Array[Double]]], dsub: Int)
    extends BinaryExpression {
  override def left: Expression = vec
  override def right: Expression = nrm
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, nrm.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_encode expects (array<double>, double), got $other")
    }

  override def nullSafeEval(v: Any, n: Any): Any =
    PqEncode.encode(v.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      books, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("books", books, "double[][][]")
    defineCodeGen(ctx, ev, (v, n) =>
      s"graft.functions.PqEncode.encode($v, $n, $bRef, $dsub)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqEncode =
    copy(vec = newLeft, nrm = newRight)
}

object PqEncode {
  def apply(v: Column, nrm: Column, books: Array[Array[Array[Double]]],
      dsub: Int): Column =
    GraftColumnBridge.column(PqEncode(GraftColumnBridge.expression(v),
      GraftColumnBridge.expression(nrm), books, dsub))

  /** Shared by interpreted eval and generated code. Throws on a
    * too-short input vector (r13 advice): UnsafeArrayData does not
    * bounds-check `getDouble`, so without the guard a malformed row
    * would silently encode garbage codes where the boxed-UDF
    * predecessor threw. */
  def encode(v: ArrayData, nrm: Double, books: Array[Array[Array[Double]]],
      dsub: Int): Array[Byte] = {
    val m = books.length
    if (v.numElements() < m * dsub)
      throw new IllegalArgumentException(
        s"pq_encode: vector has ${v.numElements()} elements, needs ${m * dsub}")
    val codes = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val book = books(s)
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < book.length) {
        val c = book(j)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val x = v.getDouble(s * dsub + i) / nrm - c(i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      codes(s) = best.toByte
      s += 1
    }
    codes
  }
}

/** Native PQ asymmetric-distance accumulation: Σ over subspaces of the
  * query's precomputed inner-product table entry at the corpus row's
  * code — the per-(query, vector) hot loop of the ADC scan, byte
  * lookups only, never the float vectors. */
case class PqAdc(codes: Expression, tbl: Expression, ksub: Int)
    extends BinaryExpression {
  override def left: Expression = codes
  override def right: Expression = tbl
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, tbl.dataType) match {
      case (org.apache.spark.sql.types.BinaryType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_adc expects (binary, array<double>), got $other")
    }

  override def nullSafeEval(c: Any, t: Any): Any =
    PqAdc.adc(c.asInstanceOf[Array[Byte]], t.asInstanceOf[ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, t) =>
      s"graft.functions.PqAdc.adc($c, $t, $ksub)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdc =
    copy(codes = newLeft, tbl = newRight)
}

object PqAdc {
  def apply(codes: Column, tbl: Column, ksub: Int): Column =
    GraftColumnBridge.column(PqAdc(GraftColumnBridge.expression(codes),
      GraftColumnBridge.expression(tbl), ksub))

  /** Shared by interpreted eval and generated code. */
  def adc(codes: Array[Byte], tbl: ArrayData, ksub: Int): Double = {
    var acc = 0.0
    var s = 0
    while (s < codes.length) {
      acc += tbl.getDouble(s * ksub + (codes(s) & 0xff))
      s += 1
    }
    acc
  }
}

/** Native sorted-set intersection COUNT over two raw `array<bigint>`
  * columns (two-pointer merge over sort_array'd shingle-hash sets) —
  * the per-CANDIDATE-PAIR verify loop of the MinHash-LSH family
  * (d3/streaming near-dup). Candidate volume at web scale is the
  * dominant verify cost; the boxed-UDF predecessor decoded both
  * arrays per pair. Bit-identical count. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
          ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count expects two array<bigint>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.count(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersectCount.count($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Shared by interpreted eval and generated code. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
