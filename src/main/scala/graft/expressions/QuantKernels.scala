package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types._

/** Model-parameter kernels for the quantizer expressions
  * ([[NearestCentroids]], [[PqCodes]], [[PqLut]]): the centroid /
  * codebook matrices ride the plan as ONE array literal each (O(1)
  * expression nodes at any C), and scoring is a tight primitive loop —
  * where the literal-folded Column arms grow O(C·dim) nodes and fall
  * out of codegen past a few dozen centroids (measured: the sd1 gate at
  * c = 625 ran 10× slower through the literal tree; tools/QuantParamProbe,
  * deleted after 17eacc8, pinned the cliff at production C).
  *
  * Bit-faithfulness contract (spec-pinned against the literal arms, the
  * test-scope `graft.operators.LiteralArms`):
  * dots and squared distances fold ascending-index exactly like
  * `aggregate(zip_with(...))`, and ordering uses Spark SQL's double
  * semantics — NaN greatest and self-equal, -0.0 == 0.0 — NOT
  * `java.lang.Double.compare` (which splits the zeros). Dimension
  * mismatches fail loudly (the codebase convention; the literal arm
  * would null-propagate garbage instead). */
private[expressions] object QuantOrd {
  /** Spark SQL double comparison (Utils.nanSafeCompareDoubles shape). */
  def cmp(x: Double, y: Double): Int = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if ((xn && yn) || x == y) 0
    else if (xn) 1
    else if (yn) -1
    else if (x > y) 1 else -1
  }
}

/** Serializable coarse-quantizer: cosine-equivalent scores against all
  * centroids, top-n cid selection with (score desc, cid asc) order. */
final class CentroidKernel(val cids: Array[Int],
                           val vecs: Array[Array[Double]],
                           val norms: Array[Double]) extends Serializable {
  private val dim = if (vecs.nonEmpty) vecs(0).length else 0

  /** negscore(i) = -(dot(v, c_i)/|c_i|), or -0.0 for a zero-norm
    * centroid — the exact value the literal arm's `-centScore` lane
    * (`LiteralArms.nearestCids`) computes (ascending-index dot fold). */
  private def negScores(v: ArrayData): Array[Double] = {
    require(v.numElements() == dim,
      s"nearest centroids: expected $dim-dim vector, got ${v.numElements()}")
    val out = new Array[Double](vecs.length)
    var i = 0
    while (i < vecs.length) {
      val cv = vecs(i); val cn = norms(i)
      out(i) =
        if (cn > 0) {
          var s = 0.0; var j = 0
          while (j < dim) { s += v.getDouble(j) * cv(j); j += 1 }
          -(s / cn)
        } else -0.0
      i += 1
    }
    out
  }

  /** Array of the n nearest cids, nearest first, ties to smaller cid. */
  def nearest(v: ArrayData, n: Int): ArrayData = {
    val neg = negScores(v)
    val c = neg.length
    val idx = Array.range(0, c)
    // full index sort: selection only matters for n << c on hot rows,
    // and the n=1 corpus-side case takes the argmin fast path below
    val boxed = idx.map(Integer.valueOf)
    java.util.Arrays.sort(boxed, (p: Integer, q: Integer) => {
      val d = QuantOrd.cmp(neg(p), neg(q))
      if (d != 0) d else Integer.compare(cids(p), cids(q))
    })
    val k = math.min(n, c)
    val out = new Array[Int](k)
    var i = 0
    while (i < k) { out(i) = cids(boxed(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** argmin fast path (n = 1): single pass, no sort, no boxing — the
    * per-corpus-row shape IvfPq's assignment lane runs. */
  def nearestOne(v: ArrayData): ArrayData = {
    val neg = negScores(v)
    var best = 0
    var i = 1
    while (i < neg.length) {
      val d = QuantOrd.cmp(neg(i), neg(best))
      if (d < 0 || (d == 0 && cids(i) < cids(best))) best = i
      i += 1
    }
    new GenericArrayData(Array(cids(best)))
  }

  def nearestDispatch(v: ArrayData, n: Int): ArrayData =
    if (n == 1) nearestOne(v) else nearest(v, n)
}

/** Serializable PQ codebooks: per-subspace argmin codes and per-query
  * lookup tables. books(s)(c) = centroid c of subspace s. */
final class PqCodebookKernel(val books: Array[Array[Array[Double]]])
    extends Serializable {
  private val m = books.length
  private val ks = if (m > 0) books(0).length else 0
  private val d = if (ks > 0) books(0)(0).length else 0
  private val dim = m * d

  private def l2sq(v: ArrayData, off: Int, cent: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < d) {
      val diff = v.getDouble(off + j) - cent(j)
      s += diff * diff
      j += 1
    }
    s
  }

  /** codes[m]: per-subspace argmin-distance centroid, ties to the
    * smaller code — the literal arm's ascending (dist, cid) sort. */
  def codes(v: ArrayData): ArrayData = {
    require(v.numElements() == dim,
      s"pq codes: expected $dim-dim vector, got ${v.numElements()}")
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val book = books(s)
      var best = 0
      var bestDist = l2sq(v, s * d, book(0))
      var c = 1
      while (c < ks) {
        val dist = l2sq(v, s * d, book(c))
        if (QuantOrd.cmp(dist, bestDist) < 0) { best = c; bestDist = dist }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  /** lut[m][ks]: lut(s)(c) = d²(q_s, centroid c of subspace s). */
  def lut(q: ArrayData): ArrayData = {
    require(q.numElements() == dim,
      s"pq lut: expected $dim-dim vector, got ${q.numElements()}")
    val rows = new Array[Any](m)
    var s = 0
    while (s < m) {
      val book = books(s)
      val row = new Array[Double](ks)
      var c = 0
      while (c < ks) { row(c) = l2sq(q, s * d, book(c)); c += 1 }
      rows(s) = new GenericArrayData(row)
      s += 1
    }
    new GenericArrayData(rows)
  }
}

/** `graft_nearest_cids(v, centroids, n)` — v: array&lt;double&gt;,
  * centroids: FOLDABLE array&lt;struct&lt;cid, vec, norm&gt;&gt;, n:
  * foldable int. Returns the n nearest centroid ids, nearest first,
  * ties to the smaller cid — bit-identical to
  * the literal struct-sort arm of [[graft.operators.Ivf.nearestCids]]
  * (`LiteralArms.nearestCids`). */
case class NearestCentroids(vec: Expression, cents: Expression, n: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cents
  override def third: Expression = n

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cids"

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val centsOk = cents.foldable && (cents.dataType match {
      case ArrayType(StructType(fields), _) if fields.length == 3 =>
        fields(0).dataType == IntegerType &&
          fields(1).dataType.isInstanceOf[ArrayType] &&
          fields(2).dataType == DoubleType
      case _ => false
    })
    val nOk = n.foldable && n.dataType == IntegerType
    if (vecOk && centsOk && nOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_nearest_cids expects (array<double>, foldable " +
        "array<struct<int,array<double>,double>>, foldable int); got (" +
        s"${vec.dataType.simpleString}, ${cents.dataType.simpleString}, " +
        s"${n.dataType.simpleString})")
  }

  @transient private lazy val kernel: CentroidKernel = {
    val arr = cents.eval(null).asInstanceOf[ArrayData]
    val c = arr.numElements()
    val ids = new Array[Int](c)
    val vecs = new Array[Array[Double]](c)
    val norms = new Array[Double](c)
    var i = 0
    while (i < c) {
      // SQL-callable form admits nullable elements — diagnose, don't NPE
      // (the graft_bpe_encode convention; round-14 advice)
      val row = arr.getStruct(i, 3)
      require(row != null, s"centroid $i is null — centroids must be " +
        "non-null (cid, vector, norm) structs")
      val vecArr = row.getArray(1)
      require(!row.isNullAt(0) && vecArr != null && !row.isNullAt(2),
        s"centroid $i has a null field — (cid, vector, norm) must all be set")
      ids(i) = row.getInt(0)
      vecs(i) = vecArr.toDoubleArray()
      norms(i) = row.getDouble(2)
      i += 1
    }
    new CentroidKernel(ids, vecs, norms)
  }
  @transient private lazy val topN: Int =
    n.eval(null).asInstanceOf[Int]

  override def nullSafeEval(v: Any, c: Any, nn: Any): Any =
    kernel.nearestDispatch(v.asInstanceOf[ArrayData], topN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("centKernel", kernel,
      classOf[CentroidKernel].getName)
    val nv = topN
    nullSafeCodeGen(ctx, ev, (v, _, _) =>
      if (nv == 1) s"${ev.value} = $k.nearestOne($v);"
      else s"${ev.value} = $k.nearest($v, $nv);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(vec = f, cents = s, n = t)
}

/** `graft_pq_codes(v, books)` — PQ encode: per-subspace argmin code,
  * ties to the smaller code. books: FOLDABLE
  * array&lt;array&lt;array&lt;double&gt;&gt;&gt; (subspace → code →
  * centroid). Bit-identical to [[graft.operators.Pq]]'s literal arm
  * (`LiteralArms.codesCol`). */
case class PqCodes(vec: Expression, books: Expression)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = books

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"

  override def checkInputDataTypes(): TypeCheckResult =
    PqCodes.check(prettyName, vec, books)

  @transient private lazy val kernel: PqCodebookKernel =
    PqCodes.buildKernel(books)

  override def nullSafeEval(v: Any, b: Any): Any =
    kernel.codes(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernel", kernel,
      classOf[PqCodebookKernel].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $k.codes($v);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression =
    copy(vec = l, books = r)
}

object PqCodes {
  private[expressions] def check(name: String, vec: Expression,
                                 books: Expression): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val booksOk = books.foldable && (books.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
      case _ => false
    })
    if (vecOk && booksOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (array<double>, foldable array<array<array<double>>>); " +
        s"got (${vec.dataType.simpleString}, ${books.dataType.simpleString}" +
        s"${if (books.foldable) "" else " non-foldable"})")
  }

  private[expressions] def buildKernel(books: Expression): PqCodebookKernel = {
    val outer = books.eval(null).asInstanceOf[ArrayData]
    val m = outer.numElements()
    val arr = new Array[Array[Array[Double]]](m)
    var s = 0
    while (s < m) {
      // SQL-callable form admits nullable elements — diagnose, don't NPE
      // (the graft_bpe_encode convention; round-14 advice)
      val mid = outer.getArray(s)
      require(mid != null, s"codebook subspace $s is null — codebooks " +
        "must be non-null array<array<double>> per subspace")
      val ks = mid.numElements()
      val row = new Array[Array[Double]](ks)
      var c = 0
      while (c < ks) {
        val cent = mid.getArray(c)
        require(cent != null, s"codebook centroid ($s, $c) is null — " +
          "every centroid must be a non-null array<double>")
        row(c) = cent.toDoubleArray()
        c += 1
      }
      arr(s) = row
      s += 1
    }
    new PqCodebookKernel(arr)
  }
}

/** `graft_pq_lut(q, books)` — per-query ADC lookup table:
  * lut(s)(c) = d²(q_s, centroid c of subspace s). */
case class PqLut(vec: Expression, books: Expression)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = books

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "graft_pq_lut"

  override def checkInputDataTypes(): TypeCheckResult =
    PqCodes.check(prettyName, vec, books)

  @transient private lazy val kernel: PqCodebookKernel =
    PqCodes.buildKernel(books)

  override def nullSafeEval(v: Any, b: Any): Any =
    kernel.lut(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("pqKernel", kernel,
      classOf[PqCodebookKernel].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $k.lut($v);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression =
    copy(vec = l, books = r)
}

/** Serializable hyperplane table: sign-bit signature of a vector
  * against `planes` fixed hyperplanes, optionally folded into a bucket
  * count — the body of [[graft.operators.Similarity.hyperplaneSignature]],
  * the engine's one signature. Bit-identical to its literal arm
  * (`LiteralArms.hyperplaneSignature`): per-plane
  * dot folds ascending-index exactly like `aggregate(zip_with(...))`,
  * the sign test is a strict `> 0` (NaN dot → bit 0, like the literal
  * arm's `when`), and the fold is a plain `%` of the non-negative
  * signature (= the literal arm's `pmod`). */
final class HyperplaneKernel(val planes: Array[Array[Double]],
                             val buckets: Long) extends Serializable {
  private val dim = if (planes.nonEmpty) planes(0).length else 0

  def sig(v: ArrayData): Long = {
    // loud dimension guard, same hazard as the literal arm's raise_error:
    // zip_with would null-pad a short vector and silently send it to
    // bucket 0, degrading LSH to a cross join
    require(v.numElements() == dim,
      s"hyperplaneSignature: expected $dim-dim vector, got ${v.numElements()}")
    var acc = 0L
    var i = 0
    while (i < planes.length) {
      val p = planes(i)
      var s = 0.0
      var j = 0
      while (j < dim) { s += v.getDouble(j) * p(j); j += 1 }
      if (s > 0) acc += 1L << i
      i += 1
    }
    if (buckets > 0) acc % buckets else acc
  }
}

/** `graft_hyperplane_sig(v, planes, buckets)` — v: array&lt;double&gt;,
  * planes: FOLDABLE array&lt;array&lt;double&gt;&gt;, buckets: foldable
  * long (&le; 0 = raw sign-bit signature, no fold). Returns the bucket
  * id. [[graft.operators.Similarity.hyperplaneSignature]] is its one
  * caller; bit-identical to the literal arm
  * (`LiteralArms.hyperplaneSignature`). */
case class HyperplaneSig(vec: Expression, planes: Expression,
                         buckets: Expression) extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = planes
  override def third: Expression = buckets

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sig"

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val planesOk = planes.foldable && (planes.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    })
    val bucketsOk = buckets.foldable && buckets.dataType == LongType
    if (vecOk && planesOk && bucketsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_hyperplane_sig expects (array<double>, foldable " +
        "array<array<double>>, foldable bigint); got (" +
        s"${vec.dataType.simpleString}, ${planes.dataType.simpleString}, " +
        s"${buckets.dataType.simpleString})")
  }

  @transient private lazy val kernel: HyperplaneKernel = {
    val outer = planes.eval(null).asInstanceOf[ArrayData]
    val n = outer.numElements()
    val arr = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      // SQL-callable form admits nullable elements — diagnose, don't NPE
      val p = outer.getArray(i)
      require(p != null, s"hyperplane $i is null — planes must be " +
        "non-null array<double> rows")
      arr(i) = p.toDoubleArray()
      i += 1
    }
    new HyperplaneKernel(arr, buckets.eval(null).asInstanceOf[Long])
  }

  override def nullSafeEval(v: Any, p: Any, b: Any): Any =
    kernel.sig(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("hplaneKernel", kernel,
      classOf[HyperplaneKernel].getName)
    nullSafeCodeGen(ctx, ev, (v, _, _) => s"${ev.value} = $k.sig($v);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(vec = f, planes = s, buckets = t)
}

/** Column builders for the quantizer expressions ([[GraftExtensions]]
  * registers them). */
object QuantKernels {
  /** (cid, vector, norm) triples as the foldable centroid literal. */
  def nearestCids(v: Column, cents: Seq[(Int, Seq[Double], Double)], n: Int): Column =
    call_function("graft_nearest_cids", v, typedLit(cents), lit(n))

  def pqCodes(v: Column, books: Seq[Seq[Seq[Double]]]): Column =
    call_function("graft_pq_codes", v, typedLit(books))

  def pqLut(q: Column, books: Seq[Seq[Seq[Double]]]): Column =
    call_function("graft_pq_lut", q, typedLit(books))

  /** Hyperplane rows as the foldable plane literal; buckets <= 0 = no
    * fold (raw sign-bit signature). */
  def hyperplaneSig(v: Column, planes: Seq[Seq[Double]], buckets: Long): Column =
    call_function("graft_hyperplane_sig", v, typedLit(planes), lit(buckets))
}
