package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the similarity hot path (SURVEY.md §2.10
  * L3): cosine similarity and random-hyperplane LSH bucketing over embedding
  * columns.
  *
  * The higher-order-function formulations (`aggregate(zip_with(...))` for the
  * dot product, nested `aggregate` over planes × dims for the bucket) evaluate
  * one interpreted lambda per element — for a 64-dim vector × 8 planes that is
  * ~1500 lambda dispatches per row, the same cost class the MinHash path
  * already eliminated (see [[TextHashes]]). These expressions run the identical
  * arithmetic in one compiled loop per row.
  *
  * Determinism: hyperplane components form one md5 lattice,
  * `md5("plane|" + globalPlane + "|" + dim)` folded to uniform[-0.5, 0.5),
  * so buckets are stable across runs, JVMs, and cluster sizes, and any
  * engine with md5 (the DuckDB oracle) reproduces every bucket.
  * [[CosineSim]] accumulates in index order — bit-identical to the
  * sequential `list_sum` the DuckDB oracle evaluates.
  */
object VectorOps {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** Exact cosine similarity of two float/double-array columns, double math,
    * index-order accumulation. 0.0 when either norm is zero.
    */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  /** Plain dot product of two float/double-array columns, double math,
    * index-order accumulation (bit-identical to a sequential `list_sum`).
    */
  def dotProduct(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Sign-pattern LSH bucket of a vector: bit p of the result is the sign of
    * the projection onto md5-derived hyperplane `table * planes + p`.
    * Distinct `table` values give independent hash tables (multi-table LSH).
    * DuckDB reproduces every plane weight (and so every bucket) from
    * `md5('plane|' || gp || '|' || d)`.
    */
  def cosineLshBucket(vec: Column, planes: Int = 8, table: Int = 0): Column =
    column(CosineLshBucket(expression(vec), planes, table))

  /** Asymmetric SQ8 cosine: exact double query vector vs a uint8-quantized
    * corpus vector decoded on the fly as `mns[i] + codes[i]/255 * spans[i]`
    * (the FAISS ScalarQuantizer QT_8bit distance) — one compiled loop per
    * row instead of a decode `transform` + [[cosineSim]] pair of
    * interpreted lambda chains. Index-order accumulation, so bit-identical
    * to the sequential `list_sum` the DuckDB oracle evaluates.
    */
  def sq8AsymSim(qvec: Column, codes: Column, mns: Column, spans: Column): Column =
    column(Sq8AsymSim(expression(qvec), expression(codes), expression(mns),
      expression(spans)))

  /** Reject null elements BEFORE the primitive bulk copy: toDoubleArray/
    * toFloatArray on an array carrying nulls either NPEs (GenericArrayData)
    * or silently copies garbage at the null slots (UnsafeArrayData) — a
    * vector with a null component has no meaningful similarity and must
    * fail loudly, not rank plausibly.
    */
  private def checkNoNullElements(ad: ArrayData, fn: String): Unit = {
    var i = 0
    val n = ad.numElements()
    while (i < n) {
      if (ad.isNullAt(i))
        throw new IllegalArgumentException(
          s"$fn: null element at index $i — vector arrays must be dense")
      i += 1
    }
  }

  private[functions] def toDoubles(ad: ArrayData, elem: DataType): Array[Double] =
    elem match {
      case DoubleType =>
        checkNoNullElements(ad, "toDoubles")
        ad.toDoubleArray()
      case FloatType =>
        checkNoNullElements(ad, "toDoubles")
        val f = ad.toFloatArray()
        val out = new Array[Double](f.length)
        var i = 0
        while (i < f.length) { out(i) = f(i).toDouble; i += 1 }
        out
      case other =>
        throw new IllegalArgumentException(
          s"vector element type must be float or double, got $other")
    }

  /** Code arrays must be integral — a float/double codes column blind-cast
    * through toIntArray() would stride-copy garbage. Longs are accepted
    * (range-checked) since parquet round-trips may widen.
    */
  private[functions] def toInts(ad: ArrayData, elem: DataType): Array[Int] =
    elem match {
      case IntegerType =>
        checkNoNullElements(ad, "toInts")
        ad.toIntArray()
      case ShortType =>
        checkNoNullElements(ad, "toInts")
        val s = ad.toShortArray()
        val out = new Array[Int](s.length)
        var i = 0
        while (i < s.length) { out(i) = s(i).toInt; i += 1 }
        out
      case LongType =>
        checkNoNullElements(ad, "toInts")
        val l = ad.toLongArray()
        val out = new Array[Int](l.length)
        var i = 0
        while (i < l.length) {
          if (l(i) < Int.MinValue || l(i) > Int.MaxValue)
            throw new IllegalArgumentException(
              s"code value ${l(i)} out of int range at index $i")
          out(i) = l(i).toInt
          i += 1
        }
        out
      case other =>
        throw new IllegalArgumentException(
          s"code element type must be integral, got $other")
    }

  private[functions] def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case other =>
      throw new IllegalArgumentException(s"expected an array column, got $other")
  }
}

case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = VectorOps.toDoubles(l.asInstanceOf[ArrayData], VectorOps.elemType(left))
    val b = VectorOps.toDoubles(r.asInstanceOf[ArrayData], VectorOps.elemType(right))
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += a(i) * b(i)
      na += a(i) * a(i)
      nb += b(i) * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) java.lang.Double.valueOf(0.0)
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSim = copy(left = newLeft, right = newRight)
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = VectorOps.toDoubles(l.asInstanceOf[ArrayData], VectorOps.elemType(left))
    val b = VectorOps.toDoubles(r.asInstanceOf[ArrayData], VectorOps.elemType(right))
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a(i) * b(i); i += 1 }
    java.lang.Double.valueOf(dot)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}

/** See [[VectorOps.sq8AsymSim]]. Children: (qvec float/double array,
  * codes int array, mns double array, spans double array). Null if any
  * input is null; 0.0 when either norm is zero (the [[CosineSim]] seam).
  */
case class Sq8AsymSim(qvec: Expression, codes: Expression, mns: Expression,
    spans: Expression) extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(qvec, codes, mns, spans)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_asym_sim"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val qv = qvec.eval(input); val cd = codes.eval(input)
    val mn = mns.eval(input); val sp = spans.eval(input)
    if (qv == null || cd == null || mn == null || sp == null) null
    else {
      // every child is type-validated (not just qvec): an array<float>
      // stats column or array<bigint> codes column must convert or fail
      // loudly — a blind primitive copy with the wrong stride returns
      // plausible-looking garbage scores
      val q = VectorOps.toDoubles(qv.asInstanceOf[ArrayData],
        VectorOps.elemType(qvec))
      val c = VectorOps.toInts(cd.asInstanceOf[ArrayData],
        VectorOps.elemType(codes))
      val m = VectorOps.toDoubles(mn.asInstanceOf[ArrayData],
        VectorOps.elemType(mns))
      val s = VectorOps.toDoubles(sp.asInstanceOf[ArrayData],
        VectorOps.elemType(spans))
      // a stats row trained on a different corpus (wrong dims) must fail
      // loudly — silently truncating to the shortest array would return
      // plausible-looking but wrong rankings
      if (q.length != c.length || c.length != m.length || m.length != s.length)
        throw new IllegalArgumentException(
          s"sq8_asym_sim dimension mismatch: qvec=${q.length} codes=${c.length} " +
            s"mns=${m.length} spans=${s.length}")
      val n = q.length
      var dot = 0.0; var nq = 0.0; var nd = 0.0
      var i = 0
      while (i < n) {
        val dec = m(i) + c(i).toDouble / 255.0 * s(i)
        dot += q(i) * dec
        nq += q(i) * q(i)
        nd += dec * dec
        i += 1
      }
      if (nq == 0.0 || nd == 0.0) java.lang.Double.valueOf(0.0)
      else java.lang.Double.valueOf(dot / (math.sqrt(nq) * math.sqrt(nd)))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Sq8AsymSim =
    copy(qvec = newChildren(0), codes = newChildren(1), mns = newChildren(2),
      spans = newChildren(3))
}

case class CosineLshBucket(child: Expression, planes: Int, table: Int)
    extends UnaryExpression with CodegenFallback {
  require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
  require(table >= 0, s"table must be >= 0, got $table")
  override def dataType: DataType = LongType
  override def prettyName: String = "cosine_lsh_bucket"

  // Plane components, derived once per (expression instance, dims) — NOT per
  // row: w(p, d) = hash60(md5("plane|" + (table*planes + p) + "|" + d))
  // % 100000 / 1e5 - 0.5, a uniform[-0.5, 0.5) lattice any engine with
  // md5 reproduces.
  @transient private lazy val cache =
    new java.util.concurrent.atomic.AtomicReference[(Int, Array[Array[Double]])]

  private def weights(dims: Int): Array[Array[Double]] = {
    val cached = cache.get()
    if (cached != null && cached._1 == dims) return cached._2
    val md = java.security.MessageDigest.getInstance("MD5")
    val w = Array.tabulate(planes, dims) { (p, d) =>
      (Md5Hash60(md, s"plane|${table * planes + p}|$d") % 100000L)
        .toDouble / 100000.0 - 0.5
    }
    cache.set((dims, w))
    w
  }

  override def nullSafeEval(input: Any): Any = {
    val v = VectorOps.toDoubles(input.asInstanceOf[ArrayData],
      VectorOps.elemType(child))
    val w = weights(v.length)
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val wp = w(p)
      var proj = 0.0
      var d = 0
      while (d < v.length) { proj += v(d) * wp(d); d += 1 }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(bucket)
  }

  override protected def withNewChildInternal(c: Expression): CosineLshBucket =
    copy(child = c)
}
