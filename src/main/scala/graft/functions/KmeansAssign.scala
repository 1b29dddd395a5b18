package graft.functions

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, DoubleType, IntegerType, LongType, StructField, StructType}

/** The k-means ASSIGN step as one native codegen expression at vector
  * grain: for one (entity, chain) row carrying its `(_dim, _x)` pairs,
  * the nearest codeword of that chain in a round's codebook
  * ([[KmeansBook]], broadcast with the task — chains × k × dims, tiny).
  *
  * It replaces, per row, the exploded plan it is bit-identical to:
  * {{{
  *   ex ⋈ codebook ON _dim
  *   → SUM(CAST((_x − _c) * (_x − _c) AS DECIMAL(38,12))), COUNT(*)
  *     GROUP BY (_vid, _sub, _cw)
  *   → row_number() OVER (PARTITION BY _vid, _sub
  *                        ORDER BY _dist ASC NULLS FIRST, _cw ASC) = 1
  * }}}
  * and returns `struct(_cw, _dist DECIMAL(38,12), _nd)`, or NULL when
  * no codeword of the chain shares a dim with the vector (the join
  * would produce no row). Exactness:
  *  - each term quantizes exactly like Spark's `CAST(double AS
  *    DECIMAL(38,12))` (shortest-repr decimal, then HALF_UP to 12 dp)
  *    — see [[KmeansBook.fastQ12]] for the scaled-long fast path and
  *    its guard;
  *  - the per-codeword sum is an exact scaled long; a term or a running
  *    sum that could leave the long range falls back to BigDecimal, and
  *    a term or sum past DECIMAL(38,12) is NULL or an error exactly as
  *    the cast and SUM are under the session's ANSI mode;
  *  - the argmin compares exact values, NULL first, ties to the
  *    smallest codeword id.
  */
case class KmeansAssign(left: Expression, right: Expression,
                        book: KmeansBook) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val pairsOk = left.dataType match {
      case ArrayType(StructType(Array(StructField(_, LongType, _, _),
        StructField(_, DoubleType, _, _))), _) => true
      case _ => false
    }
    if (pairsOk && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<struct<bigint, double>>, int), got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = KmeansAssign.resultType

  // NULL when no codeword shares a dim, even for non-null inputs
  override def nullable: Boolean = true

  override def prettyName: String = "graft_kmeans_assign"

  override protected def nullSafeEval(xs: Any, chain: Any): Any =
    book.assign(xs.asInstanceOf[ArrayData], chain.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the book is a reference object, so the generated source is the
    // same every round and the codegen cache serves later rounds
    val b = ctx.addReferenceObj("kmBook", book, classOf[KmeansBook].getName)
    nullSafeCodeGen(ctx, ev, (xs, chain) =>
      s"""${ev.value} = $b.assign($xs, $chain);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object KmeansAssign {
  val resultType: StructType = StructType(Seq(
    StructField("_cw", IntegerType, nullable = false),
    StructField("_dist", DecimalType(38, 12), nullable = true),
    StructField("_nd", LongType, nullable = false)))
}

/** One Lloyd round's codebook for [[KmeansAssign]]: per chain, the
  * codeword ids in ascending order and each codeword's centroid as a
  * dense by-dim array with a presence mask (a codeword carries exactly
  * the dims its members had). A NaN component stands for a NULL
  * centroid (a 6-dp DECIMAL mean is never NaN, so the marker is free).
  * `failOnOverflow` is the session's ANSI mode, as Spark's cast and
  * SUM read it.
  */
final class KmeansBook private (
    ids: Array[Array[Int]],
    cents: Array[Array[Array[Double]]],
    has: Array[Array[Array[Boolean]]],
    failOnOverflow: Boolean) extends Serializable {
  import KmeansBook._

  override def toString: String =
    s"KmeansBook(${ids.count(_ != null)} chains)"

  def assign(xs: ArrayData, chain: Int): InternalRow = {
    if (chain < 0 || chain >= ids.length || ids(chain) == null) return null
    val cw = ids(chain)
    val cs = cents(chain)
    val hs = has(chain)
    // decode the (dim, x) pairs once; every codeword re-reads them
    val n = xs.numElements()
    val dims = new Array[Int](n)
    val xv = new Array[Double](n)
    val xNull = new Array[Boolean](n)
    var j = 0
    while (j < n) {
      if (xs.isNullAt(j)) dims(j) = -1
      else {
        val p = xs.getStruct(j, 2)
        val d = if (p.isNullAt(0)) -1L else p.getLong(0)
        dims(j) = if (d >= 0 && d < Int.MaxValue) d.toInt else -1
        xNull(j) = p.isNullAt(1)
        if (!xNull(j)) xv(j) = p.getDouble(1)
      }
      j += 1
    }
    var found = false
    var best = 0
    var bestNd = 0L
    var bestNull = false
    var bestLong = 0L
    var bestBig: JBigDecimal = null
    var i = 0
    while (i < cw.length) {
      val c = cs(i)
      val h = hs(i)
      var nd = 0L
      var any = false
      var acc = 0L
      var big: JBigDecimal = null
      j = 0
      while (j < n) {
        val d = dims(j)
        if (d >= 0 && d < h.length && h(d)) {
          nd += 1
          val cd = c(d)
          if (!xNull(j) && !java.lang.Double.isNaN(cd)) {
            val diff = xv(j) - cd
            val t = diff * diff
            val q = fastQ12(t)
            if (q != NoFast && big == null && acc + q >= 0) {
              // both are ≥ 0, so a negative sum is the long overflow
              acc += q; any = true
            } else {
              val b = if (q != NoFast) JBigDecimal.valueOf(q, 12)
                      else slowQ12(t, failOnOverflow)
              if (b != null) {
                if (big == null) big = JBigDecimal.valueOf(acc, 12)
                big = big.add(b); any = true
              }
            }
          }
        }
        j += 1
      }
      if (nd > 0) {
        val isNull = !any || (big != null && !fitsSum(big))
        val better = !found || (!bestNull && (isNull ||
          (if (big == null && bestBig == null) acc < bestLong
           else toBig(big, acc).compareTo(toBig(bestBig, bestLong)) < 0)))
        if (better) {
          found = true; best = cw(i); bestNd = nd; bestNull = isNull
          bestLong = acc; bestBig = big
        }
      }
      i += 1
    }
    if (!found) null
    else {
      val dist =
        if (bestNull) null
        else if (bestBig == null) Decimal(bestLong, 38, 12)
        else Decimal(bestBig, 38, 12)
      new GenericInternalRow(Array[Any](best, dist, bestNd))
    }
  }

  private def toBig(big: JBigDecimal, acc: Long): JBigDecimal =
    if (big != null) big else JBigDecimal.valueOf(acc, 12)

  /** Does an exact non-negative sum fit DECIMAL(38,12)? Past it Spark's
    * SUM returns NULL, or raises under ANSI.
    */
  private def fitsSum(big: JBigDecimal): Boolean =
    big.precision() - big.scale() <= 26 || {
      if (failOnOverflow) throw new ArithmeticException(
        s"Overflow in sum of decimals: $big does not fit DECIMAL(38,12)")
      false
    }
}

object KmeansBook {

  /** [[fastQ12]]'s "cannot decide" answer (never a valid result: the
    * fast path only returns non-negative values).
    */
  private[graft] final val NoFast = Long.MinValue

  /** The book of `(chain, codeword, dim, centroid)` rows — the update
    * step's output; NaN stands for a NULL centroid component.
    */
  def apply(rows: Seq[(Int, Int, Long, Double)],
            failOnOverflow: Boolean): KmeansBook = {
    require(rows.forall(r => r._1 >= 0 && r._3 >= 0 && r._3 < Int.MaxValue),
      "chains and dims must be non-negative ints")
    val nChains = if (rows.isEmpty) 0 else rows.map(_._1).max + 1
    val ids = new Array[Array[Int]](nChains)
    val cents = new Array[Array[Array[Double]]](nChains)
    val has = new Array[Array[Array[Boolean]]](nChains)
    rows.groupBy(_._1).foreach { case (chain, rs) =>
      val byCw = rs.groupBy(_._2).toArray.sortBy(_._1)
      val width = rs.map(_._3).max.toInt + 1
      ids(chain) = byCw.map(_._1)
      cents(chain) = byCw.map { case (_, cr) =>
        val a = new Array[Double](width)
        cr.foreach(r => a(r._3.toInt) = r._4)
        a
      }
      has(chain) = byCw.map { case (_, cr) =>
        val a = new Array[Boolean](width)
        cr.foreach(r => a(r._3.toInt) = true)
        a
      }
    }
    new KmeansBook(ids, cents, has, failOnOverflow)
  }

  /** CAST(t AS DECIMAL(38,12)) for a square t ≥ 0 as an unscaled long,
    * without BigDecimal — or [[NoFast]] when this path cannot be sure.
    *
    * Spark's cast rounds the SHORTEST decimal that reads back as t
    * (`Double.toString`), HALF_UP at 12 dp. That decimal lies within
    * half an ulp of t, so it rounds like t itself unless a 12-dp
    * half-way point sits within half an ulp of t. Here t·10¹² is formed
    * exactly as p + e (10¹² is an exact double, and `fma` returns the
    * product's rounding error), its fraction is read against ½, and
    * anything within half an ulp (plus slack for the fraction's own
    * rounding) of the half-way point is left to [[slowQ12]]. The range
    * guard t < 2¹² keeps p below 2⁵², where |e| ≤ ¼ and ½ is the only
    * half-way point the fraction can be near; larger squares, NaN and
    * infinities are left to [[slowQ12]] too. At unit-scale distances
    * the guard sends about two terms in 10⁴ down the slow path.
    */
  private[graft] def fastQ12(t: Double): Long =
    if (!(t >= 0.0 && t < 4096.0)) NoFast
    else {
      val p = t * 1.0e12
      val e = Math.fma(t, 1.0e12, -p)
      val n = Math.floor(p)
      val f = (p - n) + e
      val margin = Math.ulp(t) * 0.5e12 + 1.0e-9
      if (Math.abs(f - 0.5) <= margin) NoFast
      else n.toLong + (if (f > 0.5) 1L else 0L)
    }

  /** Spark's own CAST(t AS DECIMAL(38,12)) of a square: NULL (here
    * `null`) for NaN and infinities, and past the type's range NULL,
    * or an error under ANSI.
    */
  private[graft] def slowQ12(t: Double, failOnOverflow: Boolean): JBigDecimal =
    if (java.lang.Double.isNaN(t) || java.lang.Double.isInfinite(t)) null
    else {
      val d = Decimal(t)
      if (d.changePrecision(38, 12)) d.toJavaBigDecimal
      else if (failOnOverflow) throw new ArithmeticException(
        s"$t cannot be represented as DECIMAL(38,12)")
      else null
    }
}
