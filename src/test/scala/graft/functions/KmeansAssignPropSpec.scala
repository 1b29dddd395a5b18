package graft.functions

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{DataFrame, GraftColumns, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.SparkTestSession

/** ScalaCheck property spec for the fused k-means assign kernel: it
  * must equal Spark's own plan — `CAST((x − c)² AS DECIMAL(38,12))`,
  * `SUM` per codeword, argmin with ties to the smallest id — on random
  * vectors and on adversarial ones: squares sitting on a 12-dp HALF_UP
  * half-way point (where the scaled-long fast path must hand over to
  * BigDecimal), magnitudes past the long range (the overflow fallback)
  * and past DECIMAL(38,12) (NULL terms and sums), NULL components and
  * codewords missing dims.
  */
object KmeansAssignPropSpec extends Properties("KmeansAssign") {

  // each vector case runs two small Spark jobs
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  private lazy val spark = SparkTestSession.spark

  // ---- terms: the quantizer against Spark's cast expression ----------

  private def sparkCast(t: Double, ansi: Boolean): Either[String, JBigDecimal] =
    try Right(Option(Cast(Literal(t), DecimalType(38, 12), Some("UTC"),
        if (ansi) EvalMode.ANSI else EvalMode.LEGACY).eval())
      .map(_.asInstanceOf[Decimal].toJavaBigDecimal).orNull)
    catch { case _: ArithmeticException => Left("overflow") }

  /** The term as the kernel sums it: the fast path where it decides. */
  private def kernelTerm(t: Double, ansi: Boolean): Either[String, JBigDecimal] =
    try {
      val q = KmeansBook.fastQ12(t)
      Right(if (q != KmeansBook.NoFast) JBigDecimal.valueOf(q, 12)
        else KmeansBook.slowQ12(t, ansi))
    } catch { case _: ArithmeticException => Left("overflow") }

  /** The double nearest a 12-dp half-way point m.5e-12, nudged by up to
    * three ulps either way.
    */
  private val genHalfway: Gen[Double] = for {
    m <- Gen.oneOf(Gen.choose(0L, 10000L), Gen.choose(0L, 4000000000000000L))
    nudge <- Gen.choose(-3, 3)
  } yield {
    var t = new JBigDecimal(m).add(new JBigDecimal("0.5"))
      .movePointLeft(12).doubleValue()
    (1 to math.abs(nudge)).foreach { _ =>
      t = if (nudge > 0) Math.nextUp(t) else Math.nextDown(t)
    }
    t
  }

  private val genTerm: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(0.0, 4.0),
    4 -> genHalfway,
    2 -> (for { e <- Gen.choose(-15, 30); m <- Gen.choose(1.0, 10.0) }
      yield m * math.pow(10, e)),
    1 -> Gen.oneOf(0.0, Double.MinPositiveValue, 4096.0,
      Math.nextDown(4096.0), 9.999999999999999e25, 1e26, Double.MaxValue,
      Double.PositiveInfinity, Double.NaN))

  property("each term equals CAST(t AS DECIMAL(38,12)), ANSI or not") =
    Prop.forAll(genTerm) { t =>
      kernelTerm(t, ansi = false) == sparkCast(t, ansi = false) &&
        kernelTerm(t, ansi = true) == sparkCast(t, ansi = true)
    }

  property("the fast path decides unit-scale terms") =
    Prop.forAll(Gen.listOfN(2000, Gen.choose(0.0, 4.0))) { ts =>
      ts.count(KmeansBook.fastQ12(_) == KmeansBook.NoFast) <= 20
    }

  // ---- vectors: the kernel against the exploded SQL plan ---------------

  /** One codebook component or vector value, by regime. */
  private val genValue: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(-3.0, 3.0),
    2 -> Gen.choose(-1e9, 1e9),
    1 -> Gen.choose(-1e13, 1e13))

  private case class Case(cb: Seq[(Int, Int, Long, Option[Double])],
                          ex: Seq[(Long, Int, Long, Option[Double])])

  private val genCase: Gen[Case] = for {
    dims <- Gen.choose(1, 6)
    nChains <- Gen.choose(1, 3)
    halfway <- Gen.oneOf(false, true)
    chains <- Gen.listOfN(nChains, for {
      cws <- Gen.nonEmptyContainerOf[Set, Int](Gen.choose(0, 7))
      comps <- Gen.listOfN(cws.size * dims, for {
        present <- Gen.frequency(9 -> true, 1 -> false)
        isNull <- Gen.frequency(19 -> false, 1 -> true)
        v <- genValue
      } yield if (!present) None else Some(if (isNull) None else Some(v)))
    } yield (cws.toSeq.sorted, comps))
    nVecs <- Gen.choose(1, 8)
    vecs <- Gen.listOfN(nVecs * nChains, for {
      xs <- Gen.listOfN(dims, for {
        isNull <- Gen.frequency(24 -> false, 1 -> true)
        v <- genValue
        s <- genHalfway
      } yield if (isNull) None else Some((v, s)))
    } yield xs)
  } yield {
    val cb = chains.zipWithIndex.flatMap { case ((cws, comps), chain) =>
      cws.zipWithIndex.flatMap { case (cw, i) =>
        (0 until dims).flatMap { d =>
          comps(i * dims + d).map(c => (chain, cw, d.toLong, c))
        }
      }
    }
    // a halfway case puts each component at c + √(m.5e-12), so its
    // square lands within a few ulps of a rounding boundary
    val centre = cb.collect { case (ch, cw, d, Some(c)) => ((ch, d), c) }
      .groupMap(_._1)(_._2)
    val ex = vecs.zipWithIndex.flatMap { case (xs, i) =>
      val chain = i % nChains
      xs.zipWithIndex.map { case (x, d) =>
        val v = x.map { case (v, s) =>
          if (halfway) centre.get((chain, d.toLong))
            .map(_.head + math.sqrt(s)).getOrElse(v)
          else v
        }
        (i.toLong, chain, d.toLong, v)
      }
    }
    Case(cb, ex)
  }

  private def exFrame(c: Case): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.ex.map { case (v, s, d, x) => Row(v, s, d, x.orNull) }, 2),
      StructType(Seq(StructField("_vid", LongType), StructField("_sub", IntegerType),
        StructField("_dim", LongType), StructField("_x", DoubleType))))

  private def cbFrame(c: Case): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.cb.map { case (s, cw, d, v) => Row(s, cw, d, v.orNull) }, 2),
      StructType(Seq(StructField("_sub", IntegerType), StructField("_cw", IntegerType),
        StructField("_dim", LongType), StructField("_c", DoubleType))))

  private type Out = Map[(Long, Int), (Int, JBigDecimal, Long)]

  /** Spark's own plan: join, CAST each square, SUM, window argmin. */
  private def viaSql(c: Case): Out = {
    val byDist = Window.partitionBy(col("_vid"), col("_sub"))
      .orderBy(col("_dist").asc, col("_cw").asc)
    exFrame(c).join(cbFrame(c), Seq("_sub", "_dim"))
      .select(col("_vid"), col("_sub"), col("_cw"),
        ((col("_x") - col("_c")) * (col("_x") - col("_c")))
          .cast("decimal(38,12)").as("_sq"))
      .groupBy(col("_vid"), col("_sub"), col("_cw"))
      .agg(sum(col("_sq")).as("_dist"), count(lit(1)).as("_nd"))
      .withColumn("_rn", row_number().over(byDist))
      .filter(col("_rn") === 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getDecimal(3), r.getLong(4)))).toMap
  }

  /** The kernel, codegen'd, over the vector-grain frame. */
  private def viaKernel(c: Case): Out = {
    val book = KmeansBook(c.cb.map { case (s, cw, d, v) =>
      (s, cw, d, v.getOrElse(Double.NaN)) }, failOnOverflow = false)
    exFrame(c).groupBy(col("_vid"), col("_sub"))
      .agg(collect_list(struct(col("_dim"), col("_x"))).as("_xs"))
      .select(col("_vid"), col("_sub"),
        GraftColumns.kmeansAssign(col("_xs"), col("_sub"), book).as("_r"))
      .filter(col("_r").isNotNull)
      .select(col("_vid"), col("_sub"), col("_r._cw"), col("_r._dist"),
        col("_r._nd"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getDecimal(3), r.getLong(4)))).toMap
  }

  property("kernel = CAST + SUM + argmin plan, random and adversarial") =
    Prop.forAll(genCase) { c =>
      val (a, b) = (viaSql(c), viaKernel(c))
      Prop(a == b) :| s"sql=$a kernel=$b"
    }

  property("a sum past the long range falls back to the exact decimal") =
    Prop.forAll(Gen.choose(2300, 2600), Gen.choose(60.0, 63.9)) { (dims, x) =>
      // each square ~4000 takes the fast path; ~2500 of them overflow
      // the scaled long, and the sum must still match SUM exactly
      val c = Case(
        Seq(0, 1).flatMap(cw => (0 until dims).map(d =>
          (0, cw, d.toLong, Some(cw * 1e-3)))),
        (0 until dims).map(d => (0L, 0, d.toLong, Some(x + (d % 7) * 1e-7))))
      val (a, b) = (viaSql(c), viaKernel(c))
      Prop(a == b && a.nonEmpty) :| s"sql=$a kernel=$b"
    }
}
