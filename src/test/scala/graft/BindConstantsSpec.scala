package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.SpatialProcedures
import graft.plans.{BindConstants, BoundConstant, InRanges}

/** [[BindConstants]] in the shared session, which registers it through
  * `spark.sql.extensions`: lookups with new constants reuse the compiled
  * classes, answer exactly as a session without the graft rules does, and
  * leave the scan's pushed filters alone; range membership equals the OR
  * chain it replaces; literals in other positions are left as they are.
  */
class BindConstantsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** A point layer (hilbert curve, points on both sides of the
    * antimeridian) and a polygon layer, written once. */
  private lazy val warehouse: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bind").toString
    val r = new scala.util.Random(11)
    val pts = (0 until 3000).map { i =>
      val x = if (i % 10 == 0) 179.0 + r.nextDouble() * 2 - (if (r.nextBoolean()) 0 else 360)
        else r.nextDouble() * 340 - 170
      (s"p$i", math.max(-180.0, math.min(180.0, x)), r.nextDouble() * 140 - 70)
    }
    val s = spark
    import s.implicits._
    val procs = new SpatialProcedures(spark, dir)
    procs.catalog.createPointLayer("pts", pts.toDF("id", "x", "y"), "id", "x", "y", "hilbert")
    val polys = (0 until 400).map { i =>
      val (x, y, w) = (r.nextDouble() * 340 - 170, r.nextDouble() * 140 - 70, 0.5 + r.nextDouble())
      (s"g$i", s"POLYGON(($x $y, ${x + w} $y, ${x + w} ${y + w}, $x ${y + w}, $x $y))")
    }
    procs.addWKTLayer("polys", polys.toDF("id", "wkt"), "id", "wkt")
    dir
  }

  private def square(x: Double, y: Double, w: Double): String =
    s"POLYGON(($x $y, ${x + w} $y, ${x + w} ${y + w}, $x ${y + w}, $x $y))"

  /** Each lookup kind at constants that move with `i`, as lazy frames; kNN
    * runs its verification rounds here and hands back the caller's top-k. */
  private def lookups(s: SparkSession, i: Int): Seq[(String, DataFrame)] = {
    val procs = new SpatialProcedures(s, warehouse)
    val d = i * 1.37
    Seq(
      "bbox" -> procs.bbox("pts", 10 + d, 5 + d, 30 + d, 25 + d),
      "window" -> procs.layer("pts").windowViaCurve(-40 + d, -20 + d, -12 + d, 4 + d).df,
      "intersects" -> procs.intersects("polys", square(60 + d, 10 + d, 20 + 0.1 * i)),
      "dwithin" -> procs.withinDistance("pts", -100 + d, 30 - d, 900 + i),
      "knn" -> procs.layer("pts").knnCandidates(40 + d, -20 + d, 7).df
        .orderBy(col("distance"), col("id")).limit(7))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select((Seq("id") ++ df.columns.filter(_ == "distance")).map(col): _*)
      .collect().toSeq.sortBy(_.getString(0))

  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The Filter/Project expressions of the plan that ran. */
  private def ranExpressions(df: DataFrame): Seq[Expression] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case f: FilterExec => Seq(f.condition)
      case p: ProjectExec => p.projectList
    }.flatten
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
  }

  test("a second lookup of each kind with new constants compiles no class") {
    lookups(spark, 0).foreach(_._2.collect())
    val before = compilations
    lookups(spark, 1).foreach(_._2.collect())
    assert(compilations - before == 0,
      "a lookup with new constants compiled classes under BindConstants")
    // a session without the rule compiles again for new values: the
    // counter sees what the rule saves
    withoutGraftRules { ref =>
      lookups(ref, 2).foreach(_._2.collect())
      val before = compilations
      lookups(ref, 3).foreach(_._2.collect())
      assert(compilations - before > 0)
    }
  }

  test("every lookup kind returns the rows of the session without the rule") {
    def kinds(s: SparkSession) = {
      val p = new SpatialProcedures(s, warehouse)
      (lookups(s, 4) ++ Seq(
        "dwithin across the antimeridian" -> p.withinDistance("pts", 179.6, 10.0, 400.0),
        "knn across the antimeridian" -> p.layer("pts").knnCandidates(-179.9, 20.0, 9).df
          .orderBy(col("distance"), col("id")).limit(9)))
        .map { case (k, df) => k -> rows(df) }
    }
    val want = withoutGraftRules(kinds)
    kinds(spark).zip(want).foreach { case ((k, g), (_, w)) =>
      assert(w.nonEmpty, s"$k: the fixture gives no rows")
      assert(g == w, s"$k differs under BindConstants")
    }
  }

  test("the scan's pushed filters are unchanged, the Filter holds bound constants") {
    val ran = lookups(spark, 5)
    ran.foreach { case (k, df) =>
      // the scan as planned, before the physical rules ran, and as it ran
      val planned = df.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s.metadata("PushedFilters")
      }
      assert(scans(df).map(_.metadata("PushedFilters")) == planned, s"$k: pushed filters changed")
    }
    val exprs = ran.toMap.map { case (k, df) => k -> ranExpressions(df) }
    assert(exprs("bbox").exists(_.exists(_.isInstanceOf[BoundConstant])))
    assert(exprs("window").exists(_.exists(_.isInstanceOf[InRanges])))
    // no literal is left as a comparison operand in the window filter
    assert(!exprs("window").exists(_.exists {
      case b: BinaryComparison => b.children.exists(_.isInstanceOf[Literal])
      case _ => false
    }))
  }

  test("range membership equals the OR of closed ranges") {
    val c = BoundReference(0, LongType, nullable = true)
    val cases = Seq(
      Seq((50L, 60L), (1L, 10L), (20L, 30L)),             // unsorted
      Seq((1L, 10L), (5L, 20L), (8L, 9L)),                // overlapping, nested
      Seq((1L, 10L), (11L, 20L), (40L, 40L)),             // adjacent, single point
      Seq((7L, 7L), (3L, 3L)),                            // single points only
      Seq((Long.MinValue, -5L), (5L, Long.MaxValue)),     // extreme bounds
      Seq((Long.MinValue, Long.MaxValue), (0L, 1L)),      // everything
      Seq((10L, 1L), (4L, 4L)))                           // an empty range
    cases.foreach { ranges =>
      val chain = ranges.map { case (lo, hi) =>
        And(GreaterThanOrEqual(c, Literal(lo)), LessThanOrEqual(c, Literal(hi))): Expression
      }.reduce(Or(_, _))
      val bound = BindConstants.rewrite(chain)
      assert(bound.isInstanceOf[InRanges], s"$ranges: not rewritten: $bound")
      val probes = (ranges.flatMap { case (lo, hi) => Seq(lo, hi) }
        .flatMap(v => Seq(v - 1, v, v + 1)) ++ Seq(Long.MinValue, Long.MaxValue, 0L))
        .map(v => v: Any) :+ null
      val compiled = UnsafeProjection.create(Seq(bound))
      probes.foreach { v =>
        val row = InternalRow(v)
        val want = chain.eval(row)
        assert(bound.eval(row) == want, s"$ranges at $v (interpreted)")
        val out = compiled(row)
        assert((if (out.isNullAt(0)) null else out.getBoolean(0)) == want, s"$ranges at $v (codegen)")
      }
    }
    // the same through a session: Filter and Project of the rewritten plan
    val q = (s: SparkSession) => s.range(-5, 70).toDF("v")
      .union(s.sql("SELECT CAST(NULL AS BIGINT) AS v"))
      .select(col("v"), (col("v").between(50L, 60L) || col("v").between(1L, 10L) ||
        col("v").between(11L, 20L) || col("v").between(40L, 40L)).as("in"))
    val want = withoutGraftRules(q(_).collect().map(_.toString).sorted.toSeq)
    val df = q(spark)
    assert(ranExpressions(df).exists(_.exists(_.isInstanceOf[InRanges])))
    assert(df.collect().map(_.toString).sorted.toSeq == want)
    assert(q(spark).filter(col("in")).count() == want.count(_.endsWith(",true]")))
  }

  test("literals outside comparison and arithmetic operands are left alone") {
    val x = AttributeReference("x", DoubleType)()
    val s = AttributeReference("s", StringType)()
    val d = AttributeReference("d", DecimalType(10, 2))()
    val untouched = Seq[Expression](
      Round(x, Literal(2)),
      Rand(Literal(42L)),
      Substring(s, Literal(2), Literal(3)),
      Add(x, Literal(null, DoubleType)),
      EqualTo(x, Literal(null, DoubleType)),
      Multiply(d, Literal(Decimal(1.5), DecimalType(2, 1))))
    untouched.foreach(e => assert(BindConstants.rewrite(e) == e, s"rewrote $e"))
    // applying twice changes nothing
    val once = BindConstants.rewrite(Add(Round(x, Literal(2)), Literal(2.5)))
    assert(once == Add(Round(x, Literal(2)), BoundConstant(2.5, DoubleType)))
    assert(BindConstants.rewrite(once) == once)

    val q = (ss: SparkSession) => ss.range(0, 40, 1, 2).toDF("i")
      .select(col("i"), (col("i") * 1.25).as("x"), concat(lit("ab"), col("i").cast("string")).as("s"),
        (col("i").cast(DecimalType(10, 2)) / 3).as("d"))
      .select(col("i"), round(col("x") * 1.1, 2).as("r"), rand(42).as("rnd"),
        substring(col("s"), 2, 3).as("sub"), (col("d") * lit(BigDecimal("1.5"))).as("dec"),
        (col("x") + lit(null).cast(DoubleType)).as("nul"))
      .filter(round(col("x"), 1) > 3.0)
    val want = withoutGraftRules(q(_).collect().map(_.toString).sorted.toSeq)
    val df = q(spark)
    val exprs = ranExpressions(df)
    // round keeps its literal scale, rand its literal seed
    assert(exprs.exists(_.exists {
      case Round(_, Literal(_, IntegerType), _) => true
      case _ => false
    }))
    assert(exprs.exists(_.exists(_.isInstanceOf[BoundConstant])))
    assert(df.collect().map(_.toString).sorted.toSeq == want)
  }
}
