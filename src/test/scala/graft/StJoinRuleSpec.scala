package graft

import org.apache.spark.sql.functions._
import graft.functions.st
import graft.plans.GraftOptimizations

/** Declarative SQL spatial joins: `JOIN ON st_intersects(a, b)` must plan
  * as a cell EQUI-join (the grid rewrite), not a cartesian product, and
  * return exactly the naive join's rows.
  */
class StJoinRuleSpec extends SparkSpec {
  import spark.implicits._

  private def ptsDf = (1 to 300).map { i =>
    (i.toLong, (i % 36) * 10.0 - 175.5, (i % 17) * 10.0 - 80.5)
  }.toDF("pid", "x", "y")
    .withColumn("geometry", st.makePoint(col("x"), col("y")))

  private def boxesDf = (1 to 15).map { b =>
    (b.toLong, s"POLYGON ((${b * 20 - 170} ${b * 8 - 70}, ${b * 20 - 140} ${b * 8 - 70}, " +
      s"${b * 20 - 140} ${b * 8 - 40}, ${b * 20 - 170} ${b * 8 - 40}, ${b * 20 - 170} ${b * 8 - 70}))")
  }.toDF("bid", "wkt")
    .withColumn("geometry", st.geomFromText(col("wkt")))

  test("SQL st_intersects join: grid equi-join plan, naive-join answers") {
    GraftOptimizations.install(spark)
    spark.conf.set("spark.graft.sqlJoin.broadcastBytes", "0")  // pin the grid plan
    ptsDf.createOrReplaceTempView("sj_pts")
    boxesDf.createOrReplaceTempView("sj_boxes")
    val q = spark.sql(
      """SELECT p.pid, b.bid FROM sj_pts p JOIN sj_boxes b
        |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
    val got = q.as[(Long, Long)].collect().toSet
    assertNoProduct(q)
    // ground truth via driver-side JTS over the same inputs
    val ps = ptsDf.select("pid", "x", "y").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val bs = boxesDf.select("bid", "wkt").collect()
      .map(r => (r.getLong(0), graft.geom.GeomCodec.fromWkt(r.getString(1))))
    val want = (for {
      (pid, x, y) <- ps
      (bid, g) <- bs
      if g.intersects(graft.geom.GeomCodec.factory.createPoint(
        new org.locationtech.jts.geom.Coordinate(x, y)))
    } yield (pid, bid)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("reversed argument order transposes the predicate; extra conjuncts survive") {
    GraftOptimizations.install(spark)
    spark.conf.set("spark.graft.sqlJoin.broadcastBytes", "0")  // pin the grid plan
    ptsDf.createOrReplaceTempView("sj_pts")
    boxesDf.createOrReplaceTempView("sj_boxes")
    // st_contains(box, point) with the box on the RIGHT side of the join:
    // the rule must transpose to st_within over (left, right)
    val q = spark.sql(
      """SELECT p.pid, b.bid FROM sj_pts p JOIN sj_boxes b
        |ON st_contains(b.geometry, p.geometry) AND p.pid % 2 = 0""".stripMargin)
    assertNoProduct(q)
    val got = q.as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got.forall(_._1 % 2 == 0))
    // equi-joins are left alone (Spark already hashes them)
    val equi = spark.sql(
      """SELECT p.pid FROM sj_pts p JOIN sj_boxes b
        |ON p.pid = b.bid AND st_intersects(p.geometry, b.geometry)""".stripMargin)
    assert(equi.count() <= 15)
  }

  // driver-side JTS ground truth over the fixture
  private def truth: (Set[(Long, Long)], Set[Long]) = {
    val ps = ptsDf.select("pid", "x", "y").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val bs = boxesDf.select("bid", "wkt").collect()
      .map(r => (r.getLong(0), graft.geom.GeomCodec.fromWkt(r.getString(1))))
    val pairs = (for {
      (pid, x, y) <- ps
      (bid, g) <- bs
      if g.intersects(graft.geom.GeomCodec.factory.createPoint(
        new org.locationtech.jts.geom.Coordinate(x, y)))
    } yield (pid, bid)).toSet
    (pairs, ps.map(_._1).toSet)
  }

  /** Runs `q`: no plan may hold a CartesianProduct, and the plan that ran
    * no nested loop. The grid plans it for rows over the cell cap; with
    * none in these fixtures, adaptive execution drops those joins.
    */
  private def assertNoProduct(q: org.apache.spark.sql.DataFrame): Unit = {
    q.collect()
    val plan = q.queryExecution.executedPlan
    assert(!plan.toString.contains("CartesianProduct"), s"spatial join plans as a product:\n$plan")
    def ran(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => ran(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => s +: ran(s.plan)
        case o => o +: o.children.flatMap(ran)
      }
    assert(!ran(plan).exists(_.nodeName.startsWith("BroadcastNestedLoopJoin")),
      s"spatial join ran a nested loop:\n$plan")
    assert(ran(plan).exists(n => n.nodeName.endsWith("Join") && n.simpleString(100).contains("__g_lcx")),
      s"spatial join ran no cell equi-join:\n$plan")
  }

  test("LEFT OUTER st join: unmatched left rows kept with nulls, grid plan") {
    GraftOptimizations.install(spark)
    spark.conf.set("spark.graft.sqlJoin.broadcastBytes", "0")  // pin the grid plan
    ptsDf.createOrReplaceTempView("sj_pts")
    boxesDf.createOrReplaceTempView("sj_boxes")
    val q = spark.sql(
      """SELECT p.pid, b.bid FROM sj_pts p LEFT JOIN sj_boxes b
        |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
    assertNoProduct(q)
    val got = q.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val (pairs, allPids) = truth
    val matchedPids = pairs.map(_._1)
    val want = pairs.map { case (p, b) => (p, b) } ++
      (allPids -- matchedPids).map(p => (p, -1L))
    assert(got == want)
    assert(got.exists(_._2 == -1L), "fixture should leave some points unmatched")
    assert(got.exists(_._2 != -1L))
  }

  test("LEFT SEMI / LEFT ANTI st joins: membership filters, grid plan, multiplicity kept") {
    GraftOptimizations.install(spark)
    spark.conf.set("spark.graft.sqlJoin.broadcastBytes", "0")  // pin the grid plan
    ptsDf.createOrReplaceTempView("sj_pts")
    boxesDf.createOrReplaceTempView("sj_boxes")
    val (pairs, allPids) = truth
    val matchedPids = pairs.map(_._1)
    val semi = spark.sql(
      """SELECT p.pid FROM sj_pts p LEFT SEMI JOIN sj_boxes b
        |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
    assertNoProduct(semi)
    val semiRows = semi.as[Long].collect().toSeq
    assert(semiRows.toSet == matchedPids)
    assert(semiRows.size == semiRows.toSet.size, "semi join must emit each left row once")
    val anti = spark.sql(
      """SELECT p.pid FROM sj_pts p LEFT ANTI JOIN sj_boxes b
        |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
    assertNoProduct(anti)
    assert(anti.as[Long].collect().toSet == (allPids -- matchedPids))
    // ON-clause extra conjunct participates in MATCHING for left joins:
    // a row failing it still appears (as unmatched) in the outer result
    val outerRest = spark.sql(
      """SELECT p.pid, b.bid FROM sj_pts p LEFT JOIN sj_boxes b
        |ON st_intersects(p.geometry, b.geometry) AND b.bid % 2 = 0
        |WHERE p.pid <= 50""".stripMargin)
    assertNoProduct(outerRest)
    val gotRest = outerRest.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val restPairs = pairs.filter { case (p, b) => p <= 50 && b % 2 == 0 }
    val wantRest = restPairs ++
      (allPids.filter(_ <= 50) -- restPairs.map(_._1)).map(p => (p, -1L))
    assert(gotRest == wantRest)
  }

  test("RIGHT OUTER and FULL OUTER st joins: transposed / unioned dataflow, grid plan") {
    GraftOptimizations.install(spark)
    spark.conf.set("spark.graft.sqlJoin.broadcastBytes", "0")  // pin the grid plan
    ptsDf.createOrReplaceTempView("sj_pts")
    // every fixture box contains points, so add one box in the empty far
    // north: the right/full results must surface it as unmatched
    import spark.implicits._
    boxesDf.unionByName(Seq(
        (99L, "POLYGON ((0 85, 5 85, 5 89, 0 89, 0 85))")).toDF("bid", "wkt")
        .withColumn("geometry", st.geomFromText(col("wkt"))))
      .createOrReplaceTempView("sj_boxes")
    val (pairs, allPids) = truth
    val allBids = (1L to 15L).toSet + 99L
    val matchedBids = pairs.map(_._2)
    val rq = spark.sql(
      """SELECT p.pid, b.bid FROM sj_pts p RIGHT JOIN sj_boxes b
        |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
    assertNoProduct(rq)
    val gotR = rq.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSet
    val wantR = pairs ++ (allBids -- matchedBids).map(b => (-1L, b))
    assert(gotR == wantR)
    val fq = spark.sql(
      """SELECT p.pid, b.bid FROM sj_pts p FULL JOIN sj_boxes b
        |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
    assertNoProduct(fq)
    val gotF = fq.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0),
       if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val wantF = pairs ++
      (allPids -- pairs.map(_._1)).map(p => (p, -1L)) ++
      (allBids -- matchedBids).map(b => (-1L, b))
    assert(gotF == wantF)
    assert(gotF.exists(_._1 == -1L) && gotF.exists(_._2 == -1L),
      "fixture should leave unmatched rows on both sides")
  }

  test("API/SQL parity: inner, left outer, semi and anti agree with the rule and JTS") {
    GraftOptimizations.install(spark)
    spark.conf.set("spark.graft.sqlJoin.broadcastBytes", "0")  // pin the grid plan
    ptsDf.createOrReplaceTempView("sj_pts")
    boxesDf.createOrReplaceTempView("sj_boxes")
    val (pairs, allPids) = truth
    val matchedPids = pairs.map(_._1)
    val l = ptsDf.withColumn("bbox", st.bboxOf(col("geometry")))
    val r = boxesDf.withColumn("bbox", st.bboxOf(col("geometry")))
    // the rule's default cell size, so both entry points build the same plan
    def api(joinType: String) = graft.engine.SpatialJoin.join(l, r, "intersects",
      cellSize = 10.0, joinType = joinType)
    def sql(joinType: String, cols: String) = spark.sql(
      s"""SELECT $cols FROM sj_pts p $joinType JOIN sj_boxes b
         |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
    def pairRows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.getLong(0))

    val inner = api("inner")
    assert(inner.columns.toSeq == l.columns.map("l_" + _).toSeq ++ r.columns.map("r_" + _))
    val innerRows = pairRows(inner.select("l_pid", "r_bid"))
    assert(innerRows.toSet == pairs && innerRows.size == pairs.size)
    assert(innerRows.sorted == pairRows(sql("", "p.pid, b.bid")).sorted)

    val outer = api("left_outer")
    assert(outer.columns.toSeq == inner.columns.toSeq)
    val outerRows = pairRows(outer.select("l_pid", "r_bid"))
    assert(outerRows.toSet == pairs ++ (allPids -- matchedPids).map(p => (p, -1L)))
    assert(outerRows.sorted == pairRows(sql("LEFT", "p.pid, b.bid")).sorted)

    val semi = api("left_semi")
    assert(semi.columns.toSeq == l.columns.toSeq, "semi keeps the plain left schema")
    val semiRows = ids(semi.select("pid"))
    assert(semiRows.sorted == matchedPids.toSeq.sorted, "one row per matched left row")
    assert(semiRows.sorted == ids(sql("LEFT SEMI", "p.pid")).sorted)

    val anti = api("left_anti")
    assert(anti.columns.toSeq == l.columns.toSeq, "anti keeps the plain left schema")
    val antiRows = ids(anti.select("pid"))
    assert(antiRows.sorted == (allPids -- matchedPids).toSeq.sorted)
    assert(antiRows.sorted == ids(sql("LEFT ANTI", "p.pid")).sorted)

    for (df <- Seq(inner, outer, semi, anti)) assertNoProduct(df)
  }

  test("ST_DWithin join: dilated-envelope grid plan, exact JTS answers") {
    GraftOptimizations.install(spark)
    spark.conf.set("spark.graft.sqlJoin.broadcastBytes", "0")  // pin the grid plan
    graft.functions.SpatialFunctions.register(spark)
    ptsDf.createOrReplaceTempView("sj_pts")
    boxesDf.createOrReplaceTempView("sj_boxes")
    // radius larger than the 10° cell to prove dilation crosses cell
    // borders; decimal literal arrives as a foldable Cast, not a bare
    // double Literal — the matcher must still recognize it
    val q = spark.sql(
      """SELECT p.pid, b.bid FROM sj_pts p JOIN sj_boxes b
        |ON st_dwithin(p.geometry, b.geometry, 12.5)""".stripMargin)
    assertNoProduct(q)
    val got = q.as[(Long, Long)].collect().toSet
    val ps = ptsDf.select("pid", "x", "y").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val bs = boxesDf.select("bid", "wkt").collect()
      .map(r => (r.getLong(0), graft.geom.GeomCodec.fromWkt(r.getString(1))))
    val want = (for {
      (pid, x, y) <- ps
      (bid, g) <- bs
      if g.isWithinDistance(graft.geom.GeomCodec.factory.createPoint(
        new org.locationtech.jts.geom.Coordinate(x, y)), 12.5)
    } yield (pid, bid)).toSet
    assert(got == want)
    // strictly more pairs than the pure intersects join (the dilation ring)
    val inter = spark.sql(
      """SELECT p.pid, b.bid FROM sj_pts p JOIN sj_boxes b
        |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
      .as[(Long, Long)].collect().toSet
    assert(inter.subsetOf(got) && got.size > inter.size)
  }

  test("stats-first pick: tiny probe side broadcasts instead of gridding") {
    GraftOptimizations.install(spark)
    graft.functions.SpatialFunctions.register(spark)
    ptsDf.createOrReplaceTempView("sj_pts")
    boxesDf.createOrReplaceTempView("sj_boxes")
    try {
      spark.conf.set("spark.graft.sqlJoin.broadcastBytes", (256L * 1024L).toString)
      val q = spark.sql(
        """SELECT p.pid, b.bid FROM sj_pts p JOIN sj_boxes b
          |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString()
      // the deliberate broadcast nested loop, with the bbox PRE-computed as
      // a per-row column (so the per-pair condition is pure arithmetic)
      assert(plan.contains("BroadcastNestedLoop") && plan.contains("__g_lb") &&
        !plan.contains("__g_lcx"), plan)
      assert(!plan.contains("CartesianProduct"))
      val (pairs, _) = truth
      assert(q.as[(Long, Long)].collect().toSet == pairs)
      // the dwithin leg rides the same pick, dilated
      val d = spark.sql(
        """SELECT p.pid, b.bid FROM sj_pts p JOIN sj_boxes b
          |ON st_dwithin(p.geometry, b.geometry, 12.5)""".stripMargin)
      assert(d.queryExecution.executedPlan.toString().contains("BroadcastNestedLoop"))
      assert(pairs.subsetOf(d.as[(Long, Long)].collect().toSet))
      // the branch broadcasts whatever Spark's own size threshold says, on
      // both entry points
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val viaApi = graft.engine.SpatialJoin.broadcastJoin(
        ptsDf.withColumn("bbox", st.bboxOf(col("geometry"))),
        boxesDf.withColumn("bbox", st.bboxOf(col("geometry")))).select("l_pid", "r_bid")
      for (df <- Seq(viaApi, spark.sql(
          """SELECT p.pid, b.bid FROM sj_pts p JOIN sj_boxes b
            |ON st_intersects(p.geometry, b.geometry)""".stripMargin))) {
        val plan = df.queryExecution.executedPlan.toString()
        assert(plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"), plan)
        assert(df.as[(Long, Long)].collect().toSet == pairs)
      }
    } finally {
      spark.conf.set("spark.graft.sqlJoin.broadcastBytes", "0")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // file-backed canonical layers in a session that registers the rule the
    // advertised way (spark.sql.extensions: it then runs inside Catalyst's
    // operator-optimization batch, where the post-join exact filter is
    // pushed back into the join condition) take the same branch. Triangles,
    // not boxes: a bbox-only answer must differ from the exact one
    val tris = (1 to 15).map { b =>
      val (x0, y0) = (b * 20 - 170, b * 8 - 70)
      (b.toLong, s"POLYGON (($x0 $y0, ${x0 + 30} $y0, $x0 ${y0 + 30}, $x0 $y0))")
    }
    val pairs = (for {
      r <- ptsDf.select("pid", "x", "y").collect().toSeq
      (bid, wkt) <- tris
      if graft.geom.GeomCodec.fromWkt(wkt).intersects(graft.geom.GeomCodec.point(
        r.getDouble(1), r.getDouble(2)))
    } yield (r.getLong(0), bid)).toSet
    val (boxPairs, _) = truth
    assert(pairs.nonEmpty && pairs.size < boxPairs.size)
    val dir = java.nio.file.Files.createTempDirectory("sj-parquet").toString
    ptsDf.select(col("pid"), col("geometry"), st.bboxOf(col("geometry")).as("bbox"))
      .write.parquet(s"$dir/pts")
    tris.toDF("bid", "wkt").withColumn("geometry", st.geomFromText(col("wkt")))
      .select(col("bid"), col("geometry"), st.bboxOf(col("geometry")).as("bbox"))
      .write.parquet(s"$dir/boxes")
    withExtensionsSession { s2 =>
      s2.read.parquet(s"$dir/pts").createOrReplaceTempView("sj_pts_pq")
      s2.read.parquet(s"$dir/boxes").createOrReplaceTempView("sj_boxes_pq")
      val pq = s2.sql(
        """SELECT p.pid, b.bid FROM sj_pts_pq p JOIN sj_boxes_pq b
          |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
      assert(pq.queryExecution.executedPlan.toString().contains("BroadcastNestedLoop"))
      assert(pq.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == pairs)
      // only the right side's id survives the join: column pruning narrows
      // both inputs before the rule sees them
      val perBox = s2.sql(
        """SELECT b.bid, count(*) AS n FROM sj_pts_pq p JOIN sj_boxes_pq b
          |ON st_intersects(p.geometry, b.geometry) GROUP BY b.bid""".stripMargin)
      assert(perBox.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
        pairs.groupBy(_._2).map { case (b, ps) => b -> ps.size.toLong },
        perBox.queryExecution.optimizedPlan.toString)
    }
  }
}
