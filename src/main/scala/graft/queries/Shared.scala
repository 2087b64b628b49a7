package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.GeoFrame
import graft.functions.st
import graft.geom.GeomCodec
import graft.pipeline.Events

/** Fixtures that several query families share: table reads (events
  * normalized to long-nanosecond `ts`), the customer point and line layers,
  * the boilerplate-injected documents, and their oracle CTEs.
  *
  * Spatial queries run over a deterministic point layer derived from
  * `customer` (FIXTURES.md §7): lattice coordinates
  *   x = (c_custkey % 360) - 180 + 0.5
  *   y = ((c_custkey * 7) % 180) - 90 + 0.5
  * — integer+0.5 doubles, exact in both Spark and the DuckDB oracle, so
  * hash-match comparisons are stable. Line layers per nation connect those
  * points ordered by custkey.
  */
object Shared {

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") Events.normalizeEventTs(df) else df
  }

  /** Deterministic customer point layer in canonical schema (SURVEY §1.3). */
  private[graft] def pointsDf(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_nationkey"), col("c_acctbal"),
        ((col("c_custkey") % 360) - 180 + 0.5).cast("double").as("x"),
        (((col("c_custkey") * 7) % 180) - 90 + 0.5).cast("double").as("y"))
      .withColumn("id", col("ck").cast("string"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("gtype", lit(GeomCodec.GTYPE_POINT))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))

  private[graft] def pointsLayer(s: SparkSession, dir: String): GeoFrame =
    new GeoFrame(pointsDf(s, dir))

  /** Shared oracle CTE for the point layer (must mirror pointsDf exactly). */
  private[graft] val PtsCte =
    """WITH pts AS (
      |  SELECT c_custkey AS ck, c_nationkey, c_acctbal,
      |         CAST((c_custkey % 360) - 180 + 0.5 AS DOUBLE) AS x,
      |         CAST(((c_custkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS y
      |  FROM customer
      |)""".stripMargin

  /** Oracle CTE `segs`: each nation polyline's planar segment lengths
    * `seg` in custkey order (null on the first point), beside `pts`.
    */
  private[graft] val SegLengthsCtes = PtsCte +
    """
      |, segs AS (
      |  SELECT c_nationkey,
      |         sqrt((x - lag(x) OVER w) * (x - lag(x) OVER w)
      |            + (y - lag(y) OVER w) * (y - lag(y) OVER w)) AS seg
      |  FROM pts WINDOW w AS (PARTITION BY c_nationkey ORDER BY ck)
      |)""".stripMargin

  /** Oracle CTEs of the flat IVF index's list assignment: the vectors
    * with vec_id < 16 as centroids `c`, each vector's nearest list by
    * cosine (ties to the lower cid) in `assign`.
    */
  private[graft] val IvfAssignCtes =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      |sims AS (
      |  SELECT e.vec_id AS id, e.v, c.cid, list_cosine_similarity(e.v, c.cv) AS s
      |  FROM e CROSS JOIN c
      |), assign AS (
      |  SELECT id, v, cid FROM (
      |    SELECT id, v, cid, row_number() OVER (PARTITION BY id ORDER BY s DESC, cid) AS rn
      |    FROM sims) WHERE rn = 1
      |)""".stripMargin

  /** Oracle CTEs of the flat IVF index (the vectors with vec_id < 16 as
    * centroids) probed by every `every`-th vector: assignment `assign`,
    * queries `q`, their 2 nearest lists `probes` and the candidate
    * neighbours `cand` with rounded cosine, the query itself excluded.
    */
  private[graft] def ivfCandCtes(every: Int): String = IvfAssignCtes +
    s""", q AS (
       |  SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % $every = 0
       |), probes AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
       |    FROM q CROSS JOIN c) WHERE rn <= 2
       |), cand AS (
       |  SELECT q.qid, a.id AS nid, round(list_cosine_similarity(q.qv, a.v), 6) AS cosine
       |  FROM q JOIN probes p ON q.qid = p.qid JOIN assign a ON a.cid = p.cid
       |  WHERE a.id <> q.qid
       |)""".stripMargin

  /** Shared IVF-eval oracle CTEs (through `approx` ranked ≤5 and `exact`
    * top-5): the DuckDB replay of the flat IVF index + probe protocol used
    * by sim_recall and sim_ndcg.
    */
  private[graft] val IvfEvalCtes = ivfCandCtes(every = 50) +
    """, approx AS (
      |  SELECT qid, nid, rank FROM (
      |    SELECT qid, nid,
      |           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
      |    FROM cand) WHERE rank <= 5
      |), exact AS (
      |  SELECT qid, nid FROM (
      |    SELECT q.qid, e.vec_id AS nid,
      |           row_number() OVER (PARTITION BY q.qid
      |             ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC, e.vec_id) AS rank
      |    FROM q CROSS JOIN e WHERE e.vec_id <> q.qid) WHERE rank <= 5
      |)""".stripMargin

  /** Per-nation LineString layer: customer points connected in custkey order
    * (used by length / extract / closest-edge queries).
    */
  private[graft] def linesLayer(s: SparkSession, dir: String): GeoFrame = {
    val mkLine = udf((xs: Seq[Double], ys: Seq[Double]) => {
      val coords = xs.indices.map(i =>
        new org.locationtech.jts.geom.Coordinate(xs(i), ys(i))).toArray
      val g: org.locationtech.jts.geom.Geometry =
        if (coords.length < 2) GeomCodec.factory.createPoint(coords.head)
        else GeomCodec.factory.createLineString(coords)
      GeomCodec.toWkb(g)
    })
    val df = pointsDf(s, dir)
      .groupBy(col("c_nationkey"))
      .agg(sort_array(collect_list(struct(col("ck"), col("x"), col("y")))).as("cs"))
      .withColumn("geometry", mkLine(expr("transform(cs, c -> c.x)"), expr("transform(cs, c -> c.y)")))
      .withColumn("id", col("c_nationkey").cast("string"))
      .withColumn("gtype", st.gtype(col("geometry")))
      .withColumn("bbox", st.bboxOf(col("geometry")))
      .drop("cs")
    new GeoFrame(df)
  }

  /** Documents with query-side boilerplate injected into every 29th row
    * (three variants), so ≥32-char verbatim overlaps exist in the synthetic
    * bag-of-words corpus — shared by both dd_substring_* queries.
    */
  private[graft] def boilerplateDocs(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").withColumn("text",
      when(col("doc_id") % 29 === 0,
        concat(col("text"), lit(" shared boilerplate license header variant "),
          (col("doc_id") % 3).cast("string"),
          lit(" retained verbatim across documents")))
        .otherwise(col("text")))

  /** DuckDB text expression matching [[boilerplateDocs]]. */
  private[graft] val BoilerplateSqlExpr: String =
    "CASE WHEN doc_id % 29 = 0 THEN text || ' shared boilerplate license header variant ' " +
      "|| CAST(doc_id % 3 AS VARCHAR) || ' retained verbatim across documents' " +
      "ELSE text END"
}
