package graft.osm

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import java.io.FileInputStream
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, LinearRing, Polygon}

import graft.engine.GeoFrame
import graft.functions.st
import graft.geom.GeomCodec

/** OSM XML ingestion, re-architected as a batch dataflow (SURVEY §2.9):
  * StAX streaming parse → six staging DataFrames → distributed geometry
  * assembly, replacing the reference's linked-list sub-graph walk
  * (reference: osm-server-plugin/.../OSMImporter.java:85-1753, parse loop
  * :1432-1526; decode OSMGeometryEncoder.java:223-390).
  *
  * Staging schemas (FIXTURES.md §5):
  *   osm_nodes(node_id, lat, lon, version, changeset, uid, user, ts)
  *   osm_ways(way_id, version, changeset, ts)
  *   osm_way_nds(way_id, seq, node_id)
  *   osm_tags(elem_type, elem_id, k, v)
  *   osm_relations(relation_id, version, changeset, ts)
  *   osm_members(relation_id, seq, member_type, member_ref, role)
  *
  * The XML parse of ONE file is sequential (inherent to the format) but
  * single-pass and constant-memory; a DIRECTORY of .osm shards parses with
  * one executor task per file ([[OsmImport.parseShards]]) — the planet-file
  * staging shape. Everything downstream of staging is fully distributed:
  * grouped collect_list assemblies shuffle once on way_id/relation_id.
  */
object OsmImport {

  case class Staging(nodes: DataFrame, ways: DataFrame, wayNds: DataFrame,
      tags: DataFrame, relations: DataFrame, members: DataFrame)

  /** One file's parsed staging rows — the Spark-free product of
    * [[parseRaw]], serializable so the parse can run ON EXECUTORS (one
    * task per .osm shard, [[parseShards]]).
    */
  case class RawFile(
      nodes: Seq[(Long, Double, Double, Int, Long, Long, String, String)],
      ways: Seq[(Long, Int, Long, String)],
      wayNds: Seq[(Long, Int, Long)],
      tags: Seq[(String, Long, String, String)],
      relations: Seq[(Long, Int, Long, String)],
      members: Seq[(Long, Int, String, Long, String)])

  /** Parse an .osm XML file into the staging DataFrames (driver-side
    * convenience over [[parseRaw]]).
    */
  def parse(spark: SparkSession, path: String): Staging = {
    import spark.implicits._
    val raw = parseRaw(path)
    Staging(
      raw.nodes.toDF("node_id", "lat", "lon", "version", "changeset", "uid", "user", "ts"),
      raw.ways.toDF("way_id", "version", "changeset", "ts"),
      raw.wayNds.toDF("way_id", "seq", "node_id"),
      raw.tags.toDF("elem_type", "elem_id", "k", "v"),
      raw.relations.toDF("relation_id", "version", "changeset", "ts"),
      raw.members.toDF("relation_id", "seq", "member_type", "member_ref", "role"))
  }

  /** Parallel multi-shard staging: a DIRECTORY of .osm files parses with
    * one executor task per file (each file's XML is still sequential —
    * inherent to the format — but shards parse concurrently), then the
    * per-file rows union into one staging set. Elements duplicated across
    * shards (area-split OSM extracts repeat boundary nodes) collapse via
    * exact-row dedup, so overlapping shards stage identically to their
    * concatenation. Files must be reachable from executors (shared FS) —
    * the 100 TB staging shape the single-file path's header note promises.
    */
  def parseShards(spark: SparkSession, dir: String): Staging = {
    val files = Option(new java.io.File(dir).listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && f.getName.endsWith(".osm"))
      .map(_.getAbsolutePath).sorted
    require(files.nonEmpty, s"no .osm files under $dir")
    import spark.implicits._
    val raw = spark.sparkContext.parallelize(files, files.length)
      .map(parseRaw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Staging(
      raw.flatMap(_.nodes).toDF("node_id", "lat", "lon", "version", "changeset", "uid", "user", "ts").dropDuplicates(),
      raw.flatMap(_.ways).toDF("way_id", "version", "changeset", "ts").dropDuplicates(),
      raw.flatMap(_.wayNds).toDF("way_id", "seq", "node_id").dropDuplicates(),
      raw.flatMap(_.tags).toDF("elem_type", "elem_id", "k", "v").dropDuplicates(),
      raw.flatMap(_.relations).toDF("relation_id", "version", "changeset", "ts").dropDuplicates(),
      raw.flatMap(_.members).toDF("relation_id", "seq", "member_type", "member_ref", "role").dropDuplicates())
  }

  /** The StAX parse loop: one pass, constant memory, no Spark — callable
    * from executor tasks.
    */
  def parseRaw(path: String): RawFile = {
    val nodes = ArrayBuffer.empty[(Long, Double, Double, Int, Long, Long, String, String)]
    val ways = ArrayBuffer.empty[(Long, Int, Long, String)]
    val wayNds = ArrayBuffer.empty[(Long, Int, Long)]
    val tags = ArrayBuffer.empty[(String, Long, String, String)]
    val relations = ArrayBuffer.empty[(Long, Int, Long, String)]
    val members = ArrayBuffer.empty[(Long, Int, String, Long, String)]

    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val in = new FileInputStream(path)
    val r = f.createXMLStreamReader(in)
    try {
      var current: String = null     // node | way | relation
      var currentId: Long = -1
      var ndSeq = 0
      var memberSeq = 0
      def attr(name: String): String = {
        var i = 0
        while (i < r.getAttributeCount) {
          if (r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
          i += 1
        }
        null
      }
      def longAttr(name: String, dflt: Long = 0L): Long = {
        val v = attr(name); if (v == null) dflt else v.toLong
      }
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "node" =>
                current = "node"; currentId = longAttr("id")
                nodes += ((currentId, attr("lat").toDouble, attr("lon").toDouble,
                  longAttr("version").toInt, longAttr("changeset"), longAttr("uid"),
                  Option(attr("user")).getOrElse(""), Option(attr("timestamp")).getOrElse("")))
              case "way" =>
                current = "way"; currentId = longAttr("id"); ndSeq = 0
                ways += ((currentId, longAttr("version").toInt, longAttr("changeset"),
                  Option(attr("timestamp")).getOrElse("")))
              case "relation" =>
                current = "relation"; currentId = longAttr("id"); memberSeq = 0
                relations += ((currentId, longAttr("version").toInt, longAttr("changeset"),
                  Option(attr("timestamp")).getOrElse("")))
              case "nd" =>
                wayNds += ((currentId, ndSeq, longAttr("ref"))); ndSeq += 1
              case "member" =>
                members += ((currentId, memberSeq, Option(attr("type")).getOrElse(""),
                  longAttr("ref"), Option(attr("role")).getOrElse("")))
                memberSeq += 1
              case "tag" if current != null =>
                tags += ((current, currentId, attr("k"), attr("v")))
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "node" | "way" | "relation" => current = null
              case _ =>
            }
          case _ =>
        }
      }
    } finally { r.close(); in.close() }

    RawFile(nodes.toSeq, ways.toSeq, wayNds.toSeq, tags.toSeq,
      relations.toSeq, members.toSeq)
  }

  /** Geometry construction from an ordered coordinate list, reproducing the
    * reference's way-decode rules (reference: OSMGeometryEncoder.java:350-390):
    * 1 point → Point; closed ring of ≥4 → Polygon; else LineString
    * (degenerate 2-same-point ways → LineString of the distinct point kept
    * as MultiPoint in the reference; we emit Point for the single-coord case).
    */
  def buildWayGeometry(xs: Seq[Double], ys: Seq[Double]): Geometry = {
    val coords = xs.indices.map(i => new Coordinate(xs(i), ys(i))).toArray
    if (coords.length == 1) GeomCodec.factory.createPoint(coords(0))
    else if (coords.length >= 4 && coords.head.equals2D(coords.last))
      GeomCodec.factory.createPolygon(coords)
    else if (coords.length >= 2) GeomCodec.factory.createLineString(coords)
    else null // unresolvable way — caller drops it, mirroring the reference's
              // decode-verify (reference: OSMLayer.java:97-124), rather than
              // fabricating a geometry at Null Island
  }

  /** Ring repair for relation members, mirroring the reference's heuristics
    * (reference: OSMGeometryEncoder.java:245-348): close non-closed rings by
    * appending the first coordinate; if still not a valid ring, fall back to
    * the convex hull of the member coordinates.
    */
  def toRing(coords: Array[Coordinate]): LinearRing = {
    val closed =
      if (coords.length >= 3 && !coords.head.equals2D(coords.last)) coords :+ coords.head.copy()
      else coords
    try GeomCodec.factory.createLinearRing(closed)
    catch {
      case _: Exception =>
        val hull = GeomCodec.factory.createMultiPointFromCoords(coords).convexHull()
        hull match {
          case p: Polygon => p.getExteriorRing
          case _ => GeomCodec.factory.createLinearRing(Array(
            coords.head, coords.head.copy(), coords.head.copy(), coords.head.copy()))
        }
    }
  }

  /** Assemble the ways layer: one shuffle on way_id (collect ordered coords),
    * tags pivoted to a map column. Decode-verify semantics: a way whose nd
    * refs do not ALL resolve against the node table is dropped, like the
    * reference's vertex-count sanity check on decode (reference:
    * OSMGeometryEncoder.java:368-376, OSMLayer.java:97-124) — a partially
    * resolved linestring or a silent POINT(0 0) would be corrupt data.
    */
  def assembleWays(st8: Staging): DataFrame = {
    val ordered = st8.wayNds.join(st8.nodes, Seq("node_id"), "left")
      .groupBy(col("way_id"))
      .agg(sort_array(collect_list(struct(col("seq"), col("lon"), col("lat")))).as("cs"),
        count(lit(1)).as("n_nds"), count(col("lon")).as("n_resolved"))
      .filter(col("n_resolved") === col("n_nds"))
      .drop("n_nds", "n_resolved")
    val mkWay = udf((xs: Seq[Double], ys: Seq[Double]) =>
      Option(buildWayGeometry(xs, ys)).map(GeomCodec.toWkb).orNull)
    val wayTags = st8.tags.filter(col("elem_type") === "way")
      .groupBy(col("elem_id").as("way_id"))
      .agg(map_from_arrays(collect_list(col("k")), collect_list(col("v"))).as("props"))
    ordered
      .withColumn("geometry", mkWay(expr("transform(cs, c -> c.lon)"), expr("transform(cs, c -> c.lat)")))
      .drop("cs")
      .filter(col("geometry").isNotNull)
      .join(wayTags, Seq("way_id"), "left")
      .withColumn("props", coalesce(col("props"), map()))
      .withColumn("id", col("way_id").cast("string"))
      .withColumn("gtype", st.gtype(col("geometry")))
      .withColumn("bbox", st.bboxOf(col("geometry")))
      .select("id", "geometry", "gtype", "bbox", "props", "way_id")
  }

  /** Assemble the points layer (all nodes, tags attached). */
  def assemblePoints(st8: Staging): DataFrame = {
    val nodeTags = st8.tags.filter(col("elem_type") === "node")
      .groupBy(col("elem_id").as("node_id"))
      .agg(map_from_arrays(collect_list(col("k")), collect_list(col("v"))).as("props"))
    st8.nodes
      .join(nodeTags, Seq("node_id"), "left")
      .withColumn("props", coalesce(col("props"), map()))
      .withColumn("id", col("node_id").cast("string"))
      .withColumn("x", col("lon")).withColumn("y", col("lat"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("gtype", lit(GeomCodec.GTYPE_POINT))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
      .select("id", "geometry", "gtype", "bbox", "props", "x", "y", "node_id")
  }

  /** Transitively resolve relation members down to WAY members — relations
    * may contain relations (reference: OSMGeometryEncoder.java:270-291
    * recurses through relation members). Depth-bounded driver loop, ONE join
    * per level (each level is fully distributed); a nested member keeps its
    * position via fractional sort keys (parent_seq + (child_seq+1)/1024^d)
    * and a child with an empty role inherits its parent's role. Cycles
    * terminate at maxDepth. Output: (relation_id, seq: double, role,
    * member_ref) with one row per transitively-reachable way member.
    */
  def resolveWayMembers(members: DataFrame, maxDepth: Int = 4): DataFrame = {
    val base = members.select(col("relation_id"),
      col("seq").cast("double").as("seq"), col("role"),
      col("member_type"), col("member_ref"))
    var acc = base.filter(col("member_type") === "way").drop("member_type")
    var frontier = base.filter(col("member_type") === "relation").drop("member_type")
    var depth = 0
    while (depth < maxDepth) {
      val child = members.select(col("relation_id").as("sub_id"),
        col("seq").cast("double").as("cseq"), col("role").as("crole"),
        col("member_type").as("ctype"), col("member_ref").as("cref"))
      val expanded = frontier.join(child, col("member_ref") === col("sub_id"))
        .select(col("relation_id"),
          (col("seq") + (col("cseq") + 1) / math.pow(1024, depth + 1)).as("seq"),
          when(col("crole") === "", col("role")).otherwise(col("crole")).as("role"),
          col("ctype"), col("cref").as("member_ref"))
      acc = acc.unionByName(expanded.filter(col("ctype") === "way").drop("ctype"))
      frontier = expanded.filter(col("ctype") === "relation").drop("ctype")
      depth += 1
    }
    acc
  }

  /** Assemble polygon relations: members with role outer/inner become
    * polygon shells/holes (reference: OSMGeometryEncoder.java:245-291);
    * relation members are resolved recursively ([[resolveWayMembers]]).
    * Two shuffles: member-ways coords, then group by relation.
    */
  def assembleRelations(st8: Staging): DataFrame = {
    val wayCoords = st8.wayNds.join(st8.nodes, "node_id")
      .groupBy(col("way_id"))
      .agg(sort_array(collect_list(struct(col("seq"), col("lon"), col("lat")))).as("cs"))
      .select(col("way_id"),
        expr("transform(cs, c -> c.lon)").as("xs"), expr("transform(cs, c -> c.lat)").as("ys"))

    val memberWays = resolveWayMembers(st8.members)
      .join(wayCoords, col("member_ref") === col("way_id"))
      .select(col("relation_id"), col("seq"), col("role"), col("xs"), col("ys"))

    val grouped = memberWays
      .groupBy(col("relation_id"))
      .agg(sort_array(collect_list(struct(col("seq"), col("role"), col("xs"), col("ys")))).as("ms"))

    val mkRelation = udf((roles: Seq[String], xss: Seq[Seq[Double]], yss: Seq[Seq[Double]]) => {
      val outers = ArrayBuffer.empty[LinearRing]
      val inners = ArrayBuffer.empty[LinearRing]
      roles.indices.foreach { i =>
        val coords = xss(i).indices.map(j => new Coordinate(xss(i)(j), yss(i)(j))).toArray
        if (coords.length >= 3) {
          val ring = toRing(coords)
          if (roles(i) == "inner") inners += ring else outers += ring
        }
      }
      val g: Geometry =
        if (outers.isEmpty) GeomCodec.factory.createGeometryCollection(Array.empty)
        else if (outers.length == 1)
          GeomCodec.factory.createPolygon(outers.head, inners.toArray)
        else {
          // MULTIPOLYGON: assign each hole to the first outer that contains it
          val polys = outers.map { shell =>
            val poly = GeomCodec.factory.createPolygon(shell)
            val holes = inners.filter(h => poly.contains(GeomCodec.factory.createPolygon(h)))
            GeomCodec.factory.createPolygon(shell, holes.toArray)
          }
          GeomCodec.factory.createMultiPolygon(polys.toArray)
        }
      GeomCodec.toWkb(g)
    })

    val relTags = st8.tags.filter(col("elem_type") === "relation")
      .groupBy(col("elem_id").as("relation_id"))
      .agg(map_from_arrays(collect_list(col("k")), collect_list(col("v"))).as("props"))

    grouped
      .withColumn("geometry", mkRelation(
        expr("transform(ms, m -> m.role)"),
        expr("transform(ms, m -> m.xs)"),
        expr("transform(ms, m -> m.ys)")))
      .drop("ms")
      .join(relTags, Seq("relation_id"), "left")
      .withColumn("props", coalesce(col("props"), map()))
      .withColumn("id", col("relation_id").cast("string"))
      .withColumn("gtype", st.gtype(col("geometry")))
      .withColumn("bbox", st.bboxOf(col("geometry")))
      .select("id", "geometry", "gtype", "bbox", "props", "relation_id")
  }

  /** Changesets layer — the staged changeset/uid/user columns exposed as a
    * queryable aggregate, the dataflow analog of the reference's changeset
    * sub-graph (OSMChangeset/OSMUser node labels with USER/CHANGESET edges,
    * reference: OSMImporter.java:90-99; reIndex-by-changeset :252-357): one
    * row per changeset with element counts, the contributing user, and the
    * bbox of its nodes. One shuffle on the changeset key.
    */
  def assembleChangesets(st8: Staging): DataFrame = {
    val fromNodes = st8.nodes.groupBy(col("changeset"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("lon")).as("minx"), min(col("lat")).as("miny"),
        max(col("lon")).as("maxx"), max(col("lat")).as("maxy"),
        max(col("uid")).as("uid"), max(col("user")).as("user"))
    val fromWays = st8.ways.groupBy(col("changeset"))
      .agg(count(lit(1)).as("n_ways"))
    fromNodes.join(fromWays, Seq("changeset"), "full")
      .select(col("changeset"), col("uid"), col("user"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_ways"), lit(0L)).as("n_ways"),
        st.bboxStruct(col("minx"), col("miny"), col("maxx"), col("maxy")).as("bbox"))
  }

  /** Full import: parse + assemble ways into a layer GeoFrame (the
    * `spatial.importOSMToLayer` equivalent — reference:
    * OsmSpatialProcedures.java:57-131).
    */
  def importOsm(spark: SparkSession, path: String): GeoFrame =
    new GeoFrame(assembleWays(parse(spark, path)))

  /** Execute a stored dynamic-layer JSON query INCLUDING way-node chain
    * steps (FIRST_NODE / NEXT / NODE — reference:
    * DynamicIndexReader.java:46-113 walked way→proxy→node at query time,
    * OSMImporter.java:696-714 built the chain). The same-row GEOM/TAGS
    * levels filter the assembled rows directly; a chain compiles to a
    * semi-join against the staging tables: the way must have a proxy at
    * the walked `seq` (every getSingleRelationship hop existed), and when
    * the chain ends in a NODE hop the referenced OSM node must pass the
    * property tests (string-compare semantics; reference property names
    * `node_osm_id`/`timestamp` map onto the staging `node_id`/`ts`
    * columns). Scale shape: two key-joins on way_id/node_id — the match
    * set is computed distributed and semi-joined, never collected.
    */
  def filterDynamic(layer: GeoFrame, st8: Staging, json: String): GeoFrame = {
    val compiled = graft.functions.DynamicLayerJson.compile(
      json, layer.df.columns.toSet)
    val base = layer.df.filter(compiled.rowPredicate)
    compiled.chain match {
      case None => layer.lift(base)
      case Some(ch) if ch.dead => layer.lift(base.limit(0))
      case Some(ch) =>
        val nodeColOf = Map("node_osm_id" -> "node_id", "timestamp" -> "ts")
        var hits = st8.wayNds.filter(col("seq") === ch.seq)
        if (ch.atNode && ch.nodeProps.nonEmpty) {
          val pred = ch.nodeProps.map { case (k, vOpt) =>
            val cn = nodeColOf.getOrElse(k, k)
            if (!st8.nodes.columns.contains(cn)) lit(false)
            else vOpt match {
              case None => col(cn).isNotNull
              case Some(v) => col(cn).isNotNull && col(cn).cast("string") === lit(v)
            }
          }.reduce(_ && _)
          hits = hits.join(st8.nodes.filter(pred).select("node_id"),
            Seq("node_id"), "left_semi")
        }
        layer.lift(
          base.join(hits.select("way_id").distinct(), Seq("way_id"), "left_semi"))
    }
  }

  /** Dynamic OSM sub-layer by tag filter, e.g. highway residential roads —
    * the reference's dynamic-layer tag-step query
    * (reference: DynamicLayerConfig.java:48-93 + OSM tag joins).
    */
  def tagFilteredLayer(ways: DataFrame, key: String, value: String): DataFrame =
    if (value == "*") ways.filter(map_contains_key(col("props"), key))
    else ways.filter(col("props").getItem(key) === value)

  /** Road direction from the `oneway` tag, EXACT reference decode
    * (reference: OSMImporter.getRoadDirection:1607-1618, RoadDirection.java:22):
    * "-1" → BACKWARD; "1" | "yes" | "true" (case-insensitive) → FORWARD;
    * anything else, including no tag → BOTH.
    */
  def roadDirection(props: Column): Column = {
    val raw = props.getItem("oneway")
    when(raw === "-1", "BACKWARD")
      .when(raw === "1" || lower(raw) === "yes" || lower(raw) === "true", "FORWARD")
      .otherwise("BOTH")
  }

  /** Road enrichment mirroring the importer (reference: OSMImporter.java:655-662):
    * ways carrying a `highway` tag get the decoded direction as
    * `road_direction` (null for non-roads, as the reference only stores
    * `oneway` on roads).
    */
  def withRoadDirection(ways: DataFrame): DataFrame =
    ways.withColumn("road_direction",
      when(map_contains_key(col("props"), "highway"), roadDirection(col("props"))))
}
