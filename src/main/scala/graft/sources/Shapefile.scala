package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry}

import graft.engine.GeoFrame
import graft.functions.st
import graft.geom.GeomCodec

/** Minimal ESRI shapefile reader (.shp geometry + .dbf attributes), replacing
  * the reference's GeoTools-based importer
  * (reference: server-plugin/.../ShapefileImporter.java:58-243) — GeoTools is
  * unavailable here, and the formats are simple, stable binary layouts
  * (ESRI Shapefile Technical Description, 1998; dBase III header spec).
  *
  * Supported shape types: 1/11/21 Point, 3/13/23 PolyLine, 5/15/25 Polygon,
  * 8/18/28 MultiPoint (Z/M variants read XY only, like most consumers).
  * The .dbf attributes come back as strings in the `props` map, matching the
  * reference's dynamic attribute discovery.
  *
  * Files parse on the driver (shapefiles are single-file, small by modern
  * standards); the resulting DataFrame distributes from there. A 100 TB
  * deployment would land shapefile content into parquet staging once via this
  * path and query the parquet thereafter.
  */
object Shapefile {

  case class ShpRecord(recNo: Int, geometry: Geometry)

  def readShp(path: String): Seq[ShpRecord] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val buf = ByteBuffer.wrap(bytes)
    buf.order(ByteOrder.BIG_ENDIAN)
    require(buf.getInt(0) == 9994, s"$path is not a shapefile (bad magic)")
    val fileLen16 = buf.getInt(24) // length in 16-bit words
    val out = ArrayBuffer.empty[ShpRecord]
    var pos = 100
    while (pos < fileLen16 * 2) {
      buf.order(ByteOrder.BIG_ENDIAN)
      val recNo = buf.getInt(pos)
      val contentLen = buf.getInt(pos + 4) * 2
      buf.order(ByteOrder.LITTLE_ENDIAN)
      val shapeType = buf.getInt(pos + 8)
      val g = parseShape(buf, pos + 8, shapeType)
      g.foreach(geom => out += ShpRecord(recNo, geom))
      pos += 8 + contentLen
    }
    out.toSeq
  }

  /** Parse one shape record starting at `base` (which points at shapeType). */
  private[sources] def parseShape(buf: ByteBuffer, base: Int, shapeType: Int): Option[Geometry] = {
    shapeType match {
      case 0 => None // null shape
      case 1 | 11 | 21 =>
        Some(GeomCodec.point(buf.getDouble(base + 4), buf.getDouble(base + 12)))
      case 8 | 18 | 28 =>
        val numPoints = buf.getInt(base + 36)
        val pts = (0 until numPoints).map { i =>
          new Coordinate(buf.getDouble(base + 40 + i * 16), buf.getDouble(base + 48 + i * 16))
        }
        Some(GeomCodec.factory.createMultiPointFromCoords(pts.toArray))
      case 3 | 13 | 23 | 5 | 15 | 25 =>
        val numParts = buf.getInt(base + 36)
        val numPoints = buf.getInt(base + 40)
        val partsOff = base + 44
        val pointsOff = partsOff + numParts * 4
        val partStarts = (0 until numParts).map(i => buf.getInt(partsOff + i * 4))
        val allPts = (0 until numPoints).map { i =>
          new Coordinate(buf.getDouble(pointsOff + i * 16), buf.getDouble(pointsOff + 8 + i * 16))
        }
        val parts = partStarts.zipWithIndex.map { case (s, i) =>
          val e = if (i + 1 < numParts) partStarts(i + 1) else numPoints
          allPts.slice(s, e).toArray
        }
        if (shapeType % 10 == 3) { // polyline
          val lines = parts.filter(_.length >= 2).map(GeomCodec.factory.createLineString)
          Some(if (lines.length == 1) lines.head
          else GeomCodec.factory.createMultiLineString(lines.toArray))
        } else { // polygon: rings; first CW ring = shell, CCW = holes (ESRI winding)
          val rings = parts.filter(_.length >= 4).map { cs =>
            val closed = if (cs.head.equals2D(cs.last)) cs else cs :+ cs.head.copy()
            GeomCodec.factory.createLinearRing(closed)
          }
          if (rings.isEmpty) None
          else {
            val (shells, holes) = rings.partition(r =>
              !org.locationtech.jts.algorithm.Orientation.isCCW(r.getCoordinateSequence))
            val polys =
              if (shells.isEmpty) rings.map(r => GeomCodec.factory.createPolygon(r))
              else shells.map { shell =>
                val sp = GeomCodec.factory.createPolygon(shell)
                val mine = holes.filter(h =>
                  sp.contains(GeomCodec.factory.createPoint(h.getCoordinateN(0))))
                GeomCodec.factory.createPolygon(shell, mine.toArray)
              }
            Some(if (polys.length == 1) polys.head
            else GeomCodec.factory.createMultiPolygon(polys.toArray))
          }
        }
      case other =>
        throw new IllegalArgumentException(s"unsupported shape type $other")
    }
  }

  /** dBase III .dbf: header + fixed-width text fields, all values as strings
    * (trimmed), one row per record in record order (row i is record i + 1);
    * a deleted row (0x2A flag) comes back as empty strings, as
    * `ShapefileV2.readDbfRange` returns it.
    */
  def readDbf(path: String): (Seq[String], Seq[Seq[String]]) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val numRecords = buf.getInt(4)
    val headerLen = buf.getShort(8) & 0xFFFF
    val recordLen = buf.getShort(10) & 0xFFFF
    // field descriptors: 32 bytes each from offset 32 until 0x0D terminator
    val names = ArrayBuffer.empty[String]
    val lengths = ArrayBuffer.empty[Int]
    var off = 32
    while (off < headerLen - 1 && bytes(off) != 0x0D) {
      val name = new String(bytes, off, 11, "ASCII").takeWhile(_ != 0).trim
      names += name
      lengths += (bytes(off + 16) & 0xFF)
      off += 32
    }
    val rows = ArrayBuffer.empty[Seq[String]]
    var rec = 0
    while (rec < numRecords) {
      val recOff = headerLen + rec * recordLen
      if (recOff + recordLen <= bytes.length) {
        val deleted = bytes(recOff) == 0x2A
        var fOff = recOff + 1
        val vals = names.indices.map { i =>
          val v = if (deleted) "" else new String(bytes, fOff, lengths(i), "ISO-8859-1").trim
          fOff += lengths(i)
          v
        }
        rows += vals
      }
      rec += 1
    }
    (names.toSeq, rows.toSeq)
  }

  /** Import `<base>.shp`/`<base>.dbf` as a canonical layer DataFrame — the
    * `spatial.importShapefile` equivalent
    * (reference: SpatialProcedures.java:788-820).
    */
  def importShapefile(spark: SparkSession, shpPath: String): GeoFrame = {
    val base = shpPath.stripSuffix(".shp")
    val shapes = readShp(base + ".shp")
    val (fieldNames, rows) = {
      val dbf = Paths.get(base + ".dbf")
      if (Files.exists(dbf)) readDbf(dbf.toString) else (Nil, Nil)
    }
    // pair by record number: readShp drops null shapes, so list
    // positions drift after one
    val data = shapes.map { r =>
      val props = rows.lift(r.recNo - 1).fold(Map.empty[String, String])(
        vals => fieldNames.zip(vals).toMap)
      (r.recNo.toString, GeomCodec.toWkb(r.geometry), props)
    }
    import spark.implicits._
    val df = data.toDF("id", "geometry", "props")
      .withColumn("gtype", st.gtype(col("geometry")))
      .withColumn("bbox", st.bboxOf(col("geometry")))
      .select("id", "geometry", "gtype", "bbox", "props")
    new GeoFrame(df)
  }

  /** Export a layer to `<base>.shp`/`<base>.dbf`/`<base>.shx` (type inferred
    * from the first geometry) — the reference's ShapefileExporter surface
    * (reference: cli-tools/.../ShapefileExporter.java:37). Points, polylines
    * and polygons; attributes written as C(64) strings.
    *
    * Driver memory is bounded at ONE row: the headers' prerequisites
    * (record count, total encoded length, global envelope, dbf field set)
    * come from a distributed aggregate, then rows stream through
    * `toLocalIterator` and append to all three files in a single pass.
    * The single-file output itself is inherent to the format (the
    * reference's exporter is also one-JVM).
    */
  def exportShapefile(df: DataFrame, basePath: String): Unit = {
    val src = df.select(col("geometry"), col("props"))
    // the header's shapeType must agree with every encoded record: derive it
    // from a distributed distinct over ALL rows (limit(1) on a multi-partition
    // frame is not the row toLocalIterator yields first) and fail fast on a
    // mixed-geometry frame rather than coerce records to the wrong type
    val typeCodeOf = udf((wkb: Array[Byte]) => GeomCodec.fromWkb(wkb) match {
      case _: org.locationtech.jts.geom.Point => 1
      case _: org.locationtech.jts.geom.LineString | _: org.locationtech.jts.geom.MultiLineString => 3
      case _ => 5
    })
    val typeCodes = src.select(typeCodeOf(col("geometry")).as("tc"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (typeCodes.isEmpty) return
    require(typeCodes.length == 1,
      s"exportShapefile: mixed geometry type codes ${typeCodes.mkString(",")} — " +
        "a .shp file holds exactly one shape type; split the frame first")
    val shapeType = typeCodes.head
    // distributed pre-pass: count, summed record length, global envelope
    // (record length re-derives from the same encoder the write uses)
    val recLen = udf((wkb: Array[Byte]) =>
      encodeShape(GeomCodec.fromWkb(wkb), shapeType).length)
    val b = st.bboxOf(col("geometry"))
    val s0 = src.select(recLen(col("geometry")).as("len"), b.as("b"))
      .agg(count(lit(1)).as("n"), sum(col("len")).as("lens"),
        min(col("b")("minx")).as("minx"), min(col("b")("miny")).as("miny"),
        max(col("b")("maxx")).as("maxx"), max(col("b")("maxy")).as("maxy"))
      .head()
    val nRecords = s0.getLong(0).toInt
    val sumLens = s0.getLong(1)
    val env = new org.locationtech.jts.geom.Envelope(
      s0.getDouble(2), s0.getDouble(4), s0.getDouble(3), s0.getDouble(5))
    val fields = src
      .select(explode(map_keys(coalesce(col("props"),
        map().cast("map<string,string>")))).as("k"))
      .distinct().collect().map(_.getString(0)).sorted.take(128).toSeq

    val totalLen = 100 + sumLens.toInt + nRecords * 8
    def header(totalLenBytes: Int): Array[Byte] = {
      val buf = ByteBuffer.allocate(100)
      buf.order(ByteOrder.BIG_ENDIAN)
      buf.putInt(9994); buf.position(24); buf.putInt(totalLenBytes / 2)
      buf.order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(1000); buf.putInt(shapeType)
      buf.putDouble(env.getMinX); buf.putDouble(env.getMinY)
      buf.putDouble(env.getMaxX); buf.putDouble(env.getMaxY)
      buf.putDouble(0); buf.putDouble(0); buf.putDouble(0); buf.putDouble(0)
      buf.array()
    }

    val shpOut = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(basePath + ".shp"))
    val shxOut = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(basePath + ".shx"))
    val dbfOut = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(basePath + ".dbf"))
    try {
      shpOut.write(header(totalLen))
      shxOut.write(header(100 + nRecords * 8))
      // --- .dbf header ---
      val fieldLen = 64
      val headerLen = 32 + fields.length * 32 + 1
      val recordLen = 1 + fields.length * fieldLen
      val dh = ByteBuffer.allocate(headerLen).order(ByteOrder.LITTLE_ENDIAN)
      dh.put(0x03.toByte); dh.put(Array[Byte](124, 1, 1)) // version + fake date
      dh.putInt(nRecords)
      dh.putShort(headerLen.toShort); dh.putShort(recordLen.toShort)
      dh.position(32)
      fields.foreach { fn =>
        val nameBytes = fn.take(10).getBytes("ASCII").padTo(11, 0.toByte)
        dh.put(nameBytes); dh.put('C'.toByte)
        dh.position(dh.position() + 4)
        dh.put(fieldLen.toByte); dh.put(0.toByte)
        dh.position(dh.position() + 14)
      }
      dh.put(0x0D.toByte)
      dbfOut.write(dh.array())

      // --- streamed records: one row in driver memory at a time ---
      var recNo = 1
      var offset16 = 50
      val it = src.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val rb = encodeShape(GeomCodec.fromWkb(row.getAs[Array[Byte]](0)), shapeType)
        val rh = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
        rh.putInt(recNo); rh.putInt(rb.length / 2)
        shpOut.write(rh.array()); shpOut.write(rb)
        val xh = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
        xh.putInt(offset16); xh.putInt(rb.length / 2)
        shxOut.write(xh.array())
        offset16 += 4 + rb.length / 2
        val p = Option(row.getAs[Map[String, String]](1)).getOrElse(Map.empty)
        dbfOut.write(' '.toInt)
        fields.foreach { fn =>
          val v = p.getOrElse(fn, "").take(fieldLen)
          dbfOut.write(v.getBytes("ISO-8859-1").padTo(fieldLen, ' '.toByte))
        }
        recNo += 1
      }
      dbfOut.write(0x1A)
    } finally { shpOut.close(); shxOut.close(); dbfOut.close() }
  }

  private def encodeShape(g: Geometry, shapeType: Int): Array[Byte] = shapeType match {
    case 1 =>
      val b = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(1); b.putDouble(g.getCoordinate.x); b.putDouble(g.getCoordinate.y)
      b.array()
    case 3 | 5 =>
      // each polygon ring (shell + every hole) is its OWN shapefile part;
      // flattening a member polygon's coordinates would fuse shell and holes
      // into one corrupt self-touching ring. ESRI winding: shells CW, holes
      // CCW — enforced here so readers (incl. ours) reassemble correctly.
      def wound(cs: Array[Coordinate], ccw: Boolean): Array[Coordinate] =
        if (org.locationtech.jts.algorithm.Orientation.isCCW(
              GeomCodec.factory.getCoordinateSequenceFactory.create(cs)) == ccw) cs
        else cs.reverse
      def partsOf(geom: Geometry): Seq[Array[Coordinate]] = geom match {
        case p: org.locationtech.jts.geom.Polygon =>
          wound(p.getExteriorRing.getCoordinates, ccw = false) +:
            (0 until p.getNumInteriorRing)
              .map(i => wound(p.getInteriorRingN(i).getCoordinates, ccw = true))
        case m: org.locationtech.jts.geom.GeometryCollection =>
          (0 until m.getNumGeometries).flatMap(i => partsOf(m.getGeometryN(i)))
        case other => Seq(other.getCoordinates)
      }
      val parts: Seq[Array[Coordinate]] = partsOf(g)
      val numPoints = parts.map(_.length).sum
      val b = ByteBuffer.allocate(44 + parts.length * 4 + numPoints * 16)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(shapeType)
      val env = g.getEnvelopeInternal
      b.putDouble(env.getMinX); b.putDouble(env.getMinY)
      b.putDouble(env.getMaxX); b.putDouble(env.getMaxY)
      b.putInt(parts.length); b.putInt(numPoints)
      var acc = 0
      parts.foreach { p => b.putInt(acc); acc += p.length }
      parts.foreach(_.foreach { c => b.putDouble(c.x); b.putDouble(c.y) })
      b.array()
  }
}
