package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.geom.GeomCodec
import graft.sources.Shapefile

/** A shapefile record keeps its own attributes when an earlier record has a
  * null shape or a deleted `.dbf` row: the driver-side import and the
  * `shapefile` scan pair both by record number.
  */
class ShapefileRecordSpec extends SparkSpec {
  import spark.implicits._

  test("null shapes and deleted dbf rows do not shift later records' attributes") {
    val n = 8
    val layer = (1 to n).map(k => (GeomCodec.toWkb(GeomCodec.point(k + 0.5, -k - 0.5)), s"name-$k"))
      .toDF("geometry", "name")
      .withColumn("props", map(lit("name"), col("name")))
      .orderBy(col("name"))
    val base = Files.createTempDirectory("shp-rec").resolve("pts").toString
    Shapefile.exportShapefile(layer.select("geometry", "props"), base)
    val exported = Shapefile.importShapefile(spark, base + ".shp").df
      .select(col("id"), col("props")("name")).as[(String, String)].collect().toMap
    // record k is the k-th name in sort order (name-1 … name-8)
    assert(exported == (1 to n).map(k => k.toString -> s"name-$k").toMap)

    val nullShape = 3
    val deletedRow = 5
    // record 3 becomes a null shape: its shape type (little-endian, after the
    // 8-byte record header) at the offset the .shx gives in 16-bit words
    val shx = ByteBuffer.wrap(Files.readAllBytes(Paths.get(base + ".shx")))
      .order(ByteOrder.BIG_ENDIAN)
    val shpPath = Paths.get(base + ".shp")
    val shp = Files.readAllBytes(shpPath)
    ByteBuffer.wrap(shp).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(shx.getInt(100 + (nullShape - 1) * 8) * 2 + 8, 0)
    Files.write(shpPath, shp)
    // record 5's .dbf row is flagged deleted
    val dbfPath = Paths.get(base + ".dbf")
    val dbf = Files.readAllBytes(dbfPath)
    val hdr = ByteBuffer.wrap(dbf).order(ByteOrder.LITTLE_ENDIAN)
    dbf((hdr.getShort(8) & 0xFFFF) + (deletedRow - 1) * (hdr.getShort(10) & 0xFFFF)) = 0x2A
    Files.write(dbfPath, dbf)

    val v1 = Shapefile.importShapefile(spark, base + ".shp").df
      .select(col("id").cast("int"), col("geometry"), col("props")("name"))
      .as[(Int, Array[Byte], String)].collect()
      .map { case (k, g, name) => (k, GeomCodec.toWkt(GeomCodec.fromWkb(g)), name) }
      .sortBy(_._1).toSeq
    val v2 = spark.read.format("shapefile").load(base + ".shp")
      .filter(col("geometry").isNotNull)
      .select(col("rec_no"), col("geometry"), col("name"))
      .as[(Int, Array[Byte], String)].collect()
      .map { case (k, g, name) => (k, GeomCodec.toWkt(GeomCodec.fromWkb(g)), name) }
      .sortBy(_._1).toSeq
    val expected = (1 to n).filter(_ != nullShape).map { k =>
      (k, GeomCodec.toWkt(GeomCodec.point(k + 0.5, -k - 0.5)),
        if (k == deletedRow) "" else s"name-$k")
    }
    assert(v1 == expected)
    assert(v2 == v1)
  }
}
