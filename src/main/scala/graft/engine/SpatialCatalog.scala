package graft.engine

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.functions.st

/** Layer metadata — the Spark analog of the reference's layer node
  * properties `layer`, `layercrs`, `geomencoder`, `index_class`, `layerprops`
  * (reference: server-plugin/.../Constants.java:32-43, layer discovery at
  * SpatialDatabaseService.java:179-233).
  */
case class LayerMeta(
    name: String,
    gtype: Int,                      // declared geometry type, 0 = any
    crs: String = "EPSG:4326",       // WGS84-only, like the procedure surface
    encoder: String = "wkb",         // wkb | wkt | point-xy
    indexType: String = "bbox",      // bbox | hilbert (layout strategy, §4)
    attributes: Seq[String] = Nil,   // discovered extra property columns
    // directory-bucket split width of a bucketed clustered layout
    // (__bucket = __sfc >> bucketShift); queries MUST use the write-time
    // value or bucket partition pruning silently drops rows
    bucketShift: Int = graft.plans.SpatialLayout.BucketShift,
    // the data schema as written: opening the layer reads with it instead
    // of inferring it from the files (an inference read is a Spark job)
    schema: Option[StructType] = None,
    // extent and row count as of the last write that knew them — see
    // [[LayerExtent]]; None for layers without a bbox, or empty at write
    extent: Option[LayerExtent] = None)

/** A layer's envelope and row count, recorded when the writer already knows
  * them (the reference keeps the envelope in the R-tree root,
  * RTreeIndex.java:739-741). Only an ESTIMATE: appends do not update it, so
  * it sizes the first k-NN window ([[GeoFrame.knnCandidates]]) and never
  * answers or prunes a query.
  */
case class LayerExtent(minx: Double, miny: Double, maxx: Double, maxy: Double,
    count: Long)

object LayerExtent {
  /** Extent and row count of `df`'s `bbox` column in one aggregate (one
    * job); None when `df` is empty. */
  def of(df: DataFrame): Option[LayerExtent] = {
    val s = df.agg(
      min(col("bbox")("minx")), min(col("bbox")("miny")),
      max(col("bbox")("maxx")), max(col("bbox")("maxy")), count(lit(1))).head()
    if (s.isNullAt(0)) None
    else Some(LayerExtent(s.getDouble(0), s.getDouble(1), s.getDouble(2),
      s.getDouble(3), s.getLong(4)))
  }
}

/** File-backed layer catalog: one parquet table + one JSON metadata file per
  * layer under `warehouseDir`. The Spark analog of the reference's
  * `SpatialDatabaseService` layer registry (label scan over `SpatialLayer`
  * nodes — reference: SpatialDatabaseService.java:179-233).
  *
  * Canonical layer schema (SURVEY §1.3):
  *   id string, geometry binary(WKB), gtype int,
  *   bbox struct<minx,miny,maxx,maxy>, props map<string,string>
  *   (+ x,y doubles for point layers).
  */
class SpatialCatalog(spark: SparkSession, warehouseDir: String) {

  private def dir(name: String): Path = Paths.get(warehouseDir, name)
  private def metaPath(name: String): Path = dir(name).resolve("layer.json")
  private def dataPath(name: String): String = dir(name).resolve("data").toString

  // -------------------------------------------------------------- metadata

  // Jackson (on Spark's classpath) rather than hand-rolled JSON: layer or
  // attribute names containing quotes/commas/backslashes round-trip intact.
  // ATOMIC: the JSON lands in a unique tmp file and is ATOMIC_MOVE-renamed
  // over layer.json — the same tmp+rename discipline as the VersionedLayer
  // manifest commit (plans/VersionedLayer.scala), so a reader never
  // observes a torn metadata file and a crash mid-write leaves the previous
  // version intact (the stray tmp is ignorable).
  private def writeMeta(m: LayerMeta): Unit = {
    Files.createDirectories(dir(m.name))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.createObjectNode()
    node.put("name", m.name); node.put("gtype", m.gtype); node.put("crs", m.crs)
    node.put("encoder", m.encoder); node.put("indexType", m.indexType)
    node.put("bucketShift", m.bucketShift)
    val arr = node.putArray("attributes")
    m.attributes.foreach(arr.add)
    m.schema.foreach(s =>
      node.set[com.fasterxml.jackson.databind.JsonNode]("schema", om.readTree(s.json)))
    m.extent.foreach { e =>
      val x = node.putObject("extent")
      x.put("minx", e.minx); x.put("miny", e.miny)
      x.put("maxx", e.maxx); x.put("maxy", e.maxy); x.put("count", e.count)
    }
    val tmp = dir(m.name).resolve(
      s"layer.json.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, om.writeValueAsString(node))
    Files.move(tmp, metaPath(m.name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Single-writer mutual exclusion for read-modify-write layer mutations
    * (append/remove/attribute edits): an O_EXCL lock file under the layer
    * dir, spin-acquired. Recovery semantics: a lock older than
    * `staleLockMs` (a crashed writer) is broken and re-acquired — the
    * crash-window fallback of the VersionedLayer manifest protocol. Data
    * writes themselves stay crash-safe via the atomic meta rename; the
    * lock only serializes writers so concurrent mutations cannot lose
    * updates (two appenders both basing counts on the same snapshot).
    */
  private[graft] def withLayerLock[T](name: String,
      staleLockMs: Long = 30000L)(f: => T): T = {
    Files.createDirectories(dir(name))
    val lock = dir(name).resolve(".layer.lock")
    var acquired = false
    var tries = 0
    while (!acquired) {
      try { Files.createFile(lock); acquired = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          tries += 1
          val age = try {
            System.currentTimeMillis() -
              Files.getLastModifiedTime(lock).toMillis
          } catch { case _: java.io.IOException => 0L } // vanished — retry
          if (age > staleLockMs) Files.deleteIfExists(lock) // crashed writer
          else if (tries > 600) throw new IllegalStateException(
            s"could not acquire layer lock for '$name' after ${tries} tries")
          else Thread.sleep(50)
      }
    }
    try f finally Files.deleteIfExists(lock)
  }

  private def readMeta(name: String): LayerMeta = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = om.readTree(Files.readString(metaPath(name)))
    def s(k: String): String = Option(n.get(k)).map(_.asText).getOrElse("")
    val attrs = Option(n.get("attributes")).toSeq
      .flatMap(_.elements.asScala.map(_.asText).toSeq)
    // layer files written before schema/extent were recorded load with
    // None for both: they fall back to an inferred schema and an aggregate
    LayerMeta(s("name"), Option(n.get("gtype")).map(_.asInt).getOrElse(0),
      s("crs"), s("encoder"), s("indexType"), attrs,
      Option(n.get("bucketShift")).map(_.asInt)
        .getOrElse(graft.plans.SpatialLayout.BucketShift),
      Option(n.get("schema")).map(j =>
        DataType.fromJson(om.writeValueAsString(j)).asInstanceOf[StructType]),
      Option(n.get("extent")).map(e => LayerExtent(e.get("minx").asDouble,
        e.get("miny").asDouble, e.get("maxx").asDouble, e.get("maxy").asDouble,
        e.get("count").asLong)))
  }

  /** Parquet reader that takes the recorded schema when there is one, so
    * no schema-inference job runs. */
  private def reader(meta: LayerMeta): DataFrameReader =
    meta.schema.fold(spark.read)(spark.read.schema(_))

  // ---------------------------------------------------------------- layers

  def layerExists(name: String): Boolean = Files.exists(metaPath(name))

  def listLayers(): Seq[String] =
    if (!Files.exists(Paths.get(warehouseDir))) Nil
    else Files.list(Paths.get(warehouseDir)).iterator.asScala
      .filter(p => Files.exists(p.resolve("layer.json"))).map(_.getFileName.toString)
      .toSeq.sorted

  /** Create a layer from a DataFrame already in canonical schema. Layers
    * with a space-filling-curve indexType write clustered by the curve key
    * (graft.plans.SpatialLayout) so window queries prune parquet row groups —
    * the distributed stand-in for the reference's index build.
    */
  def createLayer(name: String, df: DataFrame, meta: LayerMeta): GeoFrame = {
    require(!layerExists(name), s"layer $name already exists")
    val written =
      if (Set("hilbert", "zorder", "geohash").contains(meta.indexType)
          && df.columns.contains("bbox"))
        graft.plans.SpatialLayout.writeClustered(df, dataPath(name), meta.indexType)
      else {
        df.write.mode("overwrite").parquet(dataPath(name))
        df.schema
      }
    val recorded = meta.copy(name = name, schema = Some(written))
    val data = reader(recorded).parquet(dataPath(name))
    // extent and count: one aggregate over the written bbox column
    val full = recorded.copy(
      extent = if (df.columns.contains("bbox")) LayerExtent.of(data) else None)
    writeMeta(full)
    new GeoFrame(data, Some(full))
  }

  /** Create a point layer from x/y columns — the `spatial.addPointLayerXY`
    * path (reference: SpatialProcedures.java:303); `indexType` selects the
    * storage layout (bbox | hilbert | zorder | geohash), mirroring the
    * reference's index presets.
    */
  // x/y are core ONLY for the point-xy encoder (where they are actually
  // consumed); a WKT-layer source column literally named x or y is a
  // feature attribute like any other and must survive into props.
  private val CoreCols = Set("id", "geometry", "gtype", "bbox", "props", "__sfc")

  /** Non-core source columns become the layer's dynamic `props` map (the
    * reference's geometry-node feature attributes survive layer creation
    * and stay queryable through props / ECQL) and are recorded in the
    * meta as the DISCOVERED attribute list (getFeatureAttributes).
    */
  private def extrasOf(source: DataFrame, consumed: Seq[String],
      xyCore: Boolean = false): Seq[String] =
    source.columns.filterNot(c => consumed.contains(c) || CoreCols.contains(c) ||
      (xyCore && (c == "x" || c == "y"))).toSeq.sorted

  /** Fold the extras into `props`. A source that already carries a props
    * map (e.g. re-layering an existing layer's df with an added attribute)
    * keeps its entries — the generated extras map is concatenated on top,
    * with the explicit top-level column winning on key collision.
    */
  private def withProps(df: DataFrame, extras: Seq[String]): DataFrame =
    if (extras.isEmpty) df
    else {
      val extrasMap = map_from_arrays(
        array(extras.map(lit): _*),
        array(extras.map(c => col(c).cast("string")): _*))
      if (df.columns.contains("props"))
        df.withColumn("props", map_concat(
          map_filter(col("props"), (k, _) => !k.isin(extras: _*)), extrasMap))
      else df.withColumn("props", extrasMap)
    }

  def createPointLayer(name: String, source: DataFrame,
      idCol: String, xCol: String, yCol: String,
      indexType: String = "bbox"): GeoFrame = {
    val extras = extrasOf(source, Seq(idCol, xCol, yCol), xyCore = true)
    val keepProps = extras.nonEmpty || source.columns.contains("props")
    val canonical = withProps(source, extras)
      .withColumn("id", col(idCol).cast("string"))
      .withColumn("x", col(xCol).cast("double"))
      .withColumn("y", col(yCol).cast("double"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("gtype", lit(graft.geom.GeomCodec.GTYPE_POINT))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
      .select(("id" +: "geometry" +: "gtype" +: "bbox" +: "x" +: "y" +:
        (if (keepProps) Seq("props") else Nil)).map(col).toIndexedSeq: _*)
    createLayer(name, canonical,
      LayerMeta(name, graft.geom.GeomCodec.GTYPE_POINT, encoder = "point-xy",
        indexType = indexType, attributes = extras))
  }

  /** Create a WKT layer — the `spatial.addWKTLayer` + `spatial.addWKTs` path
    * (reference: SpatialProcedures.java:537,767).
    */
  def createWktLayer(name: String, source: DataFrame, idCol: String, wktCol: String,
      indexType: String = "bbox"): GeoFrame = {
    val extras = extrasOf(source, Seq(idCol, wktCol))
    val keepProps = extras.nonEmpty || source.columns.contains("props")
    val canonical = withProps(source, extras)
      .withColumn("id", col(idCol).cast("string"))
      .withColumn("geometry", st.geomFromText(col(wktCol)))
      .withColumn("gtype", st.gtype(col("geometry")))
      .withColumn("bbox", st.bboxOf(col("geometry")))
      .select(("id" +: "geometry" +: "gtype" +: "bbox" +:
        (if (keepProps) Seq("props") else Nil)).map(col).toIndexedSeq: _*)
    createLayer(name, canonical,
      LayerMeta(name, 0, encoder = "wkt", indexType = indexType,
        attributes = extras))
  }

  /** `spatial.setFeatureAttributes` — persist the layer's declared attribute
    * whitelist (reference: SpatialProcedures.java:613-623; stored on the
    * layer node as `layerprops`).
    */
  def setLayerAttributes(name: String, attributes: Seq[String]): LayerMeta =
    withLayerLock(name) {
      require(layerExists(name), s"layer $name does not exist")
      val updated = readMeta(name).copy(attributes = attributes)
      writeMeta(updated)
      updated
    }

  def getLayer(name: String): GeoFrame = {
    // a missing metadata file would surface as a cryptic NoSuchFileException;
    // name the layer and the alternatives instead (the reference raises
    // "no such layer" from its registry lookup — SpatialDatabaseService)
    if (!layerExists(name))
      throw new IllegalArgumentException(
        s"no such layer '$name' (available: ${listLayers().sorted.mkString(", ")})")
    val meta = readMeta(name)
    new GeoFrame(reader(meta).parquet(dataPath(name)), Some(meta))
  }

  /** `spatial.removeLayer` (reference: SpatialProcedures.java:625). */
  def dropLayer(name: String): Unit = {
    if (layerExists(name)) {
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) Files.list(p).iterator.asScala.foreach(rm)
        Files.deleteIfExists(p)
      }
      rm(dir(name))
    }
  }

  /** Append rows to an existing layer — `spatial.addNodes`
    * (reference: SpatialProcedures.java:643; EditableLayerImpl.java:73-110).
    */
  def appendToLayer(name: String, df: DataFrame): Unit =
    withLayerLock(name) {
      require(layerExists(name), s"layer $name does not exist")
      df.write.mode("append").parquet(dataPath(name))
      // the recorded extent and count go stale here on purpose (keeping
      // them current would cost a job per append); columns the layer did
      // not have yet join the recorded schema, so they stay readable
      val meta = readMeta(name)
      meta.schema.foreach { s =>
        val added = df.schema.fields.filterNot(f => s.fieldNames.contains(f.name))
        if (added.nonEmpty)
          writeMeta(meta.copy(schema = Some(StructType(s.fields ++ added))))
      }
    }

  /** Remove by id (anti-join delete), returning the index-count delta like
    * the reference's removeNodes (reference: SpatialProcedures.java:690-703).
    * The recorded count becomes the remaining count; the recorded extent
    * stays (it still covers every remaining row).
    */
  def removeFromLayer(name: String, ids: Seq[String]): Long = withLayerLock(name) {
    val current = getLayer(name)
    val meta = current.meta.get
    val layer = current.df
    val before = layer.count()
    val remaining = layer.filter(!col("id").isin(ids: _*))
    val tmp = dataPath(name) + "_tmp"
    remaining.write.mode("overwrite").parquet(tmp)
    val after = reader(meta).parquet(tmp).count()
    val target = Paths.get(dataPath(name))
    def rm(p: Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).iterator.asScala.foreach(rm)
      Files.deleteIfExists(p)
    }
    rm(target)
    Files.move(Paths.get(tmp), target)
    writeMeta(meta.copy(
      extent = meta.extent.filter(_ => after > 0).map(_.copy(count = after))))
    before - after
  }
}
