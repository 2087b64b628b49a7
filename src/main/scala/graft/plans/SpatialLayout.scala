package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructField, StructType}

/** Storage-layout analog of the reference's spatial indexes (SURVEY §4):
  * instead of an in-graph R-tree / space-filling-curve b-tree, layers are
  * written sorted by a space-filling-curve key — `repartitionByRange` on the
  * key + `sortWithinPartitions` + parquet column min/max stats give the same
  * envelope-pruning effect, distributed (the flattened equivalent of the
  * reference's OMT-style bulk load, RTreeIndex.java:533-605).
  *
  * Curves mirror the reference's point-index presets
  * (reference: server-plugin/.../index/LayerSpaceFillingCurvePointIndex.java:66-124
  * — Hilbert/Z-order at level 12 over the layer envelope;
  * LayerGeohashPointIndex.java:101-107 — bit-interleaved geohash).
  */
object SpatialLayout {

  val DefaultLevel = 16 // bits per dimension; 2^32 cells total

  // ------------------------------------------------------------ curve math

  /** Z-order (Morton): interleave the bits of the two normalized cells. */
  def zOrder(cellX: Long, cellY: Long, level: Int): Long = {
    var z = 0L
    var i = 0
    while (i < level) {
      z |= ((cellX >> i) & 1L) << (2 * i)
      z |= ((cellY >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Hilbert index via the classic xy→d walk (quadrant rotation per level). */
  def hilbert(cellX: Long, cellY: Long, level: Int): Long = {
    var rx = 0L; var ry = 0L; var d = 0L
    var x = cellX; var y = cellY
    var s: Long = 1L << (level - 1)
    while (s > 0) {
      rx = if ((x & s) > 0) 1 else 0
      ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      // rotate quadrant
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  private val GeohashBase32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Standard geohash (lon/lat bit interleave, base32), precision chars. */
  def geohash(lon: Double, lat: Double, precision: Int = 9): String = {
    var minLon = -180.0; var maxLon = 180.0
    var minLat = -90.0; var maxLat = 90.0
    val sb = new StringBuilder
    var bit = 0; var ch = 0
    var even = true
    while (sb.length < precision) {
      if (even) {
        val mid = (minLon + maxLon) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; minLon = mid } else { ch = ch << 1; maxLon = mid }
      } else {
        val mid = (minLat + maxLat) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; minLat = mid } else { ch = ch << 1; maxLat = mid }
      }
      even = !even
      bit += 1
      if (bit == 5) { sb.append(GeohashBase32(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }

  private[graft] def toCell(v: Double, min: Double, max: Double, level: Int): Long = {
    val n = (1L << level) - 1
    val frac = if (max > min) (v - min) / (max - min) else 0.0
    math.min(n, math.max(0L, (frac * n).toLong))
  }

  // --------------------------------------------------------------- columns

  /** Hilbert key column from x/y over a fixed envelope (the layer bbox). */
  def hilbertKey(x: Column, y: Column,
      minx: Double = -180, miny: Double = -90, maxx: Double = 180, maxy: Double = 90,
      level: Int = DefaultLevel): Column =
    udf((xv: Double, yv: Double) =>
      hilbert(toCell(xv, minx, maxx, level), toCell(yv, miny, maxy, level), level))
      .apply(x, y)

  def zOrderKey(x: Column, y: Column,
      minx: Double = -180, miny: Double = -90, maxx: Double = 180, maxy: Double = 90,
      level: Int = DefaultLevel): Column =
    udf((xv: Double, yv: Double) =>
      zOrder(toCell(xv, minx, maxx, level), toCell(yv, miny, maxy, level), level))
      .apply(x, y)

  def geohashKey(lon: Column, lat: Column, precision: Int = 9): Column =
    udf((x: Double, y: Double) => geohash(x, y, precision)).apply(lon, lat)

  /** Key column per index-type preset name (layer catalog `indexType`). */
  def keyFor(indexType: String, x: Column, y: Column): Option[Column] = indexType match {
    case "hilbert" => Some(hilbertKey(x, y))
    case "zorder"  => Some(zOrderKey(x, y))
    case "geohash" => Some(geohashKey(x, y))
    case _         => None
  }

  // ---------------------------------------------------------------- layout

  /** Write a layer clustered by its curve key: range partitioning assigns
    * contiguous curve ranges to files, the within-partition sort tightens
    * parquet row-group min/max stats on bbox/x/y, so window queries prune at
    * the scan. This is the 100 TB path: curve-contiguous files ⟺ R-tree
    * leaves. Returns the schema written: the input's, plus `__sfc` for a
    * curve `indexType`.
    */
  def writeClustered(df: DataFrame, path: String,
      indexType: String = "hilbert", numPartitions: Int = 0): StructType = {
    // point layers key on x/y; general layers key on the bbox center (the
    // same centroid-keyed curve the reference uses for non-point RTree leaves)
    val (kx, ky) =
      if (df.columns.contains("x")) (col("x"), col("y"))
      else ((col("bbox")("minx") + col("bbox")("maxx")) / 2,
            (col("bbox")("miny") + col("bbox")("maxy")) / 2)
    val keyed = keyFor(indexType, kx, ky) match {
      case Some(k) => df.withColumn("__sfc", k)
      case None => df
    }
    val parts = if (numPartitions > 0) numPartitions
      else keyed.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // `__sfc` is KEPT as a stored column: it is the 1-D scan key that
    // GeoFrame.windowViaCurve turns window queries into range predicates on
    // (parquet min/max row-group stats on a sorted column ⟺ the reference's
    // curve-index b-tree range scan, LayerSpaceFillingCurvePointIndex.java:110-124).
    val out = if (keyed.columns.contains("__sfc"))
      keyed.repartitionByRange(parts, col("__sfc")).sortWithinPartitions("__sfc")
    else keyed.repartition(parts)
    out.write.mode("overwrite").parquet(path)
    if (keyed.columns.contains("__sfc"))
      writeLayoutMeta(df.sparkSession, path,
        LayoutMeta(indexType, -1, Some(asRead(out.schema).asInstanceOf[StructType])))
    out.schema
  }

  // ------------------------------------------- incremental bucketed layout

  /** Curve-bucket partition width: `__bucket = __sfc >> BucketShift` divides
    * the 2³² hilbert/zorder key space into 64 directory partitions. At
    * 100 TB you'd shift less (more, smaller buckets); the mechanism is
    * identical.
    */
  val BucketShift = 26

  // ------------------------------------------------------- layout sidecar

  /** Sidecar file recording the physical layout parameters of a clustered
    * layer next to its parquet files, so READERS never have to guess them:
    * `__bucket = __sfc >> bucketShift` is only invertible if the shift used
    * at write time is known, and a wrong guess silently drops rows from
    * window queries (the partition filter prunes directories the window
    * actually touches). Writers stamp it, readers/maintainers load it —
    * the invariant holds by construction, like parquet's own `_metadata`.
    */
  private val LayoutSidecar = "_graft_layout.json"

  /** Physical layout of a clustered layer: curve + bucket split width.
    * `bucketShift == -1` means the layer is range-clustered but NOT
    * directory-bucketed ([[writeClustered]]). `schema` is the schema
    * `spark.read.parquet(path)` would infer — the data columns, then the
    * `__bucket` partition column of a bucketed layout — so readers open the
    * layer without an inference job ([[readClustered]]); None in sidecars
    * written before it was recorded, whose readers infer it.
    */
  case class LayoutMeta(indexType: String, bucketShift: Int,
      schema: Option[StructType] = None)

  /** A written type as a parquet read reports it: every field, element and
    * map value nullable. */
  private def asRead(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asRead(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asRead(a.elementType), containsNull = true)
    case m: MapType => MapType(asRead(m.keyType), asRead(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The read schema of a bucketed layout written from `keyed` (a
    * [[withCurveKeys]] frame): its data columns, then `__bucket`, which a
    * partitioned read always lists last. */
  private def bucketedSchema(keyed: StructType): StructType =
    StructType(asRead(keyed).asInstanceOf[StructType].fields.filterNot(_.name == "__bucket") :+
      StructField("__bucket", IntegerType, nullable = true))

  /** Open a clustered layer with the schema its sidecar records, so no
    * schema-inference job runs; without one, the schema is inferred. */
  def readClustered(spark: org.apache.spark.sql.SparkSession, path: String,
      layout: Option[LayoutMeta]): DataFrame =
    layout.flatMap(_.schema).fold(spark.read)(spark.read.schema(_)).parquet(path)

  private def fsFor(spark: org.apache.spark.sql.SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  def writeLayoutMeta(spark: org.apache.spark.sql.SparkSession, path: String,
      m: LayoutMeta): Unit = {
    val fs = fsFor(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, LayoutSidecar)
    val out = fs.create(p, true)
    val schema = m.schema.fold("")(s => s""","schema":${s.json}""")
    try out.write(
      s"""{"indexType":"${m.indexType}","bucketShift":${m.bucketShift}$schema}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  def readLayoutMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[LayoutMeta] = {
    val fs = fsFor(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, LayoutSidecar)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        buf.toByteArray
      } finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(bytes, "UTF-8"))
      Some(LayoutMeta(node.get("indexType").asText,
        Option(node.get("bucketShift")).map(_.asInt).getOrElse(-1),
        Option(node.get("schema")).map(j =>
          DataType.fromJson(j.toString).asInstanceOf[StructType])))
    }
  }

  /** Attach the `__sfc` curve key and `__bucket` partition key a bucketed
    * layout uses (also lets callers pre-compute which buckets a batch
    * touches, e.g. to scope an id-existence check to those directories).
    */
  def withCurveKeys(df: DataFrame, indexType: String,
      bucketShift: Int = BucketShift): DataFrame = {
    require(indexType == "hilbert" || indexType == "zorder",
      s"bucketed layout needs an integer curve key, got $indexType")
    val (kx, ky) =
      if (df.columns.contains("x")) (col("x"), col("y"))
      else ((col("bbox")("minx") + col("bbox")("maxx")) / 2,
            (col("bbox")("miny") + col("bbox")("maxy")) / 2)
    df.withColumn("__sfc", keyFor(indexType, kx, ky).get)
      .withColumn("__bucket", shiftright(col("__sfc"), bucketShift).cast("int"))
  }

  /** Write a layer clustered by curve key AND partitioned by curve bucket
    * (one directory per `__sfc >> bucketShift`). Same pruning behavior as
    * [[writeClustered]] (sorted `__sfc` inside each file ⇒ row-group
    * min/max skipping) plus directory-level partition pruning — and, the
    * point of the layout, PARTIAL REWRITES: inserts only touch the bucket
    * directories their keys land in ([[upsertClusteredBuckets]]).
    */
  def writeClusteredBuckets(df: DataFrame, path: String,
      indexType: String = "hilbert", bucketShift: Int = BucketShift): Unit = {
    val keyed = withCurveKeys(df, indexType, bucketShift)
    keyed.repartition(col("__bucket")).sortWithinPartitions("__sfc")
      .write.mode("overwrite").partitionBy("__bucket").parquet(path)
    writeLayoutMeta(df.sparkSession, path,
      LayoutMeta(indexType, bucketShift, Some(bucketedSchema(keyed.schema))))
  }

  /** Incremental insert into a bucketed clustered layer, with the
    * reference's bulk-load policy (reference: server-plugin/src/main/java/
    * org/neo4j/gis/spatial/rtree/RTreeIndex.java:242-268 — a batch larger
    * than a fraction of the existing tree triggers a full rebuild,
    * otherwise geometries are inserted into the existing structure):
    *
    *  - batch > `rebuildFraction` × existing ⇒ full re-cluster of the
    *    union (returns "full"); written via a temp dir + backup-rename swap
    *    so the source files are never overwritten while being read and a
    *    crash mid-swap leaves a live layer at the path.
    *  - else ⇒ key the new rows, find the (few) bucket partitions they
    *    touch, merge ONLY those partitions with the new rows and rewrite
    *    them in place via dynamic partition overwrite (returns "partial").
    *    Untouched bucket directories are not read, not written, not moved —
    *    at 100 TB a 0.1% insert batch rewrites ~0.1% of the layer instead
    *    of all of it.
    *
    * Id-idempotent: a batch row replaces any existing row with the same
    * `id`, so re-running the same upsert is a no-op. In the partial path
    * the replacement is scoped to the touched buckets — a row whose
    * geometry MOVED to a different bucket since it was written must be
    * [[deleteFromClusteredBuckets deleted]] first (same contract as the
    * reference: update-in-place keeps the node, a moved geometry is a
    * remove + re-add).
    */
  def upsertClusteredBuckets(newRows: DataFrame, path: String,
      indexType: String = "hilbert", bucketShift: Int = BucketShift,
      rebuildFraction: Double = 0.4): String = {
    val spark = newRows.sparkSession
    // the layer's recorded layout wins over the arguments (same reasoning
    // as appendClusteredBuckets: one directory tree, one keyspace)
    val prior = readLayoutMeta(spark, path)
    val m = prior.getOrElse(LayoutMeta(indexType, bucketShift))
    val existing = readClustered(spark, path, prior)
    // UPSERT semantics: a batch row REPLACES any existing row with the same
    // `id` (the reference's rebuild path set-unions by node identity,
    // RTreeIndex.java:242-268 via LinkedHashSet), so re-upserting a batch is
    // idempotent. Layers without an `id` column degrade to insert-only.
    val hasId = existing.columns.contains("id") && newRows.columns.contains("id")
    def minusBatchIds(df: DataFrame): DataFrame =
      if (hasId) df.join(newRows.select("id").distinct(), Seq("id"), "left_anti")
      else df
    val nExisting = existing.count()
    val nNew = newRows.count()
    if (nNew > rebuildFraction * nExisting) {
      val base = existing.drop("__sfc", "__bucket")
      val union = minusBatchIds(base)
        .unionByName(newRows.select(base.columns.map(col).toIndexedSeq: _*))
      val tmp = path + "__rebuild_tmp"
      writeClusteredBuckets(union, tmp, m.indexType, m.bucketShift)
      // swap via a backup rename, not delete-then-rename: a crash between
      // the two steps leaves either the old layer or the new one in place,
      // never a missing path (object stores without atomic rename get the
      // manifest-style commit from plans/VersionedLayer instead)
      val fs = fsFor(spark, tmp)
      val target = new org.apache.hadoop.fs.Path(path)
      val backup = new org.apache.hadoop.fs.Path(path + "__rebuild_old")
      fs.delete(backup, true)
      fs.rename(target, backup)
      fs.rename(new org.apache.hadoop.fs.Path(tmp), target)
      fs.delete(backup, true)
      "full"
    } else {
      val keyedNew = withCurveKeys(newRows, m.indexType, m.bucketShift)
      val touched = keyedNew.select("__bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
      val merged = minusBatchIds(existing
          .filter(col("__bucket").isin(touched: _*))
          .withColumn("__bucket", col("__bucket").cast("int")))
        .unionByName(keyedNew.select(existing.columns.map(col).toIndexedSeq: _*))
        // materialize before the write: the dynamic overwrite deletes the
        // very partitions this plan reads at commit time
        .localCheckpoint(true)
      merged.repartition(col("__bucket")).sortWithinPartitions("__sfc")
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket").parquet(path)
      "partial"
    }
  }

  /** Multi-dimensional clustering for ARBITRARY numeric columns — the OLAP
    * data-skipping generalization of the spatial curve layouts (what
    * lakehouse engines call Z-ORDER BY). Both columns normalize over their
    * declared [min, max] domain, quantize to `level` bits, and interleave
    * into one sort key; a table written clustered on that key gets parquet
    * row-group min/max stats that are simultaneously selective on BOTH
    * columns, so a conjunctive range filter on either or both prunes at
    * the scan — one physical order serving two filter dimensions, where a
    * plain sort serves only its leading column. The spatial window search
    * is literally this with (x, y); nothing in the curve math is spatial.
    */
  def writeZOrderedTable(df: DataFrame, path: String,
      c1: String, min1: Double, max1: Double,
      c2: String, min2: Double, max2: Double,
      numPartitions: Int = 0): Unit = {
    val keyed = df.withColumn("__zk",
      zOrderKey(col(c1).cast("double"), col(c2).cast("double"),
        min1, min2, max1, max2))
    val parts = if (numPartitions > 0) numPartitions
      else keyed.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    keyed.repartitionByRange(parts, col("__zk")).sortWithinPartitions("__zk")
      .write.mode("overwrite").parquet(path)
  }

  /** Delete rows from a bucketed layer by id, rewriting ONLY the bucket
    * directories that actually contain them (the reference's removeNode /
    * removeNodes surface, reference: SpatialProcedures.java — here as a
    * partial rewrite instead of a copy-on-write of the whole layer). Ids
    * don't encode their bucket, so membership costs one READ of the layer's
    * id/bucket columns (column-pruned scan — two columns, not the rows);
    * only the buckets that hit are then read in full and rewritten minus
    * the deleted ids. Returns the number of rows deleted.
    */
  def deleteFromClusteredBuckets(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[String]): Long = {
    val existing = readClustered(spark, path, readLayoutMeta(spark, path))
    val touched = existing.select(col("id"), col("__bucket"))
      .filter(col("id").isin(ids: _*))
      .select("__bucket").distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return 0L
    val kept = existing.filter(col("__bucket").isin(touched: _*))
      .filter(!col("id").isin(ids: _*))
      .withColumn("__bucket", col("__bucket").cast("int"))
      .localCheckpoint(true)
    val before = existing.filter(col("__bucket").isin(touched: _*)).count()
    val keptBuckets = kept.select("__bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    if (keptBuckets.nonEmpty)
      kept.repartition(col("__bucket")).sortWithinPartitions("__sfc")
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket").parquet(path)
    // dynamic overwrite only replaces partitions PRESENT in the written
    // data — a bucket whose rows were ALL deleted must be dropped directly
    val emptied = touched.filterNot(keptBuckets)
    if (emptied.nonEmpty) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
      emptied.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(path, s"__bucket=$b"), true)
      }
    }
    before - kept.count()
  }

  /** Cheapest insert mode: blind APPEND of new part files into the bucket
    * directories the batch's keys land in — zero existing data is read
    * (contrast [[upsertClusteredBuckets]], which reads and merges the
    * touched buckets). Work is O(batch) regardless of layer size; the cost
    * is fragmentation (each append adds a file per touched bucket) and no
    * id dedupe. Queries stay correct throughout — each appended file is
    * `__sfc`-sorted so row-group stats keep pruning — and a periodic
    * [[compactBuckets]] restores the one-file-per-bucket layout. The
    * high-rate ingest pattern: hot path appends, background compacts.
    */
  def appendClusteredBuckets(newRows: DataFrame, path: String,
      indexType: String = "hilbert", bucketShift: Int = BucketShift): Unit = {
    // an existing layer's recorded layout WINS over the arguments: appending
    // with a different shift/curve than the layer was written with would mix
    // incompatible __bucket keyspaces in one directory tree
    val spark = newRows.sparkSession
    val m = readLayoutMeta(spark, path).getOrElse(LayoutMeta(indexType, bucketShift))
    val fresh = !fsFor(spark, path).exists(new org.apache.hadoop.fs.Path(path))
    val keyed = withCurveKeys(newRows, m.indexType, m.bucketShift)
    keyed.repartition(col("__bucket")).sortWithinPartitions("__sfc")
      .write.mode("append").partitionBy("__bucket").parquet(path)
    // the batch's schema describes the layer only when it started it; a
    // recorded schema gains the batch's new columns (before `__bucket`);
    // a layer whose schema was never recorded stays inferred
    val batch = bucketedSchema(keyed.schema)
    val schema = m.schema match {
      case Some(s) => Some(bucketedSchema(
        StructType(s.fields ++ batch.fields.filterNot(f => s.fieldNames.contains(f.name)))))
      case None => if (fresh) Some(batch) else None
    }
    writeLayoutMeta(spark, path, m.copy(schema = schema))
  }

  /** Compact bucket directories fragmented by repeated small appends: any
    * bucket holding more than `maxFilesPerBucket` part files is re-read,
    * re-sorted on `__sfc`, and rewritten via dynamic partition overwrite;
    * tight buckets are not read, written, or moved. The ops companion of
    * [[upsertClusteredBuckets]] — run on a cadence, the flat-file analog of
    * the reference's threshold-triggered index rebuild. Returns the number
    * of buckets compacted.
    */
  def compactBuckets(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerBucket: Int = 4): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val frag = fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__bucket="))
      .filter(s => fs.listStatus(s.getPath)
        .count(_.getPath.getName.startsWith("part-")) > maxFilesPerBucket)
      .map(_.getPath.getName.stripPrefix("__bucket=").toInt)
    if (frag.isEmpty) 0
    else {
      val rows = readClustered(spark, path, readLayoutMeta(spark, path))
        .filter(col("__bucket").isin(frag: _*))
        .withColumn("__bucket", col("__bucket").cast("int"))
        .localCheckpoint(true)
      rows.repartition(col("__bucket")).sortWithinPartitions("__sfc")
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket").parquet(path)
      frag.size
    }
  }

  /** 1-D curve ranges covering a query window — the scan-pruning analog of
    * the reference's `getTilesIntersectingEnvelope` → set of range scans
    * (reference: LayerSpaceFillingCurvePointIndex.java:110-124). Walks the
    * quadtree of curve cells at a coarse level and emits [min,max] index
    * ranges whose cells intersect the window; the exact bbox/geometry filter
    * still applies after (identical post-filter to the reference's
    * FilteredIndexIterator).
    *
    * Correctness subtlety: stored `__sfc` keys quantize by `frac*(2^level-1)`
    * (toCell), so a coarse-grid quantization of the window corners does NOT
    * nest with the fine grid — a corner's fine cell right-shifted can land
    * one past its coarse cell, and keys near the window's max edge would fall
    * outside every range. The covering rectangle is therefore derived from
    * the FINE cells of the corners (`toCell(·, level) >> shift`), which by
    * monotonicity of toCell bounds the fine cell of every in-window point.
    * Both curves are hierarchical (all fine cells under one coarse cell form
    * one contiguous index range of size 4^shift), so the emitted ranges are a
    * true superset of the window's stored keys.
    *
    * Driver cost is capped: the walk adaptively coarsens until the covering
    * rectangle has ≤ `maxCells` cells, so a whole-earth window at any level
    * enumerates a bounded cell count (wider ranges, never dropped rows).
    */
  def curveRangesForWindow(curve: (Long, Long, Int) => Long,
      qMinx: Double, qMiny: Double, qMaxx: Double, qMaxy: Double,
      minx: Double = -180, miny: Double = -90, maxx: Double = 180, maxy: Double = 90,
      level: Int = DefaultLevel, coarse: Int = 8, maxCells: Int = 4096): Seq[(Long, Long)] = {
    val fx0 = toCell(qMinx, minx, maxx, level); val fx1 = toCell(qMaxx, minx, maxx, level)
    val fy0 = toCell(qMiny, miny, maxy, level); val fy1 = toCell(qMaxy, miny, maxy, level)
    def cellCount(c: Int): Long = {
      val sh = level - c
      ((fx1 >> sh) - (fx0 >> sh) + 1) * ((fy1 >> sh) - (fy0 >> sh) + 1)
    }
    var c = math.min(coarse, level)
    while (c > 0 && cellCount(c) > maxCells) c -= 1
    val shift = level - c
    val x0 = fx0 >> shift; val x1 = fx1 >> shift
    val y0 = fy0 >> shift; val y1 = fy1 >> shift
    val cells = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cx = x0
    while (cx <= x1) {
      var cy = y0
      while (cy <= y1) {
        cells += curve(cx, cy, c)
        cy += 1
      }
      cx += 1
    }
    // each coarse cell covers a contiguous fine-level range of size 4^shift
    val size = 1L << (2 * shift)
    val sorted = cells.toSeq.sorted
    // merge adjacent cells into ranges
    val ranges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { c =>
      val lo = c * size
      val hi = lo + size - 1
      if (ranges.nonEmpty && ranges.last._2 + 1 == lo)
        ranges(ranges.length - 1) = (ranges.last._1, hi)
      else ranges += ((lo, hi))
    }
    ranges.toSeq
  }

  def hilbertRangesForWindow(qMinx: Double, qMiny: Double, qMaxx: Double, qMaxy: Double,
      minx: Double = -180, miny: Double = -90, maxx: Double = 180, maxy: Double = 90,
      level: Int = DefaultLevel, coarse: Int = 8): Seq[(Long, Long)] =
    curveRangesForWindow(hilbert, qMinx, qMiny, qMaxx, qMaxy, minx, miny, maxx, maxy, level, coarse)

  /** Z-order shares the same hierarchical-containment property as Hilbert
    * (fine morton = coarse morton * 4^shift + low-bit interleave), so the
    * identical quadtree walk serves zorder layouts
    * (reference: LayerSpaceFillingCurvePointIndex.java:110-124 serves both
    * curves through one getTilesIntersectingEnvelope API).
    */
  def zorderRangesForWindow(qMinx: Double, qMiny: Double, qMaxx: Double, qMaxy: Double,
      minx: Double = -180, miny: Double = -90, maxx: Double = 180, maxy: Double = 90,
      level: Int = DefaultLevel, coarse: Int = 8): Seq[(Long, Long)] =
    curveRangesForWindow(zOrder, qMinx, qMiny, qMaxx, qMaxy, minx, miny, maxx, maxy, level, coarse)

  /** The base32 geohash string of the grid cell (cellLon, cellLat) at the
    * given precision — the inverse-free form of [[geohash]]: midpoint binary
    * subdivision IS floor quantization on a 2^bits grid, so prefixes nest
    * exactly with the stored full-precision keys.
    */
  def geohashCell(cellLon: Long, cellLat: Long, precision: Int): String = {
    val lonBits = (5 * precision + 1) / 2
    val latBits = (5 * precision) / 2
    val sb = new StringBuilder
    var ch = 0; var bit = 0; var even = true
    var li = lonBits - 1; var bi = latBits - 1
    while (sb.length < precision) {
      val b = if (even) { val v = (cellLon >> li) & 1L; li -= 1; v }
              else { val v = (cellLat >> bi) & 1L; bi -= 1; v }
      ch = (ch << 1) | b.toInt
      even = !even
      bit += 1
      if (bit == 5) { sb.append(GeohashBase32(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }

  /** Geohash prefixes covering a query window — the prefix-search analog of
    * the curve ranges (reference: LayerGeohashPointIndex.java:86-107,
    * prefix searcher over the bit-interleaved hash). Every point inside the
    * window has a stored precision-9 key starting with one of the returned
    * prefixes (geohash truncation = coarser cell containment, exact nesting).
    * Precision adapts downward until the covering grid has ≤ maxCells cells.
    */
  def geohashPrefixesForWindow(qMinx: Double, qMiny: Double, qMaxx: Double, qMaxy: Double,
      maxPrecision: Int = 4, maxCells: Int = 128): Seq[String] = {
    def cellIdx(v: Double, min: Double, max: Double, bits: Int): Long = {
      val n = 1L << bits
      val frac = (v - min) / (max - min)
      math.min(n - 1, math.max(0L, (frac * n).toLong))
    }
    def corners(p: Int): (Long, Long, Long, Long) = {
      val lonBits = (5 * p + 1) / 2; val latBits = (5 * p) / 2
      (cellIdx(qMinx, -180, 180, lonBits), cellIdx(qMaxx, -180, 180, lonBits),
       cellIdx(qMiny, -90, 90, latBits), cellIdx(qMaxy, -90, 90, latBits))
    }
    var p = math.max(1, maxPrecision)
    var (x0, x1, y0, y1) = corners(p)
    while (p > 1 && (x1 - x0 + 1) * (y1 - y0 + 1) > maxCells) {
      p -= 1
      val c = corners(p); x0 = c._1; x1 = c._2; y0 = c._3; y1 = c._4
    }
    (for (cx <- x0 to x1; cy <- y0 to y1) yield geohashCell(cx, cy, p)).distinct.sorted
  }

  // ------------------------------------------------------- STR bulk packing

  /** Sort-Tile-Recursive bulk-load packing (Leutenegger/Lopez/Edgington,
    * ICDE 1997) — the distributed analog of the reference's sorted bulk
    * R-tree build (reference: RTreeIndex.java:533-605 packs the sorted
    * envelope list bottom-up into pages of maxNodeReferences): N points,
    * page capacity B → P = ceil(N/B) leaf pages arranged in
    * S = ceil(sqrt(P)) x-sorted vertical slabs of S·B consecutive entries,
    * each slab y-sorted and cut into pages of B consecutive entries.
    *
    * Scale shape: the global x-rank is a range-partitioned sort plus
    * `zipWithIndex` (one count job + per-partition offset arithmetic —
    * never a single-partition window); the within-slab y-rank is a window
    * PARTITIONED by slab, so its state is one slab (S·B ≈ sqrt(N·B) rows)
    * per task. Returns one row per leaf page with its count and MBR — the
    * page directory a bulk-loaded R-tree would have, as a DataFrame.
    */
  def strPack(pts: DataFrame, capacity: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val spark = pts.sparkSession
    val base = pts.select(col("id").cast("string").as("id"),
      col("x").cast("double").as("x"), col("y").cast("double").as("y"))
    val n = base.count()
    val pages = math.max(1L, (n + capacity - 1) / capacity)
    val slabs = math.ceil(math.sqrt(pages.toDouble)).toLong
    val slabRows = slabs * capacity
    // RDD-level persist feeds zipWithIndex's two passes (offset job + data
    // pass) once; localCheckpoint truncates the zipped lineage so the big
    // sorted cache can be dropped deterministically before returning (a
    // DataFrame-level persist here leaked one cached RDD per pack call —
    // the CacheManager pins it forever; the checkpoint blocks are
    // ContextCleaner-managed and free on GC)
    val sortedRdd = base
      .repartitionByRange(col("x"), col("y"), col("id"))
      .sortWithinPartitions("x", "y", "id")
      .rdd.persist()
    val schema = base.schema.add("rn", LongType, nullable = false)
    val zipped = sortedRdd.zipWithIndex
      .map { case (row, i) => Row.fromSeq(row.toSeq :+ i) }
      .localCheckpoint()
    zipped.count()
    sortedRdd.unpersist(blocking = false)
    val ranked = spark.createDataFrame(zipped, schema)
    val w = Window.partitionBy("slab").orderBy("y", "x", "id")
    ranked
      .withColumn("slab", expr(s"rn DIV $slabRows"))
      .withColumn("rm", row_number().over(w).cast("long") - 1L)
      .withColumn("tile", expr(s"rm DIV $capacity"))
      .groupBy("slab", "tile")
      .agg(count(lit(1)).as("cnt"),
        min("x").as("xmin"), max("x").as("xmax"),
        min("y").as("ymin"), max("y").as("ymax"))
      .orderBy("slab", "tile")
  }
}
