package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.Dedup
import graft.streaming.{PointStream, StreamDedup}

/** Differential streaming coverage: every streaming operator is checked
  * against its batch sibling ON THE REAL sf0.001 TABLES, not hand fixtures —
  * the streaming analog of the DuckDB oracle (Structured Streaming has no
  * DuckDB replay, so batch Spark — itself hash-matched by the driver — is
  * the strongest available oracle). The reference has no streaming surface;
  * its consistency contract is that incremental inserts converge to the same
  * layer a bulk import builds (reference:
  * server-plugin/src/test/java/org/neo4j/gis/spatial/RTreeBulkInsertTest.java:269-278
  * runs the same window queries over incrementally- and bulk-built trees) —
  * these tests pin the identical contract for microbatched execution.
  */
class StreamDiffSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** Stage a batch frame as `n` parquet files so the file source replays it
    * as `n` microbatches under maxFilesPerTrigger=1.
    */
  private def stage(df: DataFrame, dir: String, n: Int): DataFrame = {
    df.repartition(n).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("streamed point-layer ingest converges to the batch layer (bulk == incremental)") {
    val dir = Files.createTempDirectory("graft-sdiff-layer").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/layer"; val ckpt = s"$dir/ckpt"

    val pts = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("pid"),
        (col("c_acctbal") % 360.0 - 180.0).as("px"),
        ((col("c_custkey") * 7 % 180) - 90).cast("double").as("py"))
    val staged = stage(pts, srcDir, 5)

    val stream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = PointStream.writeToLayer(
      PointStream.canonicalize(stream, "pid", "px", "py"), outDir, ckpt,
      Trigger.AvailableNow())
    awaitAndStop(q, 120000); assertFewEpochs(ckpt)

    val streamed = spark.read.parquet(outDir)
    val expected = PointStream.canonicalize(pts, "pid", "px", "py")
      .select("id", "geometry", "gtype", "bbox", "x", "y")

    assert(streamed.count() == expected.count())
    // row-for-row identical layer content: geometry bytes, bbox struct, coords
    val mismatches = streamed.as("s").join(expected.as("e"), Seq("id"))
      .filter(col("s.x") =!= col("e.x") || col("s.y") =!= col("e.y") ||
        col("s.gtype") =!= col("e.gtype") ||
        col("s.bbox") =!= col("e.bbox") ||
        col("s.geometry") =!= col("e.geometry"))
      .count()
    assert(mismatches == 0, s"$mismatches rows differ between streamed and batch layer")
  }

  test("windowedCellStats over microbatches equals the batch window aggregation") {
    val dir = Files.createTempDirectory("graft-sdiff-cells").toString
    val srcDir = s"$dir/in"

    val events = graft.pipeline.Events.normalizeEventTs(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"),
        timestamp_seconds(expr("ts div 1000000000")).as("ets"),
        (col("value") % 1000.0).as("ex"),
        (col("user_id") % 500).cast("double").as("ey"))
    val staged = stage(events, srcDir, 4)

    val stream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val canonical = PointStream.canonicalize(stream, "event_id", "ex", "ey")
    val agg = PointStream.windowedCellStats(canonical, "ets", "1 hour", cellSize = 250.0)

    // complete mode + memory sink: every window's final value is observable
    // regardless of how the watermark advanced across the 4 microbatches
    val q = agg.writeStream.format("memory").queryName("cells_diff")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    awaitAndStop(q, 120000)

    def canon(df: DataFrame): Seq[org.apache.spark.sql.Row] = df
      .select(col("window.start").cast("long").as("ws"),
        col("window.end").cast("long").as("we"),
        col("cell_x"), col("cell_y"), col("n"),
        round(col("centroid_x"), 6).as("cx"), round(col("centroid_y"), 6).as("cy"),
        col("minx"), col("miny"), col("maxx"), col("maxy"))
      .orderBy("ws", "cell_x", "cell_y")
      .collect().toSeq

    val got = canon(spark.table("cells_diff"))
    val batch = PointStream.canonicalize(events, "event_id", "ex", "ey")
      .groupBy(window(col("ets"), "1 hour"),
        floor(col("x") / 250.0).as("cell_x"), floor(col("y") / 250.0).as("cell_y"))
      .agg(count(lit(1)).as("n"),
        avg(col("x")).as("centroid_x"), avg(col("y")).as("centroid_y"),
        min(col("x")).as("minx"), min(col("y")).as("miny"),
        max(col("x")).as("maxx"), max(col("y")).as("maxy"))
    val exp = canon(batch)

    assert(got.nonEmpty && got.size == exp.size,
      s"window count mismatch: streamed ${got.size} vs batch ${exp.size}")
    got.zip(exp).foreach { case (g, e) => assert(g == e, s"window row differs: $g vs $e") }
  }

  test("exactDedupStream survivors equal the batch distinct-text partition") {
    val dir = Files.createTempDirectory("graft-sdiff-exact").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckpt = s"$dir/ckpt"

    // real corpus; event time keeps every doc inside one watermark horizon so
    // state is never evicted mid-run (horizon semantics are pinned separately
    // in StreamDedupSpec)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        timestamp_seconds(lit(1700000000L) + col("doc_id") % 300).as("ts"))
    val staged = stage(docs, srcDir, 5)

    val stream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = StreamDedup.exactDedupStream(stream, "ts", "text", watermark = "30 minutes")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    awaitAndStop(q, 120000); assertFewEpochs(ckpt)

    val survivors = spark.read.parquet(outDir)
    val batchGroups = Dedup.exactDedup(docs.drop("ts"), "doc_id", "text")
    // one survivor per batch group, texts distinct, full coverage
    assert(survivors.count() == batchGroups.count(),
      s"streamed ${survivors.count()} survivors vs batch ${batchGroups.count()} groups")
    assert(survivors.select("text").distinct().count() == survivors.count())
    assert(survivors.select("text").except(docs.select("text")).count() == 0)
  }

  test("simhashDedupStream suppression is consistent with batch near-dup pairs") {
    val dir = Files.createTempDirectory("graft-sdiff-simhash").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val maxH = 6

    // real corpus + injected near-dups (one-word mutations of real docs) so
    // the suppressed set is provably non-empty
    val base = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val mutated = base.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text"))
    val docs = base.unionByName(mutated)
    // ONE file -> one microbatch: per-band admission is greedy in id order,
    // exactly the deterministic contract documented on simhashDedupStream
    val staged = stage(docs, srcDir, 1)

    val stream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val banded = StreamDedup.bandedDocs(stream, "doc_id", "text", maxHamming = maxH)
    val q = StreamDedup.simhashDedupStream(banded, maxHamming = maxH, idleTimeoutMs = 0)
      .toDF.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    awaitAndStop(q, 120000); assertFewEpochs(ckpt)

    val allIds = docs.select(col("doc_id").cast("long")).as[Long].collect().toSet
    // global survivor = admitted in all (maxH+1) bands
    val survivors = StreamDedup.globalSurvivors(spark.read.parquet(outDir), maxH)
      .select(col("id")).as[Long].collect().toSet
    val suppressed = allIds -- survivors

    // batch oracle: all pairs with hamming <= maxH (guaranteed recall)
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = maxH)
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect()
    val hasEarlierPartner = pairs.map(_._2).toSet // id_a < id_b always

    // (1) a doc with NO earlier near-dup cannot be suppressed in any band
    val wronglySuppressed = suppressed -- hasEarlierPartner
    assert(wronglySuppressed.isEmpty,
      s"suppressed without any earlier batch partner: $wronglySuppressed")
    // (2) suppression only ever happens to docs the batch operator pairs
    assert(suppressed.subsetOf(hasEarlierPartner))
    // (3) the injected mutations are actually caught
    assert(suppressed.exists(_ >= 100000),
      s"no injected near-dup was suppressed (suppressed=$suppressed)")
  }

  test("checkpointed restart processes only new files, no duplicates or loss") {
    val dir = Files.createTempDirectory("graft-sdiff-restart").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/layer"; val ckpt = s"$dir/ckpt"

    val batch1 = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("pid"),
        (col("c_acctbal") % 90.0).as("px"), (col("c_custkey") % 80).cast("double").as("py"))
    batch1.write.parquet(srcDir)

    def runOnce(): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val q = PointStream.writeToLayer(
        PointStream.canonicalize(stream, "pid", "px", "py"), outDir, ckpt,
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      awaitAndStop(q, 120000); assertFewEpochs(ckpt)
    }
    runOnce()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == batch1.count())

    // second wave of files into the same source dir, then RESTART from the
    // same checkpoint: exactly the new rows are appended, none re-processed
    batch1.select((col("pid") + 10000).as("pid"), col("px"), col("py"))
      .write.mode("append").parquet(srcDir)
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 2 * n1, s"expected ${2 * n1} rows, got ${out.count()}")
    assert(out.select("id").distinct().count() == 2 * n1, "duplicate ids after restart")
  }

  test("simhash dedup state survives a checkpointed restart") {
    val dir = Files.createTempDirectory("graft-sdiff-state").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val maxH = 6
    val textA = "the quick brown fox jumps over the lazy dog again and again today"

    def runOnce(): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      val banded = StreamDedup.bandedDocs(stream, "doc_id", "text", maxHamming = maxH)
      val q = StreamDedup.simhashDedupStream(banded, maxHamming = maxH, idleTimeoutMs = 0)
        .toDF.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      awaitAndStop(q, 120000); assertFewEpochs(ckpt)
    }

    // wave 1: the original doc is admitted everywhere
    Seq((1L, textA)).toDF("doc_id", "text").write.parquet(srcDir)
    runOnce()
    assert(StreamDedup.globalSurvivors(spark.read.parquet(outDir), maxH)
      .count() == 1)

    // wave 2 AFTER RESTART: an exact dup of wave 1's doc plus a fresh doc —
    // suppression of the dup requires the band state RESTORED from the
    // checkpoint, not state built within this run
    Seq((2L, textA), (3L, "completely different content about catalyst optimizer rules"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()
    val survivors = StreamDedup.globalSurvivors(spark.read.parquet(outDir), maxH)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 3L),
      s"restart lost dedup state: survivors=$survivors (2 must be suppressed by 1's restored state)")
  }
}
