package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming STATE-SIZE evidence: the 8 driver gates prove the streaming
  * operators are CORRECT; this harness proves their state is BOUNDED the
  * way the scale story claims. Each family replays the same choreography
  * at 1× and 10× event volume (10× = ten time-jittered copies over the
  * SAME users and the same horizon — rate grows, population and horizon
  * do not) and records the state store's peak row count and bytes from
  * the progress telemetry (StateOperatorProgress.numRowsTotal /
  * memoryUsedBytes, the same numbers the Spark UI shows an operator).
  *
  * Expected shapes, which the recorded numbers must show:
  *  - windowed agg / HLL sketch: state rows ∝ open windows × group
  *    cardinality — FLAT as volume grows
  *  - session_window: state rows ∝ OPEN sessions (≤ user population) —
  *    flat as events-per-user grows
  *  - exact dedup: state rows ∝ DISTINCT keys in horizon — flat when the
  *    extra volume is duplicate traffic (the dedup workload)
  *  - stream–stream interval join: state rows ∝ rate × horizon — the ONE
  *    family that legitimately grows ~10×, bounded by the horizon, not
  *    the stream length
  *
  * Usage: SPARK_GRAFT_CPUS=16 runMain graft.tools.StreamStateBench [sfDir] [outJson]
  * (16 cores: the core count of BENCH_scale.json)
  * Merges a "streaming_state" section into BENCH_scale.json when present.
  */
object StreamStateBench {

  case class Gate(rows: Long, bytes: Long, outRows: Long, sec: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("/tmp/stream_state.json")
    val mergeInto = args.lift(2).getOrElse("BENCH_scale.json")
    val spark = graft.Sessions.local()

    // normalizeEventTs absorbs the driver's per-generation ts precision
    // (TIMESTAMP(NANOS)-as-long vs TIMESTAMP_NTZ) into long nanos
    val ev1 = graft.pipeline.Events.normalizeEventTs(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("ets"),
        col("event_type"),
        round(col("value") * 100).cast("double").as("value"))
    // 10×: ten copies, each jittered +i seconds — same users, same horizon,
    // 10× the rate (the "duplicate traffic" shape for the dedup family)
    def evAt(n: Int): DataFrame =
      if (n == 1) ev1
      else (0 until n).map(i =>
        ev1.withColumn("ets", col("ets") + expr(s"INTERVAL $i SECONDS")))
        .reduce(_ unionAll _)

    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("ets", timestamp_micros(lit(1767225600000000L) +
        (col("doc_id") % 86400L) * 1000000L))
    def docsAt(n: Int): DataFrame =
      if (n == 1) docs1
      else (0 until n).map(i =>
        docs1.withColumn("ets", col("ets") + expr(s"INTERVAL $i SECONDS")))
        .reduce(_ unionAll _)

    /** Stage `df` as 4 time-ordered slab files + a far-future sentinel
      * (ordered writes ⇒ in-order micro-batches), run `build(stream)` with
      * AvailableNow, and return peak state rows/bytes across batches.
      */
    def runGate(name: String, df: DataFrame, tsCol: String,
        build: DataFrame => DataFrame): Gate = {
      val d = java.nio.file.Files.createTempDirectory(s"graft-ssb-$name")
      d.toFile.deleteOnExit()
      val src = d.resolve("in").toString
      val ckpt = d.resolve("ckpt").toString
      val slabW = org.apache.spark.sql.expressions.Window.orderBy(tsCol)
      val slabs = graft.pipeline.BoundedWindow(df, 50_000_000L,
          "bench slab staging (the rate-ladder corpus, never production data)")
        .withColumn("__slab", ntile(4).over(slabW))
      (1 to 4).foreach { i =>
        slabs.filter(col("__slab") === i).drop("__slab")
          .repartition(1).write.mode("append").parquet(src)
      }
      val sentinel = df.limit(1)
        .withColumn(tsCol, to_timestamp(lit("2027-06-01 00:00:00")))
      sentinel.repartition(1).write.mode("append").parquet(src)
      val staged = spark.read.parquet(src)
      val stream = spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val t0 = System.nanoTime()
      val q = build(stream)
        .writeStream.format("memory").queryName(s"ssb_$name")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(600000)
      finally { q.stop(); q.awaitTermination() }
      val sec = (System.nanoTime() - t0) / 1e9
      val perBatch = q.recentProgress.toSeq.map { p =>
        val ops = p.stateOperators
        // HDFSBackedStateStore reports its real map size in the
        // stateOnCurrentVersionSizeBytes custom metric; memoryUsedBytes
        // alone shows only fixed provider overhead on some versions
        val bytes = ops.map { so =>
          val cur = Option(so.customMetrics)
            .map(_.getOrDefault("stateOnCurrentVersionSizeBytes", 0L).longValue())
            .getOrElse(0L)
          math.max(so.memoryUsedBytes, cur)
        }.sum
        (ops.map(_.numRowsTotal).sum, bytes)
      }
      val rows = if (perBatch.isEmpty) 0L else perBatch.map(_._1).max
      val bytes = if (perBatch.isEmpty) 0L else perBatch.map(_._2).max
      val outRows = spark.table(s"ssb_$name").count()
      spark.catalog.dropTempView(s"ssb_$name")
      Gate(rows, bytes, outRows, sec)
    }

    def fmt(g: Gate): String =
      f"""{"state_rows": ${g.rows}, "state_bytes": ${g.bytes}, "out_rows": ${g.outRows}, "sec": ${g.sec}%.1f}"""

    val families: Seq[(String, Int => (String, DataFrame, DataFrame => DataFrame))] = Seq(
      "st_hourly_agg" -> (n => ("ets", evAt(n).select(col("ets"), col("event_type")),
        s => s.withWatermark("ets", "10 minutes")
          .groupBy(window(col("ets"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("t_start"), col("event_type"), col("n")))),
      "st_hll_sketch" -> (n => ("ets",
        evAt(n).select(col("ets"), col("event_type").as("g"),
          abs(xxhash64(col("user_id"))).as("h")),
        s => graft.streaming.StreamSketch.hllRegisterStream(s, "ets"))),
      "st_sessions" -> (n => ("ets",
        evAt(n).select(col("user_id"), col("ets"), col("value")),
        s => graft.streaming.StreamSessions.sessionStream(s, "user_id", "ets"))),
      "st_exact_dedup" -> (n => ("ets", docsAt(n),
        s => graft.streaming.StreamDedup.exactDedupStream(s, "ets", "text"))),
      "st_kmv_sketch" -> (n => ("ets",
        evAt(n).select(col("ets"), col("event_type").as("g"),
          graft.pipeline.Events.kmvHash(col("user_id")).as("h")),
        s => {
          import spark.implicits._
          graft.streaming.StreamSketch.kmvStream(
            s.select(col("g"), col("h"))
              .as[graft.streaming.StreamSketch.KmvRow], 256).toDF()
        })),
      // dropDuplicatesWithinWatermark: state = one expiry per key still
      // inside the delay horizon — rate-independent by design (the 10×
      // copies are exactly the duplicate traffic the operator absorbs)
      "st_dedup_within_wm" -> (n => ("ets",
        evAt(n).select(col("user_id").as("k"), col("ets")),
        s => s.withWatermark("ets", "2 hours").dropDuplicatesWithinWatermark("k"))),
      "st_interval_join" -> (n => ("ets",
        evAt(n).select(col("user_id"), col("ets"), col("event_type")),
        s => {
          val l = s.filter(col("event_type") =!= "purchase")
            .select(col("user_id"), col("ets"))
          val r = s.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ets").as("rts"))
          graft.streaming.StreamJoin.intervalJoin(l, "ets", r, "rts", "user_id")
        })))

    val famFilter = sys.env.get("SPARK_GRAFT_FAMILIES").map(_.split(",").toSet)
    val results = families
      .filter { case (nm, _) => famFilter.forall(_.contains(nm)) }
      .map { case (nm, mk) =>
        val gates = Seq(1, 10).map { n =>
          val (tsCol, df, build) = mk(n)
          val g = runGate(s"${nm}_$n", df, tsCol, build)
          println(f"[state] $nm%-18s ${n}x: rows=${g.rows}%8d bytes=${g.bytes}%10d out=${g.outRows}%8d ${g.sec}%5.1fs")
          n -> g
        }
        val g1 = gates.head._2; val g10 = gates.last._2
        val growth = if (g1.rows == 0) 0.0 else g10.rows.toDouble / g1.rows
        nm -> (f"""{"x1": ${fmt(g1)}, "x10": ${fmt(g10)}, "rows_growth": $growth%.2f}""")
      }

    val body = results.map { case (k, v) => s"""  "$k": $v""" }
      .mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), body + "\n")

    // merge a "streaming_state" section into the committed growth-ladder
    // artifact so the evidence lives beside the wall-time rungs — per
    // FAMILY, so a filtered re-run refreshes its own entries without
    // clobbering the section
    val target = new java.io.File(mergeInto)
    if (target.isFile && target.length() > 0) {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      om.readTree(target) match {
        case root: com.fasterxml.jackson.databind.node.ObjectNode =>
          val sect = root.get("streaming_state") match {
            case o: com.fasterxml.jackson.databind.node.ObjectNode => o
            case _ => root.putObject("streaming_state")
          }
          val fresh = om.readTree(body)
          fresh.fields().forEachRemaining(e =>
            sect.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue))
          java.nio.file.Files.writeString(target.toPath,
            om.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
        case _ => System.err.println(s"[state] $mergeInto is not a JSON object; skipping merge")
      }
    }
    spark.stop()
    println(body)
    System.out.flush()
  }
}
