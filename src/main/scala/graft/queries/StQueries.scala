package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Events}
import graft.queries.Shared._

/** Streaming queries (`st_*`): each stages its input as ordered parquet
  * slabs and replays them through a structured-streaming gate whose result
  * must equal the batch oracle.
  */
object StQueries {

  /** Ordered slab ids for streaming-gate file staging — ntile(n) bucket
    * semantics (identical assignment via Events.ntileFromRank) over the
    * distributed Events.globalRank instead of a single-partition
    * `ntile().over(Window.orderBy(…))`: the same no-global-WindowExec
    * discipline the production queries follow. Ties in `order` only ever
    * move identical-timestamp/identical-key rows across a slab boundary,
    * which the gates' watermark choreography is insensitive to.
    */
  private def slabify(df: DataFrame, order: Seq[org.apache.spark.sql.Column],
      nSlabs: Int): DataFrame = {
    val n = df.count()
    Events.globalRank(df, order, "_slab_rank")
      .withColumn("slab",
        Events.ntileFromRank(col("_slab_rank"), lit(n), nSlabs).cast("int"))
      .drop("_slab_rank")
  }

  /** Write one parquet slab file per `slab` value under `src`, in slab
    * order — the single micro-batch file-staging loop every streaming
    * gate shares (maxFilesPerTrigger=1 then replays the files in this
    * order). `slabs` must carry a `slab` column; it is dropped from the
    * written rows.
    */
  private def writeSlabFiles(slabs: DataFrame, slabValues: Seq[Int],
      src: String): Unit =
    slabValues.foreach { i =>
      slabs.filter(col("slab") === i).drop("slab")
        .repartition(1).write.mode("append").parquet(src)
    }

  /** One-call gate staging: slabify `df` on `order` into `nSlabs` ordered
    * micro-batch files under `src` (one staging
    * implementation; the formerly ad-hoc `repartition(4)` gates now stage
    * deterministic time/key-ordered slabs like every stateful gate, which
    * only ever reorders rows their complete/update/distinct semantics are
    * insensitive to).
    */
  private def stageSlabs(df: DataFrame, order: Seq[org.apache.spark.sql.Column],
      nSlabs: Int, src: String): Long = {
    // persist BEFORE the per-slab writes: slabify's count + two-pass
    // globalRank would otherwise recompute once per slab (n× the whole
    // staging plan — a measured 2.9–9.8× streaming-gate slowdown).
    // Same discipline the recover gate already applies to its slabs.
    val slabs = slabify(df, order, nSlabs).persist()
    try { writeSlabFiles(slabs, 1 to nSlabs, src); slabs.count() }
    finally { slabs.unpersist(); () }
  }

  /** Start a streaming gate with the session shuffle width resized to a
    * STATE-sized width for `rows` staged rows (one state partition per
    * ~25k rows, ≥1, capped at the session default), then enforce the gate
    * budget. Micro-batch overhead is ∝ state partitions × batches ×
    * stateful operators — at the session's core-scaled width a 100k-row
    * gate pays 32 state-store commits per stateful stage per batch, pure
    * choreography (measured: st_stream_join 20→? s, guide §2.2's
    * too-many-tiny-partitions tax in streaming form). The width derives
    * from DATA SIZE, not core count: at cluster scale rows/25k exceeds any
    * session width and the cap keeps the plan identical to today's, while
    * small gates stop over-partitioning their state. Results are
    * partitioning-invariant (every gate is oracle-pinned); the conf is
    * restored before the gate's result frame is acted on, so only the
    * stream's own micro-batches run at the resized width.
    */
  private def runGate(s: SparkSession, rows: Long, budgetMs: Long = 180000)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, math.max(1L, math.min(old.toLong, rows / 25000L + 1)).toString)
    try {
      val q = start
      val finished =
        try q.awaitTermination(budgetMs)
        catch { case e: Throwable =>
          // stop the stream before propagating: an orphaned query would
          // keep consuming files/cores and pollute every later timing
          try q.stop() catch { case _: Throwable => () }
          throw e
        }
      if (!finished) try q.stop() catch { case _: Throwable => () }
      require(finished,
        "streaming gate exceeded its budget — refusing partial results")
    } finally s.conf.set(key, old)
  }

  /** Streaming-MV sink shared by the mv/recover gates: PARTITION-SCOPED
    * upsert of an update-mode (hour_start, event_type, n) delta into a
    * delta-chained [[graft.plans.VersionedLayer]] store. Only the hour
    * partitions the delta touches are read back (partition-pruned through
    * the version chain's `_PARTS` manifests), merged key-level
    * (old-rows anti-join delta ∪ delta), and rewritten — bytes per
    * micro-batch ∝ the delta, never the store (previously each batch
    * rewrote the FULL snapshot: O(store × batches) I/O, a
    * scale killer). Replay-idempotent: update
    * rows carry cumulative counts, so a crash-replayed batch rewrites the
    * same partitions with the same merged content. The dirty-hour collect
    * is bounded by the delta's distinct hours.
    */
  private def mvUpsert(batch: DataFrame, store: String): Unit = {
    import graft.plans.VersionedLayer
    val sp = batch.sparkSession
    // store partition grain is the DAY, not the hour: an hourly MV
    // partitioned by hour_start writes one directory PER DISTINCT HOUR
    // per commit (~180 tiny dirs per micro-batch on a 720-hour corpus —
    // a filesystem-metadata storm that dominated the gate's wall-clock);
    // day grain bounds a commit at the delta's distinct DAYS while bytes
    // stay ∝ delta. Rows remain keyed (hour_start, event_type) — the
    // partition column only scopes which directories a commit rewrites.
    val delta = batch
      .withColumn("day_start", expr("(hour_start div 86400) * 86400"))
      .persist()
    try {
      val dirty = delta.select(col("day_start").cast("string").as("d"))
        .distinct().collect().map(_.getString(0)).toSeq
      val content =
        VersionedLayer.readPartitions(sp, store, "day_start", dirty) match {
          case None => delta
          case Some(base) => base
            .join(delta.select("hour_start", "event_type"),
              Seq("hour_start", "event_type"), "left_anti")
            .unionByName(delta)
        }
      VersionedLayer.commitDelta(content, store, "day_start")
    } finally delta.unpersist()
    ()
  }

  /** A fresh gate directory, deleted at exit: the paths of its staged
    * slab files, its stream checkpoint and its materialized-view store.
    */
  private def gateDirs(prefix: String): (String, String, String) = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    (d.resolve("in").toString, d.resolve("ckpt").toString, d.resolve("store").toString)
  }

  /** The slab files under `src` as a file stream, one file per micro-batch
    * (in staging order), with the schema the staged files carry.
    */
  private def replay(s: SparkSession, src: String): DataFrame =
    s.readStream.schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

  /** Starts `out` into the memory table `table` in `mode`, checkpointed at
    * `ckpt`, until the staged files are consumed.
    */
  private def toMemory(out: DataFrame, table: String, mode: String,
      ckpt: String): org.apache.spark.sql.streaming.StreamingQuery =
    out.writeStream.format("memory").queryName(table)
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Starts `agg`'s update-mode deltas into the [[mvUpsert]] store `store`,
    * checkpointed at `ckpt`, until the staged files are consumed.
    */
  private def toStore(agg: DataFrame, ckpt: String,
      store: String): org.apache.spark.sql.streaming.StreamingQuery =
    agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mvUpsert(batch, store)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** One side of the stream-stream join gates: the replayed `tpe` events
    * as (`pre`_user, `pre`_id, `pre`_tev), watermarked `delay` behind.
    */
  private def joinSide(s: SparkSession, src: String, tpe: String, pre: String,
      delay: String): DataFrame =
    replay(s, src)
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pre}_user"),
        col("event_id").as(s"${pre}_id"), col("tev").as(s"${pre}_tev"))
      .withWatermark(s"${pre}_tev", delay)

  /** `events` with `ts` as a microsecond timestamp `tev`, beside `cols`. */
  private def eventsTev(s: SparkSession, dir: String, cols: String*): DataFrame =
    T(s, dir, "events")
      .select(timestamp_micros(expr("ts div 1000")).as("tev") +: cols.map(col): _*)

  /** Event counts `n` per 1-hour window of `t` (its start in epoch seconds,
    * `hour_start`) and `key`.
    */
  private def hourlyCounts(events: DataFrame, t: org.apache.spark.sql.Column,
      key: String): DataFrame =
    events.groupBy(window(t, "1 hour"), col(key))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("hour_start"), col(key), col("n"))

  /** Oracle of `hourlyCounts(events, ts, "event_type")`. */
  private val HourlyCountsOracle =
    """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_start,
      |       event_type, count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY event_type, hour_start""".stripMargin

  private[graft] val all: Seq[QuerySpec] = Seq(
    // deterministic HyperLogLog distinct sketch (p=8) per event_type, both
    // grains (150 distinct users → linear-counting branch; ~2k event ids →
    // raw-estimate branch), exact counts beside for the error story
    // NINTH streaming CORRECTNESS gate — streaming KMV distinct sketch
    // through flatMapGroupsWithState: state is EXACTLY the k smallest
    // distinct hashes per group (k longs — bounded for any stream length).
    // Bottom-k merge is a semilattice, so the streamed final sketch equals
    // the batch sketch for ANY slab split or arrival order — the gate
    // reuses the BATCH oracle verbatim (Events.kmvDistinctDuckSql)
    QuerySpec("st_stream_kmv", (s, dir) => {
      import s.implicits._
      val (src, ckpt, _) = gateDirs("graft-stream-kmv")
      val ev = T(s, dir, "events")
        .select(col("event_type").as("g"),
          Events.kmvHash(col("user_id")).as("h"))
      val staged0 = stageSlabs(ev, Seq(col("g"), col("h")), 4, src)
      val stream = replay(s, src)
      val k = 256
      runGate(s, staged0)(toMemory(
        graft.streaming.StreamSketch.kmvStream(
            stream.as[graft.streaming.StreamSketch.KmvRow], k)
          .toDF(),
        "st_stream_kmv_mem", "append", ckpt))
      s.table("st_stream_kmv_mem")
        .groupBy(col("g"))
        .agg(max(struct(col("ver"), col("n_kept"), col("hk"))).as("m"))
        .select(col("g").as("event_type"),
          col("m.n_kept").as("n_kept"),
          round(when(col("m.n_kept") < k, col("m.n_kept").cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (col("m.hk").cast("double") / lit(Events.KmvM.toDouble))), 3)
            .as("est_distinct"))
        .orderBy(col("event_type"))
    },
      // the streamed bottom-k equals the batch bottom-k (semilattice merge),
      // so the streaming gate replays against the identical batch oracle
      Events.kmvDistinctDuckSql()),

    // STREAMING under the DuckDB oracle: the customer points replay as 4
    // file-source microbatches through a streamed per-cell aggregate
    // (complete mode, AvailableNow); the final state must equal the batch
    // aggregate the oracle computes — the microbatch-convergence contract
    // the differential specs pin, promoted to a CORRECTNESS row
    // streamed sliding-window counts through Spark's native window(width,
    // slide) operator: events staged to files, one micro-batch per file so
    // the windowed state actually merges across batches, complete-mode
    // memory sink — hash-matched against the batch hop oracle, promoting
    // the event-time sliding window from differential-only to a
    // CORRECTNESS row (the streamed twin of ev_hop)
    QuerySpec("st_stream_hop", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-hop")
      val ev = T(s, dir, "events").select(col("event_type"),
        timestamp_micros(expr("ts div 1000")).as("ets"))
      val staged0 = stageSlabs(ev, Seq(col("ets"), col("event_type")), 4, src)
      val stream = replay(s, src)
      val agg = stream
        .groupBy(col("event_type"),
          window(col("ets"), "3 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
      runGate(s, staged0)(toMemory(agg, "st_stream_hop_mem", "complete", ckpt))
      s.table("st_stream_hop_mem")
        .select(col("event_type"),
          expr("unix_timestamp(w.start) div 3600").as("win_start"), col("n"))
        .orderBy(col("event_type"), col("win_start"))
    },
      // the streamed window(3h, 1h) must equal the closed-form hop expansion:
      // an event at hour h lands in windows starting h-2..h (epoch-aligned)
      """WITH h AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour FROM events
        |), g AS (
        |  SELECT event_type, unnest(range(hour - 2, hour + 1)) AS win_start FROM h
        |)
        |SELECT event_type, CAST(win_start AS BIGINT) AS win_start, count(*) AS n
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QuerySpec("st_stream_cells", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-cells")
      val pts = pointsDf(s, dir).select(col("ck"), col("x"), col("y"), col("c_acctbal"))
      val staged0 = stageSlabs(pts, Seq(col("ck")), 4, src)
      val stream = replay(s, src)
      val agg = stream
        .groupBy(floor(col("x") / 10.0).cast("int").as("cell_x"),
          floor(col("y") / 10.0).cast("int").as("cell_y"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("cents"))
      runGate(s, staged0)(toMemory(agg, "st_stream_cells_mem", "complete", ckpt))
      s.table("st_stream_cells_mem")
        .orderBy(col("cell_x"), col("cell_y"))
    },
      (PtsCte +
        """
          |SELECT CAST(floor(x / 10.0) AS INTEGER) AS cell_x,
          |       CAST(floor(y / 10.0) AS INTEGER) AS cell_y,
          |       count(*) AS n,
          |       CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS cents
          |FROM pts
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // second streaming CORRECTNESS row: exact-dedup group state built from 4
    // file-source microbatches (streamed hash-keyed aggregate, complete
    // mode, AvailableNow) must equal the batch dd_exact_groups oracle —
    // min(doc_id) and count are merge-order independent, so the microbatch
    // partial states converge to the batch answer by construction
    QuerySpec("st_stream_dedup", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-dedup")
      val staged0 = stageSlabs(T(s, dir, "documents").select(col("doc_id"), col("text")),
        Seq(col("doc_id")), 4, src)
      val stream = replay(s, src)
      val agg = stream
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      runGate(s, staged0)(toMemory(agg, "st_stream_dedup_mem", "complete", ckpt))
      s.table("st_stream_dedup_mem").orderBy(col("text_hash"))
    },
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // fourth streaming CORRECTNESS row — the STREAM-STREAM temporal join:
    // purchases joined to same-user clicks within a trailing 10-minute band,
    // both sides watermarked file streams (4 microbatches each, append mode,
    // AvailableNow). The watermark delay (40 days) exceeds the corpus span so
    // no state is ever evicted and the streamed pair set must equal the batch
    // band join the oracle computes; the production configuration tightens
    // the delay to bound state (that path is differential-tested in
    // StreamJoinSpec) — same plan, smaller retention
    QuerySpec("st_stream_join", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-join")
      val staged0 = stageSlabs(eventsTev(s, dir, "user_id", "event_id", "event_type"),
        Seq(col("tev"), col("event_id")), 4, src)
      def side(tpe: String, pre: String) = joinSide(s, src, tpe, pre, "40 days")
      val joined = side("purchase", "p").join(side("click", "c"),
        expr("c_user = p_user AND " +
          "c_tev BETWEEN p_tev - INTERVAL 10 MINUTES AND p_tev"))
      runGate(s, staged0)(toMemory(joined, "st_stream_join_mem", "append", ckpt))
      s.table("st_stream_join_mem")
        .select(col("p_id"), col("c_id"),
          (unix_micros(col("p_tev")) - unix_micros(col("c_tev"))).as("dt_us"))
        .orderBy(col("p_id"), col("c_id"))
    },
      // the streamed pair set must equal the batch trailing-band join
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type FROM events
        |)
        |SELECT p.event_id AS p_id, c.event_id AS c_id, p.tsn - c.tsn AS dt_us
        |FROM e p JOIN e c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.tsn BETWEEN p.tsn - 600000000 AND p.tsn
        |ORDER BY p_id, c_id""".stripMargin),

    // fifteenth streaming CORRECTNESS gate — stream-stream LEFT OUTER join
    // with watermark-driven null emission: every purchase keeps a row even
    // when no same-user click precedes it within the 10-minute band. Outer
    // results only materialize once the watermark PROVES no match can still
    // arrive, so this gate exercises the state-eviction semantics the inner
    // gate's 40-day no-eviction delay deliberately avoids. Two staging
    // obligations make it deterministic: (a) slabs are time-SORTED, so
    // eviction can never outrun a possible match (every future row ≥ the
    // running max ≥ watermark); (b) a final sentinel slab (one purchase +
    // one click at 2100-01-01, user −1, filtered from the output) pushes
    // BOTH sides' watermarks past every real row, flushing the pending
    // null-side state through the end-of-stream no-data batch.
    QuerySpec("st_stream_outer", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-outer")
      val base = eventsTev(s, dir, "user_id", "event_id", "event_type")
      val sentinels = s.range(0, 2).select(
        timestamp_micros(lit(4102444800000000L)).as("tev"), // 2100-01-01 UTC
        lit(-1L).as("user_id"), (col("id") - 2).as("event_id"),
        when(col("id") === 0, "purchase").otherwise("click").as("event_type"))
      val staged0 = stageSlabs(base.unionByName(sentinels),
        Seq(col("tev"), col("event_id")), 5, src)
      def side(tpe: String, pre: String) = joinSide(s, src, tpe, pre, "10 minutes")
      val joined = side("purchase", "p").join(side("click", "c"),
        expr("c_user = p_user AND " +
          "c_tev BETWEEN p_tev - INTERVAL 10 MINUTES AND p_tev"),
        "leftOuter")
      runGate(s, staged0)(toMemory(joined, "st_stream_outer_mem", "append", ckpt))
      s.table("st_stream_outer_mem")
        .filter(col("p_user") >= 0) // drop the sentinel pair
        .select(col("p_id"), col("c_id"),
          (unix_micros(col("p_tev")) - unix_micros(col("c_tev"))).as("dt_us"))
        .orderBy(col("p_id"), col("c_id"))
    },
      // the streamed LEFT OUTER set must equal the batch band left join —
      // matched pairs identical to st_stream_join, plus one null-click row
      // per unmatched purchase (the watermark-flushed outer state)
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type FROM events
        |), p AS (
        |  SELECT user_id, event_id, tsn FROM e WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id AS cu, event_id AS c_id, tsn AS ct
        |  FROM e WHERE event_type = 'click'
        |)
        |SELECT p.event_id AS p_id, c.c_id,
        |       CASE WHEN c.c_id IS NOT NULL THEN p.tsn - c.ct END AS dt_us
        |FROM p LEFT JOIN c ON c.cu = p.user_id
        |  AND c.ct BETWEEN p.tsn - 600000000 AND p.tsn
        |ORDER BY p_id, c_id NULLS FIRST""".stripMargin),

    // eleventh streaming CORRECTNESS gate — the PRODUCTION streaming-dedup
    // API dropDuplicatesWithinWatermark: per-user dedup with bounded,
    // watermark-evicted state. Semantics pinned EMPIRICALLY this round
    // (two probe harnesses + a 1000-row model fit with zero misses):
    // (a) a duplicate NEVER extends the stored expiry — expiry is the
    // emitted row's event time + delay; (b) eviction runs at the END of
    // batch b with that batch's watermark W_b = max(event time of batches
    // < b) − delay, so a key is alive DURING batch b iff expiry ≥ W_{b−1}
    // — one extra batch of watermark lag. The staging reduces to one row
    // per (key, slab) (min ets), which makes the per-key 4-step state
    // cascade — and therefore the full emitted set — deterministic; event
    // times are minute-quantized against an odd 7199999999 µs delay so no
    // comparison can land on a boundary.
    QuerySpec("st_stream_dedupw", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-ddw")
      val ev = T(s, dir, "events").select(col("user_id").as("k"),
        col("event_id"), col("ts"),
        timestamp_micros(
          (expr("ts div 1000") - expr("ts div 1000") % 60000000L)).as("ets"))
      // persist before the per-slab writes — same stageSlabs discipline
      // (slabify's count + two-pass rank would recompute once per slab)
      val slabs = slabify(ev, Seq(col("ts"), col("event_id")), 4)
        .groupBy(col("k"), col("slab")).agg(min(col("ets")).as("ets"))
        .select("k", "ets", "slab")
        .persist()
      val staged0 =
        try { writeSlabFiles(slabs, 1 to 4, src); slabs.count() }
        finally { slabs.unpersist(); () }
      runGate(s, staged0)(toMemory(
        replay(s, src)
          .withWatermark("ets", "7199999999 microseconds")
          .dropDuplicatesWithinWatermark("k"),
        "st_stream_dedupw_mem", "append", ckpt))
      s.table("st_stream_dedupw_mem")
        .select(col("k").as("user_id"), unix_micros(col("ets")).as("ets_us"))
        .orderBy(col("user_id"), col("ets_us"))
    },
      // dropDuplicatesWithinWatermark replay — the empirically-pinned state
      // machine: per key, expiry = emitted ets + delay (drops never extend),
      // alive during batch b iff expiry >= W_{b-1} (end-of-batch eviction ⇒
      // one batch of watermark lag; W_1 = -inf so batch-2 state always
      // holds). One staged row per (key, slab) makes the cascade exact;
      // ntile(4) over (raw ts, event_id) is bucket-identical to slabify.
      """WITH ev AS (
        |  SELECT user_id AS k, event_id, epoch_ns(ts) AS tns,
        |         epoch_us(ts) - epoch_us(ts) % 60000000 AS ets
        |  FROM events
        |), sl AS (
        |  SELECT k, ets, ntile(4) OVER (ORDER BY tns, event_id) AS slab FROM ev
        |), ks AS (
        |  SELECT k, slab, min(ets) AS ets FROM sl GROUP BY 1, 2
        |), piv AS (
        |  SELECT k,
        |         min(CASE WHEN slab = 1 THEN ets END) AS e1,
        |         min(CASE WHEN slab = 2 THEN ets END) AS e2,
        |         min(CASE WHEN slab = 3 THEN ets END) AS e3,
        |         min(CASE WHEN slab = 4 THEN ets END) AS e4
        |  FROM ks GROUP BY 1
        |), w AS (
        |  SELECT (SELECT max(ets) FROM ks WHERE slab <= 1) - 7199999999 AS w2,
        |         (SELECT max(ets) FROM ks WHERE slab <= 2) - 7199999999 AS w3
        |), c1 AS (
        |  SELECT piv.*, w.w2, w.w3,
        |         CASE WHEN e1 IS NOT NULL THEN e1 + 7199999999 END AS x1
        |  FROM piv CROSS JOIN w
        |), c2 AS (
        |  SELECT *, (e2 IS NOT NULL AND x1 IS NULL) AS m2,
        |         CASE WHEN e2 IS NOT NULL AND x1 IS NULL
        |              THEN e2 + 7199999999 ELSE x1 END AS x2
        |  FROM c1
        |), c3 AS (
        |  SELECT *, (e3 IS NOT NULL AND (x2 IS NULL OR x2 < w2)) AS m3,
        |         CASE WHEN e3 IS NOT NULL AND (x2 IS NULL OR x2 < w2)
        |              THEN e3 + 7199999999 ELSE x2 END AS x3
        |  FROM c2
        |), c4 AS (
        |  SELECT *, (e4 IS NOT NULL AND (x3 IS NULL OR x3 < w3)) AS m4 FROM c3
        |)
        |SELECT k AS user_id, e1 AS ets_us FROM c4 WHERE e1 IS NOT NULL
        |UNION ALL SELECT k, e2 FROM c4 WHERE m2
        |UNION ALL SELECT k, e3 FROM c4 WHERE m3
        |UNION ALL SELECT k, e4 FROM c4 WHERE m4
        |ORDER BY user_id, ets_us""".stripMargin),

    // third streaming CORRECTNESS row, this one through the EVENT-TIME
    // window operator: hourly tumbling-window counts per event type from 4
    // microbatches (complete mode, AvailableNow) must equal the batch
    // hourly rollup the oracle computes — window(start) is exposed as epoch
    // seconds so the integer hour arithmetic replays exactly
    // eighth streaming CORRECTNESS gate — streaming ANN retrieval: query
    // vectors arrive as micro-batches, retrieve against the STATIC IVF
    // index (stateless stream-static list_id join; only the windowed
    // top-k aggregate is state), and the emitted per-window shortlist must
    // equal the batch ivfKnnJoin replay (the shared IvfEvalCtes oracle).
    // All queries carry one fixed event time, a far-future sentinel closes
    // the window
    QuerySpec("st_stream_ann", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-ann")
      val emb = T(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"),
          to_timestamp(lit("2026-01-01 00:00:00")).as("ets"))
      val staged0 = stageSlabs(qs, Seq(col("vec_id")), 2, src)
      emb.limit(1).select(lit(-1L).as("vec_id"), col("embedding"),
          to_timestamp(lit("2026-01-03 00:00:00")).as("ets"))
        .repartition(1).write.mode("append").parquet(src)
      val stream = replay(s, src)
      runGate(s, staged0)(toMemory(
        graft.streaming.StreamAnn
          .annEnrichStream(stream, emb, "vec_id", "embedding", "ets",
            k = 5, nlist = 16, nprobe = 2),
        "st_stream_ann_mem", "append", ckpt))
      s.table("st_stream_ann_mem")
        .filter(col("qid") >= 0)
        .select(col("qid"), col("rank"), col("nid"), col("cosine"))
        .orderBy("qid", "rank")
    },
      (IvfEvalCtes + """
          |SELECT a.qid, CAST(a.rank AS BIGINT) AS rank, a.nid, c.cosine
          |FROM approx a JOIN cand c ON c.qid = a.qid AND c.nid = a.nid
          |ORDER BY a.qid, a.rank""".stripMargin)),

    // seventh streaming CORRECTNESS gate — the first through
    // flatMapGroupsWithState (custom state): greedy simhash near-dup
    // admission per pigeonhole band. Documents stage as id-ordered slabs
    // (one micro-batch each) and groups process id-sorted within a batch,
    // so streamed admission equals a single global greedy pass in id order
    // — which the oracle replays with a recursive CTE carrying each band's
    // admitted-signature LIST. Output: per-doc admission count across its
    // 4 bands (4 ⇒ global survivor)
    QuerySpec("st_stream_simdedup", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-simdedup")
      // every-5th-doc subset: the gate checks stateful admission SEMANTICS,
      // and the oracle's sequential greedy walk (a recursive CTE carrying
      // each band's admitted list) is O(band depth²) — the subset keeps the
      // sf0.1 replay inside the crosscheck budget
      val docs = T(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      val staged0 = stageSlabs(docs, Seq(col("doc_id")), 4, src)
      val stream = replay(s, src)
      val banded = graft.streaming.StreamDedup
        .bandedDocs(stream, "doc_id", "text", maxHamming = 3)
      // idleTimeoutMs = 0 ⇒ NoTimeout: a registered processing-time
      // timeout would keep this AvailableNow replay spinning empty
      // timeout batches forever (see StreamDedup.simhashDedupStream)
      runGate(s, staged0)(toMemory(
        graft.streaming.StreamDedup
          .simhashDedupStream(banded, maxHamming = 3, idleTimeoutMs = 0)
          .toDF(),
        "st_stream_simdedup_mem", "append", ckpt))
      s.table("st_stream_simdedup_mem")
        .groupBy(col("id")).agg(count(lit(1)).as("n_adm"))
        .orderBy("id")
    },
      {
        val toks = """list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"""
        val adm = "len(list_filter(w.sigs, __s -> bit_count(xor(__s, d.sh)) <= 3)) = 0"
        s"""WITH RECURSIVE hs AS (
           |  SELECT doc_id, list_transform($toks, t -> ${Dedup.fnv64DuckSql("t")}) AS hl
           |  FROM documents WHERE doc_id % 5 = 0
           |), sg AS (
           |  SELECT doc_id, ${Dedup.simhash64FromHashesDuckSql("hl")} AS sh FROM hs
           |), banded AS (
           |  SELECT CAST(t.k AS BIGINT) * 72057594037927936
           |           + CAST((sg.sh // t.d) % 65536 AS BIGINT) AS band,
           |         sg.doc_id AS id, sg.sh
           |  FROM sg CROSS JOIN (VALUES
           |    (0, CAST(1 AS UBIGINT)), (1, CAST(65536 AS UBIGINT)),
           |    (2, CAST(4294967296 AS UBIGINT)),
           |    (3, CAST(281474976710656 AS UBIGINT))) t(k, d)
           |), docs AS (
           |  SELECT band, id, sh,
           |         row_number() OVER (PARTITION BY band ORDER BY id) AS i
           |  FROM banded
           |), walk(band, i, sigs, adm) AS (
           |  SELECT band, 0, CAST([] AS UBIGINT[]), CAST([] AS BIGINT[])
           |  FROM (SELECT DISTINCT band FROM docs)
           |  UNION ALL
           |  SELECT d.band, w.i + 1,
           |         CASE WHEN $adm THEN list_append(w.sigs, d.sh) ELSE w.sigs END,
           |         CASE WHEN $adm THEN list_append(w.adm, d.id) ELSE w.adm END
           |  FROM walk w JOIN docs d ON d.band = w.band AND d.i = w.i + 1
           |), fin AS (
           |  SELECT w.band, w.adm FROM walk w
           |  JOIN (SELECT band, max(i) AS mi FROM walk GROUP BY 1) m
           |    ON m.band = w.band AND w.i = m.mi
           |), admitted AS (
           |  SELECT band, unnest(adm) AS id FROM fin
           |)
           |SELECT id, count(*) AS n_adm FROM admitted GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // sixth streaming CORRECTNESS gate — and the first through the native
    // session_window state store (append mode: each session emits exactly
    // once, CLOSED, when the watermark passes its end). Events stage as
    // four time-ordered slabs (one micro-batch each, so nothing arrives
    // behind the watermark) plus a far-future sentinel file whose sole job
    // is to advance the final watermark past every real session; values are
    // integer cents in a double so the state-store sums stay exact
    QuerySpec("st_stream_sessions", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-sess")
      val ev = T(s, dir, "events").select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("ets"),
        round(col("value") * 100).cast("double").as("value"))
      val staged0 = stageSlabs(ev, Seq(col("ets")), 4, src)
      val sentinel = ev.agg(max("ets").as("m"))
        .select(lit(-1L).as("user_id"),
          (col("m") + expr("INTERVAL 2 DAYS")).as("ets"), lit(0.0).as("value"))
      sentinel.repartition(1).write.mode("append").parquet(src)
      val stream = replay(s, src)
      runGate(s, staged0)(toMemory(
        graft.streaming.StreamSessions
          .sessionStream(stream, "user_id", "ets"),
        "st_stream_sessions_mem", "append", ckpt))
      s.table("st_stream_sessions_mem")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), unix_micros(col("t_start")).as("t_start_us"),
          unix_micros(col("t_end")).as("t_end_us"), col("n_events"),
          col("sum_value").cast("long").as("cents"))
        .orderBy(col("user_id"), col("t_start_us"))
    },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), s AS (
        |  SELECT user_id, t, cents,
        |         CASE WHEN t - lag(t) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
        |), g AS (
        |  SELECT user_id, t, cents,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM s
        |)
        |SELECT user_id, min(t) AS t_start_us,
        |       max(t) + 1800000000 AS t_end_us,
        |       count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS cents
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, t_start_us""".stripMargin),

    QuerySpec("st_stream_hourly", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-hourly")
      val staged0 = stageSlabs(eventsTev(s, dir, "event_type"),
        Seq(col("tev"), col("event_type")), 4, src)
      val stream = replay(s, src)
      val agg = hourlyCounts(stream, col("tev"), "event_type")
      runGate(s, staged0)(toMemory(agg, "st_stream_hourly_mem", "complete", ckpt))
      s.table("st_stream_hourly_mem").orderBy(col("event_type"), col("hour_start"))
    },
      HourlyCountsOracle),

    // twelfth streaming gate — STREAM-STATIC enrichment join, the one
    // micro-batch execution path no other gate covers: every batch of the
    // event stream hash-joins a parquet-backed dimension (customer →
    // market segment keyed by user id; at cluster scale the static side is
    // broadcast once, not shuffled per batch), then rolls into hourly
    // per-segment counts. Inner join ∧ complete mode ⇒ the batch oracle is
    // the verbatim join + rollup — no watermark bookkeeping to replay.
    QuerySpec("st_stream_enrich", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-enrich")
      val staged0 = stageSlabs(eventsTev(s, dir, "user_id"),
        Seq(col("tev"), col("user_id")), 4, src)
      val dim = T(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val stream = replay(s, src)
      val agg = hourlyCounts(stream.join(broadcast(dim), Seq("user_id")),
        col("tev"), "c_mktsegment")
      runGate(s, staged0)(toMemory(agg, "st_stream_enrich_mem", "complete", ckpt))
      s.table("st_stream_enrich_mem")
        .orderBy(col("c_mktsegment"), col("hour_start"))
    },
      // stream-static enrichment ≡ the batch join + rollup (inner join,
      // complete mode — no watermark semantics to replay)
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_start,
        |       c_mktsegment, count(*) AS n
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, hour_start""".stripMargin),

    // thirteenth streaming gate — UPDATE-mode aggregation through a
    // foreachBatch UPSERT into the versioned layer store: the
    // exactly-once-sink pattern every production pipeline needs (memory/
    // complete gates re-emit the world; real sinks take per-batch deltas).
    // Each micro-batch emits only the (hour, type) rows whose cumulative
    // count changed; the sink merges them into ONLY the dirty hour
    // partitions and commits a partition-scoped delta version through the
    // manifest protocol (mvUpsert) — crash-safe versions, bytes per batch
    // ∝ delta, replay-idempotent because update rows carry cumulative
    // counts. The final snapshot must equal the batch rollup verbatim.
    QuerySpec("st_stream_mv", (s, dir) => {
      import graft.plans.VersionedLayer
      val (src, ckpt, store) = gateDirs("graft-stream-mv")
      val staged0 = stageSlabs(eventsTev(s, dir, "event_type"),
        Seq(col("tev"), col("event_type")), 4, src)
      val stream = replay(s, src)
      val agg = hourlyCounts(stream, col("tev"), "event_type")
      runGate(s, staged0)(toStore(agg, ckpt, store))
      VersionedLayer.read(s, store, None)
        .select(col("hour_start"), col("event_type"), col("n"))
        .orderBy(col("event_type"), col("hour_start"))
    },
      // the foreachBatch-upsert snapshot ≡ the batch rollup (update-mode
      // deltas carry cumulative counts, so the final merge is the world)
      HourlyCountsOracle),

    // fourteenth streaming gate — CRASH RECOVERY / exactly-once across a
    // restart: the hourly stateful rollup runs
    // over the first 3 of 6 time-ordered slabs, then the newest commit
    // marker is DELETED from the checkpoint (simulating the crash window
    // between a micro-batch's state/offset write and its commit), the
    // remaining slabs are staged, and the query RESTARTS from the same
    // checkpoint: Structured Streaming re-executes the uncommitted batch
    // from its logged offsets against the rolled-back state-store version,
    // then drains the new slabs. The foreachBatch upsert is key-idempotent
    // so the replayed delta overwrites itself, and the final snapshot must
    // equal the batch rollup of ALL events. The restart boundary is
    // asserted to fall MID-WINDOW (the hour containing the phase-2 head
    // also holds phase-1 rows), so the post-restart value of that window
    // can only come from checkpointed state — not a recount.
    QuerySpec("st_stream_recover", (s, dir) => {
      import graft.plans.VersionedLayer
      val (src, ckpt, store) = gateDirs("graft-stream-rec")
      val ev = T(s, dir, "events")
        .select(expr("ts div 1000").as("tus"), col("event_type"), col("event_id"))
      val slabs = slabify(ev, Seq(col("tus"), col("event_id")), 6)
        .select(col("tus"), col("event_type"), col("slab")).persist()
      val evRows = slabs.count()
      // restart cut chosen ADAPTIVELY: first k whose k|k+1 slab boundary
      // falls mid-hour (slab k+1's first hour also holds slab ≤ k rows) —
      // a fixed 3|4 cut lands exactly on an hour edge at some corpus
      // sizes (observed at sf0.001) and would not exercise cross-restart
      // state; the final snapshot equals the batch rollup for ANY cut
      val cut = (3 to 5).find { k =>
        // nullable read: on very small corpora a 6-way ntile can leave
        // slab k+1 empty — min() is then NULL and the candidate simply
        // fails (letting the require below fire with its diagnostic)
        // rather than NPE-ing in getLong
        val cutHour = slabs.filter(col("slab") === k + 1)
          .agg(min(expr("tus div 3600000000"))).head()
          .getAs[java.lang.Long](0)
        cutHour != null && slabs.filter(col("slab") <= k &&
          expr("tus div 3600000000") === cutHour.longValue()).limit(1)
          .count() > 0
      }
      require(cut.isDefined, "st_stream_recover: every candidate restart " +
        "boundary fell on an hour edge — the gate would not exercise " +
        "cross-restart state")
      def stage(range: Range): Unit =
        writeSlabFiles(slabs.select("tus", "event_type", "slab"), range, src)
      def run(): Unit = {
        val stream = replay(s, src)
        val agg = hourlyCounts(stream, timestamp_micros(col("tus")), "event_type")
        // both phases resize identically (state width is pinned in the
        // checkpoint at first start; recover must restart at the same one)
        var q0: org.apache.spark.sql.streaming.StreamingQuery = null
        runGate(s, evRows) {
          q0 = toStore(agg, ckpt, store)
          q0
        }
        // deregister fully before the restart run re-opens the checkpoint
        q0.stop(); q0.awaitTermination()
      }
      stage(1 to cut.get)
      run()
      // crash simulation: drop the NEWEST commit marker — the batch's
      // offsets and state survive, its commit does not, so the restart
      // MUST replay it (the recovery path a clean stop never exercises)
      val commits = new java.io.File(s"$ckpt/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      require(commits.nonEmpty, "st_stream_recover: no commits after phase 1")
      require(commits.last.delete(),
        "st_stream_recover: could not remove the newest commit marker")
      // the local checksum FS keeps a hidden .N.crc sidecar per marker —
      // leave it behind and the replayed batch's commit RENAME collides
      // (FileAlreadyExistsException surfaced as "Multiple streaming
      // queries are concurrently using")
      val crc = new java.io.File(s"$ckpt/commits/.${commits.last.getName}.crc")
      if (crc.exists()) require(crc.delete(),
        "st_stream_recover: could not remove the commit crc sidecar")
      stage(cut.get + 1 to 6)
      run()
      slabs.unpersist()
      VersionedLayer.read(s, store, None)
        .select(col("hour_start"), col("event_type"), col("n"))
        .orderBy(col("event_type"), col("hour_start"))
    },
      // exactly-once across a crash-restart: replaying the uncommitted batch
      // against the rolled-back state version must converge to the same
      // batch rollup a clean run produces — the store snapshot IS the world
      HourlyCountsOracle),

    // tenth streaming gate — LATE / OUT-OF-ORDER arrivals under a REAL
    // watermark (every other gate replays
    // time-ordered slabs). The corpus is cut into 6 time blocks staged as
    // ordered micro-batches, then deliberately disordered: rows in the
    // last 10 minutes of their block slip ONE slab later (out-of-order but
    // provably inside the 2-hour watermark tolerance — accepted), and rows
    // in the first 10 minutes of a block whose hour-window closed more
    // than 2h+1min before the global max are planted in the FINAL slab
    // (provably beyond the watermark — dropped). Append-mode hourly counts
    // must equal the batch rollup MINUS exactly the planted-late rows —
    // the watermark contract, replayed row-for-row by the oracle. A
    // far-future sentinel in the final slab flushes the last windows.
    QuerySpec("st_stream_late", (s, dir) => {
      val (src, ckpt, _) = gateDirs("graft-stream-late")
      val ev = T(s, dir, "events")
        .select(expr("ts div 1000").as("tus"), col("event_type"))
      val mm = ev.agg(min("tus"), max("tus")).head()
      val gmin = mm.getLong(0); val gmax = mm.getLong(1)
      val blen = math.max((gmax - gmin) / 6L, 1L)
      val tenMin = 600000000L; val twoH = 7200000000L; val oneMin = 60000000L
      val classified = ev
        .withColumn("blk", least(expr(s"(tus - ${gmin}L) div ${blen}L"), lit(5L)))
        .withColumn("hour_end", expr("((tus div 3600000000) + 1) * 3600000000"))
        .withColumn("late_planted",
          col("tus") - (lit(gmin) + col("blk") * blen) < tenMin &&
            col("hour_end") < gmax - twoH - oneMin)
        .withColumn("late_ok", !col("late_planted") &&
          when(col("blk") === 5, lit(gmax)).otherwise(
            lit(gmin) + (col("blk") + 1) * blen) - col("tus") < tenMin)
        .withColumn("slab", when(col("late_planted"), lit(7L))
          .otherwise(col("blk") + when(col("late_ok"), lit(1L)).otherwise(lit(0L))))
        .persist()
      writeSlabFiles(classified.select("tus", "event_type", "slab"), 0 to 6, src)
      classified.filter(col("slab") === 7).select("tus", "event_type")
        .unionByName(s.range(1).select(lit(gmax + 36000000000L).as("tus"),
          lit("__sentinel").as("event_type")))
        .repartition(1).write.mode("append").parquet(src)
      val staged0 = classified.count()
      classified.unpersist()
      val stream = replay(s, src)
        .select(timestamp_micros(col("tus")).as("tev"), col("event_type"))
        .withWatermark("tev", "2 hours")
      val agg = hourlyCounts(stream, col("tev"), "event_type")
      runGate(s, staged0, budgetMs = 240000)(toMemory(agg, "st_stream_late_mem", "append", ckpt))
      s.table("st_stream_late_mem")
        .filter(col("event_type") =!= "__sentinel")
        .orderBy(col("event_type"), col("hour_start"))
    },
      // the watermark contract replayed row-for-row: hourly counts over
      // everything EXCEPT the planted-late set (first-10-min-of-block rows
      // whose hour window closed > 2h+1min before the global max) — pure
      // integer µs arithmetic on both engines
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000 AS tus, event_type FROM events
        |), g AS (
        |  SELECT min(tus) AS gmin, max(tus) AS gmax,
        |         greatest((max(tus) - min(tus)) // 6, 1) AS blen
        |  FROM e
        |), cls AS (
        |  SELECT e.tus, e.event_type,
        |         (e.tus - (g.gmin + least((e.tus - g.gmin) // g.blen, 5) * g.blen)
        |            < 600000000
        |          AND ((e.tus // 3600000000) + 1) * 3600000000
        |            < g.gmax - 7200000000 - 60000000) AS late_planted
        |  FROM e, g
        |)
        |SELECT (tus // 3600000000) * 3600 AS hour_start, event_type,
        |       count(*) AS n
        |FROM cls WHERE NOT late_planted
        |GROUP BY 1, 2 ORDER BY event_type, hour_start""".stripMargin)
  )
}
