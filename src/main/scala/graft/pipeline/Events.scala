package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream batch analytics for a large-scale log/telemetry corpus:
  * gap sessionization, as-of joins, and a deterministic HyperLogLog distinct
  * sketch. All three are the batch siblings of the streaming operators in
  * [[graft.streaming]] and scale the same way: one shuffle on the entity
  * key, then per-partition window/aggregate work.
  */
object Events {

  /** Normalize `events.ts` to LONG NANOS — the contract every event operator
    * downstream assumes. Driver generations have shipped the column both as
    * parquet TIMESTAMP(NANOS) (readable only as long via the legacy
    * `nanosAsLong` conf, already long here) and as TIMESTAMP(MICROS)
    * (arriving as TIMESTAMP_NTZ). The NTZ micros are extracted with
    * `timestampdiff` against the epoch — pure integer arithmetic on the
    * stored micros, no session-timezone math — so Spark's ns and the DuckDB
    * oracle's `epoch_ns(ts)` see the identical naive instant.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case _ => // TIMESTAMP (tz-adjusted read path): micros since epoch UTC
        df.withColumn("ts", expr("unix_micros(ts) * 1000"))
    }

  /** Gap-based sessionization: events more than `gapNs` apart (per user)
    * start a new session. The classic two-window plan — `lag` marks breaks,
    * a running sum numbers sessions — then one aggregate per session.
    *
    * Scale shape: ONE shuffle on `user_id`; both windows and the final
    * `groupBy(user_id, sess_seq)` reuse that partitioning (no second
    * exchange — the aggregate keys are a superset of the window partition
    * key), so a 100 TB event log sessionizes in a single pass per key.
    * Ordering is (tsn, event_id) so simultaneous events are deterministic.
    */
  def sessionize(events: DataFrame, gapNs: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsn"), col("event_id"))
    val brk = when(lag(col("tsn"), 1).over(w).isNull
        || col("tsn") - lag(col("tsn"), 1).over(w) > gapNs, 1L).otherwise(0L)
    events
      .withColumn("brk", brk)
      .withColumn("sess_seq",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tsn")).as("t_start"), max(col("tsn")).as("t_end"),
        min(col("event_id")).as("first_ev"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** As-of join without a join: attach to every `leftType` event the most
    * recent strictly-prior `rightType` event of the same user. Both sides
    * ride ONE window over the union — `last(..., ignoreNulls)` over
    * `(-∞, -1)` in (tsn, event_id) order is exactly "latest prior" — so the
    * plan is a single shuffle on `user_id` and no join at all. (The usual
    * formulation — range join + per-row argmax — shuffles both sides AND
    * sorts per pair; this piggyback shape is the one that survives 100 TB.)
    */
  def asofJoin(events: DataFrame, leftType: String, rightType: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsn"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rightRow = when(col("event_type") === rightType,
      struct(col("event_id").as("r_ev"), col("value").as("r_val")))
    events
      .filter(col("event_type").isin(leftType, rightType))
      .withColumn("prior", last(rightRow, ignoreNulls = true).over(w))
      .filter(col("event_type") === leftType)
      .select(col("event_id"), col("user_id"), col("tsn"),
        col("prior.r_ev").as("r_ev"),
        round(col("prior.r_val"), 4).as("r_val"))
  }

  /** Banded interval join: every (left, right) pair with
    * |rightTs − leftTs| ≤ deltaUs — a NON-equi temporal join (cross-user
    * co-occurrence), which stock Spark can only plan as a cartesian
    * product. This is the 1-D instance of the spatial grid join: the left
    * side explodes its ±delta interval to covering time cells, the right
    * side keeps its SINGLE cell, the join becomes an equi-join on the
    * cell, and the exact |Δt| filter decides membership. Because the right
    * side is a point (one cell), every qualifying pair meets in exactly
    * one cell — no reference-point dedup pass needed. With cellUs = deltaUs
    * the left fan-out is ≤ 3 cells, so shuffle volume is ~3·|left| +
    * |right| keyed on the cell — dense time ranges scale by widening
    * cellUs exactly like the spatial cell-size knob.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, leftTs: String,
      rightTs: String, deltaUs: Long, cellUsOpt: Option[Long] = None): DataFrame = {
    val cellUs = cellUsOpt.getOrElse(deltaUs)
    val lc = left.withColumn("__t_cell", explode(sequence(
      floor((col(leftTs) - deltaUs) / cellUs).cast("long"),
      floor((col(leftTs) + deltaUs) / cellUs).cast("long"))))
    val rc = right.withColumn("__t_cell", floor(col(rightTs) / cellUs).cast("long"))
    lc.join(rc, Seq("__t_cell"))
      .filter(abs(col(rightTs) - col(leftTs)) <= deltaUs)
      .drop("__t_cell")
  }

  /** Ordered funnel: how many users progress through `stages` in order,
    * each step strictly after the previous one and within `horizonUs` of
    * the FIRST stage's first occurrence. Returns one row per stage with the
    * user count and conversion rate vs stage 1.
    *
    * Plan shape: ONE shuffle on `user_id`, then a chain of running-min
    * window projections (one per stage) inside that partitioning — stage
    * i's qualifying timestamp at each row references stage i−1's running
    * min, which is already final for every row ordered after the true
    * step-(i−1) event (events are scanned in (tsn, event_id) order, so the
    * earliest qualifying predecessor is always in the frame). The per-user
    * aggregate and the final stage rollup reuse the same partitioning; the
    * stage rollup is a constant-width single row per user, so the second
    * exchange carries |users| rows, not |events|.
    */
  def funnel(events: DataFrame, stages: Seq[String], horizonUs: Long): DataFrame = {
    require(stages.size >= 2, "funnel needs at least 2 stages")
    val w = Window.partitionBy("user_id").orderBy(col("tsn"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var df = events.select(col("user_id"), col("event_id"), col("tsn"), col("event_type"))
    stages.zipWithIndex.foreach { case (st, i) =>
      val cand =
        if (i == 0) when(col("event_type") === st, col("tsn"))
        else when(col("event_type") === st && col(s"t${i - 1}").isNotNull
          && col("tsn") > col(s"t${i - 1}")
          && col("tsn") <= col("t0") + horizonUs, col("tsn"))
      df = df.withColumn(s"t$i", min(cand).over(w))
    }
    // min of a running min is the final running min — one aggregate row per
    // user, then a tiny rollup
    val perUser = df.groupBy("user_id")
      .agg(min(col("t0")).as("t0"),
        stages.indices.tail.map(i => min(col(s"t$i")).as(s"t$i")): _*)
    val counts = perUser.agg(
      sum(when(col("t0").isNotNull, 1L).otherwise(0L)).as("n0"),
      stages.indices.tail.map(i =>
        sum(when(col(s"t$i").isNotNull, 1L).otherwise(0L)).as(s"n$i")): _*)
    counts.select(explode(array(stages.zipWithIndex.map { case (st, i) =>
        struct(lit(i + 1).as("stage"), lit(st).as("event_type"),
          col(s"n$i").as("n_users"),
          round(col(s"n$i").cast("double") / col("n0"), 6).as("conv"))
      }: _*)).as("r"))
      .select(col("r.stage"), col("r.event_type"), col("r.n_users"), col("r.conv"))
  }

  /** Cohort retention: cohort = a user's first active day; one output row
    * per (cohort_day, day_offset) with the distinct users from that cohort
    * active `day_offset` days later. `dayUs` is the bucket width (a day in
    * µs by default).
    *
    * Plan shape: the (user, day) dedup and the per-user cohort min share
    * one shuffle on `user_id` (the join is co-partitioned); the final
    * count-distinct groups on (cohort_day, day_offset) whose input is
    * already one row per (user, day) — at 100 TB that second exchange
    * carries ~|users|·|active days| rows, the log volume never re-shuffles.
    */
  def retention(events: DataFrame, dayUs: Long = 86400000000L): DataFrame = {
    // integer `div` keeps day buckets exact at epoch-µs magnitudes
    val days = events
      .select(col("user_id"), expr(s"tsn div ${dayUs}L").as("day"))
      .distinct()
    val cohort = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  // ------------------------------------------------------------------ HLL

  /** Register count (2^P) for [[hllEstimate]]. */
  val HllP = 8
  val HllM = 1 << HllP
  /** alpha_m * m * m for m = 256 (Flajolet et al. 2007), as the exact double
    * literal both engines multiply with.
    */
  val HllAlphaM2: Double = 0.7213 / (1.0 + 1.079 / HllM) * HllM * HllM

  /** Per-group HyperLogLog distinct estimate over a 64-bit hash column —
    * fully deterministic (and therefore oracle-replayable): register = low
    * P bits, rank = trailing-zero count of the remaining 56 bits + 1 (the
    * least-significant-run variant of Flajolet-Martin; `bit_count((r & -r)
    * - 1)` keeps it pure integer arithmetic — no log2, no UDF, identical
    * bit-for-bit in any engine).
    *
    * The sketch is the 100 TB story: per (group, register) `max(rank)` is a
    * map-side-combinable aggregate — 256 longs per group cross the wire
    * regardless of input size, the same reason HLL is the industry sketch
    * for distinct counts at scale. The harmonic sum is computed in
    * DECIMAL(38,0) as Σ 2^(57-M) (every term exact, max 256·2^57 < 10^20),
    * so the only floating-point steps are one division and the small-range
    * linear-counting correction, both rounded to 4 decimals.
    *
    * `df` must have columns `g` (group) and `h` (long hash). Returns
    * (g, v_zero, est) where est is the bias-corrected estimate.
    */
  /** Register index of a long-hash column named `h` (low P bits). */
  def hllRegCol: Column = col("h").bitwiseAND(lit((HllM - 1).toLong))

  /** Rank of a long-hash column named `h` (trailing-zero count of the
    * remaining 56 bits, + 1; 57 for an all-zero remainder).
    */
  def hllRankCol: Column = {
    val rest = shiftrightunsigned(col("h"), HllP).bitwiseAND(lit((1L << 56) - 1))
    when(rest === 0L, lit(57L))
      .otherwise(expr(s"bit_count((($restSql) & -($restSql)) - 1)") + 1L)
  }

  def hllEstimate(df: DataFrame): DataFrame = {
    // max-rank per materialized register; empty registers (M=0) come back
    // via the dense 0..m-1 frame so V (zero count) and the 2^57 terms exist
    val maxr = df.select(col("g"), hllRegCol.as("reg"), hllRankCol.as("rank"))
      .groupBy("g", "reg").agg(max(col("rank")).as("m"))
    hllFinalize(maxr, df.select(col("g")).distinct())
  }

  /** Finalize (g, reg, m) register maxima into per-group estimates — the
    * second half of [[hllEstimate]], shared with the streaming sketch
    * ([[graft.streaming.StreamSketch]]) whose state-store emits exactly
    * these register rows at window close.
    */
  def hllFinalize(maxr: DataFrame, groups: DataFrame): DataFrame = {
    val frame = groups.crossJoin(spark_range(HllM))
    val dense = frame.join(maxr, Seq("g", "reg"), "left")
      .select(col("g"), coalesce(col("m"), lit(0L)).as("m"))
    dense.groupBy("g")
      .agg(sum(when(col("m") === 0L, 1L).otherwise(0L)).as("v_zero"),
        sum(expr("cast(shiftleft(cast(1 as bigint), cast(57 - m as int)) as decimal(38,0))")).as("s"))
      .select(col("g"), col("v_zero"),
        round(
          when(col("v_zero") > 0 && rawEst(col("s")) <= lit(2.5 * HllM),
            lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("v_zero").cast("double")))
            .otherwise(rawEst(col("s"))), 4).as("est"))
  }

  /** alpha·m²·2^57 / S — S's terms are exact powers of two so the cast and
    * single division are the only rounding steps.
    */
  private def rawEst(s: Column): Column =
    lit(HllAlphaM2 * math.pow(2.0, 57)) / s.cast("double")

  // ================================= KMV (bottom-k / Theta) sketches

  private[graft] val KmvM = 1000000007L

  private[graft] def kmvHash(userCol: Column): Column =
    pmod(graft.pipeline.TextAnalysis.polyHash(
        concat(lit("kmv:"), userCol.cast("string"))) * lit(2654435761L),
      lit(KmvM))

  /** KMV / bottom-k distinct sketch per event_type (Bar-Yossef et al.,
    * RANDOM'02; the Theta-sketch family): keep the k smallest distinct
    * user hashes, estimate D̂ = (k−1)/r_k with r_k the k-th minimum
    * normalized to (0,1). Complements HLL ([[hllEstimate]]) with the
    * sketch that supports SET ALGEBRA ([[kmvSetOps]]) — HLL unions but
    * cannot intersect.
    *
    * Scale shape: distinct (g,h) then a rank-cut window — Spark's
    * WindowGroupLimit pushes `row_number ≤ k` into per-partition top-k
    * heaps map-side, so state is k rows per (partition, group), never the
    * distinct stream. Groups with fewer than k hashes ARE their exact
    * distinct set (the standard small-set branch). Deterministic: the
    * hash is the scrambled polyHash (the tx_mix/sampling discipline), so
    * the sketch replays bit-for-bit in the oracle.
    */
  def kmvDistinct(events: DataFrame, k: Int = 256): DataFrame = {
    val dh = events.select(col("event_type").as("g"),
      kmvHash(col("user_id")).as("h")).distinct()
    val w = Window.partitionBy("g").orderBy("h")
    dh.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .groupBy("g")
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"))
      .select(col("g").as("event_type"), col("n_kept"),
        round(when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (col("hk").cast("double") / lit(KmvM.toDouble))), 3)
          .as("est_distinct"))
      .orderBy(col("event_type"))
  }

  /** DuckDB replay of [[kmvDistinct]]. */
  def kmvDistinctDuckSql(k: Int = 256): String =
    s"""WITH dh AS (
       |  SELECT DISTINCT event_type AS g,
       |         ((${graft.pipeline.TextAnalysis.polyHashDuckSql(
              "('kmv:' || CAST(user_id AS VARCHAR))")} * 2654435761)
       |           % $KmvM) AS h
       |  FROM events
       |), r AS (
       |  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
       |  FROM dh
       |), t AS (
       |  SELECT g, count(*) AS n_kept, max(h) AS hk
       |  FROM r WHERE rk <= $k GROUP BY g
       |)
       |SELECT g AS event_type, CAST(n_kept AS BIGINT) AS n_kept,
       |       round(CASE WHEN n_kept < $k THEN CAST(n_kept AS DOUBLE)
       |             ELSE ${(k - 1).toDouble} /
       |                  (CAST(hk AS DOUBLE) / $KmvM.0) END, 3)
       |         AS est_distinct
       |FROM t ORDER BY event_type""".stripMargin

  /** KMV set algebra between two event types: union estimate from the
    * bottom-k of the MERGED sketches, intersection via the standard ρ
    * estimator — ρ = |K(U) ∩ K(A) ∩ K(B)| / |K(U)|, |A∩B| ≈ ρ·|A∪B|̂ —
    * and the Jaccard it implies. The merge input is the two k-row
    * sketches (2k constant rows), NOT the distinct streams, so the global
    * rank over it is bounded by construction at any corpus size.
    */
  def kmvSetOps(events: DataFrame, typeA: String, typeB: String,
      k: Int = 256): DataFrame = {
    val dh = events.filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type").as("g"), kmvHash(col("user_id")).as("h"))
      .distinct()
    val w = Window.partitionBy("g").orderBy("h")
    val sk = dh.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("g"), col("h"))
    val merged = BoundedWindow(sk.select("h").distinct(), 2L * k,
      "KMV union of two k-minimum sketches")
    val wu = Window.orderBy("h")
    val ku = merged.withColumn("rk", row_number().over(wu)).filter(col("rk") <= k)
    val flags = ku.select(col("h"))
      .join(sk.filter(col("g") === typeA).select(col("h"), lit(1).as("ina")),
        Seq("h"), "left")
      .join(sk.filter(col("g") === typeB).select(col("h"), lit(1).as("inb")),
        Seq("h"), "left")
    flags.agg(count(lit(1)).as("nu"), max(col("h")).as("hk"),
        sum(when(col("ina").isNotNull && col("inb").isNotNull, 1L)
          .otherwise(0L)).as("nboth"))
      .select(col("nu").as("n_union_kept"), col("nboth").as("n_both"),
        round(when(col("nu") < k, col("nu").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (col("hk").cast("double") / lit(KmvM.toDouble))), 3)
          .as("union_est"),
        round(col("nboth").cast("double") / col("nu").cast("double"), 6)
          .as("jaccard_est"))
      .select(col("n_union_kept"), col("n_both"), col("union_est"),
        col("jaccard_est"),
        round(col("jaccard_est") * col("union_est"), 3).as("inter_est"))
  }

  /** DuckDB replay of [[kmvSetOps]]. */
  def kmvSetOpsDuckSql(typeA: String, typeB: String, k: Int = 256): String =
    s"""WITH dh AS (
       |  SELECT DISTINCT event_type AS g,
       |         ((${graft.pipeline.TextAnalysis.polyHashDuckSql(
              "('kmv:' || CAST(user_id AS VARCHAR))")} * 2654435761)
       |           % $KmvM) AS h
       |  FROM events WHERE event_type IN ('$typeA', '$typeB')
       |), sk AS (
       |  SELECT g, h FROM (
       |    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
       |    FROM dh) WHERE rk <= $k
       |), ku AS (
       |  SELECT h FROM (
       |    SELECT h, row_number() OVER (ORDER BY h) AS rk
       |    FROM (SELECT DISTINCT h FROM sk)) WHERE rk <= $k
       |), f AS (
       |  SELECT ku.h,
       |         CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END
       |           AS nboth
       |  FROM ku
       |  LEFT JOIN (SELECT h FROM sk WHERE g = '$typeA') a ON a.h = ku.h
       |  LEFT JOIN (SELECT h FROM sk WHERE g = '$typeB') b ON b.h = ku.h
       |), t AS (
       |  SELECT count(*) AS nu, max(h) AS hk, sum(nboth) AS nboth FROM f
       |)
       |SELECT CAST(nu AS BIGINT) AS n_union_kept,
       |       CAST(nboth AS BIGINT) AS n_both,
       |       round(CASE WHEN nu < $k THEN CAST(nu AS DOUBLE)
       |             ELSE ${(k - 1).toDouble} /
       |                  (CAST(hk AS DOUBLE) / $KmvM.0) END, 3) AS union_est,
       |       round(CAST(nboth AS DOUBLE) / CAST(nu AS DOUBLE), 6)
       |         AS jaccard_est,
       |       round(round(CAST(nboth AS DOUBLE) / CAST(nu AS DOUBLE), 6)
       |         * round(CASE WHEN nu < $k THEN CAST(nu AS DOUBLE)
       |             ELSE ${(k - 1).toDouble} /
       |                  (CAST(hk AS DOUBLE) / $KmvM.0) END, 3), 3)
       |         AS inter_est
       |FROM t""".stripMargin

  private val restSql = s"shiftrightunsigned(h, $HllP) & ${(1L << 56) - 1}"

  /** 0..m-1 register frame as a single-column DataFrame named `reg`. */
  private def spark_range(m: Int): DataFrame = {
    val cols = sequence(lit(0L), lit(m.toLong - 1))
    // explode of a literal sequence avoids needing the SparkSession here
    org.apache.spark.sql.SparkSession.active.range(1).select(explode(cols).as("reg"))
  }

  /** Two-level mergeable-sketch rollup — the PRODUCTION shape for distinct
    * counting over time: per (group, day) register maxima form a small
    * stored sketch table (what each daily batch job writes — HllM rows per
    * group-day, regardless of event volume), and period totals come from
    * merging the DAILY sketches (max per register — associative), never
    * from re-reading raw events. Because register-max is associative, the
    * merged estimate is IDENTICAL to a single-pass estimate over all raw
    * data — which is exactly what the oracle replays, so the hash match
    * proves the two-level path loses nothing.
    *
    * `df` needs columns `g`, `day`, `h` (long hash). Returns
    * (g, v_zero, est, n_days).
    */
  def hllRollup(df: DataFrame): DataFrame = {
    val daily = df.select(col("g"), col("day"), hllRegCol.as("reg"), hllRankCol.as("rank"))
      .groupBy("g", "day", "reg").agg(max(col("rank")).as("m"))
      .persist()   // the sketch table feeds both the merge and n_days
    val merged = daily.groupBy("g", "reg").agg(max(col("m")).as("m"))
    val days = daily.select("g", "day").distinct()
      .groupBy("g").agg(countDistinct(col("day")).as("n_days"))
    hllFinalize(merged, df.select("g").distinct()).join(days, "g")
  }

  /** Rolling-window distinct (the WAU/MAU primitive): per-day HLL register
    * maxima (the same stored daily sketch as [[hllRollup]]), then for each
    * day a trailing `window`-day register merge as ONE window-max over the
    * dense (day, reg) frame — sliding-window sketch algebra. At 100 TB the
    * rolling state is `window`·m longs per partition key regardless of
    * event volume, and each day's estimate reuses the daily sketches
    * instead of re-reading `window` days of raw events. Frame semantics
    * match [[changepoints]]: the previous `window` OBSERVED days; only
    * full windows emit. Register-max associativity makes the merged
    * estimate identical to a single-pass estimate over the union — which
    * is what the oracle replays.
    *
    * `df` needs (day: long, h: long hash). Returns (day, v_zero, est).
    */
  def rollingDistinct(df: DataFrame, window: Int): DataFrame = {
    val daily = df.select(col("day"), hllRegCol.as("reg"), hllRankCol.as("rank"))
      .groupBy("day", "reg").agg(max(col("rank")).as("m"))
    val dense = df.select("day").distinct().crossJoin(spark_range(HllM))
      .join(daily, Seq("day", "reg"), "left")
      .select(col("day"), col("reg"), coalesce(col("m"), lit(0L)).as("m"))
    val w = Window.partitionBy("reg").orderBy("day")
      .rowsBetween(-(window - 1), 0)
    val rolled = dense
      .withColumn("wm", max(col("m")).over(w))
      .withColumn("wn", count(lit(1)).over(w))
      .filter(col("wn") === window)
      .select(col("day").as("g"), col("reg"), col("wm").as("m"))
    hllFinalize(rolled, rolled.select("g").distinct())
      .select(col("g").as("day"), col("v_zero"), col("est"))
  }

  /** DuckDB replay of [[rollingDistinct]] given a CTE `hashed(day, h)`. */
  def rollingDistinctDuckSql(window: Int): String = {
    val m = HllM
    val rest = s"CAST((h // ${1L << HllP}) & ${(1L << 56) - 1} AS BIGINT)"
    s"""daily AS (
       |  SELECT day, CAST(h % $m AS BIGINT) AS reg,
       |         max(CASE WHEN ($rest) = 0 THEN 57
       |                  ELSE bit_count((($rest) & -($rest)) - 1) + 1 END) AS m
       |  FROM hashed GROUP BY 1, 2
       |), dense AS (
       |  SELECT d.day, r.reg, coalesce(dd.m, 0) AS m
       |  FROM (SELECT DISTINCT day FROM hashed) d
       |  CROSS JOIN (SELECT unnest(range(0, $m)) AS reg) r
       |  LEFT JOIN daily dd ON dd.day = d.day AND dd.reg = r.reg
       |), rolled AS (
       |  SELECT day, reg,
       |         max(m) OVER (PARTITION BY reg ORDER BY day
       |           ROWS BETWEEN ${window - 1} PRECEDING AND CURRENT ROW) AS m,
       |         count(*) OVER (PARTITION BY reg ORDER BY day
       |           ROWS BETWEEN ${window - 1} PRECEDING AND CURRENT ROW) AS wn
       |  FROM dense
       |), agg AS (
       |  SELECT day, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v_zero,
       |         sum(CAST(power(2, 57 - m) AS HUGEINT))::DOUBLE AS s
       |  FROM rolled WHERE wn = $window GROUP BY 1
       |), wau_est AS (
       |  SELECT day, CAST(v_zero AS BIGINT) AS v_zero,
       |    round(CASE WHEN v_zero > 0 AND ($HllAlphaM2 * ${math.pow(2.0, 57)} / s) <= ${2.5 * m}
       |          THEN ${m.toDouble} * ln(${m.toDouble} / v_zero::DOUBLE)
       |          ELSE $HllAlphaM2 * ${math.pow(2.0, 57)} / s END, 4) AS est
       |  FROM agg
       |)""".stripMargin
  }

  /** DuckDB replay of [[hllEstimate]] given a CTE `hashed(g, h)` with h
    * UBIGINT: emits CTEs `hll_regs`, `hll_dense`, `hll_est(g, v_zero, est)`.
    * Mirrors the Scala arithmetic exactly (integer rank, decimal harmonic
    * sum, one double division, linear-counting branch, round 4).
    */
  def hllDuckSql: String = {
    val m = HllM
    val rest = s"CAST((h // ${1L << HllP}) & ${(1L << 56) - 1} AS BIGINT)"
    s"""hll_regs AS (
       |  SELECT g, CAST(h % $m AS BIGINT) AS reg,
       |         max(CASE WHEN ($rest) = 0 THEN 57
       |                  ELSE bit_count((($rest) & -($rest)) - 1) + 1 END) AS mrank
       |  FROM hashed GROUP BY 1, 2
       |), hll_dense AS (
       |  SELECT gg.g, r.reg, coalesce(hr.mrank, 0) AS m
       |  FROM (SELECT DISTINCT g FROM hashed) gg
       |  CROSS JOIN (SELECT unnest(range(0, $m)) AS reg) r
       |  LEFT JOIN hll_regs hr ON hr.g = gg.g AND hr.reg = r.reg
       |), hll_est AS (
       |  SELECT g, v_zero,
       |    round(CASE WHEN v_zero > 0 AND ($HllAlphaM2 * ${math.pow(2.0, 57)} / s) <= ${2.5 * m}
       |          THEN ${m.toDouble} * ln(${m.toDouble} / v_zero::DOUBLE)
       |          ELSE $HllAlphaM2 * ${math.pow(2.0, 57)} / s END, 4) AS est
       |  FROM (
       |    SELECT g, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v_zero,
       |           sum(CAST(power(2, 57 - m) AS HUGEINT))::DOUBLE AS s
       |    FROM hll_dense GROUP BY g)
       |)""".stripMargin
  }

  // ======================================================= anomaly detection

  /** Z-score anomaly detection over hourly event-type counts: an (hour,
    * type) bucket is anomalous when its count deviates from the type's mean
    * by more than `z` population standard deviations. The mean/std are
    * derived from integer-exact sums (Σn, Σn²) rather than a streaming
    * moment aggregate, so the doubles are bit-reproducible regardless of
    * aggregation order — the property the hash oracle needs — and the
    * per-type stats table is tiny (one row per event type), so it
    * broadcasts; the only data-sized shuffle is the hourly count itself.
    * Expects `ts` as long nanos (the parquet nanosAsLong read path).
    */
  def anomalies(events: DataFrame, z: Double = 2.0): DataFrame = {
    val hourly = events
      .withColumn("hour_idx", expr("ts div 3600000000000"))
      .groupBy(col("event_type"), col("hour_idx"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nh"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
    val mean = col("s1").cast("double") / col("nh")
    val sd = sqrt(col("s2").cast("double") / col("nh") - mean * mean)
    hourly.join(broadcast(stats), "event_type")
      .withColumn("mean", mean).withColumn("sd", sd)
      .filter(col("sd") > 0 && abs(col("n") - col("mean")) > lit(z) * col("sd"))
      .select(col("event_type"), col("hour_idx"), col("n"),
        round((col("n") - col("mean")) / col("sd"), 6).as("zscore"))
  }

  /** Sequential changepoint flags: an hour whose count breaks ±ratio bounds
    * against the trailing mean of the previous `window` OBSERVED hours of
    * the same event type (ROWS frame, so gaps don't dilute the baseline).
    * The local sibling of [[anomalies]] (global z-score): a slow drift
    * shifts the global mean and hides, but a step change breaks the
    * trailing ratio immediately — the standard ops-monitoring primitive.
    *
    * One shuffle on event_type for the hourly rollup; the window frame and
    * the flag filter reuse that partitioning (no second exchange). All
    * frame sums are exact integers; the two ratio comparisons are the only
    * float ops and replay bit-identically.
    */
  def changepoints(events: DataFrame, window: Int = 6,
      up: Double = 1.5, down: Double = 0.5): DataFrame = {
    val hourly = events
      .withColumn("hour_idx", expr("ts div 3600000000000"))
      .groupBy(col("event_type"), col("hour_idx"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("hour_idx")
      .rowsBetween(-window, -1)
    hourly
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("ws", sum(col("n")).over(w))
      .filter(col("wn") === window)
      .withColumn("trail_avg", col("ws").cast("double") / window)
      .filter(col("n") > lit(up) * col("trail_avg") ||
        col("n") < lit(down) * col("trail_avg"))
      .select(col("event_type"), col("hour_idx"), col("n"),
        round(col("trail_avg"), 6).as("trail_avg"),
        round(col("n").cast("double") / col("trail_avg"), 6).as("ratio"))
  }

  /** DuckDB replay of [[changepoints]]: identical ROWS frame, identical
    * integer frame sums, identical ratio arithmetic.
    */
  def changepointsDuckSql(window: Int = 6,
      up: Double = 1.5, down: Double = 0.5): String =
    s"""WITH h AS (
       |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_idx, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), w AS (
       |  SELECT event_type, hour_idx, n,
       |         count(*) OVER (PARTITION BY event_type ORDER BY hour_idx
       |           ROWS BETWEEN $window PRECEDING AND 1 PRECEDING) AS wn,
       |         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hour_idx
       |           ROWS BETWEEN $window PRECEDING AND 1 PRECEDING) AS BIGINT) AS ws
       |  FROM h
       |), t AS (
       |  SELECT event_type, hour_idx, n, ws::DOUBLE / $window AS trail_avg
       |  FROM w WHERE wn = $window
       |)
       |SELECT event_type, hour_idx, n, round(trail_avg, 6) AS trail_avg,
       |       round(n::DOUBLE / trail_avg, 6) AS ratio
       |FROM t
       |WHERE n > $up * trail_avg OR n < $down * trail_avg
       |ORDER BY 1, 2""".stripMargin

  // ================================================= window duplicate drop

  /** Batch sibling of streaming exact dedup: an event is a duplicate when
    * it lands within `windowNs` of the PREVIOUS event of the same
    * (user_id, event_type) — the lag formulation (retry storms collapse to
    * ~1 kept per window-spaced chain, matching the at-least-once delivery
    * model). ONE shuffle on the pair key; the lag window and the summary
    * aggregate reuse the same partitioning, so no second exchange.
    * Expects `ts` as long nanos. Output: per-key totals (n_events, n_kept,
    * first_ev) for keys that actually contain duplicates.
    */
  def dedupWindow(events: DataFrame, windowNs: Long): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("dup",
        when(col("ts") - lag(col("ts"), 1).over(w) <= windowNs, 1L).otherwise(0L))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(lit(1L) - col("dup")).as("n_kept"),
        min(col("event_id")).as("first_ev"))
      .filter(col("n_kept") < col("n_events"))
  }

  /** DuckDB replay of [[dedupWindow]]: same lag-vs-window rule, same
    * (ts, event_id) tie order. */
  def dedupWindowDuckSql(windowNs: Long): String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, event_id, epoch_ns(ts) AS tsn FROM events
       |), d AS (
       |  SELECT user_id, event_type, event_id,
       |         CASE WHEN tsn - lag(tsn) OVER (PARTITION BY user_id, event_type
       |                ORDER BY tsn, event_id) <= $windowNs THEN 1 ELSE 0 END AS dup
       |  FROM e
       |)
       |SELECT user_id, event_type, count(*) AS n_events,
       |       CAST(sum(1 - dup) AS BIGINT) AS n_kept, min(event_id) AS first_ev
       |FROM d GROUP BY 1, 2 HAVING sum(1 - dup) < count(*)
       |ORDER BY 1, 2""".stripMargin

  /** DuckDB replay of [[anomalies]] — identical IEEE op order on the
    * integer-exact sums, so the doubles match bit-for-bit before rounding.
    */
  def anomaliesDuckSql(z: Double = 2.0): String =
    s"""WITH h AS (
       |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_idx, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), st AS (
       |  SELECT event_type, count(*) AS nh,
       |         CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
       |  FROM h GROUP BY 1
       |), j AS (
       |  SELECT h.event_type, hour_idx, n,
       |         CAST(s1 AS DOUBLE) / nh AS mean,
       |         sqrt(CAST(s2 AS DOUBLE) / nh
       |              - (CAST(s1 AS DOUBLE) / nh) * (CAST(s1 AS DOUBLE) / nh)) AS sd
       |  FROM h JOIN st ON h.event_type = st.event_type
       |)
       |SELECT event_type, hour_idx, n, round((n - mean) / sd, 6) AS zscore
       |FROM j WHERE sd > 0 AND abs(n - mean) > $z * sd
       |ORDER BY 1, 2""".stripMargin

  // ==================================== incremental materialized aggregate

  /** Incrementally-maintained daily aggregate table — the ETL pattern
    * behind every "metrics mart": the aggregate lives partitioned by day;
    * when a new batch arrives, ONLY the day partitions present in the
    * batch are recomputed and swapped in via dynamic partition overwrite.
    * Untouched days are not read, not written, not moved — at 100 TB the
    * nightly job touches one day, not the archive. (The aggregate-table
    * sibling of the bucketed-layer upsert in
    * [[graft.plans.SpatialLayout.upsertClusteredBuckets]].)
    *
    * `batch` must contain FULL days (the day partition is the atomicity
    * unit — partial-day merges would double-count; callers deliver
    * day-complete batches exactly like any partition-overwrite ETL).
    * Expects `ts` long nanos. Returns the affected day count.
    */
  def dailyAggMerge(batch: DataFrame, path: String): Long = {
    val dayUs = 86400000000000L
    val agg = batch
      .withColumn("day", expr(s"ts div $dayUs"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        countDistinct(col("user_id")).as("n_users"))
      .localCheckpoint(true)
    agg.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(path)
    agg.select("day").distinct().count()
  }

  // ============================================== histogram quantiles

  /** Approximate quantiles from a FIXED-BIN histogram — the scale-correct
    * sibling of the exact `percentile` aggregate (ev_quantiles): exact
    * percentiles buffer every value per group; the histogram reduces each
    * partition to ≤ `maxBin`+1 counters map-side, so ONE partial-aggregated
    * exchange of at most |types|·(maxBin+1) rows serves any corpus size.
    * Error is bounded by the bin width, by construction.
    *
    * Each quantile is the upper edge of the smallest bin whose cumulative
    * count reaches rank q·n. The rank test is pure integer arithmetic
    * (`cum · 10⁶ ≥ q_ppm · n` — no float rank, so engines can't disagree at
    * integer boundaries), and with a power-of-two bin width the reported
    * edges are exact binary doubles.
    */
  def histQuantiles(events: DataFrame, binWidth: Double = 0.5,
      maxBin: Int = 1023): DataFrame = {
    val binned = events
      .groupBy(col("event_type"),
        least(floor(col("value") / binWidth), lit(maxBin.toLong)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
    val cum = binned
      .withColumn("cum", sum(col("n")).over(
        Window.partitionBy("event_type").orderBy("bin")))
      .withColumn("total", sum(col("n")).over(Window.partitionBy("event_type")))
    def q(ppm: Long, name: String) =
      ((min(when(col("cum") * 1000000L >= lit(ppm) * col("total"), col("bin")))
        + 1L) * binWidth).as(name)
    cum.groupBy(col("event_type"))
      .agg(max(col("total")).as("n_events"),
        q(500000L, "p50"), q(900000L, "p90"), q(990000L, "p99"))
      .orderBy(col("event_type"))
  }

  /** DuckDB replay of [[histQuantiles]] — same binning, same integer rank
    * test, same upper-edge report. */
  def histQuantilesDuckSql(binWidth: Double = 0.5, maxBin: Int = 1023): String =
    s"""WITH b AS (
       |  SELECT event_type,
       |         CAST(least(floor(value / $binWidth), $maxBin) AS BIGINT) AS bin,
       |         count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), c AS (
       |  SELECT event_type, bin, n,
       |         sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
       |         sum(n) OVER (PARTITION BY event_type) AS total
       |  FROM b
       |)
       |SELECT event_type, CAST(max(total) AS BIGINT) AS n_events,
       |       (min(CASE WHEN cum * 1000000 >= 500000 * total THEN bin END) + 1) * $binWidth AS p50,
       |       (min(CASE WHEN cum * 1000000 >= 900000 * total THEN bin END) + 1) * $binWidth AS p90,
       |       (min(CASE WHEN cum * 1000000 >= 990000 * total THEN bin END) + 1) * $binWidth AS p99
       |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // =============================================== event-type transitions

  /** First-order Markov transition matrix over per-user event sequences —
    * the session-flow model behind next-action prediction and funnel-drop
    * diagnosis. For every user, consecutive events (ordered by ts then
    * event_id) contribute one (prev_type → event_type) transition; output
    * is the count and conditional probability P(next | prev) per ordered
    * pair.
    *
    * Shuffle shape: ONE exchange on user_id serves the lag window; the
    * pair aggregate partial-aggregates map-side down to ≤ |types|² rows per
    * partition, and the per-prev totals come from a window over the tiny
    * aggregated table rather than a second scan-side join. The probability
    * is one IEEE division of two exact integers, so both engines produce
    * the identical double.
    */
  def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("prob", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("prev_type")), 6))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** DuckDB replay of [[transitions]] — same lag tie order, same
    * exact-integer division. */
  def transitionsDuckSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tsn FROM events
      |), p AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY tsn, event_id) AS prev_type, event_type
      |  FROM e
      |), c AS (
      |  SELECT prev_type, event_type, count(*) AS n
      |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT prev_type, event_type, n,
      |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6)
      |         AS prob
      |FROM c ORDER BY 1, 2""".stripMargin

  // ==================================================== salted skew join

  /** Fact-to-dimension enrichment join with EXPLICIT key salting — the
    * pre-partitioned analog of AQE's runtime skew-join split (which the
    * bench sessions also enable). When one join key carries a disproportion
    * of the fact rows (one hot user, one hot domain), a plain shuffle join
    * sends that key's entire fact volume to a single reducer; salting
    * splits the hot key's rows across `salts` reducers by extending the
    * join key with `pmod(hash(row), salts)` on the fact side and
    * replicating each dimension row once per salt value. The dimension
    * inflates ×salts (it is the SMALL side — at 100 TB this is millions of
    * rows, not the fact table), the fact side never inflates, and no
    * reducer sees more than ~1/salts of any key.
    *
    * Use when the engine can't fix it for you: AQE splits skewed
    * SORT-MERGE partitions, but a skewed key feeding a subsequent
    * partitioned WRITE or window still serializes — salting the producer
    * key is the portable fix.
    *
    * The query itself: per event_type, how many events hit their user's
    * maximum value (max is order-independent and doubles compare exactly,
    * so the oracle replay is bit-safe). Returns the identical result with
    * `salts = 1` (unsalted) — pinned by EventsSpec.
    */
  def saltedUserMaxHits(events: DataFrame, salts: Int = 8): DataFrame = {
    require(salts >= 1)
    val spark = events.sparkSession
    val dim = events.groupBy(col("user_id"))
      .agg(max(col("value")).as("max_value"))
    val saltRows = spark.range(salts.toLong).select(col("id").cast("int").as("salt"))
    val dimSalted = dim.crossJoin(saltRows)
    val factSalted = events
      .withColumn("salt", pmod(hash(col("event_id")), lit(salts)))
    factSalted.join(dimSalted, Seq("user_id", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") === col("max_value"), 1L).otherwise(0L))
          .as("n_at_user_max"))
      .orderBy(col("event_type"))
  }

  /** DuckDB replay of [[saltedUserMaxHits]] — salting is semantically
    * invisible, so the oracle is the plain join. */
  def saltedUserMaxHitsDuckSql: String =
    """WITH dim AS (
      |  SELECT user_id, max(value) AS max_value FROM events GROUP BY 1
      |)
      |SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CASE WHEN value = max_value THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_at_user_max
      |FROM events JOIN dim USING (user_id)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Max-concurrency sweep line over derived sessions: +1 at session start,
    * −1 at session end (closed intervals — a session ending at the instant
    * another starts still overlaps it, so ties order starts first), running
    * sum = live-session count, then per-hour max/start/end rollup.
    *
    * The naive plan is ONE global-order window — a single-partition sort
    * that dies at scale. This is the distributed prefix-sum instead:
    * (1) per-hour delta totals (tiny: one row per hour), (2) a cumulative
    * offset over that hour table (window over #hours rows — thousands, not
    * billions), (3) the running sum WITHIN each hour partition plus its
    * broadcast offset. One shuffle on `hour` serves both the within-hour
    * window and the final per-hour aggregate; the offset join is
    * broadcast-sized by construction. The same two-level decomposition is
    * how a 100 TB timeline sweeps without a global sort.
    *
    * `sessions` must carry `t_start`/`t_end` (µs longs) as produced by
    * [[sessionize]]. Output: one row per active hour.
    */
  def maxConcurrency(sessions: DataFrame, hourUs: Long = 3600000000L): DataFrame = {
    val deltas = sessions.select(col("t_start").as("t"), lit(1L).as("d"))
      .unionAll(sessions.select(col("t_end").as("t"), lit(-1L).as("d")))
      .withColumn("hour", expr(s"t div $hourUs"))
    // (2) tiny hour-level offset table: deltas strictly before each hour
    val hourTotals = BoundedWindow(
      deltas.groupBy(col("hour")).agg(sum(col("d")).as("hd")),
      1_000_000L, "hour-level offsets (one row per distinct hour — a century is ~876k)")
    val wH = Window.orderBy(col("hour")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hourTotals
      .withColumn("off", coalesce(sum(col("hd")).over(wH), lit(0L)))
      .select(col("hour"), col("off"))
    // (3) within-hour running sum (starts before ends at the same instant)
    val wIn = Window.partitionBy(col("hour")).orderBy(col("t"), col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.join(broadcast(offsets), "hour")
      .withColumn("run", col("off") + sum(col("d")).over(wIn))
      .groupBy(col("hour"))
      .agg(max(col("run")).as("max_conc"),
        sum(when(col("d") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("d") === -1L, 1L).otherwise(0L)).as("n_ends"))
      .orderBy(col("hour"))
  }

  /** DuckDB replay of [[maxConcurrency]] — the decomposition is invisible,
    * so the oracle is the plain single-window sweep over `sessions(t_start,
    * t_end)` provided by `sessCtes` (must define a `sess` relation). */
  def maxConcurrencyDuckSql(sessCtes: String, hourUs: Long = 3600000000L): String =
    s"""$sessCtes, deltas AS (
       |  SELECT t_start AS t, 1 AS d FROM sess
       |  UNION ALL SELECT t_end AS t, -1 AS d FROM sess
       |), run AS (
       |  SELECT t // $hourUs AS hour, d,
       |         sum(d) OVER (ORDER BY t, d DESC ROWS UNBOUNDED PRECEDING) AS run
       |  FROM deltas
       |)
       |SELECT hour, CAST(max(run) AS BIGINT) AS max_conc,
       |       CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
       |       CAST(sum(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends
       |FROM run GROUP BY hour ORDER BY hour""".stripMargin

  /** Time-series gap fill + LOCF (last observation carried forward): build
    * the dense per-user hourly grid between each user's first and last
    * event, attach the hourly aggregate where one exists, and forward-fill
    * the last seen value into the gaps.
    *
    * Scale shape: the grid is generated by `sequence()` + explode from ONE
    * tiny per-user extent row — grid size is output-proportional, never a
    * cross join against a calendar dimension. One shuffle on `user_id`
    * serves the grid/aggregate join AND the LOCF window (`last(...,
    * ignoreNulls)` over the hour order). Events carry (tsn µs, value).
    */
  def gapFillLocf(events: DataFrame, hourUs: Long = 3600000000L): DataFrame = {
    val hourly = events
      .withColumn("hour", expr(s"tsn div $hourUs"))
      .groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
    val grid = events
      .groupBy(col("user_id"))
      .agg(expr(s"min(tsn) div $hourUs").as("h0"), expr(s"max(tsn) div $hourUs").as("h1"))
      .select(col("user_id"), explode(expr("sequence(h0, h1)")).as("hour"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("filled_v", last(col("v"), ignoreNulls = true).over(w))
      .withColumn("is_gap", col("n").isNull)
      .select(col("user_id"), col("hour"), coalesce(col("n"), lit(0L)).as("n"),
        col("filled_v"), col("is_gap"))
      .orderBy(col("user_id"), col("hour"))
  }

  /** DuckDB replay of [[gapFillLocf]] over an `e(user_id, tsn, value)`
    * relation provided by `eCtes`. `range()` is end-exclusive, hence h1+1;
    * it is staged through a CTE because lateral column args only bind via
    * unnest-in-select. */
  def gapFillLocfDuckSql(eCtes: String, hourUs: Long = 3600000000L): String =
    s"""$eCtes, hourly AS (
       |  SELECT user_id, tsn // $hourUs AS hour, count(*) AS n,
       |         round(sum(value), 4) AS v
       |  FROM e GROUP BY 1, 2
       |), extent AS (
       |  SELECT user_id, min(tsn) // $hourUs AS h0, max(tsn) // $hourUs AS h1
       |  FROM e GROUP BY 1
       |), grid AS (
       |  SELECT user_id, unnest(range(h0, h1 + 1)) AS hour FROM extent
       |)
       |SELECT g.user_id, g.hour, coalesce(h.n, 0) AS n,
       |       last_value(h.v IGNORE NULLS) OVER (
       |         PARTITION BY g.user_id ORDER BY g.hour
       |         ROWS UNBOUNDED PRECEDING) AS filled_v,
       |       h.n IS NULL AS is_gap
       |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
       |ORDER BY g.user_id, g.hour""".stripMargin

  /** Last-touch marketing attribution: each `convType` event's revenue is
    * attributed 100% to the latest preceding `touchType` event by the same
    * user within `lookbackUs`, reported per attribution DAY (epoch-day of
    * the touch; -1 = unattributed). Revenue stays exact integer cents.
    *
    * Scale shape: ONE shuffle on `user_id`; the touch carry-forward is a
    * window (`last(..., ignoreNulls)`) over that partitioning, so per-task
    * state is one user's history — the 100 TB plan is a single exchange
    * plus map-side work, never a self-join. Expects (user_id, event_id,
    * tsn µs, event_type, value).
    */
  def lastTouchAttribution(events: DataFrame, touchType: String = "click",
      convType: String = "purchase",
      lookbackUs: Long = 7L * 86400000000L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsn"), col("event_id"))
    val dayUs = 86400000000L
    events
      .withColumn("touch_ts",
        last(when(col("event_type") === touchType, col("tsn")), ignoreNulls = true).over(w))
      .filter(col("event_type") === convType)
      .withColumn("day",
        when(col("touch_ts").isNotNull && col("touch_ts") >= col("tsn") - lookbackUs,
          expr(s"touch_ts DIV $dayUs")).otherwise(lit(-1L)))
      .groupBy("day")
      .agg(count(lit(1)).as("conv_n"),
        sum(round(col("value") * 100).cast("long")).as("rev_cents"))
      .orderBy("day")
  }

  /** DuckDB replay of [[lastTouchAttribution]] (same window tie rule: the
    * default RANGE frame over the unique (tsn, event_id) order).
    */
  def lastTouchAttributionDuckSql(touchType: String = "click",
      convType: String = "purchase",
      lookbackUs: Long = 7L * 86400000000L): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type, value FROM events
       |), t AS (
       |  SELECT *, last_value(CASE WHEN event_type = '$touchType' THEN tsn END IGNORE NULLS)
       |         OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS touch_ts
       |  FROM e
       |)
       |SELECT CASE WHEN touch_ts IS NOT NULL AND touch_ts >= tsn - $lookbackUs
       |            THEN touch_ts // 86400000000 ELSE -1 END AS day,
       |       count(*) AS conv_n,
       |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
       |FROM t WHERE event_type = '$convType'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Linear multi-touch attribution with EXACT integer cent splits: every
    * click inside the lookback window before a purchase shares that
    * purchase's revenue, cents divided by largest-remainder (the first
    * `cents mod k` touches in time order get one extra cent) — the rule
    * real billing systems use, and it keeps every aggregate an exact
    * integer (a naive cents/k double split would be summation-order
    * dependent). Purchases with no touch in window credit day −1.
    *
    * Scale shape: the touch↔conversion pairing is a per-user band join
    * (one shuffle on user_id, fan-out bounded by touches-per-user ×
    * conversions-per-user in the window); the split windows are per
    * conversion. Expects (user_id, event_id, tsn µs, event_type, value).
    */
  def multiTouchAttribution(events: DataFrame, touchType: String = "click",
      convType: String = "purchase",
      lookbackUs: Long = 7L * 86400000000L): DataFrame = {
    val dayUs = 86400000000L
    val conv = events.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("tsn").as("conv_ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val touch = events.filter(col("event_type") === touchType)
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("tsn").as("touch_ts"))
    val paired = conv.join(touch, Seq("user_id"), "left")
      .withColumn("hit", col("touch_ts").isNotNull
        && col("touch_ts") <= col("conv_ts")
        && col("touch_ts") >= col("conv_ts") - lookbackUs)
    val wc = Window.partitionBy("conv_id")
    val wo = Window.partitionBy("conv_id")
      .orderBy(col("touch_ts"), col("touch_id"))
    val credited = paired
      .withColumn("k", sum(when(col("hit"), 1L).otherwise(0L)).over(wc))
      // untouched conversions keep one row (k = 0) crediting day -1;
      // touched ones drop their non-hit rows before the in-window ranking
      .filter(col("k") === 0 || col("hit"))
      .withColumn("rn", row_number().over(wo))
      .withColumn("credit", when(col("k") === 0, col("cents"))
        .otherwise(expr("cents DIV k")
          + when(col("rn") <= col("cents") % col("k"), 1L).otherwise(0L)))
      .withColumn("day", when(col("k") === 0, lit(-1L))
        .otherwise(expr(s"touch_ts DIV $dayUs")))
    credited.groupBy("day")
      .agg(count(lit(1)).as("n_touches"),
        sum("credit").as("credit_cents"))
      .orderBy("day")
  }

  /** DuckDB replay of [[multiTouchAttribution]]: same band join, same
    * largest-remainder split (`cents // k` is integer division in both).
    */
  def multiTouchDuckSql(touchType: String = "click",
      convType: String = "purchase",
      lookbackUs: Long = 7L * 86400000000L): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type, value FROM events
       |), conv AS (
       |  SELECT user_id, event_id AS conv_id, tsn AS conv_ts,
       |         CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM e WHERE event_type = '$convType'
       |), touch AS (
       |  SELECT user_id, event_id AS touch_id, tsn AS touch_ts
       |  FROM e WHERE event_type = '$touchType'
       |), paired AS (
       |  SELECT c.*, t.touch_id, t.touch_ts,
       |         t.touch_ts IS NOT NULL AND t.touch_ts <= c.conv_ts
       |           AND t.touch_ts >= c.conv_ts - $lookbackUs AS hit
       |  FROM conv c LEFT JOIN touch t ON t.user_id = c.user_id
       |), counted AS (
       |  SELECT *, sum(CASE WHEN hit THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY conv_id) AS k
       |  FROM paired
       |), credited AS (
       |  SELECT *,
       |         row_number() OVER (PARTITION BY conv_id
       |                            ORDER BY touch_ts, touch_id) AS rn
       |  FROM counted WHERE k = 0 OR hit
       |)
       |SELECT CASE WHEN k = 0 THEN -1 ELSE touch_ts // $dayUsLit END AS day,
       |       count(*) AS n_touches,
       |       CAST(sum(CASE WHEN k = 0 THEN cents
       |                ELSE cents // k + (CASE WHEN rn <= cents % k THEN 1 ELSE 0 END)
       |                END) AS BIGINT) AS credit_cents
       |FROM credited GROUP BY 1 ORDER BY 1""".stripMargin

  private val dayUsLit = 86400000000L

  /** Robust MAD anomalies (Iglewicz-Hoaglin modified z-score): hourly
    * counts per event_type scored by 0.6745·(n − median)/MAD, flagged at
    * |score| > 3.5 — the outlier rule a global mean/sd (see [[anomalies]])
    * gets wrong when the outliers themselves inflate the sd. Median and
    * MAD are exact interpolated percentiles of integers (values in
    * quarters, exact in binary), so both engines agree bit-for-bit; the
    * score's two float ops replay identically.
    *
    * One shuffle for the hourly rollup; two tiny per-type aggregates and
    * keyed joins back — nothing broadcast beyond the per-type stats row.
    */
  def madAnomalies(events: DataFrame, flagAt: Double = 3.5): DataFrame = {
    val hourly = events
      .withColumn("hour_idx", expr("ts div 3600000000000"))
      .groupBy(col("event_type"), col("hour_idx"))
      .agg(count(lit(1)).as("n"))
    val med = hourly.groupBy("event_type")
      .agg(expr("percentile(n, 0.5)").as("med"))
    val withMed = hourly.join(med, "event_type")
      .withColumn("absdev", abs(col("n") - col("med")))
    val mad = withMed.groupBy("event_type")
      .agg(expr("percentile(absdev, 0.5)").as("mad"))
    withMed.join(mad, "event_type")
      .filter(col("mad") > 0
        && lit(0.6745) * abs(col("n") - col("med")) > lit(flagAt) * col("mad"))
      .select(col("event_type"), col("hour_idx"), col("n"),
        round(lit(0.6745) * (col("n") - col("med")) / col("mad"), 6)
          .as("mod_z"))
      .orderBy("event_type", "hour_idx")
  }

  /** DuckDB replay of [[madAnomalies]] (quantile_cont = Spark's exact
    * interpolated percentile). */
  def madAnomaliesDuckSql(flagAt: Double = 3.5): String =
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_idx, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), med AS (
       |  SELECT event_type, quantile_cont(n, 0.5) AS med FROM hourly GROUP BY 1
       |), dev AS (
       |  SELECT h.event_type, h.hour_idx, h.n, m.med, abs(h.n - m.med) AS absdev
       |  FROM hourly h JOIN med m USING (event_type)
       |), mad AS (
       |  SELECT event_type, quantile_cont(absdev, 0.5) AS mad FROM dev GROUP BY 1
       |)
       |SELECT d.event_type, CAST(d.hour_idx AS BIGINT) AS hour_idx,
       |       d.n, round(0.6745 * (d.n - d.med) / a.mad, 6) AS mod_z
       |FROM dev d JOIN mad a USING (event_type)
       |WHERE a.mad > 0 AND 0.6745 * abs(d.n - d.med) > $flagAt * a.mad
       |ORDER BY 1, 2""".stripMargin

  /** Distributed global rank (1-based): range-repartition on the order
    * columns, sort within partitions, then zipWithIndex — each partition's
    * ranks are its global offset plus its local index, so no partition ever
    * holds more than its range slice. This is the sp_str_pack discipline,
    * replacing `row_number().over(Window.orderBy(…))` whose WindowExec
    * moves the ENTIRE input to one partition (the lone scale-killer shape
    * at 10⁸–10⁹ users). The order columns must form a TOTAL order (append
    * a unique tiebreak key) so the rank is deterministic regardless of
    * where the range sampler draws its partition boundaries. zipWithIndex's
    * two passes reuse the range shuffle's map output (second job skips the
    * exchange stages), so the extra cost is one local per-partition re-sort.
    */
  def globalRank(df: DataFrame, order: Seq[Column], rankCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val schema = df.schema.add(rankCol, LongType, nullable = false)
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (row, i) => Row.fromSeq(row.toSeq :+ (i + 1L)) },
      schema)
  }

  /** Distributed global prefix sum: `outCol` = Σ `valueCol` over all rows
    * strictly BEFORE this row in `order` (exclusive running total). Same
    * two-pass shape as [[globalRank]] — range-repartition + local sort,
    * then one ~numPartitions-row pass collects per-partition totals whose
    * exclusive scan seeds each partition's offset — so no partition ever
    * holds more than its range slice (the global-window
    * `sum().over(Window.orderBy(…))` this replaces moves the ENTIRE input
    * to one task). The order columns must form a total order for a
    * deterministic result. Mann-Whitney's tie-aware rank sums
    * ([[mannWhitney]]) ride on this over the value-group table.
    */
  def prefixSum(df: DataFrame, order: Seq[Column], valueCol: String,
      outCol: String): DataFrame =
    prefixSums(df, order, Seq(valueCol), Seq(outCol))

  /** Multi-column [[prefixSum]]: one range shuffle carries any number of
    * running totals (KS needs both variants' cumulative counts in the same
    * value order — two independent prefixSum calls would pay the range
    * repartition twice and could disagree on partition boundaries). */
  def prefixSums(df: DataFrame, order: Seq[Column], valueCols: Seq[String],
      outCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    require(valueCols.nonEmpty && valueCols.length == outCols.length,
      "prefixSums: valueCols and outCols must pair up")
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idxs = valueCols.map(sorted.schema.fieldIndex).toArray
    val k = idxs.length
    // pass 1: per-partition totals (numPartitions × k longs to the driver)
    val partTotals = sorted.rdd.mapPartitionsWithIndex { (p, it) =>
      val s = new Array[Long](k)
      it.foreach { r =>
        var i = 0; while (i < k) { s(i) += r.getLong(idxs(i)); i += 1 }
      }
      Iterator((p, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(new Array[Long](k)) { (a, b) =>
      Array.tabulate(k)(i => a(i) + b(i)) // exclusive scan
    }
    // pass 2: local running totals + the partition's global offsets
    var schema = df.schema
    outCols.foreach(c => schema = schema.add(c, LongType, nullable = false))
    val out = spark.createDataFrame(
      sorted.rdd.mapPartitionsWithIndex { (p, it) =>
        val run = offsets(p).clone()
        it.map { r =>
          val before = java.util.Arrays.copyOf(run, k)
          var i = 0; while (i < k) { run(i) += r.getLong(idxs(i)); i += 1 }
          Row.fromSeq(r.toSeq ++ before)
        }
      }, schema)
    sorted.unpersist(blocking = false)
    out
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between two variants of an integer
    * metric, exact tie-aware rank algebra: group users by metric value,
    * prefix-sum group sizes in value order ([[prefixSum]] — never a
    * global window), and fold each group's average rank in the DOUBLED
    * domain — 2·R_A = Σ_groups a_v·(2·cum_before + n_v + 1) stays an
    * exact integer through ties, as does 2·U_A = 2·R_A − n_A(n_A+1).
    * The z-statistic uses the standard tie-corrected variance
    * σ² = n_A·n_B/12·((n+1) − Σ(t³−t)/(n(n−1))) (Lehmann, Nonparametrics
    * 1975 eq. 1.28); every float is a closed form over exact integers, so
    * both engines compute bit-identical doubles. Input: one row per unit
    * with integer `metricCol` and `variantCol` ∈ {0, 1}. Output: one row
    * (n_a, n_b, two_u_a, ties, z).
    */
  def mannWhitney(perUnit: DataFrame, metricCol: String,
      variantCol: String): DataFrame = {
    val g = perUnit.groupBy(col(metricCol).as("v")).agg(
      count(lit(1)).as("n_v"),
      sum(when(col(variantCol) === 0, 1L).otherwise(0L)).as("a_v"))
    val scanned = prefixSum(g, Seq(col("v")), "n_v", "cum_before")
    // the tie cube n_v³ silently wraps a BIGINT once a value group passes
    // ~2.1M rows (and the sum wraps earlier still) — accumulate in
    // decimal(38,0) and fail LOUDLY if the exact sum no longer fits the
    // BIGINT output; assert_true folds into the kept column so column
    // pruning can't drop the guard
    val nvd = col("n_v").cast("decimal(38,0)")
    scanned.agg(
        sum(col("a_v") * (lit(2) * col("cum_before") + col("n_v") + lit(1)))
          .as("two_ra"),
        sum(col("a_v")).as("n_a"),
        sum(col("n_v") - col("a_v")).as("n_b"),
        sum(nvd * nvd * nvd - nvd).as("ties_d"))
      .withColumn("ties",
        coalesce(assert_true(
          col("ties_d") <= lit(Long.MaxValue).cast("decimal(38,0)"),
          lit("mannWhitney: exact tie sum Σ(t³−t) overflows BIGINT — " +
            "tie groups too large for the integer path")).cast("long"),
          lit(0L)) + col("ties_d").cast("long"))
      .withColumn("two_u_a",
        col("two_ra") - col("n_a") * (col("n_a") + lit(1)))
      .withColumn("z", {
        val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
        val n = col("n_a") + col("n_b")
        val sigma2 = na * nb / lit(12.0) *
          ((n + lit(1)).cast("double") -
            col("ties").cast("double") / (n * (n - lit(1))).cast("double"))
        when(sigma2 > 0, round(
          (col("two_u_a").cast("double") / lit(2.0) - na * nb / lit(2.0)) /
            sqrt(sigma2), 6))
      })
      .select("n_a", "n_b", "two_u_a", "ties", "z")
  }

  /** Two-sample Kolmogorov–Smirnov distance between the variants of an
    * integer metric — the distribution-shift readout beside
    * [[mannWhitney]]'s location test (an A/B metric can keep its mean and
    * still change shape; KS is the standard guard). The empirical-CDF gap
    * is evaluated at every distinct value via ONE multi-column
    * [[prefixSums]] pass over the value-group table (never a global
    * window), and the maximised gap is kept as the EXACT integer
    * cross-product `d_num = max |cumA·n_b − cumB·n_a|` so both engines
    * agree bit-for-bit before any division. Output: one row
    * (n_a, n_b, d_num, d, ks_lambda, reject_05) where
    * d = d_num/(n_a·n_b), λ = √(n_a·n_b/(n_a+n_b))·d and reject_05
    * applies the asymptotic α=0.05 critical value c(α)=1.358 (Smirnov).
    * Integer-exactness bound: cum·n ≤ n_a·n_b must fit a long —
    * loud guard at n_a·n_b ≥ 2⁶² rather than silent wraparound.
    */
  def ksTest(perUnit: DataFrame, metricCol: String,
      variantCol: String): DataFrame = {
    val g = perUnit.groupBy(col(metricCol).as("v")).agg(
      sum(when(col(variantCol) === 0, 1L).otherwise(0L)).as("a_v"),
      sum(when(col(variantCol) =!= 0, 1L).otherwise(0L)).as("b_v"))
    val scanned = prefixSums(g, Seq(col("v")), Seq("a_v", "b_v"),
        Seq("ca0", "cb0"))
      .withColumn("ca", col("ca0") + col("a_v")) // CDF is right-continuous:
      .withColumn("cb", col("cb0") + col("b_v")) // include the group itself
    val tot = scanned.agg(sum(col("a_v")).as("n_a"), sum(col("b_v")).as("n_b"))
    scanned.crossJoin(broadcast(tot))
      // compare via division, not the product: n_a*n_b itself wraps for
      // n_a,n_b ≳ 2³¹ and a wrapped (possibly small/negative) product
      // would sail through a `< 2⁶²` check. n_a < floor(2⁶²/n_b) implies
      // n_a·n_b < 2⁶² with no intermediate that can overflow.
      .withColumn("guard", coalesce(assert_true(
        col("n_a") < lit(1L << 62) / greatest(col("n_b"), lit(1L)),
        lit("ksTest: n_a*n_b too large for the exact integer gap — " +
          "rescale or subsample")).cast("long"), lit(0L)))
      .agg(
        max(abs(col("ca") * col("n_b") - col("cb") * col("n_a")) +
          col("guard")).as("d_num"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .withColumn("d_raw", col("d_num").cast("double") /
        (col("n_a").cast("double") * col("n_b").cast("double")))
      .withColumn("lam_raw",
        sqrt((col("n_a") * col("n_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double")) * col("d_raw"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        round(col("d_raw"), 6).as("d"),
        round(col("lam_raw"), 6).as("ks_lambda"),
        (col("lam_raw") > 1.358).as("reject_05"))
  }

  /** Deterministic Poisson bootstrap for the A/B difference in means —
    * the CI machinery a metrics platform runs beside the point estimate.
    * Each of `reps` resamples draws every unit's multiplicity from a
    * Poisson(1) inverse-CDF over a hash-uniform u ∈ [0,1e6) computed by an
    * integer LCG mix of (unit id, replicate) — fully replayable in the
    * DuckDB oracle, no RNG state. Plan shape for 100 TB: the only row
    * expansion is the `reps`-way explode feeding a map-side-combinable
    * `groupBy(r)` (the classic flat-map bootstrap — partial aggregation
    * collapses each partition to reps×2 partial sums before the shuffle);
    * the replicate table is `reps` rows, ranked by the distributed
    * [[globalRank]]. Output: one row (n_reps, point_diff, lo, hi) with the
    * 2.5/97.5 % nearest-rank percentile bounds.
    * Id bound (documented, loud): |uid| ≤ 8.3e9 keeps the LCG mix inside
    * a long before the pmod.
    */
  def bootstrapDiff(perUnit: DataFrame, idCol: String, metricCol: String,
      variantCol: String, reps: Int = 200): DataFrame = {
    require(reps >= 40, s"bootstrapDiff: need >= 40 replicates for a 95% " +
      s"nearest-rank CI, got $reps")
    val base = perUnit.select(col(idCol).cast("long").as("uid"),
      col(metricCol).cast("long").as("m"),
      col(variantCol).cast("long").as("variant"))
    val expanded = base
      .withColumn("r", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("u", pmod(col("uid") * lit(1103515245L) +
        col("r") * lit(12345L) + lit(987654321L), lit(1000000L)))
      // Poisson(1) inverse CDF on the integer grid: thresholds are
      // round(1e6 * P(X<=k)), exact cross-engine integer comparisons
      .withColumn("w",
        when(col("u") < 367879, 0L).when(col("u") < 735759, 1L)
          .when(col("u") < 919699, 2L).when(col("u") < 981012, 3L)
          .when(col("u") < 996340, 4L).when(col("u") < 999406, 5L)
          .when(col("u") < 999917, 6L).otherwise(7L))
    val perRep = expanded.groupBy("r").agg(
        sum(when(col("variant") === 0, col("w") * col("m")).otherwise(0L)).as("sa"),
        sum(when(col("variant") === 0, col("w")).otherwise(0L)).as("wa"),
        sum(when(col("variant") =!= 0, col("w") * col("m")).otherwise(0L)).as("sb"),
        sum(when(col("variant") =!= 0, col("w")).otherwise(0L)).as("wb"))
      .filter(col("wa") > 0 && col("wb") > 0)
      .withColumn("diff", col("sa").cast("double") / col("wa").cast("double")
        - col("sb").cast("double") / col("wb").cast("double"))
      .select("r", "diff")
    val ranked = globalRank(perRep, Seq(col("diff"), col("r")), "rk")
    val nn = ranked.agg(count(lit(1)).as("n_reps"))
    val point = base.agg(
      (sum(when(col("variant") === 0, col("m")).otherwise(0L)).cast("double") /
        sum(when(col("variant") === 0, 1L).otherwise(0L)).cast("double") -
        sum(when(col("variant") =!= 0, col("m")).otherwise(0L)).cast("double") /
          sum(when(col("variant") =!= 0, 1L).otherwise(0L)).cast("double"))
        .as("pt"))
    // nearest-rank percentile bounds as EXACT integer ceilings —
    // ⌈n/40⌉ and ⌈39n/40⌉ via (n·k + 999) div 1000; a float 0.025 here
    // would be a double in Spark but a DECIMAL in DuckDB and the two
    // ceil()s can disagree on the boundary
    ranked.crossJoin(broadcast(nn))
      .agg(
        first(col("n_reps")).as("n_reps"),
        max(when(col("rk") === greatest(lit(1L),
          ((col("n_reps") * 25 + 999) / 1000).cast("long")), col("diff")))
          .as("lo_raw"),
        max(when(col("rk") === ((col("n_reps") * 975 + 999) / 1000).cast("long"),
          col("diff"))).as("hi_raw"))
      .crossJoin(broadcast(point))
      .select(col("n_reps"), round(col("pt"), 6).as("point_diff"),
        round(col("lo_raw"), 6).as("lo"), round(col("hi_raw"), 6).as("hi"))
  }

  /** Mixture sequential probability ratio test (mSPRT) — the always-valid
    * p-value machinery that makes continuous experiment monitoring safe
    * (peeking at a fixed-horizon z-test inflates false positives; the
    * mSPRT martingale does not — Johari, Pekelis & Walsh 2015/2022). One
    * readout row per day: the cumulative two-sample mean difference and
    * the log mixture likelihood ratio
    *
    *   ln Λ_t = ½·ln(V_t/(V_t+τ²)) + θ̂_t²·τ²/(2·V_t·(V_t+τ²)),
    *   V_t = σ²·(1/n_A + 1/n_B)
    *
    * under a pre-registered observation variance σ² and mixture variance
    * τ² (pre-registration is how deployed mSPRT works — estimating σ from
    * the same stream would break the martingale property). `reject_so_far`
    * latches once ln Λ ever crosses ln(1/α); α = 0.05 is pinned as the
    * literal 2.995732 (= ln 20, same pinned-literal discipline as
    * ev_power). Plan shape: one day×variant aggregate (map-side combined)
    * then ordered running sums over the BOUNDED day table — the corpus-
    * sized work never enters a window. Input: (day, variant ∈ {0,1},
    * integer metric x). Output: (day, n_a, n_b, diff, ln_lambda,
    * reject_so_far), floats rounded to 6.
    */
  def msprtDaily(obs: DataFrame, dayCol: String, variantCol: String,
      metricCol: String, sigma2: Double, tau2: Double,
      maxDays: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = obs.groupBy(col(dayCol).as("day")).agg(
      sum(when(col(variantCol) === 0, col(metricCol)).otherwise(0L)).as("sa"),
      sum(when(col(variantCol) === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col(variantCol) =!= 0, col(metricCol)).otherwise(0L)).as("sb"),
      sum(when(col(variantCol) =!= 0, 1L).otherwise(0L)).as("cb"))
    val run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val cum = BoundedWindow(daily, maxDays,
        s"mSPRT daily readout (day-level table, ≤ $maxDays rows)")
      .withColumn("n_a", sum("ca").over(run))
      .withColumn("n_b", sum("cb").over(run))
      .withColumn("cum_sa", sum("sa").over(run))
      .withColumn("cum_sb", sum("sb").over(run))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val theta = col("cum_sa").cast("double") / na -
      col("cum_sb").cast("double") / nb
    val v = lit(sigma2) * (lit(1.0) / na + lit(1.0) / nb)
    val lnLam = lit(0.5) * log(v / (v + lit(tau2))) +
      ((theta * theta) * lit(tau2)) / (lit(2.0) * v * (v + lit(tau2)))
    val scored = cum.withColumn("diff_raw",
        when(col("n_a") > 0 && col("n_b") > 0, theta))
      .withColumn("lnl_raw",
        when(col("n_a") > 0 && col("n_b") > 0, lnLam))
    scored
      .withColumn("reject_so_far",
        max(when(col("lnl_raw") > 2.995732, 1L).otherwise(0L)).over(run))
      .select(col("day"), col("n_a"), col("n_b"),
        round(col("diff_raw"), 6).as("diff"),
        round(col("lnl_raw"), 6).as("ln_lambda"),
        col("reject_so_far"))
      .orderBy("day")
  }

  /** DuckDB replay of [[msprtDaily]] over per-purchase cents with
    * user-parity arms — identical parenthesization of the ln Λ tree.
    */
  def msprtDuckSql(sigma2: Double, tau2: Double): String =
    s"""WITH o AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |         user_id % 2 AS variant,
       |         CAST(round(value * 100) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase'
       |), daily AS (
       |  SELECT day,
       |    sum(CASE WHEN variant = 0 THEN x ELSE 0 END)::BIGINT AS sa,
       |    sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN variant <> 0 THEN x ELSE 0 END)::BIGINT AS sb,
       |    sum(CASE WHEN variant <> 0 THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM o GROUP BY 1
       |), cum AS (
       |  SELECT day,
       |    (sum(ca) OVER wo)::BIGINT AS n_a, (sum(cb) OVER wo)::BIGINT AS n_b,
       |    (sum(sa) OVER wo)::BIGINT AS cum_sa,
       |    (sum(sb) OVER wo)::BIGINT AS cum_sb
       |  FROM daily
       |  WINDOW wo AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
       |), sc AS (
       |  SELECT day, n_a, n_b,
       |    CASE WHEN n_a > 0 AND n_b > 0 THEN
       |      cum_sa::DOUBLE / n_a::DOUBLE - cum_sb::DOUBLE / n_b::DOUBLE
       |    END AS diff_raw,
       |    CASE WHEN n_a > 0 AND n_b > 0 THEN
       |      0.5 * ln(($sigma2 * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE))
       |               / (($sigma2 * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) + $tau2))
       |      + (((cum_sa::DOUBLE / n_a::DOUBLE - cum_sb::DOUBLE / n_b::DOUBLE)
       |          * (cum_sa::DOUBLE / n_a::DOUBLE - cum_sb::DOUBLE / n_b::DOUBLE))
       |         * $tau2)
       |        / (2.0 * ($sigma2 * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE))
       |           * (($sigma2 * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) + $tau2))
       |    END AS lnl_raw
       |  FROM cum
       |)
       |SELECT day, n_a, n_b, round(diff_raw, 6) AS diff,
       |       round(lnl_raw, 6) AS ln_lambda,
       |       (max(CASE WHEN lnl_raw > 2.995732 THEN 1 ELSE 0 END)
       |          OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))::BIGINT
       |         AS reject_so_far
       |FROM sc ORDER BY day""".stripMargin

  // ----------------------------------------------------------------------
  // Welch z + Benjamini–Hochberg FDR across a metric family
  //
  // The numeric tree is defined ONCE as dialect-neutral SQL text (CAST,
  // CASE, sqrt/exp/abs only — parsed identically by Spark's expr() and
  // DuckDB), so both engines execute bit-identical double arithmetic; the
  // normal tail is Abramowitz–Stegun 7.1.26 (|ε| < 1.5e-7), the standard
  // erfc polynomial (public formula; Handbook of Mathematical Functions).

  /** Welch z from exact integer moments (n, Σx, Σx²) of two arms. */
  private[pipeline] val welchZSql: String = {
    val va = "(CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a) / (n_a - 1.0)"
    val vb = "(CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b) / (n_b - 1.0)"
    val se = s"sqrt(($va) / n_a + ($vb) / n_b)"
    s"CASE WHEN n_a >= 2 AND n_b >= 2 AND $se > 0 THEN " +
      s"((CAST(s1_b AS DOUBLE) / n_b) - (CAST(s1_a AS DOUBLE) / n_a)) / $se " +
      "ELSE 0.0 END"
  }

  /** Two-sided normal p from a `z_raw` column: p = erfc(|z|/√2) via the
    * A&S 7.1.26 polynomial — identical text in both engines.
    */
  private[pipeline] val pFromZSql: String = {
    val t = "(1.0 / (1.0 + 0.3275911 * (abs(z_raw) / sqrt(2.0))))"
    s"((((1.061405429 * $t - 1.453152027) * $t + 1.421413741) * $t" +
      s" - 0.284496736) * $t + 0.254829592) * $t" +
      " * exp(-((abs(z_raw) / sqrt(2.0)) * (abs(z_raw) / sqrt(2.0))))"
  }

  /** Per-group Welch two-sample z on an integer metric + Benjamini–Hochberg
    * step-up FDR adjustment across the group family — the multiple-testing
    * control a metrics platform applies when one experiment reads out many
    * metrics at once. Input: (group, variant ∈ {0,1}, integer x). The group
    * table is tiny (≤ `maxGroups`, BoundedWindow-guarded); everything
    * upstream of it is one map-side-combinable aggregate. Output per group:
    * (group, n_a, n_b, z, p, p_bh, signif at `alpha`), ordered by group.
    * q(i) = min_{j≥i} min(1, p(j)·m/j) — the classic step-up, computed as a
    * reverse running min over the rank ordering.
    */
  def welchBh(obs: DataFrame, groupCol: String, variantCol: String,
      metricCol: String, alpha: Double = 0.1, maxGroups: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = col(metricCol)
    val g = obs.groupBy(col(groupCol).as("g")).agg(
      sum(when(col(variantCol) === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col(variantCol) === 0, x).otherwise(0L)).as("s1_a"),
      sum(when(col(variantCol) === 0, x * x).otherwise(0L)).as("s2_a"),
      sum(when(col(variantCol) =!= 0, 1L).otherwise(0L)).as("n_b"),
      sum(when(col(variantCol) =!= 0, x).otherwise(0L)).as("s1_b"),
      sum(when(col(variantCol) =!= 0, x * x).otherwise(0L)).as("s2_b"))
    val scored = g.withColumn("z_raw", expr(welchZSql))
      .withColumn("p_raw", expr(pFromZSql))
    val wAsc = Window.orderBy(col("p_raw"), col("g"))
    val wAll = Window.orderBy(col("p_raw"), col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wDesc = Window.orderBy(col("rk").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    BoundedWindow(scored, maxGroups, s"BH metric family (≤ $maxGroups groups)")
      .withColumn("rk", row_number().over(wAsc))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("c", least(expr("(p_raw * m) / rk"), lit(1.0)))
      .withColumn("q_raw", min(col("c")).over(wDesc))
      .select(col("g").as(groupCol), col("n_a"), col("n_b"),
        round(col("z_raw"), 6).as("z"), round(col("p_raw"), 6).as("p"),
        round(col("q_raw"), 6).as("p_bh"),
        when(col("q_raw") <= alpha, 1L).otherwise(0L).as("signif"))
      .orderBy(col(groupCol))
  }

  /** DuckDB replay of [[welchBh]] over per-event cents grouped by
    * event_type with user-parity arms — shares the exact `welchZSql` /
    * `pFromZSql` text, so the double trees are identical by construction.
    */
  def welchBhDuckSql(alpha: Double): String =
    s"""WITH e AS (
       |  SELECT event_type AS g, user_id % 2 AS v,
       |         CAST(round(value * 100) AS BIGINT) AS x
       |  FROM events
       |), agg AS (
       |  SELECT g,
       |    sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
       |    sum(CASE WHEN v = 0 THEN x ELSE 0 END)::BIGINT AS s1_a,
       |    sum(CASE WHEN v = 0 THEN x * x ELSE 0 END)::BIGINT AS s2_a,
       |    sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_b,
       |    sum(CASE WHEN v <> 0 THEN x ELSE 0 END)::BIGINT AS s1_b,
       |    sum(CASE WHEN v <> 0 THEN x * x ELSE 0 END)::BIGINT AS s2_b
       |  FROM e GROUP BY 1
       |), sc AS (
       |  SELECT g, n_a, n_b, $welchZSql AS z_raw FROM agg
       |), pp AS (
       |  SELECT *, $pFromZSql AS p_raw FROM sc
       |), rk AS (
       |  SELECT *, row_number() OVER (ORDER BY p_raw, g) AS rk,
       |         count(*) OVER () AS m
       |  FROM pp
       |), qq AS (
       |  SELECT *, min(least((p_raw * m) / rk, 1.0))
       |              OVER (ORDER BY rk DESC ROWS UNBOUNDED PRECEDING) AS q_raw
       |  FROM rk
       |)
       |SELECT g AS event_type, n_a, n_b, round(z_raw, 6) AS z,
       |       round(p_raw, 6) AS p, round(q_raw, 6) AS p_bh,
       |       (CASE WHEN q_raw <= $alpha THEN 1 ELSE 0 END)::BIGINT AS signif
       |FROM qq ORDER BY 1""".stripMargin

  /** Winsorized and trimmed per-variant means of an integer metric —
    * the robust-metric readout beside the raw mean. k = ⌊frac·n⌋ per
    * variant; winsorizing replaces the k smallest with the (k+1)-th order
    * statistic and the k largest with the (n−k)-th; trimming drops both
    * tails. Ranks come from the distributed [[globalRank]] over
    * (variant, x, id) minus a per-variant offset (no per-variant global
    * window), and every sum is an exact integer — the ONLY doubles are the
    * three final divisions, identical in the oracle by construction.
    * Output: (variant, n, mean, winsor_mean, trim_mean).
    */
  def winsorMeans(perUnit: DataFrame, idCol: String, metricCol: String,
      variantCol: String, frac: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = perUnit.select(col(variantCol).as("v"), col(metricCol).as("x"),
      col(idCol).as("uid"))
    val ranked = globalRank(u, Seq(col("v"), col("x"), col("uid")), "gr")
    val wOff = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val meta = BoundedWindow(
        u.groupBy("v").agg(count(lit(1)).as("n")), 64L,
        "winsor variant table (one row per arm)")
      .withColumn("off", coalesce(sum("n").over(wOff), lit(0L)))
      .withColumn("k", floor(col("n") * lit(frac)).cast("long"))
    ranked.join(broadcast(meta), "v")
      .withColumn("pr", col("gr") - col("off"))
      .groupBy("v").agg(
        max(col("n")).as("n"), max(col("k")).as("k"),
        sum(col("x")).as("s_all"),
        sum(when(col("pr") > col("k") && col("pr") <= col("n") - col("k"),
          col("x")).otherwise(0L)).as("s_mid"),
        max(when(col("pr") === col("k") + 1, col("x"))).as("lo"),
        max(when(col("pr") === col("n") - col("k"), col("x"))).as("hi"))
      .select(col("v").as("variant"), col("n"),
        round(col("s_all").cast("double") / col("n"), 6).as("mean"),
        round((col("s_mid") + col("k") * col("lo") + col("k") * col("hi"))
          .cast("double") / col("n"), 6).as("winsor_mean"),
        when(col("n") > lit(2L) * col("k"),
          round(col("s_mid").cast("double") / (col("n") - lit(2L) * col("k")), 6))
          .as("trim_mean"))
      .orderBy("variant")
  }

  /** DuckDB replay of [[winsorMeans]] over per-user total purchase cents
    * with user-parity arms.
    */
  def winsorDuckSql(frac: Double): String =
    s"""WITH u AS (
       |  SELECT user_id % 2 AS v, user_id AS uid,
       |         sum(CASE WHEN event_type = 'purchase'
       |                  THEN CAST(round(value * 100) AS BIGINT)
       |                  ELSE 0 END)::BIGINT AS x
       |  FROM events GROUP BY 1, 2
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY v ORDER BY x, uid) AS pr
       |  FROM u
       |), meta AS (
       |  SELECT v, count(*)::BIGINT AS n,
       |         CAST(floor(count(*) * $frac) AS BIGINT) AS k
       |  FROM u GROUP BY 1
       |), a AS (
       |  SELECT r.v, max(n) AS n, max(k) AS k, sum(x)::BIGINT AS s_all,
       |    sum(CASE WHEN pr > k AND pr <= n - k THEN x ELSE 0 END)::BIGINT AS s_mid,
       |    max(CASE WHEN pr = k + 1 THEN x END) AS lo,
       |    max(CASE WHEN pr = n - k THEN x END) AS hi
       |  FROM r JOIN meta ON r.v = meta.v GROUP BY 1
       |)
       |SELECT v AS variant, n,
       |  round(CAST(s_all AS DOUBLE) / n, 6) AS mean,
       |  round(CAST(s_mid + k * lo + k * hi AS DOUBLE) / n, 6) AS winsor_mean,
       |  CASE WHEN n > 2 * k
       |       THEN round(CAST(s_mid AS DOUBLE) / (n - 2 * k), 6) END AS trim_mean
       |FROM a ORDER BY variant""".stripMargin

  /** SQL `ntile(q)` bucket recovered from a 1-based global rank over `n`
    * rows — the first (n mod q) buckets hold ⌈n/q⌉ rows, the rest ⌊n/q⌋
    * (identical to Spark's and DuckDB's NTile). Lets the distributed
    * [[globalRank]] replace a global-window ntile without changing a single
    * bucket assignment. Double division is exact here (operands ≪ 2⁵²).
    */
  def ntileFromRank(rank1: Column, n: Column, q: Int): Column = {
    val r = rank1 - lit(1L)
    val k = floor(n / lit(q)).cast("long")
    val m = (n % lit(q)).cast("long")
    val thr = (k + lit(1L)) * m
    when(r < thr, floor(r / (k + lit(1L))).cast("long") + lit(1L))
      .otherwise(m + floor((r - thr) / greatest(k, lit(1L))).cast("long") + lit(1L))
  }

  /** Exact Gini coefficient of per-user purchase revenue — the
    * concentration readout behind "top 1% of users drive X%" dashboards:
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted cents.
    * Both moments are EXACT integer sums (order-free), so the single
    * closing division is the only float op.
    *
    * The global rank runs over the per-user rollup (millions of rows at
    * 100 TB of events, not trillions) via [[globalRank]] — range-partitioned
    * sort + per-partition offsets, never a single-partition window.
    */
  def giniRevenue(events: DataFrame, convType: String = "purchase"): DataFrame = {
    val perUser = events.filter(col("event_type") === convType)
      .groupBy("user_id")
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val ranked = globalRank(perUser, Seq(col("cents").asc, col("user_id").asc), "i")
    ranked.agg(count(lit(1)).as("n"), sum("cents").as("sx"),
        sum(col("i") * col("cents")).as("sixi"))
      .select(col("n").as("n_users"), col("sx").as("total_cents"),
        round((lit(2L) * col("sixi") - (col("n") + lit(1L)) * col("sx"))
          / (col("n") * col("sx")), 6).as("gini"))
  }

  /** DuckDB replay of [[giniRevenue]]: identical rank order and moment
    * trees. */
  def giniDuckSql(convType: String = "purchase"): String =
    s"""WITH pu AS (
       |  SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
       |  FROM events WHERE event_type = '$convType' GROUP BY 1
       |), r AS (
       |  SELECT cents, CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS i
       |  FROM pu
       |), m AS (
       |  SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS sx,
       |         CAST(sum(i * cents) AS BIGINT) AS sixi
       |  FROM r
       |)
       |SELECT n AS n_users, sx AS total_cents,
       |       round((2 * sixi - (n + 1) * sx) / (n * sx), 6) AS gini
       |FROM m""".stripMargin

  /** DAU/MAU stickiness (the product-engagement ratio): per day, exact
    * distinct daily actives over exact distinct trailing-30-day actives.
    * The event volume collapses to the deduped (user, day) table first
    * (one map-side-combinable shuffle); the 30× window fan-out then runs
    * on that compact table, so a 100 TB event log pays the explode only
    * on |users|·|days| rows. Exact integers; one ratio division.
    * Days with fewer than 30 predecessor days still report (their MAU
    * window is truncated at the corpus start, as every dashboard does).
    */
  def stickiness(events: DataFrame): DataFrame = {
    val userDays = events
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    val dau = userDays.groupBy("day").agg(count(lit(1)).as("dau"))
    val mau = userDays
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 29)).as("wday"))
      .groupBy(col("wday").as("day"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, "day")
      .select(col("day"), col("dau"), col("mau"),
        round(col("dau") / col("mau"), 6).as("stickiness"))
      .orderBy("day")
  }

  /** DuckDB replay of [[stickiness]]. */
  def stickinessDuckSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
      |), dau AS (
      |  SELECT day, count(*) AS dau FROM ud GROUP BY 1
      |), mau AS (
      |  SELECT wday AS day, count(DISTINCT user_id) AS mau FROM (
      |    SELECT user_id, unnest(range(day, day + 30)) AS wday FROM ud
      |  ) GROUP BY 1
      |)
      |SELECT d.day AS day, d.dau, m.mau, round(d.dau / m.mau, 6) AS stickiness
      |FROM dau d JOIN mau m ON m.day = d.day
      |ORDER BY 1""".stripMargin

  /** Hopping (sliding) window counts — the batch twin of Flink's HOP /
    * Spark's window(slide): width 3 h, hop 1 h, so every event lands in 3
    * windows via a 3-element generator in the scan projection (no
    * pre-shuffle), then one (event_type, window-start) aggregate. Exact
    * integers end to end.
    */
  def hoppingCounts(events: DataFrame, widthHours: Int = 3): DataFrame = {
    val hour = expr("ts div 3600000000000")
    events
      .select(col("event_type"), col("user_id"),
        explode(sequence(hour - (widthHours - 1), hour)).as("win_start"))
      .groupBy(col("event_type"), col("win_start"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type", "win_start")
  }

  /** DuckDB replay of [[hoppingCounts]]. */
  def hoppingDuckSql(widthHours: Int = 3): String =
    s"""WITH h AS (
       |  SELECT event_type, user_id, epoch_ns(ts) // 3600000000000 AS hour FROM events
       |), g AS (
       |  SELECT event_type, user_id,
       |         unnest(range(hour - ${widthHours - 1}, hour + 1)) AS win_start
       |  FROM h
       |)
       |SELECT event_type, CAST(win_start AS BIGINT) AS win_start,
       |       count(*) AS n, count(DISTINCT user_id) AS n_users
       |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** RFM segmentation: per user recency (last purchase day), frequency
    * (purchase count) and monetary (cent sum), each cut into `q` quantile
    * buckets by `ntile` under a total order (metric desc, user_id asc — so
    * bucket assignment is deterministic), then segment population counts.
    *
    * Scale shape: the per-user rollup is one shuffle; each quantile cut is
    * a distributed [[globalRank]] (range-sort + per-partition offsets) over
    * the USER table with the ntile bucket recovered in closed form from the
    * rank ([[ntileFromRank]] — bit-identical assignments), then one
    * user_id-keyed join per metric. No single-partition window anywhere.
    * Expects (user_id, event_id, tsn µs, event_type, value).
    */
  def rfmSegments(events: DataFrame, q: Int = 5,
      convType: String = "purchase"): DataFrame = {
    val dayUs = 86400000000L
    val perUser = events.filter(col("event_type") === convType)
      .groupBy("user_id")
      .agg(max(expr(s"tsn DIV $dayUs")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val nDf = perUser.agg(count(lit(1)).as("nn"))
    def cut(metric: String, name: String): DataFrame =
      globalRank(perUser.select(col("user_id"), col(metric)),
          Seq(col(metric).desc, col("user_id").asc), "i")
        .crossJoin(nDf) // 1-row scalar, broadcast
        .select(col("user_id"), ntileFromRank(col("i"), col("nn"), q).as(name))
    perUser.select("user_id", "cents")
      .join(cut("last_day", "r_q"), "user_id")
      .join(cut("freq", "f_q"), "user_id")
      .join(cut("cents", "m_q"), "user_id")
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("users"), sum(col("cents")).as("seg_cents"))
      .orderBy("r_q", "f_q", "m_q")
  }

  /** DuckDB replay of [[rfmSegments]] — ntile ties are impossible by
    * construction (user_id is the final sort key).
    */
  def rfmSegmentsDuckSql(q: Int = 5, convType: String = "purchase"): String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS tsn, value FROM events
       |  WHERE event_type = '$convType'
       |), u AS (
       |  SELECT user_id, max(tsn // 86400000000) AS last_day, count(*) AS freq,
       |         sum(CAST(round(value * 100) AS BIGINT)) AS cents
       |  FROM e GROUP BY 1
       |), b AS (
       |  SELECT cents,
       |         CAST(ntile($q) OVER (ORDER BY last_day DESC, user_id) AS BIGINT) AS r_q,
       |         CAST(ntile($q) OVER (ORDER BY freq DESC, user_id) AS BIGINT) AS f_q,
       |         CAST(ntile($q) OVER (ORDER BY cents DESC, user_id) AS BIGINT) AS m_q
       |  FROM u
       |)
       |SELECT r_q, f_q, m_q, count(*) AS users, CAST(sum(cents) AS BIGINT) AS seg_cents
       |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ========================================================== forecasting

  /** Holt double exponential smoothing (linear-trend forecast) over each
    * event_type's daily count series, α = β = 0.5 (dyadic constants: every
    * recurrence step is the identical IEEE expression tree in both engines,
    * so the fold is bit-reproducible). Init level = y₁, trend = 0.
    *
    * The recurrence is inherently sequential per series, so it runs as ONE
    * `aggregate` HOF over the day-sorted (day, n) array per event_type —
    * pure codegen, no UDF, no driver loop. Scale shape: the only full-data
    * shuffle is the daily count (map-side combinable); per-series state is
    * days-sized (the pre-agg bounds the array at |days|, independent of
    * event volume), so a 100 TB log forecasts in one agg + one tiny fold.
    * Output: terminal (level, trend) + h-step forecasts ŷ_h = level+h·trend.
    */
  def holtForecast(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("day", expr("ts div 86400000000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("ds"))
    val fitted = series.withColumn("st",
      aggregate(
        col("ds"),
        struct(lit(0.0).as("l"), lit(0.0).as("b"), lit(true).as("first")),
        (acc, d) => {
          val y = d.getField("n").cast("double")
          val l = acc.getField("l")
          val b = acc.getField("b")
          val lNew = lit(0.5) * y + lit(0.5) * (l + b)
          val bNew = lit(0.5) * (lNew - l) + lit(0.5) * b
          struct(
            when(acc.getField("first"), y).otherwise(lNew).as("l"),
            when(acc.getField("first"), lit(0.0)).otherwise(bNew).as("b"),
            lit(false).as("first"))
        }))
    fitted.select(col("event_type"),
      round(col("st.l"), 6).as("level"),
      round(col("st.b"), 6).as("trend"),
      round(col("st.l") + col("st.b"), 6).as("f1"),
      round(col("st.l") + lit(2.0) * col("st.b"), 6).as("f2"),
      round(col("st.l") + lit(3.0) * col("st.b"), 6).as("f3"))
      .orderBy("event_type")
  }

  /** DuckDB replay of [[holtForecast]]: the same day-ordered fold as a
    * recursive CTE stepping i → i+1, every arithmetic node written in the
    * identical shape (lNew inlined twice in the trend update exactly as the
    * Column expression duplicates it).
    */
  def holtForecastDuckSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), idx AS (
      |  SELECT event_type, day, n,
      |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      |  FROM daily
      |), walk(event_type, i, l, b) AS (
      |  -- the anchor's b MUST be cast: a bare 0.0 is DECIMAL(2,1) in DuckDB
      |  -- and the recursive union freezes the column to it, silently
      |  -- rounding every trend update to one decimal
      |  SELECT event_type, 1, n::DOUBLE, CAST(0.0 AS DOUBLE) FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT d.event_type, w.i + 1,
      |         0.5 * d.n + 0.5 * (w.l + w.b),
      |         0.5 * ((0.5 * d.n + 0.5 * (w.l + w.b)) - w.l) + 0.5 * w.b
      |  FROM walk w JOIN idx d ON d.event_type = w.event_type AND d.i = w.i + 1
      |), fin AS (
      |  SELECT w.event_type, w.l, w.b
      |  FROM walk w
      |  JOIN (SELECT event_type, max(i) AS mi FROM walk GROUP BY 1) m
      |    ON m.event_type = w.event_type AND w.i = m.mi
      |)
      |SELECT event_type, round(l, 6) AS level, round(b, 6) AS trend,
      |       round(l + b, 6) AS f1, round(l + 2.0 * b, 6) AS f2,
      |       round(l + 3.0 * b, 6) AS f3
      |FROM fin ORDER BY event_type""".stripMargin

  /** Lead–lag cross-correlation screen: Pearson r between every ordered
    * pair of event-type daily series at lags 0..`maxLag` (series b shifted
    * back by `lag` days, aligned on days where both sides exist — an inner
    * day join, documented) — the causality-screening readout ("errors lead
    * purchases by 2 days") that picks which pairs deserve a real model.
    *
    * All five moments are exact integers per (a, b, lag); r is one fixed
    * tree over them; degenerate pairs (constant series or < 8 aligned
    * days) drop on both sides. Scale shape: daily counts map-side combine;
    * the pair table is |types|²·lags rows keyed on day.
    */
  def lagCorrelation(events: DataFrame, maxLag: Int = 3): DataFrame = {
    val daily = events
      .withColumn("day", expr("ts div 86400000000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val a = daily.select(col("event_type").as("ta"), col("day"), col("n").as("x"))
    val b = daily.select(col("event_type").as("tb"), col("day").as("dayb"),
      col("n").as("y"))
    val mo = a.crossJoin(
        org.apache.spark.sql.SparkSession.active.range(0, maxLag + 1)
          .select(col("id").as("lag")))
      .join(b, col("ta") =!= col("tb") && col("dayb") === col("day") + col("lag"))
      .groupBy("ta", "tb", "lag")
      .agg(count(lit(1)).as("m"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val num = (col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
    val denx = (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")
    val deny = (col("m") * col("syy") - col("sy") * col("sy")).cast("double")
    mo.filter(col("m") >= 8 &&
        (col("m") * col("sxx") - col("sx") * col("sx")) > 0 &&
        (col("m") * col("syy") - col("sy") * col("sy")) > 0)
      .select(col("ta"), col("tb"), col("lag"), col("m").as("n_days"),
        round(num / sqrt(denx * deny), 6).as("r"))
      .orderBy("ta", "tb", "lag")
  }

  /** DuckDB replay of [[lagCorrelation]]. */
  def lagCorrelationDuckSql(maxLag: Int = 3): String =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), mo AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb, l.lag,
       |         count(*) AS m, sum(a.n) AS sx, sum(b.n) AS sy,
       |         sum(a.n * a.n) AS sxx, sum(a.n * b.n) AS sxy,
       |         sum(b.n * b.n) AS syy
       |  FROM daily a
       |  CROSS JOIN (SELECT unnest(range(0, ${maxLag + 1})) AS lag) l
       |  JOIN daily b ON b.event_type <> a.event_type
       |              AND b.day = a.day + l.lag
       |  GROUP BY 1, 2, 3
       |)
       |SELECT ta, tb, CAST(lag AS BIGINT) AS lag, m AS n_days,
       |       round(CAST(m*sxy - sx*sy AS DOUBLE)
       |             / sqrt(CAST(m*sxx - sx*sx AS DOUBLE)
       |                    * CAST(m*syy - sy*sy AS DOUBLE)), 6) AS r
       |FROM mo
       |WHERE m >= 8 AND (m*sxx - sx*sx) > 0 AND (m*syy - sy*sy) > 0
       |ORDER BY ta, tb, lag""".stripMargin

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM'13): per user,
    * x = pre-period event count and y = post-period count (the period
    * split is the midpoint day of the observed range); arms are
    * user_id % 2. θ = cov(x,y)/var(x) is estimated POOLED across arms,
    * each user's adjusted metric is y − θ·(x − x̄), and the per-arm mean
    * and variance of both raw and adjusted metrics come out — the
    * variance-reduction readout that decides whether the experiment needed
    * CUPED at all.
    *
    * Every moment (n, Σx, Σy, Σx², Σxy, Σy², per arm and pooled) is an
    * exact integer, so aggregation order is free; θ, the means, and both
    * variances are fixed division trees over those integers replayed
    * identically by the oracle. One user-rollup shuffle; the pooled
    * moments are a 2-row broadcast.
    */
  /** Event-study curve — the parallel-trends diagnostic every [[did]]
    * reading should be accompanied by: for EVERY day, the treated-minus-
    * control gap in per-event mean cents, re-centered by the pre-period
    * baseline gap. Pre-split days hovering near zero support the
    * parallel-trends assumption; post-split days trace the effect's
    * dynamics. Arms and the mid-corpus split match [[did]]; all moments
    * are exact integers, each output value a fixed quotient tree.
    * One day×arm aggregate + a broadcast 1-row baseline — window-free.
    */
  def eventStudy(events: DataFrame): DataFrame = {
    val e = events
      .withColumn("day", expr("ts div 86400000000000"))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("arm", pmod(col("user_id"), lit(2)).cast("long"))
    val rng = e.agg(min("day").as("lo"), max("day").as("hi"))
      .select(expr("(lo + hi + 1) div 2").as("mid"))
    val daily = e.groupBy("day", "arm")
      .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
    def side(a: Int, c: String) = max(when(col("arm") === a, col(c)))
    val perDay = daily.groupBy("day")
      .agg(side(1, "sc").as("st"), side(1, "n").as("nt"),
        side(0, "sc").as("sc0"), side(0, "n").as("nc"))
      .filter(col("nt").isNotNull && col("nc").isNotNull)
      .withColumn("gap",
        col("st").cast("double") / col("nt").cast("double") -
          col("sc0").cast("double") / col("nc").cast("double"))
    val base = perDay.crossJoin(rng).filter(col("day") < col("mid"))
      .agg(sum("st").as("bst"), sum("nt").as("bnt"),
        sum("sc0").as("bsc"), sum("nc").as("bnc"))
      .select((col("bst").cast("double") / col("bnt").cast("double") -
        col("bsc").cast("double") / col("bnc").cast("double")).as("base_gap"))
    perDay.crossJoin(base).crossJoin(rng)
      .select(col("day"), (col("day") >= col("mid")).cast("long").as("post"),
        col("nt"), col("nc"),
        round(col("gap") - col("base_gap"), 6).as("effect_cents"))
      .orderBy("day")
  }

  /** DuckDB replay of [[eventStudy]]. */
  def eventStudyDuckSql: String =
    s"""WITH e AS (
       |  SELECT epoch_ns(ts) // 86400000000000 AS day,
       |         CAST(round(value * 100) AS BIGINT) AS cents,
       |         user_id % 2 AS arm
       |  FROM events
       |), rng AS (
       |  SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e
       |), daily AS (
       |  SELECT day, arm, count(*) AS n, sum(cents) AS sc
       |  FROM e GROUP BY 1, 2
       |), pd AS (
       |  SELECT day,
       |         max(CASE WHEN arm = 1 THEN sc END) AS st,
       |         max(CASE WHEN arm = 1 THEN n END) AS nt,
       |         max(CASE WHEN arm = 0 THEN sc END) AS sc0,
       |         max(CASE WHEN arm = 0 THEN n END) AS nc
       |  FROM daily GROUP BY 1
       |  HAVING max(CASE WHEN arm = 1 THEN n END) IS NOT NULL
       |     AND max(CASE WHEN arm = 0 THEN n END) IS NOT NULL
       |), g AS (
       |  SELECT day, st, nt, sc0, nc,
       |         CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
       |           - CAST(sc0 AS DOUBLE) / CAST(nc AS DOUBLE) AS gap
       |  FROM pd
       |), base AS (
       |  SELECT CAST(sum(st) AS DOUBLE) / CAST(sum(nt) AS DOUBLE)
       |           - CAST(sum(sc0) AS DOUBLE) / CAST(sum(nc) AS DOUBLE) AS base_gap
       |  FROM g CROSS JOIN rng WHERE day < mid
       |)
       |SELECT day,
       |       CAST(CASE WHEN day >= rng.mid THEN 1 ELSE 0 END AS BIGINT) AS post,
       |       CAST(nt AS BIGINT) AS nt, CAST(nc AS BIGINT) AS nc,
       |       round(gap - base_gap, 6) AS effect_cents
       |FROM g CROSS JOIN base CROSS JOIN rng ORDER BY day""".stripMargin

  /** Offline bandit-policy replay (the Li et al. 2011 replay estimator,
    * epoch variant): a greedy policy over per-arm cumulative mean reward,
    * updated once per DAY (the batch cadence real ranking/bandit systems
    * retrain on), evaluated against the logged stream — for each day with
    * history, the policy picks argmax mean over all PRIOR days (ties to
    * the lexicographically smallest arm) and is credited with exactly the
    * logged events of the arm it would have pulled. Returns one row per
    * evaluable day: the chosen arm, matched pulls, matched reward.
    *
    * Replayable by construction: cumulative moments are exact integer
    * sums, the mean is one IEEE quotient, and the argmax is a total order
    * (mean desc, arm asc) — the oracle replays it as a NOT-EXISTS
    * anti-join. The prior-day rollup is a days×daily range join over the
    * (bounded) day-count table, never over raw events.
    */
  def banditReplay(events: DataFrame): DataFrame = {
    val e = events
      .withColumn("day", expr("ts div 86400000000000"))
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val daily = e.groupBy(col("day"), col("event_type").as("arm"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
    val days = daily.select("day").distinct()
    val cum = days.as("d").join(daily.as("h"), col("h.day") < col("d.day"))
      .groupBy(col("d.day").as("day"), col("h.arm").as("arm"))
      .agg((sum(col("h.sc")).cast("double") / sum(col("h.n")).cast("double"))
        .as("mean"))
    val pol = cum.groupBy("day")
      .agg(min(struct((-col("mean")).as("nm"), col("arm").as("arm"))).as("b"))
      .select(col("day"), col("b.arm").as("chosen"))
    e.join(pol, "day")
      .groupBy("day", "chosen")
      .agg(sum(when(col("event_type") === col("chosen"), 1L).otherwise(0L))
          .as("n_matched"),
        sum(when(col("event_type") === col("chosen"), col("cents"))
          .otherwise(0L)).as("cents_matched"))
      .orderBy("day")
  }

  /** DuckDB replay of [[banditReplay]]. */
  def banditReplayDuckSql: String =
    s"""WITH e AS (
       |  SELECT epoch_ns(ts) // 86400000000000 AS day, event_type AS arm,
       |         CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events
       |), daily AS (
       |  SELECT day, arm, count(*) AS n, sum(cents) AS sc
       |  FROM e GROUP BY 1, 2
       |), days AS (SELECT DISTINCT day FROM daily),
       |cum AS (
       |  SELECT d.day, h.arm,
       |         CAST(sum(h.sc) AS DOUBLE) / CAST(sum(h.n) AS DOUBLE) AS mean
       |  FROM days d JOIN daily h ON h.day < d.day GROUP BY 1, 2
       |), pol AS (
       |  SELECT c.day, c.arm AS chosen FROM cum c
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM cum c2 WHERE c2.day = c.day
       |      AND (c2.mean > c.mean OR (c2.mean = c.mean AND c2.arm < c.arm)))
       |)
       |SELECT p.day, p.chosen,
       |       CAST(sum(CASE WHEN e.arm = p.chosen THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_matched,
       |       CAST(sum(CASE WHEN e.arm = p.chosen THEN e.cents ELSE 0 END)
       |            AS BIGINT) AS cents_matched
       |FROM pol p JOIN e ON e.day = p.day
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Sample-ratio-mismatch guard — the first thing a healthy experiment
    * platform checks before reading any metric: a χ² test (1 df) that the
    * observed arm assignment matches the intended 50/50 split. Exact
    * integer user counts; the only IEEE arithmetic is the fixed
    * (o−e)²/e tree and the pinned 3.841458820694124 critical literal
    * (χ²₀.₀₅,₁) shared with the oracle.
    */
  def srmCheck(events: DataFrame): DataFrame = {
    val arms = events
      .select(col("user_id"), pmod(col("user_id"), lit(2)).cast("long").as("arm"))
      .distinct()
      .groupBy("arm").agg(count(lit(1)).as("users"))
    arms.agg(
        max(when(col("arm") === 0, col("users"))).as("users0"),
        max(when(col("arm") === 1, col("users"))).as("users1"))
      .withColumn("e",
        (col("users0") + col("users1")).cast("double") / lit(2.0))
      .withColumn("chi2",
        (col("users0").cast("double") - col("e")) *
          (col("users0").cast("double") - col("e")) / col("e") +
        (col("users1").cast("double") - col("e")) *
          (col("users1").cast("double") - col("e")) / col("e"))
      .select(col("users0"), col("users1"), round(col("chi2"), 6).as("chi2"),
        (col("chi2") > 3.841458820694124).as("srm"))
  }

  /** DuckDB replay of [[srmCheck]]. */
  def srmDuckSql: String =
    s"""WITH a AS (
       |  SELECT DISTINCT user_id, user_id % 2 AS arm FROM events
       |), c AS (
       |  SELECT max(CASE WHEN arm = 0 THEN n END) AS users0,
       |         max(CASE WHEN arm = 1 THEN n END) AS users1
       |  FROM (SELECT arm, count(*) AS n FROM a GROUP BY 1)
       |), f AS (
       |  SELECT users0, users1,
       |         CAST(users0 + users1 AS DOUBLE) / 2.0 AS e
       |  FROM c
       |)
       |SELECT users0, users1,
       |       round((CAST(users0 AS DOUBLE) - e) * (CAST(users0 AS DOUBLE) - e) / e
       |           + (CAST(users1 AS DOUBLE) - e) * (CAST(users1 AS DOUBLE) - e) / e,
       |         6) AS chi2,
       |       ((CAST(users0 AS DOUBLE) - e) * (CAST(users0 AS DOUBLE) - e) / e
       |           + (CAST(users1 AS DOUBLE) - e) * (CAST(users1 AS DOUBLE) - e) / e)
       |         > 3.841458820694124 AS srm
       |FROM f""".stripMargin

  /** A/B-test power analysis: per event type, the per-arm sample size
    * needed to detect a `mdeFrac` relative lift of the per-user cents
    * metric at α = 0.05 (two-sided), power = 0.80 — the classic
    * n = 2(z_{α/2}+z_β)²σ²/δ² planning formula that sits in front of every
    * ev_ab_test run. Variance comes from exact integer moments of per-user
    * cents totals; the z constants are pinned 17-digit literals shared
    * verbatim with the oracle, so every IEEE step replays identically.
    * Two map-side-combinable aggregates, nothing driver-side.
    */
  def abPower(events: DataFrame, mdeFrac: Double = 0.05): DataFrame = {
    val z = lit((1.959963984540054 + 0.8416212335729143) *
      (1.959963984540054 + 0.8416212335729143))
    val perUser = events
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("event_type", "user_id").agg(sum("cents").as("x"))
    perUser.groupBy("event_type")
      .agg(count(lit(1)).as("users"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("mean_c",
        col("sx").cast("double") / col("users").cast("double"))
      .withColumn("var_c",
        col("sxx").cast("double") / col("users").cast("double") -
          col("mean_c") * col("mean_c"))
      .withColumn("delta", col("mean_c") * mdeFrac)
      .withColumn("n_req",
        ceil(lit(2.0) * z * col("var_c") / (col("delta") * col("delta")))
          .cast("long"))
      .select(col("event_type"), col("users"),
        round(col("mean_c"), 6).as("mean_cents"),
        round(col("var_c"), 6).as("var_cents"), col("n_req"))
      .orderBy("event_type")
  }

  /** DuckDB replay of [[abPower]]: identical moments, identical literal
    * constants, identical expression trees.
    */
  def abPowerDuckSql(mdeFrac: Double = 0.05): String =
    s"""WITH pu AS (
       |  SELECT event_type, user_id,
       |         sum(CAST(round(value * 100) AS BIGINT)) AS x
       |  FROM events GROUP BY 1, 2
       |), m AS (
       |  SELECT event_type, count(*) AS users,
       |         CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_c,
       |         CAST(sum(x * x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |           - (CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE))
       |             * (CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS var_c
       |  FROM pu GROUP BY 1
       |)
       |SELECT event_type, users, round(mean_c, 6) AS mean_cents,
       |       round(var_c, 6) AS var_cents,
       |       CAST(ceil(2.0 * ((1.959963984540054 + 0.8416212335729143)
       |                        * (1.959963984540054 + 0.8416212335729143))
       |                 * var_c / ((mean_c * $mdeFrac) * (mean_c * $mdeFrac)))
       |            AS BIGINT) AS n_req
       |FROM m ORDER BY 1""".stripMargin

  /** Difference-in-differences over the 2×2 natural experiment the corpus
    * carries: treatment arm = odd user id (the [[cuped]] assignment), post
    * period = days ≥ the same mid-corpus day split, outcome = per-event
    * revenue in exact integer cents. Emits the four (arm, post) cells —
    * event count, cents sum/mean — each annotated with the common DiD
    * estimate (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre): the
    * parallel-trends counterfactual lift, the estimator CUPED does not
    * cover (CUPED de-noises a randomized A/B; DiD identifies the effect
    * from the time split when assignment was not randomized).
    *
    * All moments are exact integers; the only IEEE arithmetic is the four
    * cell-mean quotients and the fixed signed tree
    * (s11/n11 − s10/n10) − (s01/n01 − s00/n00), written identically in the
    * DuckDB oracle — no order-dependent double summation anywhere.
    * Scale shape: one map-side-combinable 4-group aggregate over the
    * events scan + a broadcast of the 1-row mid-day split and estimate.
    */
  def did(events: DataFrame): DataFrame = {
    val e = events
      .withColumn("day", expr("ts div 86400000000000"))
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val rng = e.agg(min("day").as("lo"), max("day").as("hi"))
      .select(expr("(lo + hi + 1) div 2").as("mid"))
    val cells = e.crossJoin(rng)
      .withColumn("arm", pmod(col("user_id"), lit(2)).cast("long"))
      .withColumn("post", (col("day") >= col("mid")).cast("long"))
      .groupBy("arm", "post")
      .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
    def cell(a: Int, p: Int, c: String) =
      max(when(col("arm") === a && col("post") === p, col(c)))
    val est = cells.agg(
        cell(1, 1, "sc").as("s11"), cell(1, 1, "n").as("n11"),
        cell(1, 0, "sc").as("s10"), cell(1, 0, "n").as("n10"),
        cell(0, 1, "sc").as("s01"), cell(0, 1, "n").as("n01"),
        cell(0, 0, "sc").as("s00"), cell(0, 0, "n").as("n00"))
      .select(((col("s11").cast("double") / col("n11").cast("double") -
                col("s10").cast("double") / col("n10").cast("double")) -
               (col("s01").cast("double") / col("n01").cast("double") -
                col("s00").cast("double") / col("n00").cast("double")))
        .as("did_raw"))
    cells.crossJoin(est)
      .select(col("arm"), col("post"), col("n"), col("sc").as("sum_cents"),
        round(col("sc").cast("double") / col("n").cast("double"), 6)
          .as("mean_cents"),
        round(col("did_raw"), 6).as("did_cents"))
      .orderBy("arm", "post")
  }

  /** DuckDB replay of [[did]]: identical integer moments and the identical
    * fixed signed quotient tree.
    */
  def didDuckSql: String =
    s"""WITH e AS (
       |  SELECT user_id % 2 AS arm, epoch_ns(ts) // 86400000000000 AS day,
       |         CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events
       |), rng AS (
       |  SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e
       |), cells AS (
       |  SELECT arm,
       |         CAST(CASE WHEN day >= r.mid THEN 1 ELSE 0 END AS BIGINT) AS post,
       |         count(*) AS n, sum(cents) AS sc
       |  FROM e CROSS JOIN rng r GROUP BY 1, 2
       |), est AS (
       |  SELECT (max(CASE WHEN arm = 1 AND post = 1 THEN CAST(sc AS DOUBLE) END)
       |            / max(CASE WHEN arm = 1 AND post = 1 THEN CAST(n AS DOUBLE) END)
       |          - max(CASE WHEN arm = 1 AND post = 0 THEN CAST(sc AS DOUBLE) END)
       |            / max(CASE WHEN arm = 1 AND post = 0 THEN CAST(n AS DOUBLE) END))
       |       - (max(CASE WHEN arm = 0 AND post = 1 THEN CAST(sc AS DOUBLE) END)
       |            / max(CASE WHEN arm = 0 AND post = 1 THEN CAST(n AS DOUBLE) END)
       |          - max(CASE WHEN arm = 0 AND post = 0 THEN CAST(sc AS DOUBLE) END)
       |            / max(CASE WHEN arm = 0 AND post = 0 THEN CAST(n AS DOUBLE) END))
       |         AS did_raw
       |  FROM cells
       |)
       |SELECT arm, post, n, CAST(sc AS BIGINT) AS sum_cents,
       |       round(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_cents,
       |       round(est.did_raw, 6) AS did_cents
       |FROM cells CROSS JOIN est ORDER BY 1, 2""".stripMargin

  def cuped(events: DataFrame): DataFrame = {
    val withDay = events.withColumn("day", expr("ts div 86400000000000"))
    val rng = withDay.agg(min("day").as("lo"), max("day").as("hi"))
      .select(expr("(lo + hi + 1) div 2").as("mid"))
    val perUser = withDay.crossJoin(rng)
      .groupBy("user_id")
      .agg(sum(when(col("day") < col("mid"), 1L).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("mid"), 1L).otherwise(0L)).as("y"))
      .withColumn("arm", pmod(col("user_id"), lit(2)).cast("long"))
    val pooled = perUser.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
      .select(col("n").as("pn"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("theta"),
        (col("sx").cast("double") / col("n").cast("double")).as("xbar"))
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    arms.crossJoin(pooled)
      .withColumn("nd", col("n").cast("double"))
      .withColumn("mean_y", col("sy").cast("double") / col("nd"))
      .withColumn("mean_adj",
        (col("sy").cast("double") - col("theta") *
          (col("sx").cast("double") - col("nd") * col("xbar"))) / col("nd"))
      .withColumn("var_y",
        col("syy").cast("double") / col("nd") - col("mean_y") * col("mean_y"))
      // Var(y − θx) = E[(y−θx)²] − E[y−θx]²: the θ-shift by x̄ cancels
      .withColumn("ezz",
        (col("syy").cast("double") - lit(2.0) * col("theta") * col("sxy").cast("double")
          + col("theta") * col("theta") * col("sxx").cast("double")) / col("nd"))
      .withColumn("ez",
        (col("sy").cast("double") - col("theta") * col("sx").cast("double")) / col("nd"))
      .withColumn("var_adj", col("ezz") - col("ez") * col("ez"))
      .select(col("arm"), col("n").as("users"),
        round(col("mean_y"), 6).as("mean_y"),
        round(col("mean_adj"), 6).as("mean_adj"),
        round(col("var_y"), 6).as("var_y"),
        round(col("var_adj"), 6).as("var_adj"),
        round(col("theta"), 6).as("theta"))
      .orderBy("arm")
  }

  /** DuckDB replay of [[cuped]]: identical integer moments, identical
    * θ/mean/variance trees.
    */
  def cupedDuckSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
       |), rng AS (
       |  SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e
       |), u AS (
       |  SELECT user_id,
       |         sum(CASE WHEN day < r.mid THEN 1 ELSE 0 END) AS x,
       |         sum(CASE WHEN day >= r.mid THEN 1 ELSE 0 END) AS y,
       |         user_id % 2 AS arm
       |  FROM e CROSS JOIN rng r GROUP BY user_id, r.mid
       |), pooled AS (
       |  SELECT CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS DOUBLE)
       |         / CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS DOUBLE) AS theta,
       |         CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS xbar
       |  FROM u
       |), arms AS (
       |  SELECT arm, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
       |         sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
       |  FROM u GROUP BY 1
       |), f AS (
       |  SELECT a.*, p.theta, p.xbar, CAST(a.n AS DOUBLE) AS nd
       |  FROM arms a CROSS JOIN pooled p
       |), g AS (
       |  SELECT arm, n, theta,
       |         CAST(sy AS DOUBLE) / nd AS mean_y,
       |         (CAST(sy AS DOUBLE) - theta
       |            * (CAST(sx AS DOUBLE) - nd * xbar)) / nd AS mean_adj,
       |         CAST(syy AS DOUBLE) / nd
       |           - (CAST(sy AS DOUBLE) / nd) * (CAST(sy AS DOUBLE) / nd) AS var_y,
       |         (CAST(syy AS DOUBLE) - 2.0 * theta * CAST(sxy AS DOUBLE)
       |            + theta * theta * CAST(sxx AS DOUBLE)) / nd AS ezz,
       |         (CAST(sy AS DOUBLE) - theta * CAST(sx AS DOUBLE)) / nd AS ez
       |  FROM f
       |)
       |SELECT CAST(arm AS BIGINT) AS arm, n AS users,
       |       round(mean_y, 6) AS mean_y, round(mean_adj, 6) AS mean_adj,
       |       round(var_y, 6) AS var_y,
       |       round(ezz - ez * ez, 6) AS var_adj, round(theta, 6) AS theta
       |FROM g ORDER BY arm""".stripMargin

  /** Walk-forward one-step backtest of the Holt forecast (α=β=0.5): at
    * each day t ≥ 2 the pre-update state forecasts f = l + b, the absolute
    * error |yₜ − f| accumulates, and only then does the state consume yₜ —
    * the standard "would the forecaster have worked" readout (MAE and
    * worst-case error per series) that turns ev_forecast from a number
    * into a graded model.
    *
    * The error sum folds inside the same sequential aggregate-HOF as the
    * smoothing state, so its addition order is the day order in both
    * engines — no order-free double sum anywhere. One map-side-combinable
    * daily count; per-series state is a 4-field struct.
    */
  def holtBacktest(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("day", expr("ts div 86400000000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val init = struct(lit(0.0).as("l"), lit(0.0).as("b"),
      lit(0.0).as("sae"), lit(0.0).as("mx"), lit(true).as("first"))
    val folded = series.withColumn("st",
      aggregate(col("ds"), init, (acc, d) => {
        val y = d.getField("n").cast("double")
        val f = acc.getField("l") + acc.getField("b")
        val e = abs(y - f)
        val lNew = lit(0.5) * y + lit(0.5) * (acc.getField("l") + acc.getField("b"))
        val bNew = lit(0.5) * (lNew - acc.getField("l")) +
          lit(0.5) * acc.getField("b")
        struct(
          when(acc.getField("first"), y).otherwise(lNew).as("l"),
          when(acc.getField("first"), lit(0.0)).otherwise(bNew).as("b"),
          when(acc.getField("first"), lit(0.0))
            .otherwise(acc.getField("sae") + e).as("sae"),
          when(acc.getField("first"), lit(0.0))
            .otherwise(greatest(acc.getField("mx"), e)).as("mx"),
          lit(false).as("first"))
      }))
    folded.select(col("event_type"),
      (size(col("ds")) - 1).cast("long").as("n_eval"),
      round(col("st.sae") / (size(col("ds")) - 1).cast("double"), 6).as("mae"),
      round(col("st.mx"), 6).as("max_ae"))
      .orderBy("event_type")
  }

  /** DuckDB replay of [[holtBacktest]]: recursive CTE carrying the same
    * 4-field state, lNew inlined into bNew exactly as the Column tree.
    */
  def holtBacktestDuckSql: String = {
    val lNew = "(0.5 * d.n + 0.5 * (w.l + w.b))"
    val e = "abs(d.n - (w.l + w.b))"
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), idx AS (
       |  SELECT event_type, n,
       |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
       |  FROM daily
       |), walk(event_type, i, l, b, sae, mx) AS (
       |  SELECT event_type, 1, n::DOUBLE, CAST(0.0 AS DOUBLE),
       |         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT d.event_type, w.i + 1,
       |         $lNew,
       |         0.5 * ($lNew - w.l) + 0.5 * w.b,
       |         w.sae + $e,
       |         greatest(w.mx, $e)
       |  FROM walk w JOIN idx d ON d.event_type = w.event_type AND d.i = w.i + 1
       |), fin AS (
       |  SELECT w.* FROM walk w
       |  JOIN (SELECT event_type, max(i) AS mi FROM walk GROUP BY 1) m
       |    ON m.event_type = w.event_type AND w.i = m.mi
       |  WHERE w.i >= 2
       |)
       |SELECT event_type, CAST(i - 1 AS BIGINT) AS n_eval,
       |       round(sae / CAST(i - 1 AS DOUBLE), 6) AS mae,
       |       round(mx, 6) AS max_ae
       |FROM fin ORDER BY event_type""".stripMargin
  }

  /** Empirical-Bayes smoothed per-user conversion rates (beta-binomial
    * shrinkage toward the global rate, prior strength `m` pseudo-events):
    * eb = (conv + m·p₀)/(n + m) — the standard fix for small-sample rate
    * ranking (a 1/1 user must not outrank a 95/100 user). Returns the
    * top-`k` users by smoothed rate.
    *
    * Counts are exact; p₀ and each eb are fixed division trees over them,
    * ordering is on the ROUNDED eb with user_id tie-break so the top-k cut
    * is engine-independent. One user-rollup shuffle; the global rate is a
    * 2-long scalar crossJoin, and the top-k is a TakeOrdered, not a sort.
    */
  def ebConversion(events: DataFrame, convType: String = "purchase",
      m: Int = 20, k: Int = 50): DataFrame = {
    val perUser = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === convType, 1L).otherwise(0L)).as("conv"))
    val tot = perUser.agg(sum("n").as("tn"), sum("conv").as("tc"))
    perUser.crossJoin(tot)
      .withColumn("p0", col("tc").cast("double") / col("tn").cast("double"))
      .select(col("user_id"), col("n"), col("conv"),
        round(col("conv").cast("double") / col("n").cast("double"), 6)
          .as("raw_rate"),
        round((col("conv").cast("double") + lit(m) * col("p0")) /
          (col("n").cast("double") + lit(m)), 6).as("eb_rate"))
      .orderBy(col("eb_rate").desc, col("user_id"))
      .limit(k)
  }

  /** DuckDB replay of [[ebConversion]]. */
  def ebConversionDuckSql(convType: String = "purchase",
      m: Int = 20, k: Int = 50): String =
    s"""WITH u AS (
       |  SELECT user_id, count(*) AS n,
       |         sum(CASE WHEN event_type = '$convType' THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY 1
       |), t AS (
       |  SELECT CAST(sum(conv) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS p0 FROM u
       |)
       |SELECT user_id, n, CAST(conv AS BIGINT) AS conv,
       |       round(CAST(conv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
       |       round((CAST(conv AS DOUBLE) + $m * t.p0)
       |             / (CAST(n AS DOUBLE) + $m), 6) AS eb_rate
       |FROM u CROSS JOIN t
       |ORDER BY eb_rate DESC, user_id LIMIT $k""".stripMargin

  /** Pareto concentration deciles: users ranked by event volume, cut into
    * 10 ntile buckets (ties broken by user_id, so bucket assignment is
    * deterministic), with each decile's exact event count, cent sum, and
    * volume share — the "does the top decile carry 80%?" readout beside
    * the single-number Gini (ev_gini).
    *
    * All quantities are exact integers except the two closing share
    * divisions. One user-rollup shuffle; the decile cut is a distributed
    * [[globalRank]] over the user table (never a single-partition window)
    * with the ntile bucket recovered in closed form ([[ntileFromRank]]).
    */
  def paretoDeciles(events: DataFrame): DataFrame = {
    val perUser = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val tot = perUser.agg(sum("n").as("tn"), sum("cents").as("tc"))
    val nDf = perUser.agg(count(lit(1)).as("nn"))
    globalRank(perUser, Seq(col("n").desc, col("user_id").asc), "i")
      .crossJoin(nDf) // 1-row scalar, broadcast
      .withColumn("decile", ntileFromRank(col("i"), col("nn"), 10))
      .groupBy("decile")
      .agg(count(lit(1)).as("users"), sum("n").as("events"),
        sum("cents").as("cents"))
      .crossJoin(tot)
      .select(col("decile"), col("users"), col("events"), col("cents"),
        round(col("events").cast("double") / col("tn").cast("double"), 6)
          .as("event_share"),
        round(col("cents").cast("double") / col("tc").cast("double"), 6)
          .as("cent_share"))
      .orderBy("decile")
  }

  /** DuckDB replay of [[paretoDeciles]]. */
  def paretoDecilesDuckSql: String =
    s"""WITH u AS (
       |  SELECT user_id, count(*) AS n,
       |         sum(CAST(round(value * 100) AS BIGINT)) AS cents
       |  FROM events GROUP BY 1
       |), b AS (
       |  SELECT CAST(ntile(10) OVER (ORDER BY n DESC, user_id) AS BIGINT)
       |           AS decile, n, cents
       |  FROM u
       |), t AS (
       |  SELECT sum(n) AS tn, sum(cents) AS tc FROM u
       |)
       |SELECT decile, count(*) AS users, CAST(sum(n) AS BIGINT) AS events,
       |       CAST(sum(cents) AS BIGINT) AS cents,
       |       round(CAST(sum(n) AS DOUBLE) / CAST(t.tn AS DOUBLE), 6)
       |         AS event_share,
       |       round(CAST(sum(cents) AS DOUBLE) / CAST(t.tc AS DOUBLE), 6)
       |         AS cent_share
       |FROM b CROSS JOIN t
       |GROUP BY decile, t.tn, t.tc ORDER BY decile""".stripMargin

  /** Two-sided CUSUM control chart (Page 1954) per event_type over its
    * daily count series: S⁺ₜ = max(0, S⁺ₜ₋₁ + (yₜ − μ − k)) and
    * S⁻ₜ = max(0, S⁻ₜ₋₁ + (μ − k − yₜ)) with allowance k = σ/2 and alarm
    * threshold h = 4σ — the sequential drift detector beside the global
    * z-score (ev_anomaly) and the windowed ratio test (ev_changepoint).
    * No reset after alarm (documented); alarms counts days with either
    * statistic above h.
    *
    * μ and σ come from exact integer moments (Σy, Σy² over the series), so
    * the fold constants are identical doubles in both engines; the
    * recurrence itself is one aggregate-HOF fold over the day-sorted count
    * array, replayed step-for-step by the oracle's recursive CTE. Scale
    * shape: one map-side-combinable daily count; per-series state is one
    * 3-field struct.
    */
  def cusum(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("day", expr("ts div 86400000000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("ds"),
        count(lit(1)).as("m"), sum("n").as("sx"),
        sum(col("n") * col("n")).as("sxx"))
      .withColumn("mu", col("sx").cast("double") / col("m").cast("double"))
      .withColumn("sigma",
        sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) /
          col("m").cast("double"))
    val init = struct(lit(0.0).as("sp"), lit(0.0).as("sn"), lit(0L).as("al"))
    val folded = series.withColumn("st",
      aggregate(col("ds"), init, (acc, d) => {
        val y = d.getField("n").cast("double")
        val k = col("sigma") / 2
        val h = col("sigma") * 4
        val spNew = greatest(lit(0.0),
          acc.getField("sp") + (y - col("mu") - k))
        val snNew = greatest(lit(0.0),
          acc.getField("sn") + (col("mu") - k - y))
        struct(spNew.as("sp"), snNew.as("sn"),
          (acc.getField("al") +
            when(spNew > h || snNew > h, 1L).otherwise(0L)).as("al"))
      }))
    folded.select(col("event_type"), col("m").as("days"),
      round(col("mu"), 6).as("mu"), round(col("sigma"), 6).as("sigma"),
      round(col("st.sp"), 6).as("cusum_up"),
      round(col("st.sn"), 6).as("cusum_dn"),
      col("st.al").as("alarms"))
      .orderBy("event_type")
  }

  /** DuckDB replay of [[cusum]]: identical exact-moment constants,
    * identical greatest/max recurrence trees in a recursive CTE.
    */
  def cusumDuckSql: String = {
    val spNew = "greatest(0.0, w.sp + (d.n - d.mu - d.sigma / 2))"
    val snNew = "greatest(0.0, w.sn + (d.mu - d.sigma / 2 - d.n))"
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), stats AS (
       |  SELECT event_type, count(*) AS m, sum(n) AS sx, sum(n*n) AS sxx
       |  FROM daily GROUP BY 1
       |), cons AS (
       |  SELECT event_type, m,
       |         CAST(sx AS DOUBLE) / CAST(m AS DOUBLE) AS mu,
       |         sqrt(CAST(m*sxx - sx*sx AS DOUBLE)) / CAST(m AS DOUBLE) AS sigma
       |  FROM stats
       |), idx AS (
       |  SELECT d.event_type, d.n, c.mu, c.sigma,
       |         row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS i
       |  FROM daily d JOIN cons c ON c.event_type = d.event_type
       |), walk(event_type, i, sp, sn, al) AS (
       |  SELECT event_type, 0, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
       |         CAST(0 AS BIGINT)
       |  FROM cons
       |  UNION ALL
       |  SELECT d.event_type, w.i + 1, $spNew, $snNew,
       |         w.al + CASE WHEN $spNew > d.sigma * 4
       |                       OR $snNew > d.sigma * 4 THEN 1 ELSE 0 END
       |  FROM walk w JOIN idx d ON d.event_type = w.event_type AND d.i = w.i + 1
       |), fin AS (
       |  SELECT w.* FROM walk w
       |  JOIN (SELECT event_type, max(i) AS mi FROM walk GROUP BY 1) m
       |    ON m.event_type = w.event_type AND w.i = m.mi
       |)
       |SELECT f.event_type, c.m AS days, round(c.mu, 6) AS mu,
       |       round(c.sigma, 6) AS sigma, round(f.sp, 6) AS cusum_up,
       |       round(f.sn, 6) AS cusum_dn, f.al AS alarms
       |FROM fin f JOIN cons c ON c.event_type = f.event_type
       |ORDER BY f.event_type""".stripMargin
  }

  /** AR(1) autoregressive fit per event_type over its daily count series —
    * the model-based sibling of [[holtForecast]]: OLS of y_t on y_{t-1}
    * over consecutive-day pairs (date gaps are excluded from the
    * regression, not zero-filled). Returns phi (mean-reversion speed),
    * intercept, r², and the one-step forecast c + phi·y_last.
    *
    * Exactness: counts are integers, so every OLS moment (m, Σx, Σy, Σx²,
    * Σxy, Σy²) is an exact long — order-free aggregation is safe — and the
    * four outputs are fixed expression trees over those exact integers,
    * written identically in the oracle. Series with a degenerate
    * denominator (constant x or y) or fewer than 8 pairs are excluded on
    * both sides. Scale shape: one map-side-combinable daily count, one lag
    * window per series, one tiny moment aggregate.
    */
  def arFit(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("day", expr("ts div 86400000000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val pairs = daily
      .withColumn("pd", lag("day", 1).over(w))
      .withColumn("x", lag("n", 1).over(w))
      .filter(col("pd") === col("day") - 1)
      .select(col("event_type"), col("x"), col("n").as("y"))
    val last = daily
      .withColumn("rn",
        row_number().over(Window.partitionBy("event_type").orderBy(col("day").desc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("ylast"))
    val mo = pairs.groupBy("event_type").agg(
      count(lit(1)).as("m"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val num = col("m") * col("sxy") - col("sx") * col("sy")
    val denx = col("m") * col("sxx") - col("sx") * col("sx")
    val deny = col("m") * col("syy") - col("sy") * col("sy")
    mo.join(last, Seq("event_type"))
      .withColumn("num", num).withColumn("denx", denx).withColumn("deny", deny)
      .filter(col("denx") =!= 0 && col("deny") =!= 0 && col("m") >= 8)
      .withColumn("phi", col("num").cast("double") / col("denx").cast("double"))
      .withColumn("icept",
        (col("sy").cast("double") - col("phi") * col("sx").cast("double")) /
          col("m").cast("double"))
      .select(col("event_type"), col("m").as("n_pairs"),
        round(col("phi"), 6).as("phi"),
        round(col("icept"), 6).as("intercept"),
        round(col("num").cast("double") * col("num").cast("double") /
          (col("denx").cast("double") * col("deny").cast("double")), 6).as("r2"),
        round(col("icept") + col("phi") * col("ylast").cast("double"), 6)
          .as("next_fc"))
      .orderBy("event_type")
  }

  /** DuckDB replay of [[arFit]]: identical pair construction, identical
    * exact-integer moments, identical output expression trees.
    */
  def arFitDuckSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), pairs AS (
       |  SELECT event_type, lag(day) OVER w AS pd, lag(n) OVER w AS x, day, n AS y
       |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
       |  QUALIFY pd = day - 1
       |), lastv AS (
       |  SELECT event_type, n AS ylast FROM daily
       |  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY day DESC) = 1
       |), mo AS (
       |  SELECT event_type, count(*) AS m, sum(x) AS sx, sum(y) AS sy,
       |         sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
       |  FROM pairs GROUP BY 1
       |), d AS (
       |  SELECT mo.event_type, mo.m, mo.sx, mo.sy, l.ylast,
       |         (mo.m*mo.sxy - mo.sx*mo.sy) AS num,
       |         (mo.m*mo.sxx - mo.sx*mo.sx) AS denx,
       |         (mo.m*mo.syy - mo.sy*mo.sy) AS deny
       |  FROM mo JOIN lastv l ON l.event_type = mo.event_type
       |), f AS (
       |  SELECT *, CAST(num AS DOUBLE) / CAST(denx AS DOUBLE) AS phi
       |  FROM d WHERE denx <> 0 AND deny <> 0 AND m >= 8
       |), g AS (
       |  SELECT *, (CAST(sy AS DOUBLE) - phi * CAST(sx AS DOUBLE))
       |            / CAST(m AS DOUBLE) AS icept
       |  FROM f
       |)
       |SELECT event_type, m AS n_pairs, round(phi, 6) AS phi,
       |       round(icept, 6) AS intercept,
       |       round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
       |             / (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 6) AS r2,
       |       round(icept + phi * CAST(ylast AS DOUBLE), 6) AS next_fc
       |FROM g ORDER BY event_type""".stripMargin

  /** Holt-Winters additive triple exponential smoothing (level + trend +
    * weekly seasonality, α=β=γ=0.5) over each event_type's daily counts —
    * the operational-forecast sibling of [[holtForecast]] that models the
    * weekday cycle instead of averaging through it. Seasonal state is the
    * 7-slot array s0..s6 indexed by calendar weekday (day mod 7), so date
    * gaps skip cleanly. Init: level = y₁, trend = 0, s ≡ 0.
    *
    * The recurrence runs as ONE aggregate-HOF fold over the day-sorted
    * count array (pure codegen, state = a 10-field struct); the oracle
    * replays the identical expression tree — lNew inlined everywhere it
    * appears, the weekday CASE duplicated — step for step in a recursive
    * CTE, so the doubles agree bit-for-bit. Scale shape: the only
    * full-volume shuffle is the map-side-combinable daily count; per-series
    * state is |days|-bounded.
    */
  def holtWinters(events: DataFrame): DataFrame = {
    val daily = events
      .withColumn("day", expr("ts div 86400000000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("ds"))
    def zero = lit(0.0)
    val init = struct((Seq(zero.as("l"), zero.as("b")) ++
      (0 to 6).map(k => zero.as(s"s$k")) :+ lit(true).as("first")): _*)
    val fitted = series.withColumn("st",
      aggregate(col("ds"), init, (acc, d) => {
        val y = d.getField("n").cast("double")
        val wd = pmod(d.getField("day"), lit(7))
        val l = acc.getField("l"); val b = acc.getField("b")
        def sPrev = (0 to 6).map(k =>
          when(wd === k, acc.getField(s"s$k"))).reduceRight(_.otherwise(_))
        val lNew = lit(0.5) * (y - sPrev) + lit(0.5) * (l + b)
        val bNew = lit(0.5) * (lNew - l) + lit(0.5) * b
        val sNew = lit(0.5) * (y - lNew) + lit(0.5) * sPrev
        struct((Seq(
          when(acc.getField("first"), y).otherwise(lNew).as("l"),
          when(acc.getField("first"), lit(0.0)).otherwise(bNew).as("b")) ++
          (0 to 6).map(k =>
            when(acc.getField("first"), lit(0.0))
              .when(wd === k, sNew)
              .otherwise(acc.getField(s"s$k")).as(s"s$k")) :+
          lit(false).as("first")): _*)
      }))
    fitted.select((Seq(col("event_type"),
      round(col("st.l"), 6).as("level"),
      round(col("st.b"), 6).as("trend")) ++
      (0 to 6).map(k => round(col(s"st.s$k"), 6).as(s"s$k"))): _*)
      .orderBy("event_type")
  }

  /** DuckDB replay of [[holtWinters]]: a recursive CTE carrying the same
    * 10-field state, every arithmetic node written in the identical shape
    * (lNew inlined into bNew and sNew exactly as the Column tree does).
    */
  def holtWintersDuckSql: String = {
    // the shared lNew expression, textually inlined everywhere it appears
    val sPrev = "(CASE (d.day % 7) WHEN 0 THEN w.s0 WHEN 1 THEN w.s1 " +
      "WHEN 2 THEN w.s2 WHEN 3 THEN w.s3 WHEN 4 THEN w.s4 WHEN 5 THEN w.s5 " +
      "ELSE w.s6 END)"
    val lNew = s"(0.5 * (d.n - $sPrev) + 0.5 * (w.l + w.b))"
    val sNew = s"(0.5 * (d.n - $lNew) + 0.5 * $sPrev)"
    def sK(k: Int) =
      s"CASE WHEN d.day % 7 = $k THEN $sNew ELSE w.s$k END"
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), idx AS (
       |  SELECT event_type, day, n,
       |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
       |  FROM daily
       |), walk(event_type, i, l, b, s0, s1, s2, s3, s4, s5, s6) AS (
       |  SELECT event_type, 1, n::DOUBLE, CAST(0.0 AS DOUBLE),
       |         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
       |         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
       |         CAST(0.0 AS DOUBLE)
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT d.event_type, w.i + 1,
       |         $lNew,
       |         0.5 * ($lNew - w.l) + 0.5 * w.b,
       |         ${sK(0)}, ${sK(1)}, ${sK(2)}, ${sK(3)}, ${sK(4)}, ${sK(5)},
       |         ${sK(6)}
       |  FROM walk w JOIN idx d ON d.event_type = w.event_type AND d.i = w.i + 1
       |), fin AS (
       |  SELECT w.* FROM walk w
       |  JOIN (SELECT event_type, max(i) AS mi FROM walk GROUP BY 1) m
       |    ON m.event_type = w.event_type AND w.i = m.mi
       |)
       |SELECT event_type, round(l, 6) AS level, round(b, 6) AS trend,
       |       round(s0, 6) AS s0, round(s1, 6) AS s1, round(s2, 6) AS s2,
       |       round(s3, 6) AS s3, round(s4, 6) AS s4, round(s5, 6) AS s5,
       |       round(s6, 6) AS s6
       |FROM fin ORDER BY event_type""".stripMargin
  }

  /** STL-lite weekday seasonal decomposition of each event_type's daily
    * count series: trend = centered 7-row moving average (rows with a full
    * window only — MA loses 3 rows per edge, as classical decomposition
    * does), seasonal index per weekday = mean detrended value, plus the
    * residual variance. Everything is carried as EXACT integer moments
    * scaled by 7 (d7 = 7·y − Σ_window y is a BIGINT; per-weekday S1 = Σd7,
    * S2 = Σd7² likewise), so the only float ops are the two closing
    * divisions and one square — bit-identical to the oracle replay.
    *
    * Scale shape: the full-volume pass is the map-side-combinable daily
    * count; the window runs over |days| rows per event_type, so a 100 TB
    * event log decomposes in one shuffle + one tiny windowed pass.
    */
  def seasonalDecompose(events: DataFrame): DataFrame = {
    val w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    val daily = events
      .withColumn("day", expr("ts div 86400000000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    daily
      .withColumn("t7", sum("n").over(w7))
      .withColumn("cw", count(lit(1)).over(w7))
      .filter(col("cw") === 7)
      .withColumn("d7", lit(7L) * col("n") - col("t7"))
      .groupBy(col("event_type"), (col("day") % 7).as("weekday"))
      .agg(count(lit(1)).as("n_days"),
        sum("d7").as("s1"), sum(col("d7") * col("d7")).as("s2"))
      .select(col("event_type"), col("weekday"), col("n_days"),
        round(col("s1") / (lit(7.0) * col("n_days")), 6).as("seasonal"),
        round((col("s2") / col("n_days")
          - (col("s1") / col("n_days")) * (col("s1") / col("n_days")))
          / lit(49.0), 6).as("resid_var"))
      .orderBy("event_type", "weekday")
  }

  /** DuckDB replay of [[seasonalDecompose]]: identical ROWS window, the
    * same ×7 integer-moment carry, the same closing expression trees. */
  def seasonalDuckSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), win AS (
      |  SELECT event_type, day, n,
      |         sum(n) OVER w AS t7, count(*) OVER w AS cw
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), det AS (
      |  SELECT event_type, day % 7 AS weekday, 7 * n - t7 AS d7
      |  FROM win WHERE cw = 7
      |), m AS (
      |  SELECT event_type, weekday, count(*) AS n_days,
      |         CAST(sum(d7) AS BIGINT) AS s1,
      |         CAST(sum(d7 * d7) AS BIGINT) AS s2
      |  FROM det GROUP BY 1, 2
      |)
      |SELECT event_type, CAST(weekday AS BIGINT) AS weekday, n_days,
      |       round(s1 / (7.0 * n_days), 6) AS seasonal,
      |       round((s2 / n_days - (s1 / n_days) * (s1 / n_days)) / 49.0, 6)
      |         AS resid_var
      |FROM m ORDER BY 1, 2""".stripMargin

  /** Kaplan-Meier survival curve over user lifetimes (KM 1958 — the churn
    * curve): lifetime = days between a user's first and last event; users
    * whose last event falls within `censorDays` of the corpus end are
    * right-censored (still alive), everyone else churned at their lifetime.
    * At each churn time t: n_risk = users with lifetime ≥ t, d = churns at
    * t, and Ŝ(t) = Π_{t_j ≤ t}(1 − d_j/n_j), computed as exp(Σ ln((n−d)/n))
    * over an ordered running window — a sequential fold both engines
    * execute in the identical order, so the doubles agree before round(6).
    *
    * Scale shape: the only full-volume shuffle is the per-user min/max
    * (map-side combinable); everything after runs on ≤|distinct lifetimes|
    * rows, so the single-partition running product is a deliberately tiny
    * tail, never the event volume.
    */
  def kaplanMeier(events: DataFrame, censorDays: Int): DataFrame = {
    val users = events.groupBy("user_id")
      .agg(min("ts").as("first"), max("ts").as("last"))
      .withColumn("lifetime", expr("(last - first) div 86400000000000"))
    val cutoff = events.agg(
      (max("ts") - lit(censorDays) * lit(86400000000000L)).as("cut"))
    val marked = users.crossJoin(cutoff)
      .withColumn("churned", (col("last") <= col("cut")).cast("int"))
    val byT = BoundedWindow(
      marked.groupBy(col("lifetime").as("t"))
        .agg(count(lit(1)).as("n_all"), sum("churned").as("d")),
      1_000_000L, "survival folds (one row per distinct day-lifetime)")
    val wOrd = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = marked.count()
    byT
      .withColumn("ended_before", sum("n_all").over(wOrd) - col("n_all"))
      .withColumn("n_risk", lit(total) - col("ended_before"))
      .filter(col("d") > 0)
      // d == n_risk can only happen at the max lifetime (nobody survives
      // past it); Spark's log(0) is NULL, not -inf, so pin the S(t)=0 case
      .withColumn("surv", round(exp(sum(
        when(col("d") < col("n_risk"),
          log((col("n_risk") - col("d")).cast("double") / col("n_risk").cast("double")))
          .otherwise(lit(Double.NegativeInfinity))
      ).over(wOrd)), 6))
      .select(col("t"), col("n_risk"), col("d"), col("surv"))
      .orderBy("t")
  }

  /** DuckDB replay of [[kaplanMeier]]: same running windows, same ln/exp
    * fold order, same censor cutoff arithmetic. */
  def kaplanMeierDuckSql(censorDays: Int): String =
    s"""WITH users AS (
       |  SELECT user_id, min(epoch_ns(ts)) AS first, max(epoch_ns(ts)) AS last
       |  FROM events GROUP BY 1
       |), marked AS (
       |  SELECT (last - first) // 86400000000000 AS lifetime,
       |         CASE WHEN last <= (SELECT max(epoch_ns(ts)) FROM events)
       |                           - $censorDays * 86400000000000 THEN 1 ELSE 0 END AS churned
       |  FROM users
       |), byt AS (
       |  SELECT lifetime AS t, count(*) AS n_all,
       |         CAST(sum(churned) AS BIGINT) AS d
       |  FROM marked GROUP BY 1
       |), risk AS (
       |  SELECT t, n_all, d,
       |         (SELECT count(*) FROM marked)
       |           - (sum(n_all) OVER (ORDER BY t
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_all)
       |           AS n_risk
       |  FROM byt
       |), ev AS (SELECT * FROM risk WHERE d > 0)
       |SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk, d,
       |       round(exp(sum(CASE WHEN d < n_risk
       |           THEN ln((n_risk - d)::DOUBLE / n_risk::DOUBLE)
       |           ELSE CAST('-infinity' AS DOUBLE) END)
       |         OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
       |         AS surv
       |FROM ev ORDER BY t""".stripMargin
}
