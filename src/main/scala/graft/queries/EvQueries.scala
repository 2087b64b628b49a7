package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{CountMin, Dedup, Events, TextAnalysis}
import graft.queries.Shared._

/** Event-log analytics (`ev_*`) over `events`: sessions, funnels, sketches,
  * rank statistics and time-series operators.
  */
object EvQueries {

  /** Per-user purchase cents `m` (0 for a user who never bought). */
  private def purchaseCents(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id").agg(
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("m"))

  /** Oracle select-list tail and FROM of [[purchaseCents]] per user, with
    * the user's A/B `variant` (user_id parity).
    */
  private val PurchaseCentsSql =
    """    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS m,
      |    user_id % 2 AS variant
      |  FROM events GROUP BY user_id
      |)""".stripMargin

  /** Oracle CTEs of `Events.sessionize` at a 4 h gap over `e` (user_id,
    * event_id, tsn in µs): break flags `g`, then session numbers `s`.
    */
  private val SessionSeqCtes =
    """g AS (
      |  SELECT *, CASE WHEN lag(tsn) OVER w IS NULL
      |                 OR tsn - lag(tsn) OVER w > 14400000000 THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
      |), s AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tsn, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_seq
      |  FROM g
      |)""".stripMargin

  private[graft] val all: Seq[QuerySpec] = Seq(
    // max concurrent sessions per hour: sweep line as a distributed
    // two-level prefix sum (per-hour offsets + within-hour running sum) —
    // no global-order window anywhere in the plan
    QuerySpec("ev_concurrency", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsn"), col("value"))
      Events.maxConcurrency(Events.sessionize(ev, 4L * 3600L * 1000000L))
    },
      Events.maxConcurrencyDuckSql(
        "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn FROM events),\n" +
          SessionSeqCtes + """, sess AS (
          |  SELECT user_id, sess_seq, min(tsn) AS t_start, max(tsn) AS t_end
          |  FROM s GROUP BY 1, 2
          |)""".stripMargin)),

    // dense hourly grid + LOCF forward fill per user: grid generated from
    // per-user extents (output-proportional, no calendar cross join), one
    // user shuffle serves the join and the carry-forward window
    QuerySpec("ev_gapfill", (s, dir) => {
      val ev = T(s, dir, "events").filter(col("user_id") % 50 === 0)
        .select(col("user_id"), expr("ts div 1000").as("tsn"), col("value"))
      Events.gapFillLocf(ev)
    },
      Events.gapFillLocfDuckSql(
        """WITH e AS (
          |  SELECT user_id, epoch_us(ts) AS tsn, value FROM events
          |  WHERE user_id % 50 = 0
          |)""".stripMargin)),

    QuerySpec("ev_top_users", (s, dir) => {
      T(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(20)
    },
      "SELECT user_id, count(*) AS n FROM events GROUP BY 1 ORDER BY n DESC, user_id LIMIT 20"),

    // multi-dimensional OLAP cube over (event_type, JSON-extracted k band):
    // one shuffle produces all 4 grouping sets (Spark expands cube in the
    // aggregate, partial-aggregated map-side); grouping_id() disambiguates
    // subtotal NULLs; DuckDB replays with GROUP BY CUBE + GROUPING()
    QuerySpec("ev_cube", (s, dir) =>
      T(s, dir, "events")
        .withColumn("band", (get_json_object(col("props"), "$.k").cast("long") / 10)
          .cast("long"))
        .cube(col("event_type"), col("band"))
        // value is 2-decimal: summing exact cents keeps the aggregate
        // integer (merge-order-independent), unlike a raw double sum
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .orderBy(col("gid"), coalesce(col("event_type"), lit("")),
          coalesce(col("band"), lit(-1L)))
        .select(col("gid"), col("event_type"), col("band"), col("n"), col("sum_cents")),
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS band,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |)
        |SELECT GROUPING(event_type, band) AS gid, event_type, band,
        |       count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM e GROUP BY CUBE (event_type, band)
        |ORDER BY gid, coalesce(event_type, ''), coalesce(band, -1)""".stripMargin),

    QuerySpec("ev_hourly", (s, dir) => {
      // ts arrives as long nanos (the T reader); integer `div` keeps the
      // bucket arithmetic exact (a double division would lose precision at
      // 1e18-scale nanos)
      T(s, dir, "events")
        .withColumn("hour_idx", expr("ts div 3600000000000"))
        .groupBy(col("hour_idx"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_ev"), max(col("event_id")).as("max_ev"))
        .orderBy(col("hour_idx"), col("event_type"))
    },
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_idx, event_type,
        |       count(*) AS n, min(event_id) AS min_ev, max(event_id) AS max_ev
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // gap sessionization (4 h): one shuffle on user_id, windows + session
    // aggregate all inside that partitioning — see Events.sessionize
    QuerySpec("ev_sessions", (s, dir) => {
      // µs granularity (`div 1000`): DuckDB truncates the NANOS timestamp
      // to TIMESTAMP (µs) on read, so the oracle can only see epoch_us
      val ev = T(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsn"), col("value"))
      Events.sessionize(ev, 4L * 3600L * 1000000L)
        .orderBy(col("user_id"), col("sess_seq"))
    },
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn, value FROM events),\n" +
        SessionSeqCtes + """
        |SELECT user_id, sess_seq, count(*) AS n_events,
        |       min(tsn) AS t_start, max(tsn) AS t_end,
        |       min(event_id) AS first_ev, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // as-of join: each purchase ← latest strictly-prior click of the same
    // user, as ONE window over the union (no join) — see Events.asofJoin
    QuerySpec("ev_asof", (s, dir) => {
      // µs granularity — see ev_sessions
      val ev = T(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsn"), col("event_type"), col("value"))
      Events.asofJoin(ev, "purchase", "click").orderBy(col("event_id"))
    },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type, value FROM events)
        |SELECT x.event_id, x.user_id, x.tsn,
        |  (SELECT y.event_id FROM e y
        |   WHERE y.user_id = x.user_id AND y.event_type = 'click'
        |     AND (y.tsn < x.tsn OR (y.tsn = x.tsn AND y.event_id < x.event_id))
        |   ORDER BY y.tsn DESC, y.event_id DESC LIMIT 1) AS r_ev,
        |  round((SELECT y.value FROM e y
        |   WHERE y.user_id = x.user_id AND y.event_type = 'click'
        |     AND (y.tsn < x.tsn OR (y.tsn = x.tsn AND y.event_id < x.event_id))
        |   ORDER BY y.tsn DESC, y.event_id DESC LIMIT 1), 4) AS r_val
        |FROM e x WHERE x.event_type = 'purchase' ORDER BY x.event_id""".stripMargin),

    // A/B experiment readout: deterministic variant split (user_id parity —
    // any keyed hash works identically), conversion = heavy buyer (≥16
    // purchases; every user in this corpus purchases at least once, so the
    // raw did-purchase rate saturates at 1.0), per-variant exposure /
    // conversion / revenue as exact integers, and the two-proportion pooled
    // z-score as the ONLY float (closed form over the four integer counts,
    // so both engines compute bit-identical doubles; NULL when the pooled
    // rate degenerates to 0 or 1). One user rollup, one tiny agg
    QuerySpec("ev_ab_test", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val users = ev.groupBy("user_id").agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
          sum(when(col("event_type") === "purchase", col("cents"))
            .otherwise(0L)).as("rev"))
        .withColumn("c", when(col("np") >= 16, 1L).otherwise(0L))
        .withColumn("v", (col("user_id") % 2).cast("long"))
      val pool = (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double")
      users.agg(
          sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("v") === 0, col("c")).otherwise(0L)).as("conv_a"),
          sum(when(col("v") === 0, col("rev")).otherwise(0L)).as("rev_a"),
          sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("v") === 1, col("c")).otherwise(0L)).as("conv_b"),
          sum(when(col("v") === 1, col("rev")).otherwise(0L)).as("rev_b"))
        .withColumn("z", when(
          col("conv_a") + col("conv_b") > 0 &&
            col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
          round(
            (col("conv_a").cast("double") / col("n_a").cast("double") -
              col("conv_b").cast("double") / col("n_b").cast("double")) /
              sqrt(pool * (lit(1.0) - pool) *
                (lit(1.0) / col("n_a").cast("double") +
                  lit(1.0) / col("n_b").cast("double"))), 6)))
    },
      """WITH u AS (
        |  SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 16
        |         THEN 1 ELSE 0 END::BIGINT AS c,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev,
        |    user_id % 2 AS v
        |  FROM events GROUP BY user_id
        |), s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN v = 0 THEN c ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN v = 0 THEN rev ELSE 0 END) AS BIGINT) AS rev_a,
        |    CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN v = 1 THEN c ELSE 0 END) AS BIGINT) AS conv_b,
        |    CAST(sum(CASE WHEN v = 1 THEN rev ELSE 0 END) AS BIGINT) AS rev_b
        |  FROM u
        |)
        |SELECT *, CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
        |  THEN round(
        |    (conv_a::DOUBLE / n_a::DOUBLE - conv_b::DOUBLE / n_b::DOUBLE) /
        |    sqrt(((conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE) *
        |         (1.0 - (conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE) *
        |         (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)), 6)
        |  END AS z
        |FROM s""".stripMargin),

    // nonparametric A/B readout beside ev_ab_test's z-test: Mann-Whitney U
    // on per-user purchase cents (variant = user_id parity). Rank algebra
    // is exact through ties — the value-group table prefix-sums group
    // sizes via the distributed two-pass scan (Events.prefixSum, never a
    // global window), 2·R_A and 2·U_A stay integers, and the tie-corrected
    // z is one closed form over them (bit-identical cross-engine)
    QuerySpec("ev_mannwhitney", (s, dir) => {
      val perUser = purchaseCents(s, dir)
        .withColumn("variant", (col("user_id") % 2).cast("long"))
      Events.mannWhitney(perUser, "m", "variant")
    },
      // the identical exact rank algebra: DuckDB's window cumsum stands in
      // for the distributed prefix scan (single-node oracle, same integers)
      "WITH u AS (\n  SELECT user_id,\n" + PurchaseCentsSql + """, g AS (
        |  SELECT m AS v, count(*)::BIGINT AS n_v,
        |         sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS a_v
        |  FROM u GROUP BY 1
        |), c AS (
        |  SELECT *, (sum(n_v) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |             - n_v)::BIGINT AS cum_before
        |  FROM g
        |), s AS (
        |  SELECT sum(a_v * (2 * cum_before + n_v + 1))::BIGINT AS two_ra,
        |         sum(a_v)::BIGINT AS n_a,
        |         sum(n_v - a_v)::BIGINT AS n_b,
        |         sum(n_v * n_v * n_v - n_v)::BIGINT AS ties
        |  FROM c
        |)
        |SELECT n_a, n_b,
        |       (two_ra - n_a * (n_a + 1))::BIGINT AS two_u_a, ties,
        |       CASE WHEN n_a * n_b > 0 AND
        |         (n_a + n_b + 1)::DOUBLE - ties::DOUBLE /
        |           ((n_a + n_b) * (n_a + n_b - 1))::DOUBLE > 0
        |       THEN round(
        |         ((two_ra - n_a * (n_a + 1))::DOUBLE / 2.0
        |            - n_a::DOUBLE * n_b::DOUBLE / 2.0) /
        |         sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0 *
        |           ((n_a + n_b + 1)::DOUBLE - ties::DOUBLE /
        |              ((n_a + n_b) * (n_a + n_b - 1))::DOUBLE)), 6)
        |       END AS z
        |FROM s""".stripMargin),

    // two-sample Kolmogorov–Smirnov on per-user TOTAL activity cents —
    // the distribution-shift guard beside ev_mannwhitney's location test;
    // the CDF gap is maximised as an exact integer cross-product over one
    // multi-column prefix-sum pass (never a global window)
    QuerySpec("ev_ks", (s, dir) => {
      val perUser = T(s, dir, "events")
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("user_id").agg(sum(col("cents")).as("m"))
        .withColumn("variant", (col("user_id") % 2).cast("long"))
      Events.ksTest(perUser, "m", "variant")
    },
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id
        |), g AS (
        |  SELECT m AS v,
        |    sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS a_v,
        |    sum(CASE WHEN variant <> 0 THEN 1 ELSE 0 END)::BIGINT AS b_v
        |  FROM u GROUP BY 1
        |), c AS (
        |  SELECT (sum(a_v) OVER wo)::BIGINT AS ca,
        |         (sum(b_v) OVER wo)::BIGINT AS cb
        |  FROM g WINDOW wo AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |), t AS (
        |  SELECT sum(a_v)::BIGINT AS n_a, sum(b_v)::BIGINT AS n_b FROM g
        |), s AS (
        |  SELECT n_a, n_b, max(abs(ca * n_b - cb * n_a))::BIGINT AS d_num
        |  FROM c CROSS JOIN t GROUP BY n_a, n_b
        |)
        |SELECT n_a, n_b, d_num,
        |  round(d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE), 6) AS d,
        |  round(sqrt((n_a * n_b)::DOUBLE / (n_a + n_b)::DOUBLE)
        |        * (d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE)), 6) AS ks_lambda,
        |  (sqrt((n_a * n_b)::DOUBLE / (n_a + n_b)::DOUBLE)
        |   * (d_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE)) > 1.358) AS reject_05
        |FROM s""".stripMargin),

    // deterministic Poisson-bootstrap 95% CI for the A/B difference in
    // mean purchase cents — 200 hash-replayable resamples, map-side
    // combinable flat-map expansion, distributed rank for the percentile
    // bounds; the interval the ev_ab_test point estimate ships with
    QuerySpec("ev_bootstrap", (s, dir) => {
      val perUser = purchaseCents(s, dir)
        .withColumn("variant", (col("user_id") % 2).cast("long"))
      Events.bootstrapDiff(perUser, "user_id", "m", "variant", reps = 200)
    },
      "WITH u AS (\n  SELECT user_id AS uid,\n" + PurchaseCentsSql + """, x AS (
        |  SELECT uid, m, variant, r,
        |    (uid * 1103515245 + r * 12345 + 987654321) % 1000000 AS uu
        |  FROM u CROSS JOIN (SELECT unnest(range(0, 200)) AS r)
        |), wt AS (
        |  SELECT r, variant, m,
        |    CASE WHEN uu < 367879 THEN 0 WHEN uu < 735759 THEN 1
        |         WHEN uu < 919699 THEN 2 WHEN uu < 981012 THEN 3
        |         WHEN uu < 996340 THEN 4 WHEN uu < 999406 THEN 5
        |         WHEN uu < 999917 THEN 6 ELSE 7 END AS w
        |  FROM x
        |), pr AS (
        |  SELECT r,
        |    sum(CASE WHEN variant = 0 THEN w * m ELSE 0 END)::BIGINT AS sa,
        |    sum(CASE WHEN variant = 0 THEN w ELSE 0 END)::BIGINT AS wa,
        |    sum(CASE WHEN variant <> 0 THEN w * m ELSE 0 END)::BIGINT AS sb,
        |    sum(CASE WHEN variant <> 0 THEN w ELSE 0 END)::BIGINT AS wb
        |  FROM wt GROUP BY r
        |), dfr AS (
        |  SELECT r, sa::DOUBLE / wa::DOUBLE - sb::DOUBLE / wb::DOUBLE AS diff
        |  FROM pr WHERE wa > 0 AND wb > 0
        |), rk AS (
        |  SELECT diff, CAST(row_number() OVER (ORDER BY diff, r) AS BIGINT) AS rk,
        |         CAST(count(*) OVER () AS BIGINT) AS n_reps
        |  FROM dfr
        |), ci AS (
        |  SELECT max(n_reps) AS n_reps,
        |    max(CASE WHEN rk = greatest(1, (n_reps * 25 + 999) // 1000)
        |        THEN diff END) AS lo_raw,
        |    max(CASE WHEN rk = (n_reps * 975 + 999) // 1000
        |        THEN diff END) AS hi_raw
        |  FROM rk
        |), pt AS (
        |  SELECT sum(CASE WHEN variant = 0 THEN m ELSE 0 END)::DOUBLE /
        |         sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::DOUBLE -
        |         sum(CASE WHEN variant <> 0 THEN m ELSE 0 END)::DOUBLE /
        |         sum(CASE WHEN variant <> 0 THEN 1 ELSE 0 END)::DOUBLE AS p
        |  FROM u
        |)
        |SELECT CAST(n_reps AS BIGINT) AS n_reps, round(p, 6) AS point_diff,
        |       round(lo_raw, 6) AS lo, round(hi_raw, 6) AS hi
        |FROM ci CROSS JOIN pt""".stripMargin),

    // always-valid sequential testing (mSPRT): the per-day log mixture
    // likelihood ratio over cumulative purchase cents, pre-registered
    // σ² = 1e9 / τ² = 1e6 — the "safe to peek daily" readout a metrics
    // platform ships beside the fixed-horizon ev_ab_test; day-level
    // aggregate first, running sums only over the bounded day table
    QuerySpec("ev_msprt", (s, dir) => {
      val obs = T(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(expr("(ts div 1000) div 86400000000").as("day"),
          (col("user_id") % 2).cast("long").as("variant"),
          round(col("value") * 100).cast("long").as("x"))
      Events.msprtDaily(obs, "day", "variant", "x",
        sigma2 = 1.0e9, tau2 = 1.0e6)
    },
      Events.msprtDuckSql(sigma2 = 1.0e9, tau2 = 1.0e6)),

    // quantile treatment effects: the A/B readout at the p25/p50/p75/p90
    // of per-user purchase cents — where in the distribution the treatment
    // moved mass, not just the mean (exact percentile over the per-user
    // table, the same interpolation contract ev_quantiles pinned)
    QuerySpec("ev_qte", (s, dir) => {
      val users = purchaseCents(s, dir)
        .withColumn("v", (col("user_id") % 2).cast("long"))
      val q = users.groupBy("v")
        .agg(expr("percentile(m, array(0.25D, 0.5D, 0.75D, 0.9D))").as("q"))
      val lbl = array(lit("p25"), lit("p50"), lit("p75"), lit("p90"))
      q.select(col("v"), posexplode(col("q")))
        .toDF("v", "i", "qv")
        .groupBy("i").agg(
          max(when(col("v") === 0, col("qv"))).as("qa"),
          max(when(col("v") === 1, col("qv"))).as("qb"))
        .select(element_at(lbl, col("i") + 1).as("q_label"),
          round(col("qa"), 6).as("q_a"), round(col("qb"), 6).as("q_b"),
          round(col("qb") - col("qa"), 6).as("qte"))
        .orderBy("q_label")
    },
      """WITH u AS (
        |  SELECT user_id,
        |         sum(CASE WHEN event_type = 'purchase'
        |                  THEN CAST(round(value * 100) AS BIGINT)
        |                  ELSE 0 END)::BIGINT AS m
        |  FROM events GROUP BY 1
        |), vv AS (SELECT user_id % 2 AS v, m FROM u),
        |qa AS (SELECT quantile_cont(m, 0.25) AS q1, quantile_cont(m, 0.5) AS q2,
        |              quantile_cont(m, 0.75) AS q3, quantile_cont(m, 0.9) AS q4
        |       FROM vv WHERE v = 0),
        |qb AS (SELECT quantile_cont(m, 0.25) AS q1, quantile_cont(m, 0.5) AS q2,
        |              quantile_cont(m, 0.75) AS q3, quantile_cont(m, 0.9) AS q4
        |       FROM vv WHERE v = 1)
        |SELECT * FROM (
        |  SELECT 'p25' AS q_label, round(qa.q1, 6) AS q_a, round(qb.q1, 6) AS q_b,
        |         round(qb.q1 - qa.q1, 6) AS qte FROM qa, qb
        |  UNION ALL
        |  SELECT 'p50', round(qa.q2, 6), round(qb.q2, 6),
        |         round(qb.q2 - qa.q2, 6) FROM qa, qb
        |  UNION ALL
        |  SELECT 'p75', round(qa.q3, 6), round(qb.q3, 6),
        |         round(qb.q3 - qa.q3, 6) FROM qa, qb
        |  UNION ALL
        |  SELECT 'p90', round(qa.q4, 6), round(qb.q4, 6),
        |         round(qb.q4 - qa.q4, 6) FROM qa, qb
        |) ORDER BY q_label""".stripMargin),

    // multiple-testing control: per-event-type Welch z on event cents
    // (user-parity arms) + Benjamini–Hochberg step-up FDR across the
    // metric family — the guardrail a platform applies when one experiment
    // reads out many metrics; p via the A&S erfc polynomial, identical
    // text in both engines (Events.welchBh)
    QuerySpec("ev_bh", (s, dir) => {
      val obs = T(s, dir, "events")
        .select(col("event_type"), (col("user_id") % 2).cast("long").as("v"),
          round(col("value") * 100).cast("long").as("x"))
      Events.welchBh(obs, "event_type", "v", "x", alpha = 0.1)
    },
      Events.welchBhDuckSql(alpha = 0.1)),

    // robust A/B means: winsorized (5%) and trimmed per-variant means of
    // per-user purchase cents beside the raw mean — the outlier-robust
    // readout; rank-based order statistics (integer cents, exact sums),
    // distributed ranks, no per-variant global window
    QuerySpec("ev_winsor", (s, dir) => {
      val users = purchaseCents(s, dir)
        .withColumn("v", (col("user_id") % 2).cast("long"))
      Events.winsorMeans(users, "user_id", "m", "v", frac = 0.05)
    },
      Events.winsorDuckSql(frac = 0.05)),

    // cohort lifetime value: purchase cents per (first-active-day cohort,
    // age-in-days), plus the running LTV curve — integer cumsum per cohort,
    // one user shuffle for the cohort min then day-level aggregates only
    QuerySpec("ev_ltv", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val cohort = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cohort_day").orderBy("age")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      ev.filter(col("event_type") === "purchase")
        .join(cohort, "user_id")
        .withColumn("age", col("day") - col("cohort_day"))
        .groupBy("cohort_day", "age")
        .agg(sum(col("cents")).as("cents"))
        .withColumn("cum_cents", sum(col("cents")).over(w))
        .orderBy(col("cohort_day"), col("age"))
    },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), cohort AS (
        |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1
        |), g AS (
        |  SELECT cohort_day, e.day - cohort_day AS age,
        |         CAST(sum(cents) AS BIGINT) AS cents
        |  FROM e JOIN cohort USING (user_id)
        |  WHERE event_type = 'purchase'
        |  GROUP BY 1, 2
        |)
        |SELECT cohort_day, age, cents,
        |       CAST(sum(cents) OVER (PARTITION BY cohort_day ORDER BY age
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |FROM g ORDER BY cohort_day, age""".stripMargin),

    // per-event ML feature engineering: previous spend, trailing-5-event
    // spend and trailing-1-hour activity count per user, emitted for the
    // purchase rows — three window frames (ROWS lag, ROWS rolling, RANGE
    // time window) over ONE user-keyed shuffle, exact integer cents; this is
    // the training-feature extraction pass of a behavioral model pipeline
    QuerySpec("ev_lag_features", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsn"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("tsn"), col("event_id"))
      val wr = w.rowsBetween(-4, 0)
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("tsn"))
        .rangeBetween(-3600000000L, 0)
      ev
        .withColumn("prev_cents", lag(col("cents"), 1).over(w))
        .withColumn("roll5_cents", sum(col("cents")).over(wr))
        .withColumn("n_1h", count(lit(1)).over(wt))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("prev_cents"),
          col("roll5_cents"), col("n_1h"))
        .orderBy(col("event_id"))
    },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), f AS (
        |  SELECT user_id, event_id, event_type,
        |    lag(cents, 1) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS prev_cents,
        |    CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll5_cents,
        |    count(*) OVER (PARTITION BY user_id ORDER BY tsn
        |      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_1h
        |  FROM e
        |)
        |SELECT event_id, user_id, prev_cents, roll5_cents, n_1h FROM f
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),

    // last-touch attribution report: purchase revenue rolled up to the
    // epoch-day of the latest preceding click within a 7-day lookback
    // (-1 = unattributed) — the classic marketing-attribution rollup as one
    // user-keyed window pass, exact integer cents (Events.lastTouchAttribution)
    QuerySpec("ev_attribution", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsn"), col("event_type"), col("value"))
      Events.lastTouchAttribution(ev)
    },
      Events.lastTouchAttributionDuckSql()),

    // linear multi-touch attribution with exact largest-remainder cent
    // splits (no float credit): per-user band join pairs clicks with
    // purchases in the 7-day lookback; every aggregate stays integer
    QuerySpec("ev_multitouch", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsn"), col("event_type"), col("value"))
      Events.multiTouchAttribution(ev)
    },
      Events.multiTouchDuckSql()),

    // robust MAD anomalies (Iglewicz-Hoaglin modified z): exact
    // interpolated medians of integers, so both engines agree bit-for-bit
    // on the flag boundary — the outlier rule z-scores get wrong when the
    // outliers inflate the sd
    QuerySpec("ev_mad", (s, dir) =>
      Events.madAnomalies(T(s, dir, "events")),
      Events.madAnomaliesDuckSql()),

    // exact Gini of per-user purchase revenue: two order-free integer
    // moments + one division; the rank runs on the user rollup
    QuerySpec("ev_gini", (s, dir) =>
      Events.giniRevenue(T(s, dir, "events")),
      Events.giniDuckSql()),

    // hopping 3h/1h windows (the batch twin of Flink HOP): 3-element
    // generator in the scan projection, one aggregate, exact integers
    QuerySpec("ev_hop", (s, dir) =>
      Events.hoppingCounts(T(s, dir, "events")),
      Events.hoppingDuckSql()),

    // DAU/MAU stickiness with EXACT trailing-30-day distincts: the event
    // volume collapses to deduped (user, day) before the 30× fan-out
    QuerySpec("ev_stickiness", (s, dir) =>
      Events.stickiness(T(s, dir, "events")),
      Events.stickinessDuckSql),

    // RFM segmentation: per-user recency/frequency/monetary quintiles under
    // a deterministic ntile total order, then segment populations — the
    // windows run over the USER rollup (events-volume never re-shuffles)
    QuerySpec("ev_rfm", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsn"), col("event_type"), col("value"))
      Events.rfmSegments(ev)
    },
      Events.rfmSegmentsDuckSql()),

    // cross-user temporal co-occurrence: every click within ±60 s of each
    // purchase, ANY user — a non-equi join stock Spark would plan as a
    // cartesian product; Events.intervalJoin runs it as the 1-D grid plan
    // (cell equi-join, ≤3-cell fan-out). Cent-sums keep the aggregate exact
    QuerySpec("ev_interval_join", (s, dir) => {
      val ev = T(s, dir, "events").select(col("event_id"),
        expr("ts div 1000").as("tsn"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("tsn").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("tsn").as("c_ts"), col("value"))
      Events.intervalJoin(purchases, clicks, "p_ts", "c_ts", deltaUs = 60000000L)
        .groupBy(col("p_id").as("event_id"))
        .agg(count(lit(1)).as("n_clicks"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .orderBy(col("event_id"))
    },
      // naive non-equi replay of the banded plan (DuckDB's IEJoin handles it)
      """WITH e AS (SELECT event_id, epoch_us(ts) AS tsn, event_type, value FROM events),
        |p AS (SELECT event_id, tsn FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT tsn, value FROM e WHERE event_type = 'click')
        |SELECT p.event_id, count(*)::BIGINT AS n_clicks,
        |       CAST(sum(round(c.value * 100)) AS BIGINT) AS cents
        |FROM p JOIN c ON abs(c.tsn - p.tsn) <= 60000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // KMV / bottom-k Theta distinct sketch per event type — the
    // set-algebra-capable sibling of ev_hll (HLL unions but cannot
    // intersect); rank-cut window = WindowGroupLimit per-partition top-k
    QuerySpec("ev_kmv", (s, dir) => {
      Events.kmvDistinct(T(s, dir, "events"))
    },
      Events.kmvDistinctDuckSql()),

    // KMV set algebra: union/intersection/Jaccard estimates between the
    // view and click user sets from the two k-row sketches (the merge
    // input is 2k constant rows — bounded at any corpus size)
    QuerySpec("ev_kmv_ops", (s, dir) => {
      Events.kmvSetOps(T(s, dir, "events"), "view", "click")
    },
      Events.kmvSetOpsDuckSql("view", "click")),

    QuerySpec("ev_hll", (s, dir) => {
      val fnv = udf((x: Long) => TextAnalysis.fnv1a64(x.toString))
      val ev = T(s, dir, "events")
      def sketch(c: String, metric: String) =
        Events.hllEstimate(ev.select(col("event_type").as("g"), fnv(col(c)).as("h")))
          .withColumn("metric", lit(metric))
      def exact(c: String, metric: String) =
        ev.groupBy(col("event_type").as("g"))
          .agg(countDistinct(col(c)).as("n_exact")).withColumn("metric", lit(metric))
      sketch("user_id", "users").unionByName(sketch("event_id", "events"))
        .join(exact("user_id", "users").unionByName(exact("event_id", "events")),
          Seq("g", "metric"))
        .select(col("g").as("event_type"), col("metric"), col("n_exact"),
          col("v_zero"), col("est"))
        .orderBy(col("event_type"), col("metric"))
    },
      {
        def part(keyExpr: String, metric: String) =
          s"""SELECT * FROM (
             |  WITH hashed AS (SELECT event_type AS g,
             |         ${Dedup.fnv64DuckSql(keyExpr)} AS h FROM events),
             |  ${Events.hllDuckSql}
             |  SELECT g AS event_type, '$metric' AS metric,
             |         CAST(v_zero AS BIGINT) AS v_zero, est FROM hll_est)""".stripMargin
        s"""WITH sk AS (
           |  ${part("CAST(user_id AS VARCHAR)", "users")}
           |  UNION ALL
           |  ${part("CAST(event_id AS VARCHAR)", "events")}
           |), ex AS (
           |  SELECT event_type, 'users' AS metric, count(DISTINCT user_id) AS n_exact
           |  FROM events GROUP BY 1
           |  UNION ALL
           |  SELECT event_type, 'events' AS metric, count(DISTINCT event_id) AS n_exact
           |  FROM events GROUP BY 1
           |)
           |SELECT sk.event_type, sk.metric, ex.n_exact, sk.v_zero, sk.est
           |FROM sk JOIN ex ON sk.event_type = ex.event_type AND sk.metric = ex.metric
           |ORDER BY 1, 2""".stripMargin
      }),

    // sketch SET ALGEBRA: distinct-user overlap of two event types from
    // the stored per-type register maxima alone — union = max per register
    // (associative merge, identical to sketching the concatenated stream),
    // intersection by inclusion-exclusion; the exact overlap count rides
    // beside for the error story. 2×256 longs of state answer all three
    // questions — the mergeable-sketch reason HLL is the 100 TB shape
    QuerySpec("ev_hll_intersect", (s, dir) => {
      import s.implicits._
      val fnv = udf((x: Long) => TextAnalysis.fnv1a64(x.toString))
      val ev = T(s, dir, "events").filter(col("event_type").isin("click", "view"))
      val hashed = ev.select(col("event_type").as("g"), fnv(col("user_id")).as("h"))
      val maxr = hashed
        .select(col("g"), Events.hllRegCol.as("reg"), Events.hllRankCol.as("rank"))
        .groupBy("g", "reg").agg(max(col("rank")).as("m")).persist()
      val merged = maxr.groupBy("reg").agg(max(col("m")).as("m"))
        .withColumn("g", lit("both"))
      val ests = Events.hllFinalize(
        maxr.unionByName(merged.select(col("g"), col("reg"), col("m"))),
        Seq("click", "view", "both").toDF("g"))
      val exact = ev.groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("nt"))
        .filter(col("nt") === 2).agg(count(lit(1)).as("n_exact"))
      val one = ests.agg(
        sum(when(col("g") === "click", col("est"))).as("est_click"),
        sum(when(col("g") === "view", col("est"))).as("est_view"),
        sum(when(col("g") === "both", col("est"))).as("est_union"))
      exact.crossJoin(one)
        .select(col("n_exact"), col("est_click"), col("est_view"), col("est_union"),
          round(col("est_click") + col("est_view") - col("est_union"), 4).as("est_inter"))
    },
      // the union sketch replays as the sketch of the CONCATENATED stream
      // (max-merge associativity is exactly that identity)
      {
        s"""WITH raw AS (
           |  SELECT event_type AS g,
           |         ${Dedup.fnv64DuckSql("CAST(user_id AS VARCHAR)")} AS h
           |  FROM events WHERE event_type IN ('click', 'view')
           |), hashed AS (
           |  SELECT g, h FROM raw UNION ALL SELECT 'both', h FROM raw
           |), ${Events.hllDuckSql},
           |ex AS (
           |  SELECT count(*)::BIGINT AS n_exact FROM (
           |    SELECT user_id FROM events WHERE event_type IN ('click', 'view')
           |    GROUP BY user_id HAVING count(DISTINCT event_type) = 2)
           |)
           |SELECT ex.n_exact,
           |  (SELECT est FROM hll_est WHERE g = 'click') AS est_click,
           |  (SELECT est FROM hll_est WHERE g = 'view') AS est_view,
           |  (SELECT est FROM hll_est WHERE g = 'both') AS est_union,
           |  round((SELECT est FROM hll_est WHERE g = 'click')
           |      + (SELECT est FROM hll_est WHERE g = 'view')
           |      - (SELECT est FROM hll_est WHERE g = 'both'), 4) AS est_inter
           |FROM ex""".stripMargin
      }),

    // exact interpolated percentiles of the event value per type — the
    // oracle-checkable variant; at 100 TB swap in approx_percentile (KLL
    // sketch, same call shape) since exact percentile buffers each group
    QuerySpec("ev_quantiles", (s, dir) => {
      T(s, dir, "events").groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("q"))
        .select(col("event_type"),
          round(col("q")(0), 6).as("p50"), round(col("q")(1), 6).as("p90"),
          round(col("q")(2), 6).as("p99"))
        .orderBy(col("event_type"))
    },
      // quantile_cont and Spark's `percentile` share the same rank = p·(n−1)
      // linear interpolation on the sorted values
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // rolling 7-day active users (the WAU primitive): stored daily HLL
    // sketches + ONE window-max register merge per day — sliding-window
    // sketch algebra with fixed-size state; only full windows emit
    QuerySpec("ev_wau", (s, dir) => {
      val fnv = udf((x: Long) => TextAnalysis.fnv1a64(x.toString))
      Events.rollingDistinct(T(s, dir, "events").select(
          expr("ts div 86400000000000").as("day"), fnv(col("user_id")).as("h")),
          window = 7)
        .orderBy(col("day"))
    },
      (s"""WITH hashed AS (
         |  SELECT epoch_ns(ts) // 86400000000000 AS day,
         |         ${Dedup.fnv64DuckSql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events
         |), """.stripMargin + Events.rollingDistinctDuckSql(window = 7) +
        "\nSELECT day, v_zero, est FROM wau_est ORDER BY day")),

    // 3-step behavioral sequences: per-user event-type trigrams by event
    // time (lead window over ONE user shuffle), top-25 — the order-3
    // extension of ev_markov's transition matrix
    QuerySpec("ev_trigrams", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("e2").as("s2"), col("e3").as("s3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
        .limit(25)
    },
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lead(event_type, 1) OVER w AS e2,
        |         lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        |)
        |SELECT event_type AS s1, e2 AS s2, e3 AS s3, count(*) AS n
        |FROM s WHERE e3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, s1, s2, s3 LIMIT 25""".stripMargin),

    // trailing-window changepoints: hours breaking ±ratio bounds vs the
    // mean of the previous 6 observed hours of the same type — the
    // sequential/local sibling of ev_anomaly's global z-score
    QuerySpec("ev_changepoint", (s, dir) =>
      Events.changepoints(T(s, dir, "events"), window = 6, up = 1.5, down = 0.5)
        .orderBy(col("event_type"), col("hour_idx")),
      Events.changepointsDuckSql(window = 6, up = 1.5, down = 0.5)),

    // Holt double exponential smoothing per event_type daily series —
    // α=β=0.5 dyadic so the fold is bit-reproducible; the sequential
    // recurrence runs as one codegen aggregate-HOF over the day-sorted
    // count array (state bounded by |days|, never event volume)
    QuerySpec("ev_forecast", (s, dir) =>
      Events.holtForecast(T(s, dir, "events")),
      Events.holtForecastDuckSql),

    // Holt-Winters triple exponential smoothing: level + trend + the
    // 7-slot weekday seasonal state, one codegen aggregate-HOF fold whose
    // expression tree the recursive-CTE oracle replays node for node
    QuerySpec("ev_holt_winters", (s, dir) =>
      Events.holtWinters(T(s, dir, "events")),
      Events.holtWintersDuckSql),

    // AR(1) fit per event_type: OLS of y_t on y_{t-1} over consecutive-day
    // pairs — every moment an exact long, the four outputs fixed trees over
    // those integers; degenerate series excluded on both sides
    QuerySpec("ev_arima", (s, dir) =>
      Events.arFit(T(s, dir, "events")),
      Events.arFitDuckSql),

    // log₂-binned events-per-user activity histogram — the whale-vs-lurker
    // distribution readout (the user-graph sibling of gr_degree_hist);
    // exact integer CASE-ladder bins, two tiny aggregates
    QuerySpec("ev_user_hist", (s, dir) => {
      val perUser = T(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      val bin = (0 until 20).foldRight(lit(20L)) { (k, els) =>
        when(col("n") < (1L << (k + 1)), k.toLong).otherwise(els)
      }
      perUser.withColumn("bin", bin)
        .groupBy("bin")
        .agg(count(lit(1)).as("users"), sum("n").as("events"),
          sum("cents").as("cents"),
          min("n").as("min_n"), max("n").as("max_n"))
        .orderBy("bin")
    },
      {
        val caseLadder = (0 until 20).reverse.foldLeft("20") { (els, k) =>
          s"CASE WHEN n < ${1L << (k + 1)} THEN $k ELSE $els END"
        }
        s"""WITH u AS (
           |  SELECT user_id, count(*) AS n,
           |         sum(CAST(round(value * 100) AS BIGINT)) AS cents
           |  FROM events GROUP BY 1
           |)
           |SELECT CAST($caseLadder AS BIGINT) AS bin, count(*) AS users,
           |       CAST(sum(n) AS BIGINT) AS events,
           |       CAST(sum(cents) AS BIGINT) AS cents,
           |       CAST(min(n) AS BIGINT) AS min_n, CAST(max(n) AS BIGINT) AS max_n
           |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // lead–lag cross-correlation screen between event-type daily series,
    // lags 0..3 — exact integer moments per (a, b, lag), one fixed r tree
    QuerySpec("ev_lag_corr", (s, dir) =>
      Events.lagCorrelation(T(s, dir, "events")),
      Events.lagCorrelationDuckSql()),

    // CUPED variance-reduced A/B readout: pooled θ from exact integer
    // moments, per-arm raw vs adjusted mean and variance
    QuerySpec("ev_cuped", (s, dir) =>
      Events.cuped(T(s, dir, "events")),
      Events.cupedDuckSql),

    // event-study curve: per-day treated-minus-control gap re-centered
    // by the pre-period baseline — the parallel-trends diagnostic
    QuerySpec("ev_event_study", (s, dir) =>
      Events.eventStudy(T(s, dir, "events")),
      Events.eventStudyDuckSql),

    // offline bandit replay: daily-epoch greedy policy over cumulative
    // arm means, credited with the logged pulls it would have made
    QuerySpec("ev_bandit", (s, dir) =>
      Events.banditReplay(T(s, dir, "events")),
      Events.banditReplayDuckSql),

    // sample-ratio-mismatch guard: chi-square (1 df) on the arm split
    QuerySpec("ev_srm", (s, dir) =>
      Events.srmCheck(T(s, dir, "events")),
      Events.srmDuckSql),

    // pre-experiment power analysis: required per-arm n for a 5% MDE on
    // per-user cents, exact moments + pinned z literals
    QuerySpec("ev_power", (s, dir) =>
      Events.abPower(T(s, dir, "events")),
      Events.abPowerDuckSql()),

    // difference-in-differences on the same arm/mid-split: 2x2 cells +
    // the parallel-trends estimate, exact cents moments end-to-end
    QuerySpec("ev_did", (s, dir) =>
      Events.did(T(s, dir, "events")),
      Events.didDuckSql),

    // walk-forward one-step Holt backtest: MAE/worst error per series,
    // error sum folded inside the same sequential HOF as the state
    QuerySpec("ev_backtest", (s, dir) =>
      Events.holtBacktest(T(s, dir, "events")),
      Events.holtBacktestDuckSql),

    // time-to-convert histogram: per user, days from first signup to first
    // subsequent purchase (conversions only — censoring lives in
    // ev_survival); exact day-diff buckets from two min() rollups
    QuerySpec("ev_ttc", (s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("day", expr("ts div 86400000000000"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("day").as("d_signup"))
      val pu = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("day").as("d_purchase"))
      su.join(pu, "user_id")
        .filter(col("d_purchase") >= col("d_signup"))
        .withColumn("days_to_convert", col("d_purchase") - col("d_signup"))
        .groupBy("days_to_convert")
        .agg(count(lit(1)).as("users"))
        .orderBy("days_to_convert")
    },
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events
        |), su AS (
        |  SELECT user_id, min(day) AS ds FROM e WHERE event_type = 'signup' GROUP BY 1
        |), pu AS (
        |  SELECT user_id, min(day) AS dp FROM e WHERE event_type = 'purchase' GROUP BY 1
        |)
        |SELECT CAST(dp - ds AS BIGINT) AS days_to_convert, count(*) AS users
        |FROM su JOIN pu USING (user_id)
        |WHERE dp >= ds
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // daily new-vs-returning split — the growth-accounting readout: a
    // user's first-seen day marks them new for that day only; one user
    // min-day rollup joined back on user (never a self-join of the log)
    QuerySpec("ev_new_returning", (s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("day", expr("ts div 86400000000000"))
      val first = ev.groupBy("user_id").agg(min("day").as("d0"))
      ev.join(first, "user_id")
        .withColumn("is_new", (col("day") === col("d0")).cast("long"))
        .groupBy("day")
        .agg(countDistinct(when(col("is_new") === 1, col("user_id"))).as("new_users"),
          countDistinct(when(col("is_new") === 0, col("user_id"))).as("ret_users"),
          sum(col("is_new")).as("new_events"),
          sum(lit(1L) - col("is_new")).as("ret_events"))
        .orderBy("day")
    },
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |), f AS (
        |  SELECT user_id, min(day) AS d0 FROM e GROUP BY 1
        |), j AS (
        |  SELECT e.user_id, e.day,
        |         CASE WHEN e.day = f.d0 THEN 1 ELSE 0 END AS is_new
        |  FROM e JOIN f ON f.user_id = e.user_id
        |)
        |SELECT day,
        |       count(DISTINCT CASE WHEN is_new = 1 THEN user_id END) AS new_users,
        |       count(DISTINCT CASE WHEN is_new = 0 THEN user_id END) AS ret_users,
        |       CAST(sum(is_new) AS BIGINT) AS new_events,
        |       CAST(sum(1 - is_new) AS BIGINT) AS ret_events
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),

    // Pareto concentration deciles: exact per-decile event/cent sums and
    // shares — the distributional readout beside the single-number Gini
    QuerySpec("ev_pareto", (s, dir) =>
      Events.paretoDeciles(T(s, dir, "events")),
      Events.paretoDecilesDuckSql),

    // two-sided CUSUM control chart per event_type: exact-moment μ/σ
    // constants, the max(0, ·) recurrence as one aggregate-HOF fold,
    // replayed step-for-step by the oracle's recursive CTE
    QuerySpec("ev_cusum", (s, dir) =>
      Events.cusum(T(s, dir, "events")),
      Events.cusumDuckSql),

    // STL-lite weekday decomposition: centered 7-row MA trend, per-weekday
    // seasonal index + residual variance from EXACT ×7-scaled integer
    // moments — only the closing divisions are float
    QuerySpec("ev_seasonal", (s, dir) =>
      Events.seasonalDecompose(T(s, dir, "events")),
      Events.seasonalDuckSql),

    // Kaplan-Meier churn survival: lifetime = first→last event days,
    // 7-day right-censor window at the corpus end; Ŝ(t) as an ordered
    // ln/exp running fold both engines execute in the identical order
    QuerySpec("ev_survival", (s, dir) =>
      Events.kaplanMeier(T(s, dir, "events"), censorDays = 7),
      Events.kaplanMeierDuckSql(censorDays = 7)),

    // ordered funnel view → click → purchase within 48 h of the first
    // view — chained running-min windows, one shuffle (Events.funnel)
    QuerySpec("ev_funnel", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts div 1000").as("tsn"), col("event_type"))
      Events.funnel(ev, Seq("view", "click", "purchase"), 48L * 3600L * 1000000L)
        .orderBy(col("stage"))
    },
      // stage-k time = min event of that type strictly after stage k−1 and
      // within the horizon of stage 1 — the join formulation is equivalent to
      // the Spark chained-running-min windows (proof sketch at Events.funnel:
      // in (tsn, event_id) order the earliest qualifying predecessor is
      // always ordered before any row it can qualify)
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type FROM events),
        |c1 AS (SELECT user_id, min(tsn) AS ts0 FROM e WHERE event_type = 'view' GROUP BY 1),
        |c2 AS (SELECT e.user_id, min(e.tsn) AS ts1
        |       FROM e JOIN c1 ON e.user_id = c1.user_id
        |       WHERE e.event_type = 'click' AND e.tsn > c1.ts0
        |         AND e.tsn <= c1.ts0 + 172800000000 GROUP BY 1),
        |c3 AS (SELECT e.user_id, min(e.tsn) AS ts2
        |       FROM e JOIN c2 ON e.user_id = c2.user_id
        |            JOIN c1 ON e.user_id = c1.user_id
        |       WHERE e.event_type = 'purchase' AND e.tsn > c2.ts1
        |         AND e.tsn <= c1.ts0 + 172800000000 GROUP BY 1)
        |SELECT 1 AS stage, 'view' AS event_type,
        |       (SELECT count(*) FROM c1) AS n_users,
        |       round((SELECT count(*) FROM c1)::DOUBLE / (SELECT count(*) FROM c1), 6) AS conv
        |UNION ALL
        |SELECT 2, 'click', (SELECT count(*) FROM c2),
        |       round((SELECT count(*) FROM c2)::DOUBLE / (SELECT count(*) FROM c1), 6)
        |UNION ALL
        |SELECT 3, 'purchase', (SELECT count(*) FROM c3),
        |       round((SELECT count(*) FROM c3)::DOUBLE / (SELECT count(*) FROM c1), 6)
        |ORDER BY stage""".stripMargin),

    // cohort retention: first-active-day cohorts × day offset — the
    // user-growth matrix every analytics stack reports (Events.retention)
    QuerySpec("ev_retention", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"),
        expr("ts div 1000").as("tsn"))
      Events.retention(ev).orderBy(col("cohort_day"), col("day_offset"))
    },
      """WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Count-Min frequency sketch vs exact counts: per-user event counts
    // estimated from a fixed 4×512 counter grid (est ≥ exact always; the
    // sketch build is map-side combinable — the 100 TB frequency story)
    QuerySpec("ev_cms", (s, dir) => {
      val ev = T(s, dir, "events")
      val sk = CountMin.sketch(ev, "user_id")
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      CountMin.estimate(exact.select("user_id"), "user_id", sk)
        .join(exact, "user_id")
        .select(col("user_id"), col("n_exact"), col("cms_est"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(20)
    },
      {
        def cases(k: String) = (0 until CountMin.Depth)
          .map(r => s"WHEN $r THEN ${CountMin.bucketDuckSql(k, r)}").mkString(" ")
        s"""WITH ex AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1),
           |rr AS (SELECT unnest(range(${CountMin.Depth})) AS r),
           |cells AS (
           |  SELECT rr.r, CASE rr.r ${cases("user_id")} END AS b, count(*) AS cnt
           |  FROM events CROSS JOIN rr GROUP BY 1, 2
           |), est AS (
           |  SELECT ex.user_id, min(c.cnt) AS cms_est
           |  FROM ex CROSS JOIN rr
           |  JOIN cells c ON c.r = rr.r AND c.b = (CASE rr.r ${cases("ex.user_id")} END)
           |  GROUP BY 1
           |)
           |SELECT ex.user_id, ex.n_exact, est.cms_est
           |FROM ex JOIN est ON ex.user_id = est.user_id
           |ORDER BY ex.n_exact DESC, ex.user_id LIMIT 20""".stripMargin
      }),

    // z-score anomalies over hourly per-type counts: integer-exact moment
    // sums -> bit-reproducible mean/std, per-type stats broadcast
    QuerySpec("ev_anomaly", (s, dir) => {
      Events.anomalies(T(s, dir, "events"), z = 2.0)
        .orderBy(col("event_type"), col("hour_idx"))
    },
      Events.anomaliesDuckSql(z = 2.0)),

    // retry-storm duplicate suppression (batch sibling of the streaming
    // exact dedup): lag rule on (user, type), one shuffle reused by window
    // and aggregate
    QuerySpec("ev_dedup_window", (s, dir) => {
      Events.dedupWindow(T(s, dir, "events"), windowNs = 6L * 3600 * 1000000000L)
        .orderBy(col("user_id"), col("event_type"))
    },
      Events.dedupWindowDuckSql(6L * 3600 * 1000000000L)),

    // incrementally-maintained daily metrics mart: bootstrap the first 70%
    // of days, then MERGE the rest as the "nightly batch" — only its day
    // partitions rewrite (dynamic overwrite); the read-back table must
    // equal the oracle's full recompute
    QuerySpec("ev_daily_mv", (s, dir) => {
      val ev = T(s, dir, "events")
      val dayNs = 86400000000000L
      val mm = ev.agg(min(expr(s"ts div $dayNs")), max(expr(s"ts div $dayNs"))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 7 / 10
      val d = java.nio.file.Files.createTempDirectory("graft-mv")
      d.toFile.deleteOnExit()
      val p = d.resolve("daily").toString
      Events.dailyAggMerge(ev.filter(expr(s"ts div $dayNs") < cut), p)
      Events.dailyAggMerge(ev.filter(expr(s"ts div $dayNs") >= cut), p)
      s.read.parquet(p)
        .select(col("day").cast("long").as("day"), col("event_type"),
          col("n"), col("sum_cents"), col("n_users"))
        .orderBy(col("day"), col("event_type"))
    },
      """SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // two-level HLL rollup: daily register sketches merged by max — the
    // mergeable-sketch storage pattern; the oracle replays a SINGLE-pass
    // HLL, so the hash match proves the daily-merge path is lossless
    QuerySpec("ev_hll_rollup", (s, dir) => {
      val fnv = udf((x: Long) => TextAnalysis.fnv1a64(x.toString))
      Events.hllRollup(T(s, dir, "events").select(
          col("event_type").as("g"),
          expr("ts div 86400000000000").as("day"),
          fnv(col("user_id")).as("h")))
        .select(col("g").as("event_type"), col("v_zero"), col("est"),
          col("n_days"))
        .orderBy(col("event_type"))
    },
      s"""WITH hashed AS (
         |  SELECT event_type AS g, ${Dedup.fnv64DuckSql("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events
         |), ${Events.hllDuckSql},
         |days AS (
         |  SELECT event_type AS g,
         |         count(DISTINCT epoch_ns(ts) // 86400000000000) AS n_days
         |  FROM events GROUP BY 1
         |)
         |SELECT g AS event_type, CAST(v_zero AS BIGINT) AS v_zero, est,
         |       CAST(n_days AS BIGINT) AS n_days
         |FROM hll_est JOIN days USING (g) ORDER BY 1""".stripMargin),

    // fixed-bin histogram quantiles: the scale sibling of ev_quantiles —
    // map-side combine caps the exchange at |types|·1024 rows at ANY corpus
    // size; integer rank test, binary-exact bin edges
    QuerySpec("ev_hist_quantiles", (s, dir) => {
      Events.histQuantiles(T(s, dir, "events"))
    },
      Events.histQuantilesDuckSql()),

    // first-order Markov transitions over per-user event sequences: one
    // user_id exchange for the lag window, pair counts + exact-ratio probs
    QuerySpec("ev_markov", (s, dir) => {
      Events.transitions(T(s, dir, "events"))
    },
      Events.transitionsDuckSql),

    // explicitly SALTED fact-to-dim enrichment join (dim replicated ×salts,
    // fact never inflates) — same result as unsalted, pinned by EventsSpec
    QuerySpec("ev_salted_join", (s, dir) => {
      Events.saltedUserMaxHits(T(s, dir, "events"), salts = 8)
    },
      Events.saltedUserMaxHitsDuckSql),

    // empirical-Bayes smoothed conversion ranking: beta-binomial shrinkage
    // toward the global rate (m=20 pseudo-events), top-50 by smoothed rate
    QuerySpec("ev_bayes", (s, dir) =>
      Events.ebConversion(T(s, dir, "events")),
      Events.ebConversionDuckSql())
  )
}
