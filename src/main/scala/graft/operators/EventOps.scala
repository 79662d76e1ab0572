package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exact.{sumFixed, sumFixedSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch formulations of the reference's streaming semantics over the
  * `events` table, each with a DuckDB oracle that reproduces Spark's
  * window arithmetic exactly.
  *
  * The alert query (q20) is the reference's single query re-based onto
  * the driver's event schema: "alert per (sliding window, user) when the
  * user has SOME high-value error event AND SOME low-value purchase
  * event in the window" — the same ∃/∃ conjunction as
  * BiometricAlertStreamProcessor.scala:59–62 (systolic<100 ∧
  * heartRate>100), computed with the O(1)-state flag aggregation from
  * SURVEY.md §2.5 A1 instead of the reference's collect-to-list plan.
  *
  * Window-assignment arithmetic (oracle side): Spark's TimeWindow
  * assigns an event at epoch-seconds `es` to every pane with
  * `start = (floor(es/slide) - k) * slide, k ∈ [0, len/slide)`, subject
  * to `start + len > es` — identical to
  * AkkaBiometricAlertStreamProcessor.scala:44–56 (`windowsFor`).
  */
object EventOps {

  private def ev(s: SparkSession, d: String) = Tables(s, d, "events")

  /** Alert predicate halves, reused across q20/q24/q25. */
  private val isError = "event_type = 'error' AND value > 100"
  private val isPurchase = "event_type = 'purchase' AND value < 50"

  val defs: Seq[QueryDef] = Seq(
    // ---- q20: sliding-window ∃/∃ alert (the reference query, P6+A1) ----
    // 6h window / 1h slide. The per-stream predicate halves are pushed
    // below the window agg (legal here: the flags only read those rows),
    // so pane state is two booleans per (window,user) — O(1), not
    // O(events) like the reference's list-concat reducer. The flags are
    // the streaming pipeline's own operator with q20's predicates; the
    // pre-filter stays here, at the scan: inside the shared operator it
    // would sink below the streaming watermark.
    QueryDef(
      "q20_sliding_alert",
      (s, d) =>
        AlertOps.slidingWindowFlags(
            ev(s, d).filter(expr(s"($isError) OR ($isPurchase)")),
            "6 hours", "1 hour", expr(isError), expr(isPurchase))
          .filter(col("has_high_hr") && col("has_low_bp"))
          .select(
            unix_timestamp(col("window.start")).as("w_start"),
            col("user_id"),
            format_string("User %d has a problem", col("user_id")).as("message")),
      Some(s"""WITH e AS (
              |  SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events
              |  WHERE ($isError) OR ($isPurchase)),
              |panes AS (
              |  SELECT user_id, event_type, value,
              |         ((us // 3600000000) - g.k) * 3600 AS ws
              |  FROM e, UNNEST(generate_series(0, 5)) AS g(k)
              |  WHERE (((us // 3600000000) - g.k) * 3600 + 21600) * 1000000 > us)
              |SELECT ws AS w_start, user_id,
              |       'User ' || user_id || ' has a problem' AS message
              |FROM panes GROUP BY 1, 2
              |HAVING max(CASE WHEN $isError THEN 1 ELSE 0 END) = 1
              |   AND max(CASE WHEN $isPurchase THEN 1 ELSE 0 END) = 1""".stripMargin)),

    // ---- q21: session windows (W6) -------------------------------------
    // 4h gap. Spark session end = last event ts + gap.
    QueryDef(
      "q21_session",
      (s, d) =>
        ev(s, d)
          .groupBy(session_window(col("ts"), "4 hours"), col("user_id"))
          .agg(count(lit(1)).as("n_events"), round(sumFixed("value"), 2).as("sum_value"))
          .select(
            col("user_id"),
            unix_timestamp(col("session_window.start")).as("s_start"),
            unix_timestamp(col("session_window.end")).as("s_end"),
            col("n_events"), col("sum_value")),
      Some(s"""WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
             |m AS (SELECT user_id, value, us,
             |        CASE WHEN us - lag(us) OVER w >= 14400000000
             |               OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |g AS (SELECT user_id, value, us,
             |        sum(brk) OVER (PARTITION BY user_id ORDER BY us
             |                       ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM m)
             |SELECT user_id,
             |  min(us) // 1000000 AS s_start,
             |  max(us) // 1000000 + 14400 AS s_end,
             |  count(*) AS n_events, round(${sumFixedSql("value")}, 2) AS sum_value
             |FROM g GROUP BY user_id, sid""".stripMargin)),

    // ---- q22: tumbling window aggregate (W1 degenerate case) -----------
    QueryDef(
      "q22_tumbling",
      (s, d) =>
        ev(s, d)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sumFixed("value"), 2).as("sum_value"))
          .select(
            unix_timestamp(col("window.start")).as("h_start"),
            col("event_type"), col("n"), col("sum_value")),
      Some(s"""SELECT (epoch_us(ts) // 3600000000) * 3600 AS h_start,
              |  event_type, count(*) AS n, round(${sumFixedSql("value")}, 2) AS sum_value
              |FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- q23: JSON field extraction (P1 analog on `props`) -------------
    QueryDef(
      "q23_json",
      (s, d) =>
        ev(s, d)
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").cast("int").as("k_val"))
          .filter(col("k_val") > 50),
      Some("""SELECT event_id,
             |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
             |FROM events
             |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50""".stripMargin)),

    // ---- q24: session-window debounce (T4, Beam semantics) -------------
    // Alerts (high-value errors) grouped into 2h-gap sessions per user;
    // keep the first alert of each session, count the suppressed rest.
    QueryDef(
      "q24_session_debounce",
      (s, d) =>
        ev(s, d)
          .filter(expr(isError))
          .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
          .agg(min(col("ts")).as("first_ts"), count(lit(1)).as("n_suppressed"))
          .select(col("user_id"),
            unix_timestamp(col("first_ts")).as("alert_s"),
            (col("n_suppressed") - 1).as("n_suppressed")),
      Some(s"""WITH a AS (SELECT user_id, epoch_us(ts) AS us FROM events
              |           WHERE $isError),
              |m AS (SELECT user_id, us,
              |        CASE WHEN us - lag(us) OVER w >= 7200000000
              |               OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
              |      FROM a WINDOW w AS (PARTITION BY user_id ORDER BY us)),
              |g AS (SELECT user_id, us,
              |        sum(brk) OVER (PARTITION BY user_id ORDER BY us
              |                       ROWS UNBOUNDED PRECEDING) AS sid
              |      FROM m)
              |SELECT user_id, min(us) // 1000000 AS alert_s,
              |       count(*) - 1 AS n_suppressed
              |FROM g GROUP BY user_id, sid""".stripMargin)),

    // ---- q25: interval (band) join (J2, Kafka JoinWindows analog) ------
    // errors ⋈ purchases within ±2h per user. At scale: equi-key on
    // user_id makes this a shuffled hash join with a range residual —
    // bounded blow-up because the band is narrow.
    QueryDef(
      "q25_band_join",
      (s, d) => {
        val e = ev(s, d).filter(expr(isError))
          .select(col("user_id"), col("ts").as("e_ts"))
        val p = ev(s, d).filter(expr(isPurchase))
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        e.join(p, col("user_id") === col("p_user")
            && col("p_ts") >= col("e_ts") - expr("INTERVAL 2 HOURS")
            && col("p_ts") <= col("e_ts") + expr("INTERVAL 2 HOURS"))
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
      },
      Some(s"""SELECT e.user_id, count(*) AS n_pairs
              |FROM (SELECT user_id, ts FROM events WHERE $isError) e
              |JOIN (SELECT user_id, ts FROM events WHERE $isPurchase) p
              |  ON e.user_id = p.user_id
              | AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= 7200000000
              |GROUP BY 1""".stripMargin)),

    // ---- q27: as-of join -----------------------------------------------
    // For each error event, the most recent purchase at-or-before it
    // per user. Spark has no as-of join operator; rather than a custom
    // SparkPlan, compose built-ins (preference order (a) in the build
    // rules): tag+union both sides, one shuffle on user_id, sort within
    // partitions, and carry the last purchase time forward with a
    // running `last(_, ignoreNulls)` window — the textbook distributed
    // as-of shape (no point-in-time cross join, no range explosion).
    // Purchases sort before errors at equal timestamps so `<=` holds.
    QueryDef(
      "q27_asof_join",
      (s, d) => {
        val ev0 = ev(s, d)
        val err = ev0.filter(col("event_type") === "error")
          .select(col("user_id"), expr("unix_micros(ts)").as("us"),
            lit(1).as("kind"), lit(null).cast("long").as("p_us"))
        val pur = ev0.filter(col("event_type") === "purchase")
          .select(col("user_id"), expr("unix_micros(ts)").as("us"),
            lit(0).as("kind"), expr("unix_micros(ts)").as("p_us"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        err.unionByName(pur)
          .withColumn("last_p", last(col("p_us"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1 && col("last_p").isNotNull)
          .select(col("user_id"), col("us").as("e_us"), col("last_p").as("p_us"))
      },
      Some("""SELECT e.user_id, epoch_us(e.ts) AS e_us, epoch_us(p.ts) AS p_us
             |FROM (SELECT user_id, ts FROM events WHERE event_type = 'error') e
             |ASOF JOIN (SELECT user_id, ts FROM events
             |           WHERE event_type = 'purchase') p
             |  ON e.user_id = p.user_id AND p.ts <= e.ts""".stripMargin)),

    // ---- q28: salted two-phase aggregation (skew pattern) --------------
    // event_type has only 5 values → 5 hot reducers at 100 TB. Salt the
    // key with user_id%16 for the partial aggregate, then combine the
    // 16 partials per key. Results are identical to a direct groupBy
    // (integer fixed-point sums are associative), which is exactly what
    // the oracle checks.
    QueryDef(
      "q28_salted_agg",
      (s, d) => {
        val partial = ev(s, d)
          .groupBy(col("event_type"), pmod(col("user_id"), lit(16)).as("salt"))
          .agg(count(lit(1)).as("pn"),
            sum(expr("cast(round(value * 100, 0) as bigint)")).as("pc"))
        partial.groupBy(col("event_type"))
          .agg(sum(col("pn")).as("n"),
            round(sum(col("pc")) / 100.0, 2).as("sum_value"))
      },
      Some(s"""SELECT event_type, count(*) AS n,
              |  round(${sumFixedSql("value")}, 2) AS sum_value
              |FROM events GROUP BY 1""".stripMargin)),

    // ---- q29: pivot (event_type → columns per user) --------------------
    QueryDef(
      "q29_pivot",
      (s, d) =>
        ev(s, d)
          .groupBy(col("user_id"))
          .pivot("event_type",
            Seq("click", "view", "purchase", "signup", "error"))
          .agg(count(lit(1)))
          .na.fill(0L),
      Some("""SELECT user_id,
             |  count(*) FILTER (WHERE event_type = 'click') AS click,
             |  count(*) FILTER (WHERE event_type = 'view') AS view,
             |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |  count(*) FILTER (WHERE event_type = 'error') AS error
             |FROM events GROUP BY 1""".stripMargin)),

    // ---- q26: cooldown debounce (T1 semantics, batch form) -------------
    // Greedy leading debounce: per user, emit an alert only if ≥ 24h
    // after the last EMITTED alert. Iterative semantics, but still
    // oracle-checkable: a recursive CTE steps per user through the
    // emitted chain (each step = min event us ≥ last emitted + 24h).
    // Scalable shape: repartition by user, sort within partitions,
    // single streaming pass (no per-group materialization).
    QueryDef(
      "q26_cooldown_debounce",
      (s, d) => {
        import s.implicits._
        val cooldownUs = 24L * 3600 * 1000000
        ev(s, d)
          .filter(expr(isError))
          .select(col("user_id"), expr("unix_micros(ts)").as("us"))
          .repartition(col("user_id"))
          .sortWithinPartitions("user_id", "us")
          .as[(Long, Long)]
          .mapPartitions { it =>
            var curUser = Long.MinValue
            var lastEmit = Long.MinValue
            it.flatMap { case (u, us) =>
              if (u != curUser) { curUser = u; lastEmit = us; Some((u, us / 1000000)) }
              else if (us - lastEmit >= cooldownUs) { lastEmit = us; Some((u, us / 1000000)) }
              else None
            }
          }
          .toDF("user_id", "alert_s")
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT user_id, epoch_us(ts) AS us FROM events
             |  WHERE event_type = 'error' AND value > 100
             |),
             |emit(user_id, us) AS (
             |  SELECT user_id, min(us) FROM e GROUP BY user_id
             |  UNION ALL
             |  SELECT emit.user_id,
             |    (SELECT min(e2.us) FROM e e2
             |     WHERE e2.user_id = emit.user_id
             |       AND e2.us >= emit.us + 86400000000)
             |  FROM emit
             |  WHERE (SELECT min(e2.us) FROM e e2
             |         WHERE e2.user_id = emit.user_id
             |           AND e2.us >= emit.us + 86400000000) IS NOT NULL
             |)
             |SELECT user_id, us // 1000000 AS alert_s FROM emit""".stripMargin)),

    // ---- q49: inter-event gaps (lag over per-user event order) ----------
    // SQL window functions (the one analytic family the reference's
    // "window" never means): per-user previous-event delta in exact
    // integer µs. One shuffle on user_id + in-partition sort; the
    // (ts, event_id) order key is unique, so the result is
    // deterministic under timestamp ties. At 100 TB this partitioning
    // is the same per-user layout every other per-user op here rides.
    QueryDef(
      "q49_lag_delta",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        ev(s, d)
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("delta_us", col("us") - lag(col("us"), 1).over(w))
          .select(col("event_id"), col("user_id"), col("delta_us"))
      },
      Some("""SELECT event_id, user_id,
             |  epoch_us(ts) - lag(epoch_us(ts)) OVER
             |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta_us
             |FROM events""".stripMargin)),

    // ---- q78: exponentially-decayed per-user engagement -----------------
    // Recency-weighted activity (the feature behind "recent usage"
    // ranking/eviction): each event contributes value·2^−age_days,
    // halving per day of age relative to the corpus high-water mark.
    // Reproducible-exact by construction: the age is integer-µs
    // arithmetic, the weight is a POWER OF TWO built with an integer
    // bit-shift (1<<d is exact in both engines; pow(2.0,−d) would be
    // libm-dependent), the per-event product is one exactly-rounded
    // IEEE multiply, and the sum goes through [[Exact.sumFixed]]'s
    // fixed-point integers so aggregation order cannot change the
    // result. One shuffle (the user_id aggregate, partial-aggregated);
    // the high-water mark is a 1-row broadcast.
    QueryDef(
      "q78_time_decay",
      (s, d) => {
        val e = ev(s, d).select(col("user_id"), col("value"),
          expr("unix_micros(ts)").as("us"))
        val hw = e.agg(max(col("us")).as("mx"))
        e.crossJoin(broadcast(hw))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(sumFixed(
              "value / cast(shiftleft(cast(1 as bigint), cast(least((mx - us) div 86400000000, 62) as int)) as double)",
              6), 4).as("decayed"))
      },
      Some(s"""WITH e AS (SELECT user_id, value, epoch_us(ts) AS us FROM events),
              |m AS (SELECT max(us) AS mx FROM e)
              |SELECT user_id, count(*) AS n_events,
              |  round(${sumFixedSql(
                 "value / ((1::BIGINT << least((mx - us) // 86400000000, 62))::DOUBLE)",
                 6)}, 4) AS decayed
              |FROM e, m GROUP BY user_id""".stripMargin)),

    // ---- q79: rolling 1-hour RANGE-frame aggregates ---------------------
    // Per-event trailing-hour activity (rate features / anomaly
    // numerators): for every event, the count and fixed-point value
    // sum of the same user's events in [ts − 1h, ts]. This is the
    // RANGE window frame — value-based bounds over exact integer µs,
    // a different window shape from q49's row-offset lag and the
    // q21/q24 gap sessions; ties share a peer frame identically in
    // both engines. One shuffle on user_id + in-partition sort, then
    // the frame evaluates as a two-pointer sliding accumulation —
    // O(events per user), never O(n²) — on the same per-user layout
    // every other per-user op here rides.
    QueryDef(
      "q79_rolling",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-3600000000L, 0)
        ev(s, d)
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("us"),
            expr("cast(round(value * 100, 0) as bigint)").as("cv"))
          .withColumn("roll_n", count(lit(1)).over(w))
          .withColumn("roll_sum", round(sum(col("cv")).over(w) / lit(100.0), 2))
          .select(col("event_id"), col("user_id"), col("us"),
            col("roll_n"), col("roll_sum"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
             |            CAST(round(value * 100) AS BIGINT) AS cv FROM events)
             |SELECT event_id, user_id, us,
             |  count(*) OVER w AS roll_n,
             |  round(CAST(sum(cv) OVER w AS BIGINT) / 100.0, 2) AS roll_sum
             |FROM e
             |WINDOW w AS (PARTITION BY user_id ORDER BY us
             |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // ---- q84: latest-wins compaction (CDC/upsert resolution) ------------
    // The "current state" materialization every changelog-shaped
    // table needs: per key, the most recent record wins ((ts,
    // event_id) is a unique order, so ties cannot flip the winner).
    // Executed as a struct-max aggregate: the string payload in the
    // struct keeps it off HashAggregate's primitive-buffer fast path
    // (Spark plans a SortAggregate), but PARTIAL aggregation still
    // collapses every partition to one candidate per key before the
    // exchange — the shuffle carries |keys| rows, not |events|, which
    // is the property that matters at 100 TB. (The row_number-window
    // formulation the oracle uses would sort-AND-shuffle the full
    // changelog; trading the map-side sort away needs a packed-BIGINT
    // argmax + payload fetch join, a worse deal than sorting.)
    QueryDef(
      "q84_compact",
      (s, d) =>
        ev(s, d)
          .select(col("user_id"), expr("unix_micros(ts)").as("us"),
            col("event_id"), col("event_type"),
            expr("cast(round(value * 100, 0) as bigint)").as("cv"))
          .groupBy(col("user_id"))
          .agg(max(struct(col("us"), col("event_id"), col("event_type"),
            col("cv"))).as("b"))
          .select(col("user_id"), col("b.us").as("last_us"),
            col("b.event_id").as("last_event_id"),
            col("b.event_type").as("last_event_type"),
            round(col("b.cv") / 100.0, 2).as("last_value")),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |            event_type, CAST(round(value * 100) AS BIGINT) AS cv
             |          FROM events),
             |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY us DESC, event_id DESC) AS rn FROM e)
             |SELECT user_id, us AS last_us, event_id AS last_event_id,
             |  event_type AS last_event_type, round(cv / 100.0, 2) AS last_value
             |FROM r WHERE rn = 1""".stripMargin)),

    // ---- q85: SCD-2 history (validity intervals from a changelog) -------
    // q84 keeps only the latest record; the other half of CDC
    // materialization is the FULL slowly-changing-dimension history:
    // every (user, attribute) version with its validity interval
    // [valid_from, valid_to), valid_to = next version's timestamp
    // (NULL while current). One shuffle on (user_id, event_type) +
    // an in-partition (us, event_id) sort shared by the lead() and
    // the version row_number — the unique order key makes interval
    // boundaries deterministic under timestamp ties. At 100 TB this
    // is the standard changelog→history compaction: the exchange
    // carries the changelog once, and each partition's history is
    // produced by a single linear pass.
    QueryDef(
      "q85_scd2",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("us"), col("event_id"))
        ev(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            expr("unix_micros(ts)").as("us"),
            expr("cast(round(value * 100, 0) as bigint)").as("cv"))
          .withColumn("version", row_number().over(w))
          .withColumn("valid_to", lead(col("us"), 1).over(w))
          .select(col("user_id"), col("event_type"), col("version"),
            round(col("cv") / 100.0, 2).as("value"),
            col("us").as("valid_from"), col("valid_to"),
            col("valid_to").isNull.as("is_current"))
      },
      Some("""WITH e AS (SELECT user_id, event_type, event_id,
             |            epoch_us(ts) AS us,
             |            CAST(round(value * 100) AS BIGINT) AS cv FROM events)
             |SELECT user_id, event_type,
             |  CAST(row_number() OVER w AS INTEGER) AS version,
             |  round(cv / 100.0, 2) AS value,
             |  us AS valid_from, lead(us) OVER w AS valid_to,
             |  (lead(us) OVER w IS NULL) AS is_current
             |FROM e
             |WINDOW w AS (PARTITION BY user_id, event_type
             |             ORDER BY us, event_id)""".stripMargin)),

    // ---- q87: sessionized funnel (ordered stage conversion) -------------
    // The product-analytics staple the alert queries don't cover:
    // within each 4h-gap session (q21's sessionization), did the user
    // progress view → click → purchase IN THAT ORDER? Stage k counts
    // only strictly after the first stage-(k−1) completion, so a
    // purchase before the first click does not convert. Everything —
    // the lag/cumsum session ids, the three chained stage-min windows,
    // and the per-session collapse — rides ONE exchange on user_id
    // with one (us, event_id) in-partition sort; the final per-user
    // funnel rollup is a partial aggregation of |sessions| rows.
    QueryDef(
      "q87_funnel",
      (s, d) => {
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val e = ev(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("brk",
            when(col("us") - lag(col("us"), 1).over(wOrd) >= 14400000000L
              || lag(col("us"), 1).over(wOrd).isNull, 1).otherwise(0))
          .withColumn("sid", sum(col("brk")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val wSess = Window.partitionBy(col("user_id"), col("sid"))
        val staged = e
          .withColumn("fv", min(when(col("event_type") === "view", col("us"))).over(wSess))
          .withColumn("fc", min(when(col("event_type") === "click"
            && col("us") > col("fv"), col("us"))).over(wSess))
          .withColumn("fp", min(when(col("event_type") === "purchase"
            && col("us") > col("fc"), col("us"))).over(wSess))
        staged.groupBy(col("user_id"), col("sid"))
          .agg(max(col("fv")).as("v"), max(col("fc")).as("c"), max(col("fp")).as("p"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("v").isNotNull, 1).otherwise(0)).as("n_view"),
            sum(when(col("c").isNotNull, 1).otherwise(0)).as("n_view_click"),
            sum(when(col("p").isNotNull, 1).otherwise(0)).as("n_full_funnel"))
      },
      Some("""WITH e AS (SELECT user_id, event_type, event_id,
             |            epoch_us(ts) AS us FROM events),
             |m AS (SELECT *, CASE WHEN us - lag(us) OVER w >= 14400000000
             |                       OR lag(us) OVER w IS NULL THEN 1 ELSE 0
             |                END AS brk
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
             |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM m),
             |st AS (SELECT *,
             |    min(CASE WHEN event_type = 'view' THEN us END) OVER ws AS fv
             |  FROM g WINDOW ws AS (PARTITION BY user_id, sid)),
             |st2 AS (SELECT *,
             |    min(CASE WHEN event_type = 'click' AND us > fv THEN us END)
             |      OVER ws AS fc
             |  FROM st WINDOW ws AS (PARTITION BY user_id, sid)),
             |st3 AS (SELECT *,
             |    min(CASE WHEN event_type = 'purchase' AND us > fc THEN us END)
             |      OVER ws AS fp
             |  FROM st2 WINDOW ws AS (PARTITION BY user_id, sid)),
             |sess AS (SELECT user_id, sid, max(fv) AS v, max(fc) AS c, max(fp) AS p
             |         FROM st3 GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_sessions,
             |  CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
             |  CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
             |  CAST(sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
             |FROM sess GROUP BY user_id""".stripMargin)),

    // ---- q97: rolling z-score anomaly flags ------------------------------
    // Per-event anomaly detection against the user's OWN trailing hour
    // (q79's RANGE frame carrying two more moments): flag events more
    // than 3σ from the trailing mean. Entirely sqrt-free — the test is
    // (x−μ)² > 9·σ², with μ and σ² from fixed-point integer sums (cv =
    // value·100 as BIGINT; Σcv and Σcv² are order-independent longs),
    // so every float op is one exactly-rounded IEEE step both engines
    // perform identically. One user_id exchange + in-partition sort,
    // same per-user layout as q49/q79/q84/q85.
    QueryDef(
      "q97_rolling_anomaly",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-3600000000L, 0)
        ev(s, d)
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("us"),
            expr("cast(round(value * 100, 0) as bigint)").as("cv"))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("s1", sum(col("cv")).over(w))
          .withColumn("s2", sum(col("cv") * col("cv")).over(w))
          .filter(col("n") >= 2)
          .withColumn("mu", col("s1") / col("n"))
          .withColumn("var", col("s2") / col("n") - col("mu") * col("mu"))
          .select(col("event_id"), col("user_id"), col("n"),
            round(col("mu") / 100.0, 4).as("roll_mean"),
            ((col("cv") - col("mu")) * (col("cv") - col("mu"))
              > lit(9.0) * col("var")).as("anomaly"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
             |            CAST(round(value * 100) AS BIGINT) AS cv FROM events),
             |m AS (SELECT event_id, user_id, cv,
             |        count(*) OVER w AS n,
             |        CAST(sum(cv) OVER w AS BIGINT) AS s1,
             |        CAST(sum(cv * cv) OVER w AS BIGINT) AS s2
             |      FROM e
             |      WINDOW w AS (PARTITION BY user_id ORDER BY us
             |                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
             |SELECT event_id, user_id, n,
             |  round((s1 / n) / 100.0, 4) AS roll_mean,
             |  ((cv - s1 / n) * (cv - s1 / n)
             |    > 9.0::DOUBLE * (s2 / n - (s1 / n) * (s1 / n))) AS anomaly
             |FROM m WHERE n >= 2""".stripMargin)),

    // ---- q98: cohort retention matrix ------------------------------------
    // The retention table every activity dashboard is built from: users
    // cohorted by first-seen week, each cell counting cohort members
    // active k weeks later. The first-seen week is a min over the SAME
    // user_id partitioning the week-bucketing rides (one exchange, no
    // self-join back); weeks are exact integer µs division, and the
    // (user, offset) de-dup collapses map-side before the tiny
    // cohort×offset rollup.
    QueryDef(
      "q98_cohort_retention",
      (s, d) => {
        val wU = Window.partitionBy(col("user_id"))
        ev(s, d)
          .select(col("user_id"), expr("unix_micros(ts)").as("us"))
          .withColumn("wk", floor(col("us") / 604800000000L))
          .withColumn("cohort_week", min(col("wk")).over(wU))
          .select(col("user_id"), col("cohort_week"),
            (col("wk") - col("cohort_week")).as("week_offset"))
          .distinct()
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(count(lit(1)).as("n_active"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk
             |          FROM events),
             |c AS (SELECT user_id, wk,
             |        min(wk) OVER (PARTITION BY user_id) AS cohort_week
             |      FROM e),
             |d AS (SELECT DISTINCT user_id, cohort_week,
             |        wk - cohort_week AS week_offset FROM c)
             |SELECT cohort_week, week_offset, count(*) AS n_active
             |FROM d GROUP BY 1, 2""".stripMargin)),

    // ---- q133: behavioral trigram mining ---------------------------------
    // The top per-user event-type trigrams across the corpus — the
    // sequence-pattern miner funnels (q87) are designed FROM (what do
    // users actually do in threes?). No per-user arrays: two lead()
    // windows on ONE user_id exchange stream each user's ordered
    // events through the reducer (bounded memory however hot the
    // user), ordered by the unique (ts, event_id) key so both engines
    // see identical sequences. The trigram aggregate collapses
    // map-side; the global top-20 is a TakeOrderedAndProject with
    // full tiebreak, never a global sort.
    QueryDef(
      "q133_event_trigrams",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        ev(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("t1"))
          .withColumn("t2", lead(col("t1"), 1).over(w))
          .withColumn("t3", lead(col("t1"), 2).over(w))
          .filter(col("t3").isNotNull)
          .groupBy(col("t1"), col("t2"), col("t3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("t1").asc, col("t2").asc,
            col("t3").asc)
          .limit(20)
      },
      Some("""WITH t AS (SELECT event_type AS t1,
             |         lead(event_type, 1) OVER w AS t2,
             |         lead(event_type, 2) OVER w AS t3
             |       FROM events
             |       WINDOW w AS (PARTITION BY user_id
             |                    ORDER BY ts, event_id))
             |SELECT t1, t2, t3, count(*) AS n
             |FROM t WHERE t3 IS NOT NULL
             |GROUP BY 1, 2, 3
             |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin)),

    // ---- q135: per-window trending terms (batch) -------------------------
    // The batch twin of the streaming `TrendingTerms` operator — the
    // oracle-checked statement of its core semantics: per tumbling
    // hour, the top-3 event types by count with the same (n DESC,
    // term) tiebreak the stream uses. Windows are exact integer-µs
    // division (never engine timestamp arithmetic); the rank
    // partition is one (window) key whose per-partition row count is
    // the type cardinality — bounded however long the history — and
    // the count aggregate collapses map-side first, so the window
    // ranks |windows|·|types| rows, not events. (This rank ≤ k on a
    // grouped count is the shape Spark's partial `WindowGroupLimit`
    // pre-cuts per map task.)
    QueryDef(
      "q135_trending_batch",
      (s, d) => {
        val w = Window.partitionBy(col("win"))
          .orderBy(col("n").desc, col("term").asc)
        ev(s, d)
          .select(expr("unix_micros(ts) div 3600000000").as("win"),
            col("event_type").as("term"))
          .groupBy(col("win"), col("term"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
      },
      Some("""WITH c AS (SELECT epoch_us(ts) // 3600000000 AS win,
             |         event_type AS term, count(*) AS n
             |       FROM events GROUP BY 1, 2)
             |SELECT win, term, n,
             |  CAST(rk AS INTEGER) AS rk
             |FROM (SELECT *, row_number() OVER (PARTITION BY win
             |        ORDER BY n DESC, term) AS rk FROM c)
             |WHERE rk <= 3""".stripMargin)),

    // ---- q138: ingestion gap audit ---------------------------------------
    // The freshness monitor a pipeline SLO hangs off: per event type,
    // the largest inter-arrival gap and how many gaps exceeded five
    // minutes — a type whose max gap spikes stopped flowing (producer
    // bug, partition loss) even while its row counts still look
    // plausible. Gaps are exact integer µs (lag over the unique
    // (ts, event_id) order — never engine timestamp subtraction);
    // everything runs on ONE event_type exchange, each type streamed
    // through its reducer by the window (bounded memory, no arrays),
    // collapsing to |types| rows.
    QueryDef(
      "q138_gap_audit",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("us"), col("event_id"))
        ev(s, d)
          .select(col("event_type"), col("event_id"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            max(col("gap")).as("max_gap_us"),
            sum(when(col("gap") > 300000000L, 1L).otherwise(0L))
              .as("gaps_over_5m"))
      },
      Some("""WITH g AS (SELECT event_type,
             |         epoch_us(ts) - lag(epoch_us(ts)) OVER
             |           (PARTITION BY event_type
             |            ORDER BY epoch_us(ts), event_id) AS gap
             |       FROM events)
             |SELECT event_type, count(*) AS n_events,
             |  CAST(max(gap) AS BIGINT) AS max_gap_us,
             |  CAST(sum(CASE WHEN gap > 300000000 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS gaps_over_5m
             |FROM g GROUP BY event_type""".stripMargin)),

    // ---- q140: training-sequence export (behavioral pretraining) --------
    // The export step of a behavioral-sequence corpus: each user's
    // events in (ts, event_id) order — a total order, so the string is
    // reproducible across engines and re-runs — truncated to the first
    // 32 event types, space-joined, and fingerprinted. One user_id
    // window ranks, and the aggregation reuses the SAME partitioning
    // (window then groupBy on the partition key = one exchange end to
    // end). The truncation happens INSIDE collect_list via when() —
    // collect_list drops nulls — so the per-user state is bounded at
    // 32 structs no matter how hot a user is; the full count still
    // reports from the same pass.
    QueryDef(
      "q140_seq_export",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        ev(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("rn", row_number().over(w))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            concat_ws(" ", expr(
              "transform(sort_array(collect_list(CASE WHEN rn <= 32 THEN " +
                "struct(rn, event_type) END)), x -> x.event_type)")).as("seq"))
          .select(col("user_id"), col("n_events"),
            least(col("n_events"), lit(32L)).as("n_seq"),
            col("seq"), md5(col("seq")).as("seq_fp"))
      },
      Some("""WITH r AS (SELECT user_id, event_type,
             |             row_number() OVER (PARTITION BY user_id
             |               ORDER BY ts, event_id) AS rn
             |           FROM events)
             |SELECT user_id, count(*) AS n_events,
             |  CAST(least(count(*), 32) AS BIGINT) AS n_seq,
             |  coalesce(string_agg(CASE WHEN rn <= 32 THEN event_type END,
             |    ' ' ORDER BY rn), '') AS seq,
             |  md5(coalesce(string_agg(CASE WHEN rn <= 32 THEN event_type END,
             |    ' ' ORDER BY rn), '')) AS seq_fp
             |FROM r GROUP BY user_id""".stripMargin))
  )
}
