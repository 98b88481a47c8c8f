package graft.ops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time queries over the `events` table (SURVEY §2.10) — the batch
  * forms of the windowed-aggregation surface. The same logical queries
  * run under Structured Streaming (see streaming.StreamDemos and
  * StreamingSpec); here they are oracle-checked as batch.
  *
  * Determinism rules (SURVEY §2.13): events are loaded only via
  * [[Tables.events]] (ns-timestamp recipe), and no query emits a raw
  * timestamp or window struct — window identities are `epoch_us` BIGINTs.
  *
  * Scale design: tumble/slide are single-shuffle hash aggregations whose
  * key count grows with time span, not row count; session uses one
  * shuffle on user_id + an in-partition sort (the standard distributed
  * sessionization shape). Late-arrival replays the arrival sequence to
  * reconstruct the watermark — inherently sequential, kept as a bounded
  * diagnostic (its output is a per-type summary, its input one sorted
  * pass).
  */
object Events {

  private def q(name: String, oracle: String)(
      df: (SparkSession, String) => DataFrame) = QuerySpec.sql(name, oracle)(df)

  /** 30-minute session gap / lateness threshold, in microseconds. */
  private val GapUs = 30L * 60 * 1000 * 1000
  /** 15-minute slide, in microseconds. */
  private val SlideUs = 15L * 60 * 1000 * 1000

  /** The resample queries' (user_id, us, value, src, event_id) input:
    * every event as an observation (src 0) unioned with a row per user
    * per hour of the data's own span (src 1, NULL value and event_id). */
  private def obsAndGrid(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val b = ev.agg(
      unix_micros(date_trunc("hour", min(col("ts")))).as("lo"),
      unix_micros(date_trunc("hour", max(col("ts")))).as("hi"))
    val grid = ev.select("user_id").distinct()
      .crossJoin(broadcast(b))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), lit(3_600_000_000L))).as("us"))
    val obs = ev.select(col("user_id"), unix_micros(col("ts")).as("us"),
      col("value"), lit(0).as("src"), col("event_id"))
    val gr = grid.select(col("user_id"), col("us"),
      lit(null).cast("double").as("value"), lit(1).as("src"),
      lit(null).cast("bigint").as("event_id"))
    obs.unionByName(gr)
  }

  val specs: Seq[QuerySpec] = Seq(

    // Tumbling 1-hour windows (Q-EV-TUMBLE, rehearsed SURVEY §8.3-QB).
    // Spark's window() buckets are epoch-aligned, identical to
    // date_trunc('hour') in UTC; the window identity is emitted as
    // unix_micros(window.start).
    q("q_ev_tumble",
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_us,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1
        |ORDER BY win_us""") { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .select(unix_micros(col("window.start")).as("win_us"),
          col("n_events"), col("sum_value"))
        .orderBy("win_us")
    },

    // Sliding windows: 1 hour long, every 15 minutes (Q-EV-SLIDE). Each
    // event lands in exactly ceil(60/15)=4 windows. The oracle derives
    // the same 4 epoch-aligned starts per event with integer µs math
    // (floor-division == truncation for the positive fixture epochs).
    q("q_ev_slide",
      s"""WITH e AS (SELECT epoch_us(ts) AS us, value FROM events),
        |w AS (SELECT ((us // $SlideUs) * $SlideUs)
        |               - CAST(k AS BIGINT) * $SlideUs AS win_us,
        |             value
        |      FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks)
        |SELECT win_us, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM w
        |GROUP BY win_us
        |ORDER BY win_us""") { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .select(unix_micros(col("window.start")).as("win_us"),
          col("n_events"), col("sum_value"))
        .orderBy("win_us")
    },

    // Session windows, 30-minute inactivity gap (Q-EV-SESSION): the
    // lag+sum break-flag idiom (probed identical in both engines; user 0
    // has 58 sessions at sf0.001, pinned in EventsSpec — SURVEY §8.2's
    // "60" was a stale probe note). One shuffle on user_id.
    q("q_ev_session",
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value
        |           FROM events),
        |f AS (SELECT *, CASE WHEN us - lag(us) OVER
        |        (PARTITION BY user_id ORDER BY us, event_id) > $GapUs
        |        THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |      FROM f)
        |SELECT user_id, CAST(sess AS BIGINT) AS session_id, count(*) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us,
        |  round(sum(value), 2) AS sum_value
        |FROM s
        |GROUP BY user_id, sess
        |ORDER BY user_id, session_id""") { (s, d) =>
      val byU = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .withColumn("brk",
          when(col("us") - lag("us", 1).over(byU) > GapUs, 1).otherwise(0))
        .withColumn("session_id", sum("brk").over(
          byU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("us").as("start_us"), max("us").as("end_us"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("user_id", "session_id")
    },

    // Resample + forward-fill (gap filling): every user gets a value at
    // every point of an hourly grid — the last observed value at or
    // before the grid point, -1 before a user's first event. The grid
    // is derived from the data's own hour-truncated bounds; events sort
    // before grid points at equal timestamps so an exactly-aligned
    // observation is picked up. One union + one windowed pass per user:
    // the standard distributed ffill (no per-grid-point joins).
    q("q_ev_resample",
      """WITH b AS (SELECT epoch_us(date_trunc('hour', min(ts))) AS lo,
        |                  epoch_us(date_trunc('hour', max(ts))) AS hi
        |           FROM events),
        |u AS (SELECT DISTINCT user_id FROM events),
        |grid AS (SELECT u.user_id,
        |           unnest(generate_series(b.lo, b.hi, 3600000000)) AS us
        |         FROM u CROSS JOIN b),
        |obs AS (SELECT user_id, epoch_us(ts) AS us, value,
        |          0 AS src, event_id FROM events),
        |gr AS (SELECT user_id, us, CAST(NULL AS DOUBLE) AS value,
        |         1 AS src, CAST(NULL AS BIGINT) AS event_id FROM grid),
        |f AS (SELECT user_id, us, src,
        |        last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
        |          ORDER BY us, src, event_id NULLS LAST
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
        |      FROM (SELECT * FROM obs UNION ALL SELECT * FROM gr))
        |SELECT user_id, us AS grid_us,
        |  round(coalesce(lv, -1.0), 6) AS value_ffill
        |FROM f WHERE src = 1
        |ORDER BY user_id, grid_us""") { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("src"), col("event_id").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      obsAndGrid(s, d)
        .withColumn("lv", last(col("value"), ignoreNulls = true).over(w))
        .filter(col("src") === 1)
        .select(col("user_id"), col("us").as("grid_us"),
          round(coalesce(col("lv"), lit(-1.0)), 6).as("value_ffill"))
        .orderBy("user_id", "grid_us")
    },

    // Pivot / cross-tabulation: event counts per user × event_type. The
    // pivot value list is explicit (no extra distinct-scan, and the
    // output schema is fixed — the only scale-safe way to pivot).
    q("q_pivot",
      """SELECT user_id,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""") { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
      pivoted.select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    },

    // Funnel conversion: of the users who ever clicked, how many made
    // their first purchase STRICTLY AFTER the first click and within a
    // 24-hour window? One scan + per-user window + grouped conditional
    // aggregate — the sequence-analytics shape that needs no self-join
    // at any scale. The 24 h window is fixture-discriminating (3/15
    // users convert at sf0.001, 67/150 at sf0.01), so the strict-after
    // and window conditions are actually exercised by the oracle —
    // an any-time formulation was vacuously all-users-convert.
    q("q_ev_funnel",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
        |           FROM events),
        |f AS (SELECT *, min(CASE WHEN event_type = 'click' THEN us END)
        |        OVER (PARTITION BY user_id) AS fc FROM e),
        |u AS (SELECT user_id, max(fc) AS fc,
        |        min(CASE WHEN event_type = 'purchase' AND us > fc
        |            THEN us END) AS fp
        |      FROM f GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN fp IS NOT NULL AND fp - fc <= 86400000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM u""") { (s, d) =>
      val DayUs = 24L * 3600 * 1000 * 1000
      val w = Window.partitionBy("user_id")
      Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"))
        .withColumn("fc",
          min(when(col("event_type") === "click", col("us"))).over(w))
        .groupBy("user_id")
        .agg(max("fc").as("fc"),
          min(when(col("event_type") === "purchase"
            && col("us") > col("fc"), col("us"))).as("fp"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("fc").isNotNull, 1L).otherwise(0L)).as("n_click"),
          sum(when(col("fp").isNotNull
            && col("fp") - col("fc") <= DayUs, 1L).otherwise(0L))
            .as("n_converted"))
    },

    // Late-arrival accounting (Q-EV-LATEARRIVAL): replay the arrival
    // sequence (event_id is the ingestion order), reconstruct the
    // watermark as the running max event time over all PRIOR arrivals,
    // and count rows whose event time lags it by more than the 30-minute
    // threshold — the rows a streaming watermark would have dropped
    // (CAP-STREAM-WM's batch twin; asserted equal in StreamingSpec).
    q("q_ev_latearrival",
      s"""WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |w AS (SELECT *, max(us) OVER (ORDER BY event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |      FROM e)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN wm - us > $GapUs THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  CAST(max(CASE WHEN wm - us > $GapUs THEN wm - us ELSE 0 END)
        |    AS BIGINT) AS max_late_us
        |FROM w
        |GROUP BY event_type
        |ORDER BY event_type""") { (s, d) =>
      // SCALE-SAFE prefix max (r12 — caught by the new global-window
      // sweep): the r11 spelling ran the running-watermark max as ONE
      // global ordered window over the event stream — a corpus-sized
      // single-task sort at 100 TB. Prefix max is an associative scan,
      // so the q_text_pack two-level construction applies verbatim:
      // bucket event_ids (div 8192; bucket order == event order), an
      // exclusive prefix max over the 8192×-smaller bucket aggregate
      // (global window ADMITTED by the sweep: Aggregate below; the
      // construction nests for more decades), and an exclusive
      // intra-bucket running max over the high-cardinality bucket key.
      // wm = greatest(bucket offset, intra-bucket max) — Spark's
      // greatest skips nulls, so the first row of the stream gets a
      // NULL watermark exactly like the empty window frame did. Values
      // identical; oracle (still the naive window) and hashes
      // unchanged.
      val intra = Window.partitionBy("bk").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wOffB = Window.orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val late = col("wm") - col("us") > GapUs
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"),
          expr("event_id div 8192").as("bk"))
      val boff = e.groupBy("bk").agg(max("us").as("bmax"))
        .withColumn("bprev", max("bmax").over(wOffB))
        .select("bk", "bprev")
      e.join(boff, Seq("bk"))
        .withColumn("wm",
          greatest(col("bprev"), max("us").over(intra)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(late, 1L).otherwise(0L)).as("n_late"),
          max(when(late, col("wm") - col("us")).otherwise(0L))
            .as("max_late_us"))
        .orderBy("event_type")
    },

    // Cohort retention: users grouped by their first-active day; each
    // cohort's active-user count per day offset, plus the retained
    // fraction. Scale shape: the raw stream reduces FIRST to distinct
    // (user_id, day) — the only pass over the fact table — then the
    // per-user cohort min is a window over that already-small frame, and
    // because (user_id, day) rows are unique, per-cell activity is a
    // plain count(*), never a count-distinct over raw events. No
    // self-join at any scale. Day identities are epoch-day BIGINTs
    // (§2.13: no raw dates/timestamps in output).
    q("q_ev_retention",
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day
        |  FROM events),
        |c AS (SELECT user_id, day,
        |        min(day) OVER (PARTITION BY user_id) AS cohort_day
        |      FROM days),
        |g AS (SELECT cohort_day, day - cohort_day AS day_offset,
        |        count(*) AS n_active
        |      FROM c GROUP BY 1, 2),
        |r AS (SELECT cohort_day, day_offset, n_active,
        |        max(CASE WHEN day_offset = 0 THEN n_active END)
        |          OVER (PARTITION BY cohort_day) AS n_cohort
        |      FROM g)
        |SELECT cohort_day, day_offset, n_active, n_cohort,
        |  round(CAST(n_active AS DOUBLE) / n_cohort, 6) AS pct
        |FROM r
        |ORDER BY cohort_day, day_offset""") { (s, d) =>
      val days = Tables.events(s, d)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .distinct()
      val wU = Window.partitionBy("user_id")
      val wC = Window.partitionBy("cohort_day")
      days
        .withColumn("cohort_day", min("day").over(wU))
        .withColumn("day_offset", col("day") - col("cohort_day"))
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_active"))
        .withColumn("n_cohort",
          max(when(col("day_offset") === 0, col("n_active"))).over(wC))
        .withColumn("pct",
          round(col("n_active").cast("double") / col("n_cohort"), 6))
        .orderBy("cohort_day", "day_offset")
    },

    // Gaps and islands: each user's maximal runs of CONSECUTIVE active
    // days. The textbook day - row_number() window form costs two
    // shuffles (distinct on (user, day), then re-partition by user);
    // here the per-user day set is collected in ONE aggregation —
    // collect_set gives map-side distinct for free — and the runs are
    // computed inside the row with array functions over the sorted set
    // (a start is a day whose predecessor is absent, an end one whose
    // successor is absent; the k-th start pairs with the k-th end).
    // Per-user state is bounded by CALENDAR DAYS, not events — a
    // 10-year history is ~3.7k longs — so the aggregate buffer holds
    // at any corpus scale; the oracle keeps the window spelling.
    q("q_ev_islands",
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day
        |  FROM events),
        |g AS (SELECT user_id, day,
        |        day - row_number() OVER (PARTITION BY user_id
        |          ORDER BY day) AS grp
        |      FROM days)
        |SELECT user_id, min(day) AS start_day, max(day) AS end_day,
        |  count(*) AS len
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, start_day""") { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .groupBy("user_id")
        .agg(sort_array(collect_set(col("day"))).as("ds"))
        .select(col("user_id"), explode(expr("""
          zip_with(
            filter(transform(ds, (d, i) -> struct(d AS day, i + 1 AS pos)),
              p -> p.pos = 1 OR element_at(ds, p.pos - 1) <> p.day - 1),
            filter(transform(ds, (d, i) -> struct(d AS day, i + 1 AS pos)),
              p -> p.pos = size(ds) OR element_at(ds, p.pos + 1) <> p.day + 1),
            (s, e) -> struct(s.day AS start_day, e.day AS end_day,
              e.day - s.day + 1 AS len))""")).as("isl"))
        .select(col("user_id"), col("isl.start_day").as("start_day"),
          col("isl.end_day").as("end_day"), col("isl.len").as("len"))
        .orderBy("user_id", "start_day")
    },

    // Rate-anomaly detection: hourly event counts per type, then the
    // shared per-group z-score operator (Relational.zScoreOutliers)
    // over each type's hourly series — ingestion-spike / outage
    // detection as a composition of two existing pieces. The fact
    // table collapses to (types x hours) rows in the FIRST aggregation,
    // so the window pass runs on a tiny frame at any corpus scale.
    // Hour identity is epoch-micros of the bucket start (§2.13: no raw
    // timestamps in output). Probed non-vacuous at every tier (max
    // |z| > 4.4; 97+ flagged rows at sf0.001).
    q("q_ev_anomaly",
      """WITH h AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS win_us,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, win_us, n,
        |  round((n - avg(n) OVER w) / stddev_samp(n) OVER w, 6) AS z
        |FROM h
        |WINDOW w AS (PARTITION BY event_type)
        |QUALIFY abs(z) > 2
        |ORDER BY event_type, win_us""") { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"),
          unix_micros(col("window.start")).as("win_us"), col("n"))
      graft.ops.Relational.zScoreOutliers(hourly, "event_type", "n", 2.0)
        .select("event_type", "win_us", "n", "z")
        .orderBy("event_type", "win_us")
    },

    // Event-sequence transition matrix (first-order Markov estimate):
    // for each user's time-ordered event stream, count (prev -> next)
    // event-type transitions and the conditional probability of each
    // next type given the previous. Session-pathing / funnel-discovery
    // primitive. One window pass partitioned by user_id (single shuffle
    // on the natural key) collapses the fact table to |types|^2 rows in
    // the first aggregation; the per-prev normalization then runs on
    // that tiny frame. Ties in ts break on event_id so lag() is
    // deterministic on both engines.
    q("q_ev_transitions",
      """WITH t AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(count(*) AS DOUBLE)
        |    / sum(count(*)) OVER (PARTITION BY prev_type), 6) AS p
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, next_type""") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast("double")
          / sum("n").over(Window.partitionBy("prev_type")), 6))
        .select("prev_type", "next_type", "n", "p")
        .orderBy("prev_type", "next_type")
    },

    // Linear-interpolation resampling: the gap-filling sibling of
    // q_ev_resample's forward-fill. Same grid/observation union and the
    // same single user_id shuffle, but each grid point also looks at the
    // next observation (first_value over the following frame) and blends
    // the surrounding pair by time weight; boundary grid points fall
    // back to the one-sided neighbor and empty series to -1. The
    // prev/next timestamps ride along via the value-IS-NOT-NULL trick so
    // the whole query stays two window passes over one sorted partition
    // run (no self-join) — the scale shape a 100 TB metric store needs.
    q("q_ev_interp",
      """WITH b AS (SELECT epoch_us(date_trunc('hour', min(ts))) AS lo,
        |                  epoch_us(date_trunc('hour', max(ts))) AS hi
        |           FROM events),
        |u AS (SELECT DISTINCT user_id FROM events),
        |grid AS (SELECT u.user_id,
        |           unnest(generate_series(b.lo, b.hi, 3600000000)) AS us
        |         FROM u CROSS JOIN b),
        |obs AS (SELECT user_id, epoch_us(ts) AS us, value,
        |          0 AS src, event_id FROM events),
        |gr AS (SELECT user_id, us, CAST(NULL AS DOUBLE) AS value,
        |         1 AS src, CAST(NULL AS BIGINT) AS event_id FROM grid),
        |f AS (SELECT user_id, us, src,
        |        last_value(value IGNORE NULLS) OVER wp AS pv,
        |        last_value(CASE WHEN value IS NOT NULL THEN us END
        |          IGNORE NULLS) OVER wp AS pu,
        |        first_value(value IGNORE NULLS) OVER wf AS nv,
        |        first_value(CASE WHEN value IS NOT NULL THEN us END
        |          IGNORE NULLS) OVER wf AS nu
        |      FROM (SELECT * FROM obs UNION ALL SELECT * FROM gr)
        |      WINDOW wp AS (PARTITION BY user_id
        |          ORDER BY us, src, event_id NULLS LAST
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |        wf AS (PARTITION BY user_id
        |          ORDER BY us, src, event_id NULLS LAST
        |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, us AS grid_us,
        |  round(CASE WHEN pv IS NULL AND nv IS NULL THEN -1.0
        |             WHEN pv IS NULL THEN nv
        |             WHEN nv IS NULL THEN pv
        |             WHEN nu = pu THEN pv
        |             ELSE pv + (nv - pv) * (us - pu) / (nu - pu)
        |        END, 6) AS value_interp
        |FROM f WHERE src = 1
        |ORDER BY user_id, grid_us""") { (s, d) =>
      val wp = Window.partitionBy("user_id")
        .orderBy(col("us"), col("src"), col("event_id").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // The next observation is the last one before the row in reversed
      // order: a running frame, where first() over (1 FOLLOWING,
      // UNBOUNDED FOLLOWING) re-aggregates the partition's rest per row.
      // event_id is the events key, so the reversal is exact.
      val wn = Window.partitionBy("user_id")
        .orderBy(col("us").desc, col("src").desc,
          col("event_id").desc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, -1)
      val usIfObs = when(col("value").isNotNull, col("us"))
      obsAndGrid(s, d)
        .withColumn("pv", last(col("value"), ignoreNulls = true).over(wp))
        .withColumn("pu", last(usIfObs, ignoreNulls = true).over(wp))
        .withColumn("nv", last(col("value"), ignoreNulls = true).over(wn))
        .withColumn("nu", last(usIfObs, ignoreNulls = true).over(wn))
        .filter(col("src") === 1)
        .select(col("user_id"), col("us").as("grid_us"),
          round(when(col("pv").isNull && col("nv").isNull, lit(-1.0))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .when(col("nu") === col("pu"), col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv"))
              * (col("us") - col("pu")) / (col("nu") - col("pu"))),
            6).as("value_interp"))
        .orderBy("user_id", "grid_us")
    },

    // 7-day rolling distinct active users per day — the retention
    // dashboard's DAU/WAU primitive. Rolling COUNT(DISTINCT) cannot ride
    // a window frame (distincts don't merge), so both engines spell the
    // scale-correct expansion: distinct (day, user) presence pairs (one
    // shuffle, |days|x|users| keys max), each pair EXPLODED into the <=7
    // window-days it contributes to, then one distinct-count per window
    // day. Work is 7x the presence-pair count — independent of raw event
    // volume, the property that matters at 100 TB. Day identity is an
    // epoch-day BIGINT (§2.13: no raw timestamps in output); the
    // singleton max-day frame rides a declared broadcast (allowlisted in
    // PlanShapeSpec's product-join sweep).
    q("q_ev_rolling_dau",
      """WITH du AS (SELECT DISTINCT
        |    epoch_us(date_trunc('day', ts)) // 86400000000 AS d, user_id
        |  FROM events),
        |b AS (SELECT max(d) AS hi FROM du),
        |x AS (SELECT du.d + i.i AS day_no, du.user_id
        |      FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS i) i)
        |SELECT day_no, CAST(count(DISTINCT user_id) AS BIGINT) AS dau7
        |FROM x WHERE day_no <= (SELECT hi FROM b)
        |GROUP BY day_no
        |ORDER BY day_no""") { (s, d) =>
      val du = Tables.events(s, d)
        .select(expr("unix_micros(date_trunc('DAY', ts)) div 86400000000")
          .as("d"), col("user_id"))
        .distinct()
      val hi = du.agg(max("d").as("hi"))
      du.select(col("d"), col("user_id"),
          explode(sequence(lit(0L), lit(6L))).as("i"))
        .select((col("d") + col("i")).as("day_no"), col("user_id"))
        .crossJoin(broadcast(hi))
        .filter(col("day_no") <= col("hi"))
        .groupBy("day_no")
        .agg(countDistinct("user_id").as("dau7"))
        .orderBy("day_no")
    },

    // Per-user exponentially-weighted moving average (alpha = 0.25) of
    // the value stream — the smoothed-baseline primitive behind rate
    // alerting and drift detection. EWMA's recurrence has no
    // window-frame spelling (each step multiplies the whole prefix), so
    // both engines fold the user's time-ordered values left-to-right:
    // Spark `aggregate` over a sorted collect_list of (ts, event_id,
    // value) structs (event_id tie-break makes the order total), DuckDB
    // `list_reduce` over `list(value ORDER BY ts, event_id)` — the
    // IDENTICAL sequence of IEEE multiply-adds, so the rounded doubles
    // hash-match. One user_id shuffle; per-user state is that user's
    // event list (bounded by per-entity activity, the same contract as
    // q_ev_transitions). The incremental twin is
    // mapGroupsWithState carrying (ewma, last_ts) — CAP-STREAM-STATE's
    // exact shape — so the batch spelling here is the backfill path.
    q("q_ev_ewma",
      """WITH l AS (SELECT user_id,
        |         list(value ORDER BY ts, event_id) AS vs
        |       FROM events GROUP BY user_id)
        |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
        |  round(list_reduce(vs, (acc, x) -> 0.25 * x + 0.75 * acc), 6)
        |    AS ewma
        |FROM l
        |ORDER BY user_id""") { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("value")))).as("evs"))
        .select(col("user_id"), size(col("evs")).as("n_events"),
          round(expr(
            """aggregate(slice(evs, 2, size(evs) - 1),
              |  element_at(evs, 1).value,
              |  (acc, e) -> 0.25 * e.value + 0.75 * acc)""".stripMargin),
            6).as("ewma"))
        .orderBy("user_id")
    },

    // Hourly OHLC candles per event_type — the market-data summary shape
    // every monitoring/time-series store serves. Open/close need the
    // FIRST/LAST value under the total (us, event_id) order, which has no
    // order-insensitive aggregate spelling, so both engines mark the
    // first and last row per candle with two row_number passes sharing
    // ONE (event_type, hour) partition (one shuffle, two in-partition
    // sorts) and then fold the marks into the same hash aggregate that
    // computes high/low/volume. Candle identity is the epoch-µs hour
    // start (§2.13: no raw timestamps out).
    q("q_ev_ohlc",
      """WITH e AS (SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    epoch_us(ts) AS us, event_id, value FROM events),
        |m AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, hour_us
        |      ORDER BY us, event_id) AS rna,
        |    row_number() OVER (PARTITION BY event_type, hour_us
        |      ORDER BY us DESC, event_id DESC) AS rnd
        |  FROM e)
        |SELECT event_type, hour_us, CAST(count(*) AS BIGINT) AS n_events,
        |  round(max(CASE WHEN rna = 1 THEN value END), 6) AS open,
        |  round(max(value), 6) AS high,
        |  round(min(value), 6) AS low,
        |  round(max(CASE WHEN rnd = 1 THEN value END), 6) AS close
        |FROM m
        |GROUP BY event_type, hour_us
        |ORDER BY event_type, hour_us""") { (s, d) =>
      val part = Seq(col("event_type"), col("hour_us"))
      val asc = Window.partitionBy(part: _*).orderBy(col("us"), col("event_id"))
      val desc = Window.partitionBy(part: _*)
        .orderBy(col("us").desc, col("event_id").desc)
      Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(date_trunc('HOUR', ts))").as("hour_us"),
          unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
        .withColumn("rna", row_number().over(asc))
        .withColumn("rnd", row_number().over(desc))
        .groupBy("event_type", "hour_us")
        .agg(count(lit(1)).as("n_events"),
          round(max(when(col("rna") === 1, col("value"))), 6).as("open"),
          round(max("value"), 6).as("high"),
          round(min("value"), 6).as("low"),
          round(max(when(col("rnd") === 1, col("value"))), 6).as("close"))
        .orderBy("event_type", "hour_us")
    },

    // Per-user inter-arrival gap statistics — the burstiness profile that
    // feeds bot detection and capacity planning. One lag pass and the
    // per-user aggregate share a single user_id exchange; gaps are exact
    // integer µs (lag over the total (us, event_id) order). The mean is
    // INTEGER floor-divided nanoseconds — sum(gap µs)*1000 div n — not a
    // rounded double: at sf0.1 one user's exact mean landed on the
    // round-6 half boundary (…0425) where Spark (BigDecimal HALF_UP on
    // the shortest decimal repr) and DuckDB (binary-double round) split
    // by 1 ulp of output; integer division has no boundary to disagree
    // on at any scale. The order-sensitive stddev keeps round-2, where a
    // ~1e-11 cross-engine wobble cannot reach the boundary. Users with
    // one event keep a row (n_gaps = 0, -1/NULL stats) so the population
    // count reconciles with q_ev_session.
    q("q_ev_gap",
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id,
        |    us - lag(us) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS gap
        |  FROM e)
        |SELECT user_id, CAST(count(gap) AS BIGINT) AS n_gaps,
        |  CAST(CASE WHEN count(gap) = 0 THEN -1
        |    ELSE (sum(gap) * 1000) // count(gap) END AS BIGINT) AS avg_gap_ns,
        |  CAST(min(gap) AS BIGINT) AS min_gap_us,
        |  CAST(max(gap) AS BIGINT) AS max_gap_us,
        |  round(stddev_samp(gap / 1e6), 2) AS sd_gap_s
        |FROM g
        |GROUP BY user_id
        |ORDER BY user_id""") { (s, d) =>
      val byU = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag("us", 1).over(byU))
        .groupBy("user_id")
        .agg(count("gap").as("n_gaps"), sum("gap").as("sum_gap"),
          min("gap").as("min_gap_us"),
          max("gap").as("max_gap_us"),
          round(stddev_samp(col("gap") / 1e6), 2).as("sd_gap_s"))
        .select(col("user_id"), col("n_gaps"),
          when(col("n_gaps") === 0, -1L)
            .otherwise(expr("(sum_gap * 1000) div n_gaps")).cast("long")
            .as("avg_gap_ns"),
          col("min_gap_us"), col("max_gap_us"), col("sd_gap_s"))
        .orderBy("user_id")
    },

    // Weekly cohort retention matrix — users grouped by first-active
    // week, counted in every later week they return. The classic growth
    // table. Distinct (user, week) presence collapses raw volume first;
    // the per-user cohort week is the array_min of the user's collected
    // week set, so presence + cohort + explode all ride ONE user_id
    // shuffle, and because presence pairs are already distinct the final
    // cell count is a plain count(*) (no second distinct). Week identity
    // is the epoch-floor-div week number (Mondays map 1:1 — every
    // Monday is ≡ 4 days mod 7 from the epoch Thursday).
    q("q_ev_cohort",
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(date_trunc('week', ts)) // 604800000000 AS wk
        |  FROM events),
        |c AS (SELECT user_id, wk,
        |    min(wk) OVER (PARTITION BY user_id) AS cw
        |  FROM uw)
        |SELECT cw AS cohort_wk, wk - cw AS week_off,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM c
        |GROUP BY 1, 2
        |ORDER BY cohort_wk, week_off""") { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(date_trunc('WEEK', ts)) div 604800000000").as("wk"))
        .groupBy("user_id")
        .agg(collect_set(col("wk")).as("wks"))
        .select(col("user_id"), array_min(col("wks")).as("cw"),
          explode(col("wks")).as("wk"))
        .groupBy(col("cw").as("cohort_wk"), (col("wk") - col("cw")).as("week_off"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "week_off")
    },

    // Volume-concentration report per event type: Herfindahl-Hirschman
    // index and top-user share over per-user event counts — the
    // abuse/bot-skew screen (one scripted user dominating a type pushes
    // HHI toward 1). Per-user counts collapse the fact table first; the
    // |types|-sized totals frame joins back broadcast-style, so nothing
    // fact-scale shuffles twice. Shares are exact integer ratios.
    q("q_ev_hhi",
      """WITH s AS (SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(c) AS n FROM s GROUP BY 1)
        |SELECT s.event_type, CAST(count(*) AS BIGINT) AS n_users,
        |  round(sum((s.c / t.n) * (s.c / t.n)), 6) AS hhi,
        |  round(max(s.c / t.n), 6) AS top_share
        |FROM s JOIN t USING (event_type)
        |GROUP BY s.event_type
        |ORDER BY event_type""") { (s, d) =>
      val cnt = Tables.events(s, d)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy("event_type").agg(sum("c").as("n"))
      val share = col("c") / col("n")
      cnt.join(broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"),
          round(sum(share * share), 6).as("hhi"),
          round(max(share), 6).as("top_share"))
        .orderBy("event_type")
    },

    // Seasonality profile: activity and value baseline per (event_type,
    // day-of-week, hour-of-day) — the matrix an anomaly detector
    // compares live traffic against (q_ev_anomaly's z-scores are the
    // per-window view; this is the calendar-position view). Day-of-week
    // is pure epoch arithmetic ((epoch_day + 3) mod 7, Monday = 0) so
    // both engines share one integer spelling with no locale/week-rule
    // dependence; one hash aggregate, key count |types| x 168.
    q("q_ev_seasonal",
      """SELECT event_type,
        |  ((epoch_us(date_trunc('day', ts)) // 86400000000) + 3) % 7 AS dow,
        |  CAST(hour(ts) AS BIGINT) AS hr,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(avg(value), 6) AS avg_value
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY event_type, dow, hr""") { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          ((expr("unix_micros(date_trunc('DAY', ts)) div 86400000000")
            + 3) % 7).as("dow"),
          hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n_events"),
          round(avg("value"), 6).as("avg_value"))
        .orderBy("event_type", "dow", "hr")
    },

    // Pareto concentration points per event type: the smallest USER
    // FRACTION producing 50% / 90% of events — the Lorenz-curve
    // reading of the same skew q_ev_hhi scores ("how top-heavy is this
    // event stream"). Users rank by (count DESC, user_id); the rank
    // where the cumulative count first crosses each threshold divides
    // by the user population. All inputs are exact integers; the
    // threshold products are the identical IEEE doubles in both
    // engines. One shuffle to per-user counts, windows on the
    // |types|-partitioned count frame.
    q("q_ev_pareto",
      """WITH s AS (SELECT event_type, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY c DESC, user_id) AS rk,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY c DESC, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS tot,
        |    count(*) OVER (PARTITION BY event_type) AS nu
        |  FROM s)
        |SELECT event_type, CAST(max(nu) AS BIGINT) AS n_users,
        |  round(CAST(min(CASE WHEN cum >= 0.5 * tot THEN rk END) AS DOUBLE)
        |    / max(nu), 6) AS p50_frac,
        |  round(CAST(min(CASE WHEN cum >= 0.9 * tot THEN rk END) AS DOUBLE)
        |    / max(nu), 6) AS p90_frac
        |FROM r
        |GROUP BY event_type
        |ORDER BY event_type""") { (s, d) =>
      val byC = Window.partitionBy("event_type")
        .orderBy(col("c").desc, col("user_id"))
      val part = Window.partitionBy("event_type")
      val cnt = Tables.events(s, d)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
      cnt.select(col("event_type"), col("c"),
          row_number().over(byC).as("rk"),
          sum("c").over(byC.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("cum"),
          sum("c").over(part).as("tot"),
          count(lit(1)).over(part).as("nu"))
        .groupBy("event_type")
        .agg(max("nu").as("n_users"),
          round(min(when(col("cum") >= lit(0.5) * col("tot"), col("rk")))
            .cast("double") / max("nu"), 6).as("p50_frac"),
          round(min(when(col("cum") >= lit(0.9) * col("tot"), col("rk")))
            .cast("double") / max("nu"), 6).as("p90_frac"))
        .orderBy("event_type")
    },

    // Burst detection: each user's maximum event count inside any
    // 5-minute window anchored at an event — the rate-limit/abuse
    // signal (a scripted client shows burst5m orders of magnitude over
    // its daily average). The per-event look-ahead is a RANGE frame on
    // exact integer µs (tie-safe: a range frame includes ALL rows in
    // the bound regardless of intra-tie order), sharing the single
    // user_id exchange with the per-user max.
    q("q_ev_burst",
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |b AS (SELECT user_id,
        |    count(*) OVER (PARTITION BY user_id ORDER BY us
        |      RANGE BETWEEN CURRENT ROW AND 299999999 FOLLOWING) AS cnt
        |  FROM e)
        |SELECT user_id, CAST(max(cnt) AS BIGINT) AS burst5m
        |FROM b
        |GROUP BY user_id
        |ORDER BY user_id""") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(0L, 299999999L)
      Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("cnt", count(lit(1)).over(w))
        .groupBy("user_id")
        .agg(max("cnt").as("burst5m"))
        .orderBy("user_id")
    },

    // Last-touch attribution: each purchase credits the same user's most
    // recent click within the preceding hour, or -1. Spelled JOIN-FREE —
    // clicks and purchases ride ONE user_id window whose running
    // last_value(IGNORE NULLS) carries the latest click's (us, id) into
    // every later row — where the naive purchases x clicks formulation
    // is a per-purchase range join of two fact-scale frames. This is
    // also CAP-STREAM-SSJOIN's batch twin: the streaming click/purchase
    // interval join computes the same pairing incrementally; this
    // spelling is its backfill path. A click at the purchase's exact
    // (us) with a LOWER event_id counts (it sorts before the purchase);
    // one at the same us with a higher id does not — same total order,
    // both engines.
    q("q_ev_attrib",
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |           FROM events WHERE event_type IN ('click', 'purchase')),
        |x AS (SELECT *,
        |    last_value(CASE WHEN event_type = 'click' THEN us END
        |      IGNORE NULLS) OVER w AS c_us,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |      IGNORE NULLS) OVER w AS c_id
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  CAST(CASE WHEN c_us IS NOT NULL AND us - c_us <= 3600000000
        |    THEN c_id ELSE -1 END AS BIGINT) AS click_id,
        |  CAST(CASE WHEN c_us IS NOT NULL AND us - c_us <= 3600000000
        |    THEN us - c_us ELSE -1 END AS BIGINT) AS lag_us
        |FROM x
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""") { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val attributed = col("c_us").isNotNull &&
        col("us") - col("c_us") <= 3600000000L
      Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        .withColumn("c_us",
          last(when(col("event_type") === "click", col("us")), true).over(w))
        .withColumn("c_id",
          last(when(col("event_type") === "click", col("event_id")), true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          when(attributed, col("c_id")).otherwise(-1L).cast("long")
            .as("click_id"),
          when(attributed, col("us") - col("c_us")).otherwise(-1L)
            .cast("long").as("lag_us"))
        .orderBy("event_id")
    },

    // CUSUM changepoint detection over hourly event volume — the
    // sustained-shift detector that complements the POINT detectors
    // already in the family (z-score q_ev_anomaly, 5-minute
    // q_ev_burst): a level change too small to trip any single-hour
    // threshold accumulates in the CUSUM statistic until it flags.
    // ALL-INTEGER variant (counts are integers; mean/slack/threshold
    // by truncating division), so the recurrence
    //   s_up   <- max(0, s_up   + n_t - mu - k)
    //   s_down <- max(0, s_down + mu - k - n_t)      (k = mu div 20)
    // is bit-exact in both engines — the DuckDB oracle replays it as a
    // recursive CTE (the q_graph_bfs precedent). The max-clamp makes
    // the recurrence genuinely sequential (no associative scan
    // decomposition exists), but its input is the HOURLY aggregate —
    // bounded by the time domain, not the corpus (~10^4 rows per year
    // at any event volume) — so the driver pass over the collected
    // hourly table is the same documented bounded-collect class as the
    // k×dim M-step and the BPE vocabulary. Hours with zero events are
    // not zero-filled: the statistic runs over OBSERVED hours (the
    // resample grid q_ev_resample builds is the zero-filling
    // counterpart). Flags fire while the statistic exceeds mu.
    q("q_ev_changepoint",
      """WITH RECURSIVE
        |h0 AS (SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n FROM events
        |  WHERE ts IS NOT NULL GROUP BY 1),
        |hr AS (SELECT hour_us, n,
        |    row_number() OVER (ORDER BY hour_us) AS rn FROM h0),
        |st AS (SELECT CAST(sum(n) AS BIGINT) // CAST(count(*) AS BIGINT)
        |    AS mu FROM hr),
        |c AS (
        |  SELECT hr.rn, hr.hour_us, hr.n,
        |    greatest(CAST(0 AS BIGINT),
        |      hr.n - st.mu - st.mu // 20) AS s_up,
        |    greatest(CAST(0 AS BIGINT),
        |      st.mu - st.mu // 20 - hr.n) AS s_down
        |  FROM hr CROSS JOIN st WHERE hr.rn = 1
        |  UNION ALL
        |  SELECT hr.rn, hr.hour_us, hr.n,
        |    greatest(CAST(0 AS BIGINT),
        |      c.s_up + hr.n - st.mu - st.mu // 20),
        |    greatest(CAST(0 AS BIGINT),
        |      c.s_down + st.mu - st.mu // 20 - hr.n)
        |  FROM c JOIN hr ON hr.rn = c.rn + 1 CROSS JOIN st)
        |SELECT hour_us, n, s_up, s_down,
        |  s_up > (SELECT mu FROM st) AS flag_up,
        |  s_down > (SELECT mu FROM st) AS flag_down
        |FROM c ORDER BY hour_us""") { (s, d) =>
      // a NULL-ts event has no hour: excluded in BOTH engines (the
      // recurrence is order-sensitive and the engines place a null
      // group at opposite ends — and the driver map below reads longs)
      val hourly = Tables.events(s, d)
        .filter(col("ts").isNotNull)
        .groupBy(expr("unix_micros(date_trunc('HOUR', ts))").as("hour_us"))
        .agg(count(lit(1)).as("n"))
        .orderBy("hour_us")
        .collect() // bounded by the hour domain, never the corpus
        .map(r => (r.getLong(0), r.getLong(1)))
      val sess = s
      import sess.implicits._
      cusum(hourly.toIndexedSeq)
        .toDF("hour_us", "n", "s_up", "s_down", "flag_up", "flag_down")
        .orderBy("hour_us")
    },

    // Per-key CUSUM (r14 verdict #2): the changepoint detector run
    // independently PER EVENT TYPE — each type alarms on its own
    // baseline (a level shift in a minority type is invisible to the
    // global detector, drowned by the majority volume). Unlike the
    // global query's driver pass, this spelling never collects: the
    // hourly aggregate groups per key and the sequential recurrence
    // runs inside flatMapGroups over that key's hour-ordered series
    // ([[cusumByKey]]) — per-group state is one key's hourly table,
    // bounded by the TIME DOMAIN (~10^4 rows/year at any event
    // volume), held in an executor task, so |keys| × series never
    // meets the driver. Same all-integer recurrence, replayed by the
    // oracle as a PARTITION BY-keyed recursive CTE (the q_graph_bfs
    // precedent, carried per key).
    q("q_ev_changepoint_key",
      """WITH RECURSIVE
        |h0 AS (SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) AS hour_us,
        |    CAST(count(*) AS BIGINT) AS n FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |hr AS (SELECT event_type, hour_us, n, row_number() OVER (
        |    PARTITION BY event_type ORDER BY hour_us) AS rn FROM h0),
        |st AS (SELECT event_type,
        |    CAST(sum(n) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu
        |  FROM hr GROUP BY 1),
        |c AS (
        |  SELECT hr.event_type, hr.rn, hr.hour_us, hr.n,
        |    greatest(CAST(0 AS BIGINT),
        |      hr.n - st.mu - st.mu // 20) AS s_up,
        |    greatest(CAST(0 AS BIGINT),
        |      st.mu - st.mu // 20 - hr.n) AS s_down
        |  FROM hr JOIN st ON st.event_type = hr.event_type
        |  WHERE hr.rn = 1
        |  UNION ALL
        |  SELECT hr.event_type, hr.rn, hr.hour_us, hr.n,
        |    greatest(CAST(0 AS BIGINT),
        |      c.s_up + hr.n - st.mu - st.mu // 20),
        |    greatest(CAST(0 AS BIGINT),
        |      c.s_down + st.mu - st.mu // 20 - hr.n)
        |  FROM c JOIN hr ON hr.event_type = c.event_type
        |    AND hr.rn = c.rn + 1
        |    JOIN st ON st.event_type = hr.event_type)
        |SELECT c.event_type, c.hour_us, c.n, c.s_up, c.s_down,
        |  c.s_up > st.mu AS flag_up, c.s_down > st.mu AS flag_down
        |FROM c JOIN st ON st.event_type = c.event_type
        |ORDER BY c.event_type, c.hour_us""") { (s, d) =>
      cusumByKey(Tables.events(s, d)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('HOUR', ts))").as("hour_us"))
        .agg(count(lit(1)).as("n")))
        .orderBy("event_type", "hour_us")
    }
  )

  /** The per-key CUSUM plan (factored so EventsSpec can drive it with
    * a planted per-key level shift): `hourly` is (event_type, hour_us,
    * n); each key's hour-ordered series runs the [[cusum]] recurrence
    * against ITS OWN mean inside flatMapGroups. flatMapGroups
    * guarantees grouping, not order, so the group materializes and
    * sorts its series in task memory — bounded by the time domain per
    * key, the same documented class as the global query's driver
    * collect, but distributed across keys instead of serialized
    * through the driver. */
  private[graft] def cusumByKey(hourly: DataFrame): DataFrame = {
    val s = hourly.sparkSession
    import s.implicits._
    hourly.select(col("event_type").cast("string"),
        col("hour_us").cast("long"), col("n").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val rows = it.map(t => (t._2, t._3)).toIndexedSeq.sortBy(_._1)
        cusum(rows).map { case (h, n, su, sd, fu, fd) =>
          (key, h, n, su, sd, fu, fd) }
      }
      .toDF("event_type", "hour_us", "n", "s_up", "s_down",
        "flag_up", "flag_down")
  }

  /** The integer CUSUM recurrence on an hour-ordered (hour_us, n)
    * series — factored out so EventsSpec can drive it with a planted
    * level shift (the fixtures' uniform volume never trips the flags;
    * the spec proves the detector actually fires). */
  private[graft] def cusum(hourly: IndexedSeq[(Long, Long)])
      : IndexedSeq[(Long, Long, Long, Long, Boolean, Boolean)] = {
    if (hourly.isEmpty) return IndexedSeq.empty
    cusumFrom(hourly, hourly.map(_._2).sum / hourly.length)
  }

  /** The recurrence against an EXPLICIT baseline mean, resumable from
    * carried state — the half the streaming twin needs: the batch
    * queries are retrospective (mu from the observed series), while a
    * live monitor scores new hours against a FROZEN baseline and
    * carries (s_up, s_down) across micro-batches. */
  private[graft] def cusumFrom(hourly: IndexedSeq[(Long, Long)],
      mu: Long, sUp0: Long = 0L, sDown0: Long = 0L)
      : IndexedSeq[(Long, Long, Long, Long, Boolean, Boolean)] = {
    val k = mu / 20
    var sUp = sUp0
    var sDown = sDown0
    hourly.map { case (hourUs, n) =>
      sUp = math.max(0L, sUp + n - mu - k)
      sDown = math.max(0L, sDown + mu - k - n)
      (hourUs, n, sUp, sDown, sUp > mu, sDown > mu)
    }
  }
}
