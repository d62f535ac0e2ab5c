package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Product-analytics operators over the event stream — the classic
  * OLAP pair every analytics engine serves (the reference's status
  * rollups generalized to user-journey shape): the ordered conversion
  * FUNNEL and weekly cohort RETENTION.
  *
  * Scale posture: both are user-keyed aggregations; nothing here is a
  * global window or an all-pairs step. The funnel folds each user's
  * time-ordered events ((ts_ns, event_id, event_type) — deterministic
  * total order, delivered by a spillable secondary sort) through the
  * 12-byte [[Events.funnelStep]] state machine — per-user memory is
  * O(1), so a 10⁷-event bot account costs sort spill, not an executor
  * aggregation buffer; retention is two user-keyed aggregates and one
  * co-partitioned join.
  */
object Events {
  type Q = (SparkSession, String) => DataFrame

  /** The funnel definition: strictly-ordered first-match stages. A
    * user reaches stage k iff an event of step k's type exists AFTER
    * the matched stage-(k−1) event — the standard ordered-funnel
    * semantics (re-orderings do not count; repeats are fine). */
  val FunnelSteps: Seq[String] = Seq("view", "click", "signup", "purchase")

  /** ONE greedy funnel step — THE definition the batch fold
    * ([[funnelDepthFold]]) and the streaming machine
    * (streaming/FunnelStream.advance) both consume, so the two can
    * never drift: at depth d with window anchor `lastTsNs`, an event
    * advances the funnel iff it is the NEXT step's type, does not
    * predate the anchor (the late-arrival guard — a no-op under sorted
    * delivery), and lands inside the conversion window (stage 1 is
    * unanchored; `Long.MaxValue` is the unwindowed funnel — the gap is
    * non-negative under the anchor guard, so the check degenerates to
    * true). Greedy first-match is EXACT against the declarative
    * definition because ts is monotone in fold order: the first
    * candidate for stage k is also the earliest, and if IT fails the
    * window every later one does too. */
  def funnelStep(depth: Int, lastTsNs: Long, eventType: String,
                 tsNs: Long, windowNs: Long): Boolean =
    depth < FunnelSteps.length && eventType == FunnelSteps(depth) &&
      tsNs >= lastTsNs && (depth == 0 || tsNs - lastTsNs <= windowNs)

  /** Per-user funnel depth (0..4) by the [[funnelStep]] fold over the
    * user's time-ordered events — `flatMapSortedGroups` delivers each
    * group's rows in (ts_ns, event_id, event_type) order via a
    * SPILLABLE partition sort under the user_id exchange, and the fold
    * carries 12 bytes of state (depth + window anchor), NEVER a
    * per-user array. The round-16 form (`collect_list` + `array_sort`
    * + position arithmetic) materialized one aggregation-buffer struct
    * per event per user: bounded for humans, but a single bot/service
    * account with 10⁷ events put a 10⁷-struct buffer on one executor
    * at 100 TB. The fold is the batch twin of the streaming machine's
    * 12-byte state (stream == batch pinned in StreamingSpec; skewed
    * single-user fixture in PipelineSpec). */
  def funnelDepth(events: DataFrame): DataFrame =
    funnelDepthFold(events, Long.MaxValue)

  private def funnelDepthFold(events: DataFrame,
                              windowNs: Long): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id").cast("bigint"), col("ts_ns").cast("bigint"),
        col("event_id").cast("bigint"), col("event_type").cast("string"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("ts_ns"), col("event_id"),
        col("event_type")) { (uid: Long, it: Iterator[(Long, Long, Long, String)]) =>
        var depth = 0
        var lastTs = 0L
        it.foreach { case (_, ts, _, tpe) =>
          if (funnelStep(depth, lastTs, tpe, ts, windowNs)) {
            depth += 1; lastTs = ts
          }
        }
        Iterator.single((uid, depth))
      }
      .toDF("user_id", "depth")
  }

  /** The funnel report: per stage, users reached + conversion from
    * stage 1 in basis points (integer, div-by-zero guarded). */
  def eventsFunnel(events: DataFrame): DataFrame =
    funnelDepth(events)
      .agg(count(when(col("depth") >= 1, 1)).as("s1"),
        count(when(col("depth") >= 2, 1)).as("s2"),
        count(when(col("depth") >= 3, 1)).as("s3"),
        count(when(col("depth") >= 4, 1)).as("s4"))
      .select(explode(expr(
        s"""array(named_struct('stage_idx', 1, 'stage', '${FunnelSteps(0)}', 'n_users', s1),
                  named_struct('stage_idx', 2, 'stage', '${FunnelSteps(1)}', 'n_users', s2),
                  named_struct('stage_idx', 3, 'stage', '${FunnelSteps(2)}', 'n_users', s3),
                  named_struct('stage_idx', 4, 'stage', '${FunnelSteps(3)}', 'n_users', s4))"""))
        .as("r"), col("s1"))
      .select(expr("r.stage_idx").as("stage_idx"), expr("r.stage").as("stage"),
        expr("r.n_users").as("n_users"),
        expr("CASE WHEN s1 = 0 THEN 0L ELSE r.n_users * 10000 div s1 END")
          .as("conv_bp"))
      .orderBy("stage_idx")

  /** Conversion window for the windowed funnel: each stage must land
    * within ONE DAY of the previous matched stage (ns). Tight enough
    * that the dense driver corpus shows real attrition — the
    * unwindowed funnel saturates there (every user eventually
    * completes), which is itself correct but signal-free. */
  val FunnelWindowNs = 86400000000000L

  /** Windowed funnel depth — first-touch anchored: the SAME
    * [[funnelStep]] fold as [[funnelDepth]] with a finite window.
    * Stage k converts iff its greedy first-match lands within
    * `windowNs` of stage k−1's matched event (ts is monotone in fold
    * order, so a first candidate failing the window proves every later
    * one does — greedy is exact, not a heuristic). A later
    * re-occurrence of stage 1 does NOT re-anchor (single-anchor
    * semantics, documented; re-anchoring funnels are a different
    * operator — the fold never matches a step type at or below the
    * current depth). */
  def funnelDepthWindowed(events: DataFrame,
                          windowNs: Long = FunnelWindowNs): DataFrame =
    funnelDepthFold(events, windowNs)

  /** The windowed funnel report — same shape as [[eventsFunnel]]. */
  def eventsFunnelWindowed(events: DataFrame,
                           windowNs: Long = FunnelWindowNs): DataFrame =
    funnelDepthWindowed(events, windowNs)
      .agg(count(when(col("depth") >= 1, 1)).as("s1"),
        count(when(col("depth") >= 2, 1)).as("s2"),
        count(when(col("depth") >= 3, 1)).as("s3"),
        count(when(col("depth") >= 4, 1)).as("s4"))
      .select(explode(expr(
        s"""array(named_struct('stage_idx', 1, 'stage', '${FunnelSteps(0)}', 'n_users', s1),
                  named_struct('stage_idx', 2, 'stage', '${FunnelSteps(1)}', 'n_users', s2),
                  named_struct('stage_idx', 3, 'stage', '${FunnelSteps(2)}', 'n_users', s3),
                  named_struct('stage_idx', 4, 'stage', '${FunnelSteps(3)}', 'n_users', s4))"""))
        .as("r"), col("s1"))
      .select(expr("r.stage_idx").as("stage_idx"), expr("r.stage").as("stage"),
        expr("r.n_users").as("n_users"),
        expr("CASE WHEN s1 = 0 THEN 0L ELSE r.n_users * 10000 div s1 END")
          .as("conv_bp"))
      .orderBy("stage_idx")

  /** Nanoseconds per 7-day week — the integer cohort bucket. */
  val WeekNs = 604800000000000L

  /** Weekly cohort retention: cohort = the user's first active week,
    * one row per (cohort_week, week_offset) with distinct active
    * users. Two user-keyed aggregates + one co-partitioned join. */
  def eventsRetention(events: DataFrame): DataFrame =
    retentionFromWeeks(events
      .select(col("user_id"), expr(s"ts_ns div ${WeekNs}L").as("week"))
      .distinct())

  /** The retention tail over a DISTINCT (user_id, week) frame — ONE
    * definition shared with the streaming twin
    * (CohortStream.retentionOf derives the same frame from the active
    * feed), so the cohort math cannot drift between the two. */
  def retentionFromWeeks(weeks: DataFrame): DataFrame = {
    val firsts = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    weeks.join(firsts, Seq("user_id"))
      .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Session gap for [[eventsSessions]]: 6 hours in ns. The driver
    * corpus averages one event per ~10.8 h per user, so a web-analytics
    * 30-minute gap would make nearly every session a singleton; 6 h
    * keeps ~40% of gaps intra-session — a distribution with signal.
    * Boundary semantics: a gap of EXACTLY the threshold stays in the
    * same session (new session iff gap > threshold; spec-pinned). */
  val SessionGapNs = 21600000000000L

  /** Session-size cap for the report bucket: sessions with more than
    * this many events fold into the top bucket (`least(n, cap)`). */
  val SessionBucketCap = 8

  /** Event-type TRANSITION MATRIX — the path-analysis staple: for each
    * consecutive event pair within a user's (ts_ns, event_id)-ordered
    * stream, count (prev_type → event_type) and the share of each
    * destination among its source's outgoing transitions, in integer
    * basis points.
    *
    * Scale shape: ONE user-keyed window shuffle (lag); the pair
    * aggregation partial-aggregates map-side into at most |types|²
    * groups, and the per-source totals frame is |types| rows —
    * broadcast back onto the counts. Nothing global touches raw
    * events after the lag. */
  def eventsPaths(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    pathsFromPairCounts(events
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n")))
  }

  /** The transition-matrix tail over a counted (prev_type, event_type,
    * n) pair frame — ONE definition shared with the streaming twin
    * (TransitionStream.pathsOf counts the same pairs from its feed;
    * the pageRankFromPairs split pattern). */
  def pathsFromPairCounts(pairs: DataFrame): DataFrame = {
    val totals = pairs.groupBy("prev_type").agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("event_type"), col("n"),
        expr("n * 10000 div tot").as("share_bp"))
      .orderBy("prev_type", "event_type")
  }

  /** MARKOV PREDICTABILITY audit over the transition graph — how
    * predictable is the next event given the current one: per
    * prev_type, the modal next type (count DESC, type ASC — a total
    * order, both engines pick the same) and its share of the type's
    * transitions in bp, which IS the accuracy of the order-1 Markov
    * argmax predictor (n_correct = the modal count — no instance
    * re-join needed; the model's hit set is exactly the modal pairs).
    * A type at 10⁴ bp is a deterministic UI flow; one near
    * 10⁴/|types| is noise.
    *
    * Scale shape: the corpus collapses to the ≤ types² pair frame in
    * the one user-keyed window pass `q_events_paths` already pays;
    * everything after is pair-frame-sized, the argmax a min_by
    * aggregate (no rank window). */
  def eventsMarkov(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    markovFromPairCounts(events
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n")))
  }

  /** The order-1 modal tail over a counted pair frame — shared with
    * the streaming twin (the min_by/struct argmax lives ONCE). */
  def markovFromPairCounts(pairs: DataFrame): DataFrame =
    pairs
      .groupBy("prev_type")
      .agg(sum(col("n")).as("n_transitions"),
        min_by(col("event_type"), struct((-col("n")).as("nn"),
          col("event_type"))).as("predicted_next"),
        max(col("n")).as("n_correct"))
      .withColumn("acc_bp", expr("n_correct * 10000 div n_transitions"))
      .orderBy("prev_type")

  /** ORDER-2 MARKOV predictability — [[eventsMarkov]] with a two-event
    * context: per (prev2, prev1) state, the modal next type and its
    * share (= the order-2 argmax predictor's accuracy, same
    * no-re-join identity). Read NEXT TO the order-1 table: states
    * whose order-2 accuracy beats their order-1 row quantify how much
    * memory the flow actually has. The state frame is ≤ types³ —
    * still bounded by the type alphabet, never by the corpus (the
    * documented ceiling of this family; deeper contexts need the
    * sessionized-path mining shape instead). */
  def eventsMarkov2(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    markov2FromPairCounts(events
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type"))
      .withColumn("prev1", lag(col("event_type"), 1).over(w))
      .withColumn("prev2", lag(col("event_type"), 2).over(w))
      .filter(col("prev2").isNotNull)
      .groupBy("prev2", "prev1", "event_type")
      .agg(count(lit(1)).as("n")))
  }

  /** The order-2 modal tail over a counted (prev2, prev1, event_type,
    * n) frame — shared with the streaming twin. */
  def markov2FromPairCounts(pairs: DataFrame): DataFrame =
    pairs
      .groupBy("prev2", "prev1")
      .agg(sum(col("n")).as("n_transitions"),
        min_by(col("event_type"), struct((-col("n")).as("nn"),
          col("event_type"))).as("predicted_next"),
        max(col("n")).as("n_correct"))
      .withColumn("acc_bp", expr("n_correct * 10000 div n_transitions"))
      .orderBy("prev2", "prev1")

  /** MARKOV MEMORY GAIN — the order-1 vs order-2 comparison as one
    * table: per (prev2, prev1) state, both predictors' accuracies and
    * the gain in bp (signed). The flow-memory audit read directly:
    * states with large positive gain are where a 2-step context pays
    * (personalization, caching, prefetch decisions); ~0 everywhere
    * means the stream is order-1 and the bigger model buys nothing.
    * One join of two ≤ types³ frames on prev1 — both already bounded
    * by the type alphabet. */
  def eventsMarkovGain(events: DataFrame): DataFrame =
    markovGainFrom(eventsMarkov(events), eventsMarkov2(events))

  /** The memory-gain join over prebuilt order-1/order-2 frames —
    * shared with the streaming twin (both sides are feed rollups
    * there). */
  def markovGainFrom(o1Frame: DataFrame, o2Frame: DataFrame): DataFrame = {
    val o1 = o1Frame
      .select(col("prev_type").as("prev1"), col("acc_bp").as("acc1_bp"))
    o2Frame
      .select(col("prev2"), col("prev1"),
        col("n_transitions"), col("acc_bp").as("acc2_bp"))
      .join(broadcast(o1), Seq("prev1"))
      .select(col("prev2"), col("prev1"), col("n_transitions"),
        col("acc1_bp"), col("acc2_bp"),
        (col("acc2_bp") - col("acc1_bp")).as("gain_bp"))
      .orderBy("prev2", "prev1")
  }

  /** Gap-based SESSIONIZATION + the session-size report: a new session
    * starts when the user's inter-event gap EXCEEDS [[SessionGapNs]];
    * per (user, session) the event count and ns duration, reported as
    * a size-bucketed distribution (bucket = `least(n_events, cap)`)
    * with session counts, total events, and total duration.
    *
    * Scale shape: one user-keyed window shuffle carries BOTH the lag
    * and the running session counter; the (user_id, session) aggregate
    * needs no second exchange — HashPartitioning(user_id) already
    * satisfies the clustered distribution on the superset key
    * (plan-pinned in PlanShapeSpec). The final bucket aggregate is
    * ≤ cap rows. */
  def eventsSessions(events: DataFrame,
                     gapNs: Long = SessionGapNs,
                     cap: Int = SessionBucketCap): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    events
      .select(col("user_id"), col("ts_ns"), col("event_id"))
      .withColumn("gap", col("ts_ns") - lag(col("ts_ns"), 1).over(w))
      .withColumn("new_sess",
        when(col("gap").isNull || col("gap") > gapNs, 1L).otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(w))
      .groupBy("user_id", "sess")
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_ns")) - min(col("ts_ns"))).as("dur_ns"))
      .transform(sessionReport(_, cap))
  }

  /** The session-size report tail over a per-session (n_events,
    * dur_ns) frame — ONE definition shared with the streaming twin
    * (SessionStream.report rolls its closed-session feed through the
    * same buckets). */
  def sessionReport(perSession: DataFrame,
                    cap: Int = SessionBucketCap): DataFrame =
    perSession
      .groupBy(least(col("n_events"), lit(cap.toLong)).as("bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events_total"),
        sum(col("dur_ns")).as("dur_ns_total"))
      .orderBy("bucket")

  /** Nanoseconds per day — the integer activity bucket. */
  val DayNs = 86400000000000L

  /** DAILY + ROLLING-7-DAY ACTIVE USERS (DAU/WAU): per observed epoch
    * day, distinct active users that day and distinct users active in
    * the trailing 7-day window ending that day.
    *
    * Scale shape: the rolling count is NOT a window or a range join —
    * each distinct (user, day) row explodes to the ≤7 future days it
    * covers (`sequence(day, day+6)`), then one distinct + count per
    * day: pure equi-aggregation with a fixed ×7 fan-out, which is the
    * shape that survives a 1000-executor corpus (a per-day range join
    * would rescan actives per day; a global window would single-task).
    * Phantom days past the observed range drop on the inner join with
    * the DAU frame. */
  def eventsActiveUsers(events: DataFrame): DataFrame =
    activeFromUserDays(events
      .select(col("user_id"), expr(s"ts_ns div ${DayNs}L").as("day"))
      .distinct())

  /** The DAU/WAU tail over a DISTINCT (user_id, day) frame — ONE
    * definition shared with the streaming twin and the persisted
    * `ev_user_days` store (round-18). */
  def activeFromUserDays(ud: DataFrame): DataFrame = {
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau7"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau7"))
      .orderBy("day")
  }

  /** DAY-OF-WEEK SEASONALITY profile — per (weekday, event_type), the
    * event count and its share of the type's weekly total in bp: the
    * seasonality table behind anomaly-threshold tuning (a Monday spike
    * on a weekday-heavy type is normal; the same count on Sunday is
    * the anomaly). Weekday from the epoch day by pure arithmetic —
    * (day + 4) mod 7, 0 = Sunday (epoch day 0 was a Thursday) — so no
    * engine calendar/locale is consulted. One partial-aggregated
    * groupBy over ≤ 7·types groups; per-type totals broadcast. */
  def eventsDowProfile(events: DataFrame): DataFrame = {
    val per = events
      .select(col("event_type"),
        expr(s"(ts_ns div ${DayNs}L + 4) % 7").as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
    val tot = per.groupBy("event_type").agg(sum(col("n")).as("tot"))
    per.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("dow").cast("int").as("dow"),
        col("n"), expr("n * 10000 div tot").as("share_bp"))
      .orderBy("event_type", "dow")
  }

  /** DAU/MAU STICKINESS — the engagement-frequency ratio product
    * analytics tracks next to the actives feed: per day, DAU, the
    * trailing-30-day MAU, and their ratio in bp (a product at 5000 bp
    * is used every other day; 333 bp is monthly-only). Same
    * contribution trick as the rolling-7d actives: each (user, day)
    * contributes itself to the 30 calendar days it makes active —
    * sequence-explode on the DISTINCT user-day frame (×30 on that
    * bounded frame, never on raw events), then one partial-aggregated
    * count per day; no day-range self-join, no window. The inner join
    * back to DAU drops the phantom tail days beyond the last observed
    * day in both engines. */
  def eventsStickiness(events: DataFrame): DataFrame =
    stickinessFromUserDays(events
      .select(col("user_id"), expr(s"ts_ns div ${DayNs}L").as("day"))
      .distinct())

  /** The stickiness tail over a DISTINCT (user_id, day) frame — ONE
    * definition shared with the streaming twin (the active feed IS
    * this frame delivered incrementally). */
  def stickinessFromUserDays(ud: DataFrame): DataFrame = {
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val mau = ud
      .select(col("user_id"),
        explode(expr("sequence(day, day + 29)")).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("mau30"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau30"),
        expr("dau * 10000 div mau30").as("stickiness_bp"))
      .orderBy("day")
  }

  /** GROWTH ACCOUNTING over the event stream — the DAU decomposition
    * product analytics runs daily: every active (user, day) is exactly
    * one of NEW (first-ever day), RETAINED (also active the previous
    * day) or RESURRECTED (active before, but not yesterday); CHURNED
    * on day d counts users active on d−1 but not d. The quick ratio
    * (new + resurrected) / churned ships in basis points by truncating
    * integer div, NULL when nobody churned (nullif, both engines).
    * The report frame is the UNION of observed active days and churn
    * days up to the last observed active day (full outer join with
    * zero-filled status columns — round-14 advice): an all-quiet day
    * inside the span still reports its churn (potentially the whole
    * user base) with zero new/retained/resurrected, instead of
    * silently vanishing with it. Churn on the day AFTER the last
    * observed day is not yet knowable and stays dropped. All-integer
    * counts, so the frame is oracle-exact.
    *
    * Scale shape: the corpus collapses to distinct (user, day) in one
    * partial-aggregated shuffle; the lag/lead classification window is
    * user-keyed over that bounded frame (≤ active days per user), and
    * the final groupBy(day) is satisfied downstream on a tiny frame —
    * never a day-range self-join and never a window over raw events. */
  def eventsGrowth(events: DataFrame): DataFrame =
    growthFromUserDays(events
      .select(col("user_id"), expr(s"ts_ns div ${DayNs}L").as("day"))
      .distinct())

  /** The growth-accounting tail over a DISTINCT (user_id, day) frame —
    * shared with the streaming twin and the `ev_user_days` store. */
  def growthFromUserDays(ud: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
    val st = ud
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("next", lead(col("day"), 1).over(w))
      .localCheckpoint(true) // three consumers below; ≤ |user·day| rows
    val status = st.groupBy("day").agg(
      count(when(col("prev").isNull, 1)).as("n_new"),
      count(when(col("prev") === col("day") - 1, 1)).as("n_retained"),
      count(when(col("prev") < col("day") - 1, 1)).as("n_resurrected"))
    val churn = st
      .filter(col("next").isNull || col("next") > col("day") + 1)
      .groupBy((col("day") + 1).as("day"))
      .agg(count(lit(1)).as("n_churned_raw"))
    val maxDay = st.agg(max(col("day")).as("max_day"))
    status.join(churn, Seq("day"), "full")
      .crossJoin(broadcast(maxDay)) // 1 row: the observed-span bound
      .filter(col("day") <= col("max_day"))
      .select(col("day"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned_raw"), lit(0L)).as("n_churned"))
      .withColumn("quick_ratio_bp",
        expr("(n_new + n_resurrected) * 10000 div nullif(n_churned, 0)"))
      .orderBy("day")
  }

  /** EVENT-TYPE AFFINITY (market-basket co-occurrence) — for every
    * unordered type pair (a < b): users who did BOTH, support in basis
    * points of the user base, and LIFT in basis points
    * (co·U·10⁴ div (nₐ·n_b) — >10⁴ ⟺ the pair co-occurs more than
    * independent behavior predicts). All counts and both ratios are
    * truncating integer arithmetic, so the frame is oracle-exact.
    *
    * Scale shape: the corpus collapses to distinct (user, type) in one
    * partial-aggregated shuffle (≤ users·types rows); the pair frame
    * is a CO-PARTITIONED self-join on user_id of that bounded frame
    * (both sides share one exchange off the checkpoint), fanning out
    * ≤ types²/2 rows per user before a partial-aggregated collapse to
    * ≤ types²/2 groups; per-type totals and the user count broadcast
    * back. Never an all-pairs join on users, never raw events twice. */
  def eventsAffinity(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint(true) // three consumers; ≤ users·types rows
    val tot = ut.groupBy("event_type").agg(count(lit(1)).as("nu"))
    val uu = ut.agg(count_distinct(col("user_id")).as("u"))
    ut.as("a").join(ut.as("b"), "user_id")
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("co_users"))
      .join(broadcast(tot.select(col("event_type").as("type_a"),
        col("nu").as("nu_a"))), Seq("type_a"))
      .join(broadcast(tot.select(col("event_type").as("type_b"),
        col("nu").as("nu_b"))), Seq("type_b"))
      .crossJoin(broadcast(uu)) // 1-row user total
      .select(col("type_a"), col("type_b"), col("co_users"),
        col("nu_a"), col("nu_b"),
        expr("co_users * 10000 div u").as("support_bp"),
        expr("co_users * u * 10000 div (nu_a * nu_b)").as("lift_bp"))
      .orderBy("type_a", "type_b")
  }

  /** The conversion event for [[eventsAttribution]]. */
  val ConvType = "purchase"

  /** FIRST-TOUCH ATTRIBUTION — per acquisition channel (each user's
    * FIRST event type in (ts, event_id) order), how many users arrived
    * that way and how many ever converted ([[ConvType]]); conversion
    * rate in truncating basis points. The deterministic struct-ordered
    * `min_by` makes the first touch exact (ties impossible: event_id
    * breaks them), so the frame is oracle-exact integers.
    *
    * Scale shape: ONE user-keyed partial-aggregated shuffle computes
    * both the first touch (min_by over the (ts, event_id) struct) and
    * the converted flag (max of an indicator) — no window sort, no
    * join; the channel rollup then aggregates ≤ |users| rows into
    * ≤ |types| groups. */
  def eventsAttribution(events: DataFrame): DataFrame = {
    events
      .groupBy("user_id")
      .agg(
        min_by(col("event_type"), struct(col("ts_ns"), col("event_id")))
          .as("first_type"),
        max(when(col("event_type") === ConvType, 1L).otherwise(0L))
          .as("conv"))
      .groupBy("first_type")
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_converted"))
      .withColumn("conv_bp", expr("n_converted * 10000 div n_users"))
      .orderBy("first_type")
  }

  /** Trailing-window size (days) and the k of the k·σ rule for
    * [[eventsAnomaly]]. */
  val AnomalyWindow = 7
  val AnomalyK = 3

  /** VOLUME ANOMALY detection over the event stream — the monitoring
    * query every pipeline runs: per (event_type, day), flag days whose
    * count deviates more than k·σ from the trailing-window mean. The
    * k·σ rule is kept in EXACT integer arithmetic by clearing
    * denominators: with S = Σnᵢ and Q = Σnᵢ² over the w trailing days,
    *   |n − S/w| > k·σ  ⟺  (w·n − S)² > k²·(w·Q − S²),
    * so both engines compare the same two BIGINTs — no float variance,
    * no sqrt. Strict `>`: a day exactly at the bound (and any day of a
    * zero-variance window equal to its mean) is NOT an anomaly
    * (spec-pinned). Overflow seam: exact for per-(type,day) counts up
    * to ~4×10⁸ ((w·n)² must fit in BIGINT) — beyond that, scale counts
    * (e.g. to thousands) before the rule; documented, not enforced.
    *
    * Scale shape: the corpus reduces to a (type, day) count frame in
    * one partial-aggregated shuffle; the trailing window runs over
    * that tiny frame, partitioned by type — never over raw events. */
  def eventsAnomaly(events: DataFrame): DataFrame =
    anomalyFromDayCounts(events
      .select(expr(s"ts_ns div ${DayNs}L").as("day"), col("event_type"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n")))

  /** The k·σ tail over a prebuilt (event_type, day, n) count frame —
    * split out (round-17) so a DATE-PARTITIONED events layout can feed
    * it from a partition-pruned read: at lake scale the monitoring
    * query scans only the trailing `AnomalyWindow + 1` day partitions
    * of a day-partitioned table, never the corpus (BucketingSpec
    * asserts the pruned scan; SCALE.md documents the layout). */
  def anomalyFromDayCounts(counts: DataFrame): DataFrame = {
    val w = AnomalyWindow
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day").rowsBetween(-w, -1)
    counts
      .withColumn("wn", count(lit(1)).over(frame))
      .withColumn("s", sum(col("n")).over(frame))
      .withColumn("q", sum(col("n") * col("n")).over(frame))
      .filter(col("wn") === w)
      .select(col("event_type"), col("day"), col("n"),
        expr(s"($w*n - s)*($w*n - s)").as("dev2"),
        expr(s"${AnomalyK * AnomalyK}*($w*q - s*s)").as("bound"),
        expr(s"CAST(($w*n - s)*($w*n - s) > ${AnomalyK * AnomalyK}*($w*q - s*s) AS INT)")
          .as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  /** Gap quantization for [[eventsDwell]] — percentiles are computed
    * over MILLISECOND dwell values, which keeps the count-aggregated
    * distribution frame far below row count at any scale (the
    * resolution knob: coarsen to seconds at 100 TB if even the ms
    * frame matters). */
  val DwellMsNs = 1000000L

  /** TRANSITION DWELL-TIME PERCENTILES — [[eventsPaths]] with the
    * third dimension product analytics always asks next: per
    * (prev_type → event_type) transition, how LONG it takes. Reports
    * n, lower-median and p90 dwell in ms — EXACT integer rank
    * selection (0-based ranks (n−1)/2 and (n−1)·9/10, value = first
    * quantized gap whose cumulative count passes the rank), so both
    * engines agree bit-for-bit: no float interpolation, no sqrt.
    *
    * Scale shape: the lag window is the one user-keyed corpus shuffle;
    * the distribution frame aggregates on (pair, gap_ms) — a
    * well-spread 3-part key, NOT a per-pair window over raw rows (a
    * |types|²-partition hotspot at corpus scale). The cumulative
    * window then runs over the COUNT frame (≤ distinct observed ms
    * values per pair), and per-pair totals broadcast back. */
  def eventsDwell(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    dwellFromDist(events
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts_ns"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      // Truncating integer div — never a double roundtrip (ns deltas
      // can exceed 2^53 on long-horizon streams).
      .withColumn("gap_ms", expr(s"(ts_ns - prev_ts) div ${DwellMsNs}L"))
      .groupBy(col("prev_type"), col("event_type").as("dst"), col("gap_ms"))
      .agg(count(lit(1)).as("c")))
  }

  /** The dwell-percentile tail over a counted (prev_type, dst, gap_ms,
    * c) distribution — shared with the streaming twin (the rank
    * formulas live ONCE). */
  def dwellFromDist(dist: DataFrame): DataFrame = {
    val totals = dist.groupBy("prev_type", "dst").agg(sum(col("c")).as("tot"))
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy("prev_type", "dst").orderBy("gap_ms")
    dist
      .withColumn("cum", sum(col("c")).over(cw))
      .join(broadcast(totals), Seq("prev_type", "dst"))
      // 0-based target ranks (n−1)/2 and (n−1)·9/10; the percentile is
      // the first gap_ms whose cumulative count reaches rank+1.
      .groupBy(col("prev_type"), col("dst").as("event_type"))
      .agg(max(col("tot")).as("n"),
        min(when(expr("cum >= (tot - 1) div 2 + 1"), col("gap_ms")))
          .as("p50_gap_ms"),
        min(when(expr("cum >= (tot - 1) * 9 div 10 + 1"), col("gap_ms")))
          .as("p90_gap_ms"))
      .orderBy("prev_type", "event_type")
  }

  /** Thresholds for [[eventsBots]]: a user is bot-flagged when any
    * single day carries MORE than [[BotDayCap]] events, or any
    * inter-event gap is under [[BotMinGapNs]] (60 s). Both chosen off
    * the driver corpus's upper tail (sf0.01: max day-count 10, p99 6;
    * min gap ~8 s, p01 ~6.5 min) so both branches fire without
    * flagging everyone. */
  val BotDayCap = 7L
  val BotMinGapNs = 60000000000L

  /** BOT / AUTOMATION DETECTION over the event stream — the abuse
    * screen every analytics pipeline runs before its human-behavior
    * metrics (and every crawl corpus runs before training): per user,
    * total events, distinct active days, the busiest day's count, and
    * the minimum inter-event gap; flagged when volume
    * (`max_day_n > BotDayCap`) or cadence (`min_gap_ns < BotMinGapNs`)
    * is super-human. All-integer (counts and ns gaps), so the verdict
    * is oracle-exact; single-event users have NULL `min_gap_ns` and
    * the cadence branch treats NULL as never-fires (coalesce to
    * Long.Max — spec-pinned along with both rule boundaries).
    *
    * Scale shape: ONE user-keyed exchange end-to-end — the lag window
    * shuffles on user_id, and both downstream aggregates
    * ((user, day), then (user)) are satisfied by
    * HashPartitioning(user_id) on a grouping superset/subset, the
    * [[eventsSessions]] discipline (plan-pinned). Per-user output is
    * the operator's product (a user classification frame, like per-doc
    * quality scores) — bounded by |users|, never by |events|. */
  def eventsBots(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    events
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        expr(s"ts_ns div ${DayNs}L").as("day"))
      .withColumn("gap", col("ts_ns") - lag(col("ts_ns"), 1).over(w))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("dn"), min(col("gap")).as("mg"))
      .groupBy("user_id")
      .agg(sum(col("dn")).as("n_events"),
        count(lit(1)).as("active_days"),
        max(col("dn")).as("max_day_n"),
        min(col("mg")).as("min_gap_ns"))
      .withColumn("is_bot", expr(
        s"""CAST(max_day_n > ${BotDayCap}L OR
                 coalesce(min_gap_ns, ${Long.MaxValue}L) < ${BotMinGapNs}L
            AS INT)"""))
      .orderBy("user_id")
  }

  /** Integer fixed-point scale and iteration count for
    * [[eventsPageRank]]. */
  val PrScale = 1000000000L
  val PrIters = 3

  /** PAGERANK over the event-type TRANSITION GRAPH — the iterative
    * graph computation, demonstrated on the [[eventsPaths]] edge frame
    * and kept oracle-exact by integer fixed-point arithmetic (rank
    * scaled by 10⁹; damping 85/100; every division is the truncating
    * `div` both engines share, applied in a pinned order:
    * contribution = r·w div out, then 85·Σ div 100). Dangling-mass
    * redistribution is omitted (standard simplification — every type
    * in the driver corpus has out-edges; documented).
    *
    * Scale shape: the corpus collapses to the |types|² edge frame in
    * one aggregate pass; all [[PrIters]] iterations run on tiny
    * broadcast frames. At 100 TB the same plan holds for any
    * aggregated entity graph whose node set fits a broadcast (types,
    * domains, labels) — per-node ranks over a billion-node graph are
    * a different (checkpointed-loop) operator, per the CC family. */
  def eventsPageRank(events: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    // ONE corpus pass: the null-inclusive (src, dst) pair aggregate.
    // Every event appears exactly once as dst (lag only prepends src,
    // NULL on each user's first event), so the aggregate carries BOTH
    // the edge frame (src not null) and the full observed node set
    // (distinct dst) — no second events scan for nodes. Materialized
    // once (≤ (types+1)·types rows) so the PrIters iterations and the
    // final collect never re-derive the corpus pipeline (measured
    // 2.3 s → ~1.0 s at sf0.1).
    val pairs = events
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("src", lag(col("event_type"), 1).over(win))
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("wt"))
      .localCheckpoint(true) // multi-consumer: every PageRank round
    pageRankFromPairs(pairs)
  }

  /** The PageRank iterations over a prebuilt NULL-INCLUSIVE (src, dst,
    * wt) pair frame — split out (round 16) so the streaming
    * transition feed (whose first-event rows carry the null src) can
    * reproduce the key without a corpus rescan
    * (`TransitionStream.pagerankOf`). */
  def pageRankFromPairs(pairs: DataFrame): DataFrame = {
    val edges = pairs.filter(col("src").isNotNull)
    val outd = edges.groupBy("src").agg(sum(col("wt")).as("out"))
    val m = edges.join(broadcast(outd), Seq("src"))
    val nodes = pairs.select(col("dst").as("event_type")).distinct()
    val nn = nodes.agg(count(lit(1)).as("n"))
    var r = nodes.crossJoin(broadcast(nn))
      .select(col("event_type"), expr(s"${PrScale}L div n").as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = m
        .join(broadcast(r.withColumnRenamed("event_type", "src")), Seq("src"))
        .select(col("dst").as("event_type"), expr("r * wt div out").as("c"))
        .groupBy("event_type").agg(sum(col("c")).as("sc"))
      r = nodes.join(broadcast(contrib), Seq("event_type"), "left")
        .crossJoin(broadcast(nn))
        .select(col("event_type"),
          expr(s"(${PrScale}L * 15 div 100) div n + 85 * coalesce(sc, 0L) div 100")
            .as("r"))
    }
    r.select(col("event_type"), col("r").as("rank")).orderBy("event_type")
  }

  /** The NULL-INCLUSIVE TRANSITION DISTRIBUTION — (prev2, prev_type,
    * event_type, gap_ms, c): the sufficient statistic of the whole
    * path-analysis family in ONE frame. Every event appears once as
    * `event_type` (lag only prepends), so the frame carries the full
    * node set (pagerank), the order-1 pair counts (paths/markov), the
    * order-2 context counts (markov2/markov_gain), and the per-edge
    * gap histogram (dwell) — each key a stateless rollup over it.
    * [[TransitionStream]] is its streaming twin (the feed's
    * (prev2, prevType, eventType, gapNs) rows aggregate to exactly
    * this frame). */
  def transDist(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    events
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev2", lag(col("event_type"), 2).over(w))
      .withColumn("prev_ts", lag(col("ts_ns"), 1).over(w))
      .withColumn("gap_ms", expr(s"(ts_ns - prev_ts) div ${DwellMsNs}L"))
      .groupBy("prev2", "prev_type", "event_type", "gap_ms")
      .agg(count(lit(1)).as("c"))
  }

  /** The four event columns off a RAW parquet read of events part
    * files — the merge lanes receive the delta as a parquet read of the
    * new files only (with the corpus table's schema), so they must
    * apply [[Tables.events]]'s ts normalization themselves
    * (TIMESTAMP(NANOS) reads as a long named `ts` under the nanosAsLong
    * conf; TIMESTAMP(MICROS) converts exactly). */
  private[graft] def rawEventCols(raw: DataFrame): DataFrame = {
    val tsNs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case _ => expr("unix_micros(cast(ts as timestamp)) * 1000L")
    }
    raw.select(col("user_id"), tsNs.as("ts_ns"), col("event_id"),
      col("event_type"))
  }

  /** Per-user BOUNDARY STATE — the last event's (ts, id), its type,
    * and the second-to-last type: exactly [[TransitionStream]]'s
    * TState (the fold's proof that this is the sufficient statistic to
    * continue the lag across a corpus append). One row per user; rides
    * inside the ev_trans store so the merge lane can seed the delta's
    * lag pass without touching settled events. */
  private[graft] def transBounds(events: DataFrame): DataFrame = {
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_ns").desc, col("event_id").desc)
    events
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("p2", lead(col("event_type"), 1).over(wDesc))
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("p2").as("prev2"),
        col("event_type").as("prev_type"),
        col("ts_ns").as("b_ts"), col("event_id").as("b_id"))
  }

  /** The ev_trans STORE FRAME (builder v2): the transition
    * distribution rows ([[transDist]], `user_id` NULL) unioned with
    * the per-user boundary rows ([[transBounds]], `user_id` set) in
    * one table — self-contained, so an append-merge has everything it
    * needs in (prior store, delta rows) alone. */
  private[graft] def transStore(events: DataFrame): DataFrame = {
    val dist = transDist(events).select(
      col("prev2"), col("prev_type"), col("event_type"), col("gap_ms"),
      col("c"), lit(null).cast("long").as("user_id"),
      lit(null).cast("long").as("b_ts"), lit(null).cast("long").as("b_id"))
    val bounds = transBounds(events).select(
      col("prev2"), col("prev_type"),
      lit(null).cast("string").as("event_type"),
      lit(null).cast("long").as("gap_ms"), lit(null).cast("long").as("c"),
      col("user_id"), col("b_ts"), col("b_id"))
    dist.unionByName(bounds)
  }

  /** The ev_trans APPEND-MERGE (round-19, the r18 verdict's top item):
    * transitions span batch boundaries per user — a batch's first
    * event pairs with the settled corpus's last two — so per-file
    * decomposability alone does not hold; the carried boundary state
    * closes the seam. The delta's lag runs over (two synthetic seed
    * rows reconstructing each touched user's boundary) ++ (delta
    * events); transitions whose CURRENT row is synthetic are already
    * counted in the old distribution and drop out, so
    * old dist + delta dist partitions the cold rebuild's transition
    * set exactly.
    *
    * DECLINES (returns None → cold rebuild) when any delta event sorts
    * at or before its user's recorded boundary in the (ts, event_id)
    * total order: the cold lag would SPLICE that event between settled
    * rows, which no append-side computation can reproduce without
    * re-reading the settled corpus. The check is one bounded job over
    * (delta min per user) ⋈ (boundary rows). */
  private[graft] def transStoreMerged(old: DataFrame, deltaRaw: DataFrame)
      : Option[DataFrame] = {
    val ev = rawEventCols(deltaRaw)
    val oldDist = old.filter(col("user_id").isNull)
      .select("prev2", "prev_type", "event_type", "gap_ms", "c")
    val oldB = old.filter(col("user_id").isNotNull)
      .select("user_id", "prev2", "prev_type", "b_ts", "b_id")
    // Every join against store-sized frames below BROADCASTS the
    // delta-derived side: the publish scans and rewrites the store
    // regardless, so the merge must add zero store-sized SHUFFLES on
    // top — old rows stream map-side through each join.
    val viol = oldB.join(broadcast(ev.groupBy("user_id")
        .agg(min(struct(col("ts_ns"), col("event_id"))).as("m"))),
        Seq("user_id"))
      .filter(col("m.ts_ns") < col("b_ts") ||
        (col("m.ts_ns") === col("b_ts") && col("m.event_id") <= col("b_id")))
    if (viol.limit(1).count() > 0) return None
    val touched = ev.select("user_id").distinct()
    val seeds = oldB.join(broadcast(touched), Seq("user_id"), "left_semi")
    // Seed rows: the boundary's last event at its REAL (ts, id) — so
    // the first delta transition's gap is exact — and, when prev2 is
    // set, a second seed just before it ((b_ts, b_id−1) cannot collide
    // with a delta row: the violation check rejected anything at or
    // before (b_ts, b_id)).
    val synth1 = seeds.select(col("user_id"), col("b_ts").as("ts_ns"),
      col("b_id").as("event_id"), col("prev_type").as("event_type"),
      lit(false).as("real"))
    val synth2 = seeds.filter(col("prev2").isNotNull)
      .select(col("user_id"), col("b_ts").as("ts_ns"),
        (col("b_id") - 1L).as("event_id"), col("prev2").as("event_type"),
        lit(false).as("real"))
    val aug = ev.withColumn("real", lit(true))
      .unionByName(synth1).unionByName(synth2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ns", "event_id")
    val lagged = aug
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .withColumn("prev_ts", lag(col("ts_ns"), 1).over(w))
    val newDist = lagged.filter(col("real"))
      .select(col("p2").as("prev2"), col("p1").as("prev_type"),
        col("event_type"),
        expr(s"(ts_ns - prev_ts) div ${DwellMsNs}L").as("gap_ms"))
      .groupBy("prev2", "prev_type", "event_type", "gap_ms")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // bounded (≤ delta rows); broadcast twice below
    // Combine WITHOUT re-shuffling the old distribution (it can be
    // nearly event-count-sized — gap_ms is high-cardinality): the
    // aggregated delta distribution broadcasts into a null-safe
    // left-outer join (keys carry NULLs: first-event and first-gap
    // rows), colliding keys add counts in place, and the genuinely-new
    // keys append via a small anti join. Values ≡ the naive
    // (old ∪ new).groupBy.sum, with the store streaming map-side.
    val nd = newDist.select(col("prev2").as("p2n"), col("prev_type").as("ptn"),
      col("event_type").as("etn"), col("gap_ms").as("gmn"), col("c").as("cn"))
    val on = col("prev2") <=> col("p2n") && col("prev_type") <=> col("ptn") &&
      col("event_type") <=> col("etn") && col("gap_ms") <=> col("gmn")
    val bumped = oldDist.join(broadcast(nd), on, "left_outer")
      .select(col("prev2"), col("prev_type"), col("event_type"),
        col("gap_ms"), (col("c") + coalesce(col("cn"), lit(0L))).as("c"))
    val matchedKeys = oldDist.join(broadcast(nd), on, "left_semi")
      .select("prev2", "prev_type", "event_type", "gap_ms")
    val freshDist = nd.join(broadcast(matchedKeys),
        col("p2n") <=> col("prev2") && col("ptn") <=> col("prev_type") &&
          col("etn") <=> col("event_type") && col("gmn") <=> col("gap_ms"),
        "left_anti")
      .select(col("p2n").as("prev2"), col("ptn").as("prev_type"),
        col("etn").as("event_type"), col("gmn").as("gap_ms"),
        col("cn").as("c"))
    val dist = bumped.unionByName(freshDist)
    // New boundaries for touched users come off the SAME lagged frame
    // (its last row per user is always a real delta row — every
    // synthetic seed sorts before every delta event); untouched users
    // keep their old boundary verbatim.
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_ns").desc, col("event_id").desc)
    val newB = lagged.withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("p1").as("prev2"),
        col("event_type").as("prev_type"),
        col("ts_ns").as("b_ts"), col("event_id").as("b_id"))
    val bounds = oldB.join(broadcast(touched), Seq("user_id"), "left_anti")
      .unionByName(newB)
    Some(dist.select(
      col("prev2"), col("prev_type"), col("event_type"), col("gap_ms"),
      col("c"), lit(null).cast("long").as("user_id"),
      lit(null).cast("long").as("b_ts"), lit(null).cast("long").as("b_id"))
      .unionByName(bounds.select(
        col("prev2"), col("prev_type"),
        lit(null).cast("string").as("event_type"),
        lit(null).cast("long").as("gap_ms"), lit(null).cast("long").as("c"),
        col("user_id"), col("b_ts"), col("b_id"))))
  }

  /** The full PERSISTED ev_trans store (dist + boundary rows), with
    * the append-merge lane wired; [[transDistStore]] is the
    * distribution view every key reads. Deterministic (integer day/gap
    * math over a total order) ⟹ reuse == rebuild; WarehouseSpec pins
    * merged ≡ cold bit for bit and the late-delta decline. */
  private def transStoreFull(s: SparkSession, dir: String): DataFrame =
    Artifacts.store(s, "ev_trans", dir, "events")(
      transStore(Tables.events(s, dir)))(transStoreMerged)

  /** The transition-DISTRIBUTION view of [[transStoreFull]] (round-18
    * shape, unchanged for consumers): the six transition/markov/dwell/
    * pagerank keys each used to re-pay the same user-keyed lag
    * exchange over raw events (~4.8 MB shuffle each at sf0.1); the
    * store pays it ONCE per corpus state at ingest — and, since
    * round-19, per corpus APPEND only a delta-sized lag — and every
    * key reads the bounded distribution frame back. */
  private[graft] def transDistStore(s: SparkSession, dir: String): DataFrame =
    transStoreFull(s, dir).filter(col("user_id").isNull)
      .select("prev2", "prev_type", "event_type", "gap_ms", "c")

  /** The distinct (user_id, day) frame — the ev_user_days builder. */
  private[graft] def userDays(events: DataFrame): DataFrame =
    events.select(col("user_id"), expr(s"ts_ns div ${DayNs}L").as("day"))
      .distinct()

  /** The ev_user_days APPEND-MERGE: distinct (user, day) is a
    * semilattice — old ∪ (delta days ∖ old) ≡ the cold rebuild by
    * construction. SHUFFLE SHAPE: the publish must scan-and-rewrite
    * the old store regardless, so the merge's job is to add ZERO
    * store-sized shuffles on top — a naive `(old ∪ delta).distinct()`
    * would re-exchange the whole store per append. Instead the delta's
    * (small, already-distinct) day set broadcasts twice: a map-side
    * semi join extracts the delta∩old slice (≤ |delta| rows), an anti
    * join against that slice yields the genuinely-new rows, and the
    * store streams through untouched. Never declines. */
  private[graft] def userDaysMerged(old: DataFrame, deltaRaw: DataFrame)
      : Option[DataFrame] = {
    val d = userDays(rawEventCols(deltaRaw))
    val matched = old.join(broadcast(d), Seq("user_id", "day"), "left_semi")
    val fresh = d.join(broadcast(matched), Seq("user_id", "day"), "left_anti")
    Some(old.unionByName(fresh))
  }

  /** The PERSISTED distinct (user_id, day) store — the active feed's
    * batch analog ([[ActiveStream]] delivers exactly this frame
    * incrementally): dau/wau, stickiness, growth, and retention
    * (weeks = day div 7 — exact for ts ≥ 0 since WeekNs = 7·DayNs)
    * all re-derived it per key; the store pays the distinct once per
    * corpus state, and per corpus APPEND only the [[userDaysMerged]]
    * delta distinct (round-19). */
  private[graft] def userDayStore(s: SparkSession, dir: String): DataFrame =
    Artifacts.store(s, "ev_user_days", dir, "events")(
      userDays(Tables.events(s, dir)))(userDaysMerged)

  /** Order-1 pair counts off the transition store (null-prev rows —
    * each user's first event — excluded, as the batch lag filter). */
  private def pairCountsOf(d: DataFrame): DataFrame =
    d.filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type").agg(sum(col("c")).as("n"))

  /** Order-2 context counts off the transition store. */
  private def triplesOf(d: DataFrame): DataFrame =
    d.filter(col("prev2").isNotNull)
      .groupBy(col("prev2"), col("prev_type").as("prev1"),
        col("event_type"))
      .agg(sum(col("c")).as("n"))

  val queries: Map[String, Q] = Map(
    // Ordered conversion funnel — see [[eventsFunnel]].
    "q_events_funnel" -> ((s, dir) => eventsFunnel(Tables.events(s, dir))),

    // Weekly cohort retention — the [[retentionFromWeeks]] tail off
    // the persisted (user, day) store (weeks = day div 7, exact for
    // ts ≥ 0: WeekNs = 7·DayNs and integer division composes).
    "q_events_retention" -> ((s, dir) =>
      retentionFromWeeks(userDayStore(s, dir)
        .select(col("user_id"), expr("day div 7").as("week"))
        .distinct())),

    // WINDOWED conversion funnel — see [[eventsFunnelWindowed]]: each
    // stage within one day of the previous; real attrition where the
    // unwindowed funnel saturates.
    "q_events_funnel_windowed" -> ((s, dir) =>
      eventsFunnelWindowed(Tables.events(s, dir))),

    // Event-type transition matrix — the [[pathsFromPairCounts]] tail
    // off the persisted transition store (round-18: the six
    // path-family keys share ONE stored lag pass; [[eventsPaths]]
    // keeps the inline form for the stream twins and tests).
    "q_events_paths" -> ((s, dir) =>
      pathsFromPairCounts(pairCountsOf(transDistStore(s, dir)))),

    // Order-1 Markov predictability audit off the store.
    "q_events_markov" -> ((s, dir) =>
      markovFromPairCounts(pairCountsOf(transDistStore(s, dir)))),

    // Order-2 Markov (two-event context) off the store.
    "q_events_markov2" -> ((s, dir) =>
      markov2FromPairCounts(triplesOf(transDistStore(s, dir)))),

    // Order-1 vs order-2 memory-gain audit off the store.
    "q_events_markov_gain" -> ((s, dir) => {
      val d = transDistStore(s, dir)
      markovGainFrom(markovFromPairCounts(pairCountsOf(d)),
        markov2FromPairCounts(triplesOf(d)))
    }),

    // Gap sessionization + size distribution — see [[eventsSessions]].
    "q_events_sessions" -> ((s, dir) =>
      eventsSessions(Tables.events(s, dir))),

    // DAU + rolling 7-day actives — the [[activeFromUserDays]] tail
    // off the persisted (user, day) store.
    "q_events_active" -> ((s, dir) =>
      activeFromUserDays(userDayStore(s, dir))),

    // DAU/MAU stickiness ratio off the (user, day) store.
    "q_events_stickiness" -> ((s, dir) =>
      stickinessFromUserDays(userDayStore(s, dir))),

    // Day-of-week seasonality per type — see [[eventsDowProfile]].
    "q_events_dow" -> ((s, dir) =>
      eventsDowProfile(Tables.events(s, dir))),

    // Integer k·σ volume anomaly flags — see [[eventsAnomaly]].
    "q_events_anomaly" -> ((s, dir) =>
      eventsAnomaly(Tables.events(s, dir))),

    // Fixed-point PageRank over the transition graph — the iterations
    // off the store's NULL-INCLUSIVE pair aggregate (each user's first
    // event carries the null prev, so the node set matches the lag's).
    "q_events_pagerank" -> ((s, dir) =>
      pageRankFromPairs(transDistStore(s, dir)
        .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
        .agg(sum(col("c")).as("wt"))
        .localCheckpoint(true))), // multi-consumer: every PageRank round

    // Volume/cadence bot screen — see [[eventsBots]].
    "q_events_bots" -> ((s, dir) => eventsBots(Tables.events(s, dir))),

    // Transition dwell-time percentiles — the [[dwellFromDist]] tail
    // off the store (gap_ms histogram is IN the store rows).
    "q_events_dwell" -> ((s, dir) =>
      // dist feeds dwellFromDist's window branch AND totals branch —
      // left lazy the store scan + aggregate ran twice (round-21,
      // guide §2.4). The frame is distribution-sized (distinct
      // (prev_type, dst, gap_ms)); checkpointed HERE, not inside
      // dwellFromDist, which the streaming twin also calls.
      dwellFromDist(transDistStore(s, dir)
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("dst"),
          col("gap_ms"))
        .agg(sum(col("c")).as("c"))
        .localCheckpoint(true))), // multi-consumer: window and totals branches

    // Daily growth accounting (new/retained/resurrected/churned) off
    // the (user, day) store.
    "q_events_growth" -> ((s, dir) =>
      growthFromUserDays(userDayStore(s, dir))),

    // Market-basket type-pair affinity (support + lift) — see
    // [[eventsAffinity]].
    "q_events_affinity" -> ((s, dir) =>
      eventsAffinity(Tables.events(s, dir))),

    // First-touch acquisition attribution — see [[eventsAttribution]].
    "q_events_attribution" -> ((s, dir) =>
      eventsAttribution(Tables.events(s, dir))),
  )

  val oracle: Map[String, String] = Map(
    // The same ordered-sequence first-match arithmetic over the
    // (epoch_ns, event_id)-ordered type list; DuckDB list_position is
    // NULL on miss where Spark's array_position is 0 — coalesced.
    "q_events_funnel" -> s"""
      WITH sq AS (
        SELECT user_id,
               list(event_type ORDER BY epoch_ns(ts), event_id) AS sq
        FROM events GROUP BY user_id),
      s1t AS (
        SELECT user_id, sq,
               coalesce(list_position(sq, '${FunnelSteps(0)}'), 0) AS p1
        FROM sq),
      s2t AS (
        SELECT user_id, sq, p1,
               CASE WHEN p1 > 0 AND r2 > 0 THEN p1 + r2 ELSE 0 END AS p2
        FROM (SELECT user_id, sq, p1,
                     CASE WHEN p1 > 0
                       THEN coalesce(list_position(sq[p1 + 1 :],
                                                   '${FunnelSteps(1)}'), 0)
                       ELSE 0 END AS r2
              FROM s1t)),
      s3t AS (
        SELECT user_id, sq, p1, p2,
               CASE WHEN p2 > 0 AND r3 > 0 THEN p2 + r3 ELSE 0 END AS p3
        FROM (SELECT user_id, sq, p1, p2,
                     CASE WHEN p2 > 0
                       THEN coalesce(list_position(sq[p2 + 1 :],
                                                   '${FunnelSteps(2)}'), 0)
                       ELSE 0 END AS r3
              FROM s2t)),
      s4t AS (
        SELECT user_id, p1, p2, p3,
               CASE WHEN p3 > 0 AND r4 > 0 THEN p3 + r4 ELSE 0 END AS p4
        FROM (SELECT user_id, sq, p1, p2, p3,
                     CASE WHEN p3 > 0
                       THEN coalesce(list_position(sq[p3 + 1 :],
                                                   '${FunnelSteps(3)}'), 0)
                       ELSE 0 END AS r4
              FROM s3t)),
      c AS (
        SELECT count(*) FILTER (p1 > 0) AS s1,
               count(*) FILTER (p2 > 0) AS s2,
               count(*) FILTER (p3 > 0) AS s3,
               count(*) FILTER (p4 > 0) AS s4
        FROM s4t)
      SELECT stage_idx, stage, n_users,
             CAST(CASE WHEN s1 = 0 THEN 0
                       ELSE n_users * 10000 // s1 END AS BIGINT) AS conv_bp
      FROM (
        SELECT CAST(1 AS INTEGER) AS stage_idx, '${FunnelSteps(0)}' AS stage,
               s1 AS n_users, s1 FROM c
        UNION ALL SELECT CAST(2 AS INTEGER), '${FunnelSteps(1)}', s2, s1 FROM c
        UNION ALL SELECT CAST(3 AS INTEGER), '${FunnelSteps(2)}', s3, s1 FROM c
        UNION ALL SELECT CAST(4 AS INTEGER), '${FunnelSteps(3)}', s4, s1 FROM c)
      ORDER BY stage_idx""",

    // The unwindowed position chain + a parallel ordered ts list; the
    // window chain compares matched-stage timestamps.
    "q_events_funnel_windowed" -> s"""
      WITH sq AS (
        SELECT user_id,
               list(event_type ORDER BY epoch_ns(ts), event_id) AS sq,
               list(epoch_ns(ts) ORDER BY epoch_ns(ts), event_id) AS tq
        FROM events GROUP BY user_id),
      s1t AS (
        SELECT user_id, sq, tq,
               coalesce(list_position(sq, '${FunnelSteps(0)}'), 0) AS p1
        FROM sq),
      s2t AS (
        SELECT user_id, sq, tq, p1,
               CASE WHEN p1 > 0 AND r2 > 0 THEN p1 + r2 ELSE 0 END AS p2
        FROM (SELECT user_id, sq, tq, p1,
                     CASE WHEN p1 > 0
                       THEN coalesce(list_position(sq[p1 + 1 :],
                                                   '${FunnelSteps(1)}'), 0)
                       ELSE 0 END AS r2
              FROM s1t)),
      s3t AS (
        SELECT user_id, sq, tq, p1, p2,
               CASE WHEN p2 > 0 AND r3 > 0 THEN p2 + r3 ELSE 0 END AS p3
        FROM (SELECT user_id, sq, tq, p1, p2,
                     CASE WHEN p2 > 0
                       THEN coalesce(list_position(sq[p2 + 1 :],
                                                   '${FunnelSteps(2)}'), 0)
                       ELSE 0 END AS r3
              FROM s2t)),
      s4t AS (
        SELECT user_id, tq, p1, p2, p3,
               CASE WHEN p3 > 0 AND r4 > 0 THEN p3 + r4 ELSE 0 END AS p4
        FROM (SELECT user_id, sq, tq, p1, p2, p3,
                     CASE WHEN p3 > 0
                       THEN coalesce(list_position(sq[p3 + 1 :],
                                                   '${FunnelSteps(3)}'), 0)
                       ELSE 0 END AS r4
              FROM s3t)),
      wt AS (
        SELECT user_id, w1, w2, w3,
               w3 AND p4 > 0 AND tq[p4] - tq[p3] <= ${FunnelWindowNs} AS w4
        FROM (
          SELECT user_id, tq, p3, p4, w1, w2,
                 w2 AND p3 > 0 AND tq[p3] - tq[p2] <= ${FunnelWindowNs} AS w3
          FROM (
            SELECT user_id, tq, p2, p3, p4, w1,
                   w1 AND p2 > 0 AND tq[p2] - tq[p1] <= ${FunnelWindowNs} AS w2
            FROM (SELECT user_id, tq, p1, p2, p3, p4, p1 > 0 AS w1
                  FROM s4t)))),
      c AS (
        SELECT count(*) FILTER (w1) AS s1,
               count(*) FILTER (w2) AS s2,
               count(*) FILTER (w3) AS s3,
               count(*) FILTER (w4) AS s4
        FROM wt)
      SELECT stage_idx, stage, n_users,
             CAST(CASE WHEN s1 = 0 THEN 0
                       ELSE n_users * 10000 // s1 END AS BIGINT) AS conv_bp
      FROM (
        SELECT CAST(1 AS INTEGER) AS stage_idx, '${FunnelSteps(0)}' AS stage,
               s1 AS n_users, s1 FROM c
        UNION ALL SELECT CAST(2 AS INTEGER), '${FunnelSteps(1)}', s2, s1 FROM c
        UNION ALL SELECT CAST(3 AS INTEGER), '${FunnelSteps(2)}', s3, s1 FROM c
        UNION ALL SELECT CAST(4 AS INTEGER), '${FunnelSteps(3)}', s4, s1 FROM c)
      ORDER BY stage_idx""",

    "q_events_retention" -> s"""
      WITH w AS (
        SELECT DISTINCT user_id, epoch_ns(ts) // ${WeekNs} AS week
        FROM events),
      f AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id)
      SELECT cohort_week, week - cohort_week AS week_offset,
             CAST(count(*) AS BIGINT) AS n_users
      FROM w JOIN f USING (user_id)
      GROUP BY cohort_week, week_offset
      ORDER BY cohort_week, week_offset""",

    // The same user-keyed lag + pair counts; per-source shares by the
    // identical integer basis-point division.
    "q_events_paths" -> """
      WITH lagged AS (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts), event_id)
                 AS prev_type
        FROM events),
      pairs AS (
        SELECT prev_type, event_type, count(*) AS n
        FROM lagged WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type),
      tot AS (SELECT prev_type, sum(n) AS tot FROM pairs GROUP BY prev_type)
      SELECT prev_type, event_type, CAST(n AS BIGINT) AS n,
             CAST(n * 10000 // tot AS BIGINT) AS share_bp
      FROM pairs JOIN tot USING (prev_type)
      ORDER BY prev_type, event_type""",

    // The same pair frame; the argmax as a rank-1 window (the oracle
    // may window freely — the no-global-window rule pins SPARK plans),
    // tie (n DESC, type ASC) matching min_by's (-n, type) key.
    "q_events_markov" -> """
      WITH lagged AS (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts), event_id)
                 AS prev_type
        FROM events),
      pairs AS (
        SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        FROM lagged WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type),
      ranked AS (
        SELECT prev_type, event_type, n,
               row_number() OVER (PARTITION BY prev_type
                                  ORDER BY n DESC, event_type) AS rk,
               CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS tot
        FROM pairs)
      SELECT prev_type, tot AS n_transitions,
             event_type AS predicted_next, n AS n_correct,
             CAST(n * 10000 // tot AS BIGINT) AS acc_bp
      FROM ranked WHERE rk = 1 ORDER BY prev_type""",

    // Identical window arithmetic: running sum of the strict-gap flag
    // is the session ordinal (ties impossible — event_id is unique, so
    // the default RANGE frame equals ROWS in both engines).
    "q_events_sessions" -> s"""
      WITH g AS (
        SELECT user_id, epoch_ns(ts) AS ts_ns,
               epoch_ns(ts) - lag(epoch_ns(ts)) OVER
                 (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                 AS gap, event_id
        FROM events),
      s AS (
        SELECT user_id, ts_ns,
               sum(CASE WHEN gap IS NULL OR gap > ${SessionGapNs}
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id
                       ORDER BY ts_ns, event_id) AS sess
        FROM g),
      per AS (
        SELECT user_id, sess, count(*) AS n_events,
               max(ts_ns) - min(ts_ns) AS dur_ns
        FROM s GROUP BY user_id, sess)
      SELECT least(n_events, ${SessionBucketCap}) AS bucket,
             CAST(count(*) AS BIGINT) AS n_sessions,
             CAST(sum(n_events) AS BIGINT) AS n_events_total,
             CAST(sum(dur_ns) AS BIGINT) AS dur_ns_total
      FROM per GROUP BY bucket ORDER BY bucket""",

    // The cover-explode replay: each (user, day) covers days d..d+6;
    // phantom days past the observed range drop on the DAU inner join.
    "q_events_active" -> s"""
      WITH ud AS (
        SELECT DISTINCT user_id, epoch_ns(ts) // ${DayNs} AS day
        FROM events),
      dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
      cov AS (
        SELECT DISTINCT user_id, day + ofs AS day
        FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS ofs)),
      wau AS (SELECT day, count(*) AS wau7 FROM cov GROUP BY day)
      SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau7 AS BIGINT) AS wau7
      FROM dau JOIN wau USING (day)
      ORDER BY day""",

    // Two lags over the same total order; argmax as rank-1 window,
    // tie matching min_by's (-n, type) key.
    "q_events_markov2" -> """
      WITH lagged AS (
        SELECT event_type,
               lag(event_type, 1) OVER w AS prev1,
               lag(event_type, 2) OVER w AS prev2
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY epoch_ns(ts), event_id)),
      tri AS (
        SELECT prev2, prev1, event_type, CAST(count(*) AS BIGINT) AS n
        FROM lagged WHERE prev2 IS NOT NULL
        GROUP BY prev2, prev1, event_type),
      ranked AS (
        SELECT prev2, prev1, event_type, n,
               row_number() OVER (PARTITION BY prev2, prev1
                                  ORDER BY n DESC, event_type) AS rk,
               CAST(sum(n) OVER (PARTITION BY prev2, prev1) AS BIGINT)
                 AS tot
        FROM tri)
      SELECT prev2, prev1, tot AS n_transitions,
             event_type AS predicted_next, n AS n_correct,
             CAST(n * 10000 // tot AS BIGINT) AS acc_bp
      FROM ranked WHERE rk = 1 ORDER BY prev2, prev1""",

    // Both rank-1 frames off ONE two-lag pass, joined on prev1.
    "q_events_markov_gain" -> """
      WITH lagged AS (
        SELECT event_type,
               lag(event_type, 1) OVER w AS prev1,
               lag(event_type, 2) OVER w AS prev2
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY epoch_ns(ts), event_id)),
      p1 AS (
        SELECT prev1, event_type, CAST(count(*) AS BIGINT) AS n
        FROM lagged WHERE prev1 IS NOT NULL GROUP BY prev1, event_type),
      r1 AS (
        SELECT prev1, CAST(n * 10000 //
                 (CAST(sum(n) OVER (PARTITION BY prev1) AS BIGINT))
                 AS BIGINT) AS acc1_bp,
               row_number() OVER (PARTITION BY prev1
                                  ORDER BY n DESC, event_type) AS rk
        FROM p1),
      tri AS (
        SELECT prev2, prev1, event_type, CAST(count(*) AS BIGINT) AS n
        FROM lagged WHERE prev2 IS NOT NULL
        GROUP BY prev2, prev1, event_type),
      r2 AS (
        SELECT prev2, prev1,
               CAST(sum(n) OVER (PARTITION BY prev2, prev1) AS BIGINT)
                 AS n_transitions,
               CAST(n * 10000 //
                 (CAST(sum(n) OVER (PARTITION BY prev2, prev1) AS BIGINT))
                 AS BIGINT) AS acc2_bp,
               row_number() OVER (PARTITION BY prev2, prev1
                                  ORDER BY n DESC, event_type) AS rk
        FROM tri)
      SELECT r2.prev2, r2.prev1, r2.n_transitions, r1.acc1_bp,
             r2.acc2_bp, CAST(r2.acc2_bp - r1.acc1_bp AS BIGINT)
               AS gain_bp
      FROM r2 JOIN r1 ON r2.prev1 = r1.prev1 AND r1.rk = 1
      WHERE r2.rk = 1 ORDER BY r2.prev2, r2.prev1""",

    // Same epoch-day arithmetic — no engine calendar consulted.
    "q_events_dow" -> s"""
      WITH per AS (
        SELECT event_type,
               CAST((epoch_ns(ts) // ${DayNs} + 4) % 7 AS INTEGER) AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
              FROM per GROUP BY event_type)
      SELECT event_type, dow, n,
             CAST(n * 10000 // tot AS BIGINT) AS share_bp
      FROM per JOIN tot USING (event_type)
      ORDER BY event_type, dow""",

    // The rolling-actives contribution trick at the 30-day horizon;
    // the inner join drops phantom tail days in both engines.
    "q_events_stickiness" -> s"""
      WITH ud AS (
        SELECT DISTINCT user_id, epoch_ns(ts) // ${DayNs} AS day
        FROM events),
      dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
              FROM ud GROUP BY day),
      cov AS (
        SELECT DISTINCT user_id, day + ofs AS day
        FROM ud CROSS JOIN (SELECT unnest(range(0, 30)) AS ofs)),
      mau AS (SELECT day, CAST(count(*) AS BIGINT) AS mau30
              FROM cov GROUP BY day)
      SELECT day, dau, mau30,
             CAST(dau * 10000 // mau30 AS BIGINT) AS stickiness_bp
      FROM dau JOIN mau USING (day)
      ORDER BY day""",

    // The same cleared-denominator k·σ compare: both engines evaluate
    // the two BIGINTs (w·n − S)² and k²·(w·Q − S²) over the identical
    // ROWS trailing frame (days are distinct per type, so the ordering
    // is total); strict > in both. CASTs pin DuckDB's HUGEINT window
    // sums back to Spark's LongType.
    "q_events_anomaly" -> s"""
      WITH d AS (
        SELECT event_type, epoch_ns(ts) // ${DayNs} AS day, count(*) AS n
        FROM events GROUP BY 1, 2),
      w AS (
        SELECT event_type, day, n,
               count(*)   OVER tw AS wn,
               sum(n)     OVER tw AS s,
               sum(n * n) OVER tw AS q
        FROM d
        WINDOW tw AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN ${AnomalyWindow} PRECEDING
                           AND 1 PRECEDING))
      SELECT event_type, day, CAST(n AS BIGINT) AS n,
             CAST((${AnomalyWindow}*n - s)*(${AnomalyWindow}*n - s)
                  AS BIGINT) AS dev2,
             CAST(${AnomalyK * AnomalyK}*(${AnomalyWindow}*q - s*s)
                  AS BIGINT) AS bound,
             CAST((${AnomalyWindow}*n - s)*(${AnomalyWindow}*n - s)
                    > ${AnomalyK * AnomalyK}*(${AnomalyWindow}*q - s*s)
                  AS INT) AS is_anomaly
      FROM w WHERE wn = ${AnomalyWindow}
      ORDER BY event_type, day""",

    // The PrIters=3 fixed-point iterations unrolled as CTE pairs (the
    // Lloyd/BPE unroll pattern): per-edge truncating contribution
    // r·wt // out FIRST, then the damped sum — every operand
    // nonnegative, so DuckDB's floor // equals Spark's div.
    "q_events_pagerank" -> s"""
      WITH lagged AS (
        SELECT event_type AS dst,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts), event_id)
                 AS src
        FROM events),
      edges AS (
        SELECT src, dst, count(*) AS wt
        FROM lagged WHERE src IS NOT NULL GROUP BY src, dst),
      outd AS (SELECT src, sum(wt) AS odeg FROM edges GROUP BY src),
      m AS (SELECT e.src, e.dst, e.wt, o.odeg
            FROM edges e JOIN outd o USING (src)),
      nodes AS (SELECT DISTINCT event_type FROM events),
      nn AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT event_type, ${PrScale} // n AS r
             FROM nodes CROSS JOIN nn),
      c1 AS (SELECT m.dst AS event_type, sum(r0.r * m.wt // m.odeg) AS sc
             FROM m JOIN r0 ON r0.event_type = m.src GROUP BY m.dst),
      r1 AS (SELECT nodes.event_type,
                    ${PrScale * 15 / 100} // n
                      + 85 * coalesce(sc, 0) // 100 AS r
             FROM nodes LEFT JOIN c1 USING (event_type) CROSS JOIN nn),
      c2 AS (SELECT m.dst AS event_type, sum(r1.r * m.wt // m.odeg) AS sc
             FROM m JOIN r1 ON r1.event_type = m.src GROUP BY m.dst),
      r2 AS (SELECT nodes.event_type,
                    ${PrScale * 15 / 100} // n
                      + 85 * coalesce(sc, 0) // 100 AS r
             FROM nodes LEFT JOIN c2 USING (event_type) CROSS JOIN nn),
      c3 AS (SELECT m.dst AS event_type, sum(r2.r * m.wt // m.odeg) AS sc
             FROM m JOIN r2 ON r2.event_type = m.src GROUP BY m.dst),
      r3 AS (SELECT nodes.event_type,
                    ${PrScale * 15 / 100} // n
                      + 85 * coalesce(sc, 0) // 100 AS r
             FROM nodes LEFT JOIN c3 USING (event_type) CROSS JOIN nn)
      SELECT event_type, CAST(r AS BIGINT) AS rank
      FROM r3 ORDER BY event_type""",

    // The same lag window + two-level aggregate; every compared value
    // is a count or an ns gap (BIGINTs in both engines), and the NULL
    // cadence branch coalesces to Long.Max in both. CASTs pin DuckDB's
    // HUGEINT sum back to BIGINT.
    "q_events_bots" -> s"""
      WITH g AS (
        SELECT user_id, epoch_ns(ts) // ${DayNs} AS day,
               epoch_ns(ts) - lag(epoch_ns(ts)) OVER
                 (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                 AS gap
        FROM events),
      d AS (
        SELECT user_id, day, count(*) AS dn, min(gap) AS mg
        FROM g GROUP BY user_id, day)
      SELECT user_id, CAST(sum(dn) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS active_days,
             CAST(max(dn) AS BIGINT) AS max_day_n,
             CAST(min(mg) AS BIGINT) AS min_gap_ns,
             CAST(max(dn) > ${BotDayCap} OR
                  coalesce(min(mg), ${Long.MaxValue}) < ${BotMinGapNs}
                  AS INT) AS is_bot
      FROM d GROUP BY user_id ORDER BY user_id""",

    // The same count-aggregated cumulative rank selection; gap_ms
    // values are distinct per pair after the GROUP BY, so the default
    // RANGE cumulative frame equals ROWS in both engines; all rank
    // arithmetic is nonnegative integer div (// == div).
    "q_events_dwell" -> s"""
      WITH g AS (
        SELECT event_type,
               lag(event_type) OVER w AS prev_type,
               epoch_ns(ts) - lag(epoch_ns(ts)) OVER w AS gap_ns
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY epoch_ns(ts), event_id)),
      d AS (
        SELECT prev_type, event_type AS dst,
               gap_ns // ${DwellMsNs} AS gap_ms, count(*) AS c
        FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2, 3),
      t AS (SELECT prev_type, dst, sum(c) AS tot FROM d GROUP BY 1, 2),
      cu AS (
        SELECT d.prev_type, d.dst, d.gap_ms, d.c, t.tot,
               sum(d.c) OVER (PARTITION BY d.prev_type, d.dst
                              ORDER BY d.gap_ms) AS cum
        FROM d JOIN t USING (prev_type, dst))
      SELECT prev_type, dst AS event_type,
             CAST(max(tot) AS BIGINT) AS n,
             CAST(min(CASE WHEN cum >= (tot - 1) // 2 + 1
                           THEN gap_ms END) AS BIGINT) AS p50_gap_ms,
             CAST(min(CASE WHEN cum >= (tot - 1) * 9 // 10 + 1
                           THEN gap_ms END) AS BIGINT) AS p90_gap_ms
      FROM cu GROUP BY prev_type, dst
      ORDER BY prev_type, event_type""",

    // The same lag/lead classification over the distinct (user, day)
    // frame; churn reported on day+1 and LEFT-joined onto the observed
    // active days (the final phantom day drops in both engines); the
    // quick ratio is nonnegative truncating div with nullif on both
    // sides. CASTs pin DuckDB's HUGEINT counts back to BIGINT.
    "q_events_growth" -> s"""
      WITH ud AS (
        SELECT DISTINCT user_id, epoch_ns(ts) // ${DayNs} AS day
        FROM events),
      st AS (
        SELECT user_id, day,
               lag(day)  OVER uw AS prev,
               lead(day) OVER uw AS next
        FROM ud
        WINDOW uw AS (PARTITION BY user_id ORDER BY day)),
      status AS (
        SELECT day,
               count(CASE WHEN prev IS NULL THEN 1 END) AS n_new,
               count(CASE WHEN prev = day - 1 THEN 1 END) AS n_retained,
               count(CASE WHEN prev < day - 1 THEN 1 END) AS n_resurrected
        FROM st GROUP BY day),
      churn AS (
        SELECT day + 1 AS day, count(*) AS n_churned_raw
        FROM st WHERE next IS NULL OR next > day + 1
        GROUP BY day + 1),
      mx AS (SELECT max(day) AS max_day FROM st)
      SELECT day, CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
             CAST(coalesce(n_retained, 0) AS BIGINT) AS n_retained,
             CAST(coalesce(n_resurrected, 0) AS BIGINT) AS n_resurrected,
             CAST(coalesce(n_churned_raw, 0) AS BIGINT) AS n_churned,
             CAST((coalesce(n_new, 0) + coalesce(n_resurrected, 0)) * 10000
                    // nullif(coalesce(n_churned_raw, 0), 0)
                  AS BIGINT) AS quick_ratio_bp
      FROM status s FULL JOIN churn c USING (day), mx
      WHERE day <= max_day
      ORDER BY day""",

    // The same distinct (user, type) self-join with the a < b pair
    // dedup; support and lift both nonnegative truncating div; CASTs
    // pin HUGEINT products back to BIGINT.
    "q_events_affinity" -> """
      WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      tot AS (SELECT event_type, count(*) AS nu FROM ut GROUP BY 1),
      uu AS (SELECT count(DISTINCT user_id) AS u FROM ut),
      co AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS co_users
        FROM ut a JOIN ut b USING (user_id)
        WHERE a.event_type < b.event_type
        GROUP BY 1, 2)
      SELECT type_a, type_b, CAST(co_users AS BIGINT) AS co_users,
             CAST(ta.nu AS BIGINT) AS nu_a, CAST(tb.nu AS BIGINT) AS nu_b,
             CAST(co_users * 10000 // u AS BIGINT) AS support_bp,
             CAST(co_users * u * 10000 // (ta.nu * tb.nu)
                  AS BIGINT) AS lift_bp
      FROM co
      JOIN tot ta ON ta.event_type = co.type_a
      JOIN tot tb ON tb.event_type = co.type_b
      CROSS JOIN uu
      ORDER BY type_a, type_b""",

    // The min_by struct order replayed as a row_number window (the
    // (epoch_ns, event_id) pair is unique, so both selections are the
    // same row); conversion as a max-indicator per user; nonnegative
    // truncating div for the rate.
    "q_events_attribution" -> s"""
      WITH o AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_ns(ts), event_id) AS rn,
               max(CASE WHEN event_type = '${ConvType}' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id) AS conv
        FROM events)
      SELECT event_type AS first_type,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(conv) AS BIGINT) AS n_converted,
             CAST(sum(conv) * 10000 // count(*) AS BIGINT) AS conv_bp
      FROM o WHERE rn = 1
      GROUP BY event_type
      ORDER BY first_type""",
  )
}
