package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Recurrences

/** Streaming surface over the `events` table (SURVEY.md §2.10; the
  * reference predates Structured Streaming, the north star requires
  * it).
  *
  * Every transform here takes a DataFrame and works identically on a
  * batch read and a `readStream` — the same logical plan, incremental
  * execution. Tests drive them through `MemoryStream` (see
  * StreamingSpec); the batch twins are oracle-checked as `evt_*`
  * queries in SparkEntry.
  */
object EventStreams extends Serializable {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, sum_value: Double)

  /** Tumbling-window counts with late-data drop: watermark + window
    * aggregation, the canonical streaming aggregate. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding-window counts. */
  def slidingCounts(events: DataFrame, window_ : String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_events"))

  /** Gap-based session windows via the built-in `session_window`
    * (works in batch too; the batch twin of evt_sessionize). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Stateful exactly-once dedup on event_id within the watermark —
    * the streaming guard for at-least-once sources. */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** Stream-stream inner join: each purchase matched to the same
    * user's signups within the trailing `maxAgeSeconds` window.
    *
    * Both inputs carry a watermark and the join condition bounds
    * `signup_ts` to [purchase_ts - maxAge, purchase_ts], which is what
    * lets Structured Streaming EXPIRE buffered join state — an
    * unbounded-state stream join (equi-key only, no time bound) grows
    * forever on a 100 TB/day feed. Works identically as a batch join
    * (the oracle-checked `evt_stream_join` twin).
    *
    * `joinType = "leftOuter"` is the standard ATTRIBUTION semantics:
    * purchases with no signup in the window still emit, NULL-extended,
    * once the signup-side watermark passes the purchase's window (the
    * state-expiry emission Structured Streaming defines for outer
    * stream-stream joins — supported because both sides are
    * watermarked AND the condition time-bounds the match). Batch twin
    * `evt_stream_join_outer` is the plain left join.
    *
    * `joinType = "fullOuter"` additionally emits signups that never
    * converted (no purchase in their forward window) — the audit view
    * of the same join; `user_id` coalesces from whichever side is
    * present. Batch twin `evt_stream_join_full`. */
  def purchaseAttribution(purchases: DataFrame, signups: DataFrame,
      maxAgeSeconds: Long = 7L * 24 * 3600,
      watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
    val s = signups
      .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"),
        col("value").as("signup_value"))
      .withWatermark("signup_ts", watermark)
    p.join(s, col("user_id") === col("s_user_id")
        && col("signup_ts") <= col("ts")
        && col("signup_ts") >= col("ts") - expr(s"INTERVAL $maxAgeSeconds SECONDS"),
        joinType)
      .withColumn("user_id", coalesce(col("user_id"), col("s_user_id")))
      .drop("s_user_id")
  }

  /** Stream-static enrichment: join a watermarked event stream
    * against a STATIC dimension table — the most common production
    * streaming join (enrich clicks with user/account attributes). No
    * state at all: the static side broadcasts (or re-scans per
    * micro-batch past the threshold) and rows join map-side, so this
    * scales with the stream's arrival rate, not with history. The
    * static side is re-resolved per batch for file sources, which is
    * what makes slowly-refreshed dim snapshots pick up automatically.
    * Left join keeps unmatched events (an enrichment must not drop
    * traffic); batch twin `evt_enrich_static` is oracle-checked.
    * `tsCol` names the event-time column the watermark rides on
    * (default "ts", the [[Event]] schema). */
  def enrichStatic(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String, watermark: String = "2 hours",
      tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .join(dim, col(eventKey) === col(dimKey), "left")

  /** Custom stateful sessionization with `flatMapGroupsWithState` —
    * the escape hatch when session semantics outgrow session_window
    * (e.g. cross-field session keys, value-dependent gaps).
    *
    * Correct multi-batch semantics: each invocation merges the new
    * micro-batch's events into the sessions carried in GroupState, then
    * emits ONLY sessions closed by the event-time watermark (no more
    * events can join them); still-open sessions stay in state with an
    * event-time timeout at `last + gap`, so a user who goes quiet gets
    * their final session flushed when the watermark passes the gap.
    * Append-mode output therefore contains each session exactly once.
    *
    * Late events that re-open or extend a watermark-closed session are
    * dropped with the watermark, as in every watermarked aggregation. */
  def sessionizeStateful(events: Dataset[Event], gapSeconds: Long = 1800,
      watermark: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._

    def close(userId: Long)(s: SessState): SessionOut =
      SessionOut(userId, new java.sql.Timestamp(s.start * 1000), s.n, s.sum)

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[Seq[SessState]]): Iterator[SessionOut] = {
      // merge: resume from the open sessions in state (most recent at
      // head), fold in this batch's events in event-time order (on a
      // timeout invocation `rows` is empty — same logic applies)
      val evs = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val prior = state.getOption.getOrElse(Seq.empty).toList
      val sessions = evs.foldLeft(prior) { (acc, e) =>
        val t = e.ts.getTime / 1000
        acc match {
          case h :: tl if t - h.last <= gapSeconds && t >= h.start =>
            SessState(h.start, math.max(h.last, t), h.n + 1, h.sum + e.value) :: tl
          case _ => SessState(t, t, 1, e.value) :: acc
        }
      }
      // emit only sessions the watermark has sealed (no event that
      // could still arrive may join them); keep the rest in state with
      // a timeout at the earliest possible close
      val wmSec = state.getCurrentWatermarkMs() / 1000
      val (open, closed) = sessions.partition(s => s.last + gapSeconds > wmSec)
      if (open.nonEmpty) {
        state.update(open)
        state.setTimeoutTimestamp(open.map(s => s.last + gapSeconds).min * 1000)
      } else {
        state.remove()
      }
      closed.reverse.iterator.map(close(userId))
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  case class SessState(start: Long, last: Long, n: Long, sum: Double)

  case class FunnelOut(user_id: Long, steps_completed: Int,
      first_step_ts: java.sql.Timestamp)

  /** Streaming funnel — the stateful twin of [[funnel]] with the
    * bounded-completion contract a stream needs: a user's funnel is
    * the min-chain over their events in `[t1, t1 + horizonSeconds]`
    * (t1 = their earliest step-1 event), finalized and emitted EXACTLY
    * ONCE when the event-time watermark passes `t1 + horizon` (every
    * event that could still influence the chain has arrived). Unbounded
    * all-history funnels don't stream — the horizon is what bounds
    * state.
    *
    * EPISODE semantics: one output row per funnel EPISODE, not per
    * user-forever. A step-1 event arriving after a sealed episode's
    * horizon anchors a NEW episode (sealing retains the buffered
    * events past the horizon, so an early-arrived next burst is not
    * lost). Matching batch [[funnel]]'s one-row-per-user output
    * exactly would require a per-user tombstone retained FOREVER —
    * unbounded state, the thing a stream cannot hold; the batch twin
    * equals episode #1 per user, which is what the driver-graded
    * replay gate compares (`evt_funnel_stateful_replay`).
    *
    * State per user = the buffered step events still relevant:
    * pre-t1 events older than the watermark are pruned every
    * invocation (no step-1 event can arrive below the watermark to
    * make them eligible), so state is O(events within horizon).
    * Late events inside the watermark are handled exactly — a late
    * step-1 event can pull t1 back and re-qualify buffered events,
    * which is why events buffer until the seal instead of folding
    * incrementally. */
  def funnelStateful(events: Dataset[Event], steps: Seq[String],
      horizonSeconds: Long = 24 * 3600,
      watermark: String = "2 hours"): Dataset[FunnelOut] = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps (got $steps)")
    import events.sparkSession.implicits._
    val stepSet = steps.toSet

    def seal(userId: Long, evs: Seq[(Long, String)], t1: Long): FunnelOut = {
      val inWin = evs.filter(e => e._1 >= t1 && e._1 <= t1 + horizonSeconds * 1000)
      val chain = steps.tail.scanLeft(Option(t1)) { (prev, step) =>
        prev.flatMap { p =>
          val cand = inWin.filter(e => e._2 == step && e._1 >= p)
          if (cand.isEmpty) None else Some(cand.map(_._1).min)
        }
      }
      FunnelOut(userId, chain.count(_.isDefined),
        new java.sql.Timestamp(t1))
    }

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[Seq[(Long, String)]]): Iterator[FunnelOut] = {
      val fresh = rows.filter(e => stepSet.contains(e.event_type))
        .map(e => (e.ts.getTime, e.event_type)).toSeq
      val wmMs = state.getCurrentWatermarkMs()
      val buffered = state.getOption.getOrElse(Seq.empty) ++ fresh
      val t1 = buffered.filter(_._2 == steps.head).map(_._1).minOption
      t1 match {
        case Some(t) if wmMs > t + horizonSeconds * 1000 =>
          // sealed: no event below the watermark can arrive, and
          // everything at or after it is outside this episode's
          // horizon. Events PAST the horizon belong to the next
          // episode — retain them (dropping them would lose an
          // early-arrived burst that follows this one).
          val carry = buffered.filter(_._1 > t + horizonSeconds * 1000)
          if (carry.isEmpty) state.remove()
          else {
            state.update(carry)
            val nextT1 = carry.filter(_._2 == steps.head).map(_._1).minOption
            state.setTimeoutTimestamp(math.max(nextT1
              .getOrElse(carry.map(_._1).max) + horizonSeconds * 1000, wmMs) + 1)
          }
          Iterator.single(seal(userId, buffered, t))
        case Some(t) =>
          // bounded state: keep everything at or after t1 — the
          // in-window events this episode seals with AND any
          // post-horizon events (they are the NEXT episode's burst;
          // dropping them here would lose an early-arrived follow-up,
          // the exact miss the two-episode StreamingSpec case pins) —
          // plus pre-t1 events a late (within-watermark) step-1
          // arrival could still re-qualify. Only pre-t1 events below
          // the watermark are gone forever (t1 only moves earlier,
          // and no step-1 event can arrive below the watermark).
          val keep = buffered.filter(e => e._1 >= t || e._1 >= wmMs)
          state.update(keep)
          // fire when the horizon seals (+1ms: timeout must exceed wm)
          state.setTimeoutTimestamp(math.max(t + horizonSeconds * 1000, wmMs) + 1)
          Iterator.empty
        case None =>
          // no funnel start yet: events below the watermark can never
          // become eligible (a qualifying step-1 event would need
          // ts <= theirs <= wm — impossible now) — prune them
          val keep = buffered.filter(_._1 >= wmMs)
          if (keep.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(keep)
            state.setTimeoutTimestamp(keep.map(_._1).max + horizonSeconds * 1000 + 1)
          }
          Iterator.empty
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Ordered funnel analysis: for each user, the earliest timestamp at
    * which each successive step was completed, where step i counts
    * only at-or-after the user's step i-1 completion time (`>=`, so
    * simultaneous events — same-batch logging — advance the funnel).
    * A user appears iff they completed step 1; later columns are NULL
    * from the first step not reached. The min-chain formulation is
    * order-free (pure inequalities, no processing-order dependence),
    * so any engine replays it exactly.
    *
    * Scale: each stage filters to ONE event type (predicate pushed to
    * the scan) and joins/aggregates on the user key; every exchange
    * hash-partitions on `userCol`, so Spark reuses the first stage's
    * partitioning instead of re-shuffling the chain. */
  def funnel(events: DataFrame, steps: Seq[String], userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type"): DataFrame = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps (got $steps)")
    val s0 = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t1"))
    steps.tail.zipWithIndex.foldLeft(s0) { case (acc, (step, i)) =>
      val prevT = s"t${i + 1}"
      val evs = events.filter(col(typeCol) === step)
        .select(col(userCol), col(tsCol).as("__ts"))
      // prior stage times are constant per user after the join, so
      // min() reproduces them exactly while keeping the group key
      // minimal (the user id alone)
      val priors = (1 to i + 1).map(j => min(col(s"t$j")).as(s"t$j"))
      acc.join(evs, Seq(userCol), "left")
        .groupBy(col(userCol))
        .agg(priors.head, priors.tail :+
          min(when(col("__ts") >= col(prevT), col("__ts"))).as(s"t${i + 2}"): _*)
    }
  }

  /** Growth accounting — the canonical product-analytics monthly
    * decomposition (every MAU curve should be read this way): each
    * (user, active-month) classifies as NEW (first month ever),
    * RETAINED (also active the previous month) or RESURRECTED (active
    * before, but not last month); CHURNED for month m counts users
    * active in m−1 but not m (attributed to the month the user went
    * dark, the standard convention — the final data month therefore
    * shows no churn from itself). Identity: MAU(m) = new + retained +
    * resurrected, and retained(m) = MAU(m−1) − churned(m).
    *
    * Exact by construction — calendar-month truncation and
    * `add_months` comparisons only, no epoch arithmetic — so the
    * table replays on any engine. Scale: one row-scale distinct to
    * (user, month) pairs (MAU-scale from there), one user-keyed
    * window for lag/lead, month-grid output. */
  def growthAccounting(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val um = events.select(col(userCol).as("u"),
        date_trunc("month", col(tsCol)).cast("date").as("m"))
      .distinct()
    val w = Window.partitionBy(col("u")).orderBy(col("m"))
    val lagged = um
      .withColumn("__prev", lag(col("m"), 1).over(w))
      .withColumn("__next", lead(col("m"), 1).over(w))
    val active = lagged.withColumn("__status",
      when(col("__prev").isNull, lit("new"))
        .when(add_months(col("__prev"), 1) === col("m"), lit("retained"))
        .otherwise(lit("resurrected")))
    val maxMonth = um.agg(max(col("m")).as("__maxm"))
    // a user churns in m+1 when m+1 is inside the data range and the
    // next activity is not m+1
    val churn = lagged.crossJoin(broadcast(maxMonth)) // 1-row horizon
      .filter(add_months(col("m"), 1) <= col("__maxm") &&
        (col("__next").isNull || col("__next") =!= add_months(col("m"), 1)))
      .select(add_months(col("m"), 1).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("n_churned"))
    // FULL outer: a month can have churn but zero actives (everyone
    // went dark) — dropping that row would hide the worst month
    active.groupBy(col("m"))
      .agg(sum(when(col("__status") === "new", 1L).otherwise(0L))
          .cast("bigint").as("n_new"),
        sum(when(col("__status") === "retained", 1L).otherwise(0L))
          .cast("bigint").as("n_retained"),
        sum(when(col("__status") === "resurrected", 1L).otherwise(0L))
          .cast("bigint").as("n_resurrected"))
      .join(churn, Seq("m"), "full")
      .select(col("m").as("month"),
        coalesce(col("n_new"), lit(0L)).cast("bigint").as("n_new"),
        coalesce(col("n_retained"), lit(0L)).cast("bigint").as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).cast("bigint")
          .as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).cast("bigint").as("n_churned"))
      .orderBy(col("month"))
  }

  /** Cohort revenue triangle — the LTV table next to
    * [[growthAccounting]]'s flow decomposition: users cohort by their
    * FIRST active month; every later active month contributes at
    * `age = months since cohort`; the (cohort, age) cell reports
    * distinct actives and summed integer revenue. Reading a row
    * across is one cohort's lifetime curve; reading a diagonal is a
    * calendar month. Month age is computed as `year·12 + month`
    * differences — pure calendar integers, engine-exact. Scale: one
    * row-scale pass to (user, month, cents), a user-keyed min for the
    * cohort, one (cohort, age) hash-agg. */
  def cohortRevenue(events: DataFrame, userCol: String, tsCol: String,
      revenueExpr: Column): DataFrame = {
    val um = events.select(col(userCol).as("u"),
        date_trunc("month", col(tsCol)).cast("date").as("m"),
        revenueExpr.cast("long").as("__r"))
      .groupBy(col("u"), col("m"))
      .agg(sum(col("__r")).as("__rev"))
    val cohorts = um.groupBy(col("u")).agg(min(col("m")).as("__c"))
    um.join(cohorts, "u")
      .withColumn("age_months",
        (year(col("m")) * 12 + month(col("m"))) -
          (year(col("__c")) * 12 + month(col("__c"))))
      .groupBy(col("__c").as("cohort_month"), col("age_months"))
      .agg(count(lit(1)).cast("bigint").as("n_active"),
        sum(col("__rev")).cast("bigint").as("revenue"))
      .orderBy(col("cohort_month"), col("age_months"))
  }

  /** Time-bounded funnel — [[funnel]] with the completion DEADLINE
    * real funnel products enforce: every later stage must land within
    * `windowSeconds` of the user's FIRST stage-1 event (entry-anchored
    * window, the standard convention), not merely after the previous
    * stage. Same min-chain inequality semantics — order-free, exactly
    * replayable — with one extra predicate per stage; the unbounded
    * form is the `windowSeconds = ∞` limit. Same scale shape as
    * [[funnel]]: one user-keyed aggregate per stage, no windows. */
  def funnelWindowed(events: DataFrame, steps: Seq[String],
      windowSeconds: Long, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type"): DataFrame = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps (got $steps)")
    require(windowSeconds > 0, s"windowSeconds must be > 0 (got $windowSeconds)")
    val s0 = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t1"))
    steps.tail.zipWithIndex.foldLeft(s0) { case (acc, (step, i)) =>
      val prevT = s"t${i + 1}"
      val evs = events.filter(col(typeCol) === step)
        .select(col(userCol), col(tsCol).as("__ts"))
      val priors = (1 to i + 1).map(j => min(col(s"t$j")).as(s"t$j"))
      acc.join(evs, Seq(userCol), "left")
        .groupBy(col(userCol))
        .agg(priors.head, priors.tail :+
          min(when(col("__ts") >= col(prevT) &&
            col("__ts") <= col("t1") +
              expr(s"INTERVAL $windowSeconds SECONDS"),
            col("__ts"))).as(s"t${i + 2}"): _*)
    }
  }

  /** Top-k event PATHS: each user's first `pathLen` event types in
    * (tsCol, tieCol) order joined into one path string, counted
    * across users, top `k` by frequency — the "what do new users
    * actually do" companion to [[funnel]] (which checks ONE
    * prescribed order; this discovers the orders that exist). Users
    * with fewer than pathLen events count under their shorter path.
    *
    * `tieCol` must break ts ties deterministically (an event id); a
    * tie left ambiguous would make the path string partition-order
    * dependent. One keyed shuffle for the per-user window, one tiny
    * (path, count) aggregation, and a TakeOrderedAndProject top-k —
    * no global sort of users at any scale. */
  def topPaths(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String, pathLen: Int = 3,
      k: Int = 20): DataFrame = {
    require(pathLen >= 1 && k >= 1, s"pathLen/k must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= pathLen)
      .groupBy(col(userCol))
      .agg(concat_ws(" > ", transform(
        array_sort(collect_list(struct(col("__rn"), col(typeCol)))),
        s => s.getField(typeCol))).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)
  }

  // ============ per-type sequential folds and their streaming twins ============

  /** Persistent state of a watermark-sealed streaming twin: the fold's
    * own state plus the unsealed tail (events above the watermark), one
    * class for every twin [[sealedFold]] runs.
    *
    * CHECKPOINT COMPATIBILITY: this class replaced the per-twin buffers
    * (EwmaBuffer, CusumBuffer, IncBuffer, HoltBuffer, VolBuffer,
    * KalmanBuffer), whose state field was named after the twin
    * (`ewma`, `cusum`, `inc`, `holt`, `vol`, `kal`) where this one says
    * `state`. A query restarted from a checkpoint written before that
    * change fails to decode its state (state-encoder schema change).
    * Restart such a query with a FRESH checkpoint (and a replayable
    * source offset) — the state rebuilds from the stream; there is no
    * in-place migration. */
  case class SealedBuffer[S](state: S, buffered: Seq[Event])

  /** The batch form of a twin: one shuffle on `event_type`, each
    * type's events sorted by (ts, event_id) — the replayable total
    * order — and folded from `init` by the twin's `fold`.
    *
    * Scale: one key shuffle, then a per-group in-memory sort + fold
    * (`flatMapGroups` — a genuine sequential recurrence has no
    * windowed-SQL form). Group = one event_type's history: at 100 TB,
    * key it by (type, shard-date) or a similar bounded episode; the
    * streaming twin holds the fold state forever in O(1) per key and
    * never re-sorts history. */
  private def batchFold[S, O: Encoder](events: Dataset[Event], init: S)(
      fold: (String, Seq[Event], S) => (S, Seq[O])): Dataset[O] =
    events.groupByKey(_.event_type)(Encoders.STRING).flatMapGroups {
      (k, it) =>
        fold(k, it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)), init)
          ._2.iterator
    }

  /** The watermark-sealed streaming form of a twin: events BUFFER per
    * `event_type` until the event-time watermark seals them (no
    * earlier event can still arrive), then fold into the persistent
    * state in (ts, event_id) order — the batch form's order — and emit
    * exactly once. Per invocation:
    *  - events arriving BELOW the watermark (true stragglers and
    *    at-least-once redeliveries — their position in the fold is
    *    already spoken for) are dropped;
    *  - an at-least-once redelivery can also arrive while its event is
    *    still ABOVE the watermark; it would sit in the buffer NEXT TO
    *    its first copy and fold twice once sealed, so the buffer is
    *    deduplicated by event_id (first copy wins — duplicates are
    *    identical payloads under at-least-once semantics);
    *  - the sealed part folds, the open part stays buffered, and the
    *    timeout wakes the key when its earliest open event seals.
    * Both redeliveries are therefore no-ops, and the sealed output
    * equals [[batchFold]] with the same `fold` over the on-time corpus
    * — the `evt_*_replay` gates pin it per twin. */
  private def sealedFold[S, O](events: Dataset[Event], watermark: String,
      init: S)(fold: (String, Seq[Event], S) => (S, Seq[O]))(
      implicit bufferEnc: Encoder[SealedBuffer[S]],
      outEnc: Encoder[O]): Dataset[O] = {
    def fn(key: String, rows: Iterator[Event],
        state: GroupState[SealedBuffer[S]]): Iterator[O] = {
      val prior = state.getOption.getOrElse(SealedBuffer(init, Seq.empty))
      val wmMs = state.getCurrentWatermarkMs()
      val fresh = rows.filter(_.ts.getTime > wmMs).toSeq
      val (ripe, open) = (prior.buffered ++ fresh)
        .distinctBy(_.event_id)
        .partition(_.ts.getTime <= wmMs)
      val (st, out) = fold(key,
        ripe.sortBy(e => (e.ts.getTime, e.event_id)), prior.state)
      state.update(SealedBuffer(st, open))
      if (open.nonEmpty)
        state.setTimeoutTimestamp(open.map(_.ts.getTime).min + 1)
      out.iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  // ================== streaming EWMA anomaly scoring ==================

  case class EwmaOut(event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value: Double, zscore: Double,
      is_anomaly: Boolean)
  case class EwmaState(mean: Double, variance: Double, n: Long)

  /** One EWMA step of the twin's fold, which [[batchFold]] and
    * [[sealedFold]] both run — replay identity between the two forms
    * is a property of this being the only fold either path runs, over
    * the same (ts, event_id) order: identical IEEE operations in
    * identical order give bit-identical doubles. Score first (against
    * the baseline EXCLUDING the current event — an outlier must not
    * dampen its own z-score), then fold
    * the value in (West 1979's incremental EW variance). The first
    * observation seeds the mean (no phantom zero baseline). */
  private def ewmaStep(s: EwmaState, x: Double, alpha: Double,
      minN: Long, threshold: Double): (EwmaState, Double, Boolean) = {
    if (s.n == 0L) (EwmaState(x, 0.0, 1L), 0.0, false)
    else {
      val diff = x - s.mean
      val scorable = s.n >= minN && s.variance > 0.0
      val z = if (scorable) diff / math.sqrt(s.variance) else 0.0
      val anomaly = scorable && math.abs(z) >= threshold
      val incr = alpha * diff
      (EwmaState(s.mean + incr,
        (1.0 - alpha) * (s.variance + diff * incr), s.n + 1), z, anomaly)
    }
  }

  private def foldOrdered(key: String, evs: Seq[Event], st0: EwmaState,
      alpha: Double, minN: Long, threshold: Double): (EwmaState, Seq[EwmaOut]) = {
    var st = st0
    val out = evs.map { e =>
      val (s2, z, a) = ewmaStep(st, e.value, alpha, minN, threshold)
      st = s2
      EwmaOut(key, e.event_id, e.ts, e.value, z, a)
    }
    (st, out)
  }

  /** Multi-touch attribution — the marketing-analytics workhorse the
    * funnel family feeds: for each CONVERSION event, find the user's
    * touch events (types in `touchTypes`) inside the lookback window
    * ending at the conversion, and credit them under three standard
    * models at once: first-touch, last-touch, and linear. Credits are
    * integer MICRO-UNITS per conversion (1 conversion = 1 000 000
    * micro-credits): linear gives each touch `10⁶ div k` and the LAST
    * touch the remainder, so per-conversion credit sums to exactly
    * 10⁶ under every model and the totals replay engine-for-engine
    * (no fractional 1/k doubles). Touch order is pinned by
    * (ts, event_id) — total and deterministic.
    *
    * Returns per channel: n_touches (attributed touch rows),
    * first_micros / last_micros / linear_micros (summed credits).
    * Conversions with NO in-window touch contribute nothing (the
    * "unattributed" share is the caller's `n_conversions · 10⁶ −
    * Σ credits`).
    *
    * Scale shape: one user-keyed equi-join (conversions ⋈ touches)
    * filtered by the time range — per-user fan-out is conversions ×
    * in-window touches, which the lookback bounds (that bound IS the
    * attribution semantics); then one conversion-keyed window pass
    * (count + row_number — conversions are high-cardinality, so the
    * window parallelizes) and a channel-sized hash-agg. Nothing
    * row-scale crosses an exchange after the per-touch credits. */
  def attribution(events: DataFrame, touchTypes: Seq[String],
      conversionType: String, lookbackSeconds: Long): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(lookbackSeconds > 0, s"lookbackSeconds must be > 0 (got $lookbackSeconds)")
    import org.apache.spark.sql.expressions.Window
    val conv = events.filter(col("event_type") === conversionType)
      .select(col("user_id"), col("event_id").as("__conv_id"),
        col("ts").as("__conv_ts"))
    val touch = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_type").as("channel"),
        col("ts").as("__touch_ts"), col("event_id").as("__touch_id"))
    val joined = conv.join(touch, Seq("user_id"))
      .filter(col("__touch_ts") <= col("__conv_ts") &&
        col("__touch_ts") >
          col("__conv_ts") - expr(s"INTERVAL $lookbackSeconds SECONDS"))
    val byConv = Window.partitionBy(col("__conv_id"))
    val ordered = byConv.orderBy(col("__touch_ts"), col("__touch_id"))
    val credited = joined
      .withColumn("__k", count(lit(1)).over(byConv))
      .withColumn("__rn", row_number().over(ordered))
      .withColumn("__first",
        when(col("__rn") === 1, 1000000L).otherwise(0L))
      .withColumn("__last",
        when(col("__rn") === col("__k"), 1000000L).otherwise(0L))
      // integer div/mod, NOT `/` (Spark's `/` on longs is a double
      // division); both operands non-negative so div == floor and the
      // oracle's `//` agrees
      .withColumn("__linear",
        expr("CAST(1000000 AS BIGINT) div __k") +
          when(col("__rn") === col("__k"),
            lit(1000000L) % col("__k")).otherwise(0L))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).cast("bigint").as("n_touches"),
        sum(col("__first")).cast("bigint").as("first_micros"),
        sum(col("__last")).cast("bigint").as("last_micros"),
        sum(col("__linear")).cast("bigint").as("linear_micros"))
      .orderBy(col("channel"))
  }

  /** Data-driven (Markov removal-effect) attribution — the model the
    * heuristic family ([[attribution]]'s first/last/linear) is usually
    * benchmarked against: build the first-order journey chain
    * (START → touches → CONVERSION, or DROP when the journey dies),
    * then credit each channel by how much the chain's conversion
    * probability falls when that channel is removed (its states
    * redirect to DROP) — channels that merely appear on converting
    * paths earn nothing unless removing them actually loses
    * conversions. Returns one row per channel: raw transition
    * `n_visits`, `removal_effect_micros` (relative drop ∈ [0, 10⁶])
    * and `share_micros` (effects normalized to EXACTLY 10⁶, remainder
    * to the largest-share channel, ties by channel name — the
    * integer-credit convention). When ALL removal effects are zero
    * (no channel removal loses conversions — possible on a corpus
    * where every journey converts regardless), shares are a uniform
    * split rather than all-zero, so the 10⁶ sum contract holds on
    * every input.
    *
    * Scale: journeys reduce per user (one user-keyed sort-agg; the
    * per-user event list is bounded by `maxEventsPerUser`, loudly),
    * transitions hash-agg to a CHANNEL²-sized matrix, and only that
    * matrix ever reaches the driver, where the absorbing-chain solve
    * (Gaussian elimination over channels+1 unknowns) is microseconds.
    * The solve is deterministic (fixed state order, fixed pivoting),
    * so reruns are identical; no SQL engine replays a linear solve,
    * hence the gate-plus-raw grading pattern
    * (`evt_markov_attribution_gate`). */
  def markovAttribution(events: DataFrame, touchTypes: Seq[String],
      conversionType: String,
      maxEventsPerUser: Long = 100000L): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    // type names are spliced into a SQL lambda below — refuse anything
    // that could escape the string literal rather than trying to quote
    (touchTypes :+ conversionType).foreach { t =>
      require(t.matches("[A-Za-z0-9_.\\-]+"),
        s"event type '$t' contains characters outside [A-Za-z0-9_.-] — " +
          "refusing to splice it into a SQL expression")
    }
    val spark = events.sparkSession
    import spark.implicits._
    val rel = events
      .filter(col("event_type").isin((touchTypes :+ conversionType): _*))
      .select(col("user_id").cast("long").as("u"),
        col("ts"), col("event_id").cast("long").as("eid"),
        col("event_type").as("t"))
    val worst = rel.groupBy(col("u")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()
    val worstN = if (worst.isEmpty || worst.head.isNullAt(0)) 0L
      else worst.head.getLong(0)
    require(worstN <= maxEventsPerUser,
      s"a user holds $worstN relevant events (cap $maxEventsPerUser) — " +
        "the per-user journey list would not be bounded; sessionize or " +
        "cap upstream, or raise the cap deliberately")
    // per-user journey: ordered types truncated at the FIRST
    // conversion; transitions = START→s0, sᵢ→sᵢ₊₁, tail→CONV|DROP
    val trans = rel.groupBy(col("u"))
      .agg(sort_array(collect_list(struct(col("ts"), col("eid"),
        col("t")))).as("__seq"))
      .select(explode(expr(
        s"""zip_with(
           |  concat(array('START'),
           |    transform(slice(__seq, 1,
           |      coalesce(nullif(array_position(__seq.t, '$conversionType'), 0) - 1,
           |        size(__seq))), x -> x.t)),
           |  concat(
           |    transform(slice(__seq, 1,
           |      coalesce(nullif(array_position(__seq.t, '$conversionType'), 0) - 1,
           |        size(__seq))), x -> x.t),
           |    array(IF(nullif(array_position(__seq.t, '$conversionType'), 0)
           |      IS NOT NULL, 'CONV', 'DROP'))),
           |  (a, b) -> struct(a AS src, b AS dst))""".stripMargin)).as("__p"))
      .select(col("__p.src"), col("__p.dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      .collect()
    // driver-side absorbing chain over channel-scale states
    val counts = trans.map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def pConv(removed: Option[String]): Double = {
      val live = ("START" +: touchTypes.filterNot(removed.contains))
        .distinct
      val idx = live.zipWithIndex.toMap
      val n = live.length
      // x_s = P(absorb in CONV | at s); (I - Q) x = r
      val aM = Array.tabulate(n, n + 1) { (i, j) =>
        if (j == i) 1.0 else 0.0
      }
      live.foreach { s =>
        val outs = counts.filter { case ((src, _), _) => src == s }
        val total = outs.values.sum.toDouble
        if (total > 0) outs.foreach { case ((_, dst), c) =>
          val p = c / total
          val i = idx(s)
          if (dst == "CONV") aM(i)(n) += p
          else if (removed.contains(dst)) () // redirected to DROP
          else idx.get(dst).foreach(j => aM(i)(j) -= p)
        }
      }
      // Gaussian elimination, fixed order (states as listed)
      var r0 = 0
      while (r0 < n) {
        val piv = aM(r0)(r0)
        if (math.abs(piv) > 1e-12) {
          var j = r0; while (j <= n) { aM(r0)(j) /= piv; j += 1 }
          var i = 0
          while (i < n) {
            if (i != r0 && math.abs(aM(i)(r0)) > 0) {
              val f = aM(i)(r0)
              var k = r0; while (k <= n) { aM(i)(k) -= f * aM(r0)(k); k += 1 }
            }
            i += 1
          }
        }
        r0 += 1
      }
      aM(idx("START"))(n)
    }
    val pFull = pConv(None)
    val effects = touchTypes.sorted.map { c =>
      val re = if (pFull <= 0) 0.0
        else math.max(0.0, (pFull - pConv(Some(c))) / pFull)
      (c, re)
    }
    val total = effects.map(_._2).sum
    // degenerate corpus (no channel removal loses conversions, or no
    // conversions at all): shares are DEFINED as a uniform split so
    // share_micros still sums to exactly 10⁶ — attribution's output
    // contract — rather than silently summing to 0
    val nCh = effects.length.toLong
    val shares0 = effects.map { case (c, re) =>
      (c, math.round(re * 1e6),
        if (total <= 0) 1000000L / nCh else (re / total * 1e6).toLong)
    }
    // exact 10⁶ share sum: remainder to the largest share, ties by name
    val rem = 1000000L - shares0.map(_._3).sum
    val target = Some(shares0.sortBy(s => (-s._3, s._1)).head._1)
    val visits = trans.filter(r => touchTypes.contains(r.getString(0)))
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    shares0.map { case (c, re, sh) =>
      (c, visits.getOrElse(c, 0L), re,
        if (target.contains(c)) sh + rem else sh)
    }.toDF("channel", "n_visits", "removal_effect_micros", "share_micros")
  }

  case class AttribOut(user_id: Long, conv_id: Long, channel: String,
      touch_id: Long, first_micros: Long, last_micros: Long,
      linear_micros: Long)
  case class AttribBuffer(buffered: Seq[Event])

  /** Streaming twin of [[attribution]] — per-user watermark-sealed
    * multi-touch credits: events buffer per user until the event-time
    * watermark passes a CONVERSION's timestamp (no touch inside its
    * lookback can still arrive on time), then that conversion's
    * credits emit exactly once, per touch, under all three models.
    * State is the unsealed tail only: events older than
    * `watermark − lookback` can serve no future conversion and are
    * dropped; the buffer dedupes by event_id, so at-least-once
    * redeliveries — in-window or sealed — are no-ops (the
    * [[sealedFold]] discipline). Late TOUCHES below the
    * watermark are dropped like any straggler; the sealed output
    * equals the batch twin over the on-time corpus
    * (`evt_attribution_replay` pins the identity). Credits are the
    * same integer div/mod arithmetic as the batch form — equality is
    * exact, not approximate. */
  def attributionStateful(events: Dataset[Event], touchTypes: Seq[String],
      conversionType: String, lookbackSeconds: Long,
      watermark: String = "2 hours"): Dataset[AttribOut] = {
    import events.sparkSession.implicits._
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(lookbackSeconds > 0, s"lookbackSeconds must be > 0 (got $lookbackSeconds)")
    val touchSet = touchTypes.toSet
    val lookMs = lookbackSeconds * 1000L

    def credits(user: Long, conv: Event, pool: Seq[Event]): Seq[AttribOut] = {
      val inWin = pool.filter(t => touchSet(t.event_type) &&
          t.ts.getTime <= conv.ts.getTime &&
          t.ts.getTime > conv.ts.getTime - lookMs)
        .sortBy(t => (t.ts.getTime, t.event_id))
      val k = inWin.size
      inWin.zipWithIndex.map { case (t, i) =>
        val isLast = i == k - 1
        AttribOut(user, conv.event_id, t.event_type, t.event_id,
          if (i == 0) 1000000L else 0L,
          if (isLast) 1000000L else 0L,
          1000000L / k + (if (isLast) 1000000L % k else 0L))
      }
    }

    def fn(key: Long, rows: Iterator[Event],
        state: GroupState[AttribBuffer]): Iterator[AttribOut] = {
      val prior = state.getOption.getOrElse(AttribBuffer(Seq.empty))
      val wmMs = state.getCurrentWatermarkMs()
      val fresh = rows.filter(_.ts.getTime > wmMs).toSeq
      val merged = (prior.buffered ++ fresh).distinctBy(_.event_id)
      val (ripe, open) = merged.partition(e =>
        e.event_type == conversionType && e.ts.getTime <= wmMs)
      val out = ripe.sortBy(e => (e.ts.getTime, e.event_id))
        .flatMap(c => credits(key, c, merged))
      // retain only what a future conversion's lookback can reach
      val keep = open.filter(_.ts.getTime > wmMs - lookMs)
      if (keep.isEmpty) {
        // a drained buffer must not pin an empty entry in the state
        // store forever — long-running streams see unbounded users
        if (state.exists) state.remove()
      } else {
        state.update(AttribBuffer(keep))
        val pending = keep.filter(_.event_type == conversionType)
        // pending conversion: wake when the watermark seals it.
        // touch-only buffer: wake once no future conversion's lookback
        // can reach the newest touch — that invocation's keep-filter
        // drains the buffer and the branch above removes the entry,
        // so idle users cannot accumulate state.
        state.setTimeoutTimestamp(
          if (pending.nonEmpty) pending.map(_.ts.getTime).min + 1
          else keep.map(_.ts.getTime).max + lookMs + 1)
      }
      out.iterator
    }

    // type filter AFTER the watermark node: every event (a flush
    // sentinel included) must still advance event time, then
    // irrelevant types drop before they reach any buffer
    events.withWatermark("ts", watermark)
      .filter(r => touchSet(r.event_type) ||
        r.event_type == conversionType)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Batch twin of [[ewmaAnomaliesStateful]]: per-`event_type` EWMA
    * mean/variance baseline over events in (ts, event_id) order, each
    * event z-scored against the baseline BEFORE it folds in. The
    * parameters quantize as integers (alpha in ppm, threshold in
    * hundredths) so a config is engine-portable text. Runs through
    * [[batchFold]] (its Scale note applies to every batch twin). */
  def ewmaAnomalies(events: Dataset[Event], alphaPpm: Long = 125000L,
      minN: Long = 10L, thresholdX100: Long = 250L): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    val alpha = alphaPpm.toDouble / 1e6
    val thr = thresholdX100.toDouble / 100.0
    batchFold(events, EwmaState(0.0, 0.0, 0L))(
      foldOrdered(_, _, _, alpha, minN, thr))
  }

  /** Streaming EWMA anomaly scoring — the order-sensitive stateful
    * op done with watermark discipline, through [[sealedFold]]: events
    * buffer per key until the watermark seals them, then fold into the
    * baseline in (ts, event_id) order and emit exactly once. The EWMA
    * baseline persists FOREVER in O(1) state per key (mean, variance,
    * n — three numbers; the buffer holds only the unsealed tail,
    * bounded by the watermark delay). Sealed output equals
    * [[ewmaAnomalies]] over the on-time corpus (`evt_anomaly_replay`
    * pins it with both redelivery windows). */
  def ewmaAnomaliesStateful(events: Dataset[Event],
      alphaPpm: Long = 125000L, minN: Long = 10L,
      thresholdX100: Long = 250L,
      watermark: String = "2 hours"): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    val alpha = alphaPpm.toDouble / 1e6
    val thr = thresholdX100.toDouble / 100.0
    sealedFold(events, watermark, EwmaState(0.0, 0.0, 0L))(
      foldOrdered(_, _, _, alpha, minN, thr))
  }

  case class CusumOut(event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value_micros: Long,
      cusum_pos_micros: Long, cusum_neg_micros: Long, alarm: Boolean)
  case class CusumState(sp: Long, sm: Long)

  /** One CUSUM step of the fold [[cusumEvents]] and [[cusumStateful]]
    * both run (through [[batchFold]] / [[sealedFold]]) — integer
    * arithmetic, so replay identity is exact equality, not an
    * IEEE argument: values quantize to micro-units, both clamped
    * accumulators update with pure long add/max. */
  private def cusumStep(s: CusumState, valueMicros: Long,
      targetMicros: Long, slackMicros: Long,
      thresholdMicros: Long): (CusumState, Boolean) = {
    val sp = math.max(0L, s.sp + (valueMicros - targetMicros - slackMicros))
    val sm = math.max(0L, s.sm + (targetMicros - valueMicros - slackMicros))
    (CusumState(sp, sm), sp > thresholdMicros || sm > thresholdMicros)
  }

  private def cusumFold(key: String, evs: Seq[Event], st0: CusumState,
      targetMicros: Long, slackMicros: Long,
      thresholdMicros: Long): (CusumState, Seq[CusumOut]) = {
    var st = st0
    val out = evs.map { e =>
      val v = math.round(e.value * 1e6)
      val (s2, alarm) = cusumStep(st, v, targetMicros, slackMicros,
        thresholdMicros)
      st = s2
      CusumOut(key, e.event_id, e.ts, v, s2.sp, s2.sm, alarm)
    }
    (st, out)
  }

  /** Batch twin of [[cusumStateful]]: per-type two-sided CUSUM over
    * raw events in (ts, event_id) order — the EVENT-grain sibling of
    * [[graft.operators.TimeSeries.cusum]]'s series form (same
    * recurrence, same micro-unit config; this one keys the fold on
    * the replayable (ts, event_id) total order so the streaming twin
    * can match it exactly). [[batchFold]] over [[cusumStep]] — integer
    * state, exact. */
  def cusumEvents(events: Dataset[Event], targetMicros: Long,
      slackMicros: Long, thresholdMicros: Long): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    require(slackMicros >= 0, s"slackMicros must be >= 0 (got $slackMicros)")
    require(thresholdMicros > 0,
      s"thresholdMicros must be > 0 (got $thresholdMicros)")
    batchFold(events, CusumState(0L, 0L))(
      cusumFold(_, _, _, targetMicros, slackMicros, thresholdMicros))
  }

  /** Streaming two-sided CUSUM — the drift monitor that pages on a
    * small persistent shift long before a point z-score would:
    * [[sealedFold]] over [[cusumStep]], with TWO LONGS of persistent
    * state per key — the
    * clamped accumulators — so a key's state never grows with its
    * history. Sealed output equals [[cusumEvents]] over the on-time
    * corpus EXACTLY (shared integer fold; `evt_cusum_replay` pins it
    * with both redelivery windows). */
  def cusumStateful(events: Dataset[Event], targetMicros: Long,
      slackMicros: Long, thresholdMicros: Long,
      watermark: String = "2 hours"): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    require(slackMicros >= 0, s"slackMicros must be >= 0 (got $slackMicros)")
    require(thresholdMicros > 0,
      s"thresholdMicros must be > 0 (got $thresholdMicros)")
    sealedFold(events, watermark, CusumState(0L, 0L))(
      cusumFold(_, _, _, targetMicros, slackMicros, thresholdMicros))
  }

  case class IncidentOut(event_type: String, hour: java.sql.Timestamp,
      x: Long, incident_id: Long)
  case class IncState(nextId: Long, lastAlarmSec: Long)

  /** The incident fold [[incidentHours]] and [[incidentsStateful]]
    * both run (through [[batchFold]] / [[sealedFold]]) — pure integer
    * comparisons: an hour whose count exceeds 2× the
    * SEALED per-type median is an alarm; an alarm within
    * `coolSeconds` of the previous alarm joins its incident,
    * otherwise opens the next one. */
  private def incidentFold(key: String, evs: Seq[Event], st0: IncState,
      medByType: Map[String, Long],
      coolSeconds: Long): (IncState, Seq[IncidentOut]) = {
    // a type with no sealed threshold is SILENT (no reference, no
    // alarm) — and must not ride a sentinel value into `2 * med`,
    // which wraps a Long at MaxValue and would alarm on everything
    val medOpt = medByType.get(key)
    if (medOpt.isEmpty) return (st0, Seq.empty)
    val med = medOpt.get
    var st = st0
    val out = evs.flatMap { e =>
      val x = math.round(e.value)
      if (x <= 2L * med) None
      else {
        val sec = e.ts.getTime / 1000L
        val sameIncident = st.lastAlarmSec != Long.MinValue &&
          sec - st.lastAlarmSec <= coolSeconds
        val id = if (sameIncident) st.nextId else st.nextId + 1
        st = IncState(id, sec)
        Some(IncidentOut(key, e.ts, x, id))
      }
    }
    (st, out)
  }

  /** Batch twin of [[incidentsStateful]]: per-type alarm-hour rows
    * with incident ids over an HOURLY count series in (ts, event_id)
    * order — the pre-aggregated-cadence posture (the raw-event
    * evt_incidents query derives the same hourly series; this form
    * takes it as input so the streaming twin can match it exactly).
    * Thresholds are a SEALED per-type median map — the
    * [[graft.streaming.DriftStreams]] frozen-reference stance: a
    * streaming monitor cannot threshold on the median of a series
    * it has not finished seeing. */
  def incidentHours(hours: Dataset[Event], medByType: Map[String, Long],
      coolSeconds: Long = 7200L): Dataset[IncidentOut] = {
    import hours.sparkSession.implicits._
    require(coolSeconds >= 0, s"coolSeconds must be >= 0 (got $coolSeconds)")
    batchFold(hours, IncState(0L, Long.MinValue))(
      incidentFold(_, _, _, medByType, coolSeconds))
  }

  /** Streaming incident grouping — the page-once-per-episode shape
    * ([[incidentHours]]'s batch contract) as a live monitor:
    * [[sealedFold]] over [[incidentFold]], with TWO LONGS of
    * persistent state per key (open
    * incident id, last alarm second). Sealed output equals
    * [[incidentHours]] over the on-time corpus EXACTLY (shared
    * integer fold; `evt_incidents_replay` pins both redelivery
    * windows). */
  def incidentsStateful(hours: Dataset[Event],
      medByType: Map[String, Long], coolSeconds: Long = 7200L,
      watermark: String = "2 hours"): Dataset[IncidentOut] = {
    import hours.sparkSession.implicits._
    require(coolSeconds >= 0, s"coolSeconds must be >= 0 (got $coolSeconds)")
    sealedFold(hours, watermark, IncState(0L, Long.MinValue))(
      incidentFold(_, _, _, medByType, coolSeconds))
  }

  case class HoltOut(event_type: String, event_id: Long,
      ts: java.sql.Timestamp, value_micros: Long,
      forecast_micros: Long, residual_micros: Long)
  case class HoltState(l: Long, b: Long, n: Long)

  /** One Holt step of the fold [[holtResiduals]] and [[holtStateful]]
    * both run (through [[batchFold]] / [[sealedFold]]) — the
    * [[graft.operators.Recurrences.holt]] update that
    * [[graft.operators.TimeSeries.holtForecast]] folds (same init
    * l₁ = x₁, b₁ = 0), scoring
    * each event against the one-step-ahead forecast BEFORE folding it
    * in. The first observation seeds the level (forecast = value,
    * residual 0 — no phantom zero baseline). */
  private def holtStep(s: HoltState, v: Long, alphaPpm: Long,
      betaPpm: Long): (HoltState, Long, Long) = {
    if (s.n == 0L) (HoltState(v, 0L, 1L), v, 0L)
    else {
      val f = s.l + s.b
      val (l2, b2) = Recurrences.holt(s.l, s.b, v, alphaPpm, betaPpm)
      (HoltState(l2, b2, s.n + 1), f, v - f)
    }
  }

  private def holtFold(key: String, evs: Seq[Event], st0: HoltState,
      alphaPpm: Long, betaPpm: Long): (HoltState, Seq[HoltOut]) = {
    var st = st0
    val out = evs.map { e =>
      val v = math.round(e.value * 1e6)
      val (s2, f, r) = holtStep(st, v, alphaPpm, betaPpm)
      st = s2
      HoltOut(key, e.event_id, e.ts, v, f, r)
    }
    (st, out)
  }

  /** Batch twin of [[holtStateful]]: per-type one-step-ahead Holt
    * forecasts + residuals over raw events in (ts, event_id) order —
    * the online-forecast-monitoring view ([[graft.operators.TimeSeries
    * .holtForecast]] is the horizon view of the same recurrence).
    * Integer state, exact replay. */
  def holtResiduals(events: Dataset[Event], alphaPpm: Long = 300000L,
      betaPpm: Long = 100000L): Dataset[HoltOut] = {
    import events.sparkSession.implicits._
    batchFold(events, HoltState(0L, 0L, 0L))(
      holtFold(_, _, _, alphaPpm, betaPpm))
  }

  /** Streaming Holt forecast residuals — online "is traffic tracking
    * the trend line" monitoring with THREE LONGS of persistent state
    * per key (level, trend, count): [[sealedFold]] over [[holtStep]].
    * Sealed output equals
    * [[holtResiduals]] EXACTLY — the shared fold is integer
    * arithmetic (`evt_holt_replay` pins both redelivery windows). */
  def holtStateful(events: Dataset[Event], alphaPpm: Long = 300000L,
      betaPpm: Long = 100000L,
      watermark: String = "2 hours"): Dataset[HoltOut] = {
    import events.sparkSession.implicits._
    sealedFold(events, watermark, HoltState(0L, 0L, 0L))(
      holtFold(_, _, _, alphaPpm, betaPpm))
  }

  case class VolOut(event_type: String, event_id: Long,
      ts: java.sql.Timestamp, x: Long, ret: Long,
      var_micros: Long, sigma_micros: Long)
  case class VolState(v: Long, prev: Long, n: Long)

  /** One EWMA-variance step of the fold [[ewmVolResiduals]] and
    * [[ewmVolStateful]] both run (through [[batchFold]] /
    * [[sealedFold]]) — the [[graft.operators.Recurrences.ewmVar]]
    * update that [[graft.operators.TimeSeries.ewmVolatility]] folds
    * (over the first difference r, seed r = 0 / v = 0).
    * Values fold in WHOLE units (`round(value)`) so the convex-
    * combination overflow bound (|r| ≤ 3000 for every λ) holds for
    * the event value range by construction — the same loud guard
    * otherwise. */
  private def volStep(s: VolState, x: Long,
      lambdaPpm: Long): (VolState, Long, Long) = {
    if (s.n == 0L) (VolState(0L, x, 1L), 0L, 0L)
    else {
      val r = x - s.prev
      val v2 = Recurrences.ewmVar(s.v, r, lambdaPpm, "ewm volatility fold",
        "")
      (VolState(v2, x, s.n + 1), r, v2)
    }
  }

  private def volFold(key: String, evs: Seq[Event], st0: VolState,
      lambdaPpm: Long): (VolState, Seq[VolOut]) = {
    var st = st0
    val out = evs.map { e =>
      val x = math.round(e.value)
      val (s2, r, v) = volStep(st, x, lambdaPpm)
      st = s2
      VolOut(key, e.event_id, e.ts, x, r, v, Recurrences.sigma(v))
    }
    (st, out)
  }

  /** Batch twin of [[ewmVolStateful]]: per-type EWMA volatility of
    * the event-value first differences in (ts, event_id) order — the
    * "how noisy is this stream right now" monitor over raw events
    * ([[graft.operators.TimeSeries.ewmVolatility]] is the same
    * recurrence over a resampled series). Integer state, exact
    * replay. */
  def ewmVolResiduals(events: Dataset[Event],
      lambdaPpm: Long = 940000L): Dataset[VolOut] = {
    import events.sparkSession.implicits._
    batchFold(events, VolState(0L, 0L, 0L))(volFold(_, _, _, lambdaPpm))
  }

  /** Streaming EWMA volatility — online dispersion monitoring with
    * THREE LONGS of persistent state per key (variance, previous
    * value, count): [[sealedFold]] over [[volStep]]. Sealed output
    * equals [[ewmVolResiduals]] EXACTLY
    * — the shared fold is integer arithmetic plus one mirrored sqrt
    * (`evt_ewm_vol_replay` pins both redelivery windows). */
  def ewmVolStateful(events: Dataset[Event],
      lambdaPpm: Long = 940000L,
      watermark: String = "2 hours"): Dataset[VolOut] = {
    import events.sparkSession.implicits._
    sealedFold(events, watermark, VolState(0L, 0L, 0L))(
      volFold(_, _, _, lambdaPpm))
  }

  case class KalmanOut(event_type: String, event_id: Long,
      ts: java.sql.Timestamp, x: Long, innovation: Long,
      gain_ppm: Long, level: Long, p_var: Long)
  case class KalmanState(l: Long, p: Long, n: Long)

  /** One Kalman local-level step of the fold [[kalmanResiduals]] and
    * [[kalmanStateful]] both run (through [[batchFold]] /
    * [[sealedFold]]) — the [[graft.operators.Recurrences.kalman]]
    * update that [[graft.operators.TimeSeries.kalmanLocalLevel]] folds
    * (seed l₁ = x₁, P₁ = R). Values fold in CENTS
    * (`round(value·100)`) — |innovation| stays far inside the 9·10¹²
    * overflow bound for the event value range, guarded loudly
    * otherwise. */
  private def kalmanStep(s: KalmanState, x: Long, qVar: Long,
      rVar: Long): (KalmanState, Long, Long) = {
    if (s.n == 0L) (KalmanState(x, rVar, 1L), 0L, 0L)
    else {
      val (e, gain, l2, p2) = Recurrences.kalman(s.l, s.p, x, qVar, rVar,
        "kalman fold", "")
      (KalmanState(l2, p2, s.n + 1), e, gain)
    }
  }

  private def kalmanFold(key: String, evs: Seq[Event], st0: KalmanState,
      qVar: Long, rVar: Long): (KalmanState, Seq[KalmanOut]) = {
    var st = st0
    val out = evs.map { e =>
      val x = math.round(e.value * 100) // cents
      val (s2, innov, gain) = kalmanStep(st, x, qVar, rVar)
      st = s2
      KalmanOut(key, e.event_id, e.ts, x, innov, gain, s2.l, s2.p)
    }
    (st, out)
  }

  /** Batch twin of [[kalmanStateful]]: per-type Kalman local-level
    * filtering of the event value stream (cents) in (ts, event_id)
    * order — the time-varying-gain level monitor next to the EWMA
    * pair ([[graft.operators.TimeSeries.kalmanLocalLevel]] is the
    * same recurrence over a resampled series). Integer state, exact
    * replay. */
  def kalmanResiduals(events: Dataset[Event], qVar: Long = 10000L,
      rVar: Long = 250000L): Dataset[KalmanOut] = {
    import events.sparkSession.implicits._
    batchFold(events, KalmanState(0L, 0L, 0L))(
      kalmanFold(_, _, _, qVar, rVar))
  }

  /** Streaming Kalman local-level filter — online level tracking with
    * THREE LONGS of persistent state per key (level, variance,
    * count): [[sealedFold]] over [[kalmanStep]]. Sealed output equals
    * [[kalmanResiduals]] EXACTLY —
    * the shared fold is pure integer arithmetic
    * (`evt_kalman_replay` pins both redelivery windows). */
  def kalmanStateful(events: Dataset[Event], qVar: Long = 10000L,
      rVar: Long = 250000L,
      watermark: String = "2 hours"): Dataset[KalmanOut] = {
    import events.sparkSession.implicits._
    sealedFold(events, watermark, KalmanState(0L, 0L, 0L))(
      kalmanFold(_, _, _, qVar, rVar))
  }

  case class KalmanGapsOut(event_type: String, ts: java.sql.Timestamp,
      observed: Boolean, event_id: Long, x: Option[Long],
      innovation: Option[Long], gain_ppm: Option[Long], level: Long,
      p_var: Long)
  case class KalmanGapsState(kal: KalmanState, anchorMs: Long,
      nextMs: Long, buffered: Seq[Event], lastObsMs: Long)

  /** One densified-grid Kalman catch-up, the fold both gap-aware forms
    * run ([[kalmanGapsResiduals]] through [[batchFold]];
    * [[kalmanGapsStateful]] keeps its own state function) — the
    * [[graft.operators.TimeSeries.kalmanLocalLevelGaps]] semantics on
    * events: walk grid points `startMs, startMs+stepMs, …` up to and
    * including `upToMs`; a point with an observation folds the
    * [[kalmanStep]] update (cents), a point without one is a
    * PREDICT-ONLY step — the level carries, the variance grows by Q,
    * and the row goes out with `observed = false` so uncertainty is
    * visible downstream. Observations must sit on the grid and be
    * unique per point (guarded loudly — a misaligned or duplicated
    * timestamp means the upstream cadence aggregation is wrong);
    * both variance paths guard the 9·10¹² overflow bound before any
    * ·10⁶ multiply, the batch op's discipline. Returns the advanced
    * state, the next unemitted grid point, and the rows. */
  private def kalmanGapsFold(key: String, obs: Seq[Event],
      st0: KalmanState, anchorMs: Long, startMs: Long, stepMs: Long,
      upToMs: Long, qVar: Long, rVar: Long):
      (KalmanState, Long, Seq[KalmanGapsOut]) = {
    val byTs = scala.collection.mutable.LongMap.empty[Event]
    obs.foreach { e =>
      val t = e.ts.getTime
      require((t - anchorMs) % stepMs == 0,
        s"kalman gaps: observation at $t (key $key) is off the " +
          s"$stepMs-ms grid anchored at $anchorMs — aggregate to the " +
          "grid cadence first")
      require(t >= startMs,
        s"kalman gaps: observation at $t (key $key) is below the " +
          s"already-sealed grid point $startMs")
      require(!byTs.contains(t),
        s"kalman gaps: duplicate observation at $t (key $key) — the " +
          "grid needs one value per point")
      byTs(t) = e
    }
    require(upToMs == Long.MinValue ||
      (upToMs - startMs) / stepMs + 1 <= 500000L,
      s"kalman gaps: ${(upToMs - startMs) / stepMs + 1} grid points " +
        s"(key $key) exceed the 500k catch-up guard — coarsen the grid")
    var st = st0
    var o = startMs
    val out = Seq.newBuilder[KalmanGapsOut]
    while (o <= upToMs) {
      // a gap lets P + Q grow past the entry bound on Q + R, so it is
      // guarded on every step after the seed
      def predicted = Recurrences.kalmanPredict(st.p, qVar, "kalman gaps",
        s" at $o (key $key)", "Q")
      byTs.get(o) match {
        case Some(e) =>
          if (st.n > 0L) predicted // guarded before the gain's ·10⁶
          val x = math.round(e.value * 100) // cents
          val (s2, innov, gain) = kalmanStep(st, x, qVar, rVar)
          val seeded = st.n == 0L
          st = s2
          out += KalmanGapsOut(key, e.ts, observed = true, e.event_id,
            Some(x), if (seeded) Some(0L) else Some(innov),
            if (seeded) Some(0L) else Some(gain), s2.l, s2.p)
        case None =>
          if (st.n > 0L) { // before the seed there is nothing to carry
            val p2 = predicted
            st = KalmanState(st.l, p2, st.n)
            out += KalmanGapsOut(key, new java.sql.Timestamp(o),
              observed = false, -1L, None, None, None, st.l, p2)
          }
      }
      o += stepMs
    }
    (st, o, out.result())
  }

  /** Batch twin of [[kalmanGapsStateful]]: per-type gap-aware Kalman
    * filtering over a fixed event-time grid (anchored at each key's
    * first observation, ending at its last) — a missing grid point is
    * a predict-only step, so uncertainty honestly accumulates across
    * gaps and the next observation earns a larger gain
    * ([[graft.operators.TimeSeries.kalmanLocalLevelGaps]] is the same
    * recurrence over an order column). Integer state, exact replay. */
  def kalmanGapsResiduals(events: Dataset[Event],
      stepMs: Long = 3600000L, qVar: Long = 10000L,
      rVar: Long = 250000L): Dataset[KalmanGapsOut] = {
    require(stepMs > 0L, s"stepMs must be > 0 (got $stepMs)")
    require(qVar > 0L && rVar > 0L && qVar + rVar <= 9000000000000L,
      s"need 0 < qVar, 0 < rVar, qVar + rVar <= 9e12 (got $qVar, $rVar)")
    import events.sparkSession.implicits._
    batchFold(events, KalmanState(0L, 0L, 0L)) { (k, evs, st0) =>
      val anchor = evs.head.ts.getTime // groups are never empty
      val (st, _, out) = kalmanGapsFold(k, evs, st0, anchor, anchor,
        stepMs, evs.last.ts.getTime, qVar, rVar)
      (st, out)
    }
  }

  /** Streaming GAP-AWARE Kalman filter — the online form of
    * [[kalmanGapsResiduals]] and the piece a fixed-α smoother cannot
    * give a monitoring pipeline: when a key goes SILENT, the
    * event-time TIMEOUT fires as the watermark passes each unobserved
    * grid point and emits a predict-only row — the level carries, the
    * variance grows by Q online, and the next observation earns a
    * correspondingly larger gain. State is the Kalman triple plus the
    * grid anchor and next unemitted point; the usual watermark
    * discipline applies (buffer the unsealed tail, dedupe in-window
    * redeliveries by event_id, drop below-watermark stragglers).
    * Sealed output through each key's last observation equals the
    * batch twin EXACTLY (`evt_kalman_gaps_replay` pins it); past the
    * last observation the stream keeps predicting — but only for
    * `maxSilentPoints` grid points: a production stream churns keys,
    * and a key that re-armed its timeout forever would grow state and
    * output without bound. Once a key has been event-time silent for
    * `maxSilentPoints` points past its last observation (and nothing
    * is buffered above the watermark), its state is DROPPED — a later
    * straggler re-seeds a fresh grid anchored at that observation,
    * the same loud-bounds posture as the 500k catch-up guard.
    *
    * CHECKPOINT COMPATIBILITY: the silence budget added `lastObsMs`
    * to [[KalmanGapsState]], so a query restarted from a checkpoint
    * written by a pre-r19 build fails to decode its state
    * (state-encoder schema change). Restart such a query with a
    * FRESH checkpoint (and a replayable source offset) — the state
    * rebuilds from the stream; there is no in-place migration. */
  def kalmanGapsStateful(events: Dataset[Event],
      stepMs: Long = 3600000L, qVar: Long = 10000L,
      rVar: Long = 250000L,
      watermark: String = "2 hours",
      maxSilentPoints: Long = 100000L): Dataset[KalmanGapsOut] = {
    require(stepMs > 0L, s"stepMs must be > 0 (got $stepMs)")
    require(qVar > 0L && rVar > 0L && qVar + rVar <= 9000000000000L,
      s"need 0 < qVar, 0 < rVar, qVar + rVar <= 9e12 (got $qVar, $rVar)")
    require(maxSilentPoints > 0L && maxSilentPoints <= 500000L,
      s"maxSilentPoints must be in (0, 500k] — the catch-up guard's " +
        s"bound (got $maxSilentPoints)")
    require(stepMs <= Long.MaxValue / maxSilentPoints,
      s"maxSilentPoints * stepMs overflows a long " +
        s"(got $maxSilentPoints * $stepMs)")
    import events.sparkSession.implicits._

    def fn(key: String, rows: Iterator[Event],
        state: GroupState[KalmanGapsState]): Iterator[KalmanGapsOut] = {
      val prior = state.getOption.getOrElse(KalmanGapsState(
        KalmanState(0L, 0L, 0L), Long.MinValue, Long.MinValue, Seq.empty,
        Long.MinValue))
      val wmMs = state.getCurrentWatermarkMs()
      val fresh = rows.filter(_.ts.getTime > wmMs).toSeq
      val (ripe, open) = (prior.buffered ++ fresh)
        .distinctBy(_.event_id)
        .partition(_.ts.getTime <= wmMs)
      val sorted = ripe.sortBy(e => (e.ts.getTime, e.event_id))
      val anchor =
        if (prior.anchorMs != Long.MinValue) prior.anchorMs
        else if (sorted.nonEmpty) sorted.head.ts.getTime
        else Long.MinValue
      if (anchor == Long.MinValue) {
        if (open.isEmpty) {
          // every delivered event was a below-watermark straggler:
          // keeping an empty, timeout-less state here would leak a
          // zombie entry per such key forever — keep nothing
          if (state.exists) state.remove()
        } else {
          // nothing sealed yet for this key — buffer and wait
          state.update(prior.copy(buffered = open))
          state.setTimeoutTimestamp(open.map(_.ts.getTime).min + 1)
        }
        Iterator.empty
      } else {
        val start = if (prior.nextMs != Long.MinValue) prior.nextMs
          else anchor
        // an anchored key always has a sealed observation (the fold
        // that set the anchor consumed one), so lastObs is never
        // MinValue here
        val lastObs =
          if (sorted.nonEmpty) sorted.last.ts.getTime else prior.lastObsMs
        // the silence budget: predict-only emission stops
        // maxSilentPoints past the last observation (saturating — a
        // pathological epoch never wraps into an instant expiry)
        val expiryMs =
          try Math.addExact(lastObs, maxSilentPoints * stepMs)
          catch { case _: ArithmeticException => Long.MaxValue }
        val (st, next, out) = kalmanGapsFold(key, sorted, prior.kal,
          anchor, start, stepMs, math.min(wmMs, expiryMs), qVar, rVar)
        if (open.isEmpty && wmMs >= expiryMs) {
          // budget exhausted and nothing buffered above the watermark:
          // drop the key instead of re-arming forever
          state.remove()
        } else {
          state.update(KalmanGapsState(st, anchor, next, open, lastObs))
          // wake at whichever seals first: the next grid point (gap
          // emission for a silent key) or the earliest buffered event
          // — candidates at or below the watermark are excluded
          // (setTimeoutTimestamp refuses them; `next` can sit below
          // the watermark when the silence budget clamped the fold
          // but a buffered event keeps the key alive). At least one
          // candidate is always above: open events by construction,
          // and next > min(wm, expiry) = wm whenever open is empty.
          val wake = (Iterator.single(next) ++
            open.iterator.map(_.ts.getTime)).filter(_ > wmMs).min
          state.setTimeoutTimestamp(wake + 1)
        }
        out.iterator
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
