package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** W4/W5: the market lifecycle state machine — the reference's core
  * domain logic, re-expressed as keyed streaming state.
  *
  * Reference behavior being matched:
  *  - `producers/polymarket_ws_manager.py:263-299`: on a new market,
  *    tear down the old subscription and build the new one, deduped by
  *    "token_ids changed" (:271); arm a close timer at `end_time`
  *    (:287-299).
  *  - `producers/market_resolution.py:19-60`: after `end_time + 60 s`,
  *    poll for resolution with backoff 30 s → 300 s (doubling), at most
  *    20 attempts (~87 min), then emit a failure record; on success
  *    derive the winner (`:84-90`, float equality intentional).
  *
  * Shape: a PURE transition core (`onMessages` / `onTimeout`) with all
  *   clock values passed in — deterministic and unit-testable without a
  *   streaming runtime — wrapped by `flatMapGroupsWithState` keyed by
  *   market_id with processing-time timeouts. Poll *results* arrive as
  *   input messages; poll *requests* are emitted as `poll_due` side
  *   outputs when a timer fires (the external API call lives outside the
  *   engine, exactly like the reference's requests thread).
  *
  * Scale: state is O(active markets), partitioned by key across the
  *   cluster by the groupByKey shuffle; each key holds a few hundred
  *   bytes. Timeout fan-out is bounded by the backoff schedule.
  */
object Lifecycle {

  /** Unified control/poll message (discriminated by `kind`). */
  final case class MarketMsg(
      marketId: String,
      kind: String, // "discovered" | "poll_result"
      tsMs: Long,
      tokenIds: Seq[String],
      endTimeMs: Long,
      closed: Boolean,
      resolutionStatus: String,
      noPrice: Double,
      yesPrice: Double)

  final case class MarketState(
      phase: String, // "subscribed" | "awaiting_resolution"
      tokenIds: Seq[String],
      endTimeMs: Long,
      attempt: Int,
      nextActionMs: Long)

  final case class Transition(marketId: String, transition: String,
                              atMs: Long, detail: String)

  /** Timing knobs, defaulting to the reference constants
    * (`market_resolution.py:25,29-38`; README.md:75). Tests compress
    * them to drive real processing-time timeouts in seconds.
    *
    * `closeJitterMs` shards close deadlines: each market's close timer
    * is staggered by a deterministic per-key offset in
    * [0, closeJitterMs). The reference already has this semantic — its
    * discovery cycle acts `buffer_seconds = 10` AFTER each 15-minute
    * boundary (`market_discovery.py:118,136-137`), so no market closes
    * at the exact boundary there either. At the reference's ~100
    * concurrent markets the buffer is just alignment slack; at 10k+
    * concurrent keys it is what keeps every close timer in the cluster
    * from expiring in ONE micro-batch (the thundering-herd batch the
    * 9984-market widening measured at p95 = 24.7 s). 0 = no stagger. */
  final case class Timing(firstPollDelayMs: Long = 60000L,
                          baseBackoffMs: Long = 30000L,
                          maxBackoffMs: Long = 300000L,
                          maxAttempts: Int = 20,
                          closeJitterMs: Long = 0L)
  /** Production preset: reference constants INCLUDING its 10 s
    * post-boundary buffer as the close-deadline shard window. */
  val DefaultTiming: Timing = Timing(closeJitterMs = 10000L)

  /** Deterministic per-key close stagger in [0, closeJitterMs): FNV-1a
    * over the market id. A pure function of the key, so both the
    * message path (arming the timer) and the timeout path (scheduling
    * the first poll) recompute the SAME offset without storing it. */
  def closeStaggerMs(marketId: String, t: Timing = DefaultTiming): Long =
    if (t.closeJitterMs <= 0L) 0L
    else {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < marketId.length) {
        h ^= marketId.charAt(i).toLong
        h *= 0x100000001b3L
        i += 1
      }
      java.lang.Math.floorMod(h, t.closeJitterMs)
    }

  /** Doubling backoff capped at the max: 30, 60, 120, 240, 300, 300, …
    * The shift is clamped only against Long overflow — the reachable
    * ceiling is maxBackoffMs itself, whatever the base/max ratio (a
    * fixed shift cap of 4 would silently floor custom Timings at
    * 16× base). */
  def backoffMs(attempt: Int, t: Timing = DefaultTiming): Long = {
    val safeShift = java.lang.Long.numberOfLeadingZeros(math.max(t.baseBackoffMs, 1L)) - 1
    math.min(t.baseBackoffMs << math.min(attempt, safeShift).toLong, t.maxBackoffMs)
  }

  /** Winner derivation — same float-equality semantics as the batch
    * operator (graft.ops.Resolution.winner; `market_resolution.py:84-90`). */
  def winner(noPrice: Double, yesPrice: Double): String =
    if (noPrice == 1.0) "Down" else if (yesPrice == 1.0) "Up" else "Unknown"

  /** Pure message-driven transitions. Messages must be in ts order. */
  def onMessages(marketId: String, msgs: Seq[MarketMsg],
                 state: Option[MarketState],
                 t: Timing = DefaultTiming): (Option[MarketState], Seq[Transition]) =
    msgs.foldLeft((state, Seq.empty[Transition])) { case ((st, out), m) =>
      m.kind match {
        case "discovered" =>
          st match {
            // dedupe: same token set → no transition (ws_manager.py:271)
            case Some(s) if s.phase == "subscribed" && s.tokenIds == m.tokenIds =>
              (st, out)
            case _ =>
              val unsub = st.filter(_.phase == "subscribed").map(s =>
                Transition(marketId, "unsubscribe", m.tsMs, s.tokenIds.mkString(",")))
              val next = MarketState("subscribed", m.tokenIds, m.endTimeMs, 0,
                m.endTimeMs + closeStaggerMs(marketId, t))
              (Some(next),
                out ++ unsub :+ Transition(marketId, "subscribe", m.tsMs,
                  m.tokenIds.mkString(",")))
          }
        case "poll_result" =>
          st match {
            case Some(s) if s.phase == "awaiting_resolution" =>
              if (m.closed && m.resolutionStatus == "resolved")
                (None, out :+ Transition(marketId, "resolved", m.tsMs,
                  winner(m.noPrice, m.yesPrice)))
              else (st, out) // unresolved: keep waiting, timer re-polls
            case _ => (st, out) // stale poll result; ignore
          }
        case _ => (st, out)
      }
    }

  /** Pure timer-driven transitions at processing time `nowMs`. */
  def onTimeout(marketId: String, state: MarketState, nowMs: Long,
                t: Timing = DefaultTiming): (Option[MarketState], Seq[Transition]) =
    state.phase match {
      case "subscribed" =>
        // close timer fired (ws_manager.py:287-299): stop streaming,
        // schedule the first resolution poll at end + 60 s — keeping
        // the per-key stagger, so the poll wave stays sharded too
        val next = state.copy(phase = "awaiting_resolution", attempt = 0,
          nextActionMs = state.endTimeMs + t.firstPollDelayMs +
            closeStaggerMs(marketId, t))
        (Some(next), Seq(Transition(marketId, "close", nowMs, "")))
      case "awaiting_resolution" =>
        if (state.attempt >= t.maxAttempts)
          (None, Seq(Transition(marketId, "resolution_failed", nowMs,
            s"attempts=${state.attempt}")))
        else {
          val next = state.copy(attempt = state.attempt + 1,
            nextActionMs = nowMs + backoffMs(state.attempt, t))
          (Some(next), Seq(Transition(marketId, "poll_due", nowMs,
            s"attempt=${next.attempt}")))
        }
      case _ => (None, Seq.empty)
    }

  /** flatMapGroupsWithState wrapper: keyed by market_id, processing-time
    * timeouts armed at the state's nextActionMs. */
  def run(msgs: Dataset[MarketMsg],
          timing: Timing = DefaultTiming): Dataset[Transition] = {
    implicit val te = Encoders.product[Transition]
    implicit val ke = Encoders.STRING
    msgs.groupByKey(_.marketId)
      .flatMapGroupsWithState[MarketState, Transition](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (key: String, it: Iterator[MarketMsg], gs: GroupState[MarketState]) =>
          val nowMs = gs.getCurrentProcessingTimeMs()
          val (ns, out) =
            if (gs.hasTimedOut) onTimeout(key, gs.get, nowMs, timing)
            else onMessages(key, it.toSeq.sortBy(_.tsMs), gs.getOption, timing)
          ns match {
            case Some(s) =>
              gs.update(s)
              gs.setTimeoutDuration(math.max(s.nextActionMs - nowMs, 1L))
            case None => if (gs.exists) gs.remove()
          }
          out.iterator
      }(Encoders.product[MarketState], te)
  }
}
