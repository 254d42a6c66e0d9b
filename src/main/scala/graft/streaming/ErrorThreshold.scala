package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** K4 failure-threshold semantics: the reference emits an error event
  * only after 5 CONSECUTIVE poll failures for a user, and any success
  * resets the run (`producers/user_positions_tracker.py:134-151`) — not
  * one event per failed row. Same shape as Lifecycle: a pure run-length
  * core all clock/order values are passed into, wrapped by
  * `flatMapGroupsWithState` keyed by the probe key.
  *
  * Scale: state is one Int per key with consecutive failures — O(active
  * failing keys), partitioned by the groupByKey shuffle; keys emit and
  * reset at the threshold so state never grows with failure count, and
  * an open run expires `ttl` after its key's last probe so state never
  * grows with key churn either.
  */
object ErrorThreshold {

  /** Reference threshold (`user_positions_tracker.py:139`). */
  val DefaultThreshold = 5

  final case class Probe(key: String, tsMs: Long, failed: Boolean)
  final case class RunState(consecutive: Int)
  final case class ErrorEvent(key: String, consecutive: Int, atMs: Long)

  /** Pure run-length step over ts-ordered probes: failures grow the run,
    * the run reaching `threshold` emits ONE event and resets (matching
    * the reference's notify-then-reset), success resets silently. */
  def step(state: RunState, probes: Seq[Probe],
           threshold: Int): (RunState, Seq[ErrorEvent]) =
    probes.foldLeft((state, Seq.empty[ErrorEvent])) { case ((st, out), p) =>
      if (!p.failed) (RunState(0), out)
      else {
        val run = st.consecutive + 1
        if (run >= threshold)
          (RunState(0), out :+ ErrorEvent(p.key, run, p.tsMs))
        else (RunState(run), out)
      }
    }

  /** Streaming wrapper: keyed consecutive-failure detection. A key's
    * open run expires `ttl` after its last probe, so keys that simply
    * stop arriving (a market whose polling ends mid-run) cannot hold
    * state forever even when no success row ever clears it. */
  def run(probes: Dataset[Probe],
          threshold: Int = DefaultThreshold,
          ttl: java.time.Duration = java.time.Duration.ofDays(1)): Dataset[ErrorEvent] = {
    implicit val ee = Encoders.product[ErrorEvent]
    implicit val ke = Encoders.STRING
    probes.groupByKey(_.key)
      .flatMapGroupsWithState[RunState, ErrorEvent](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (_: String, it: Iterator[Probe], gs: GroupState[RunState]) =>
          if (gs.hasTimedOut) { gs.remove(); Iterator.empty }
          else {
            val st = gs.getOption.getOrElse(RunState(0))
            val (ns, out) = step(st, it.toSeq.sortBy(_.tsMs), threshold)
            // run 0 ≡ absent: never store it, so the state map holds only
            // keys with an open failure run
            if (ns.consecutive == 0) { if (gs.exists) gs.remove() }
            else { gs.update(ns); gs.setTimeoutDuration(ttl.toMillis) }
            out.iterator
          }
      }(Encoders.product[RunState], ee)
  }
}
