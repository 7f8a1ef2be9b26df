package graft.core

import graft.core.Types.{BillingEvent, Runtime}

/** The billing state machine — semantic reference ("Option A" of SURVEY.md
  * §2e/K1). A pure fold over one instance's time-ordered event log yielding
  * microseconds spent Running / Stopped inside a billing window.
  *
  * Mirrors /root/reference/src/openstack_billing_db/model.py:90-156 exactly:
  *
  *  - each event time is clamped into `[startUs, endUs]` before any
  *    transition (model.py:98), so out-of-window events transition at the
  *    boundary with zero in-window duration;
  *  - `message == "Error"` always transitions to Error — even Error→Error —
  *    regardless of the action name (model.py:101-107);
  *  - an event whose trigger maps to the *current* state is ignored
  *    (model.py:114): no exit/enter, i.e. run-length semantics;
  *  - events whose action matches no trigger list (e.g. volume attach) are
  *    skipped entirely (model.py:109-117 falls through);
  *  - a non-null `deletedAt` exits the current state at clamp(deletedAt) and
  *    enters Deleted (model.py:119-125) — applied after ALL events, even
  *    ones later in time;
  *  - the final state is closed at the (unclamped) window end (model.py:127);
  *  - only Running and Stopped totals are surfaced (model.py:154-155);
  *    Shelved/Deleted/Error time is tracked but discarded.
  *
  * Documented deviation: the reference raises `AttributeError` when an
  * instance has no state-mapped events (current state None at model.py:124 /
  * 127). This engine yields `Runtime.zero` instead — a dead instance should
  * not kill a 100 TB job.
  */
object StateMachine {

  /** action name → state (model.py:141-150). */
  val TriggerToState: Map[String, String] = Map(
    "unshelve" -> "Running",
    "create"   -> "Running",
    "start"    -> "Running",
    "shelve"   -> "Shelved",
    "stop"     -> "Stopped",
    "delete"   -> "Deleted"
  )

  /** Fold buffer: the machine's full state between events. */
  final case class StateBuf(
      current: String, enteredAtUs: Long, runningUs: Long, stoppedUs: Long) {
    def exitAt(t: Long): StateBuf = current match {
      case "Running" => copy(runningUs = runningUs + (t - enteredAtUs))
      case "Stopped" => copy(stoppedUs = stoppedUs + (t - enteredAtUs))
      case _         => this // Shelved / Deleted / Error time is discarded
    }
  }
  object StateBuf { val empty: StateBuf = StateBuf(null, 0L, 0L, 0L) }

  /** One transition: event time must already be clamped into the billing
    * window (model.py:98).
    */
  def step(buf: StateBuf, tClamped: Long, name: String, message: String): StateBuf =
    if (message == "Error") {
      // always transitions, even Error→Error (model.py:101-107)
      (if (buf.current != null) buf.exitAt(tClamped) else buf)
        .copy(current = "Error", enteredAtUs = tClamped)
    } else TriggerToState.get(name) match {
      case Some(state) if buf.current == null =>
        buf.copy(current = state, enteredAtUs = tClamped)
      case Some(state) if state != buf.current =>
        buf.exitAt(tClamped).copy(current = state, enteredAtUs = tClamped)
      case _ => buf // same-state re-entry (model.py:114) or unknown action
    }

  /** Fold `events` (MUST already be sorted by time, stably — model.py:215
    * `order by created_at`) into in-window Running/Stopped microseconds.
    */
  def runtimeDuring(
      events: Iterable[BillingEvent],
      deletedAtUs: Option[Long],
      startUs: Long,
      endUs: Long
  ): Runtime = {
    @inline def clamp(t: Long): Long = math.max(startUs, math.min(endUs, t))

    var buf = StateBuf.empty
    val it = events.iterator
    while (it.hasNext) {
      val event = it.next()
      buf = step(buf, clamp(event.timeUs), event.name, event.message)
    }

    deletedAtUs.foreach { d =>
      if (buf.current != null)
        buf = buf.exitAt(clamp(d)).copy(current = "Deleted", enteredAtUs = clamp(d))
    }

    if (buf.current != null) buf = buf.exitAt(endUs)
    Runtime(buf.runningUs, buf.stoppedUs)
  }

  /** K2 — outage/interval subtraction (billing.py:88-102): total window
    * runtime minus the runtime re-computed inside each excluded interval.
    */
  def runtimeExcluding(
      events: Iterable[BillingEvent],
      deletedAtUs: Option[Long],
      startUs: Long,
      endUs: Long,
      excludedIntervals: Seq[(Long, Long)]
  ): Runtime = {
    val base = runtimeDuring(events, deletedAtUs, startUs, endUs)
    excludedIntervals.foldLeft(base) { case (acc, (s, e)) =>
      acc - runtimeDuring(events, deletedAtUs, s, e)
    }
  }
}
