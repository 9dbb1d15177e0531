package graftbench

/**
 * The open-loop schedule: request `i` is due at `start + i * interval`,
 * whether or not earlier requests have finished. Latency is timed from the
 * due time, so a stall is charged to every request it delays, and the
 * generator's own lateness is reported rather than hidden.
 */
final class DueClock(val startNs: Long, val intervalNs: Long) {
  require(intervalNs > 0, "interval must be positive")

  def due(i: Long): Long = startNs + i * intervalNs

  /** Requests due in `[start, untilNs)`. */
  def dueBefore(untilNs: Long): Long =
    if (untilNs <= startNs) 0L
    else (untilNs - startNs + intervalNs - 1) / intervalNs

  /** How late request `i` starts when it starts at `nowNs` (0 if early). */
  def lateNs(i: Long, nowNs: Long): Long = math.max(0L, nowNs - due(i))

  /** Requests already due at `nowNs` that have not started, when request
    * `i` is the next to start. */
  def backlog(i: Long, nowNs: Long): Long =
    if (nowNs < startNs) 0L
    else math.max(0L, (nowNs - startNs) / intervalNs + 1 - i)

  /** Sleeps until request `i` is due; returns at once when it is late. */
  def awaitDue(i: Long): Unit = {
    var left = due(i) - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = due(i) - System.nanoTime()
    }
  }
}
