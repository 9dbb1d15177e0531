package graftbench

/** Checks of the open-loop clock, run by perfbench/tests (no Spark needed):
  * `java -cp <classpath> graftbench.SelfTest` exits 0 when all hold. */
object SelfTest {
  private var failures = 0
  private def check(what: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL: $what") }

  def main(args: Array[String]): Unit = {
    val ms = 1000000L
    val c = new DueClock(startNs = 1000 * ms, intervalNs = 100 * ms)
    check("request 0 is due at the start", c.due(0) == 1000 * ms)
    check("request i is due i intervals later", c.due(7) == 1700 * ms)
    check("nothing is due before the start", c.dueBefore(999 * ms) == 0)
    check("one request is due just after the start", c.dueBefore(1001 * ms) == 1)
    check("due-before is exclusive of its bound", c.dueBefore(1200 * ms) == 2)
    check("an early start is not late", c.lateNs(3, 1250 * ms) == 0)
    check("lateness runs from the due time", c.lateNs(3, 1342 * ms) == 42 * ms)
    check("no backlog before the start", c.backlog(0, 500 * ms) == 0)
    check("the due request is the backlog", c.backlog(0, 1000 * ms) == 1)
    check("requests 1 and 2 wait while 0 is out", c.backlog(1, 1250 * ms) == 2)
    check("a schedule ahead of time has no backlog", c.backlog(5, 1250 * ms) == 0)

    val now = System.nanoTime()
    val live = new DueClock(now, 30 * ms)
    live.awaitDue(2)
    check("awaitDue returns no earlier than the due time", System.nanoTime() >= live.due(2))
    val t0 = System.nanoTime()
    live.awaitDue(0)
    check("awaitDue returns at once for a late request", System.nanoTime() - t0 < 5 * ms)

    var threw = false
    try new DueClock(0, 0) catch { case _: IllegalArgumentException => threw = true }
    check("a zero interval is refused", threw)

    if (failures > 0) sys.exit(1)
    println("SelfTest: all DueClock checks passed")
  }
}
