package graft

import scala.util.control.NonFatal

/**
 * Two-scale probe in ONE warm JVM: time selected entries at a base SF
 * dir and a probe SF dir (usually the [[ScaleFixture]] 10× replication)
 * and print one JSON line per entry with the wall ratio.
 *
 * One process for both scales is the measurement discipline this host
 * requires (BENCH_ISOLATION_r15.md): two fresh processes land in
 * different host-degradation phases and measured the same build's ratio
 * anywhere between 6.2 and 34. Min-of-2 per scale, interleaved
 * base/probe/base/probe so a mid-run phase shift inflates both sides.
 *
 * Usage: runMain graft.ScaleProbe <baseDir> <probeDir> name1,name2,...
 *        [smallDir]
 *
 * The optional 4th arg measures each entry at a near-zero-data SF too
 * (same trigger count, negligible rows) — the per-run FIXED cost of a
 * multi-trigger Structured Streaming entry (engine init + checkpoint
 * commits per micro-batch), which does not scale with data. The probe
 * then also reports `adj_ratio = (probe - fixed) / (base - fixed)`: the
 * data-dependent part's scaling, the honest figure for `_stream` legs
 * whose raw wall is dominated by per-batch engine cost at test scale.
 */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(baseDir, probeDir, namesS) = args.take(3)
    val smallDir = args.lift(3)
    val names = namesS.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.local()
    try spark.range(1000000).selectExpr("sum(id)").collect()
    catch { case NonFatal(_) => () }

    // a failed shot returns NaN — the entry then prints an error row
    // instead of a plausible-looking ratio computed from the
    // milliseconds an exception takes (a misspelled name must not read
    // as scale evidence)
    def shot(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        Bench.force(SparkEntry.queries(name)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      } catch {
        case NonFatal(e) =>
          println(s"[probe] $name@$dir failed: $e")
          Double.NaN
      }
    }
    names.foreach { n =>
      // untimed warmup at the base scale JITs the plan's generated code
      shot(n, baseDir)
      val b1 = shot(n, baseDir); val p1 = shot(n, probeDir)
      val b2 = shot(n, baseDir); val p2 = shot(n, probeDir)
      val b = math.min(b1, b2); val p = math.min(p1, p2)
      if (b.isNaN || p.isNaN)
        println(s"""{"entry":"$n","error":"shot failed - no measurement"}""")
      else smallDir match {
        case Some(sd) =>
          val f = math.min(shot(n, sd), shot(n, sd))
          val adj =
            if (f.isNaN || b - f <= 0.05) Double.NaN
            else (p - f) / (b - f)
          val adjS = if (adj.isNaN) "null" else f"$adj%.2f"
          println(f"""{"entry":"$n","base_sec":$b%.3f,"probe_sec":$p%.3f,"wall_ratio":${p / b}%.2f,"fixed_sec":$f%.3f,"adj_ratio":$adjS}""")
        case None =>
          println(f"""{"entry":"$n","base_sec":$b%.3f,"probe_sec":$p%.3f,"wall_ratio":${p / b}%.2f}""")
      }
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
