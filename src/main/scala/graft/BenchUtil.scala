package graft

import scala.util.control.NonFatal

/** Shared bench plumbing: host-load capture and temp cleanup.
  *
  * Load capture is round-9 verdict item 3: the canary-spread gate
  * provably misses a UNIFORMLY noisy host — a uniform noise floor slows
  * the canary and the queries alike, so max/min spread stays near 1 on
  * a run that is 2× slow end to end (SCALE.md, round-9 fleet-bench
  * section). `/proc/loadavg`'s 1-minute field sampled BEFORE the bench
  * does any work is the direct signal: at that moment this JVM
  * contributes ~nothing, so significant load is a neighbor. The end
  * sample is recorded for context only (it includes our own 32 threads
  * and is NOT a contention signal by itself).
  */
object BenchUtil {
  /** 1-minute loadavg, or -1.0 where /proc/loadavg doesn't exist. */
  def loadAvg1m(): Double =
    try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
        .trim.split("\\s+")(0).toDouble
    } catch { case NonFatal(_) => -1.0 }

  /** Pre-run load above this fraction of the core count flags the run
    * contended. 25% of cores idle-before-start is far above any
    * self-inflicted load (the JVM is single-threaded at sample time)
    * and far below the bench's own steady state, so it separates the
    * two regimes cleanly. */
  def loadContended(loadStart: Double, cpus: Int): Boolean =
    loadStart > 0.25 * cpus

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** (busyTicks, stealTicks, totalTicks) from /proc/stat's aggregate
    * cpu line. Steal is the UNIFORM-noise signal loadavg and canaries
    * both miss on a VM host: a neighbor stealing cycles slows every
    * task proportionally — loadavg stays low (runnable count is ours),
    * canary spread stays ~1 (the floor is uniform) — but steal ticks
    * accumulate and are directly attributable. */
  def cpuTicks(): (Long, Long, Long) =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      val steal = if (cpu.length > 7) cpu(7) else 0L
      val total = cpu.sum
      val idle = cpu(3) + (if (cpu.length > 4) cpu(4) else 0L)
      (total - idle - steal, steal, total)
    } catch { case NonFatal(_) => (0L, 0L, 0L) }

  /** Steal fraction of the elapsed interval between two cpuTicks()
    * samples: stolen ticks / total ticks. Above ~0.05 the run lost a
    * visible share of the machine to a neighbor. */
  def stealFrac(start: (Long, Long, Long), end: (Long, Long, Long)): Double = {
    val dTotal = end._3 - start._3
    if (dTotal <= 0) 0.0 else (end._2 - start._2).toDouble / dTotal
  }
}
