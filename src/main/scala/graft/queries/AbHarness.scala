package graft.queries

import org.apache.spark.sql.DataFrame

/** The same-JVM alternating A/B protocol — the one A/B harness (round-9
  * verdict item: two A/B mains had grown their own copies of it). An A/B
  * main builds its session with `graft.GraftSession.build()` and hands
  * its forms to [[run]]; once the A/B is settled the main and its losing
  * form are deleted and the commit that added them keeps the record.
  *
  * Why this instrument and not fresh-JVM solo runs: cross-session
  * singles of queries in the tens-of-seconds class swing ±20-40% with
  * host state (SCALE.md "measurement honesty"); alternating the forms
  * inside ONE warmed JVM, interleaved rep by rep so an ambient-load
  * window hits both forms equally, isolates the PLAN difference.
  * Before timing, every form is counted once and the counts must agree
  * exactly — an A/B between forms that disagree on the result is void.
  */
object AbHarness {

  /** Count-check then alternate `reps` timed materializations of each
    * form (noop sink — full column materialization). `tag` prefixes the
    * printed lines for multi-section A/Bs (e.g. "skew"). Returns each
    * form's best seconds, for callers that assert on the outcome. */
  def run(forms: Seq[(String, () => DataFrame)], reps: Int,
      tag: String = ""): Map[String, Double] = {
    val pfx = if (tag.isEmpty) "" else s"$tag "
    val counts = forms.map { case (n, f) => n -> f().count() }
    println(s"[ab] ${pfx}row counts: " +
      counts.map { case (n, c) => s"$n=$c" }.mkString(" "))
    require(counts.map(_._2).distinct.size == 1,
      s"forms disagree on ${pfx}row count — A/B void")
    val best = scala.collection.mutable.Map.empty[String, Double]
    for (r <- 1 to reps; (name, f) <- forms) {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[ab] ${pfx}rep=$r form=$name%-7s secs=$secs%.1f")
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), secs)
    }
    best.toMap
  }
}
