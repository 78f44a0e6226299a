package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}

import graft.pipeline.{Ea1141Json, Ea1141Pipeline}
import perfbench.Main.noop

/** The `load-truths` command at one of the 24 label-query
  * parameterizations: read the mapping, run `groundTruths`, materialize the
  * groups; with its output check and its traced layers. */
object Truths {

  /** Canonical form of one label group: key, then (uid, one-hot) pairs
    * in uid order. */
  def canonical(key: String, pairs: Seq[(String, Seq[Int])]): String =
    key + "|" + pairs.sortBy(_._1).map { case (u, t) => s"$u:${t.mkString}" }.mkString(",")

  def canonical(r: Row): String =
    canonical(r.getString(0),
      r.getSeq[String](1).zip(r.getSeq[scala.collection.Seq[Int]](2).map(_.toSeq)))

  final case class Expect(groups: Int, hash: Long)

  def expected(records: Seq[Ea1141Gen.Record]): Map[Ea1141Gen.Params, Expect] =
    Ea1141Gen.AllParams.map { p =>
      val g = Ea1141Gen.expectedTruths(records, p)
      p -> Expect(g.size, Hash.unordered(g.map { case (k, v) => canonical(k, v) }))
    }.toMap

  def check(rows: Seq[Row], want: Expect): Option[String] =
    if (rows.size != want.groups) Some(s"${rows.size} groups, expected ${want.groups}")
    else if (Hash.unordered(rows.map(canonical)) != want.hash) Some("group hash differs")
    else None

  /** The load-truths call. With a tracer, the parsed mapping is first
    * materialized on its own, so the parse and the label query separate. */
  def loadTruths(spark: SparkSession, json: Path, p: Ea1141Gen.Params,
      traced: Option[(Tracer, Probe)]): Seq[Row] = {
    def truths(): Seq[Row] = {
      val m = Ea1141Json.readMappingJson(spark, json.toString)
      Ea1141Pipeline.groundTruths(m, p.gtType, p.scope, p.dbtOnly, p.mriExcluded)
        .collect().toSeq
    }
    traced match {
      case Some((t, pr)) => t.span("op") {
        pr.attribute("read")(t.span("p.read")(noop(Ea1141Json.readMappingJson(spark, json.toString))))
        t.span("trace.drain")(pr.settle())
        val rows = pr.attribute("groundtruths")(t.span("p.truths")(truths()))
        t.span("trace.drain")(pr.settle())
        rows
      }
      case None => truths()
    }
  }

  /** Layer figures per load-truths call, from `ops` traced calls; with the
    * total self time and the time spent materializing the parse on its
    * own, which only tracing does. */
  def layers(spans: Seq[Span], probe: Probe, ops: Int): (Map[String, Double], Double, Double) = {
    def total(n: String) = spans.filter(_.name == n).map(_.seconds).sum
    val read = total("p.read")
    val gtSelf = total("p.truths") - read
    val gt = probe.get("groundtruths")
    val layer = Map(
      "ea1141json.read_s" -> read / ops,
      "groundtruths.plan_ms" -> gt.planMs.toDouble / ops,
      "groundtruths.exec_ms" -> (gtSelf * 1e3 - gt.planMs) / ops,
      "groundtruths.jobs" -> gt.jobs.toDouble / ops,
      "groundtruths.tasks" -> gt.tasks.toDouble / ops)
    (layer, read + gtSelf, read)
  }
}
