package graft.queries

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Pins the determinism precondition of q_cosine_pairs' LATE distinct
  * (round-13 advice): duplicate LSH candidates collapse only because
  * round(cosine,6) and same_label are pure functions of the (id_a,
  * id_b) pair. The assertion that guards it: on the pre-distinct
  * verified frame, distinct-on-(id_a,id_b) count equals full-row
  * distinct count — if the verify expression ever goes
  * nondeterministic, the full-row distinct keeps extra rows and this
  * fails. Runs on a synthetic near-dup corpus (sf embeddings produce
  * zero ≥0.85 pairs at test grains), built so several id pairs collide
  * in MULTIPLE LSH tables — the duplicate-candidate case the distinct
  * exists for.
  */
class CosinePairsDistinctSpec extends SparkTestBase {
  import spark.implicits._

  test("pre-distinct verified frame is unique on (id_a, id_b)") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian())
    // 40 vectors in 4 clusters of 10 near-identical copies: every
    // in-cluster pair passes cosine >= 0.85 and lands in the same
    // bucket of most/all tables -> multi-table duplicate candidates.
    val rows = (0 until 40).map { i =>
      val c = i / 10
      val v = Array.tabulate(64)(k =>
        base(k) + c * 3.0 + rnd.nextGaussian() * 0.01)
      (i.toLong, v, s"lab$c")
    }
    val e = rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val raw = SimilarityQueries.lshCandidatesRaw(e)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    // candidate duplication must actually occur, or the test is vacuous
    assert(raw.count() > raw.dropDuplicates("id_a", "id_b").count(),
      "synthetic corpus produced no duplicate LSH candidates")
    val verified = raw
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("label").as("label_a")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
        col("label").as("label_b")), Seq("id_b"))
      .withColumn("cos", round(SimilarityQueries.cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos") >= 0.85)
      .select(col("id_a"), col("id_b"), col("cos"),
        (col("label_a") === col("label_b")).cast(IntegerType).as("same_label"))
    val full = verified.distinct().count()
    val byPair = verified.dropDuplicates("id_a", "id_b").count()
    assert(full == byPair,
      s"verify expressions not deterministic per pair: $full full-row vs $byPair pair-key rows")
    assert(full > 0)
  }
}
