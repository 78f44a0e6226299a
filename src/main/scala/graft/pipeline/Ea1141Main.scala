package graft.pipeline

import org.apache.spark.sql.SparkSession

/** User-facing entry points mirroring the reference's two programs, so a
  * reference user can run the same jobs against this engine:
  *
  *   generate-mapping <imageRoot> <csvDir> <outJson>
  *     — `generate_mapping.py.__main__` (`:159-169`): scan the volume
  *       tree, derive labels, sink the uid->record JSON map.
  *   load-truths <mappingJson> <gtType> <scope> <dbtOnly> <mriExcluded> <outDir>
  *     — `get_ea1141_dbt_truths` (`load_ground_truths.py:3`): the label
  *       query at any of the 24 parameterizations, written as parquet.
  *
  * `csvDir` holds the three clinical CSVs by their published names.
  */
object Ea1141Main {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build()
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "generate-mapping" :: imageRoot :: csvDir :: outJson :: Nil =>
      val volumes = graft.sources.DicomLike.volumes(VolumeScan.scan(spark, imageRoot))
      // binaryFile paths are file: URIs; rebase the URI prefix (slash
      // included) so ImagePath comes out `$ROOT$/<patient>/...` exactly
      // like the reference's str.replace with a trailing-slash root.
      val rebaseRoot =
        (if (imageRoot.contains(":")) imageRoot else s"file:$imageRoot") +
          (if (imageRoot.endsWith("/")) "" else "/")
      val mapping = Ea1141Pipeline.buildMapping(
        volumes,
        ClinicalCsv.read(spark, s"$csvDir/ea1141_year0_screening_derived.csv"),
        ClinicalCsv.read(spark, s"$csvDir/ea1141_year0_tomolesions_outcome.csv"),
        ClinicalCsv.read(spark, s"$csvDir/ea1141_year0_mrilesions_outcome.csv"),
        imageRoot = rebaseRoot)
      Ea1141Json.writeMappingJson(mapping, outJson)
      println(s"[ea1141] wrote ${Ea1141Json.readMappingJson(spark, outJson).count()} records to $outJson")

    case "load-truths" :: mappingJson :: gtType :: scope :: dbtOnly :: mriExcluded :: outDir :: Nil =>
      val mapping = Ea1141Json.readMappingJson(spark, mappingJson)
      val truths = Ea1141Pipeline.groundTruths(mapping, gtType, scope,
        dbtOnly.toBoolean, mriExcluded.toBoolean)
      truths.write.mode("overwrite").parquet(outDir)
      println(s"[ea1141] wrote ${spark.read.parquet(outDir).count()} label groups to $outDir")

    case other =>
      throw new IllegalArgumentException(
        s"""usage: generate-mapping <imageRoot> <csvDir> <outJson>
           |     | load-truths <mappingJson> <gtType> <scope> <dbtOnly> <mriExcluded> <outDir>
           |got: ${other.mkString(" ")}""".stripMargin)
  }
}
