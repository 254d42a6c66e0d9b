package graft

/** Regeneration CLI for the staged x87/x89 media corpora (the
  * TrainClassifier discipline): deletes nothing, (re)materializes both
  * fixture tables for the full doc-id universe through the REAL codec
  * round-trips, and prints their row counts. Usage:
  * `runMain graft.BuildMediaFixtures [fixtureDir]`. */
object BuildMediaFixtures {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse(graft.multimodal.MediaFixtures.defaultDir)
    val spark = GraftSession.build()
    val universe = spark.range(graft.multimodal.MediaFixtures.UniverseDocs)
      .toDF("doc_id")
    graft.streaming.BatchStore.writeSlot(
      graft.multimodal.Multimodal.imageCorpus(universe).toDF(),
      s"$dir/images.parquet")
    graft.streaming.BatchStore.writeSlot(
      graft.multimodal.Multimodal.audioCorpus(universe).toDF(),
      s"$dir/audio.parquet")
    val ni = spark.read.parquet(s"$dir/images.parquet").count()
    val na = spark.read.parquet(s"$dir/audio.parquet").count()
    println(s"media fixtures at $dir: $ni images, $na audio tracks")
    spark.stop()
  }
}
