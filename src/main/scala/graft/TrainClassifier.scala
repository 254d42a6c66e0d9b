package graft

import org.apache.spark.sql.functions._

/** One-shot trainer for the x72 quality classifier: builds the
  * rules-labeled fixture from a testdata documents table, trains the
  * hashed linear model (graft.text.Classifier), writes the dense weight
  * parquet artifact, and prints the training-set confusion counts.
  *
  * Usage: runMain graft.TrainClassifier [sfDir] [outPath]
  * Defaults: /root/testdata/sf0.1 → fixtures/classifier_weights.parquet
  * (the committed artifact Verify's x72/x84 and their oracles read;
  * sf0.1 is the largest local slice — 5000 docs + 15000 planted junk —
  * and is text-disjoint from both sf0.01 and sf0.001, so those stay
  * honest held-out sets). */
object TrainClassifier {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse(graft.text.Classifier.DefaultWeightsPath)
    val spark = GraftSession.build()

    val labeled = graft.text.Classifier.labeledFixture(Tables.documents(spark, sfDir))
    val epochs = args.lift(3).map(_.toInt).getOrElse(100)
    val w = graft.text.Classifier.train(labeled, maxEpochs = epochs)
    graft.text.Classifier.saveWeights(spark, w, out)

    def confusion(tag: String, data: org.apache.spark.sql.DataFrame): Unit =
      data.withColumn("margin",
          graft.plans.functions.hashed_weight_sum(
            graft.text.TextOps.classifierFeatures(col("text")), lit(w)))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("margin") >= 0, 1L).otherwise(0L)).as("kept"))
        .orderBy("label").collect()
        .foreach(r => println(
          s"[$tag] label=${r.getInt(0)} n=${r.getLong(1)} kept=${r.getLong(2)}"))

    confusion("train", labeled)
    // held-out: the sf0.001 documents are a disjoint draw from the same
    // generator — the generalization check that matters
    val heldDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    if (heldDir != sfDir && new java.io.File(s"$heldDir/documents.parquet").exists())
      confusion("held-out",
        graft.text.Classifier.labeledFixture(Tables.documents(spark, heldDir)))
    println(s"[train] nonzero weights: ${w.count(_ != 0L)}/${w.length} -> $out")
    spark.stop()
  }
}
