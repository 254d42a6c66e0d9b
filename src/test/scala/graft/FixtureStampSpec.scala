package graft

/** Fixture-metadata audit (r17 verdict task 6): every committed
  * fixture must carry a stamp matching HEAD's generator constants, so a
  * regenerated artifact can never silently pair with stale code (the
  * r16 failure class: a fixture built under an older id-stride scheme
  * was accepted while the semi-join had moved on, dropping every planted
  * variant row).
  *
  *  - classifier_weights.parquet (COMMITTED): its `.meta` sidecar must
  *    match `Classifier.stampText` — changing Dim / StructDim / junk
  *    offsets at HEAD without retraining fails here, not as a silent
  *    x72/x84 score shift. */
class FixtureStampSpec extends SparkSpec {

  test("committed classifier weights carry a stamp matching HEAD's constants") {
    assert(graft.text.Classifier.stampOk(spark),
      "fixtures/classifier_weights.parquet.meta missing or stale — " +
        s"expected '${graft.text.Classifier.stampText}'; retrain with " +
        "runMain graft.TrainClassifier (saveWeights writes the stamp)")
  }

  test("the stamp check itself still detects drift (negative control)") {
    // a bogus path must read as not-stamped, never as vacuously ok
    assert(!graft.text.Classifier.stampOk(spark, "/tmp/no_such_weights.parquet"))
  }
}
