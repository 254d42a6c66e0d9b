package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** The slot store's safety contract: an absent store reads as None,
  * a replayed slot replaces its predecessor whole, and a slot without
  * its `_SUCCESS` marker fails the read instead of undercounting. */
class BatchStoreSpec extends SparkSpec {

  test("readSlots: None before the first slot; re-publish replaces whole; a torn slot throws") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_batchstore").toString + "/batches"
    assert(BatchStore.readSlots(spark, dir).isEmpty)

    BatchStore.writeSlot(Seq(1L, 2L, 3L).toDF("v"), s"$dir/batch=0")
    BatchStore.writeSlot(Seq(7L).toDF("v"), s"$dir/batch=0") // replay
    val slots = BatchStore.readSlots(spark, dir).get
    assert(slots.select("batch", "v").as[(Long, Long)].collect().toSeq ===
      Seq((0L, 7L)))

    // a slot directory whose write never committed: no _SUCCESS marker
    Seq(9L).toDF("v").write.parquet(s"$dir/batch=1")
    Files.delete(java.nio.file.Paths.get(s"$dir/batch=1/_SUCCESS"))
    val e = intercept[IllegalStateException](BatchStore.readSlots(spark, dir))
    assert(e.getMessage.contains("batch=1"))
  }
}
