package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic batch-slot store shared by the streaming monitors
  * ([[QualityMonitor]] / [[SchemaDriftMonitor]]).
  *
  * The naive `mode("overwrite").parquet(batches/batch=<id>)` is NOT
  * atomic: overwrite deletes the slot, then a multi-task job commits
  * into it — a crash in between leaves the slot empty or partial, and a
  * read that merely catches AnalysisException folds the torn slot in
  * silently, undercounting totals instead of failing loudly.
  *
  * Discipline here:
  *  - '''writeSlot''': write the whole result to a dot-prefixed
  *    inflight sibling (`.inflight-batch=<id>` — hidden from Spark's
  *    file listing AND from partition discovery), then delete-and-rename
  *    into the slot. Rename is one metadata op on HDFS/local-FS; a crash
  *    before it leaves the previous committed state intact, and the
  *    slot-less window after the delete is exactly the window where the
  *    streaming engine had not committed the micro-batch either — the
  *    batch replays and the rewrite is idempotent.
  *  - '''readSlots''': returns None only when the store directory does
  *    not exist yet (the before-first-batch state); any OTHER failure
  *    propagates. Every visible slot is `_SUCCESS`-gated — a slot
  *    missing its commit marker (legacy torn write, manual tampering)
  *    throws instead of silently undercounting.
  */
object BatchStore {

  /** Atomically (write-then-rename) publish `df` as the slot directory
    * `slotPath`. Re-publishing an existing slot replaces it whole —
    * the replay-idempotence contract for batch-id-addressed stores. */
  def writeSlot(df: DataFrame, slotPath: String): Unit = {
    val dst = new Path(slotPath)
    val fs = dst.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    val tmp = new Path(dst.getParent, s".inflight-${dst.getName}")
    df.write.mode("overwrite").parquet(tmp.toString)
    fs.mkdirs(dst.getParent)
    if (fs.exists(dst) && !fs.delete(dst, true))
      throw new IllegalStateException(s"BatchStore: cannot clear $dst")
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(s"BatchStore: rename $tmp -> $dst failed")
  }

  /** Read every committed slot under `batchesDir` (partition-discovered,
    * so `batch=<id>` slot names surface as a `batch` column). None iff
    * the directory does not exist yet; throws on any uncommitted slot. */
  def readSlots(spark: SparkSession, batchesDir: String): Option[DataFrame] = {
    val dir = new Path(batchesDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return None
    val slots = fs.listStatus(dir)
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
    if (slots.isEmpty) return None
    val torn = slots.filterNot(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
    if (torn.nonEmpty)
      throw new IllegalStateException(
        "BatchStore: uncommitted slot(s) " +
          torn.map(_.getPath.getName).mkString(", ") +
          s" under $batchesDir — a torn write must be repaired (replay the " +
          "batch or delete the slot), not silently skipped")
    Some(spark.read.parquet(batchesDir))
  }
}
