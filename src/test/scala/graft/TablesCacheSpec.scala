package graft

import java.nio.file.Files
import java.util.concurrent.Executors

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

/** `Tables.t` resolves a parquet path once per session and modification
  * time; every read must still behave like a fresh scan of the path. */
class TablesCacheSpec extends SparkSpec {

  private def write(df: DataFrame, dir: String, name: String = "t"): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def tableDir(df: DataFrame): String = {
    val dir = Files.createTempDirectory("graft_tables").toString
    write(df, dir)
    dir
  }

  test("a second read of a table launches no Spark job") {
    val dir = tableDir(spark.range(10).toDF("id"))
    val (_, first) = jobsDuring(Tables.t(spark, dir, "t"))
    val (df, second) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(first >= 1)
    assert(second === 0)
    assert(df.count() === 10)
  }

  test("two reads of a table self-join with distinct attribute ids") {
    val dir = tableDir(spark.range(10).toDF("id"))
    val a = Tables.t(spark, dir, "t")
    val b = Tables.t(spark, dir, "t")
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    // shared ids would make this `id = id + 1`: no rows instead of nine
    assert(a.join(b, a("id") === b("id") + 1).count() === 9)
  }

  test("overwriting a table in the same session shows its new rows and schema") {
    val dir = tableDir(spark.range(3).toDF("id"))
    assert(Tables.t(spark, dir, "t").count() === 3)
    write(spark.range(5).select(col("id"), (col("id") * 2).as("twice")), dir)
    val df = Tables.t(spark, dir, "t")
    assert(df.columns.toSeq === Seq("id", "twice"))
    assert(df.agg(sum("twice")).head().getLong(0) === 20L)
  }

  test("a new session resolves the table again") {
    val dir = tableDir(spark.range(10).toDF("id"))
    Tables.t(spark, dir, "t")
    val other = spark.newSession()
    val (_, first) = jobsDuring(Tables.t(other, dir, "t"))
    val (_, second) = jobsDuring(Tables.t(other, dir, "t"))
    assert(first >= 1)
    assert(second === 0)
  }

  test("four threads reading at once resolve once and get the same result") {
    val dir = tableDir(spark.range(1000).select(col("id"), (col("id") % 7).as("k")))
    val session = spark.newSession() // nothing resolved yet
    val pool = Executors.newFixedThreadPool(4)
    try {
      // the pool's threads start here, inside jobsDuring's job group
      val (dfs, jobs) = jobsDuring(
        (1 to 4).map(_ => pool.submit(() => Tables.t(session, dir, "t"))).map(_.get()))
      assert(jobs === 1)
      val results = dfs.map(df => pool.submit(() =>
        df.groupBy("k").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
        .map(_.get())
      assert(results.distinct.size === 1)
      assert(results.head.values.sum === 1000L)
    } finally pool.shutdown()
  }

  test("a missing table still fails with the reader's AnalysisException") {
    val dir = Files.createTempDirectory("graft_tables").toString
    intercept[AnalysisException](Tables.t(spark, dir, "absent"))
  }
}
