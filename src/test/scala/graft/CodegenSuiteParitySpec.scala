package graft

/** Suite-wide codegen/interpreted parity (r17 verdict task 1): every
  * `SparkEntry.queries` entry runs twice at sf0.001 — once under the
  * default codegen configuration (the arm the DuckDB oracle certifies)
  * and once fully interpreted (`spark.sql.codegen.wholeStage=false` +
  * `factoryMode=NO_CODEGEN`, the arm constant folding and codegen
  * fallback actually execute in production plans) — and the two row
  * multisets must be identical.
  *
  * This closes the one wrong-answer class the oracle cannot see: a
  * divergence between an expression's `eval` and its `doGenCode` (or
  * between interpreted and generated projections/orderings anywhere in
  * a plan) would make the SAME query return different answers depending
  * on whether its inputs happened to be literal-foldable. Exact string
  * comparison, no numeric tolerance: both arms run identical kernels
  * over identical partitioning, so any drift is a real dual-path bug. */
class CodegenSuiteParitySpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def render(v: Any): String = v match {
    case null => "␀"
    case b: Array[Byte] => "0x" + b.map("%02x".format(_)).mkString
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + "->" + render(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(render).mkString("(", ",", ")")
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case f: Float => java.lang.Float.toString(f)
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }

  /** Sorted canonical rows + schema; cache cleared so per-query
    * persist() intermediates never leak across the 152×2 runs. */
  private def rows(name: String): (String, Seq[String]) = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    try (df.schema.catalogString,
      df.collect().toSeq.map(r => render(r)).sorted)
    finally spark.catalog.clearCache()
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("all queries: codegen and interpreted execution return identical rows") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val diffs = names.flatMap { n =>
      val cg = rows(n)
      var ic: (String, Seq[String]) = null
      withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { ic = rows(n) }
      if (cg == ic) None
      else {
        val (cgOnly, icOnly) =
          (cg._2.diff(ic._2).take(3), ic._2.diff(cg._2).take(3))
        Some(s"$n: schemaEq=${cg._1 == ic._1} " +
          s"rows cg=${cg._2.size} ic=${ic._2.size}\n" +
          s"  codegen-only: $cgOnly\n  interpreted-only: $icOnly")
      }
    }
    assert(diffs.isEmpty,
      s"codegen vs interpreted divergence in ${diffs.size} queries:\n" +
        diffs.mkString("\n"))
  }
}
