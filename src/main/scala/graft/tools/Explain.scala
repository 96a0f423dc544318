package graft.tools

import graft.bench.Harness
import org.apache.spark.sql.execution.FormattedMode

/** Print a catalog query's formatted pre-execution plan (pushed filters,
  * read schemas, join strategies, codegen stages), then the AQE-final
  * plan after a `collect()` — where runtime stage reuse, coalescing and
  * broadcast switches show. Runs on the [[Harness]] session, so the plan
  * is the one the bench executes. Redirect stdout to keep it as a file.
  *
  *   ./run_local.sh graft.tools.Explain <query> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || !graft.SparkEntry.queries.contains(args(0))) {
      System.err.println("usage: Explain <query> [sfDir]\nqueries:\n  " +
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Harness.session()
    val df = graft.SparkEntry.queries(name)(spark, dir)
    println(s"== $name @ $dir (local[${Harness.cpus}]) ==")
    println()
    println("---- explain(formatted), pre-execution ----")
    println(df.queryExecution.explainString(FormattedMode))
    df.collect() // materialize so AQE finalizes the plan
    println("---- final plan after execution (AQE-final) ----")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
