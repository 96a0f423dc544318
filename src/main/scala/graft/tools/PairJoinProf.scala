package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A/B the q96/q102/q108 co-purchase pair build: plain self-join on
  * the distinct (order, part) list (the planner broadcasts one full
  * side at bench SFs and RECOMPUTES the distinct under the
  * BroadcastExchange) vs the r17 explicit co-partition on the basket
  * key before the self-join (one shared exchange, partition-local pair
  * generation — the BasketEdges A/D finding (OPTIMIZATION_r17.md) applied to the
  * inline sites). Noop-sink timings (§1.4), warm second run, plus the
  * run-independent shuffle rows.
  *
  *   ./run_local.sh graft.tools.PairJoinProf [sfDir]
  */
object PairJoinProf {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val mx = graft.bench.QueryMetricsListener.install(spark)

    def support(li: DataFrame, minOrders: Long): DataFrame = {
      val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
      a.join(b, "l_orderkey").filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= minOrders)
        .select(col("p1"), col("p2"))
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def ab(label: String, df: => DataFrame): Unit = {
      noop(df) // warm
      mx.reset()
      val t0 = System.nanoTime()
      noop(df)
      val dt = (System.nanoTime() - t0) / 1e9
      val m = mx.read(spark)
      println(f"[pairjoin] $label%-24s ${dt}%7.2f s  shufW rows=${m.shuffleWriteRows}%-10d W MB=${m.shuffleWriteBytes / 1e6}%.0f")
    }
    def liPlain = graft.core.Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    ab("A plain self-join", support(liPlain, 2L))
    ab("B co-partitioned", support(liPlain.repartition(col("l_orderkey")), 2L))
    ab("A plain (again)", support(liPlain, 2L))
    spark.stop()
  }
}
