package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog._

/** Driver contract: the flagship `entry` and the 205-query catalog,
  * each query one `Q` record in its family file under `graft.catalog`
  * holding both its engine plan and its DuckDB oracle SQL.
  *
  * Every query is written so its result is *bit-deterministic* across
  * engines and partitionings (decimal-exact sums cast back to double,
  * sequential double folds for vector math, integer arithmetic for
  * ratios), which is what makes the DuckDB hash-compare oracle viable.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  val catalog: Seq[Q] = Q.registry(
    RelationalQueries.all, EltQueries.all, TextQueries.all, DedupQueries.all,
    VectorQueries.all, GraphQueries.all, SketchQueries.all, StatsQueries.all,
    SamplingQueries.all, WindowQueries.all, IvmQueries.all, MultimodalQueries.all,
    StreamingQueries.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] = catalog.map(q => q.name -> q.oracle).toMap
}
