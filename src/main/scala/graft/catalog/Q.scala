package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its name, the DuckDB SQL the oracle compares its
  * result against (same column names, same deterministic arithmetic),
  * and its engine plan over a fixture dir. Keeping both in one record
  * is what keeps an oracle from drifting away from its engine twin. */
final case class Q(name: String, oracle: String)(val build: (SparkSession, String) => DataFrame)

object Q {
  /** The families concatenated; a name may appear only once. */
  def registry(families: Seq[Q]*): Seq[Q] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
