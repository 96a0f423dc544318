package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Persistence bookkeeping for the iterative graph operators
  * ([[PageRank]] / [[LabelProp]] / [[Bfs]] / [[GraphCapture]] / the CC
  * rounds in Dedup).
  *
  * Those loops materialize per-round state (localCheckpoint by
  * default) plus an |E|-sized partitioned edge checkpoint
  * ([[ShuffleSizing.partitionedCut]]). A checkpointed Dataset
  * exposes no `unpersist`, so without explicit disposal every call
  * leaked the edge footprint for the session lifetime (r15 advice).
  * The contract enforced here: ONLY the returned frame stays
  * persisted, and that frame is SELF-CONTAINED — its lineage is cut
  * with one final materialization BEFORE the intermediates are
  * released, so a recomputed partition never chases freed checkpoint
  * blocks (the r15 Bfs lineage finding).
  *
  * Ownership is recorded per cut ([[Arena]]), never by diffing the
  * session's persistent-RDD registry: an RDD that another query
  * persists on the same session while an operator runs is not the
  * operator's and is never released by it. */
private[graft] object CacheHygiene {

  /** Run a DELIBERATE checkpoint-release block with the known
    * "lineage has been truncated" WARN quieted (every unpersist of a
    * localCheckpoint RDD logs it — here it is the exact intent),
    * restoring the previous level after. Scoping the quieting to the
    * release call sites (instead of the old session-global silence in
    * Tables.tune, r16 advice) keeps the same warning VISIBLE anywhere
    * else — where it genuinely signals lineage truncation on a block
    * something still needed. */
  def quietRelease[T](body: => T): T = {
    val logger = "org.apache.spark.rdd.MapPartitionsRDD"
    val prev = org.apache.logging.log4j.LogManager.getLogger(logger).getLevel
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      logger, org.apache.logging.log4j.Level.ERROR)
    try body
    finally org.apache.logging.log4j.core.config.Configurator.setLevel(logger, prev)
  }

  /** The RDD behind a frame's own LogicalRDD root — what
    * `localCheckpoint` (eager, lazy or over a repartition) registers as
    * persisted. None for any other root. */
  private def rootRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Ids of the RDDs at the frame's LogicalRDD leaves. */
  private def reads(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** The checkpoints one operator call (or one [[GraphCapture]]) made.
    * Single-threaded: one arena belongs to one call. A persisting
    * `materialize` must be EAGER (the default localCheckpoint is):
    * [[free]] and the scope exit drop blocks that a lazy cut would
    * still have to compute from. */
  final class Arena private[graft] () {
    private val owned = scala.collection.mutable.HashMap.empty[Int, RDD[_]]

    /** `materialize(df)`, recording the RDD behind the result's
      * LogicalRDD root. `materialize` returns a new cut or a plain plan
      * (identity, a parquet round trip), whose root records nothing. */
    def cut(df: DataFrame, materialize: DataFrame => DataFrame): DataFrame = {
      val out = materialize(df)
      rootRdd(out).foreach(r => owned(r.id) = r)
      out
    }

    /** Release the cut behind `df` now (a round loop dropping the
      * previous round); a no-op for frames this arena did not cut. */
    def free(df: DataFrame): Unit =
      rootRdd(df).flatMap(r => owned.remove(r.id)).foreach(r => quietRelease(r.unpersist(false)))

    /** Release every recorded cut except the RDDs in `keep`, which pass
      * to the caller. */
    private[CacheHygiene] def closeExcept(keep: Set[Int]): Unit = quietRelease {
      owned.valuesIterator.filterNot(r => keep(r.id)).foreach(_.unpersist(false))
      owned.clear()
    }

    /** Release every recorded cut. */
    def close(): Unit = closeExcept(Set.empty)
  }

  /** Run `body` with a fresh [[Arena]]. On return, every cut it recorded
    * is released except those the returned frame still reads (its
    * final cut, caller-owned: dispose with [[release]]); on an
    * exception, all of them. */
  def scope(body: Arena => DataFrame): DataFrame = {
    val ck = new Arena
    val out =
      try body(ck)
      catch { case e: Throwable => ck.close(); throw e }
    ck.closeExcept(reads(out))
    out
  }

  /** Fully release a frame returned by the graph operators: the
    * CacheManager entry if it is `.cache()`-backed, plus the
    * checkpoint RDD at any LogicalRDD leaf (`Dataset.unpersist` is a
    * silent no-op on a checkpointed frame). Safe on any frame —
    * non-persisted leaves are untouched. */
  def release(df: DataFrame): Unit = quietRelease {
    df.unpersist(blocking = true)
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = true)
      case _ => ()
    }
  }
}
