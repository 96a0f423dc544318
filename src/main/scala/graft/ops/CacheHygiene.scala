package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** The only code that cuts lineage, and the owner of every cut.
  *
  * A cut is a `localCheckpoint` recorded in an [[Arena]]: the
  * iterative operators' per-round state, the |E|-sized partitioned
  * edge checkpoint ([[ShuffleSizing.partitionedCut]]), and every pinned
  * frame that a plan would otherwise compute twice. A checkpointed
  * Dataset exposes no `unpersist`, so a cut made outside an arena was
  * held until the ContextCleaner happened to collect it (r15 advice).
  * Here every cut belongs to the arena of one call: on return the
  * cuts the returned frame reads pass to the caller (dispose with
  * [[release]]) and every other cut is released; the result is
  * SELF-CONTAINED, its lineage cut before the intermediates go, so a
  * recomputed partition never chases freed blocks (the r15 Bfs
  * lineage finding).
  *
  * Ownership is recorded per cut, never by diffing the session's
  * persistent-RDD registry: an RDD that another query persists on the
  * same session while an operator runs is not the operator's and is
  * never released by it. Cuts are executor-local: every deployment of
  * the engine loses an executor only with its JVM. */
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

  /** The RDD behind a frame's own LogicalRDD root — what a cut
    * registers as persisted. None for any other root. */
  private def rootRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** The SparkContext local property that names a job's stages. */
  private val CallSiteShort = "callSite.short"

  /** "localCheckpoint at File.scala:N" for the first engine frame
    * outside the cut helpers. */
  private def callerSite(): String =
    Thread.currentThread.getStackTrace.find { f =>
      val c = f.getClassName
      c.startsWith("graft.") && !c.startsWith("graft.ops.CacheHygiene") &&
        !c.startsWith("graft.ops.ShuffleSizing")
    }.fold("localCheckpoint")(f => s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}")

  /** Ids of the RDDs at the frame's LogicalRDD leaves. */
  private def reads(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** The cuts one operator call (or one [[GraphCapture]]) made.
    * Single-threaded: one arena belongs to one call. */
  final class Arena private[graft] () {
    private val owned = scala.collection.mutable.HashMap.empty[Int, RDD[_]]

    /** Cut `df`'s lineage with a `localCheckpoint` and record it. Eager
      * by default: the blocks exist on return, so anything the plan
      * read may be freed. A lazy cut is computed by the first job that
      * reads it (CC's rounds fold the block write into their
      * convergence sum); free nothing it reads before that job runs. */
    def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
      // name an eager cut's job after the operator line that asked for
      // it; Spark's own call site would be this line for every cut
      val sc = df.sparkSession.sparkContext
      val prev = sc.getLocalProperty(CallSiteShort)
      sc.setLocalProperty(CallSiteShort, callerSite())
      val out = try df.localCheckpoint(eager) finally sc.setLocalProperty(CallSiteShort, prev)
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
    * is released except those a returned frame still reads (its final
    * cut, caller-owned: dispose with [[release]]); a result of any other
    * type (a model, a count) keeps none. On an exception, all of them
    * are released. */
  def scope[T](body: Arena => T): T = {
    val ck = new Arena
    val out =
      try body(ck)
      catch { case e: Throwable => ck.close(); throw e }
    ck.closeExcept(out match {
      case ds: Dataset[_] => reads(ds.toDF())
      case _ => Set.empty
    })
    out
  }

  /** Fully release a frame returned by a scope: the
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
