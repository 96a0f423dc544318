package graft.ops

import java.util.Arrays

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** A captured edge list that fits one JVM, solved on the driver.
  *
  * Why: the graph family's distributed rounds pay a cluster's
  * scheduling cost per round — q205 at sf0.01 ran 57 one-task stages
  * for 231k edges. Under [[GraphCapture.DriverMaxEdges]] a graph is
  * collected into primitive arrays once and every kernel below runs on
  * the driver ("Scalability! But at what COST?", McSherry et al. 2015).
  *
  * Layout: `ids` holds the distinct ids of both edge columns, sorted, so
  * a vertex is an index and comparing indices compares ids. The rows
  * (s, t) are CSR-ordered by s: vertex `v`'s t-indices are
  * `nbr(start(v) until start(v + 1))`, duplicates and self-loops kept as
  * captured. A vertex with at least one row is an s-vertex.
  *
  * Each kernel computes exactly what its distributed rounds compute on
  * the same rows — including rows that break the symmetry contract —
  * and returns a local frame with the same schema: an id column is
  * nullable where the captured column it comes from was. A local frame
  * holds no cut: [[CacheHygiene.release]] on it is a no-op. */
private[graft] final class LocalGraph private (
    spark: SparkSession, ids: Array[Long], start: Array[Int], nbr: Array[Int],
    sNullable: Boolean, tNullable: Boolean) {

  private def n = ids.length
  private def rows(v: Int) = start(v + 1) - start(v)

  def edgeCount: Long = nbr.length.toLong

  /** [[Dedup]]'s neighbor-min + pointer-jump rounds: (doc_id,
    * component_id) for every s-vertex, labelled with the smallest id it
    * reaches along the rows — its component's smallest id when the rows
    * are symmetric. Union-find would label a violated contract's weak
    * components instead, so the rounds run here as they do distributed:
    * synchronous, converged once a round after the first changes
    * nothing, failing past `maxIter` the same way. */
  def components(maxIter: Int): DataFrame = {
    var label = Array.tabulate(n)(v => minOver(v, v, t => t))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prev = label
      val stepped = Array.tabulate(n)(v =>
        minOver(v, prev(v), t => if (rows(t) > 0) prev(t) else t))
      label = Array.tabulate(n) { v =>
        val c = stepped(v)
        if (rows(c) > 0) math.min(c, stepped(c)) else c
      }
      converged = iter > 0 && Arrays.equals(label, prev)
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connectedComponents did not converge in $maxIter rounds")
    frame((0 until n).filter(rows(_) > 0).map(v => Row(ids(v), ids(label(v)))),
      long("doc_id", sNullable), long("component_id", nullable = true))
  }

  /** min(init, f(t) over v's rows) */
  private def minOver(v: Int, init: Int, f: Int => Int): Int = {
    var m = init
    var i = start(v)
    while (i < start(v + 1)) { m = math.min(m, f(nbr(i))); i += 1 }
    m
  }

  /** Whether one of v's rows has a t satisfying `p`. */
  private def exists(v: Int)(p: Int => Boolean): Boolean = {
    var i = start(v)
    while (i < start(v + 1) && !p(nbr(i))) i += 1
    i < start(v + 1)
  }

  /** [[LabelProp]]'s synchronous rounds: each s-vertex starts as its own
    * label and adopts its rows' most frequent t-label, ties to the
    * smallest. A vertex whose rows reach no labelled vertex has no label
    * that round, as the distributed join drops it. (id, label). */
  def labelPropagation(iterations: Int): DataFrame = {
    var label = Array.tabulate(n)(v => if (rows(v) > 0) v else -1)
    val votes = new Array[Int]((0 until n).map(rows).foldLeft(0)(math.max))
    for (_ <- 1 to iterations) {
      val prev = label
      label = Array.tabulate(n) { v =>
        var k = 0
        var i = start(v)
        while (i < start(v + 1)) {
          val l = prev(nbr(i))
          if (l >= 0) { votes(k) = l; k += 1 }
          i += 1
        }
        Arrays.sort(votes, 0, k)
        // the first longest run of the sorted votes: most frequent,
        // smallest label among the tied
        var best, bestN = -1
        var j = 0
        while (j < k) {
          var e = j
          while (e < k && votes(e) == votes(j)) e += 1
          if (e - j > bestN) { best = votes(j); bestN = e - j }
          j = e
        }
        best
      }
    }
    frame((0 until n).filter(label(_) >= 0).map(v => Row(ids(v), ids(label(v)))),
      long("id", sNullable), long("label", nullable = true))
  }

  /** [[PageRank]]'s scaled-integer rounds, rank flowing from t to s
    * along each row. `directed` is the direct form over (dst, src) rows:
    * every id is a node and a sender's degree is how often it sends.
    * Otherwise (the capture's undirected rank) the nodes are the
    * s-vertices and a node's degree is its row count — the same numbers
    * when the rows are symmetric. (id, pr). */
  def pageRank(iterations: Int, directed: Boolean): DataFrame = {
    val deg =
      if (directed) { val d = new Array[Int](n); nbr.foreach(t => d(t) += 1); d }
      else Array.tabulate(n)(rows)
    val node = (v: Int) => directed || rows(v) > 0
    var rank = Array.fill(n)(LocalGraph.Scale)
    for (_ <- 1 to iterations) {
      // (r·85) DIV (100·deg) per sender, exact in longs: with
      // r = q·(100·deg) + m, it is 85·q + (85·m) DIV (100·deg)
      val c = Array.tabulate(n) { v =>
        if (!node(v) || deg(v) == 0) 0L
        else {
          val d = 100L * deg(v)
          rank(v) / d * 85 + rank(v) % d * 85 / d
        }
      }
      rank = Array.tabulate(n) { v =>
        var r = LocalGraph.Base
        var i = start(v)
        while (i < start(v + 1)) { r = Math.addExact(r, c(nbr(i))); i += 1 }
        r
      }
    }
    frame((0 until n).filter(node).map(v => Row(ids(v), rank(v))),
      long("id", sNullable || directed && tNullable), long("pr", nullable = true))
  }

  /** [[Bfs]]'s supersteps: every distinct value of `sources`' first (long)
    * column at hop 0 — ids absent from the graph included — then each
    * s-vertex first reached at hop h ≤ `maxHops`, where a row (s, t)
    * reaches s from t. Stops at the first empty frontier. (id, hops). */
  def hopDistance(sources: DataFrame, maxHops: Int): DataFrame = {
    val (seeds, nullSeed) = LocalGraph.pack(sources.select(col(sources.columns.head)))
    val level = Array.fill(n)(-1)
    seeds.foreach { id => val v = Arrays.binarySearch(ids, id); if (v >= 0) level(v) = 0 }
    var hop = 0
    var grew = true
    while (hop < maxHops && grew) {
      hop += 1
      grew = false
      for (v <- 0 until n if level(v) < 0 && exists(v)(level(_) == hop - 1)) {
        level(v) = hop
        grew = true
      }
    }
    val reached = (0 until n).filter(level(_) > 0)
    // the reached rows join the sources' by a union, which widens the
    // id's nullability only when some hop reached a vertex
    frame(seeds.distinct.toSeq.map(Row(_, 0)) ++ (if (nullSeed) Seq(Row(null, 0)) else Nil) ++
        reached.map(v => Row(ids(v), level(v))),
      long("id", sources.schema.head.nullable || reached.nonEmpty && sNullable),
      StructField("hops", IntegerType, nullable = false))
  }

  /** The rows as an (s, t) frame — for a consumer that must run its
    * distributed rounds over a local capture. */
  def edgeFrame: DataFrame =
    frame(for (v <- 0 until n; i <- start(v) until start(v + 1)) yield Row(ids(v), ids(nbr(i))),
      long("s", sNullable), long("t", tNullable))

  private def frame(out: Seq[Row], fields: StructField*): DataFrame =
    spark.createDataFrame(out.asJava, StructType(fields))

  private def long(name: String, nullable: Boolean) = StructField(name, LongType, nullable)
}

private[graft] object LocalGraph {

  /** [[PageRank]]'s 10^12 rank scale and 0.15·scale per-node base. */
  private val Scale = 1000000000000L
  private val Base = 150000000000L

  /** The graph of `edges`' rows (s, t), CSR-ordered by `s`, in one
    * collect. None when either column is not a long or a row holds a
    * null id — the distributed rounds' joins drop those rows, so such a
    * graph stays distributed. */
  def collect(edges: DataFrame, s: String, t: String): Option[LocalGraph] = {
    val rel = edges.select(col(s), col(t))
    if (!rel.schema.forall(_.dataType == LongType)) None
    else {
      val (flat, nulls) = pack(rel)
      if (nulls) None
      else Some(build(edges.sparkSession, flat, rel.schema(0).nullable, rel.schema(1).nullable))
    }
  }

  /** The non-null rows of `df`'s long columns, flattened row-major, and
    * whether any row held a null: one job, each task packing its
    * partition's internal rows into one array. */
  private def pack(df: DataFrame): (Array[Long], Boolean) = {
    val w = df.schema.length
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val b = Array.newBuilder[Long]
      var nulls = false
      it.foreach { r =>
        if ((0 until w).exists(r.isNullAt)) nulls = true
        else (0 until w).foreach(i => b += r.getLong(i))
      }
      Iterator((b.result(), nulls))
    }.collect()
    (Array.concat(parts.map(_._1).toIndexedSeq: _*), parts.exists(_._2))
  }

  private def build(spark: SparkSession, flat: Array[Long],
                    sNullable: Boolean, tNullable: Boolean): LocalGraph = {
    val sorted = flat.clone()
    Arrays.sort(sorted)
    var k = 0
    for (i <- sorted.indices if i == 0 || sorted(i) != sorted(i - 1)) { sorted(k) = sorted(i); k += 1 }
    val ids = Arrays.copyOf(sorted, k)
    val m = flat.length / 2
    val s = Array.tabulate(m)(e => Arrays.binarySearch(ids, flat(2 * e)))
    val start = new Array[Int](k + 1)
    s.foreach(v => start(v + 1) += 1)
    for (v <- 1 to k) start(v) += start(v - 1)
    val next = Arrays.copyOf(start, k)
    val nbr = new Array[Int](m)
    for (e <- 0 until m) { nbr(next(s(e))) = Arrays.binarySearch(ids, flat(2 * e + 1)); next(s(e)) += 1 }
    new LocalGraph(spark, ids, start, nbr, sNullable, tNullable)
  }
}
