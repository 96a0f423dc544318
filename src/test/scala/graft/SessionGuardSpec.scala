package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scans that keep session state in one place each: sessions are
  * built by the bench harness recipe (plus the three tools that must not
  * share it), session conf is written only by the table loaders' tuning
  * and the stream width pin on q190's private session, the session's
  * function registry only by `SqlSurface` (operators wrap their kernels
  * as Columns and never look a function up by name), no operator touches
  * AQE, lineage is cut only through the checkpoint arena, graph edges
  * are placed only through `ShuffleSizing`'s one capture primitive, page
  * JSON is parsed only by `RestPager`, and the only environment the
  * engine reads is the bench's own three variables. */
class SessionGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (path relative to `root`, 1-based line number, line) of every main source line. */
  private lazy val lines: Seq[(String, Int, String)] = {
    assert(Files.isDirectory(root), s"source dir not found from ${root.toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.flatMap { f =>
      val rel = root.relativize(f).toString
      Files.readAllLines(f).asScala.zipWithIndex.map { case (l, i) => (rel, i + 1, l) }
    } finally files.close()
  }

  private def offenders(needle: String, allowed: Set[String]): Seq[String] =
    lines.collect { case (f, i, l) if l.contains(needle) && !allowed(f) => s"$f:$i" }

  test("the engine reads only the bench's three environment variables") {
    val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_OUT")
    val key = """(?:sys\.env|getenv)\s*(?:\.\w+)?\s*\(\s*"([^"]*)"""".r
    def readsOther(l: String): Boolean = {
      val keys = key.findAllMatchIn(l).map(_.group(1)).toList
      keys.isEmpty || !keys.forall(allowed)
    }
    val bad = lines.collect {
      case (f, i, l) if (l.contains("sys.env") || l.contains("getenv")) && readsOther(l) =>
        s"$f:$i: ${l.trim}"
    }
    assert(bad.isEmpty, s"env reads outside $allowed: $bad")
  }

  test("session conf is written only by Tables and the stream width pin") {
    val bad = offenders("conf.set(", Set("graft/core/Tables.scala",
      "graft/catalog/StreamingQueries.scala"))
    assert(bad.isEmpty,
      s"carry a width in the plan (repartition(n, key), ShuffleSizing.partitionedCut): $bad")
  }

  test("the function registry is written and read by name only in SqlSurface") {
    val bad = Seq("createOrReplaceTempFunction", "udf.register(", "call_function(")
      .flatMap(n => offenders(n, Set("graft/functions/SqlSurface.scala")).map(o => s"$o: $n"))
    assert(bad.isEmpty,
      s"wrap the kernel with GraftColumnBridge.column; SQL names go in SqlSurface.functions: $bad")
  }

  test("no engine line names spark.sql.adaptive.enabled") {
    val bad = offenders("spark.sql.adaptive.enabled", Set.empty)
    assert(bad.isEmpty, s"operators run under the session's own AQE: $bad")
  }

  test("lineage is cut only by CacheHygiene (and the GenSf fixture writer)") {
    val allowed = Set("graft/ops/CacheHygiene.scala", "graft/tools/GenSf.scala")
    val bad = Seq("localCheckpoint(", ".checkpoint(", "getCheckpointDir", "materialize:")
      .flatMap(n => offenders(n, allowed).map(o => s"$o: $n"))
    assert(bad.isEmpty, s"cut in a CacheHygiene.scope arena (ck.cut): $bad")
  }

  test("page JSON is parsed only in RestPager") {
    val bad = offenders("read.json(", Set("graft/sources/RestPager.scala"))
    assert(bad.isEmpty, s"read pages with RestPager.toDf(spark, bodies, declaredSchema): $bad")
  }

  test("graph edges are placed only through ShuffleSizing's one capture primitive") {
    val bad = offenders("partitionedMaterializeCounted(", Set("graft/ops/ShuffleSizing.scala",
      "graft/ops/GraphCapture.scala", "graft/ops/PageRank.scala")) ++
      Seq("boundedWidth(", "sessionWidth(").flatMap(offenders(_, Set("graft/ops/ShuffleSizing.scala")))
    assert(bad.isEmpty, s"capture a graph with GraphCapture.capture: $bad")
  }

  test("sessions are built only by the harness recipe, Smoke, GenSf and CodegenLint") {
    val bad = offenders("SparkSession.builder", Set("graft/bench/Harness.scala",
      "graft/tools/Smoke.scala", "graft/tools/GenSf.scala", "graft/tools/CodegenLint.scala"))
    assert(bad.isEmpty, s"build the session with graft.bench.Harness.session(): $bad")
  }
}
