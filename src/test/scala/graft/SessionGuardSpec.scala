package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scans that keep session state in one place each: sessions are
  * built by the bench harness recipe (plus the three tools that must not
  * share it), session conf is written only by the throw-safe width pin
  * and the table loaders' tuning, and the only environment the engine
  * reads is the bench's own three variables. */
class SessionGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

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

  test("session conf is written only by ShuffleSizing and Tables") {
    val bad = offenders("conf.set(", Set("ops/ShuffleSizing.scala", "core/Tables.scala"))
    assert(bad.isEmpty,
      s"pin widths with ShuffleSizing.withShufflePartitions, restored on throw: $bad")
  }

  test("sessions are built only by the harness recipe, Smoke, GenSf and CodegenLint") {
    val bad = offenders("SparkSession.builder", Set("bench/Harness.scala",
      "tools/Smoke.scala", "tools/GenSf.scala", "tools/CodegenLint.scala"))
    assert(bad.isEmpty, s"build the session with graft.bench.Harness.session(): $bad")
  }
}
