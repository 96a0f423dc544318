package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   ./run_local.sh graft.Verify <sfDir> <outDir> [nameRegex]
  *
  * `nameRegex` (full-match, default all) restricts the dump — the fast
  * local loop when iterating on a few gates (tools/adjudicate.sh). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3, "usage: Verify <sfDir> <outDir> [nameRegex]")
    val spark = graft.bench.Harness.session()
    try dump(spark, args(0), args(1), if (args.length == 3) args(2) else ".*")
    finally spark.stop()
  }

  /** Write every catalog query whose name fully matches `rx` to
    * `outDir/<name>` and their oracle SQL to `outDir/oracle_sql.json`.
    * A failing query is logged and leaves no parquet dir. The session
    * stays open. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, rx: String): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(_._1.matches(rx)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(_._1.matches(rx))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
