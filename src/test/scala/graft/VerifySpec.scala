package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** `Verify.dump` with a name regex: the subset loop tools/adjudicate.sh
  * drives. Only the matched gates are dumped, and oracle_sql.json holds
  * exactly their SQL, so compare_oracle.py reports no MISS rows. */
class VerifySpec extends SparkSpecBase {

  test("dump with a regex writes only the matched gates and their oracle SQL") {
    val out = tempDir("graft-verify-spec").toFile
    val picked = Set("q01_pricing_summary", "q02_filtered_scan")
    Verify.dump(spark, sf0001, out.getPath, "q0[12]_.*")
    assert(out.listFiles().filter(_.isDirectory).map(_.getName).toSet == picked)
    picked.foreach { n =>
      assert(spark.read.parquet(s"$out/$n").count() > 0, s"$n dumped no rows")
    }
    val json = new ObjectMapper().readTree(
      Files.readString(Paths.get(s"$out/oracle_sql.json")))
    assert(json.fieldNames().asScala.toSet == picked)
    picked.foreach(n => assert(json.get(n).asText() == SparkEntry.oracleSql(n)))
    // the shared session survives the dump
    assert(spark.range(3).count() == 3)
  }
}
