package graft.pipelines

import graft.SparkSpecBase

/** End-to-end integration of the reference's flagship chain on fixture
  * pages (FIXTURES.md §1 cases: ragged pages, duplicate ids across
  * pages with different lastUpdated, DEPROVISIONED union, empty-input
  * no-truncate guard). */
class OktaRefreshSpec extends SparkSpecBase {

  private def userJson(id: String, status: String, lastUpdated: String,
                       extra: String = "") =
    s"""{"id":"$id","status":"$status","created":"2026-01-01T00:00:00.000Z",
        "lastUpdated":"$lastUpdated","profile":"{\\"login\\":\\"$id@x.org\\"}"$extra}"""
      .replaceAll("\n\\s*", "")

  // page 2 is ragged: carries an extra column the schema drops
  private val activePages = Seq(
    s"""[${userJson("u1", "ACTIVE", "2026-06-01T10:00:00.000Z")},
         ${userJson("u2", "ACTIVE", "2026-06-01T10:00:00.000Z")}]""".replaceAll("\n\\s*", ""),
    s"""[${userJson("u1", "SUSPENDED", "2026-06-02T10:00:00.000Z", ""","rogueColumn":"x"""")}]"""
  )
  private val deprovPages = Seq(
    s"""[${userJson("u3", "DEPROVISIONED", "2026-05-01T10:00:00.000Z")}]""")

  test("refresh: conform + union + keep-latest dedup + swap") {
    val root = tempDir("graft-okta").toString
    assert(OktaRefresh.refreshUsers(spark, activePages, deprovPages, root))

    val out = graft.ops.ManifestSwap.read(spark, root, "users")
    assert(out.columns.toSeq == OktaRefresh.UsersSchema.fields.map(_.name).toSeq) // order + drop rogue
    assert(out.count() == 3) // u1 deduped, u2, u3 (deprovisioned union)
    val u1 = out.filter(org.apache.spark.sql.functions.col("id") === "u1").head()
    assert(u1.getAs[String]("status") == "SUSPENDED") // latest lastUpdated wins
    assert(u1.isNullAt(out.columns.indexOf("transitioningToStatus"))) // missing -> typed null

    // re-run with empty input: guard must refuse to clobber the table
    assert(!OktaRefresh.refreshUsers(spark, Seq("[]"), Seq("[]"), root))
    assert(graft.ops.ManifestSwap.read(spark, root, "users").count() == 3)
  }

  test("object-valued profile and credentials land as their JSON text") {
    val root = tempDir("graft-okta-nested").toString
    val profile = """{"login":"u9@x.org","tags":["a","b"],"manager":{"id":"u1"}}"""
    val credentials = """{"provider":{"type":"OKTA","name":"OKTA"}}"""
    val page = s"""[{"id":"u9","status":"ACTIVE","created":"2026-01-01T00:00:00.000Z",
      "lastUpdated":"2026-06-01T10:00:00.000Z","profile":$profile,
      "credentials":$credentials}]""".replaceAll("\n\\s*", "")
    assert(OktaRefresh.refreshUsers(spark, Seq(page), Seq("[]"), root))

    val u9 = graft.ops.ManifestSwap.read(spark, root, "users").head()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(json.readTree(u9.getAs[String]("profile")) == json.readTree(profile))
    assert(json.readTree(u9.getAs[String]("credentials")) == json.readTree(credentials))
  }

  test("multi-table refresh publishes one atomic generation across tables") {
    import spark.implicits._
    import graft.ops.ManifestSwap
    val root = tempDir("graft-okta-multi").toString
    // sync 1: users + groups land together
    val r1 = OktaRefresh.refreshTables(spark, Map(
      "users" -> Seq(("u1", "ACTIVE")).toDF("id", "status"),
      "groups" -> Seq(("g1", "Everyone"), ("g2", "Admins")).toDF("id", "name")), root)
    assert(r1 == Map("users" -> true, "groups" -> true))

    // sync 2: users update + an EMPTY groups pull (API hiccup) — users
    // must flip, groups must carry the previous generation; both remain
    // readable from the same single manifest
    val r2 = OktaRefresh.refreshTables(spark, Map(
      "users" -> Seq(("u1", "SUSPENDED"), ("u2", "ACTIVE")).toDF("id", "status"),
      "groups" -> Seq.empty[(String, String)].toDF("id", "name")), root)
    assert(r2 == Map("users" -> true, "groups" -> false))
    assert(ManifestSwap.read(spark, root, "users").count() == 2)
    assert(ManifestSwap.read(spark, root, "groups").count() == 2)
    val (_, mapping) = ManifestSwap.currentMapping(spark, root)
    assert(mapping.keySet == Set("users", "groups"))
  }
}
