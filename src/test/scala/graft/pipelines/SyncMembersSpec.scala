package graft.pipelines

import graft.SparkSpecBase
import graft.sources.RestPager
import org.apache.spark.sql.functions._

class SyncMembersSpec extends SparkSpecBase {
  import spark.implicits._

  test("member fan-out: exclusion union + threshold + anti-join + lateral tag") {
    val allIds = Seq("g1", "g2", "g3", "g4").toDF("id")
    val known = Seq("g4").toDF("id")
    val counts = Seq(("g1", 10L), ("g2", 900001L), ("g3", 5L), ("g4", 2L))
      .toDF("id", "n_members")

    val t = new RestPager.Transport {
      def get(url: String, params: Map[String, String]): RestPager.Response =
        RestPager.Response(200,
          s"""[{"id":"m-$url-1"},{"id":"m-$url-2"}]""")
    }

    val (members, everyone) = OktaRefresh.syncGroupMembers(
      spark, allIds, known, counts, everyoneThreshold = 800000L,
      t, id => s"g/$id")

    // g2 newly excluded (over threshold), g4 already known -> fetch g1, g3
    assert(everyone.as[String].collect().toSet == Set("g2", "g4"))
    val rows = members.select("group_id", "id").as[(String, String)].collect().toSet
    assert(rows.map(_._1) == Set("g1", "g3"))
    assert(rows.contains(("g1", "m-g/g1-1")))
    assert(rows.size == 4)
  }

  test("member fan-out with every group excluded returns the members columns and no rows") {
    val t = new RestPager.Transport {
      def get(url: String, params: Map[String, String]): RestPager.Response =
        fail(s"an excluded group was fetched: $url")
    }
    val (members, everyone) = OktaRefresh.syncGroupMembers(
      spark, Seq("g1", "g2").toDF("id"), Seq("g1").toDF("id"),
      Seq(("g1", 5L), ("g2", 900001L)).toDF("id", "n_members"), everyoneThreshold = 800000L,
      t, id => s"g/$id")

    assert(everyone.as[String].collect().toSet == Set("g1", "g2"))
    assert(members.select("group_id", "id").as[(String, String)].collect().isEmpty)
  }
}
