package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

import scala.collection.mutable

/** Seeded inputs for `elt_sync` and their ground truth. Everything is a
  * pure function of (seed, size): the same seed gives byte-identical
  * pages, webhook batches and node results. The truth is derived from
  * how each input was constructed, never by running engine code. */
object EltGen {

  final case class Size(
      initialOrders: Int,
      cycles: Int,
      remodifiedPerCycle: Int,
      newPerCycle: Int,
      perPage: Int,
      webhooksPerCycle: Int,
      activeUsers: Int,
      deprovisionedUsers: Int,
      usersPerPage: Int,
      keepLatestEvery: Int)

  final case class Delivery(body: String, signature: String, eventTsMs: Long)
  final case class NodeResult(run_id: String, status: String, unique_id: String, message: String)

  final case class CycleTruth(
      orders: Long, items: Long, rejected: Long,
      routes: Map[String, Long], verdicts: Map[String, Long])
  final case class LatestTruth(rows: Long, totalCents: Long)

  final case class Inputs(
      secret: String,
      syncStamps: IndexedSeq[String],
      fullPages: IndexedSeq[String],
      cyclePages: IndexedSeq[IndexedSeq[String]],
      deliveries: IndexedSeq[IndexedSeq[Delivery]],
      nodeResults: IndexedSeq[IndexedSeq[NodeResult]],
      activePages: IndexedSeq[String],
      deprovisionedPages: IndexedSeq[String],
      fullOrders: Long,
      fullItems: Long,
      cycles: IndexedSeq[CycleTruth],
      latest: Map[Int, LatestTruth],
      published: IndexedSeq[Long],
      distinctPublished: IndexedSeq[Long],
      users: Long,
      jsonBytes: Long)

  val Routes: Seq[String] = Seq("completed", "retry", "ignore")
  val Verdicts: Seq[String] = Seq("no_failures", "transient", "nontransient")

  private val TransientMessages = Seq(
    "Quota exceeded for quota metric 'queries'", "Backend Error",
    "Connection reset by peer", "Exceeded rate limits: too many table updates",
    "Deadline Exceeded while waiting for the job")
  private val NontransientMessages = Seq(
    "Syntax error: Unexpected keyword WHERE", "Column not found: amount",
    "Division by zero in model", "Permission denied on table orders")

  private val Stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val Base = LocalDateTime.of(2026, 6, 1, 0, 0, 0)
  private def stamp(t: LocalDateTime): String = t.format(Stamp)
  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  def hmacHex(secret: String, body: String): String = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(secret.getBytes(UTF_8), "HmacSHA256"))
    mac.doFinal(body.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString
  }

  def generate(seed: Long, size: Size): Inputs = {
    val rnd = new scala.util.Random(seed)
    val secret = s"whsec-${seed.toHexString}"
    val syncStamps = (0 to size.cycles).map(c => stamp(Base.plusMinutes(c.toLong)))

    // --- orders: one version per (order, cycle it was modified in) ---
    final case class Order(id: Long, json: String, items: Int, totalCents: Long)
    def order(id: Long, modified: String): Order = {
      val totalCents = 500L + rnd.nextInt(49500)
      val nItems = 1 + rnd.nextInt(4)
      val items = (1 to nItems).map { k =>
        val bundledBy = if (k > 1 && rnd.nextInt(4) == 0) s"${id * 10 + 1}" else ""
        s"""{"id":${id * 10 + k},"product_id":${1 + rnd.nextInt(500)},"name":"Product ${rnd.nextInt(500)}",""" +
          s""""sku":"SKU-${rnd.nextInt(10000)}","price":"${money(100L + rnd.nextInt(9900))}",""" +
          s""""quantity":${1 + rnd.nextInt(5)},"total_tax":"${money(rnd.nextInt(300).toLong)}",""" +
          s""""bundled_by":"$bundledBy"}"""
      }
      val discounts = if (rnd.nextInt(5) == 0) s"""[{"amount":"${money(50L + rnd.nextInt(950))}"}]""" else "[]"
      val status = Seq("completed", "processing", "on-hold", "refunded")(rnd.nextInt(4))
      val origin = if (rnd.nextBoolean()) "WEB" else "PHONE"
      val json =
        s"""{"id":$id,"order_key":"wc_order_$id","status":"$status","currency":"USD",""" +
          s""""date_created":"2026-05-01T08:00:00","date_modified":"$modified",""" +
          s""""date_paid":"2026-05-01T08:05:00","total":"${money(totalCents)}",""" +
          s""""total_tax":"${money(totalCents / 10)}","shipping_total":"${money(rnd.nextInt(2000).toLong)}",""" +
          s""""customer_id":${1 + rnd.nextInt(5000)},""" +
          s""""billing":{"city":"City${rnd.nextInt(300)}","country":"US","email":"c$id@example.org"},""" +
          s""""shipping":{"city":"City${rnd.nextInt(300)}","country":"US"},""" +
          s""""cru_data":{"agent":{"email":"agent${rnd.nextInt(20)}@example.org","name":"Agent"},""" +
          s""""ordered_by":{"email":"buyer$id@example.org"},""" +
          s""""shipping":{"date_shipped":"0000-00-00 00:00:00"},"customer_role":"retail",""" +
          s""""discounts":$discounts},""" +
          s""""meta_data":[{"key":"event_code","value":"E${id % 97}"},{"key":"cru_order_origin","value":"$origin"}],""" +
          s""""line_items":[${items.mkString(",")}]}"""
      Order(id, json, nItems, totalCents)
    }
    def pages(orders: Seq[Order]): IndexedSeq[String] =
      orders.map(_.json).grouped(size.perPage).map(_.mkString("[", ",", "]")).toIndexedSeq

    val initial = (1L to size.initialOrders.toLong).map(id =>
      order(id, stamp(Base.minusDays(1).plusSeconds(id % 3600))))
    var maxId = size.initialOrders.toLong
    val cycleOrders = (1 to size.cycles).map { c =>
      val start = Base.plusMinutes((c - 1).toLong)
      val remodified = rnd.shuffle((1L to maxId).toVector).take(size.remodifiedPerCycle).sorted
      val fresh = (maxId + 1) to (maxId + size.newPerCycle)
      maxId += size.newPerCycle
      (remodified ++ fresh).map(id => order(id, stamp(start.plusSeconds(1L + rnd.nextInt(50)))))
    }
    // the latest view after each keep-latest read: replay the versions
    val latest = {
      val cents = mutable.LongMap.empty[Long]
      initial.foreach(o => cents(o.id) = o.totalCents)
      (1 to size.cycles).flatMap { c =>
        cycleOrders(c - 1).foreach(o => cents(o.id) = o.totalCents)
        if (c % size.keepLatestEvery == 0) Some(c -> LatestTruth(cents.size.toLong, cents.values.sum))
        else None
      }.toMap
    }

    // --- webhook deliveries and the node results behind failed runs ---
    val nodes = mutable.HashMap.empty[String, (IndexedSeq[NodeResult], String)]
    def nodeResults(runId: String): (IndexedSeq[NodeResult], String) =
      nodes.getOrElseUpdate(runId, {
        val kind = rnd.nextInt(20)
        val n = 1 + rnd.nextInt(5)
        val verdict = if (kind < 4) "no_failures" else if (kind < 11) "transient" else "nontransient"
        val rows = (0 until n).map { k =>
          val uid = s"model.dot.m${rnd.nextInt(400)}_$k"
          val (status, msg) = verdict match {
            case "no_failures" => (if (rnd.nextBoolean()) "success" else "skipped", null)
            case "transient" =>
              if (k == 0 || rnd.nextBoolean()) ("error", TransientMessages(rnd.nextInt(TransientMessages.size)))
              else ("success", null)
            case _ =>
              if (k == 0) {
                if (rnd.nextBoolean()) ("fail", "Got 3 results, configured to fail if != 0")
                else ("error", if (rnd.nextInt(5) == 0) null else NontransientMessages(rnd.nextInt(NontransientMessages.size)))
              } else if (rnd.nextBoolean()) ("error", TransientMessages(rnd.nextInt(TransientMessages.size)))
              else ("success", null)
          }
          NodeResult(runId, status, uid, msg)
        }
        (rows, verdict)
      })

    val pool = mutable.ArrayBuffer.empty[(Delivery, String, String)] // (delivery, route, runId)
    val publishedIds = mutable.HashSet.empty[String]
    var published = 0L
    // cumulative through each cycle: what a drain after that cycle reads
    val publishedThrough, distinctThrough = mutable.ArrayBuffer(0L)
    val baseMs = 1780272000000L // 2026-06-01T00:00:00Z
    val webhooks = (1 to size.cycles).map { c =>
      var rejected = 0L
      val routes = mutable.Map(Routes.map(_ -> 0L): _*)
      val retryRuns = mutable.LinkedHashSet.empty[String]
      val ds = (0 until size.webhooksPerCycle).map { i =>
        if (pool.nonEmpty && rnd.nextInt(20) == 0) {
          val (d, route, runId) = pool(rnd.nextInt(pool.size))
          routes(route) += 1; published += 1
          if (route == "retry") retryRuns += runId
          d
        } else {
          val runId = f"run-$c%03d-$i%05d"
          val completedEvent = rnd.nextInt(20) != 0
          val (status, code) = rnd.nextInt(100) match {
            case k if k < 70 => ("Success", 10)
            case k if k < 92 => ("Error", 20)
            case _ => ("Cancelled", 30)
          }
          val full =
            s"""{"eventType":"${if (completedEvent) "job.run.completed" else "job.run.started"}",""" +
              s""""accountId":"acct-1","data":{"jobId":"job-${rnd.nextInt(40)}","jobName":"nightly",""" +
              s""""runId":"$runId","runStatus":"$status","runStatusCode":$code,""" +
              s""""runStatusMessage":"$status","environmentId":"env-1"}}"""
          val malformed = rnd.nextInt(50) == 0
          val body = if (malformed) full.substring(0, full.length / 2) else full
          val sigKind = rnd.nextInt(100)
          val signature =
            if (sigKind < 3) hmacHex(secret + "-rotated", body)
            else if (sigKind < 4) ""
            else if (sigKind < 6) "Bearer gateway-token"
            else hmacHex(secret, body)
          val d = Delivery(body, signature, baseMs + c * 1000L + i)
          if (sigKind < 4) rejected += 1
          else {
            val route =
              if (malformed || !completedEvent || code == 30) "ignore"
              else if (code == 20) "retry" else "completed"
            routes(route) += 1
            if (route != "ignore") {
              published += 1; publishedIds += runId
              pool += ((d, route, runId))
            }
            if (route == "retry") retryRuns += runId
          }
          d
        }
      }
      publishedThrough += published
      distinctThrough += publishedIds.size.toLong
      val perRun = retryRuns.toIndexedSeq.map(nodeResults)
      val verdicts = Verdicts.map(v => v -> perRun.count(_._2 == v).toLong).toMap
      (ds, perRun.flatMap(_._1), rejected, routes.toMap, verdicts)
    }

    // --- okta users: active pages with repeated ids, deprovisioned union ---
    def user(id: Int, status: String): String = {
      val updated = stamp(Base.minusDays(1L + rnd.nextInt(300)).plusSeconds(rnd.nextInt(86400).toLong))
      s"""{"id":"00u$id","status":"$status","created":"2025-01-01T00:00:00.000Z",""" +
        s""""lastUpdated":"$updated.000Z","lastLogin":"$updated.000Z",""" +
        s""""profile":"{\\"login\\":\\"user$id@example.org\\"}","type":"default"}"""
    }
    val active = (1 to size.activeUsers).map(id => user(id, if (rnd.nextInt(10) == 0) "SUSPENDED" else "ACTIVE")) ++
      (1 to size.activeUsers / 20).map(_ => user(1 + rnd.nextInt(size.activeUsers), "ACTIVE"))
    val overlap = size.deprovisionedUsers / 3
    val deprovIds = (1 to overlap).map(_ => 1 + rnd.nextInt(size.activeUsers)) ++
      (1 to size.deprovisionedUsers - overlap).map(size.activeUsers + _)
    val deprov = deprovIds.map(user(_, "DEPROVISIONED"))
    def userPages(us: Seq[String]) = us.grouped(size.usersPerPage).map(_.mkString("[", ",", "]")).toIndexedSeq

    val fullPages = pages(initial)
    val cyclePages = cycleOrders.map(pages)
    Inputs(
      secret = secret,
      syncStamps = syncStamps,
      fullPages = fullPages,
      cyclePages = cyclePages,
      deliveries = webhooks.map(_._1),
      nodeResults = webhooks.map(_._2),
      activePages = userPages(active),
      deprovisionedPages = userPages(deprov),
      fullOrders = initial.size.toLong,
      fullItems = initial.map(_.items.toLong).sum,
      cycles = cycleOrders.zip(webhooks).map { case (os, w) =>
        CycleTruth(os.size.toLong, os.map(_.items.toLong).sum, w._3, w._4, w._5)
      },
      latest = latest,
      published = publishedThrough.toIndexedSeq,
      distinctPublished = distinctThrough.toIndexedSeq,
      users = (size.activeUsers + size.deprovisionedUsers - overlap).toLong,
      jsonBytes = (fullPages ++ cyclePages.flatten).map(_.getBytes(UTF_8).length.toLong).sum)
  }
}
