package perfbench

import org.scalatest.funsuite.AnyFunSuite

class EltGenSpec extends AnyFunSuite {
  private val size = EltSync.Size.copy(initialOrders = 300, cycles = 4, webhooksPerCycle = 300,
    activeUsers = 100, deprovisionedUsers = 30, keepLatestEvery = 2)

  test("the same seed gives byte-identical pages, webhook batches and node results") {
    val a = EltGen.generate(7L, size)
    val b = EltGen.generate(7L, size)
    assert(a.fullPages == b.fullPages)
    assert(a.cyclePages == b.cyclePages)
    assert(a.deliveries == b.deliveries)
    assert(a.nodeResults == b.nodeResults)
    assert(a.activePages == b.activePages && a.deprovisionedPages == b.deprovisionedPages)
    assert(a == b)
    val c = EltGen.generate(8L, size)
    assert(c.fullPages != a.fullPages && c.deliveries != a.deliveries)
  }

  test("the truth accounts for every delivery and every order version") {
    val in = EltGen.generate(3L, size)
    in.cycles.zip(in.deliveries).foreach { case (t, ds) =>
      assert(t.rejected + t.routes.values.sum == ds.size)
      assert(t.rejected > 0 && t.routes.values.forall(_ > 0))
      assert(t.orders == size.remodifiedPerCycle + size.newPerCycle)
    }
    assert(in.fullOrders == size.initialOrders)
    assert(in.latest.keySet == Set(2, 4))
    assert(in.latest(4).rows == size.initialOrders + 4 * size.newPerCycle)
    // re-deliveries make the drain drop something
    assert(in.published.last > in.distinctPublished.last)
    // signatures are verified against the run's own secret
    val good = in.deliveries.head.filter(d => d.signature == EltGen.hmacHex(in.secret, d.body))
    assert(good.nonEmpty && good.size < in.deliveries.head.size)
  }
}
