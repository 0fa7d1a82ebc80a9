package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LiveSpec extends AnyFunSuite {

  private def row(id: String) =
    s"""{"id": "$id", "title": "t", "content": "c", "priority": "High", "author": "a", """ +
      s""""created_at": "2026-10-17T09:00:00Z", "updated_at": "2026-10-17T09:00:00Z"}"""

  test("markers are found on a listing body, ordinary signals are not") {
    val body = Seq(row(Gen.markerId(12)), row(Gen.keyId(5)), row(Gen.markerId(3)))
      .mkString("[", ",", "]")
    assert(Live.markers(body).toSeq == Seq(Gen.markerId(12), Gen.markerId(3)))
    assert(Live.markers("[]").isEmpty)
  }

  test("a marker event carries its unique id and a current created_at") {
    val m = Gen.marker(42L, 7L, 1792227600L)
    assert(m.id == Gen.markerId(7) && m.action == "created")
    assert(m.json.contains(""""created_at":"2026-10-17T09:00:00Z""""))
  }

  test("freshness is timed from the due time, so generator lateness counts") {
    val ms = 1000000L
    val due = Array(0L, 250 * ms, 500 * ms)
    val landed = Array(5 * ms, 900 * ms, 505 * ms) // the second file landed 650 ms late
    val seen = Array(1000 * ms, 1900 * ms, 0L) // the third was never seen
    assert(Live.freshnessMs(due, seen) == Seq(1000.0, 1650.0))
    assert(Live.latenessMs(due, landed) == Seq(5.0, 650.0, 5.0))
  }

  test("a read may see any prefix of the files between served and landed") {
    val evs = Seq(Live.Ev(0, 5L, deleted = false), Live.Ev(3, 120L, deleted = true),
      Live.Ev(6, 410L, deleted = false))
    val s = Live.states(evs, 1, 4)
    assert(s == Seq(Some(evs(0)), Some(evs(1))))
    // a 404 is acceptable only while the delete may be the visible state
    assert(Live.states(evs, 4, 6).exists(_.forall(_.deleted)))
    assert(!Live.states(evs, 7, 9).exists(_.forall(_.deleted)))
    // a key with no event is absent in every state
    assert(Live.states(Nil, 0, 9) == Seq(None))
  }

  test("the leading run of served files bounds what a read surely sees") {
    val seen = new java.util.concurrent.atomic.AtomicLongArray(Array(10L, 30L, 0L, 20L))
    assert(Live.visibleLead(seen, 5L) == 0)
    assert(Live.visibleLead(seen, 10L) == 1)
    assert(Live.visibleLead(seen, 40L) == 2)
  }

  test("listings must be in serving order, of the right size and priority") {
    def rows(n: Int) = (0 until n).map(i => (Gen.keyId(i), f"2023-11-14T00:00:${59 - i % 60}%02dZ", "High"))
    val newest = rows(Live.ListSize)
    assert(Live.listingOrdered(newest, None))
    assert(!Live.listingOrdered(newest.reverse, None))
    assert(!Live.listingOrdered(newest.take(10), None))
    val sameSecond = Seq((Gen.markerId(2), "2026-10-17T09:00:00Z", "High"),
      (Gen.markerId(1), "2026-10-17T09:00:00Z", "High")) ++ newest.take(Live.ListSize - 2)
    assert(Live.listingOrdered(sameSecond, None))
    assert(Live.listingOrdered(rows(3), Some("High")))
    assert(!Live.listingOrdered(rows(3).reverse, Some("High")))
    assert(!Live.listingOrdered(rows(3), Some("Low")))
    assert(!Live.listingOrdered(Nil, Some("High")))
  }
}
