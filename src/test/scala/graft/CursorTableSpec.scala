package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CursorTable, RequestLedger}

/** The one cursor lifecycle behind the statement face and the mongodb
  * and elastic stand-ins: idle sweep on open, touch on every page, and
  * a cleanup that runs once whichever path releases the cursor. */
class CursorTableSpec extends AnyFunSuite {

  private val pastWindow = CursorTable.IdleNanos + 1000L * 1000 * 1000

  test("ids count up from the table's first id") {
    val t = new CursorTable[Long, String](firstId = 1001)
    assert(Seq(t.nextId(), t.nextId()) == Seq(1001L, 1002L))
  }

  test("an entry idle past the window is swept when the next cursor opens") {
    val t = new CursorTable[String, String](firstId = 1)
    var cleaned = Seq.empty[String]
    t.open("a", "A", () => cleaned :+= "a")
    t.ageForTest(pastWindow)
    // aging alone removes nothing: the sweep runs at the next open
    assert(t.liveCount == 1 && cleaned.isEmpty)
    t.open("b", "B", () => cleaned :+= "b")
    assert(t.get("a").isEmpty && cleaned == Seq("a"))
    // the cursor whose open ran the sweep is live
    assert(t.get("b").contains("B") && t.liveCount == 1)
  }

  test("a touched entry survives the sweep") {
    val t = new CursorTable[String, String](firstId = 1)
    t.open("idle", "I")
    t.open("paged", "P")
    t.ageForTest(pastWindow)
    assert(t.get("paged").contains("P")) // one page refreshes last use
    t.open("next", "N")
    assert(t.get("idle").isEmpty)
    assert(t.get("paged").contains("P") && t.get("next").contains("N"))
  }

  test("release runs cleanup once across drain, close and sweep") {
    val t = new CursorTable[String, String](firstId = 1)
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    t.open("c", "C", () => runs.incrementAndGet())
    t.release("c") // drain
    t.release("c") // explicit close after the drain
    t.ageForTest(pastWindow)
    t.open("d", "D") // sweep
    assert(runs.get == 1 && t.get("c").isEmpty)
    // racing releases of one cursor still clean up once
    val n = 64
    val counts = Array.fill(n)(new java.util.concurrent.atomic.AtomicInteger())
    (0 until n).foreach(i => t.open(s"r$i", "R", () => counts(i).incrementAndGet()))
    t.ageForTest(pastWindow)
    val threads = (0 until 4).map { k =>
      new Thread(() =>
        if (k == 0) t.open("sweeper", "S")
        else (0 until n).foreach(i => t.release(s"r$i")))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(counts.forall(_.get == 1), counts.map(_.get).mkString(","))
    assert(t.liveCount == 1)
  }

  test("the ledger keeps the last request and per-key counters") {
    val l = new RequestLedger
    l.request("finds", "orders", "{a}")
    l.request("finds", "orders", "{b}")
    l.add("docs", "orders", 7)
    assert(l.lastRequest("orders").contains("{b}") && l.lastRequest("events").isEmpty)
    assert(l.count("finds", "orders") == 2 && l.count("docs", "orders") == 7)
    assert(l.count("finds", "events") == 0)
  }
}
