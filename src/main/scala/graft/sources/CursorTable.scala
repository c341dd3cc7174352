package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** The cursor lifecycle of graft's three paged wire servers: the
  * statement face (`nextUri` tokens), the mongodb stand-in (`getMore`
  * cursor ids) and the elastic stand-in (`_scroll_id`s).
  *
  * A cursor is registered by [[open]], refreshed by every [[get]] (one
  * per page) and released exactly once — on drain or explicit close
  * through [[release]], or by the idle sweep that runs whenever a
  * cursor opens. Release runs the cursor's cleanup (the face closes its
  * spool reader and deletes the spool dir); the map removal decides the
  * single winner, so drain, close and sweep can race freely.
  *
  * One policy for all three: a cursor idle for [[IdleNanos]] is a dead
  * reader, not a slow one — well past any legitimate gap between pages
  * (GC pause, skewed task, full-suite contention). Ids come from
  * [[nextId]], counting up from `firstId`; each server formats its own
  * wire id from the number. */
private[graft] final class CursorTable[K, V](firstId: Long) {

  private final class Entry(val value: V, val cleanup: () => Unit) {
    @volatile var lastUsed: Long = System.nanoTime()
  }

  private val live = new ConcurrentHashMap[K, Entry]()
  private val ids = new AtomicLong(firstId - 1)

  def nextId(): Long = ids.incrementAndGet()

  /** Sweep idle cursors, then register `value` under `key`. */
  def open(key: K, value: V, cleanup: () => Unit = () => ()): Unit = {
    val now = System.nanoTime()
    live.forEach { (k, e) =>
      if (now - e.lastUsed > CursorTable.IdleNanos && live.remove(k, e))
        e.cleanup()
    }
    live.put(key, new Entry(value, cleanup))
  }

  /** The live cursor under `key`, its last-use time refreshed. */
  def get(key: K): Option[V] = Option(live.get(key)).map { e =>
    e.lastUsed = System.nanoTime()
    e.value
  }

  def release(key: K): Unit = {
    val e = live.remove(key)
    if (e != null) e.cleanup()
  }

  /** Test hook: back-date every live cursor's last use by `nanos`, so a
    * spec can drive the idle sweep without a real 600 s wait. */
  def ageForTest(nanos: Long): Unit = live.forEach((_, e) => e.lastUsed -= nanos)

  def liveCount: Int = live.size
}

private[graft] object CursorTable {
  val IdleNanos: Long = 600L * 1000 * 1000 * 1000
}
