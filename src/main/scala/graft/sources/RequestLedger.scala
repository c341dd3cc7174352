package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Spec observability for a wire stand-in: the last request body per
  * key (collection or index) and named per-key counters — finds,
  * batches and docs served, or searches, pages and hits. */
private[graft] final class RequestLedger {
  private val last = new ConcurrentHashMap[String, String]()
  private val counters = new ConcurrentHashMap[(String, String), AtomicInteger]()

  /** Record `body` as the latest request on `key` and count it under
    * `counter`. */
  def request(counter: String, key: String, body: String): Unit = {
    last.put(key, body)
    add(counter, key)
  }

  def lastRequest(key: String): Option[String] = Option(last.get(key))

  def add(counter: String, key: String, n: Int = 1): Unit =
    counters.computeIfAbsent((counter, key), _ => new AtomicInteger()).addAndGet(n)

  def count(counter: String, key: String): Int =
    Option(counters.get((counter, key))).fold(0)(_.get)
}
