package graft.engine

import java.security.MessageDigest
import java.util.HexFormat
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** md5-keyed result cache — port of the reference's LocMemCache usage
  * (`core/views.py:26-42`; config `datafabric/settings.py:93-103`):
  * key = "ai_query_" + md5(query), TTL 300 s, MAX_ENTRIES 1000 with
  * CULL_FREQUENCY 3 (evict 1/3 of entries when full — Django LocMemCache
  * semantics).
  *
  * The store is a `ConcurrentHashMap`: lock-free reads, and a `size` that
  * sums a few counter cells instead of walking every entry, so the
  * capacity check on each `put` costs the same at 1 entry as at 1,000.
  *
  * App-level memoization only; at cluster scale, plan-level reuse is
  * Spark's job (`df.persist`), not this cache's.
  */
class QueryCache[V](
    ttlMillis: Long = 300L * 1000,
    maxEntries: Int = 1000,
    cullFrequency: Int = 3,
    clock: () => Long = () => System.currentTimeMillis()) {

  private case class Entry(value: V, expiresAt: Long, insertedAt: Long)
  private val store = new ConcurrentHashMap[String, Entry]()

  def md5Key(query: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(query.getBytes("UTF-8"))
    "ai_query_" + HexFormat.of().formatHex(d)
  }

  def get(query: String): Option[V] = {
    val k = md5Key(query)
    store.get(k) match {
      case null => None
      case e if e.expiresAt > clock() => Some(e.value)
      case e => store.remove(k, e); None // keeps a fresh put that raced in
    }
  }

  def put(query: String, value: V): Unit = {
    if (store.size >= maxEntries) cull()
    val now = clock()
    store.put(md5Key(query), Entry(value, now + ttlMillis, now))
  }

  /** Evict expired entries; if still full, drop the oldest 1/cullFrequency. */
  private def cull(): Unit = {
    val now = clock()
    store.values.removeIf(_.expiresAt <= now)
    if (store.size >= maxEntries) {
      val toDrop = store.asScala.toSeq.sortBy(_._2.insertedAt)
        .take(math.max(1, store.size / cullFrequency)).map(_._1)
      toDrop.foreach(k => store.remove(k))
    }
  }

  def size: Int = store.size
  def clear(): Unit = store.clear()
}
