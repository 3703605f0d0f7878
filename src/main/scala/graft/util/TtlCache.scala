package graft.util

/** TTL + capacity memo cache mirroring the reference's moka caches
  * (/root/reference/src/main.rs:82-93: Delta snapshots 20 entries /
  * 120 s, auth and file-list caches 100 entries / 120 s) and the LRU
  * `cached` macro on DB permission lookups
  * (/root/reference/src/database.rs:28-32).
  *
  * Semantics match moka's time-to-live: entries expire a fixed interval
  * after INSERT (reads do not refresh the TTL); capacity overflow evicts
  * the least-recently-ACCESSED entry. `ttlMillis <= 0` disables expiry
  * (pure LRU, the DB-perms flavor). The clock is injectable for tests.
  *
  * Single-flight loads, like moka's `get_with`: each key is computed at
  * most once at a time. The first caller to miss registers an in-flight
  * load and runs `compute` outside the cache monitor; later callers for
  * the same key wait for that load and get the same instance, callers
  * for other keys are never blocked. This is required, not an
  * optimization: the engine's frame caches release values through
  * `onEvict = df.unpersist()`, and Spark's CacheManager uncaches by PLAN
  * EQUALITY — a raced duplicate released that way would uncache the
  * kept, plan-equal frame too, so every later hit would recompute it.
  *
  * `invalidate`/`clear` while a load is in flight supersede it: its
  * value still goes to the callers already waiting on it, but it is
  * never inserted, and it is released through `onEvict` (a plan-equal
  * frame loaded afresh is then recomputed, not served from blocks cached
  * before the invalidation). Callers arriving after the invalidation
  * start a fresh load. A compute that loads its own key on the same
  * thread fails with IllegalStateException instead of deadlocking.
  *
  * Driver-side metadata memoization only (alias resolutions, permission
  * rows, resolved file lists) — never a data-plane cache, so a plain
  * synchronized LinkedHashMap is plenty: entry counts are bounded at
  * 20-100 and lookups happen once per query plan, not per row.
  */
class TtlCache[K, V](maxEntries: Int, ttlMillis: Long,
                     clock: () => Long = () => System.currentTimeMillis(),
                     onEvict: V => Unit = (_: V) => ()) {
  require(maxEntries > 0, "maxEntries must be positive")

  private final case class Entry(value: V, insertedAt: Long)

  /** One in-flight compute. `outcome` is written before `done` opens
    * (the latch publishes it to waiters); `superseded` is guarded by the
    * cache monitor. */
  private final class Load {
    val owner: Thread = Thread.currentThread()
    val done = new java.util.concurrent.CountDownLatch(1)
    var outcome: Either[Throwable, V] = _
    var superseded = false
    def result: V = outcome.fold(t => throw t, identity)
  }

  // access-order LinkedHashMap = LRU order for free
  private val map = new java.util.LinkedHashMap[K, Entry](16, 0.75f, true)
  private val loads = new java.util.HashMap[K, Load]

  private def expired(e: Entry, now: Long): Boolean =
    ttlMillis > 0 && now - e.insertedAt >= ttlMillis

  def getOrElseUpdate(key: K)(compute: => V): V = {
    val (load, mine) = synchronized {
      val hit = map.get(key)
      if (hit != null) {
        if (!expired(hit, clock())) return hit.value
        map.remove(key)
        onEvict(hit.value)
      }
      val inFlight = loads.get(key)
      if (inFlight == null) {
        val l = new Load
        loads.put(key, l)
        (l, true)
      } else if (inFlight.owner eq Thread.currentThread()) {
        throw new IllegalStateException(
          s"TtlCache: re-entrant load of key '$key' on the thread already loading it")
      } else (inFlight, false)
    }
    if (!mine) {
      load.done.await()
      return load.result
    }
    load.outcome =
      try Right(compute) catch { case t: Throwable => Left(t) }
    // waiters are released even if an onEvict here throws
    try synchronized {
      if (!load.superseded) {
        loads.remove(key)
        load.outcome.foreach(insert(key, _))
      } else load.outcome.foreach(onEvict)
    } finally load.done.countDown()
    load.result
  }

  // caller holds the monitor; `key` has no live entry
  private def insert(key: K, v: V): Unit = {
    if (map.size >= maxEntries) {
      val eldest = map.entrySet().iterator().next()
      map.remove(eldest.getKey)
      onEvict(eldest.getValue.value)
    }
    map.put(key, Entry(v, clock()))
  }

  def get(key: K): Option[V] = synchronized {
    val hit = map.get(key)
    if (hit == null) None
    else if (expired(hit, clock())) {
      map.remove(key)
      onEvict(hit.value)
      None
    } else Some(hit.value)
  }

  def invalidate(key: K): Unit = synchronized {
    val l = loads.remove(key)
    if (l != null) l.superseded = true
    val e = map.remove(key)
    if (e != null) onEvict(e.value)
  }

  def clear(): Unit = synchronized {
    loads.values().forEach(_.superseded = true)
    loads.clear()
    map.values().forEach(e => onEvict(e.value))
    map.clear()
  }

  def size: Int = synchronized(map.size)
}
