package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.acl.AclCaches
import graft.io.MiniDelta
import graft.util.TtlCache

/** T5: TTL/LRU cache semantics mirroring the reference's moka caches
  * (src/main.rs:82-93) and `cached` LRU macro (src/database.rs:28-32). */
class TtlCacheSpec extends AnyFunSuite {

  test("computes once within the TTL, recomputes after expiry") {
    var now = 0L
    var calls = 0
    val c = new TtlCache[String, Int](10, 120000L, () => now)
    def f = { calls += 1; calls }
    assert(c.getOrElseUpdate("k")(f) == 1)
    now = 119999L
    assert(c.getOrElseUpdate("k")(f) == 1) // still fresh
    now = 120000L
    assert(c.getOrElseUpdate("k")(f) == 2) // ttl is from insert
    assert(calls == 2)
  }

  test("reads do not refresh the TTL (moka time-to-live, not idle)") {
    var now = 0L
    var calls = 0
    val c = new TtlCache[String, Int](10, 100L, () => now)
    def f = { calls += 1; calls }
    c.getOrElseUpdate("k")(f)
    now = 60L
    c.getOrElseUpdate("k")(f) // read at 60 must not extend life
    now = 100L
    assert(c.getOrElseUpdate("k")(f) == 2)
  }

  test("capacity evicts the least-recently-accessed entry") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[Int]
    val c = new TtlCache[String, Int](2, 0L, onEvict = evicted += _)
    c.getOrElseUpdate("a")(1)
    c.getOrElseUpdate("b")(2)
    c.getOrElseUpdate("a")(99) // access refreshes a's recency (hit: stays 1)
    c.getOrElseUpdate("c")(3)  // evicts b, the LRU entry
    assert(evicted.toSeq == Seq(2))
    assert(c.get("b").isEmpty)
    assert(c.get("a").contains(1) && c.get("c").contains(3))
    assert(c.size == 2)
  }

  test("ttl <= 0 means pure LRU, no expiry (DB-perms flavor)") {
    var now = 0L
    val c = new TtlCache[String, Int](10, 0L, () => now)
    c.getOrElseUpdate("k")(7)
    now = Long.MaxValue / 2
    assert(c.get("k").contains(7))
  }

  test("invalidate evicts immediately and fires onEvict") {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[Int]
    val c = new TtlCache[String, Int](10, 0L, onEvict = evicted += _)
    c.getOrElseUpdate("k")(5)
    c.invalidate("k")
    assert(evicted.toSeq == Seq(5) && c.get("k").isEmpty)
  }

  private def daemon(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.setDaemon(true)
    t.start()
    t
  }

  /** Starts `n` threads running `call` and returns once all of them are
    * parked — a caller waiting on an in-flight load parks on its latch. */
  private def parkedThreads(n: Int)(call: => Any): Seq[Thread] = {
    val ts = Seq.fill(n)(daemon { call; () })
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!ts.forall(_.getState == Thread.State.WAITING)) {
      if (System.nanoTime() > deadline)
        fail(s"threads never parked: ${ts.map(_.getState).mkString(", ")}")
      Thread.`yield`()
    }
    ts
  }

  /** A thread whose load of `key` is in flight until `release` opens;
    * `value == null` makes the load throw. */
  private final class Loader(c: TtlCache[String, String], key: String,
                             value: String) {
    val release = new CountDownLatch(1)
    @volatile var got: Either[Throwable, String] = _
    private val entered = new CountDownLatch(1)
    val thread = daemon {
      got = Try(c.getOrElseUpdate(key) {
        entered.countDown(); release.await()
        if (value == null) throw new RuntimeException("load failed")
        value
      }).toEither
    }
    entered.await()
  }

  test("concurrent misses on one key compute once and share the instance") {
    val evicted = new ConcurrentLinkedQueue[String]()
    val c = new TtlCache[String, String](10, 0L, onEvict = evicted.add(_))
    val computes = new AtomicInteger()
    val owner = new Loader(c, "k", new String("v"))
    val got = new ConcurrentLinkedQueue[String]()
    val waiters = parkedThreads(7) {
      got.add(c.getOrElseUpdate("k") { computes.incrementAndGet(); "dup" })
    }
    owner.release.countDown()
    (owner.thread +: waiters).foreach(_.join())
    val v = owner.got.toOption.get
    assert(computes.get == 0)
    assert(got.size == 7 && got.asScala.forall(_ eq v))
    assert(c.get("k").exists(_ eq v))
    assert(evicted.isEmpty)
  }

  test("a failed load reaches every waiter and the next call recomputes") {
    val c = new TtlCache[String, String](10, 0L)
    val owner = new Loader(c, "k", null)
    val failures = new ConcurrentLinkedQueue[String]()
    val waiters = parkedThreads(3) {
      Try(c.getOrElseUpdate("k")("dup")).failed.foreach(
        e => failures.add(e.getMessage))
    }
    owner.release.countDown()
    (owner.thread +: waiters).foreach(_.join())
    assert(owner.got.left.toOption.map(_.getMessage).contains("load failed"))
    assert(failures.asScala.toSeq == Seq.fill(3)("load failed"))
    assert(c.get("k").isEmpty && c.getOrElseUpdate("k")("v2") == "v2")
  }

  test("invalidate or clear during a load: the load is not inserted") {
    for (drop <- Seq[TtlCache[String, String] => Unit](
        _.invalidate("k"), _.clear())) {
      val evicted = new ConcurrentLinkedQueue[String]()
      val c = new TtlCache[String, String](10, 0L, onEvict = evicted.add(_))
      val owner = new Loader(c, "k", "stale")
      val waiter = new ConcurrentLinkedQueue[String]()
      val joined = parkedThreads(1)(waiter.add(c.getOrElseUpdate("k")("dup")))
      drop(c)
      // a caller after the invalidation loads afresh, unblocked
      assert(c.getOrElseUpdate("k")("fresh") == "fresh")
      owner.release.countDown()
      (owner.thread +: joined).foreach(_.join())
      // the superseded value reaches its own caller and waiter only,
      // and is released instead of inserted
      assert(owner.got == Right("stale") && waiter.asScala.toSeq == Seq("stale"))
      assert(c.get("k").contains("fresh"))
      assert(evicted.asScala.toSeq == Seq("stale"))
    }
  }

  test("a re-entrant load of the same key fails loudly, not a deadlock") {
    val c = new TtlCache[String, Int](10, 0L)
    val e = intercept[IllegalStateException] {
      c.getOrElseUpdate("snapshot:t1")(c.getOrElseUpdate("snapshot:t1")(1))
    }
    assert(e.getMessage.contains("snapshot:t1"))
    assert(c.getOrElseUpdate("snapshot:t1")(2) == 2) // nothing left in flight
  }

  test("AclCaches memoize file lists and perms under user:table keys") {
    AclCaches.clearAll()
    val spark = TestSpark.spark
    import spark.implicits._
    var resolves = 0
    def resolve = {
      resolves += 1
      Seq("f1.parquet", "f2.parquet").toDF("path")
    }
    val first = AclCaches.allowedFilesFor("alice", "trades")(resolve)
    val second = AclCaches.allowedFilesFor("alice", "trades")(resolve)
    assert(first == Seq("f1.parquet", "f2.parquet") && second == first)
    assert(resolves == 1) // F13 key hit
    var lookups = 0
    def lookup = { lookups += 1; Seq(Map("mic" -> "XLON")) }
    AclCaches.permsFor("alice", "trades")(lookup)
    val p = AclCaches.permsFor("alice", "trades")(lookup)
    assert(p == Seq(Map("mic" -> "XLON")) && lookups == 1)
    AclCaches.clearAll()
  }

  test("authFor memoizes auth checks per access key (insert-on-miss)") {
    AclCaches.clearAll()
    var checks = 0
    def check = { checks += 1; true }
    assert(AclCaches.authFor("AKIA123")(check))
    assert(AclCaches.authFor("AKIA123")(check))
    assert(checks == 1)
    AclCaches.clearAll()
  }

  test("snapshot cache serves the pre-append snapshot until invalidated") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snapcache").toString
    val table = s"$dir/t"
    MiniDelta.append(spark, Seq((1L, "x")).toDF("id", "v"), table, Seq("v"))
    assert(MiniDelta.snapshotFilesCached(spark, table).count() == 1)
    MiniDelta.append(spark, Seq((2L, "y")).toDF("id", "v"), table, Seq("v"))
    // stale within the TTL, exactly like the reference's moka cache
    assert(MiniDelta.snapshotFilesCached(spark, table).count() == 1)
    MiniDelta.invalidateSnapshot(table)
    assert(MiniDelta.snapshotFilesCached(spark, table).count() == 2)
    MiniDelta.invalidateSnapshot(table)
  }
}
