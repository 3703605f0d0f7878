package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Counts attempted and failed operations and keeps the latency of
  * every operation that succeeded, by operation type or phase. An
  * operation fails when it throws or when its output check reports a
  * mismatch; a mismatch also clears `correct`. */
final class Recorder(tracer: Tracer) {
  private val lat = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  /** (operation id, client thread CPU ns) of every op that succeeded,
    * by op type. */
  private val own = new ConcurrentHashMap[String, ConcurrentLinkedQueue[(Long, Long)]]()
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  @volatile var correct = true
  private val reported = new AtomicLong(0)

  def record(kind: String, ms: Double): Unit = {
    lat.computeIfAbsent(kind, _ => new ConcurrentLinkedQueue[Double]()).add(ms)
    ()
  }

  def ms(kinds: String*): Seq[Double] =
    kinds.flatMap(k => Option(lat.get(k)).map(_.asScala.toSeq).getOrElse(Nil))

  def count(kinds: String*): Int = ms(kinds: _*).size

  /** CPU of each op of type `kind` that succeeded, in ms: its client
    * thread's own CPU (planning, code generation, results) plus the
    * executor CPU of the Spark jobs it ran. JIT compiler, GC and
    * Spark's shared service threads are left out: in short runs on a
    * shared host the JIT alone was over half of the process CPU and
    * most of its run-to-run spread. */
  def cpuMs(census: JobCensus, kind: String): Seq[Double] = {
    val exec = census.executorCpuNs()
    Option(own.get(kind)).map(_.asScala.toSeq).getOrElse(Nil)
      .map { case (id, ns) => (ns + exec.getOrElse(id, 0L)) / 1e6 }
  }

  /** Forget latencies and CPU (after warm-up); counts and correctness
    * stay. */
  def clearLatencies(): Unit = { lat.clear(); own.clear() }

  private def report(what: String): Unit =
    if (reported.incrementAndGet() <= 20) System.err.println(s"[perfbench] FAIL $what")

  def mismatch(what: String): Unit = {
    failed.incrementAndGet(); correct = false; report(what)
  }

  /** Run one operation: `body` is timed (inside the tracer's op span)
    * and returns the output check, which runs untimed afterwards and
    * yields an error message on mismatch. */
  def op(opType: String)(body: => (() => Option[String])): Unit = {
    attempted.incrementAndGet()
    val id = tracer.nextId()
    val cpu0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val check = try Right(tracer.op(opType, id)(body))
      catch { case NonFatal(e) => Left(e) }
    val took = (System.nanoTime() - t0) / 1e6
    val cpu = threads.getCurrentThreadCpuTime - cpu0
    check match {
      case Left(e) =>
        failed.incrementAndGet()
        report(s"$opType threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(c) =>
        record(opType, took)
        own.computeIfAbsent(opType, _ => new ConcurrentLinkedQueue[(Long, Long)]()).add((id, cpu))
        c().foreach(err => mismatch(s"$opType: $err"))
    }
  }
}

object Loop {
  /** Closed loop: each client runs in its own thread and issues its next
    * operation only after the previous one returned, until `seconds`
    * have passed and it has finished its current cycle of `cycle(i)`
    * operations (at least one), so every run does whole cycles of the
    * op mix. Returns the wall seconds until the last client returned. */
  def closed(clients: Seq[() => Unit], cycle: Seq[Int], seconds: Double): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    parallel(clients.zip(cycle), clients.size) { case (c, n) =>
      var i = 0
      while (i == 0 || System.nanoTime() < deadline || i % n != 0) { c(); i += 1 }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Run `f` over `xs` on `threads` threads and wait for all of them;
    * rethrows the first failure. */
  def parallel[A](xs: Seq[A], threads: Int)(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit((() => f(x)): Runnable)).foreach(_.get())
    finally pool.shutdown()
  }

  /** Wall seconds of `body`. */
  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
}

/** Draws ranks 0..n-1 with probability proportional to 1/(rank+1)^s. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def draw(r: java.util.SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Named metrics with units, in insertion order, rendered as the
  * benchmark's result object. */
final class Metrics {
  private val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def has(name: String): Boolean = m.contains(name)
  def toSeq: Seq[(String, (Double, String))] = m.toSeq

  def json: String = m.map { case (k, (v, u)) =>
    val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString
    s""""$k": {"value": $num, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}
