package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is 0 for an
  * operation's root span; spans of one operation share `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Spans around every layer call the benchmark makes, held in memory
  * and written out when the run ends. Disabled, `span` only runs the
  * body, so the timed run carries no tracing cost.
  *
  * The current span id rides the Spark local property
  * [[Tracer.SpanProp]], so [[JobCensus]] can hang each Spark job under
  * the layer call that caused it. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private final class Frame(val id: Long, val op: Long)
  private val stack = ThreadLocal.withInitial[List[Frame]](() => Nil)

  def spans: Seq[Span] = done.asScala.toSeq

  def add(s: Span): Unit = { done.add(s); () }

  def nextId(): Long = ids.incrementAndGet()

  /** Root span of one operation of type `opType`. The op type and the
    * operation's `id` also ride local properties, so jobs group by
    * operation type and their CPU adds up per operation. */
  def op[T](opType: String, id: Long)(body: => T): T = {
    sc.setLocalProperty(Tracer.OpProp, opType)
    sc.setLocalProperty(Tracer.OpIdProp, id.toString)
    try within("op." + opType, root = true)(body)
    finally {
      sc.setLocalProperty(Tracer.OpProp, null)
      sc.setLocalProperty(Tracer.OpIdProp, null)
    }
  }

  /** A layer span: `name` is `<layer>.<call>`, e.g. `io.log.snapshot`. */
  def span[T](name: String)(body: => T): T = within(name, root = false)(body)

  private def within[T](name: String, root: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val id = nextId()
      val opId = if (root || outer.isEmpty) id else outer.head.op
      val parent = if (root || outer.isEmpty) 0L else outer.head.id
      stack.set(new Frame(id, opId) :: outer)
      sc.setLocalProperty(Tracer.SpanProp, s"$id:$opId")
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, opId, name, t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp,
          outer.headOption.map(f => s"${f.id}:${f.op}").orNull)
      }
    }

  /** Self time per layer in ms: each span's duration minus the part of
    * its interval its children cover. Spark job spans count as layer
    * `spark`; operation roots as layer `op`. */
  def selfMsByLayer(): Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Tracer.unionNs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      (Tracer.layerOf(s.name), (s.end - s.start - covered) / 1e6)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"
  val OpIdProp = "perfbench.op_id"

  /** `io.log.snapshot` -> `io.log`; `acl.allowed_files` -> `acl`. */
  def layerOf(name: String): String = {
    val i = name.lastIndexOf('.')
    if (i < 0) name else name.substring(0, i)
  }

  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-job facts gathered by [[JobCensus]]. `op` is the root span (0
  * when not tracing), `opId` the operation. */
final class JobRec(val jobId: Int, val opType: String, val parent: Long,
                   val op: Long, val opId: Long, val start: Long) {
  @volatile var end: Long = 0L
  /** Executor CPU of the job's tasks, deserialization included. */
  val cpuNs = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val recordsRead = new AtomicLong(0)
  val shuffleBytes = new AtomicLong(0)
}

/** The benchmark's own SparkListener: counts jobs, tasks, records read,
  * shuffle bytes and executor CPU, attributed to the operation and span
  * the submitting client thread set as local properties. */
final class JobCensus(tracer: Tracer) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val opType = p.flatMap(x => Option(x.getProperty(Tracer.OpProp)))
      .getOrElse("none")
    val (span, op) = p.flatMap(x => Option(x.getProperty(Tracer.SpanProp)))
      .map { s => val a = s.split(':'); (a(0).toLong, a(1).toLong) }
      .getOrElse((0L, 0L))
    val opId = p.flatMap(x => Option(x.getProperty(Tracer.OpIdProp)))
      .map(_.toLong).getOrElse(0L)
    val r = new JobRec(e.jobId, opType, span, op, opId, System.nanoTime())
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, r))
    started.incrementAndGet()
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val r = jobs.get(e.jobId)
    if (r != null) {
      r.end = System.nanoTime()
      if (tracer.enabled && r.parent != 0L)
        tracer.add(Span(tracer.nextId(), r.parent, r.op, "spark.job",
          r.start, r.end))
    }
    ended.incrementAndGet()
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val r = stageJob.get(e.stageInfo.stageId)
    if (r != null) {
      r.tasks.addAndGet(e.stageInfo.numTasks)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        r.cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
        r.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        r.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
    ()
  }

  def all: Seq[JobRec] = jobs.values().asScala.toSeq

  /** Executor CPU per operation id, in ns. */
  def executorCpuNs(): Map[Long, Long] =
    all.filter(_.opId != 0L).groupMapReduce(_.opId)(_.cpuNs.get)(_ + _)

  /** Listener events arrive asynchronously: wait until every started
    * job has ended (bounded), then give stage events a moment. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (ended.get() < started.get() && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }
}

object Stats {
  /** Linear-interpolated quantile of an unsorted sample (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Quantile of a weighted sample: the smallest value whose cumulative
    * weight reaches q of the total. */
  def weightedQuantile(xs: Seq[(Double, Double)], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sortBy(_._1)
      val total = s.map(_._2).sum
      val cum = s.scanLeft(0.0)(_ + _._2).tail
      s(cum.indexWhere(_ >= q * total - 1e-9) max 0)._1
    }


  /** Time spent in GC so far and heap in use after the last GC. */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def heapAfterGcMb(): Double = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}
