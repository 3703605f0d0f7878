package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Run settings. `work` is the run's scratch directory; `corrupt`
  * deliberately perturbs one expected value (self-test only). */
final case class Cfg(workload: String, seed: Long, seconds: Double,
                     trace: Boolean, sf: Double, work: String,
                     corrupt: Boolean, cpus: Int)

/** A workload as the harness drives it. */
trait Workload {
  /** Benchmark-side input generation, not part of set-up time. */
  def prepare(): Unit = ()
  /** Program-side set-up, timed by the harness; called for rounds
    * 0 until `setupReps`. */
  def setup(rep: Int): Unit
  /** Set-up rounds; setup_s is their median, so a slow first round
    * (cold JIT) or a noisy one does not decide it. */
  def setupReps: Int = 6
  /** setup_s = this x the median set-up: a workload whose set-up is
    * split into `setupReps` equal rounds reports the whole. */
  def setupScale: Double = 1.0
  /** Closed-loop clients, each issuing one operation per call. */
  def clients(seed: Long, warmup: Boolean): Seq[() => Unit]
  /** Each client's op-mix cycle length; timed phases end on whole cycles. */
  def cycles: Seq[Int]
  /** The timed phase; returns its wall seconds. */
  def timed(seed: Long, seconds: Double): Double =
    Loop.closed(clients(seed, warmup = false), cycles, seconds)
  /** Operations each client runs, untimed, before timing starts. */
  def warmup: Seq[Int]
  /** Checks after timing stops, and end-to-end metrics measured then. */
  def finish(m: Metrics): Unit = ()
  /** Latency kinds for p50/p95, meta_p50_ms and scan_p50_ms. */
  def allKinds: Seq[String]
  /** Each op kind's share of the op mix. p50/p95 weight every sample by
    * share / samples of its kind, and cpu_ms_per_op weights each kind's
    * mean, so they describe the fixed mix and do not move with how
    * many ops of each kind one run happened to finish. */
  def weights: Map[String, Double]
  def metaKinds: Seq[String]
  def scanKinds: Seq[String]
  /** Operations that ran in the timed phase, for ops_per_s. */
  def completedOps(rec: Recorder): Int = rec.count(allKinds: _*)
  /** Workload-specific per-layer metrics of a traced run. */
  def traceMetrics(m: Metrics, census: Seq[JobRec]): Unit = ()
  /** Further end-to-end figures of this workload, printed as detail. */
  def detail(m: Metrics, rec: Recorder): Unit = ()
}

object Main {
  def main(args: Array[String]): Unit = {
    Log("start")
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Cfg(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a.getOrElse("trace", "0") == "1", a.getOrElse("sf", "0.01").toDouble,
      a("work"), a.getOrElse("corrupt", "0") == "1",
      a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    Files.createDirectories(Paths.get(cfg.work))
    val spark = session(cfg)
    try run(spark, cfg) finally spark.stop()
    Log("stopped")
  }

  def session(cfg: Cfg): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(spark: SparkSession, cfg: Cfg, tracer: Tracer,
               rec: Recorder): Workload = cfg.workload match {
    case "proxy_read" => new ProxyRead(spark, cfg, tracer, rec)
    case "commit_llm" => new CommitLlm(new CommitMix(spark, cfg, tracer, rec),
      new LlmBatch(spark, cfg, tracer, rec))
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def run(spark: SparkSession, cfg: Cfg): Unit = {
    val tracer = new Tracer(spark.sparkContext)
    val rec = new Recorder(tracer)
    Log("session up")
    val w = workload(spark, cfg, tracer, rec)
    Log(s"${cfg.workload} seed ${cfg.seed}: preparing inputs")
    w.prepare()
    val setups = (0 until w.setupReps).map { r =>
      Log(s"set-up $r"); Loop.secs(w.setup(r)) }
    Log(s"set-up rounds ${setups.mkString(" ")} s; warm-up")
    val census = new JobCensus(tracer)
    spark.sparkContext.addSparkListener(census)
    Loop.parallel(w.clients(cfg.seed, warmup = true).zip(w.warmup), w.warmup.size) {
      case (c, n) => (0 until n).foreach(_ => c()) }
    rec.clearLatencies()
    Log("timed phase")

    val m = new Metrics
    if (!cfg.trace) {
      val gc0 = Stats.gcMs()
      val wall = w.timed(cfg.seed, cfg.seconds)
      val gcPerS = (Stats.gcMs() - gc0) / wall
      census.drain()
      Log("checks")
      w.finish(m)
      // gated: the figures short runs on a shared host repeat within a
      // bound; wall-clock throughput and latency are printed as detail
      val e2e = new Metrics
      e2e.put("setup_s", w.setupScale * Stats.median(setups), "s")
      val cpu = w.allKinds.map(k => k -> Stats.mean(rec.cpuMs(census, k))).toMap
      e2e.put("cpu_ms_per_op",
        w.allKinds.map(k => w.weights(k) * cpu(k)).sum / w.allKinds.map(w.weights).sum, "ms")
      val mix = w.allKinds.flatMap { k =>
        val xs = rec.ms(k)
        xs.map(x => (x, w.weights(k) / xs.size))
      }
      val d = new Metrics
      d.put("ops_per_s", w.completedOps(rec) / wall, "ops/s")
      d.put("p50_ms", Stats.weightedQuantile(mix, 0.5), "ms")
      d.put("p95_ms", Stats.weightedQuantile(mix, 0.95), "ms")
      d.put("meta_p50_ms", Stats.median(rec.ms(w.metaKinds: _*)), "ms")
      d.put("scan_p50_ms", Stats.median(rec.ms(w.scanKinds: _*)), "ms")
      d.put("samples", rec.count(w.allKinds: _*), "count")
      d.put("meta_samples", rec.count(w.metaKinds: _*), "count")
      d.put("scan_samples", rec.count(w.scanKinds: _*), "count")
      d.put("setup_reps", setups.size, "count")
      d.put("jvm.gc_ms_per_s", gcPerS, "ms/s")
      w.detail(d, rec)
      w.allKinds.foreach(k => d.put(s"p50.$k", Stats.median(rec.ms(k)), "ms"))
      w.allKinds.foreach(k => d.put(s"cpu.$k", cpu(k), "ms"))
      m.toSeq.foreach { case (k, (v, u)) => d.put(k, v, u) }
      d.toSeq.foreach { case (k, (v, u)) => println(s"[perfbench] detail $k $v $u") }
      emit(rec, e2e)
    } else {
      // untraced first, then traced, on the same warm tables and caches:
      // the ratio of the two throughputs is the tracing overhead
      val plainWall = w.timed(cfg.seed + 1, cfg.seconds / 2)
      val plainOps = w.completedOps(rec) / plainWall
      rec.clearLatencies()
      tracer.enabled = true
      val gc0 = Stats.gcMs()
      val wall = w.timed(cfg.seed, cfg.seconds)
      val gcPerS = (Stats.gcMs() - gc0) / wall
      tracer.enabled = false
      census.drain()
      w.finish(m)
      tracer.writeJson(Paths.get(cfg.work, "spans.jsonl"))
      emit(rec, Layers.metrics(w, rec, tracer, census, wall, plainOps, gcPerS, m))
    }
  }

  def emit(rec: Recorder, m: Metrics): Unit =
    println(s"""PERFBENCH_RESULT {"correct": ${rec.correct}, "attempted": ${rec.attempted.get}, """ +
      s""""failed": ${rec.failed.get}, "metrics": ${m.json}}""")
}

/** Progress lines on stderr, with seconds since start. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $msg")
}

/** commit_llm: the commit funnel (one writer, one fresh reader) for the
  * timed seconds, then the LLM passes over the gates, so the two halves
  * do not contend. Both skip the ACL and listing layers that
  * proxy_read drives. */
final class CommitLlm(c: CommitMix, l: LlmBatch) extends Workload {
  override def prepare(): Unit = { c.prepare(); l.prepare() }
  def setup(rep: Int): Unit = { c.setup(rep); l.setup(rep) }
  def clients(seed: Long, warmup: Boolean): Seq[() => Unit] =
    c.clients(seed, warmup) ++ l.clients(seed, warmup)
  val cycles: Seq[Int] = c.cycles ++ l.cycles
  override def timed(seed: Long, seconds: Double): Double =
    c.timed(seed, seconds) + l.timed(seed, 0)
  val warmup: Seq[Int] = c.warmup ++ l.warmup
  override def finish(m: Metrics): Unit = { c.finish(m); l.finish(m) }
  val allKinds: Seq[String] = c.allKinds ++ l.allKinds
  val weights: Map[String, Double] = c.weights ++ l.weights
  /** meta: the LLM client's input resolution (file listing + footer);
    * scan: the reader's fresh read (version pin + governed aggregate). */
  val metaKinds: Seq[String] = l.metaKinds
  val scanKinds: Seq[String] = Seq("fresh_read")
  override def detail(m: Metrics, rec: Recorder): Unit = {
    c.detail(m, rec); l.detail(m, rec)
  }
}
