package perfbench

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.acl.{AclCaches, PartitionAcl}
import graft.catalog.Catalog
import graft.io.{MiniDelta, RawBytes}
import graft.listing.ObjectListing
import graft.plans.{GovernedTables, GraftSqlTables}

/** The reference's read path: catalog -> partition ACL -> file set ->
  * listing / head / ranged get / governed scan, with the engine's
  * default caches (snapshot 20 entries, file list 100, 120 s TTL) and
  * a working set larger than both (24 tables, 8 users x 24 tables =
  * 192 file-list keys), so Zipf-popular (user, table) pairs hit and the
  * tail misses. Nothing commits during the timed phase. Two clients. */
final class ProxyRead(spark: SparkSession, cfg: Cfg, tracer: Tracer,
                      rec: Recorder) extends Workload {
  import ProxyRead._

  private val dataDir = s"${cfg.work}/data"
  /** Table t holds lineitem chunk t. */
  private val chunks = (0 until Tables).map(Data.lineitemChunk(cfg.seed, cfg.sf, _))
  private val events = (0 until Data.EventChunks).flatMap(Data.eventChunk(cfg.seed, cfg.sf, _))
  private val tableRoot = s"$dataDir/lineitem.parquet"
  private def alias(t: Int) = f"t$t%02d"
  private def tablePath(t: Int) = s"$tableRoot/chunk=$t"
  private var catalog: Catalog = _

  // ---- models built once at setup, independent of the engine ---------

  /** Listing model: the ListObjectsV2 key space over lineitem, sorted. */
  private val (keys, keySizes) = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    chunks.foreach(_.foreach { l =>
      val k = s"lineitem/l_returnflag=${l.rf}/l_linestatus=${l.ls}/part-" +
        pad(l.orderkey, 10) + "-" + pad(l.linenumber, 2) + ".parquet"
      val s = l.orderkey * 131 + l.linenumber * 7
      m.updateWith(k)(o => Some(o.fold(s)(math.min(_, s))))
    })
    val sorted = m.toArray.sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** Scan model: (table, rf, ls) -> (rows, sum qty, sum cents). */
  private val aggs: Map[(Int, String, String), (Long, Long, Long)] =
    chunks.zipWithIndex.flatMap { case (ls, t) =>
      ls.groupBy(l => (t, l.rf, l.ls)).map { case (k, g) =>
        val bump = if (cfg.corrupt) 1L else 0L
        k -> (g.size.toLong + bump, g.map(_.quantity.toLong).sum, g.map(_.cents).sum)
      }
    }.toMap

  /** Per-minute model of Metrics.perMinute over the events. */
  private val perMinute: Map[Long, (Long, Int, Long, Long)] =
    events.groupBy(e => Math.floorDiv(e.tsMicros, 60000000L)).map {
      case (m, es) => m -> (es.size.toLong, es.map(_.user).distinct.size,
        es.map(_.cents).sum, es.map(e => e.id % 4096 + 128).sum)
    }

  /** Data files per table as found on disk after the build, with their
    * partition and Parquet footer range. */
  private case class DataFile(rel: String, rf: String, ls: String,
                                    start: Long, len: Long)
  private var files: IndexedSeq[IndexedSeq[DataFile]] = IndexedSeq.empty

  /** Popularity rank of each (user, table) pair. The order is part of
    * the workload, not of the seed, so every seed sees the same hot set
    * and so the same cache hit ratio; the seed draws which pair each
    * operation takes. */
  private val pairs: IndexedSeq[(Int, Int)] = {
    val r = Data.rng(0, 5)
    val all = for (u <- 0 until Users; t <- 0 until Tables) yield (u, t)
    all.map(p => (r.nextLong(), p)).sortBy(_._1).map(_._2)
  }
  private val zipf = new Zipf(pairs.size, 1.0)

  // ---- setup ----------------------------------------------------------

  /** Input data (benchmark-side, not set-up time): lineitem as
    * `lineitem.parquet/chunk=<t>/l_returnflag=../l_linestatus=..`, so
    * chunk directory t is table t and the whole directory is also the
    * listing's lineitem source; and the events table. */
  override def prepare(): Unit =
    Loop.parallel(Seq(
      () => Data.chunkedLineitemFrame(spark, cfg.seed, cfg.sf, cfg.cpus).write
        .partitionBy("chunk" +: PartitionCols: _*).parquet(tableRoot),
      () => Data.write(Data.eventsFrame(spark, cfg.seed, cfg.sf), dataDir, "events", 1)),
      2)(_())

  /** Set-up in `setupReps` rounds of four tables, so setup_s is six
    * times the median round; the last round also registers the catalog. */
  override val setupScale: Double = setupReps

  def setup(rep: Int): Unit = {
    val per = Tables / setupReps
    build(rep * per until (rep + 1) * per)
    if (rep == setupReps - 1) register()
  }

  /** Turn tables `ts` into MiniDelta tables, in parallel: CONVERT TO
    * DELTA (v0), a checkpoint of v0, and a property commit (v1), so each
    * log is a checkpoint plus a JSON tail. */
  private def build(ts: Seq[Int]): Unit =
    Loop.parallel(ts, ts.size) { t =>
      val path = tablePath(t)
      MiniDelta.convertToDelta(spark, path)
      MiniDelta.writeCheckpoint(spark, path, 0L)
      MiniDelta.setTableProperties(spark, path, Map("proxy.owner" -> User(t % Users)))
    }

  /** Register the catalog, SQL aliases and table-level governance. */
  private def register(): Unit = {
    catalog = Catalog((0 until Tables).map(t => alias(t) -> tablePath(t)))
    GraftSqlTables.register(catalog)
    (0 until Tables).foreach(t => GovernedTables.govern(tablePath(t), Gov(t % 3)))
    files = (0 until Tables).map(t => scanFiles(Paths.get(tablePath(t))))
  }

  /** The log must be a checkpoint plus a JSON tail; the files on disk
    * are the partition model for allowed-file and range checks. */
  private def scanFiles(table: Path): IndexedSeq[DataFile] = {
    val log = table.resolve("_delta_log")
    val names = Files.list(log).iterator().asScala.map(_.getFileName.toString).toSeq
    require(names.exists(_.endsWith(".checkpoint.parquet")) &&
      names.contains("00000000000000000001.json"),
      s"$table: expected a checkpoint plus a JSON tail, found ${names.sorted}")
    Files.walk(table).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_delta_log"))
      .map { p =>
        val rel = table.relativize(p).toString
        val part = rel.split('/').filter(_.contains('=')).map { s =>
          val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1) }.toMap
        val size = Files.size(p)
        val tail = readRange(p, size - 8, 8)
        val footer = ByteBuffer.wrap(tail, 0, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong
        DataFile(rel, part("l_returnflag"), part("l_linestatus"),
          size - 8 - footer, footer + 8)
      }.toIndexedSeq.sortBy(_.rel)
  }

  // ---- operations -----------------------------------------------------

  private def allowed(f: PartitionAcl.Filters, rf: String, ls: String): Boolean = {
    val maps = f.filter(_.nonEmpty)
    maps.isEmpty || maps.exists(_.forall {
      case ("l_returnflag", v) => v == rf
      case ("l_linestatus", v) => v == ls
      case _ => false
    })
  }

  private def allowedFiles(u: Int, t: Int): Set[String] =
    files(t).filter(f => allowed(UserAcl(u), f.rf, f.ls)).map(_.rel).toSet

  private def relOf(t: Int, p: String): String =
    p.stripPrefix("file:").stripPrefix(tablePath(t) + "/")

  private val probes = new java.util.concurrent.atomic.AtomicLong(0)
  private val probeHits = new java.util.concurrent.atomic.AtomicLong(0)
  private val listKeys = new java.util.concurrent.atomic.AtomicLong(0)
  private val kept = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  /** The reference's authorize step: resolve the alias, then the
    * cached allowed-file set for (user, alias). */
  private def allowedFilesFor(u: Int, t: Int): Seq[String] = {
    val a = alias(t)
    val path = tracer.span("catalog.resolve")(catalog.resolve(a))
    if (tracer.enabled) {
      probes.incrementAndGet()
      if (AclCaches.fileList.get(AclCaches.cacheKey(User(u), a)).isDefined)
        probeHits.incrementAndGet()
    }
    tracer.span("acl.allowed_files") {
      AclCaches.allowedFilesFor(User(u), a) {
        val snap = tracer.span("io.log.snapshot")(
          MiniDelta.snapshotFilesCached(spark, path))
        MiniDelta.filesForFilters(snap, UserAcl(u))
      }
    }
  }

  private def opList(r: SplittableRandom): Unit = rec.op("list") {
    val prefix = r.nextInt(3) match {
      case 0 => "lineitem/"
      case 1 => s"lineitem/l_returnflag=${Rf(r.nextInt(3))}/"
      case _ => s"lineitem/l_returnflag=${Rf(r.nextInt(3))}/l_linestatus=${Ls(r.nextInt(2))}/"
    }
    val after = if (r.nextBoolean()) Some(keys(r.nextInt(keys.length))) else None
    val max = MaxKeys(r.nextInt(MaxKeys.size))
    val fdf = tracer.span("listing.files")(ObjectListing.filesDF(spark, dataDir))
    val got = tracer.span("listing.list")(
      ObjectListing.list(fdf, prefix, after, max).collect())
    if (tracer.enabled) listKeys.addAndGet(got.length)
    () => {
      val from = math.max(lowerBound(prefix),
        after.fold(0)(a => upperBound(a)))
      val exp = (from until keys.length).iterator
        .takeWhile(i => keys(i).startsWith(prefix)).take(max)
        .map(i => (keys(i), keySizes(i))).toSeq
      val act = got.toSeq.map(x => (x.getString(0), x.getLong(1)))
      if (act == exp) None
      else Some(s"list($prefix, $after, $max): ${act.size} keys, expected ${exp.size}")
    }
  }

  private def opHead(r: SplittableRandom): Unit = rec.op("head") {
    val i = r.nextInt(keys.length)
    val missing = r.nextInt(5) == 0
    val key = if (missing) keys(i) + ".missing" else keys(i)
    val fdf = tracer.span("listing.files")(ObjectListing.filesDF(spark, dataDir))
    val got = tracer.span("listing.head")(ObjectListing.head(fdf, key).collect())
    () => {
      val act = got.toSeq.map(x => (x.getString(0), x.getLong(1)))
      val exp = if (missing) Nil else Seq((key, keySizes(i)))
      if (act == exp) None else Some(s"head($key): $act, expected $exp")
    }
  }

  private def opAllowedFiles(u: Int, t: Int): Unit = rec.op("allowed_files") {
    val got = allowedFilesFor(u, t)
    () => {
      val act = got.map(relOf(t, _)).toSet
      val exp = allowedFiles(u, t)
      if (act == exp) None
      else Some(s"allowed_files(${User(u)}, ${alias(t)}): ${act.size} files, expected ${exp.size}")
    }
  }

  private def opRangeGet(r: SplittableRandom, u: Int, t: Int): Unit = rec.op("range_get") {
    val ok = allowedFiles(u, t)
    val pool = if (r.nextBoolean() && ok.nonEmpty) files(t).filter(f => ok(f.rel)) else files(t)
    val f = pool(r.nextInt(pool.size))
    val member = allowedFilesFor(u, t).exists(p => relOf(t, p) == f.rel)
    // the raw read lists the table root, so partition discovery gives
    // AclEnforcementRule the partition columns: table governance applies
    // to raw bytes too, and a partition it denies reads as zero rows
    val got = if (!member) None else Some(tracer.span("io.raw.range_get")(
      RawBytes.ranged(RawBytes.read(spark, tablePath(t), f.rel.split('/').last),
        f.start, f.len)
        .where(col("path").endsWith("/" + f.rel))
        .select("range_content").collect().map(_.getAs[Array[Byte]](0))))
    () => {
      val visible = allowed(Gov(t % 3), f.rf, f.ls)
      if (member != ok(f.rel)) Some(s"range_get ${f.rel}: membership $member, expected ${ok(f.rel)}")
      else got.flatMap {
        case Array() if !visible => None
        case Array(b) if visible && java.util.Arrays.equals(b,
            readRange(Paths.get(s"${tablePath(t)}/${f.rel}"), f.start, f.len.toInt)) => None
        case bs => Some(s"range_get ${f.rel}: ${bs.length} objects, governance visible=$visible")
      }
    }
  }

  private def opScan(u: Int, t: Int, viaSql: Boolean): Unit = rec.op("scan") {
    val a = alias(t)
    val got: Array[Row] =
      if (viaSql) {
        val df = tracer.span("plans.sql_analysis")(spark.sql(
          s"SELECT l_returnflag, l_linestatus, count(*), " +
            s"sum(CAST(l_quantity AS BIGINT)), " +
            s"sum(CAST(round(l_extendedprice * 100) AS BIGINT)) " +
            s"FROM graft.$a GROUP BY l_returnflag, l_linestatus"))
        tracer.span("io.scan.read")(df.collect())
      } else {
        val path = tracer.span("catalog.resolve")(catalog.resolve(a))
        tracer.span("io.scan.read") {
          val df = MiniDelta.readFiltered(spark, path, UserAcl(u))
          if (tracer.enabled) kept.add(df.inputFiles.length.toDouble / files(t).size)
          df.groupBy("l_returnflag", "l_linestatus")
            .agg(count(lit(1)), sum(col("l_quantity").cast("long")),
              sum(round(col("l_extendedprice") * 100).cast("long")))
            .collect()
        }
      }
    () => {
      val act = got.map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4))).toMap
      val exp = aggs.collect { case ((`t`, rf, ls), v)
          if allowed(Gov(t % 3), rf, ls) && (viaSql || allowed(UserAcl(u), rf, ls)) =>
        (rf, ls) -> v }
      if (act == exp) None
      else Some(s"scan ${if (viaSql) "sql" else User(u)} $a: $act, expected $exp")
    }
  }

  private def opMetricsMinute(): Unit = rec.op("metrics_minute") {
    val ev = tracer.span("catalog.load_input")(graft.Tables.events(spark, dataDir))
    val got = tracer.span("metrics.per_minute")(
      graft.metrics.Metrics.perMinute(ev).collect())
    () => {
      val act = got.map { x =>
        Math.floorDiv(x.getTimestamp(0).getTime, 60000L) ->
          (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4)) }.toMap
      val exp = perMinute.map { case (m, (n, users, cents, size)) =>
        m -> (n, users.toLong, cents.toDouble / 100.0 / n, size.toDouble / n) }
      if (act == exp) None
      else Some(s"metrics_minute: ${act.size} windows, expected ${exp.size}")
    }
  }

  /** A client's `i`-th operation: slot `i` of `Cycle`. The seed draws
    * the arguments; the (user, table) pair is Zipf-distributed. */
  private def step(r: SplittableRandom, i: Int): Unit = {
    val (u, t) = pairs(zipf.draw(r))
    Cycle(i % Cycle.size) match {
      case "metrics_minute" => opMetricsMinute()
      case "list" => opList(r)
      case "head" => opHead(r)
      case "allowed_files" => opAllowedFiles(u, t)
      case "range_get" => opRangeGet(r, u, t)
      case "scan_sql" => opScan(u, t, viaSql = true)
      case _ => opScan(u, t, viaSql = false)
    }
  }

  def clients(seed: Long, warmup: Boolean): Seq[() => Unit] =
    (0 until 2).map { c =>
      val r = Data.rng(seed, (if (warmup) 90 else 100) + c)
      var i = if (warmup) 0 else 10 * c
      () => { step(r, i); i += 1 }
    }
  val cycles = Seq(Cycle.size, Cycle.size)
  /** Slots 0-10 on both clients at once: every op type, and a cold
    * start where both clients list first. */
  val warmup = Seq(11, 11)
  val allKinds = Seq("list", "head", "allowed_files", "range_get", "scan", "metrics_minute")
  /** Per cycle. */
  val weights: Map[String, Double] =
    Cycle.map(c => if (c.startsWith("scan")) "scan" else c)
      .groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
  val metaKinds = Seq("list", "head", "allowed_files", "range_get")
  val scanKinds = Seq("scan")

  /** Ratios measured where the work happens, for a traced run. */
  override def traceMetrics(m: Metrics, census: Seq[JobRec]): Unit = {
    m.put("acl.filelist_hit_ratio",
      if (probes.get == 0) 0.0 else probeHits.get.toDouble / probes.get, "ratio")
    val listRead = census.filter(_.opType == "list").map(_.recordsRead.get).sum
    m.put("listing.rows_read_per_key",
      if (listKeys.get == 0) 0.0 else listRead.toDouble / listKeys.get, "ratio")
    m.put("io.log.files_kept_ratio", Stats.median(kept.asScala.toSeq), "ratio")
  }

  private def lowerBound(k: String): Int = {
    val i = java.util.Arrays.binarySearch(keys.asInstanceOf[Array[AnyRef]], k)
    if (i >= 0) i else -i - 1
  }
  private def upperBound(k: String): Int = {
    val i = java.util.Arrays.binarySearch(keys.asInstanceOf[Array[AnyRef]], k)
    if (i >= 0) i + 1 else -i - 1
  }
}

object ProxyRead {
  val Tables = 24
  val Users = 8
  val PartitionCols = Seq("l_returnflag", "l_linestatus")
  private val Rf = IndexedSeq("A", "N", "R")
  private val Ls = IndexedSeq("F", "O")
  private val MaxKeys = IndexedSeq(10, 100, 1000)

  def User(u: Int): String = s"user$u"

  /** Four table reads, each the requests a Spark reader sends through
    * the reference in order: list the prefix, authorize (the allowed-file
    * set), HEAD an object, GET its footer range, then read the data;
    * the reads go alternately through SQL and readFiltered. One
    * metrics_minute after the first read. Once per cycle, every op type
    * keeps its share however many cycles a run does. One request of each
    * type per read is an assumption, not measured traffic (see
    * README.md). */
  val Cycle: IndexedSeq[String] = {
    def read(scan: String) = Seq("list", "allowed_files", "head", "range_get", scan)
    (read("scan_sql") ++ Seq("metrics_minute") ++ read("scan_rf") ++
      read("scan_sql") ++ read("scan_rf")).toIndexedSeq
  }

  /** Eight users with different static partition ACLs; user0's empty
    * list is allow-all (P7), user7's filter matches nothing. */
  val UserAcl: IndexedSeq[PartitionAcl.Filters] = IndexedSeq(
    Seq.empty,
    Seq(Map("l_returnflag" -> "A")),
    Seq(Map("l_returnflag" -> "N", "l_linestatus" -> "O")),
    Seq(Map("l_returnflag" -> "R", "l_linestatus" -> "F"), Map("l_returnflag" -> "N")),
    Seq(Map("l_linestatus" -> "F")),
    Seq(Map("l_returnflag" -> "A", "l_linestatus" -> "O"),
      Map("l_returnflag" -> "R", "l_linestatus" -> "O")),
    Seq(Map("l_returnflag" -> "N", "l_linestatus" -> "F")),
    Seq(Map("l_returnflag" -> "X")))

  /** Table-level governance (GovernedTables, enforced by
    * AclEnforcementRule on every scan of the table), by table index % 3. */
  val Gov: IndexedSeq[PartitionAcl.Filters] = IndexedSeq(
    Seq.empty,
    Seq(Map("l_linestatus" -> "F")),
    Seq(Map("l_returnflag" -> "A"), Map("l_returnflag" -> "R")))

  private def pad(n: Long, w: Int): String = {
    val s = n.toString
    if (s.length >= w) s else "0" * (w - s.length) + s
  }

  def readRange(p: Path, start: Long, len: Int): Array[Byte] = {
    val ch = FileChannel.open(p, StandardOpenOption.READ)
    try {
      val buf = ByteBuffer.allocate(len)
      while (buf.hasRemaining && ch.read(buf, start + buf.position()) >= 0) ()
      buf.array()
    } finally ch.close()
  }
}
