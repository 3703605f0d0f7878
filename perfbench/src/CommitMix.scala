package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.MiniDelta

/** The write funnel on one partitioned table that fits every cache:
  * each commit (small append, deletion-vector delete, update, keyed
  * merge) is followed by a fresh read that pins the current version and
  * reads a partition-governed aggregate at it, which must equal the
  * writer's model of that version. One client, so every run does the
  * same mix; the checkpoint interval is 5, so checkpoints land while
  * timed. */
final class CommitMix(spark: SparkSession, cfg: Cfg, tracer: Tracer,
                      rec: Recorder) extends Workload {
  import CommitMix._

  private var path = ""
  private val initialRows = math.max(200, (100000 * cfg.sf).toInt)

  // the writer's model: id -> (partition, qty, cents); writer thread only
  private val live = scala.collection.mutable.LongMap.empty[(String, Long, Long)]
  private var nextId = 0L
  /** Model aggregate per committed version, for the reader's checks. */
  private val versions = new ConcurrentHashMap[Long, Map[String, (Long, Long, Long)]]()
  /** Writer latency per version it committed (checkpoint_commit_ms). */
  private val commitMs = new ConcurrentHashMap[Long, Double]()
  private var timedFrom = 0L

  private def row(id: Long, r: SplittableRandom): Row =
    Row(id, s"p${id % Parts}", (r.nextInt(50) + 1).toLong, r.nextLong(100000))

  private def frame(rows: Seq[Row]) = Data.frame(spark, rows, Schema, 1)

  private def snapshot(v: Long): Unit = {
    val agg = live.values.groupBy(_._1).map { case (p, xs) =>
      val bump = if (cfg.corrupt && p == "p0") 1L else 0L
      p -> (xs.size.toLong + bump, xs.map(_._2).sum, xs.map(_._3).sum)
    }
    versions.put(v, agg)
    ()
  }

  def setup(rep: Int): Unit = {
    path = s"${cfg.work}/commit$rep/orders"
    live.clear(); versions.clear()
    val r = Data.rng(cfg.seed, 7)
    MiniDelta.createTable(spark, path, Schema, Seq("p"), Map(
      "delta.enableDeletionVectors" -> "true", "delta.checkpointInterval" -> "5"))
    snapshot(0L)
    val rows = (0L until initialRows).map(row(_, r))
    val v = MiniDelta.append(spark, frame(rows), path, Seq("p"))
    rows.foreach(x => live(x.getLong(0)) = (x.getString(1), x.getLong(2), x.getLong(3)))
    nextId = initialRows
    snapshot(v)
  }

  private def commit(kind: String)(body: => Long)(model: => Unit): Unit =
    rec.op(kind) {
      val t0 = System.nanoTime()
      val v = tracer.span(s"io.commit.$kind")(body)
      commitMs.put(v, (System.nanoTime() - t0) / 1e6)
      model
      snapshot(v)
      () => None
    }

  private def liveIds(r: SplittableRandom, n: Int): Seq[Long] =
    Iterator.continually(r.nextLong(nextId)).filter(live.contains).take(n).toSeq.distinct

  /** Writer mix, a fixed cycle: append (100 rows), delete, update,
    * merge. */
  private def write(r: SplittableRandom, i: Int): Unit = i % 4 match {
    case 0 =>
      val rows = (nextId until nextId + 100).map(row(_, r))
      commit("append")(MiniDelta.append(spark, frame(rows), path, Seq("p"))) {
        rows.foreach(x => live(x.getLong(0)) = (x.getString(1), x.getLong(2), x.getLong(3)))
        nextId += 100
      }
    case 1 =>
      val p = s"p${r.nextInt(Parts)}"
      val k = r.nextInt(53)
      commit("delete")(MiniDelta.delete(spark, path,
        col("p") === p && pmod(col("id"), lit(53L)) === k, Seq("p"))) {
        live.filterInPlace { case (id, (q, _, _)) => !(q == p && id % 53 == k) }
      }
    case 2 =>
      val lo = r.nextLong(nextId)
      commit("update")(MiniDelta.update(spark, path, col("id").between(lo, lo + 199),
        Map("qty" -> (col("qty") + 1)), Seq("p"))) {
        (lo to lo + 199).foreach(id => live.get(id).foreach { case (p, q, c) =>
          live(id) = (p, q + 1, c) })
      }
    case _ =>
      val upd = liveIds(r, 25).map(id => Row(id, live(id)._1, r.nextLong(1000), r.nextLong(100000)))
      val ins = (nextId until nextId + 25).map(row(_, r))
      commit("merge")(MiniDelta.merge(spark, path, frame(upd ++ ins), Seq("id"), Seq("p"))) {
        (upd ++ ins).foreach(x => live(x.getLong(0)) = (x.getString(1), x.getLong(2), x.getLong(3)))
        nextId += 25
      }
  }

  private def aggregate(rows: Array[Row]): Map[String, (Long, Long, Long)] =
    rows.map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap

  /** Reader: pin the current version, then the governed aggregate at it. */
  private def read(): Unit = rec.op("fresh_read") {
    val t0 = System.nanoTime()
    val v = tracer.span("io.log.current_version")(MiniDelta.currentVersion(spark, path))
    val t1 = System.nanoTime()
    val got = tracer.span("io.scan.read")(
      MiniDelta.readFiltered(spark, path, ReaderAcl, Some(v))
        .groupBy("p").agg(count(lit(1)), sum("qty"), sum("cents")).collect())
    rec.record("pin", (t1 - t0) / 1e6)
    rec.record("read", (System.nanoTime() - t1) / 1e6)
    () => {
      val deadline = System.nanoTime() + 30000000000L
      while (!versions.containsKey(v) && System.nanoTime() < deadline) Thread.sleep(5)
      Option(versions.get(v)) match {
        case None => Some(s"version $v has no writer model")
        case Some(all) =>
          val exp = all.filter { case (p, (n, _, _)) => Readable(p) && n > 0 }
          val act = aggregate(got)
          if (act == exp) None else Some(s"read at v$v: $act, expected $exp")
      }
    }
  }

  def clients(seed: Long, warmup: Boolean): Seq[() => Unit] = {
    val r = Data.rng(seed, if (warmup) 8 else 9)
    if (!warmup) timedFrom = MiniDelta.currentVersion(spark, path) + 1
    var i = 0
    Seq(() => { write(r, i); read(); i += 1 })
  }

  val cycles = Seq(4)
  /** One writer cycle, each commit followed by its read, so every op
    * type has run once before timing; with update and merge first run
    * while timed, CPU per op varied several times more. */
  val warmup = Seq(4)
  val allKinds = Seq("append", "delete", "update", "merge", "fresh_read")
  /** Per writer cycle, counting one fresh read per commit. */
  val weights = Map("append" -> 1.0, "delete" -> 1.0, "update" -> 1.0,
    "merge" -> 1.0, "fresh_read" -> 4.0)
  val metaKinds = Seq("pin")
  val scanKinds = Seq("read")

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** The final table must equal the model; then the space taken. */
  override def finish(m: Metrics): Unit = {
    val v = MiniDelta.currentVersion(spark, path)
    val table = MiniDelta.readFiltered(spark, path, Nil, Some(v))
    val act = table.select("id", "p", "qty", "cents").collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getLong(3))).toMap
    if (act != live.toMap) rec.mismatch(s"final table at v$v: ${act.size} rows, model ${live.size}")
    val copy = s"${cfg.work}/fresh_copy"
    table.coalesce(1).write.mode("overwrite").parquet(copy)
    m.put("space_amp", dirBytes(Paths.get(path)).toDouble / dirBytes(Paths.get(copy)), "ratio")
    m.put("commits", (v - timedFrom + 1).toDouble, "count")
    val log = Paths.get(path, "_delta_log")
    val names = Files.list(log).iterator().asScala.map(_.getFileName.toString).toSeq
    val cps = names.filter(_.matches("""\d{20}\.checkpoint.*""")).map(_.take(20).toLong).toSet
      .filter(_ >= timedFrom)
    m.put("checkpoints", cps.size.toDouble, "count")
    m.put("io.commit.checkpoint_commit_ms",
      Stats.median(cps.toSeq.flatMap(c => Option(commitMs.get(c)))), "ms")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val adds = (timedFrom to v).flatMap { ver =>
      val f = log.resolve(f"$ver%020d.json")
      Files.readAllLines(f).asScala.map(mapper.readTree).filter(_.has("add"))
        .map(_.get("add").get("size").asLong)
    }
    val n = (v - timedFrom + 1).max(1)
    m.put("io.commit.files_added_per_commit", adds.size.toDouble / n, "count")
    m.put("io.commit.bytes_per_commit", adds.sum.toDouble / n, "bytes")
    m.put("io.commit.log_bytes", dirBytes(log).toDouble, "bytes")
  }

  override def detail(m: Metrics, rec: Recorder): Unit =
    m.put("fresh_read_p50_ms", Stats.median(rec.ms("fresh_read")), "ms")
}

object CommitMix {
  val Parts = 4
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("p", StringType),
    StructField("qty", LongType), StructField("cents", LongType)))
  /** The reader's partition ACL: p2 is denied. */
  val ReaderAcl = Seq(Map("p" -> "p0"), Map("p" -> "p1"), Map("p" -> "p3"))
  val Readable = Set("p0", "p1", "p3")
}
