package perfbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** The LLM-data operators: one client running back-to-back passes over
  * a fixed list of gates (dedup, decontamination, edit distance,
  * duplicated spans, a composed pipeline, ANN search). No ACL, listing
  * or commit work: a metadata change must leave this workload alone.
  * The first pass is untimed; its outputs go to the DuckDB oracle
  * check, and every later pass must hash-equal it. */
final class LlmBatch(spark: SparkSession, cfg: Cfg, tracer: Tracer,
                     rec: Recorder) extends Workload {
  import LlmBatch._

  private val dataDir = s"${cfg.work}/data"
  private val outDir = s"${cfg.work}/llm_out"
  private val firstHash = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Write the inputs where graft.Tables reads them (benchmark-side,
    * not set-up time). */
  override def prepare(): Unit = {
    Data.write(Data.documents(spark, cfg.seed, cfg.sf), dataDir, "documents", 1)
    Data.write(Data.embeddings(spark, cfg.seed, cfg.sf), dataDir, "embeddings", 1)
  }

  /** Load the inputs through graft.Tables. */
  def setup(rep: Int): Unit =
    Seq("documents", "embeddings").foreach(t => graft.Tables.load(spark, dataDir, t).count())

  private def hash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One gate inside a pass; returns its output check. */
  private def runGate(g: String): () => Option[String] = {
    val t0 = System.nanoTime()
    tracer.span("catalog.load_input")(graft.Tables.load(spark, dataDir, Input(g)).schema)
    val t1 = System.nanoTime()
    val df = SparkEntry.queries(g)(spark, dataDir)
    val rows = tracer.span(s"llm.$g")(df.collect())
    rec.record("resolve", (t1 - t0) / 1e6)
    rec.record(g, (System.nanoTime() - t1) / 1e6)
    val h = hash(rows)
    val first = firstHash.putIfAbsent(g, h)
    if (first.isEmpty) {
      // first pass: keep the output for the oracle check
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$g")
    }
    val want = first.map(f => if (cfg.corrupt) f.reverse else f)
    () => want.filter(_ != h).map(w => s"$g: pass hash $h differs from the first pass $w")
  }

  /** One operation is one pass over every gate. */
  private def runPass(): Unit = rec.op("pass") {
    val checks = Gates.map(runGate)
    () => Some(checks.flatMap(_())).filter(_.nonEmpty).map(_.mkString("; "))
  }

  def clients(seed: Long, warmup: Boolean): Seq[() => Unit] = Seq(() => runPass())

  val cycles = Seq(1)
  /** The first, checked pass. */
  val warmup = Seq(1)
  val allKinds = Seq("pass")
  val weights = Map("pass" -> 1.0)
  val metaKinds = Seq("resolve")
  val scanKinds: Seq[String] = Gates

  override def finish(m: Metrics): Unit = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(Gates.map(g => g -> SparkEntry.oracleSql(g)).toMap.asJava)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, "oracle_sql.json"), json)
    ()
  }

  override def detail(m: Metrics, rec: Recorder): Unit = {
    m.put("passes", rec.count("pass"), "count")
    m.put("pass_s", Stats.median(rec.ms("pass")) / 1000, "s")
    Gates.foreach(g => m.put(s"p50.$g", Stats.median(rec.ms(g)), "ms"))
  }
}

object LlmBatch {
  /** One gate per operator family: MinHash LSH, n-gram
    * decontamination, int8 ANN search. */
  val Gates: Seq[String] = Seq("d2_minhash_lsh", "d9_decontaminate",
    "sim_quantized_topk")

  def Input(g: String): String = if (g.startsWith("sim_")) "embeddings" else "documents"
}
