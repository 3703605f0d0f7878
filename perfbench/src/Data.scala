package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated lineitem row. Prices are whole cents so every model
  * aggregate is exact integer arithmetic. */
final case class Li(orderkey: Long, linenumber: Int, quantity: Int,
                    cents: Long, rf: String, ls: String, shipDay: Int) {
  def price: Double = cents / 100.0
  def shipTs: Timestamp = new Timestamp((Data.Epoch1995Day + shipDay) * 86400000L)
}

/** One generated event; `value` is whole cents. */
final case class Ev(id: Long, tsMicros: Long, user: Long, kind: String,
                    cents: Long)

/** Seeded generators for the benchmark's inputs, shaped like the
  * TPC-H-ish fixture tables the engine's gates read (lineitem, events,
  * documents, embeddings). `sf` scales row counts as TPC-H does
  * (sf 0.1 = 600k lineitem rows, 100k events, 5,000 documents, 2,000
  * vectors). The same seed always gives the same rows. */
object Data {
  val Epoch1995Day = 9131L // 1995-01-01 in days since 1970-01-01
  private val Day0Micros = 1704067200000000L // 2024-01-01T00:00:00Z

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + salt)

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private val Flags = IndexedSeq("A", "N", "R")
  private val Statuses = IndexedSeq("F", "O")

  /** lineitem comes in 24 seeded chunks (one per proxy_read table), so
    * executors generate their own rows and the driver's models see the
    * very same ones. */
  val LineitemChunks = 24

  def lineitemChunk(seed: Long, sf: Double, c: Int): IndexedSeq[Li] = {
    val r = rng(seed, 1000 + c)
    val n = math.max(600, (6000000 * sf).toInt)
    val orders = math.max(1, n / 4)
    IndexedSeq.fill(n / LineitemChunks) {
      Li(r.nextLong(orders) + 1, r.nextInt(7) + 1, r.nextInt(50) + 1,
        90000L + r.nextLong(10000000L), Flags(r.nextInt(3)),
        Statuses(r.nextInt(2)), r.nextInt(2500))
    }
  }

  /** lineitem with each row's chunk number as a leading `chunk` column. */
  def chunkedLineitemFrame(spark: SparkSession, seed: Long, sf: Double,
                           slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(0 until LineitemChunks, slices)
      .flatMap(c => lineitemChunk(seed, sf, c).iterator.map(l =>
        Row.fromSeq(c +: lineitemRow(l).toSeq))),
      StructType(StructField("chunk", IntegerType) +: lineitemSchema.fields))

  def lineitemRow(l: Li): Row = Row(l.orderkey, l.linenumber,
    l.quantity.toDouble, l.price, l.rf, l.ls, l.shipTs)

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType,
            slices: Int = 8): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)

  /** Write one parquet table as `<dir>/<name>.parquet`, the layout
    * graft.Tables reads. */
  def write(df: DataFrame, dir: String, name: String, files: Int): Unit =
    df.coalesce(files).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  val EventTypes: IndexedSeq[String] =
    IndexedSeq("click", "error", "purchase", "signup", "view")

  val EventChunks = 8

  def eventChunk(seed: Long, sf: Double, c: Int): IndexedSeq[Ev] = {
    val r = rng(seed, 2000 + c)
    val per = math.max(100, (1000000 * sf).toInt) / EventChunks
    (c * per until (c + 1) * per).map { i =>
      Ev(i.toLong, Day0Micros + r.nextLong(30L * 86400L * 1000000L),
        r.nextLong(1500), EventTypes(r.nextInt(EventTypes.size)),
        r.nextLong(20000))
    }
  }

  def eventsFrame(spark: SparkSession, seed: Long, sf: Double): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(0 until EventChunks, EventChunks)
      .flatMap(c => eventChunk(seed, sf, c).iterator.map(eventRow)), eventsSchema)

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def eventRow(e: Ev): Row = {
    val ts = new Timestamp(Math.floorDiv(e.tsMicros, 1000L))
    ts.setNanos((Math.floorMod(e.tsMicros, 1000000L) * 1000L).toInt)
    Row(e.id, ts, e.user, e.kind, e.cents / 100.0, s"""{"k": ${e.id % 97}}""")
  }

  private val Vocab = IndexedSeq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = IndexedSeq("en", "en", "en", "en", "en", "en", "en",
    "en", "de", "de", "de", "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh")

  /** Documents: 10-100 words over a 30-word vocabulary, with ~3% near
    * duplicates (an earlier doc with one word changed, tagged `dup`)
    * and a few exact duplicates, so the dedup gates have pairs. */
  def documents(spark: SparkSession, seed: Long, sf: Double): DataFrame = {
    val r = rng(seed, 3)
    val n = math.max(50, (50000 * sf).toInt)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      val u = r.nextInt(1000)
      texts(i) =
        if (i > 10 && u < 30) {
          val w = texts(r.nextInt(i)).split(' ')
          w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.size))
          w.mkString(" ") + " dup"
        } else if (i > 10 && u < 32) texts(r.nextInt(i))
        else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      Row(i.toLong, texts(i), Langs(r.nextInt(Langs.size)), s"src${i % 20}",
        texts(i).length.toLong)
    }
    frame(spark, rows, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))))
  }

  /** Unit vectors of dimension 64 around ten label centroids. */
  def embeddings(spark: SparkSession, seed: Long, sf: Double): DataFrame = {
    val r = rng(seed, 4)
    val n = math.max(20, (20000 * sf).toInt)
    val cents = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    val rows = (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = cents(label).map(c => c + (r.nextDouble() * 2 - 1) * 0.8)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    frame(spark, rows, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }
}
