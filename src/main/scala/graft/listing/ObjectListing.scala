package graft.listing

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** S3-style object listing over a file-metadata DataFrame.
  *
  * Reference semantics (ListObjectsV2 emulation, /root/reference/src/main.rs:228-339):
  *   - keys returned in lexicographic (UTF-8 binary) order        [W1]
  *   - `prefix` filter on the logical key                          [P10]
  *   - `start-after`: strictly greater than a given key            [W2]
  *   - `max-keys`: page-size limit                                 [W3]
  *   - continuation token: offset pagination over the sorted keys  [W4]
  *   - `delimiter=/`: group keys into CommonPrefixes               [S3]
  *   - physical->logical key rewrite (alias prefix swap)           [F5]
  *
  * The fixture stand-in for the reference's partitioned trades table is a
  * synthetic Hive-style key space derived from `lineitem`
  * (lineitem/l_returnflag=R/l_linestatus=F/part-0000000001-01.parquet),
  * per FIXTURES.md role mapping.
  *
  * Scale notes: listing is a pure projection + filter + sort + limit.
  * Filters (`prefix`, `startAfter`) are predicate-pushed to the scan;
  * `orderBy.limit(n)` compiles to TakeOrderedAndProject (top-k per
  * partition, then k-way merge on the driver) — no global sort shuffle, so
  * it holds at 100 TB. Offset pagination (W4) numbers rows with the
  * distributed two-pass prefix sum (graft.operators.GlobalRowNumber);
  * at scale prefer keyset pagination (start-after), which is what S3
  * itself does.
  */
object ObjectListing {

  // File-metadata cache, mirroring the reference's TTL'd file-list cache
  // (/root/reference/src/main.rs:90-93): listings are served from
  // materialized metadata, not recomputed per request. Keyed by data dir;
  // metadata is small relative to data even at 100 TB (one row per file).
  // Obeys the SAME config knob (`fileListCache`) as the ACL file-list
  // cache — every cache the engine owns is bounded and TTL'd through
  // [[graft.catalog.GraftConfig.applyCaches]]; evicted frames release
  // their persisted blocks.
  @volatile private var filesCache =
    new graft.util.TtlCache[String, DataFrame](100, 120000L,
      onEvict = df => { df.unpersist(); () })

  /** Rebuild the listing cache from the `fileListCache` config knob —
    * entries discarded and unpersisted, like a reference restart. */
  def configureFilesCache(cfg: graft.catalog.CacheConfig): Unit = {
    val old = filesCache
    filesCache = new graft.util.TtlCache[String, DataFrame](
      cfg.maxEntries, cfg.ttlMs, onEvict = df => { df.unpersist(); () })
    old.clear()
  }

  def filesDF(spark: SparkSession, sfDir: String): DataFrame = {
    val cache = filesCache
    val df = cache.getOrElseUpdate(sfDir)(buildFilesDF(spark, sfDir).persist())
    // the cache loads each key once (two cold callers share one persisted
    // frame); but configureFilesCache may have swapped and cleared it
    // after this call read `filesCache` — a load begun on the orphaned
    // instance after its clear() was inserted there; clear it again so
    // that persist is released instead of leaking
    if (cache ne filesCache) cache.clear()
    df
  }

  /** Synthetic file-metadata DF: key, size, etag, last_modified,
    * storage_class (+ the partition columns they were derived from).
    * The fixture data has duplicate (orderkey, linenumber) pairs, so keys
    * are deduplicated with order-independent min-aggregates — a real
    * object listing has unique keys. */
  def buildFilesDF(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
    li.select(
      concat(
        lit("lineitem/l_returnflag="), col("l_returnflag"),
        lit("/l_linestatus="), col("l_linestatus"),
        lit("/part-"), lpad(col("l_orderkey").cast("string"), 10, "0"),
        lit("-"), lpad(col("l_linenumber").cast("string"), 2, "0"),
        lit(".parquet")).as("key"),
      (col("l_orderkey") * 131 + col("l_linenumber") * 7).as("size"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .groupBy("key")
      .agg(min(col("size")).as("size"),
        min(col("l_returnflag")).as("l_returnflag"),
        min(col("l_linestatus")).as("l_linestatus"),
        min(col("l_shipdate")).as("last_modified"))
      .withColumn("etag", md5(col("key")))
      .withColumn("storage_class", lit("STANDARD"))
  }

  /** One ListObjectsV2 page: prefix + start-after + max-keys, key order. */
  def list(files: DataFrame, prefix: String, startAfter: Option[String],
           maxKeys: Int): DataFrame = {
    val prefixed = files.where(col("key").startsWith(prefix))
    val after = startAfter.fold(prefixed)(k => prefixed.where(col("key") > k))
    after
      .select("key", "size", "etag", "last_modified", "storage_class")
      .orderBy("key")
      .limit(maxKeys)
  }

  /** `delimiter=/` grouping: distinct first path segment below the prefix,
    * rendered as CommonPrefixes entries (src/main.rs:273-317). */
  def commonPrefixes(files: DataFrame, prefix: String): DataFrame = {
    val rest = expr(s"substring(key, ${prefix.length + 1})")
    files.where(col("key").startsWith(prefix))
      .where(instr(rest, "/") > 0)
      .select(concat(lit(prefix),
        substring_index(rest, "/", 1), lit("/")).as("common_prefix"))
      .distinct()
      .orderBy("common_prefix")
  }

  /** Continuation-token pagination: rows (pageNum-1)*pageSize+1 .. of the
    * key-ordered listing, with their global row numbers. Numbering runs
    * distributed ([[graft.operators.GlobalRowNumber]]: range partition +
    * per-partition offsets) — not the single-partition
    * `Window.orderBy` plan, which cannot hold at 100 TB. Keys are unique,
    * so the order is total and rn is deterministic. At scale prefer
    * keyset pagination (start-after, what S3 itself does) when the row
    * number itself isn't needed. */
  def page(files: DataFrame, pageSize: Int, pageNum: Int): DataFrame =
    graft.operators.GlobalRowNumber(
      files.select("key", "size"), Seq(col("key")))
      .where(col("rn") > (pageNum - 1).toLong * pageSize &&
             col("rn") <= pageNum.toLong * pageSize)

  /** F5/P10: physical key -> logical key (base prefix swapped for alias). */
  def toLogical(df: DataFrame, physicalBase: String, alias: String): DataFrame =
    df.withColumn("key",
      concat(lit(alias), lit("/"),
        expr(s"substring(key, ${physicalBase.length + 1})")))

  /** F5/P10 inverse: logical key -> physical key. */
  def toPhysical(df: DataFrame, physicalBase: String, alias: String): DataFrame =
    df.withColumn("key",
      concat(lit(physicalBase),
        expr(s"substring(key, ${alias.length + 2})")))

  /** S8 HEAD: metadata projection for one key; no data scan. */
  def head(files: DataFrame, key: String): DataFrame =
    files.where(col("key") === key)
      .select("key", "size", "etag", "last_modified", "storage_class")
}
