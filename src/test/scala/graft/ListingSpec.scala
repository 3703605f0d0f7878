package graft

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.listing.ObjectListing

/** Mirrors the reference's listing unit tests (src/main.rs:1175-1397):
  * prefix mapping, start-after, max-keys, key rewrite, HEAD. */
class ListingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val files = ObjectListing.filesDF(spark, TestSpark.sfTiny).cache()

  test("listing is lexicographically ordered and prefix-filtered") {
    val page = ObjectListing.list(files, "lineitem/l_returnflag=A/", None, 50)
      .collect()
    assert(page.length == 50)
    val keys = page.map(_.getString(0))
    assert(keys.forall(_.startsWith("lineitem/l_returnflag=A/")))
    assert(keys.sameElements(keys.sorted))
  }

  test("start-after is strict (S3 semantics)") {
    val all = ObjectListing.list(files, "lineitem/", None, 10)
      .collect().map(_.getString(0))
    val after = ObjectListing.list(files, "lineitem/", Some(all(4)), 10)
      .collect().map(_.getString(0))
    assert(after.head == all(5))
    assert(!after.contains(all(4)))
  }

  test("max-keys caps the page") {
    assert(ObjectListing.list(files, "lineitem/", None, 7).count() == 7)
  }

  test("common prefixes = delimiter grouping") {
    val cps = ObjectListing.commonPrefixes(files, "lineitem/")
      .collect().map(_.getString(0))
    assert(cps.toSet == Set("lineitem/l_returnflag=A/",
      "lineitem/l_returnflag=N/", "lineitem/l_returnflag=R/"))
  }

  test("logical <-> physical key rewrite round-trips") {
    val base = "warehouse/uuid1/"
    val phys = files.select("key").limit(20)
      .withColumn("key", concat(lit(base), col("key")))
    val logical = ObjectListing.toLogical(phys, base, "trades")
    assert(logical.collect().forall(_.getString(0).startsWith("trades/")))
    val back = ObjectListing.toPhysical(logical, base, "trades")
    assert(back.collect().forall(_.getString(0).startsWith(base)))
  }

  test("HEAD projects metadata for exactly one key") {
    val k = files.orderBy("key").limit(1).collect()(0).getString(0)
    val head = ObjectListing.head(files, k).collect()
    assert(head.length == 1)
    assert(head(0).getAs[String]("storage_class") == "STANDARD")
  }

  test("pagination page 2 continues exactly after page 1") {
    val p1 = ObjectListing.page(files, 25, 1).collect().map(_.getString(0))
    val p2 = ObjectListing.page(files, 25, 2).collect().map(_.getString(0))
    val all = ObjectListing.list(files, "", None, 50).collect()
      .map(_.getString(0))
    assert((p1 ++ p2).sameElements(all))
  }

  test("listing cache obeys the configured capacity (config knob wired)") {
    import graft.catalog.CacheConfig
    ObjectListing.configureFilesCache(CacheConfig(1, 0L)) // LRU of 1
    try {
      val a = ObjectListing.filesDF(spark, TestSpark.sfTiny)
      assert(ObjectListing.filesDF(spark, TestSpark.sfTiny) eq a) // warm hit
      // a second key overflows capacity 1 and evicts the first entry
      ObjectListing.filesDF(spark, "/root/testdata/sf0.01")
      assert(!(ObjectListing.filesDF(spark, TestSpark.sfTiny) eq a))
    } finally ObjectListing.configureFilesCache(CacheConfig(100, 120000L))
  }

  test("two cold callers share one listing frame and it stays cached") {
    import graft.catalog.CacheConfig
    ObjectListing.configureFilesCache(CacheConfig(100, 120000L)) // cold
    val start = new java.util.concurrent.CyclicBarrier(2)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val callers = Seq.fill(2)(new Thread(() => {
      start.await()
      got.add(ObjectListing.filesDF(spark, TestSpark.sfTiny))
    }))
    callers.foreach(_.start())
    callers.foreach(_.join())
    val Seq(a, b) = got.toArray(Array.empty[DataFrame]).toSeq
    assert(a eq b)
    // a raced duplicate released through onEvict would unpersist the kept
    // frame as well: CacheManager uncaches by plan equality
    val cacheManager = spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager
    assert(cacheManager.lookupCachedData(a.asInstanceOf[classic.Dataset[_]])
      .isDefined)
  }

  test("GlobalRowNumber == single-partition window row_number, distributed") {
    import org.apache.spark.sql.expressions.Window
    val numbered = graft.operators.GlobalRowNumber(
      files.select("key", "size"), Seq(col("key")), numPartitions = 7)
    // actually distributed: rows span multiple range partitions
    assert(numbered.select(spark_partition_id()).distinct().count() > 1)
    val got = numbered.orderBy("rn").collect()
      .map(r => (r.getString(0), r.getLong(2)))
    val ref = files.select(col("key"),
        row_number().over(Window.orderBy("key")).cast("long").as("rn"))
      .orderBy("rn").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.sameElements(ref))
  }
}
