package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ClaimRace, ContainerIO, Manifests, SparkTestSession, TestDirs}

/** Copy-on-write row-level UPDATE (round 9): DELETE's sibling — matched
  * rows rewrite with assignments applied (originals visible to every
  * assignment), unmatched containers keep their manifests, one OCC swap,
  * retained snapshots still read the pre-update values.
  */
class UpdateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val conf = ContainerIO.localConf()

  private def tmp(tag: String): String =
    TestDirs.createTempDirectory(s"graft-upd-$tag").toString

  private def append(d: String, lo: Long, hi: Long, tag: String): Unit = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"$tag${i % 7}", i * 10L))
      .toDF("id", "tag", "score")
      .coalesce(1).write.format("graft").mode("append").save(d)
  }

  private def names(d: String): Set[String] =
    Manifests.readCommitted(conf, d).map(_.name).toSet

  test("update applies assignments to exactly the matched rows; " +
    "assignments see the ORIGINAL values") {
    val d = tmp("basic")
    append(d, 0, 100, "x")
    // swap-style multi-assignment: both read the pre-update row
    val n = GraftMaintenance.update(spark, d, "id % 10 = 3",
      Map("score" -> "score + id", "tag" -> "concat(tag, '!')"))
    assert(n === 10)
    val r = spark.read.format("graft").load(d)
    assert(r.count() === 100)
    val updated = r.filter(expr("id % 10 = 3")).orderBy("id").collect()
    assert(updated.length === 10)
    updated.foreach { row =>
      val id = row.getLong(0)
      assert(row.getString(1) === s"x${id % 7}!")
      assert(row.getLong(2) === id * 10 + id)
    }
    assert(r.filter(expr("id % 10 <> 3") && col("tag").endsWith("!"))
      .count() === 0, "unmatched rows must be untouched")
  }

  test("admission pruning: containers that provably hold no match keep " +
    "their manifests; zero-match rewrites are discarded") {
    val d = tmp("prune")
    append(d, 0, 100, "a")
    append(d, 1000, 1100, "b")
    val before = names(d)
    val n = GraftMaintenance.update(spark, d, "id < 50",
      Map("score" -> "0L"))
    assert(n === 50)
    assert((before intersect names(d)).size === 1,
      "the high-range container must keep its manifest")
    assert(GraftMaintenance.update(spark, d, "tag = 'nope'",
      Map("score" -> "1L")) === 0L)
    assert(ContainerIO.listNames(conf, s"$d/blocks")
      .count(_.startsWith("part-update-")) <= 1,
      "zero-match rewrites must not leak staged containers")
  }

  test("admission skips a container the predicate provably misses: its " +
    "block is never opened") {
    val d = tmp("unopened")
    append(d, 0, 100, "a")     // ids 0..99
    append(d, 1000, 1100, "b") // ids 1000..1099
    // without the high-range container's block, an update that opens it fails
    val high = Manifests.readCommitted(conf, d).filter(_.longRanges("id")._1 >= 1000)
    assert(high.size === 1)
    java.nio.file.Files.delete(java.nio.file.Paths.get(high.head.blockFile(d)))
    assert(GraftMaintenance.update(spark, d, "id = 5", Map("score" -> "0L")) === 1L)
  }

  test("zone maps re-record from updated values; pushdowns stay exact") {
    val d = tmp("zones")
    append(d, 0, 100, "a")
    GraftMaintenance.update(spark, d, "id >= 90", Map("score" -> "-1L"))
    val r = spark.read.format("graft").load(d)
    assert(r.filter(col("score") < 0L).count() === 10)
    assert(r.agg(min("score")).collect().head.getLong(0) === -1L)
    assert(r.agg(max("score")).collect().head.getLong(0) === 890L)
  }

  test("update backfills an added column on containers that predate it") {
    val d = tmp("backfill")
    append(d, 0, 40, "a") // predates the added column
    val wide = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false),
      StructField("score", LongType, nullable = false),
      StructField("grade", StringType, nullable = true)))
    val rows = (100 until 140).map(i =>
      Row(i.toLong, s"b${i % 7}", i * 10L, "new"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), wide)
      .coalesce(1).write.format("graft").mode("append").save(d)
    val n = GraftMaintenance.update(spark, d, "grade IS NULL",
      Map("grade" -> "CASE WHEN score >= 200 THEN 'high' ELSE 'low' END"))
    assert(n === 40)
    val r = spark.read.format("graft").load(d)
    assert(r.filter(col("grade").isNull).count() === 0)
    assert(r.filter(col("grade") === "high").count() === 20)
    assert(r.filter(col("grade") === "low").count() === 20)
    assert(r.filter(col("grade") === "new").count() === 40)
  }

  test("update across kinds round-trips exactly (decimal, boolean, " +
    "float, timestamp, binary, embedding)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("amount", DecimalType(12, 2), nullable = false),
      StructField("flag", BooleanType, nullable = false),
      StructField("score", FloatType, nullable = false),
      StructField("ts", TimestampNTZType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("emb", ArrayType(FloatType, containsNull = false),
        nullable = false)))
    val rows = (0 until 60).map { i =>
      Row(i.toLong, new java.math.BigDecimal(s"$i.50"), i % 2 == 0,
        i * 0.5f,
        java.time.LocalDateTime.of(2026, 2, 1, 0, 0).plusMinutes(i.toLong),
        Array.fill(3)(i.toByte), Array.tabulate(4)(d => (i + d).toFloat))
    }
    val d = tmp("kinds")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .coalesce(1).write.format("graft").mode("append").save(d)
    val n = GraftMaintenance.update(spark, d, "id < 30 AND flag",
      Map("amount" -> "amount * 2",
          "score" -> "-score",
          "ts" -> "ts + INTERVAL 1 HOUR"))
    assert(n === 15)
    val r = spark.read.format("graft").load(d).orderBy("id").collect()
    assert(r.length === 60)
    val m = r(4) // id 4: matched
    assert(m.getDecimal(1) === new java.math.BigDecimal("9.00"))
    assert(m.getFloat(3) === -2.0f)
    assert(m.getAs[java.time.LocalDateTime](4) ===
      java.time.LocalDateTime.of(2026, 2, 1, 1, 4))
    // untouched lanes round-trip byte-exact through the rewrite
    assert(m.getAs[Array[Byte]](5).toSeq === Seq(4.toByte, 4.toByte, 4.toByte))
    assert(m.getAs[Seq[Float]](6) === Seq(4f, 5f, 6f, 7f))
    val u = r(5) // id 5: unmatched (flag false)
    assert(u.getDecimal(1) === new java.math.BigDecimal("5.50"))
    assert(u.getFloat(3) === 2.5f)
  }

  test("update x time travel, replay, and concurrent append") {
    val d = tmp("concur")
    append(d, 0, 50, "a") // version 0
    val n = ClaimRace.racing(append(d, 1000, 1010, "z")) {
      GraftMaintenance.update(spark, d, "id < 10", Map("score" -> "0L"))
    }
    assert(n === 10)
    val r = spark.read.format("graft").load(d)
    assert(r.count() === 60, "the racing append must survive the swap")
    assert(r.filter(col("id") < 10 && col("score") === 0L).count() === 10)
    // the pre-update snapshot still reads the original values
    val pre = spark.read.format("graft").option("versionAsOf", "0").load(d)
    assert(pre.filter(col("id") < 10 && col("score") > 0L).count() === 9)
  }

  test("updating a bucket-partition source column drops the recorded " +
    "bucket facts: point queries stay exact afterwards") {
    import spark.implicits._
    val d = tmp("bucket")
    (0 until 200).map(i => (i.toLong, (i % 16).toLong, i * 1.0))
      .toDF("event_id", "user_id", "value")
      .write.format("graft").option("chunkRows", "64")
      .option("partitionBy", "bucket(8, user_id)")
      .option("writePartitions", "8")
      .mode("overwrite").save(d)
    // rewrite every user_id 3 row to user_id 99 — 99's Murmur3 bucket is
    // NOT in the original containers' recorded id sets; stale facts
    // would make the point query below prune the rewritten container
    val n = GraftMaintenance.update(spark, d, "user_id = 3",
      Map("user_id" -> "99L"))
    assert(n > 0)
    val r = spark.read.format("graft").load(d)
    assert(r.filter(col("user_id") === 99L).count() === n)
    assert(r.filter(col("user_id") === 3L).count() === 0)
    // untouched containers keep their bucket facts and still prune
    assert(r.filter(col("user_id") === 5L).count() ===
      (0 until 200).count(_ % 16 == 5))
    // an update NOT touching the bucket column keeps the metadata
    val m2 = GraftMaintenance.update(spark, d, "user_id = 5",
      Map("value" -> "value + 1000"))
    assert(m2 === (0 until 200).count(_ % 16 == 5))
    val touched = Manifests.readCommitted(conf, d)
      .filter(m => m.name.startsWith("update-") && m.bucketIds.nonEmpty)
    assert(touched.nonEmpty,
      "a value-only update must keep the recorded bucket facts")
  }

  test("guards: unknown column, nondeterministic expr, NULL into " +
    "non-nullable") {
    val d = tmp("guards")
    append(d, 0, 10, "a")
    intercept[IllegalArgumentException] {
      GraftMaintenance.update(spark, d, "true", Map("nope" -> "1"))
    }
    intercept[IllegalArgumentException] {
      GraftMaintenance.update(spark, d, "true", Map("score" -> "rand()"))
    }
    // NULL into a NON-nullable column fails loud and leaves no stage
    // (toDF schemas are nullable, so build one explicitly)
    val nn = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val d2 = tmp("guards-nn")
    spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 10).map(i => Row(i.toLong, s"x$i")), 1), nn)
      .coalesce(1).write.format("graft").mode("append").save(d2)
    intercept[Exception] {
      GraftMaintenance.update(spark, d2, "id = 3",
        Map("tag" -> "CAST(NULL AS STRING)"))
    }
    // the failed update left the table untouched
    val r = spark.read.format("graft").load(d2)
    assert(r.count() === 10)
    assert(r.filter(col("tag").isNull).count() === 0)
    assert(ContainerIO.listNames(conf, s"$d2/blocks")
      .count(_.startsWith("part-update-")) === 0)
  }

  test("SQL surface: CALL graft.system.update") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val d = tmp("sql")
    append(d, 0, 20, "a")
    val r = spark.sql(s"CALL graft.system.update(path => '$d', " +
      "predicate => 'id >= 10', set_column => 'score', " +
      "set_expr => 'score * 100')").collect()(0)
    assert(r.getLong(0) === 10L)
    assert(spark.read.format("graft").load(d)
      .filter(col("score") >= 1000L).count() === 10)
  }
}
