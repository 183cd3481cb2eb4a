package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ClaimRace, ContainerIO, Manifests, SparkTestSession, TestDirs}

/** MERGE-style copy-on-write UPSERT (round 9): whole-row replace-by-key
  * — matched target rows drop, the source appends, ONE OCC swap makes
  * both visible together.
  */
class UpsertSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val conf = ContainerIO.localConf()

  private def tmp(tag: String): String =
    TestDirs.createTempDirectory(s"graft-ups-$tag").toString

  private def append(d: String, lo: Long, hi: Long, tag: String): Unit = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"$tag${i % 7}", i * 10L))
      .toDF("id", "tag", "score")
      .coalesce(1).write.format("graft").mode("append").save(d)
  }

  private def names(d: String): Set[String] =
    Manifests.readCommitted(conf, d).map(_.name).toSet

  test("upsert replaces matched keys and appends new ones atomically") {
    import spark.implicits._
    val d = tmp("basic")
    append(d, 0, 100, "x")
    // 20 updates (ids 80..99) + 20 inserts (ids 100..119)
    val src = (80L until 120L).map(i => (i, "upserted", i * 1000L))
      .toDF("id", "tag", "score")
    val (replaced, appended) = GraftMaintenance.upsert(spark, d, src, Seq("id"))
    assert(replaced === 20L && appended === 40L)
    val r = spark.read.format("graft").load(d)
    assert(r.count() === 120)
    assert(r.filter(col("tag") === "upserted").count() === 40)
    assert(r.filter(col("id") === 85L).select("score")
      .collect().head.getLong(0) === 85000L)
    assert(r.filter(col("id") === 5L).select("score")
      .collect().head.getLong(0) === 50L, "unmatched rows untouched")
    // every id exactly once — the replace-by-key contract
    assert(r.groupBy("id").count().filter(col("count") > 1).count() === 0)
  }

  test("admission: containers that provably hold no key keep their " +
    "manifests; a pure-insert source appends without any rewrite") {
    import spark.implicits._
    val d = tmp("prune")
    append(d, 0, 100, "a")
    append(d, 1000, 1100, "b")
    val before = names(d)
    val src = (90L until 95L).map(i => (i, "u", 0L)).toDF("id", "tag", "score")
    val (rep, app) = GraftMaintenance.upsert(spark, d, src, Seq("id"))
    assert(rep === 5L && app === 5L)
    assert((before intersect names(d)).size === 1,
      "the high-range container must keep its manifest")
    // pure insert: no container admits the new keys
    val before2 = names(d)
    val src2 = (5000L until 5010L).map(i => (i, "n", 1L)).toDF("id", "tag", "score")
    val (rep2, app2) = GraftMaintenance.upsert(spark, d, src2, Seq("id"))
    assert(rep2 === 0L && app2 === 10L)
    assert(before2.subsetOf(names(d)),
      "a pure-insert upsert must not consume any container")
    // 200 original, 5 replaced in place, 10 inserted
    assert(spark.read.format("graft").load(d).count() === 210)
  }

  test("multi-column and typed keys (string + decimal) match by value") {
    val schema = StructType(Seq(
      StructField("region", StringType, nullable = false),
      StructField("amount", DecimalType(10, 2), nullable = false),
      StructField("n", LongType, nullable = false)))
    def df(rows: Seq[(String, String, Long)]) =
      spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (r, a, n) => Row(r, new java.math.BigDecimal(a), n) }, 1),
        schema)
    val d = tmp("typed")
    df(Seq(("eu", "1.50", 1L), ("eu", "2.50", 2L), ("us", "1.50", 3L)))
      .coalesce(1).write.format("graft").mode("append").save(d)
    val (rep, app) = GraftMaintenance.upsert(spark, d,
      df(Seq(("eu", "1.50", 100L), ("us", "9.99", 200L))),
      Seq("region", "amount"))
    assert(rep === 1L && app === 2L)
    val r = spark.read.format("graft").load(d).orderBy("region", "amount")
      .collect().map(x => (x.getString(0), x.getDecimal(1).toPlainString,
        x.getLong(2))).toSeq
    assert(r === Seq(("eu", "1.50", 100L), ("eu", "2.50", 2L),
      ("us", "1.50", 3L), ("us", "9.99", 200L)))

    // the other keyable kinds: INT, TIMESTAMP_NTZ, DATE and BOOLEAN keys
    val tSchema = StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("ts", TimestampNTZType, nullable = false),
      StructField("day", DateType, nullable = false),
      StructField("flag", BooleanType, nullable = false),
      StructField("n", LongType, nullable = false)))
    val t0 = java.time.LocalDateTime.of(2026, 3, 1, 12, 0)
    val d0 = java.time.LocalDate.of(2026, 3, 1)
    def trow(k: Int, n: Long) = Row(k, t0.plusSeconds(k.toLong),
      java.sql.Date.valueOf(d0.plusDays(k.toLong)), k % 2 == 0, n)
    def tdf(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), tSchema)
    def readBack(dk: String): Seq[(Int, Long)] =
      spark.read.format("graft").load(dk).select("i", "n").collect()
        .map(x => (x.getInt(0), x.getLong(1))).toSeq.sorted
    Seq("i", "ts", "day").foreach { key =>
      val dk = tmp(s"typed-$key")
      tdf((0 until 10).map(k => trow(k, k.toLong)))
        .write.format("graft").mode("append").save(dk)
      // keys 7..11: 7, 8, 9 replace, 10 and 11 insert
      val (rk, ak) = GraftMaintenance.upsert(spark, dk,
        tdf((7 until 12).map(k => trow(k, 100L + k))), Seq(key))
      assert(rk === 3L && ak === 5L, key)
      assert(readBack(dk) === (0 until 7).map(k => (k, k.toLong)) ++
        (7 until 12).map(k => (k, 100L + k)), key)
    }
    val db = tmp("typed-flag")
    tdf(Seq(trow(0, 0L), trow(1, 1L)))
      .write.format("graft").mode("append").save(db)
    // flag = true (k = 2) replaces the k = 0 row; the false row stays
    val (rb, ab) = GraftMaintenance.upsert(spark, db, tdf(Seq(trow(2, 102L))),
      Seq("flag"))
    assert(rb === 1L && ab === 1L)
    assert(readBack(db) === Seq((1, 1L), (2, 102L)))
  }

  test("upsert keys resolve through renames (current names, stored " +
    "translation per container)") {
    import spark.implicits._
    val d = tmp("rename")
    append(d, 0, 50, "a")
    GraftMaintenance.renameColumn(spark, d, "id", "key")
    val src = Seq((10L, "new", 0L), (999L, "new", 1L))
      .toDF("key", "tag", "score")
    val (rep, app) = GraftMaintenance.upsert(spark, d, src, Seq("key"))
    assert(rep === 1L && app === 2L)
    val r = spark.read.format("graft").load(d)
    assert(r.count() === 51)
    assert(r.filter(col("key") === 10L && col("tag") === "new").count() === 1)
  }

  test("upsert x time travel and concurrent append") {
    import spark.implicits._
    val d = tmp("concur")
    append(d, 0, 50, "a") // version 0
    val src = Seq((1L, "u", -1L)).toDF("id", "tag", "score")
    val (rep, app) = ClaimRace.racing(append(d, 2000, 2005, "z")) {
      GraftMaintenance.upsert(spark, d, src, Seq("id"))
    }
    assert(rep === 1L && app === 1L)
    val r = spark.read.format("graft").load(d)
    assert(r.count() === 55, "the racing append must survive the swap")
    assert(r.filter(col("id") === 1L).select("score")
      .collect().head.getLong(0) === -1L)
    val pre = spark.read.format("graft").option("versionAsOf", "0").load(d)
    assert(pre.filter(col("id") === 1L).select("score")
      .collect().head.getLong(0) === 10L)
  }

  test("upsert racing a rename or drop aborts instead of reverting it") {
    import spark.implicits._
    // the appended source containers carry the labels the upsert planned
    // against: landing them over a concurrent rename/drop must conflict,
    // never silently restore the old column
    Seq[(String, String => Unit, Seq[String])](
      ("rename", d => GraftMaintenance.renameColumn(spark, d, "tag", "label"),
        Seq("id", "label", "score")),
      ("drop", d => GraftMaintenance.dropColumn(spark, d, "tag"),
        Seq("id", "score"))
    ).foreach { case (what, race, cols) =>
      val d = tmp(s"race-$what")
      append(d, 0, 50, "a")
      // one matched key, one new key
      val src = Seq((1L, "u", -1L), (999L, "n", 0L)).toDF("id", "tag", "score")
      intercept[SchemaEvolutionConflict] {
        ClaimRace.racing(race(d)) {
          GraftMaintenance.upsert(spark, d, src, Seq("id"))
        }
      }
      val r = spark.read.format("graft").load(d)
      assert(r.columns.toSeq === cols, s"the $what must survive")
      assert(r.count() === 50, what)
      assert(r.filter(col("id") === 1L).select("score")
        .collect().head.getLong(0) === 10L, what)
      def staged(n: String) = n.startsWith("part-upsert-") || n.startsWith("part-merge-")
      assert(ContainerIO.listNames(conf, s"$d/blocks").count(staged) === 0 &&
        ContainerIO.listNames(conf, s"$d/manifests").count(staged) === 0,
        s"the aborted upsert must sweep its staged output ($what)")
    }
  }

  test("a source past the IN cap still prunes via key-range admission") {
    import spark.implicits._
    val d = tmp("range")
    append(d, 0, 2000, "a")       // low container
    append(d, 100000, 102000, "b") // high container, far away
    val before = names(d)
    // 5000 keys (> the 4096 IN cap) all inside the LOW container's range
    val src = (0L until 5000L).map(i => (i, "u", -i))
      .toDF("id", "tag", "score")
    val (rep, app) = GraftMaintenance.upsert(spark, d, src, Seq("id"))
    assert(rep === 2000L && app === 5000L)
    assert((before intersect names(d)).size === 1,
      "range admission must keep the high container's manifest untouched")
    val r = spark.read.format("graft").load(d)
    assert(r.count() === 2000 + 2000 - 2000 + 5000)
    assert(r.filter(col("id") === 100500L).select("tag")
      .collect().head.getString(0).startsWith("b"))

    // the same on a TIMESTAMP_NTZ key: 5000 keys past the cap, all inside
    // the low container's time range
    val tsSchema = StructType(Seq(
      StructField("ts", TimestampNTZType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val base = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
    def tsdf(ids: Seq[Long], tag: String) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.map(i => Row(base.plusSeconds(i), s"$tag$i")), 1), tsSchema)
    val dt = tmp("range-ts")
    tsdf(0L until 2000L, "a").write.format("graft").mode("append").save(dt)
    tsdf(100000L until 102000L, "b").write.format("graft").mode("append").save(dt)
    val beforeTs = names(dt)
    val (repTs, appTs) = GraftMaintenance.upsert(spark, dt,
      tsdf(0L until 5000L, "u"), Seq("ts"))
    assert(repTs === 2000L && appTs === 5000L)
    assert((beforeTs intersect names(dt)).size === 1,
      "range admission must keep the far TIMESTAMP_NTZ container's manifest untouched")
    assert(spark.read.format("graft").load(dt).count() === 2000 + 5000)
  }

  test("guards: duplicate source keys, null keys, schema mismatch") {
    import spark.implicits._
    val d = tmp("guards")
    append(d, 0, 10, "a")
    intercept[IllegalArgumentException] {
      GraftMaintenance.upsert(spark, d,
        Seq((1L, "x", 0L), (1L, "y", 1L)).toDF("id", "tag", "score"), Seq("id"))
    }
    val withNull = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(null, "x", 0L)), 1),
      StructType(Seq(StructField("id", LongType, nullable = true),
        StructField("tag", StringType, nullable = false),
        StructField("score", LongType, nullable = false))))
    intercept[IllegalArgumentException] {
      GraftMaintenance.upsert(spark, d, withNull, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      GraftMaintenance.upsert(spark, d,
        Seq((1L, "x")).toDF("id", "tag"), Seq("id"))
    }
    assert(spark.read.format("graft").load(d).count() === 10)
    assert(ContainerIO.listNames(conf, s"$d/blocks")
      .count(n => n.startsWith("part-upsert-") || n.startsWith("part-merge-")) === 0,
      "failed upserts must not leak staged containers")
  }
}
