package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ContainerIO, Manifests, SparkTestSession}

/** Copy-on-write row-level DELETE (round 9): predicate-admitted container
  * rewrite under one OCC swap. The contracts under test: untouched
  * containers keep their manifests byte-for-byte (admission pruning),
  * fully-deleted containers become zero-row tombstones (epoch coverage —
  * replays can't resurrect), retained snapshots still time-travel to the
  * pre-delete rows, a concurrent append survives the swap, and a
  * concurrent replace of an affected container aborts the delete whole.
  */
class DeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val conf = ContainerIO.localConf()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-del-$tag").toString

  private def append(d: String, lo: Long, hi: Long, tag: String): Unit = {
    import spark.implicits._
    (lo until hi).map(i => (i, s"$tag${i % 7}")).toDF("id", "tag")
      .coalesce(1).write.format("graft").mode("append").save(d)
  }

  private def names(d: String): Set[String] =
    Manifests.readCommitted(conf, d).map(_.name).toSet

  test("delete removes exactly the matching rows; results match a filter") {
    val d = tmp("basic")
    append(d, 0, 100, "x")
    append(d, 100, 200, "y")
    val deleted = GraftMaintenance.delete(spark, d, "id % 10 = 3 OR tag = 'y4'")
    val left = spark.read.format("graft").load(d)
    assert(left.count() === 200 - deleted)
    assert(left.filter(expr("id % 10 = 3 OR tag = 'y4'")).count() === 0)
    // the kept rows are EXACTLY the non-matching originals
    val keptIds = left.select("id").collect().map(_.getLong(0)).toSet
    val expect = (0L until 200L).filter(i =>
      !(i % 10 == 3 || (i >= 100 && s"y${i % 7}" == "y4"))).toSet
    assert(keptIds === expect)
  }

  test("admission pruning: containers that provably hold no match keep " +
    "their manifests untouched") {
    val d = tmp("prune")
    append(d, 0, 100, "a")     // ids 0..99
    append(d, 1000, 1100, "b") // ids 1000..1099
    val before = names(d)
    val n = GraftMaintenance.delete(spark, d, "id < 50")
    assert(n === 50)
    val after = names(d)
    // the high-range container's zone map excludes id < 50: same manifest
    val untouched = before intersect after
    assert(untouched.size === 1,
      s"exactly one container should survive untouched: $before -> $after")
    assert(spark.read.format("graft").load(d).count() === 150)
  }

  test("a delete matching nothing leaves the table byte-identical and " +
    "returns 0") {
    val d = tmp("nomatch")
    append(d, 0, 100, "a")
    val before = names(d)
    // admitted (zone map can't disprove id % 97 = 96 shape) but no row
    // matches: the staged rewrite must be discarded, originals kept
    assert(GraftMaintenance.delete(spark, d, "id > 40 AND id < 40") === 0L)
    assert(GraftMaintenance.delete(spark, d, "tag = 'nope'") === 0L)
    assert(names(d) === before)
    assert(ContainerIO.listNames(conf, s"$d/blocks")
      .count(_.startsWith("part-delete-")) === 0,
      "a no-match delete must not leak staged containers")
  }

  test("fully-deleted container becomes a zero-row tombstone: schema " +
    "survives, readers see nothing, epoch stays covered") {
    val d = tmp("tomb")
    append(d, 0, 50, "a")
    append(d, 100, 150, "b")
    val n = GraftMaintenance.delete(spark, d, "id < 50")
    assert(n === 50)
    val ms = Manifests.readCommitted(conf, d)
    val tomb = ms.filter(m => m.rows == 0 && !m.schemaMarker)
    assert(tomb.size === 1, s"expected one tombstone in ${ms.map(_.name)}")
    assert(tomb.head.ancestors.nonEmpty,
      "tombstone must carry the consumed epoch as ancestor")
    assert(!new java.io.File(tomb.head.blockFile(d)).exists(),
      "a zero-row tombstone must not have a block file")
    val left = spark.read.format("graft").load(d)
    assert(left.count() === 50)
    assert(left.agg(min("id")).collect().head.getLong(0) === 100L)
    // deleting EVERYTHING keeps the table readable with its schema
    assert(GraftMaintenance.delete(spark, d, "true") === 50L)
    val empty = spark.read.format("graft").load(d)
    assert(empty.schema.fieldNames.toSeq === Seq("id", "tag"))
    assert(empty.count() === 0)
    // and appends still land on the preserved schema
    append(d, 200, 210, "c")
    assert(spark.read.format("graft").load(d).count() === 10)
  }

  test("delete x time travel: the pre-delete snapshot still reads the " +
    "deleted rows (no eager reclaim)") {
    val d = tmp("tt")
    append(d, 0, 100, "a")
    append(d, 100, 200, "b")   // version 1
    val n = GraftMaintenance.delete(spark, d, "id < 30") // version 2
    assert(n === 30)
    assert(spark.read.format("graft").load(d).count() === 170)
    val pre = spark.read.format("graft")
      .option("versionAsOf", "1").load(d)
    assert(pre.count() === 200,
      "the retained pre-delete snapshot must still see the deleted rows")
    assert(pre.filter(col("id") < 30).count() === 30)
  }

  test("delete x append race: a concurrent append commits and survives " +
    "the swap") {
    val d = tmp("race")
    append(d, 0, 100, "a")
    val n = GraftMaintenance.deleteWithHook(spark, d, "id < 10",
      beforeCommit = () => append(d, 1000, 1010, "z"))
    assert(n === 10)
    val left = spark.read.format("graft").load(d)
    assert(left.count() === 100)
    assert(left.filter(col("id") >= 1000).count() === 10,
      "the racing append's rows must survive the delete's OCC swap")
    assert(left.filter(col("id") < 10).count() === 0)
  }

  test("delete x concurrent replace: compaction consuming the affected " +
    "containers aborts the delete whole") {
    val d = tmp("conflict")
    append(d, 0, 50, "a")
    append(d, 50, 100, "a")
    val ex = intercept[GraftMaintenance.CompactionConflict] {
      GraftMaintenance.deleteWithHook(spark, d, "id >= 0",
        beforeCommit = () => {
          val (c, p) = GraftMaintenance.compact(spark, d, minContainers = 2)
          assert(c === 2 && p === 1)
        })
    }
    assert(ex.getMessage.contains("DELETE"))
    // the table is exactly what the compaction published
    assert(spark.read.format("graft").load(d).count() === 100)
    assert(ContainerIO.listNames(conf, s"$d/blocks")
      .count(_.startsWith("part-delete-")) === 0,
      "the aborted delete must sweep its staged generation")
  }

  test("delete with predicates over added nullable columns and renames") {
    val d = tmp("evolved")
    import spark.implicits._
    // base schema (id, tag)
    append(d, 0, 40, "a")
    // add a trailing nullable score column
    val wide = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false),
      StructField("score", DoubleType, nullable = true)))
    val rows = (100 until 140).map(i => Row(i.toLong, s"b${i % 7}",
      if (i % 2 == 0) null else java.lang.Double.valueOf(i * 0.5)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), wide)
      .coalesce(1).write.format("graft").mode("append").save(d)
    // rename id -> key: the predicate uses the CURRENT name, containers
    // keep their historical labels
    GraftMaintenance.renameColumn(spark, d, "id", "key")
    // score IS NULL matches ALL 40 predating rows + the evens of the wide
    val n = GraftMaintenance.delete(spark, d, "score IS NULL AND key < 120")
    assert(n === 40 + 10) // 40 predating + evens in [100, 120)
    val left = spark.read.format("graft").load(d)
    assert(left.count() === 30)
    assert(left.filter(col("score").isNull && col("key") < 120).count() === 0)
    assert(left.filter(col("key") >= 120 && col("score").isNull).count() === 10)
  }

  test("delete across kinds: decimal, boolean, timestamp predicates " +
    "evaluate against stored rows exactly") {
    val d = tmp("kinds")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("amount", DecimalType(12, 2), nullable = false),
      StructField("flag", BooleanType, nullable = false),
      StructField("ts", TimestampNTZType, nullable = false),
      StructField("n", IntegerType, nullable = false),
      StructField("day", DateType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false),
        nullable = false)))
    // amount/flag/ts match i in {51, 54, ..., 78}; each newer column fails
    // on its own residue (n: multiples of 7, day: i % 11 < 3, score:
    // multiples of 17, payload: i % 23 < 2, vec: multiples of 5), so every
    // conjunct is the only one some row fails
    val rows = (0 until 100).map { i =>
      Row(i.toLong, new java.math.BigDecimal(s"$i.25"), i % 3 == 0,
        java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusMinutes(i.toLong),
        i, java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1)
          .plusDays((i % 11) * 3L)),
        (i % 17) * 25.0, Array.fill(i % 23)(i.toByte),
        Seq.fill(if (i % 5 == 0) 3 else 2)(i.toFloat))
    }
    def df() =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 2), schema)
    df().write.format("graft").mode("append").save(d)
    // one conjunct per kind: every StoredRowMatcher getter feeds the
    // predicate
    val conjuncts = Seq("amount > 49.90", "flag = true",
      "ts < timestamp'2026-01-01T01:20:00'", "n % 7 <> 0",
      "day >= date'2026-01-10'", "score > 20.0", "length(payload) > 1",
      "size(vec) = 2")
    def matching(cs: Seq[String]) = df().filter(expr(cs.mkString(" AND "))).count()
    val p = conjuncts.mkString(" AND ")
    val expect = matching(conjuncts)
    assert(expect > 0)
    // each conjunct alone decides some row: a getter that always passes
    // would delete more
    conjuncts.foreach(c =>
      assert(matching(conjuncts.filterNot(_ == c)) > expect, s"$c decides no row"))
    val n = GraftMaintenance.delete(spark, d, p)
    assert(n === expect)
    val left = spark.read.format("graft").load(d)
    assert(left.count() === 100 - expect)
    assert(left.filter(expr(p)).count() === 0)
  }

  test("epoch replay AFTER delete is dropped whole: deleted rows can " +
    "never resurrect") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val d = tmp("replay")
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val confKv = ContainerIO.confSnapshot(spark)
    def publishEpoch(e: Int, taskId: Long, ids: Range): Unit = {
      val w = new GraftDataWriter(d, 0, s"q-e$e", confKv, 64, taskId, schema,
        Nil, Nil)
      ids.foreach(i => w.write(new GenericInternalRow(
        Array[Any](i.toLong, UTF8String.fromString(s"t$i")))))
      GraftCommits.publish(confKv, d, truncate = false, Array(w.commit()))
    }
    publishEpoch(1, 11L, 0 until 50)
    publishEpoch(2, 12L, 100 until 150)
    def count() = spark.read.format("graft").load(d).count()
    assert(count() === 100)
    assert(GraftMaintenance.delete(spark, d, "id < 120") === 70L)
    assert(count() === 30)
    // driver crash before the sink commit log recorded the epochs →
    // restart replays them; their containers were consumed by the
    // delete, so the replays must be DROPPED (resurrect nothing) —
    // epoch 1 is covered by a zero-row tombstone, epoch 2 by its
    // rewritten survivor
    publishEpoch(1, 91L, 0 until 50)
    publishEpoch(2, 92L, 100 until 150)
    assert(count() === 30,
      "replayed epochs consumed by a delete must be dropped, not re-appended")
    // a genuinely new epoch still appends
    publishEpoch(3, 13L, 200 until 210)
    assert(count() === 40)
  }

  test("streaming replay across a delete substitutes the KEPT rows " +
    "exactly once") {
    import spark.implicits._
    val d = tmp("stream")
    val ckpt = tmp("stream-ckpt")
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val confKv = ContainerIO.confSnapshot(spark)
    def mkStream() = new GraftMicroBatchStream(d, ckpt, schema, Array.empty,
      confKv, 128L << 20, true, GraftDataSource.layoutOf(schema))
    val s1 = mkStream()
    val off0 = s1.initialOffset()
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag").coalesce(1)
      .write.format("graft").mode("append").save(d)
    val off1 = s1.latestOffset()
    assert(GraftMaintenance.delete(spark, d, "id = 2") === 1L)
    // restart: the logged name was consumed by the delete, but the live
    // delete generation's ancestors cover exactly this epoch -> it
    // substitutes, re-emitting the KEPT rows (the deleted row is gone
    // everywhere — the takedown contract)
    val s2 = mkStream()
    val parts = s2.planInputPartitions(off0, off1)
    val rf = s2.createReaderFactory()
    val ids = parts.toSeq.flatMap { p =>
      val r = rf.createColumnarReader(p)
      val b = Seq.newBuilder[Long]
      try while (r.next()) {
        val batch = r.get()
        b ++= (0 until batch.numRows).map(batch.column(0).getLong)
      } finally r.close()
      b.result()
    }
    assert(ids.sorted === Seq(1L, 3L),
      s"replay must re-emit exactly the kept rows, got $ids")
  }

  test("takedown purge: delete -> expire_snapshots -> vacuum removes the " +
    "deleted rows from storage") {
    val d = tmp("purge")
    append(d, 0, 100, "a")
    append(d, 100, 200, "b")
    assert(GraftMaintenance.delete(spark, d, "id < 150") === 150L)
    val live = names(d)
    val onDisk = () => ContainerIO.listNames(conf, s"$d/blocks")
      .filter(_.endsWith(".gblk")).toSet
    // pre-purge: old generation still on disk (retained snapshots read it)
    assert(onDisk().size > live.count(n =>
      Manifests.readCommitted(conf, d).exists(m => m.name == n && m.rows > 0)),
      "the pre-delete generation must survive until purged")
    assert(spark.read.format("graft").option("versionAsOf", "1").load(d)
      .count() === 200)
    // purge: expire everything but the tip, then sweep
    assert(GraftMaintenance.expireSnapshots(spark, d, retainLast = 1) >= 1)
    val swept = GraftMaintenance.vacuum(spark, d, graceMs = 0L)
    assert(swept > 0, "vacuum must reclaim the superseded generation")
    // the deleted rows' containers are GONE from storage; the live
    // generation reads exactly the kept rows
    val liveBlocks = Manifests.readCommitted(conf, d)
      .filter(_.rows > 0).map(m => s"part-${m.name}.gblk").toSet
    assert(onDisk() === liveBlocks,
      s"only live blocks may remain: ${onDisk()} vs $liveBlocks")
    assert(spark.read.format("graft").load(d).count() === 50)
    // the expired pre-delete snapshot now fails controlled
    val ex = intercept[Exception] {
      spark.read.format("graft").option("versionAsOf", "1").load(d).count()
    }
    assert(ex.getMessage.contains("no longer retained"), ex.getMessage)
    // lingering superseded commit markers are swept too: the listing
    // fallback can never resurrect the purged generation
    val markers = ContainerIO.listNames(conf, s"$d/manifests")
      .filter(n => n.startsWith("part-") && n.endsWith(".json"))
      .map(_.stripPrefix("part-").stripSuffix(".json")).toSet
    assert(markers === Manifests.readCommitted(conf, d).map(_.name).toSet,
      s"superseded markers must be swept: $markers")
  }

  test("two concurrent deletes on DISJOINT containers both commit (OCC " +
    "retry, no conflict)") {
    val d = tmp("disjoint")
    append(d, 0, 100, "a")       // low container
    append(d, 10000, 10100, "b") // high container
    // delete B races into delete A's commit window; their consumed
    // containers are disjoint, so A's OCC retry lands on top of B
    val nA = GraftMaintenance.deleteWithHook(spark, d, "id < 50",
      beforeCommit = () =>
        assert(GraftMaintenance.delete(spark, d, "id >= 10050") === 50L))
    assert(nA === 50L)
    val r = spark.read.format("graft").load(d)
    assert(r.count() === 100)
    assert(r.filter(col("id") < 50).count() === 0)
    assert(r.filter(col("id") >= 10050).count() === 0)
    assert(r.filter(col("id") >= 50 && col("id") < 100).count() === 50)
    assert(r.filter(col("id") >= 10000 && col("id") < 10050).count() === 50)
  }

  test("delete predicate guards: nondeterministic and subquery predicates " +
    "are rejected") {
    val d = tmp("guards")
    append(d, 0, 10, "a")
    intercept[IllegalArgumentException] {
      GraftMaintenance.delete(spark, d, "rand() < 0.5")
    }
    assert(spark.read.format("graft").load(d).count() === 10)
  }

  test("SQL surface: CALL graft.system.delete") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val d = tmp("sql")
    append(d, 0, 20, "a")
    val r = spark.sql(
      s"CALL graft.system.delete(path => '$d', predicate => 'id >= 15')")
    assert(r.schema.fieldNames.toSeq === Seq("rows_deleted"))
    assert(r.collect()(0).getLong(0) === 5L)
    val left = spark.read.format("graft").load(d)
    assert(left.count() === 15 && left.filter(col("id") >= 15).count() === 0)
  }
}
