package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ContainerIO, Manifests, SparkTestSession}

/** Snapshot time travel + retention (round 8): superseded index versions
  * inside [[Manifests.SnapshotRetention]] keep their content, reads pin
  * them via `versionAsOf`/`timestampAsOf`, and vacuum's referenced set
  * spans every retained snapshot.
  */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val conf = ContainerIO.localConf()

  private def append(d: String, base: Long, tag: String, n: Int = 50): Unit = {
    import spark.implicits._
    (0 until n).map(i => (base + i, tag)).toDF("id", "tag")
      .coalesce(1).write.format("graft").mode("append").save(d)
  }

  test("versionAsOf reads exactly the snapshot each append committed") {
    val d = java.nio.file.Files.createTempDirectory("graft-tt").toString
    append(d, 0, "a")
    append(d, 100, "b")
    append(d, 200, "c")
    def at(v: Int) =
      spark.read.format("graft").option("versionAsOf", v.toString).load(d)
    assert(at(0).count() === 50)
    assert(at(0).agg(max("id")).collect().head.getLong(0) === 49L)
    assert(at(1).count() === 100)
    assert(at(2).count() === 150)
    assert(spark.read.format("graft").load(d).count() === 150)
    // filters + pushdown work against the pinned snapshot
    assert(at(1).filter(col("tag") === "b").count() === 50)
    assert(at(0).filter(col("tag") === "b").count() === 0)
  }

  test("timestampAsOf resolves to the last snapshot committed before it") {
    val d = java.nio.file.Files.createTempDirectory("graft-tt-ts").toString
    append(d, 0, "a")
    val between = System.currentTimeMillis()
    Thread.sleep(1100) // local-FS mtime granularity
    append(d, 100, "b")
    val v = Manifests.versionAt(conf, d, between)
    assert(v === 0L)
    val rows = spark.read.format("graft")
      .option("timestampAsOf", between.toString).load(d)
    assert(rows.count() === 50)
    intercept[IllegalArgumentException] {
      Manifests.versionAt(conf, d, 1000L) // before any commit
    }
  }

  test("a version past the retention window fails controlled; retained " +
    "versions keep their content") {
    val d = java.nio.file.Files.createTempDirectory("graft-tt-ret").toString
    val total = Manifests.SnapshotRetention.toInt + 3
    (0 until total).foreach(i => append(d, i * 100L, s"t$i", n = 5))
    val tip = total - 1L
    // inside the window: readable
    val oldest = tip - Manifests.SnapshotRetention
    assert(Manifests.readCommittedAt(conf, d, oldest + 1).nonEmpty)
    // past the window: truncated -> controlled error
    val ex = intercept[IllegalArgumentException] {
      Manifests.readCommittedAt(conf, d, 0L)
    }
    assert(ex.getMessage.contains("no longer retained"))
    // a version never claimed
    val ex2 = intercept[IllegalArgumentException] {
      Manifests.readCommittedAt(conf, d, 999L)
    }
    assert(ex2.getMessage.contains("no snapshot version"))
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  test("snapshot retention is configurable via graft.snapshot.retention") {
    val d = tmp("ret-conf")
    val key = "graft.snapshot.retention"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(key, "2")
    try {
      (0 until 6).foreach(i => append(d, i * 100L, s"t$i", n = 5))
      // tip = version 5; retention 2 keeps v3..v5 content, truncates v2
      assert(Manifests.readCommittedAt(conf2(), d, 4L).nonEmpty)
      val ex = intercept[IllegalArgumentException] {
        Manifests.readCommittedAt(conf2(), d, 1L)
      }
      assert(ex.getMessage.contains("no longer retained"), ex.getMessage)
      assert(ex.getMessage.contains("last 2"), ex.getMessage)
    } finally hc.unset(key)
  }

  private def conf2() = ContainerIO.confFrom(
    ContainerIO.confSnapshot(spark.sparkContext.hadoopConfiguration))

  test("expire_snapshots truncates beyond retain_last; SQL CALL surface " +
    "reports it") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val d = tmp("expire")
    (0 until 4).foreach(i => append(d, i * 100L, s"t$i", n = 5))
    // tip = v3; all of v0..v2 retained content under the default window
    assert(Manifests.readCommittedAt(conf, d, 0L).nonEmpty)
    // age guard: nothing is old enough -> nothing expires
    assert(GraftMaintenance.expireSnapshots(spark, d, retainLast = 1,
      olderThanMs = 3600 * 1000L) === 0)
    assert(Manifests.readCommittedAt(conf, d, 0L).nonEmpty)
    // SQL CALL: keep the 2 newest content-bearing versions
    val r = spark.sql(
      s"CALL graft.system.expire_snapshots(path => '$d', retain_last => 2)")
      .collect()(0)
    assert(r.getInt(0) === 2, s"expected 2 expired, got $r")
    assert(Manifests.readCommittedAt(conf, d, 2L).nonEmpty)
    intercept[IllegalArgumentException] {
      Manifests.readCommittedAt(conf, d, 1L)
    }
    intercept[IllegalArgumentException] {
      GraftMaintenance.expireSnapshots(spark, d, retainLast = 0)
    }
    // the tip keeps reading
    assert(spark.read.format("graft").load(d).count() === 20)
  }

  test("time travel pins the snapshot's SCHEMA (pre-evolution reads are " +
    "narrow)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-tt-ev").toString
    (0 until 20).map(i => (i.toLong, i * 2L)).toDF("id", "v")
      .coalesce(1).write.format("graft").mode("append").save(d)
    (20 until 40).map(i => (i.toLong, i * 2L, s"tag$i")).toDF("id", "v", "tag")
      .coalesce(1).write.format("graft").mode("append").save(d)
    assert(spark.read.format("graft").load(d).schema.fieldNames.toSeq ===
      Seq("id", "v", "tag"))
    val v0 = spark.read.format("graft").option("versionAsOf", "0").load(d)
    assert(v0.schema.fieldNames.toSeq === Seq("id", "v"),
      "the pinned snapshot predates the added column")
    assert(v0.count() === 20)
  }

  test("vacuum keeps blocks referenced only by a retained older snapshot") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-tt-vac").toString
    append(d, 0, "a")   // v0: container A
    append(d, 100, "b") // v1: A + B
    val a = Manifests.readCommittedAt(conf, d, 0L).head
    // simulate a replace that crashed before its file deletes: commit an
    // index without A, remove A's commit marker, leave A's block behind
    Manifests.commitIndex(conf, d, old => old.filterNot(_.name == a.name))
    val fs = ContainerIO.fs(d, conf)
    fs.delete(new org.apache.hadoop.fs.Path(
      Manifests.manifestPath(d, a.name)), false)
    val aBlock = new org.apache.hadoop.fs.Path(a.blockFile(d))
    assert(fs.exists(aBlock))
    // latest snapshot no longer references A; retained v0/v1 still do
    val deleted = GraftMaintenance.vacuum(spark, d, graceMs = 0L)
    assert(fs.exists(aBlock),
      s"vacuum deleted a block a retained snapshot still references " +
        s"($deleted files swept)")
    // ...and a genuine orphan of the same age IS swept
    val orphan = new org.apache.hadoop.fs.Path(s"$d/blocks/part-zzz-orphan.gblk")
    val out = fs.create(orphan, true); out.write(1); out.close()
    val swept = GraftMaintenance.vacuum(spark, d, graceMs = 0L)
    assert(!fs.exists(orphan) && swept >= 1)
  }

  test("time travel rejects streams and ambiguous pins") {
    val d = java.nio.file.Files.createTempDirectory("graft-tt-err").toString
    append(d, 0, "a")
    intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("versionAsOf", "0").option("timestampAsOf", "9999999999999")
        .load(d).collect()
    }
    // the stream fails ASYNC (in the micro-batch thread): await it
    val q = spark.readStream.format("graft").option("versionAsOf", "0")
      .load(d)
      .writeStream.format("memory").queryName("tt_err").start()
    val ex = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(ex).contains("batch-only"), messages(ex).take(400))
  }
}
