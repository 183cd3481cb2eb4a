package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ClaimRace, ContainerIO, Manifests, SparkTestSession, TestDirs}

class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tempDir(tag: String): String =
    TestDirs.createTempDirectory(s"graft-$tag").toString

  private def gblks(d: String): Seq[String] =
    ContainerIO.listNames(ContainerIO.localConf(), s"$d/blocks")
      .filter(_.endsWith(".gblk"))

  /** The (id BIGINT, tag STRING) schema [[publishEpochParts]] writes, as
    * a manifest records it (non-nullable: packed kind = kind).
    */
  private val idTagCols = Seq("id" -> 0, "tag" -> 1)

  /** A one-chunk index for a hand-built manifest of `rows` rows: the
    * shape every current writer leaves behind (one chunk right after
    * the container prelude).
    */
  private def oneChunk(rows: Int): Seq[graft.engine.ChunkStats] =
    Seq(graft.engine.ChunkStats(graft.engine.ColumnarEngine.Magic.length + 1L,
      64L, rows, Map.empty, Map.empty, Map.empty, Map.empty))

  /** Publish one epoch (`q-e<e>`) of an (id BIGINT, tag STRING) table as
    * the given (partition, id-range) containers — the streaming-sink
    * commit shape, driven directly for exact layout control.
    */
  private def publishEpochParts(d: String, e: Int, taskId: Long,
                                parts: Seq[(Int, Range)]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val shipped = ContainerIO.shippedConf(spark)
    val msgs = parts.map { case (p, ids) =>
      val w = new GraftDataWriter(d, p, s"q-e$e", shipped, 64, taskId + p, schema,
        Nil, Nil)
      ids.foreach(i => w.write(new GenericInternalRow(
        Array[Any](i.toLong, UTF8String.fromString(s"t$i")))))
      w.commit()
    }
    GraftCommits.publish(shipped.value.conf, d, truncate = false,
      msgs.toArray[org.apache.spark.sql.connector.write.WriterCommitMessage])
  }

  /** Lose every index version — the disaster-recovery shape — including
    * the local-FS `.crc` sidecars, or a later re-created same-named
    * version pairs with a stale sidecar.
    */
  private def dropIndex(d: String): Unit =
    ContainerIO.listNames(ContainerIO.localConf(), d)
      .filter(_.startsWith("_manifest-index"))
      .foreach { n =>
        java.nio.file.Files.delete(java.nio.file.Paths.get(d, n))
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(d, s".$n.crc"))
      }

  private def markers(d: String): Seq[String] =
    ContainerIO.listNames(ContainerIO.localConf(), s"$d/manifests")
      .filter(n => n.startsWith("part-") && n.endsWith(".json"))

  test("compact: 10 streaming epochs of tiny containers rewrite into one, rows identical") {
    import spark.implicits._
    val srcDir = tempDir("cmp-src")
    val outDir = tempDir("cmp-out")
    val ckpt = tempDir("cmp-ckpt")
    // 10 waves through the graft streaming sink — each AvailableNow run
    // commits (at least) one epoch of per-task containers
    var expected = Seq.empty[(Long, String, Long)]
    for (w <- 0 until 10) {
      val wave = (0 until 40).map(i =>
        ((w * 100 + i).toLong, s"cat${i % 3}", i * 7L))
      expected ++= wave
      wave.toDF("id", "category", "score")
        .write.mode("append").parquet(s"$srcDir/data")
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("category",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .parquet(s"$srcDir/data")
        .writeStream.format("graft")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    val before = gblks(outDir)
    assert(before.size >= 10, s"expected >=10 epoch containers, got ${before.size}")
    val (consumed, produced) = GraftMaintenance.compact(spark, outDir)
    assert(consumed === before.size && produced === 1,
      s"expected all ${before.size} -> 1, got ($consumed, $produced)")
    assert(gblks(outDir).size === 1, "old generation must be gone from blocks/")
    assert(ContainerIO.listNames(ContainerIO.localConf(), s"$outDir/manifests")
      .count(_.endsWith(".json")) === 1, "old manifests must be gone")
    // full read (collect) re-verifies block CRCs and the content digest
    val back = spark.read.format("graft").load(outDir)
      .as[(Long, String, Long)].collect().sorted
    assert(back.toSeq === expected.sorted)
    // and the compacted manifest is the only committed one
    val ms = Manifests.readCommitted(ContainerIO.localConf(), outDir)
    assert(ms.size === 1 && ms.head.name.startsWith("compact-"))
    assert(ms.head.rows === 400)
  }

  test("compact preserves a temporal schema (kind-3 ts, kind-4 date) exactly") {
    import spark.implicits._
    val d = tempDir("cmp-temporal")
    val base = spark.range(300).select(
      col("id"),
      expr("timestampadd(MINUTE, CAST(id AS INT), " +
        "CAST('2024-03-01 00:00:00' AS TIMESTAMP_NTZ))").as("ts"),
      expr("CAST(CAST('2024-03-01' AS DATE) + CAST(id % 40 AS INT) AS DATE)").as("day"),
      concat(lit("t"), col("id") % 7).as("tag"))
    for (w <- 0 until 3)
      base.withColumn("id", col("id") + lit(w * 1000L))
        .coalesce(1).write.format("graft").mode("append").save(d)
    val before = spark.read.format("graft").load(d)
    val want = before.collect().sortBy(_.getLong(0))
    val (c, p) = GraftMaintenance.compact(spark, d)
    assert(c === 3 && p === 1)
    val after = spark.read.format("graft").load(d)
    assert(after.schema === before.schema, "temporal schema must survive compaction")
    assert(after.collect().sortBy(_.getLong(0)).toSeq === want.toSeq)
    // pushed ts filter still exact on the compacted table: minutes
    // 120..299 of each of the 3 waves
    val cut = java.time.LocalDateTime.of(2024, 3, 1, 2, 0)
    assert(after.filter(col("ts") >= lit(cut)).count() === 3L * 180)
  }

  test("compact: a concurrent append between stage and commit is preserved (OCC)") {
    import spark.implicits._
    val d = tempDir("cmp-occ")
    for (w <- 0 until 4)
      (0 until 50).map(i => ((w * 50 + i).toLong, s"v$i"))
        .toDF("id", "tag")
        .write.format("graft").mode("append").save(d)
    assert(gblks(d).size >= 4)
    val appended = (1000 until 1050).map(i => (i.toLong, s"late$i"))
    val (consumed, produced) = ClaimRace.racing(appended.toDF("id", "tag")
        .write.format("graft").mode("append").save(d)) {
      GraftMaintenance.compact(spark, d, 128L << 20, 2)
    }
    assert(consumed >= 4 && produced === 1)
    val back = spark.read.format("graft").load(d)
      .as[(Long, String)].collect().sorted
    val want = ((0 until 200).map(i => (i.toLong, s"v${i % 50}")) ++ appended).sorted
    assert(back.toSeq === want, "compacted rows AND the racing append must both survive")
  }

  test("epoch replay AFTER compaction is dropped, not re-appended (exactly-once)") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val d = tempDir("cmp-replay")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val shipped = ContainerIO.shippedConf(spark)
    def publishEpoch(e: Int, taskId: Long, ids: Range): Unit = {
      val w = new GraftDataWriter(d, 0, s"q-e$e", shipped, 64, taskId, schema,
        Nil, Nil)
      ids.foreach(i => w.write(new GenericInternalRow(
        Array[Any](i.toLong, UTF8String.fromString(s"t$i")))))
      GraftCommits.publish(shipped.value.conf, d, truncate = false, Array(w.commit()))
    }
    for (e <- 1 to 4) publishEpoch(e, 10L + e, (e * 100) until (e * 100 + 25))
    def count() = spark.read.format("graft").load(d).count()
    assert(count() === 100)
    val (c, p) = GraftMaintenance.compact(spark, d)
    assert(c === 4 && p === 1)
    // driver crash before Spark's sink commit log recorded epoch 3 →
    // restart replays it; its containers were compacted away, so the
    // replay must be DROPPED (its rows live inside the compacted
    // generation), not appended as duplicates
    publishEpoch(3, 99L, 300 until 325)
    assert(count() === 100,
      "a replayed epoch folded into a compacted generation must be dropped")
    assert(!gblks(d).exists(_.startsWith("part-q-e3-")),
      "the dropped replay's staged container must be cleaned up")
    // a genuinely NEW epoch still appends
    publishEpoch(5, 50L, 500 until 525)
    assert(count() === 125)
  }

  test("replay with a DIFFERENT partition count after compaction is still dropped whole") {
    val d = tempDir("cmp-replay-parts")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    // epochs 1-3 as ONE container each, then compact them away
    for (e <- 1 to 3)
      publishEpochParts(d, e, 10L, Seq((0, (e * 100) until (e * 100 + 30))))
    def count() = spark.read.format("graft").load(d).count()
    assert(count() === 90)
    val (c, p) = GraftMaintenance.compact(spark, d)
    assert(c === 3 && p === 1)
    // epoch 2 replays with TWO partitions (restart changed parallelism):
    // per-container matching would drop only part 0's name and append
    // part 1 as duplicates — epoch-granular matching drops the whole
    // replay, because compaction consumed the whole epoch
    publishEpochParts(d, 2, 90L, Seq((0, 200 until 215), (1, 215 until 230)))
    assert(count() === 90,
      "a re-partitioned replay of a compacted epoch must be dropped whole")
    // an epoch with a genuinely NEW id still appends with any layout
    publishEpochParts(d, 9, 70L, Seq((0, 900 until 910), (1, 910 until 920)))
    assert(count() === 110)
  }

  test("a PARTIAL newer generation never beats the complete committed one") {
    val d = tempDir("fallback-partial")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    publishEpochParts(d, 1, 10L, Seq((0, 0 until 30), (1, 30 until 60)))
    def count() = spark.read.format("graft").load(d).count()
    assert(count() === 60)
    // a replay publish "crashed" mid-way through its manifest writes:
    // only 1 of its 2 containers' manifests landed (commitParts = 2,
    // NEWER commitId) — the fallback must keep the COMPLETE committed
    // generation, not the newer partial
    val partial = graft.engine.TableManifest("q-e1-0-a77", 0, 30L, 1, 100L, 80L, "",
      idTagCols, "tag", chunkIndex = oneChunk(30),
      commitId = Manifests.commitIdAbove(Manifests.readCommitted(conf, d)), commitParts = 2)
    ContainerIO.writeAtomic(conf, s"$d/manifests/.tmp-partial",
      Manifests.manifestPath(d, partial.name),
      Manifests.toJson(partial).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    dropIndex(d)
    assert(count() === 60,
      "the complete committed generation must win over a newer partial one")
  }

  test("crash-leftover replay manifests are not resurrected by listing fallback or consolidate") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val d = tempDir("cmp-resurrect")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val shipped = ContainerIO.shippedConf(spark)
    def stage(e: Int, taskId: Long, ids: Range): GraftCommitMessage = {
      val w = new GraftDataWriter(d, 0, s"q-e$e", shipped, 64, taskId, schema,
        Nil, Nil)
      ids.foreach(i => w.write(new GenericInternalRow(
        Array[Any](i.toLong, UTF8String.fromString(s"t$i")))))
      w.commit().asInstanceOf[GraftCommitMessage]
    }
    for (e <- 1 to 3)
      GraftCommits.publish(shipped.value.conf, d, truncate = false,
        Array(stage(e, 10L + e, (e * 100) until (e * 100 + 20))))
    GraftMaintenance.compact(spark, d)
    def count() = spark.read.format("graft").load(d).count()
    assert(count() === 60)
    // simulate a publish that died AFTER its index commit dropped the
    // replay but BEFORE deleting the replay's staged files: the replay
    // manifest of compacted epoch 2 lingers as a commit marker
    val stale = stage(2, 99L, 200 until 220)
    ContainerIO.writeAtomic(conf, s"$d/manifests/.tmp-stale",
      Manifests.manifestPath(d, stale.manifest.name),
      Manifests.toJson(stale.manifest).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the documented listing-fallback recovery: delete ALL index files
    dropIndex(d)
    assert(count() === 60,
      "listing fallback must not resurrect a compacted epoch's stale replay")
    // the next commit re-indexes from the listing: same rule applies
    GraftCommits.publish(shipped.value.conf, d, truncate = false,
      Array(stage(4, 14L, 400 until 420)))
    assert(count() === 80,
      "the re-index must not fold the stale replay back into the index")
  }

  test("compact consumes only WHOLE epochs: a mixed-size epoch is left intact") {
    val d = tempDir("cmp-partial")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    // epoch A: two small containers; epoch B: one BIG + one small —
    // built with direct writers so the per-epoch container layout is
    // exact (a repartition-based layout silently collapsed under
    // Spark's hash partitioning in an earlier version of this test)
    publishEpochParts(d, 1, 10L, Seq((0, 0 until 20), (1, 20 until 40)))
    publishEpochParts(d, 2, 20L,
      Seq((0, 100 until 3000), (1, 3000 until 3020)))
    val ms = Manifests.readCommitted(conf, d)
    assert(ms.size === 4)
    val sizes = ms.map(_.encodedBytes).sorted
    // target between the 3 small containers and the big one: epoch B
    // has an over-target member, so the WHOLE epoch must be skipped
    val target = (sizes.last + sizes(sizes.length - 2)) / 2
    assert(ms.count(_.encodedBytes < target) === 3,
      "layout precondition: exactly 3 of 4 containers are under target")
    val (c, p) = GraftMaintenance.compact(spark, d, target, 2)
    assert(c === 2 && p === 1,
      s"only epoch A (both containers small) may compact, got ($c, $p)")
    val after = Manifests.readCommitted(conf, d)
    assert(after.count(m => Manifests.epochKey(
      Manifests.logicalName(m.name)) == "q-e2") === 2,
      "no container of the mixed-size epoch may be consumed")
    assert(spark.read.format("graft").load(d).count() === 2960)
  }

  test("re-partitioned replay of an UNCOMPACTED epoch replaces it whole (no duplicates)") {
    val d = tempDir("replay-whole")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    // epoch 5 commits as THREE containers, then replays as TWO (restart
    // with lower parallelism; same rows, re-partitioned): per-logical-
    // name replacement would keep the original part 2 alongside the
    // full replay and double its rows
    publishEpochParts(d, 5, 10L,
      Seq((0, 0 until 30), (1, 30 until 60), (2, 60 until 90)))
    assert(spark.read.format("graft").load(d).count() === 90)
    publishEpochParts(d, 5, 40L, Seq((0, 0 until 45), (1, 45 until 90)))
    assert(spark.read.format("graft").load(d).count() === 90,
      "an epoch replay must replace its previous generation WHOLE")
    assert(gblks(d).size === 2, "only the replay generation's containers remain")
    // other epochs are untouched by the replace
    publishEpochParts(d, 6, 60L, Seq((0, 1000 until 1020)))
    assert(spark.read.format("graft").load(d).count() === 110)
  }

  test("listing fallback selects whole commit generations, never mixes them") {
    val d = tempDir("fallback-gen")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    publishEpochParts(d, 1, 10L, Seq((0, 0 until 25), (1, 25 until 50)))
    // the replay replaces the epoch in the INDEX, but the publish
    // "crashed" before deleting the old generation's files: re-create
    // the old manifests afterwards to simulate the leftover markers
    // hydrated now, while the old markers still exist: the re-created
    // stale markers must carry their chunk index like the originals
    val oldJsons = Manifests.readCommitted(conf, d)
      .map(Manifests.loadChunkIndex(conf, d, _))
    val oldBlocks = oldJsons.map(m => java.nio.file.Paths.get(m.blockFile(d)))
      .map(p => p -> java.nio.file.Files.readAllBytes(p))
    publishEpochParts(d, 1, 30L, Seq((0, 0 until 50)))
    // the old generation's block files survive in the crash window
    oldBlocks.foreach { case (p, bytes) => java.nio.file.Files.write(p, bytes) }
    oldJsons.foreach { m =>
      // the old generation's manifest comes back as a stale marker
      ContainerIO.writeAtomic(conf, s"$d/manifests/.tmp-stale-${m.name}",
        Manifests.manifestPath(d, m.name),
        // re-serialize with the ORIGINAL (older) commitId preserved
        Manifests.toJson(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // with the index live, reads are unaffected
    assert(spark.read.format("graft").load(d).count() === 50)
    // disaster recovery: index lost, listing fallback must keep ONE
    // whole generation (the newest), not mix parts of both
    dropIndex(d)
    assert(spark.read.format("graft").load(d).count() === 50,
      "fallback must keep exactly the newest generation of the epoch")
    // the next commit re-indexes from the listing (the newest generation
    // plus its own epoch), and vacuum then sweeps the stale generation's
    // markers and blocks, which no snapshot names
    publishEpochParts(d, 2, 50L, Seq((0, 100 until 110)))
    assert(spark.read.format("graft").load(d).count() === 60)
    Thread.sleep(20) // mtimes strictly below the grace cutoff
    assert(GraftMaintenance.vacuum(spark, d, graceMs = 0L) === 4,
      "the stale generation's 2 markers and 2 blocks")
    val live = Manifests.readCommitted(conf, d).map(_.name).toSet
    assert(markers(d).toSet === live.map(n => s"part-$n.json"))
    assert(gblks(d).toSet === live.map(n => s"part-$n.gblk"))
    assert(spark.read.format("graft").load(d).count() === 60)
  }

  test("a crashed compaction's stage does not double rows next to its committed retry") {
    val d = tempDir("cmp-crashstage")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    for (e <- 1 to 3)
      publishEpochParts(d, e, 10L + e, Seq((0, (e * 100) until (e * 100 + 20))))
    // a first compaction run "crashes" after writing its manifests but
    // before its index commit: craft its leftover stage with an OLDER
    // commitId covering the same epochs
    val staleStage = graft.engine.TableManifest("compact-dead0-0", 0, 60L, 1,
      100L, 80L, "", idTagCols, "tag", chunkIndex = oneChunk(60),
      ancestors = Seq("q-e1", "q-e2", "q-e3"),
      commitId = "0000000000001-dead")
    ContainerIO.writeAtomic(conf, s"$d/manifests/.tmp-deadstage",
      Manifests.manifestPath(d, staleStage.name),
      Manifests.toJson(staleStage)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staleStage.blockFile(d)), Array[Byte](1, 2, 3))
    // the RETRY commits for real
    val (c, p) = GraftMaintenance.compact(spark, d)
    assert(c === 3 && p === 1)
    def count() = spark.read.format("graft").load(d).count()
    assert(count() === 60)
    // disaster recovery via listing: the dead stage covers the same
    // epochs as the committed retry — newest-commit-first coverage must
    // keep exactly one of them
    dropIndex(d)
    assert(count() === 60,
      "the crashed stage must not double the compacted epochs' rows")
    // the next commit re-indexes from the listing; vacuum then sweeps the
    // crashed stage's marker, which no snapshot names
    publishEpochParts(d, 4, 40L, Seq((0, 400 until 420)))
    assert(count() === 80)
    Thread.sleep(20) // mtimes strictly below the grace cutoff
    assert(GraftMaintenance.vacuum(spark, d, graceMs = 0L) === 2)
    assert(!markers(d).exists(_.contains("compact-dead0")),
      "vacuum must delete the crashed stage's manifest")
    assert(!gblks(d).exists(_.contains("compact-dead0")),
      "vacuum must delete the crashed stage's block")
    assert(count() === 80)
  }

  test("compact: a concurrent replace of a consumed container aborts cleanly") {
    import spark.implicits._
    val d = tempDir("cmp-conflict")
    for (w <- 0 until 3)
      (0 until 30).map(i => ((w * 30 + i).toLong, s"v$i"))
        .toDF("id", "tag")
        .write.format("graft").mode("append").save(d)
    val winner = (0 until 10).map(i => (i.toLong, "winner"))
    val ex = intercept[GraftMaintenance.CompactionConflict] {
      // truncate replaces (and deletes) every consumed container
      ClaimRace.racing(winner.toDF("id", "tag")
          .write.format("graft").mode("overwrite").save(d)) {
        GraftMaintenance.compact(spark, d, 128L << 20, 2)
      }
    }
    assert(ex.getMessage.contains("concurrent commit"))
    // the table is exactly what the winner published; no staged leftovers
    val back = spark.read.format("graft").load(d)
      .as[(Long, String)].collect().sorted
    assert(back.toSeq === winner.sorted)
    assert(!gblks(d).exists(_.contains("compact-")),
      "aborted compaction must remove its staged containers")
    assert(!ContainerIO.listNames(ContainerIO.localConf(), s"$d/manifests")
      .exists(_.contains("compact-")),
      "aborted compaction must remove its staged manifests")
  }

  test("compact: a consumed block that cannot be deleted after the claim " +
    "lands leaves the compaction committed") {
    import spark.implicits._
    val d = tempDir("cmp-landed")
    for (w <- 0 until 3)
      (0 until 30).map(i => ((w * 30 + i).toLong, s"v$i"))
        .toDF("id", "tag")
        .write.format("graft").mode("append").save(d)
    val victim = java.nio.file.Paths.get(d, "blocks", gblks(d).min)
    // once the rewrite has read it, the consumed block becomes a
    // non-empty directory: Hadoop's non-recursive delete of it throws
    val (consumed, produced) = ClaimRace.racing {
      java.nio.file.Files.delete(victim)
      java.nio.file.Files.createDirectory(victim)
      java.nio.file.Files.write(victim.resolve("x"), Array[Byte](1))
    } {
      GraftMaintenance.compact(spark, d, 128L << 20, 2)
    }
    assert(consumed >= 3 && produced === 1)
    val back = spark.read.format("graft").load(d)
      .as[(Long, String)].collect().sorted
    assert(back.toSeq === (0 until 90).map(i => (i.toLong, s"v${i % 30}")))
  }

  test("vacuum removes aged orphans and tmp fragments, never committed or fresh files") {
    import spark.implicits._
    val d = tempDir("vacuum")
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .coalesce(1).write.format("graft").mode("overwrite").save(d)
    val conf = ContainerIO.localConf()
    // a crashed attempt's orphan container (no manifest), an aged tmp
    // fragment, and a FRESH orphan (a still-running writer's staging)
    def touch(rel: String, ageMs: Long): Unit = {
      val p = java.nio.file.Paths.get(d, rel)
      java.nio.file.Files.write(p, Array[Byte](1, 2, 3))
      p.toFile.setLastModified(System.currentTimeMillis() - ageMs)
      ()
    }
    touch("blocks/part-dead-e9-0-a77.gblk", 2 * 3600 * 1000L)
    touch("blocks/.tmp-part-dead-e9-1-a78", 2 * 3600 * 1000L)
    touch("manifests/.tmp-part-dead-e9-0-commit", 2 * 3600 * 1000L)
    touch("blocks/part-live-e1-0-a5.gblk", 1000L)
    // commit markers no snapshot names: an AGED one with its block (a
    // write that died between its markers and its index claim) is
    // swept; a FRESH one (a running publish's) survives the grace window
    val m = Manifests.readCommitted(conf, d).head
    def unindexed(name: String, ageMs: Long): Unit = {
      ContainerIO.writeAtomic(conf, s"$d/manifests/.tmp-$name",
        Manifests.manifestPath(d, name),
        Manifests.toJson(graft.engine.TableManifest(name, 7, 1L, 1, 3L, 3L,
          "", m.schemaCols, m.digestCol, chunkIndex = oneChunk(1)))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Paths.get(Manifests.manifestPath(d, name)).toFile
        .setLastModified(System.currentTimeMillis() - ageMs)
      touch(s"blocks/part-$name.gblk", ageMs)
    }
    unindexed("resume7", 2 * 3600 * 1000L)
    unindexed("fresh8", 1000L)
    val deleted = GraftMaintenance.vacuum(spark, d, graceMs = 3600 * 1000L)
    assert(deleted === 5, s"expected the 5 aged dead files gone, got $deleted")
    val blocks = gblks(d)
    assert(!blocks.contains("part-dead-e9-0-a77.gblk"))
    assert(blocks.contains("part-live-e1-0-a5.gblk"),
      "a fresh orphan inside the grace window must survive")
    assert(!blocks.contains("part-resume7.gblk") &&
      !markers(d).contains("part-resume7.json"),
      "an aged marker no snapshot names goes, with its block")
    assert(blocks.contains("part-fresh8.gblk") && markers(d).contains("part-fresh8.json"),
      "a fresh unindexed marker and its block survive the grace window")
    assert(blocks.contains(s"part-${m.name}.gblk"))
    // the table still reads
    assert(spark.read.format("graft").load(d).count() === 100)
  }

  test("vacuum sweeps an orphan schema marker (crashed rename) but keeps " +
    "committed ones") {
    import spark.implicits._
    val d = tempDir("vac-marker")
    (0 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "a")
      .coalesce(1).write.format("graft").mode("append").save(d)
    // a COMMITTED rename: its marker is index-referenced, must survive
    GraftMaintenance.renameColumn(spark, d, "a", "b")
    val conf = ContainerIO.localConf()
    val committedMarker = Manifests.readCommitted(conf, d)
      .find(_.schemaMarker).get.name
    // a CRASHED rename: marker file staged, index commit never landed
    // (the round-8 low advice window) — the listing fallback would treat
    // it as a committed rename of b -> c
    val specs = GraftDataSource.currentSpecsOf(Manifests.readCommitted(conf, d))
    val orphanId = Manifests.commitIdAbove(Manifests.readCommitted(conf, d))
    val orphan = graft.engine.TableManifest(name = s"schemamarker-$orphanId-0",
      part = 0, rows = 0L, chunks = 0, rawBytes = 0L, encodedBytes = 0L, digest = "",
      schemaCols = specs.map(s =>
        (if (s.name == "b") "c" else s.name, s.packed)),
      digestCol = "", commitId = orphanId, schemaMarker = true)
    Manifests.writeManifest(conf, d, orphan)
    Thread.sleep(20) // mtime strictly below the grace cutoff
    val deleted = GraftMaintenance.vacuum(spark, d, graceMs = 0L)
    assert(deleted === 1, s"expected exactly the orphan marker, got $deleted")
    val names = ContainerIO.listNames(conf, s"$d/manifests")
    assert(!names.contains(s"part-${orphan.name}.json"),
      "the crashed rename's marker must be swept")
    assert(names.contains(s"part-$committedMarker.json"),
      "a committed rename's marker must survive")
    // the table still reads under the COMMITTED rename only
    val back = spark.read.format("graft").load(d)
    assert(back.schema.fieldNames.toSeq === Seq("id", "b"))
    assert(back.count() === 20)
  }

  test("vacuum without an index keeps every listed marker and its block") {
    val d = tempDir("vac-noindex")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    publishEpochParts(d, 1, 10L, Seq((0, 0 until 30), (1, 30 until 60)))
    publishEpochParts(d, 2, 20L, Seq((0, 60 until 90)))
    val before = (markers(d).toSet, gblks(d).toSet)
    assert(before._1.size === 3 && before._2.size === 3)
    dropIndex(d)
    // an orphan block (no marker) is still swept
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "blocks", "part-orphan-0.gblk"),
      Array[Byte](1, 2, 3))
    Thread.sleep(20) // mtimes strictly below the grace cutoff
    assert(GraftMaintenance.vacuum(spark, d, graceMs = 0L) === 1)
    assert((markers(d).toSet, gblks(d).toSet) === before,
      "without an index the listing decides: no marker or its block is swept")
    assert(spark.read.format("graft").load(d).count() === 90)
  }

  test("streaming source seen-log is compacted: 100 triggers leave a bounded log") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val d = tempDir("seen-gc")
    val ckpt = tempDir("seen-gc-ckpt")
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val shipped = ContainerIO.shippedConf(spark)
    def mkStream() = new GraftMicroBatchStream(d, ckpt, schema, Array.empty,
      shipped, 128L << 20, GraftDataSource.layoutOf(schema))
    val stream = mkStream()
    var last = stream.initialOffset()
    for (w <- 0 until 100) {
      Seq(((w * 10).toLong, s"t$w"), ((w * 10 + 1).toLong, s"u$w"))
        .toDF("id", "tag").coalesce(1)
        .write.format("graft").mode("append").save(d)
      val off = stream.latestOffset()
      assert(stream.planInputPartitions(last, off).nonEmpty)
      stream.commit(off)
      last = off
    }
    val logFiles = ContainerIO.listNames(ContainerIO.localConf(), s"$ckpt/graft-seen")
    assert(logFiles.size <= GraftMicroBatchStream.CompactInterval + 2,
      s"100 triggers must leave a bounded seen-log, got ${logFiles.size}: " +
        logFiles.sorted.mkString(", "))
    assert(logFiles.exists(_.endsWith(".compact.json")),
      "expected a compact file after 100 committed batches")
    // restart: a fresh instance reads the compacted seen-set — only a NEW
    // append is fresh, nothing already-seen is re-emitted
    val s2 = mkStream()
    Seq((9999L, "late")).toDF("id", "tag").coalesce(1)
      .write.format("graft").mode("append").save(d)
    val off2 = s2.latestOffset()
    assert(off2.asInstanceOf[GraftStreamOffset].batch ===
      last.asInstanceOf[GraftStreamOffset].batch + 1)
    val parts2 = s2.planInputPartitions(last, off2)
    assert(parts2.length === 1, s"restart must emit only the new append, " +
      s"got ${parts2.length} partitions")
  }

  test("SQL surface: CALL graft.system.compact / vacuum with dry-run reporting") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val d = tempDir("sql-maint")
    for (w <- 0 until 4)
      (0 until 25).map(i => ((w * 25 + i).toLong, s"t$w")).toDF("id", "tag")
        .coalesce(1).write.format("graft").mode("append").save(d)
    assert(gblks(d).size === 4)
    // dry run reports the fold without performing it
    val dry = spark.sql(
      s"CALL graft.system.compact(path => '$d', dry_run => true)").collect()(0)
    assert(dry.getInt(0) === 4 && dry.getInt(1) === 1 && dry.getBoolean(2),
      s"dry-run report: $dry")
    assert(gblks(d).size === 4, "dry run must not touch the table")
    // the real CALL folds; rows unchanged
    val r = spark.sql(s"CALL graft.system.compact('$d')").collect()(0)
    assert(r.getInt(0) === 4 && r.getInt(1) === 1, s"compact report: $r")
    assert(spark.read.format("graft").load(d).count() === 100)
    // orphan block: vacuum dry run counts it, the real run sweeps it
    val c = ContainerIO.localConf()
    val fs = ContainerIO.fs(d, c)
    val orphan = new org.apache.hadoop.fs.Path(s"$d/blocks/part-orphan.gblk")
    val out = fs.create(orphan)
    out.write(Array[Byte](1, 2, 3)); out.close()
    Thread.sleep(50)
    val vdry = spark.sql(
      s"CALL graft.system.vacuum(path => '$d', grace_ms => 0, dry_run => true)")
      .collect()(0)
    assert(vdry.getInt(0) === 1 && vdry.getBoolean(1), s"vacuum dry: $vdry")
    assert(fs.exists(orphan), "dry run must not delete")
    val v = spark.sql(
      s"CALL graft.system.vacuum(path => '$d', grace_ms => 0)").collect()(0)
    assert(v.getInt(0) === 1, s"vacuum report: $v")
    assert(!fs.exists(orphan))
    assert(spark.read.format("graft").load(d).count() === 100)
    // discoverability
    val procs = spark.sql("SHOW PROCEDURES IN graft.system").collect()
      .map(_.toString).mkString("\n")
    assert(procs.contains("compact") && procs.contains("vacuum"), procs)
  }

  test("SQL surface: SHOW PROCEDURES lists exactly the seven; an unknown " +
    "procedure names them") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val all = Seq("compact", "vacuum", "rename_column", "delete",
      "expire_snapshots", "drop_column", "update")
    val listed = spark.sql("SHOW PROCEDURES IN graft.system").collect()
      .map(r => r.getString(r.length - 1)).toSeq
    assert(listed.sorted === all.sorted, listed.mkString(","))
    val e = intercept[Exception](
      spark.sql("CALL graft.system.no_such_proc('/tmp/x')").collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains(
      "unknown graft procedure no_such_proc; have: " + all.mkString(", "))),
      messages(e).mkString(" | "))
  }

  test("streaming replay across compaction substitutes the folded " +
      "generation exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val d = tempDir("sub")
    val ckpt = tempDir("sub-ckpt")
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val shipped = ContainerIO.shippedConf(spark)
    def mkStream() = new GraftMicroBatchStream(d, ckpt, schema, Array.empty,
      shipped, 128L << 20, GraftDataSource.layoutOf(schema))
    val s1 = mkStream()
    val off0 = s1.initialOffset()
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag").coalesce(1)
      .write.format("graft").mode("append").save(d)
    val off1 = s1.latestOffset()
    Seq((3L, "c"), (4L, "d")).toDF("id", "tag").coalesce(1)
      .write.format("graft").mode("append").save(d)
    val off2 = s1.latestOffset()
    // maintenance folds both logged epochs into ONE compacted container
    val (consumed, produced) = GraftMaintenance.compact(spark, d)
    assert(consumed === 2 && produced === 1)
    // restart: the replayed range's logged names are gone, but the live
    // compacted generation's ancestors cover exactly this range's epochs
    // -> it substitutes, and every row arrives exactly once
    val s2 = mkStream()
    val parts = s2.planInputPartitions(off0, off2)
    assert(parts.nonEmpty, "substitution must plan the compacted generation")
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
    assert(ids.sorted === Seq(1L, 2L, 3L, 4L),
      s"rows must arrive exactly once from the compacted generation, got $ids")
    // a PARTIAL range cannot split a folded container (an ancestor epoch
    // outside the range would smuggle batch-1 rows into batch 2).
    // Round 8: that replay fails LOUDLY — silently planning nothing
    // would drop committed rows from the replayed batch forever (the
    // round-7 documented residual, now closed)
    val ex = intercept[IllegalStateException] {
      s2.planInputPartitions(off1, off2)
    }
    assert(ex.getMessage.contains("cannot be re-emitted exactly-once"),
      s"got $ex")
  }

  test("reads across overwrite fail controlled: snapshot superseded, never FileNotFound") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import spark.implicits._
    val d = tempDir("cmp-stale")
    (0 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
      .write.format("graft").mode("overwrite").save(d)
    val df = spark.read.format("graft").load(d)
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head.asInstanceOf[GraftScan]
    val parts = scan.planInputPartitions()
    assert(parts.nonEmpty)
    // overwrite lands AFTER this scan planned: old generation deleted
    (0 until 10).map(i => (i.toLong, "new")).toDF("id", "tag")
      .write.format("graft").mode("overwrite").save(d)
    val ex = intercept[IllegalStateException] {
      val r = scan.createReaderFactory().createColumnarReader(parts.head)
      try while (r.next()) r.get()
      finally r.close()
    }
    assert(ex.getMessage.contains("snapshot superseded"), s"got $ex")
  }

  test("commitIds stay monotone per table even when the wall clock runs behind") {
    val d = tempDir("cmp-clock")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    // a committed generation stamped by a driver whose clock ran ~12 days
    // AHEAD of this one (equivalently: our clock runs behind). Pure
    // wall-clock ids would order every commit we make BELOW it, and the
    // listing fallback's newest-generation rule would prefer the stale
    // generation over ours.
    val future = System.currentTimeMillis() + 1000000000L
    val m = graft.engine.TableManifest("skew-e1-0", 0, 10L, 1, 50L, 40L, "",
      idTagCols, "tag", chunkIndex = oneChunk(10),
      commitId = f"$future%013d-deadbeef")
    Manifests.writeManifest(conf, d, m)
    Manifests.commitIndex(conf, d, _ => Seq(m))
    val id = Manifests.commitIdAbove(Manifests.readCommitted(conf, d))
    assert(id.takeWhile(_.isDigit).toLong > future,
      s"commitIdAbove must order above every committed predecessor, got $id")
  }

  test("compaction run ids can never collapse under double epochKey") {
    // epochKey strips ONE trailing all-digit segment; the run id's leading
    // letter guarantees "compact-<runId>" is a fixed point, so two
    // compacted generations' coverage keys can't falsely intersect even
    // if epochKey is applied to an already-keyed ancestor
    val k = Manifests.epochKey(Manifests.logicalName("compact-r12345ab-0"))
    assert(k === "compact-r12345ab")
    assert(Manifests.epochKey(k) === k, "epochKey must be idempotent here")
    // the regression shape: an ALL-DIGIT run id would collapse
    assert(Manifests.epochKey(Manifests.epochKey("compact-1234567-0")) === "compact",
      "this is the trap the letter prefix exists to avoid")
  }

  test("an epoch whose every generation is partial surfaces nothing") {
    val d = tempDir("fallback-partial-only")
    val conf = ContainerIO.localConf()
    ContainerIO.mkdirs(conf, s"$d/blocks")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    publishEpochParts(d, 1, 10L, Seq((0, 0 until 30), (1, 30 until 60)))
    def count() = spark.read.format("graft").load(d).count()
    assert(count() === 60)
    // epoch 7 exists ONLY as a publish that crashed mid-manifest-writes:
    // 1 of its 2 manifests landed (commitParts = 2). The listing fallback
    // must surface NOTHING for it — a partial epoch promoted into the
    // index would be transient wrong rows; the crashed publish's
    // job/stream retries it anyway
    val partial = graft.engine.TableManifest("q-e7-0-a91", 0, 30L, 1, 100L, 80L, "",
      idTagCols, "tag", chunkIndex = oneChunk(30),
      commitId = Manifests.commitIdAbove(Manifests.readCommitted(conf, d)), commitParts = 2)
    ContainerIO.writeAtomic(conf, s"$d/manifests/.tmp-partial7",
      Manifests.manifestPath(d, partial.name),
      Manifests.toJson(partial).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    dropIndex(d)
    assert(count() === 60,
      "a sole partial generation must not surface a partial epoch")
  }

  test("a source container that vanishes mid-rewrite aborts compact, " +
    "delete, update and upsert with CompactionConflict") {
    import spark.implicits._
    val conf = ContainerIO.localConf()
    val ops: Seq[(String, String => Any)] = Seq(
      "compact" -> (d => GraftMaintenance.compact(spark, d)),
      "delete" -> (d => GraftMaintenance.delete(spark, d, "id >= 0")),
      "update" -> (d => GraftMaintenance.update(spark, d, "id >= 0",
        Map("tag" -> "'u'"))),
      "upsert" -> (d => GraftMaintenance.upsert(spark, d,
        Seq((10L, "u"), (60L, "u"), (500L, "n")).toDF("id", "tag"), Seq("id"))))
    ops.foreach { case (op, run) =>
      val d = tempDir(s"vanish-$op")
      Seq(0 until 50, 50 until 100).foreach { ids =>
        ids.map(i => (i.toLong, s"t$i")).toDF("id", "tag").coalesce(1)
          .write.format("graft").mode("append").save(d)
      }
      val before = Manifests.readCommitted(conf, d)
      // the container of ids 0..49 (the first commit) loses its block —
      // and its Hadoop .crc sidecar, so the file is simply absent
      val gone = before.minBy(_.commitId).name
      val f = ContainerIO.fs(d, conf)
      f.delete(new org.apache.hadoop.fs.Path(s"$d/blocks/part-$gone.gblk"), false)
      f.delete(new org.apache.hadoop.fs.Path(s"$d/blocks/.part-$gone.gblk.crc"), false)
      intercept[GraftMaintenance.CompactionConflict](run(d))
      val after = Manifests.readCommitted(conf, d)
      assert(after.map(_.name).toSet === before.map(_.name).toSet,
        s"no manifest of the aborted $op may commit")
      val runPrefixes = Seq("compact-", "delete-", "update-", "merge-", "upsert-")
      assert(!after.exists(m => runPrefixes.exists(m.name.startsWith)), op)
      // every task of the failed job has finished before the sweep: no
      // sibling's staged block outlives the abort (looked for once no
      // task of the application is running any more)
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((tracker.getActiveJobIds.nonEmpty ||
          tracker.getExecutorInfos.exists(_.numRunningTasks > 0)) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      val staged = ContainerIO.listNames(conf, s"$d/blocks")
        .filter(n => runPrefixes.exists(p => n.startsWith(s"part-$p")))
      assert(staged.isEmpty, s"the aborted $op left staged blocks: $staged")
      // the surviving container is intact (its zone map skips the other)
      assert(spark.read.format("graft").load(d).filter(col("id") >= 50)
        .count() === 50, op)
    }
  }

  /** Flip one byte in the middle of column `col`'s block in the first
    * indexed chunk of container `m` of table `d`.
    */
  private def corruptBlock(d: String, m: graft.engine.TableManifest, col: String): Unit = {
    val ch = Manifests.loadChunkIndex(ContainerIO.localConf(), d, m).chunkIndex.head
    val f = java.nio.file.Paths.get(m.blockFile(d))
    val bytes = java.nio.file.Files.readAllBytes(f)
    val r = new graft.core.BlockReader(bytes, ch.offset.toInt, (ch.offset + ch.length).toInt)
    r.getVarint() // chunk rows
    var at = -1
    (0 until r.getVarint().toInt).foreach { _ =>
      val name = new String(r.getBytes(r.getVarint().toInt), "UTF-8")
      r.getByte() // kind
      val len = r.getVarint().toInt
      if (name == col) at = r.position + len / 2
      r.skip(len)
    }
    assert(at >= 0, s"no $col block in the first chunk of ${m.name}")
    bytes(at) = (bytes(at) ^ 0x5a).toByte
    java.nio.file.Files.write(f, bytes)
  }

  test("rewrites verify what they read: a corrupt source block fails compact " +
    "and delete, and nothing commits") {
    import spark.implicits._
    val conf = ContainerIO.localConf()
    val ops: Seq[(String, String => Any)] = Seq(
      "compact" -> (d => GraftMaintenance.compact(spark, d)),
      "delete" -> (d => GraftMaintenance.delete(spark, d, "id = 3")))
    ops.foreach { case (op, run) =>
      val d = tempDir(s"corrupt-$op")
      Seq(0 until 50, 50 until 100).foreach { ids =>
        ids.map(i => (i.toLong, s"document $i of the corrupt-$op table")).toDF("id", "content")
          .coalesce(1).write.format("graft").mode("append").save(d)
      }
      // the container of ids 0..49 (the first commit) gets one flipped
      // byte inside its content block
      corruptBlock(d, Manifests.readCommitted(conf, d).minBy(_.commitId), "content")
      def committed() = (
        ContainerIO.listNames(conf, d).filter(_.startsWith("_manifest-index")).toSet,
        ContainerIO.listNames(conf, s"$d/manifests").toSet,
        Manifests.readCommitted(conf, d).map(_.name).toSet)
      val before = committed()
      val e = intercept[Exception](run(d))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString("\n")
      assert(msgs.contains("block CRC mismatch for column content") ||
        msgs.contains("chunk content digest mismatch"), s"$op failed with: $msgs")
      assert(committed() === before, s"the failed $op must commit nothing")
    }
  }
}
