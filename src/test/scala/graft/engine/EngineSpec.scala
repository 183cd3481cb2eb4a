package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

class EngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tempDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  test("synthesizer is deterministic and zipf-skewed") {
    import spark.implicits._
    val a = SourceTable.synthesize(spark, 500, 4).collect().sortBy(_.path)
    val b = SourceTable.synthesize(spark, 500, 8).collect().sortBy(_.path)
    assert(a.toSeq === b.toSeq, "same seed+rows must be identical regardless of parallelism")
    val byRepo = a.groupBy(_.repo).view.mapValues(_.length).toMap
    val top = byRepo.values.max
    assert(top > 500 / 50 * 3, "zipf head repo should be several times the uniform share")
    assert(a.map(_.path).distinct.length === 500, "paths are unique")
  }

  test("end-to-end: derive -> encode -> decode is bit-identical, compressed < raw") {
    import spark.implicits._
    val dir = tempDir("e2e")
    val src = SourceTable.synthesize(spark, 2000, 8)
    val derived = ColumnarEngine.derive(src).cache()
    val manifests = ColumnarEngine.encode(derived, dir, numParts = 8)
    assert(manifests.length === 8)
    val rows = manifests.map(_.rows).sum
    assert(rows === 2000)
    val raw = manifests.map(_.rawBytes).sum
    val enc = manifests.map(_.encodedBytes).sum
    assert(enc < raw, s"encoded $enc must beat raw $raw")

    // selector must beat or match a pure-varint/raw fixed choice overall:
    // recompute a varint-only + raw-string-only size from the same chunks
    info(s"compression: raw=$raw encoded=$enc ratio=${enc.toDouble / raw}")

    val decoded = ColumnarEngine.decode(spark, dir)
    val orig = derived
    assert(decoded.count() === 2000)
    // bit-identical across every column, both directions
    assert(decoded.except(orig).isEmpty, "decoded rows not in original")
    assert(orig.except(decoded).isEmpty, "original rows missing from decode")
  }

  test("decode verifies per-row content digests (corruption is caught)") {
    import spark.implicits._
    val dir = tempDir("corrupt")
    val src = SourceTable.synthesize(spark, 200, 2)
    val derived = ColumnarEngine.derive(src)
    ColumnarEngine.encode(derived, dir, numParts = 2)
    // flip a byte near the end of one container (inside content block/digest)
    val f = Files.list(Paths.get(dir, "blocks")).iterator().next()
    val bytes = Files.readAllBytes(f)
    bytes(bytes.length - 40) = (bytes(bytes.length - 40) ^ 0x5a).toByte
    Files.write(f, bytes)
    // decode() verifies the columns it actually reads: collect() decodes
    // everything (a count() prunes to one long column and would not
    // touch the corrupted content block — lazy-read semantics)
    val ex = intercept[Exception] {
      ColumnarEngine.decode(spark, dir).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("digest") || msg.contains("CRC") || msg.contains("Eob")
      || msg.contains("buffer") || ex.toString.contains("Spark"),
      s"unexpected failure shape: $ex")
  }

  test("decode plans one task per chunk: a single giant container parallelizes") {
    val dir = tempDir("chunksplit")
    val conf = spark.sparkContext.hadoopConfiguration
    ContainerIO.mkdirs(conf, s"$dir/blocks")
    ContainerIO.mkdirs(conf, s"$dir/manifests")
    val rows = ColumnarEngine.derive(SourceTable.synthesize(spark, 400, 4))
      .collect().sortBy(_.path)
    // ONE container, chunked small: the decode planner must split it
    // across tasks like the DSv2 scan does (round-5 nit: one task per
    // container serialized a giant container on a single thread)
    val enc = new ColumnarEngine.PartitionEncoder(0, dir, conf, chunkRowsCap = 50)
    rows.foreach(enc.add)
    val m = enc.finish()
    assert(m.chunks === 8)
    // the encoder's container bytes are pinned (block order, codec
    // choice, zone stats inputs, chunk digests)
    assert(java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(dir, "blocks", "part-0.gblk")))
      .map(b => f"$b%02x").mkString ===
      "2129aa98420bbc924320571208d9a383703355474339370559757beafbb798b0",
      "PartitionEncoder container bytes changed")
    val decoded = ColumnarEngine.decode(spark, dir)
    assert(decoded.rdd.getNumPartitions === 8,
      "one giant container must decode across one task per chunk")
    assert(decoded.count() === 400)
    assert(decoded.collect().sortBy(_.path).toSeq === rows.toSeq)
  }

  test("checkpoint-resume: completed partitions are skipped, missing ones re-encoded") {
    import spark.implicits._
    val dir = tempDir("resume")
    val src = SourceTable.synthesize(spark, 1000, 4)
    val derived = ColumnarEngine.derive(src).cache()
    val first = ColumnarEngine.encode(derived, dir, numParts = 4)
    assert(first.length === 4)
    // simulate a partial failure: delete one partition's outputs
    Files.delete(Paths.get(dir, "manifests", "part-2.json"))
    Files.delete(Paths.get(dir, "blocks", "part-2.gblk"))
    val second = ColumnarEngine.encode(derived, dir, numParts = 4)
    assert(second.map(_.part).toSeq === Seq(2), "only part 2 re-encoded")
    assert(ColumnarEngine.completedParts(dir) === Set(0, 1, 2, 3))
    // and the result is complete + correct
    val decoded = ColumnarEngine.decode(spark, dir)
    assert(decoded.count() === 1000)
    assert(decoded.except(derived).isEmpty)
  }

  test("OCC lost-claim guard: a recycled version number is withdrawn and retried") {
    val conf = ContainerIO.localConf()
    val d = tempDir("occ-lost")
    ContainerIO.mkdirs(conf, s"$d/manifests")
    def entry(n: String) = TableManifest(n, 0, 1L, 1, 8L, 8L, "",
      schemaCols = Seq("x" -> 0), digestCol = "",
      chunkIndex = Seq(ChunkStats(ColumnarEngine.Magic.length + 1L,
        8L, 1, Map.empty, Map.empty, Map.empty, Map.empty)))
    Manifests.commitIndex(conf, d, _ => Seq(entry("a"))) // v0
    // a committer reads v0 (claiming v1), then stalls while the world
    // advances PAST the tombstone-retention envelope: the live tip is
    // far ahead and v1's tombstone was GC'd, freeing the number — the
    // exact silent-lost-update pathology the guard exists for
    val tip = 1L + Manifests.TombstoneRetention + 5L
    var fired = false
    Manifests.beforeClaimHook = () => if (!fired) {
      fired = true
      ContainerIO.createExclusive(conf,
        s"$d/${Manifests.versionedIndexName(tip)}",
        s"""{"version":1,"manifests":[${Manifests.toJson(entry("tip"))}]}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(d, Manifests.versionedIndexName(0L)))
    }
    try Manifests.commitIndex(conf, d, old => old :+ entry("b"))
    finally Manifests.beforeClaimHook = () => ()
    val Some((ver, ms)) = Manifests.readIndexSnapshot(conf, d)
    assert(ver === tip + 1,
      s"the withdrawn claim must retry ON TOP of the true tip, got v$ver")
    val names = ms.map(_.name)
    assert(names.contains("tip") && names.contains("b"),
      s"retry must preserve the tip's content and land the update: $names")
    assert(!ContainerIO.exists(conf, s"$d/${Manifests.versionedIndexName(1L)}"),
      "the recycled below-tip claim must be withdrawn")
  }

  test("dictionary codes are dense, deterministic, and order-agnostic") {
    import spark.implicits._
    val df = SourceTable.synthesize(spark, 800, 4).toDF()
    val d1 = GlobalDictionary.build(df, "repo").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val d2 = GlobalDictionary.build(df.repartition(13), "repo").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d1 === d2, "codes must not depend on physical layout")
    val codes = d1.values.toSeq.sorted
    assert(codes === (0L until d1.size.toLong), "codes are dense 0..card-1")
  }

  test("columnar projection read: selected columns only, values match full decode") {
    import spark.implicits._
    val dir = tempDir("proj")
    val derived = ColumnarEngine.derive(SourceTable.synthesize(spark, 500, 4)).cache()
    ColumnarEngine.encode(derived, dir, numParts = 4)
    val proj = ColumnarEngine.readColumns(spark, dir, Seq("path", "len_content", "hash64"))
    assert(proj.columns.toSeq === Seq("path", "len_content", "hash64"))
    val got = proj.as[(String, Long, Long)].collect().sortBy(_._1)
    val want = derived.select($"path", $"len_content", $"hash64")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    intercept[IllegalArgumentException](
      ColumnarEngine.readColumns(spark, dir, Seq("nope")).count())
  }

  test("salted partitioning bounds the zipf-head repo's share of any partition") {
    import spark.implicits._
    val derived = ColumnarEngine.derive(SourceTable.synthesize(spark, 3000, 8))
    val parted = ColumnarEngine.partitionForEncoding(derived, numParts = 16, saltBuckets = 16)
    val sizes = parted.mapPartitions(it => Iterator.single(it.size)).collect()
    val total = sizes.sum
    assert(total === 3000)
    // head repo carries ~19% of rows (zipf 1/rank over 50 repos); without
    // salting one hash partition would hold all of it. With 16 salt
    // buckets no partition may exceed ~3x the mean.
    val mean = total.toDouble / sizes.count(_ > 0)
    assert(sizes.max <= mean * 3,
      s"partition skew too high: max=${sizes.max} mean=$mean sizes=${sizes.toSeq}")
  }

  test("manifests DataFrame exposes lineage metrics") {
    val dir = tempDir("manifest")
    val src = SourceTable.synthesize(spark, 300, 2)
    ColumnarEngine.encode(ColumnarEngine.derive(src), dir, numParts = 2)
    val m = ColumnarEngine.manifests(spark, dir)
    assert(m.count() === 2)
    assert(m.columns.toSet.contains("digest"))
    import org.apache.spark.sql.functions._
    val total = m.agg(sum("rows")).head.getLong(0)
    assert(total === 300)
  }
}
