package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

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

/** Every table and scratch file a test makes lives under one root below
  * the system temp directory, made on first use and deleted when the
  * test JVM exits (the test run forks one JVM).
  */
object TestDirs {
  private lazy val root: java.nio.file.Path = {
    val r = Files.createTempDirectory("graft-tests-")
    sys.addShutdownHook(deleteTree(r.toFile))
    r
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def createTempDirectory(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(root, prefix)

  def createTempFile(prefix: String, suffix: String): java.nio.file.Path =
    Files.createTempFile(root, prefix, suffix)
}

/** The one race seam of a table change: `race` runs once, inside the
  * first index commit that reaches its claim ([[Manifests.beforeClaimHook]])
  * while `op` runs — after the commit's markers are written and before
  * it claims the next index version, the window a concurrent commit
  * lands in. The hook disarms itself before `race` runs, so the racing
  * operation's own commit passes straight through.
  */
object ClaimRace {
  def racing[T](race: => Any)(op: => T): T = {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    Manifests.beforeClaimHook = () => if (armed.getAndSet(false)) { race; () }
    try op finally Manifests.beforeClaimHook = () => ()
  }
}

class EngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tempDir(tag: String): String =
    TestDirs.createTempDirectory(s"graft-$tag").toString

  private def sha256Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"$b%02x").mkString

  private def blockFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(dir, "blocks"))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".gblk")).toSeq
    finally s.close()
  }

  private def markerNames(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir, "manifests"))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".json")).toSeq
    finally s.close()
  }

  /** The sorted sha256s of the containers `encode(derive(synthesize(2000,
    * 8)), dir, 8)` writes: container bytes are the format, whichever
    * path commits them.
    */
  private val PinnedContainers = Seq(
    "2e6083bd33ac819a4a387226d8d06e4c8f451e56e2ad48afcffa4d6bd593bc86",
    "5023f7fe74818adcabe283b63550aeaaf8bb6c605671f34afca16cb4437bd222",
    "5b4978516a27143d4b0c529dbc19ffe23668fe189ade215665007648393593a1",
    "6cada7deacb235109c20f0d331ef4ebd98755220ce19ee2c4f21d6250a82cc6a",
    "82a94cc50d0c5d89158071909afc71edee784c6998b3467d46a42ffa70c947ed",
    "964210bd0e312ea1f265cdb3f95c6c7b4486357ec01713c8950a7b9e4ae8c2bb",
    "a076efde79eea85efce8d83fb41869ed339ca98f5f8d6367b977f48ff3e67d32",
    "d5daab1360dfba89fa4d04c1216373e70c97d223d0d45894d8b6973a5fe2576b"
  )

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
    assert(manifests.map(_.part).toSeq === (0 until 8))
    assert(blockFiles(dir).map(f => sha256Hex(Files.readAllBytes(f))).sorted ===
      PinnedContainers, "engine-encoded container bytes changed")
    assert(manifests.forall(_.schemaCols ==
      ColumnarEngine.DefaultSchema.map(s => (s.name, s.packed))),
      "the engine table's schema is DefaultSchema, non-nullable columns included")
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
    // ONE container, chunked small: the decode is the DSv2 scan, which
    // must split it across tasks (one task per container would serialize
    // a giant container on a single thread)
    val enc = new ColumnarEngine.PartitionEncoder(0, dir, conf, chunkRowsCap = 50)
    rows.foreach { r =>
      Seq(r.repo, r.path, r.commit, r.lang, r.content).zipWithIndex.foreach {
        case (v, c) => enc.putUtf8(c, org.apache.spark.unsafe.types.UTF8String.fromString(v))
      }
      Seq(r.len_content, r.hash64, r.commit_ord, r.repo_code, r.lang_code, r.path_code)
        .zipWithIndex.foreach { case (v, c) => enc.putLong(5 + c, v) }
      enc.endRow()
    }
    val m = enc.finish()
    Manifests.writeManifest(conf, dir, m)
    Manifests.commitIndex(conf, dir, _ => Seq(m))
    assert(m.chunks === 8)
    // the encoder's container bytes are pinned (block order, codec
    // choice, zone stats inputs, chunk digests)
    assert(java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(dir, "blocks", "part-0.gblk")))
      .map(b => f"$b%02x").mkString ===
      "523276f460401cff662867535b3a8eb434b1a9c8fc4e8b7a774c31522524809f",
      "PartitionEncoder container bytes changed")
    val scan = spark.read.format("graft").option("maxSplitBytes", "1").load(dir)
    assert(scan.rdd.getNumPartitions === 8,
      "one giant container must read across one task per chunk")
    val decoded = ColumnarEngine.decode(spark, dir)
    assert(decoded.count() === 400)
    assert(decoded.collect().sortBy(_.path).toSeq === rows.toSeq)
  }

  test("re-encode replaces the table: decode equals the new input") {
    val dir = tempDir("reencode")
    val a = ColumnarEngine.derive(SourceTable.synthesize(spark, 600, 4)).cache()
    val b = ColumnarEngine.derive(SourceTable.synthesize(spark, 1000, 4)).cache()
    ColumnarEngine.encode(a, dir, numParts = 4)
    val second = ColumnarEngine.encode(b, dir, numParts = 4)
    assert(second.map(_.rows).sum === 1000)
    // the decode is exactly B: none of A's rows survive, none of B's lost
    val decoded = ColumnarEngine.decode(spark, dir)
    assert(decoded.count() === 1000)
    assert(decoded.except(b).isEmpty && b.except(decoded).isEmpty)
    // one generation on disk: every block and marker is B's
    val names = second.map(_.name).toSet
    assert(blockFiles(dir).map(_.getFileName.toString).toSet ===
      names.map(n => s"part-$n.gblk"), "A's containers must be gone")
    assert(markerNames(dir).toSet === names.map(n => s"part-$n.json"),
      "A's commit markers must be gone")
  }

  test("a failed encode leaves the table as it was") {
    import spark.implicits._
    val dir = tempDir("failed-encode")
    val first = ColumnarEngine.derive(SourceTable.synthesize(spark, 400, 2)).cache()
    ColumnarEngine.encode(first, dir, numParts = 2)
    val bad = SourceTable.synthesize(spark, 50, 2).collect().toSeq.zipWithIndex
      .map { case (f, i) => if (i == 7) f.copy(content = null) else f }
    intercept[Exception] {
      ColumnarEngine.encode(ColumnarEngine.derive(bad.toDS()), dir, numParts = 2)
    }
    val decoded = ColumnarEngine.decode(spark, dir)
    assert(decoded.count() === 400)
    assert(decoded.except(first).isEmpty && first.except(decoded).isEmpty)
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
    assert(!Files.exists(Paths.get(d, Manifests.versionedIndexName(1L))),
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
    val parted = ColumnarEngine.partitionForEncoding(derived, numParts = 16)
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
    import org.apache.spark.sql.functions._
    val dir = tempDir("manifest")
    val src = SourceTable.synthesize(spark, 300, 2)
    ColumnarEngine.encode(ColumnarEngine.derive(src), dir, numParts = 2)
    val m = ColumnarEngine.manifests(spark, dir)
    assert(m.count() === 2)
    assert(m.columns.toSet.contains("digest"))
    val total = m.agg(sum("rows")).head.getLong(0)
    assert(total === 300)
    // only the committed snapshot counts: a DELETE keeps the consumed
    // container's marker on disk for time travel
    val t = tempDir("manifest-delete")
    spark.range(100).coalesce(1).write.format("graft").mode("append").save(t)
    assert(graft.sources.GraftMaintenance.delete(spark, t, "id < 10") === 10L)
    assert(ColumnarEngine.manifests(spark, t).agg(sum("rows")).head.getLong(0) === 90L)
  }
}
