package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ContainerIO, Manifests, SparkTestSession, TestDirs}

/** Pins the exact bytes the DSv2 write path produces: a seeded table of
  * every column kind (0-10), NULLs in every nullable column, written as
  * one container of several chunks. A change to block order, codec
  * choice, validity layout, zone stats inputs or the chunk digest shows
  * up here as a different container hash or manifest digest.
  */
class GoldenContainerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"$x%02x").mkString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),                     // 0
    StructField("content", StringType, nullable = true),               // 1
    StructField("n32", IntegerType, nullable = true),                  // 2
    StructField("ts", TimestampNTZType, nullable = true),              // 3
    StructField("day", DateType, nullable = true),                     // 4
    StructField("score", DoubleType, nullable = true),                 // 5
    StructField("payload", BinaryType, nullable = true),               // 6
    StructField("vec", ArrayType(FloatType, containsNull = false),
      nullable = true),                                                // 7
    StructField("price", DecimalType(12, 3), nullable = true),         // 8
    StructField("flag", BooleanType, nullable = true),                 // 9
    StructField("f32", FloatType, nullable = true),                    // 10
    StructField("tag", StringType, nullable = false)))

  private def rows: Seq[Row] = {
    val rnd = new scala.util.Random(20261017L)
    def word(): String = rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString
    val base = java.time.LocalDateTime.of(2024, 3, 1, 0, 0)
    (0 until 300).map { i =>
      // every nullable column carries NULLs at its own stride; f32 is
      // NULL across the whole first chunk (an all-null chunk)
      def nul(stride: Int): Boolean = i % stride == stride - 1
      Row(
        i.toLong,
        if (nul(7)) null else Seq.fill(1 + rnd.nextInt(6))(word()).mkString(" "),
        if (nul(5)) null else rnd.nextInt(),
        if (nul(6)) null else base.plusSeconds(rnd.nextInt(86400 * 30).toLong),
        if (nul(8)) null else java.time.LocalDate.of(2024, 1, 1)
          .plusDays(rnd.nextInt(400).toLong),
        if (nul(4)) null else rnd.nextGaussian() * 1e3,
        if (nul(3)) null else Array.fill(rnd.nextInt(24))(rnd.nextInt(256).toByte),
        if (nul(9)) null else Array.fill(1 + rnd.nextInt(8))(rnd.nextFloat()).toSeq,
        if (nul(10)) null else java.math.BigDecimal.valueOf(
          rnd.nextLong() % 1000000000000L, 3),
        if (nul(11)) null else rnd.nextBoolean(),
        if (i < 64 || nul(2)) null else rnd.nextFloat() * 100f,
        s"t${i % 5}")
    }
  }

  private def writeGolden(d: String, mode: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .coalesce(1).write.format("graft").option("chunkRows", "64")
      .mode(mode).save(d)

  test("golden container: every kind with NULLs writes byte-identical blocks") {
    val d = TestDirs.createTempDirectory("graft-golden").toString
    writeGolden(d, "overwrite")
    val conf = ContainerIO.localConf()
    val blocks = ContainerIO.listNames(conf, s"$d/blocks").filter(_.endsWith(".gblk"))
    assert(blocks.size === 1, s"expected one container, got $blocks")
    val ms = Manifests.readCommitted(conf, d)
    assert(ms.size === 1 && ms.head.rows === 300L && ms.head.chunks === 5)
    val gblk = sha256Hex(Files.readAllBytes(Paths.get(d, "blocks", blocks.head)))
    assert(gblk ===
      "ae5c2ef2aa759f64177a41df83c29db2ac014b9aa00e31e56865cbf878f641e6",
      "container bytes changed")
    assert(ms.head.digest ===
      "14ac5d91089597e1bfb15f3f88e6974051039b152045ade266d2b4cc64feb309",
      "manifest digest changed")
  }

  test("golden compaction: the rewrite of two golden containers is byte-identical") {
    // two identical containers: the bin's source order follows the random
    // epoch names, and identical halves make that order irrelevant
    val d = TestDirs.createTempDirectory("graft-golden-compact").toString
    writeGolden(d, "overwrite")
    writeGolden(d, "append")
    val conf = ContainerIO.localConf()
    assert(GraftMaintenance.compact(spark, d) === ((2, 1)))
    val ms = Manifests.readCommitted(conf, d)
    assert(ms.size === 1 && ms.head.rows === 600L && ms.head.chunks === 1)
    val gblk = sha256Hex(Files.readAllBytes(
      Paths.get(d, "blocks", s"part-${ms.head.name}.gblk")))
    assert(gblk ===
      "eefa54a42463dadaf03dbf3f2f4cec5030ab4c89ef7dd05ec15574d21c433d0c",
      "compacted container bytes changed")
    assert(ms.head.digest ===
      "15f0feccfe40c0b0d4241e4a19669f31c14a79bcbeb8d9126f6f1b67aaf546f8",
      "compacted manifest digest changed")
  }

  /** A copy, in a fresh directory, of a golden table written by an
    * earlier writer and kept under the test resources.
    */
  private def fixture(name: String): String = {
    val src = Paths.get(getClass.getResource(s"/golden-pre-selector/$name").toURI)
    val dst = TestDirs.createTempDirectory(s"graft-pre-selector-$name")
    val files = Files.walk(src)
    try files.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally files.close()
    dst.toString
  }

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.orderBy("id").collect().toSeq

  // the two tables above as the writer before the narrow selector and the
  // divisor and decimal codecs wrote them (recorded at a341214 from a
  // `git archive` copy): INT/DATE/FLOAT in `varint-i32` blocks
  test("golden containers written before the narrow selector still read their rows") {
    val conf = ContainerIO.localConf()
    val expected = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    for ((name, copies, chunks) <- Seq(("every-kind", 1, 5), ("compacted", 2, 1))) {
      val d = fixture(name)
      val ms = Manifests.readCommitted(conf, d)
      assert(ms.size === 1 && ms.head.rows === 300L * copies && ms.head.chunks === chunks, name)
      assert(ms.head.columns.filter(c => Set("n32", "day", "f32")(c.column))
        .forall(_.codec.split('+').forall(_ == "varint-i32")), name)
      val want = sorted((1 until copies).foldLeft(expected)((df, _) => df.union(expected)))
      assert(sorted(spark.read.format("graft").load(d)) === want, name)
    }
  }

  test("narrow columns through the long selector: INT extremes, DATE and FLOAT with NULLs") {
    val narrow = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("d", DateType, nullable = true),
      StructField("f", FloatType, nullable = true)))
    val floats = Array(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity, Float.NegativeInfinity,
      Float.MinPositiveValue, Float.MaxValue, -1.5f, 0.1f)
    val data = (0 until 1000).map { i =>
      Row(i.toLong,
        if (i % 5 == 0) null else Seq(Int.MinValue, Int.MaxValue, i, -i)(i % 4),
        if (i % 3 == 0) null else java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays((i % 400).toLong)),
        if (i % 7 == 0 || i >= 900) null else floats(i % floats.length))
    }
    val d = TestDirs.createTempDirectory("graft-narrow").toString
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), narrow)
      .write.format("graft").option("chunkRows", "100").mode("overwrite").save(d)
    val ms = Manifests.readCommitted(ContainerIO.localConf(), d)
    assert(ms.flatMap(_.columns).filter(_.column != "id").forall(!_.codec.contains("varint-i32")))
    val got = sorted(spark.read.format("graft").load(d))
    assert(got.size === data.size)
    got.zip(data).foreach { case (g, w) =>
      assert(g.get(1) === w.get(1) && g.get(2) === w.get(2), s"row ${w.getLong(0)}")
      assert(g.isNullAt(3) === w.isNullAt(3), s"row ${w.getLong(0)}")
      if (!w.isNullAt(3))
        assert(java.lang.Float.floatToIntBits(g.getFloat(3)) ===
          java.lang.Float.floatToIntBits(w.getFloat(3)), s"row ${w.getLong(0)}")
    }
  }

  test("chunk boundaries: binary bytes count as bytes, string chars as UTF-16 chars") {
    // 600 rows in one task: a 64 KiB BINARY payload of UTF-8 continuation
    // bytes (invalid UTF-8, zero chars if it were ever counted as text)
    // and 1000 three-byte CJK chars per row. The 32 MiB flush threshold
    // counts 65536 + 1000 per row, so the first chunk closes at row 505;
    // counting the string's bytes would close it at 490, counting the
    // binary as chars would not close it at all.
    val d = TestDirs.createTempDirectory("graft-golden-wide").toString
    spark.range(0, 600, 1, 1).select(
      col("id"),
      expr("unhex(repeat('80', 65536))").as("payload"),
      lit("\u8a9e" * 1000).as("text"))
      .write.format("graft").mode("overwrite").save(d)
    val conf = ContainerIO.localConf()
    val ms = Manifests.readCommitted(conf, d)
    assert(ms.size === 1 && ms.head.rows === 600L)
    val counts = Manifests.loadChunkIndex(conf, d, ms.head).chunkIndex.map(_.rows)
    assert(counts === Seq(505, 95))
    val back = spark.read.format("graft").load(d)
      .selectExpr("count(*)", "sum(length(payload))", "sum(length(text))").head()
    assert(back.getLong(0) === 600L && back.getLong(1) === 600L * 65536 &&
      back.getLong(2) === 600L * 1000)
  }
}
