package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ContainerIO, Manifests, SparkTestSession}

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

  test("golden container: every kind with NULLs writes byte-identical blocks") {
    val d = Files.createTempDirectory("graft-golden").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .coalesce(1).write.format("graft").option("chunkRows", "64")
      .mode("overwrite").save(d)
    val conf = ContainerIO.localConf()
    val blocks = ContainerIO.listNames(conf, s"$d/blocks").filter(_.endsWith(".gblk"))
    assert(blocks.size === 1, s"expected one container, got $blocks")
    val ms = Manifests.readCommitted(conf, d)
    assert(ms.size === 1 && ms.head.rows === 300L && ms.head.chunks === 5)
    val gblk = sha256Hex(Files.readAllBytes(Paths.get(d, "blocks", blocks.head)))
    assert(gblk ===
      "bdf1787871de46b147b931b49eff7f7edeb9d27b474b05e76c4d26ef6c081790",
      "container bytes changed")
    assert(ms.head.digest ===
      "14ac5d91089597e1bfb15f3f88e6974051039b152045ade266d2b4cc64feb309",
      "manifest digest changed")
  }
}
