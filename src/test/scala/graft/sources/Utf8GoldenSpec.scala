package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.codecs.StringCodecs
import graft.engine.{ContainerIO, Manifests, SparkTestSession, TestDirs}

/** Pins the bytes the DSv2 write path produces for non-ASCII strings:
  * 2-, 3- and 4-byte UTF-8 characters, empty strings and NULLs, in
  * columns that select the dict, RLE and FSST string codecs, with more
  * distinct values in one chunk than the string dictionary
  * tracks ([[StringCodecs.DictCardCap]]). The string zone maps (chunk
  * value sets and ranges) are pinned alongside, in their stored order.
  */
class Utf8GoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"$x%02x").mkString

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("word", StringType, nullable = true),  // dict
    StructField("run", StringType, nullable = false),  // rle
    StructField("text", StringType, nullable = true),  // fsst
    StructField("key", StringType, nullable = false),  // fsst, > DictCardCap distinct
    StructField("tag", StringType, nullable = false))) // zone-map value set

  private val ChunkRows = 20000
  private val Rows = 2 * ChunkRows + 1000

  // words mixing 1-, 2-, 3- and 4-byte characters
  private val vocab = Seq("naïve", "Straße", "ключ", "日本語", "€uro", "😀ok",
    "𝄞clef", "", "a", "ünïcödé", "中文字符", "🚀🌍", "ÆØÅ", "ğüşçö", "ℕ∑∞")

  private def rows: Seq[Row] = {
    val rnd = new scala.util.Random(20261019L)
    // uniform code points from one 2-, one 3- and one 4-byte range: only
    // their UTF-8 lead bytes and the row number repeat, which a table
    // trained on 64 KiB of the chunk codes to about 0.8 of raw
    def randChar(): String = rnd.nextInt(3) match {
      case 0 => new String(Character.toChars(0x0400 + rnd.nextInt(0x100)))
      case 1 => new String(Character.toChars(0x4e00 + rnd.nextInt(0x5000)))
      case _ => new String(Character.toChars(0x1f300 + rnd.nextInt(0x300)))
    }
    (0 until Rows).map { i =>
      Row(
        i.toLong,
        if (i % 13 == 12) null else vocab(rnd.nextInt(vocab.size)),
        vocab((i / 700) % vocab.size),
        if (i % 11 == 10) null
        else if (i % 17 == 16) ""
        else Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        Seq.fill(2 + rnd.nextInt(3))(randChar()).mkString + i,
        // UTF-16 order and UTF-8 byte order disagree on these values
        Seq("｡half", "😀face", "zed", "éclair")(i % 4))
    }
  }

  test("golden container: non-ASCII strings through dict, RLE and FSST blocks") {
    val d = TestDirs.createTempDirectory("graft-utf8-golden").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .coalesce(1).write.format("graft").option("chunkRows", ChunkRows.toString)
      .mode("overwrite").save(d)
    val conf = ContainerIO.localConf()
    val blocks = ContainerIO.listNames(conf, s"$d/blocks").filter(_.endsWith(".gblk"))
    assert(blocks.size === 1, s"expected one container, got $blocks")
    val ms = Manifests.readCommitted(conf, d)
    assert(ms.size === 1 && ms.head.rows === Rows.toLong && ms.head.chunks === 3)
    val codecs = ms.head.columns.map(c => c.column -> c.codec).toMap
    for ((col, codec) <- Seq("word" -> "dict", "run" -> "rle", "text" -> "fsst",
        "key" -> "fsst"))
      assert(codecs(col).split('+').contains(codec), s"$col chose ${codecs(col)}")
    assert(ChunkRows > StringCodecs.DictCardCap)
    val gblk = sha256Hex(Files.readAllBytes(Paths.get(d, "blocks", blocks.head)))
    assert(gblk ===
      "a7db8cb5fcc40d9a3461b51677adb9b387a03213141f2c708c0cefc77dfbdec3",
      "container bytes changed")
    assert(ms.head.digest ===
      "ef89b5cc51429a616e87c775417cdb2b4bc8c2b146b310f75cc7a1686bb1c940",
      "manifest digest changed")

    val back = spark.read.format("graft").load(d).orderBy("id").collect()
    assert(back.toSeq.map(r => (0 until 6).map(r.get)) === rows.map(r => (0 until 6).map(r.get)))
  }

  test("string zone maps keep their stored order") {
    val d = TestDirs.createTempDirectory("graft-utf8-zones").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows.take(400), 1), schema)
      .write.format("graft").option("chunkRows", "200").mode("overwrite").save(d)
    val conf = ContainerIO.localConf()
    val m = Manifests.loadChunkIndex(conf, d, Manifests.readCommitted(conf, d).head)
    assert(m.chunkIndex.size === 2)
    // value sets are sorted in String (UTF-16) order: "😀" (a surrogate
    // pair, 0xD83D) sorts before "｡" (0xFF61), the reverse of UTF-8 byte order
    for (cs <- m.chunkIndex) {
      assert(cs.strDicts("tag") === Seq("zed", "éclair", "😀face", "｡half"))
      assert(!cs.strRanges.contains("tag"), "ranges cover pure-ASCII chunks only")
    }
    assert(m.chunkIndex.forall(_.strDicts("run") === Seq("naïve")))
  }

  test("invalid UTF-8 is stored and read back byte for byte, also through a rewrite") {
    // the write path copies Spark's UTF-8 bytes as they are (no U+FFFD
    // replacement): a malformed 2-byte sequence, a stray 0xFF, an encoded
    // surrogate (ED A0 80) and the empty string
    val hexes = Seq("61C328FF62", "EDA080", "", "C3A9")
    val d = TestDirs.createTempDirectory("graft-utf8-invalid").toString
    def write(mode: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(
          hexes.zipWithIndex.map { case (h, i) => Row(i.toLong, h) }, 1),
          StructType(Seq(StructField("id", LongType, nullable = false),
            StructField("h", StringType, nullable = false))))
        .selectExpr("id", "cast(unhex(h) as string) as s")
        .write.format("graft").mode(mode).save(d)
    def readBack(): Seq[String] =
      spark.read.format("graft").load(d).orderBy("id")
        .selectExpr("hex(cast(s as binary))").collect().map(_.getString(0)).toSeq
    write("overwrite")
    assert(readBack() === hexes)
    write("append")
    GraftMaintenance.compact(spark, d)
    assert(readBack() === hexes.flatMap(h => Seq(h, h)))
    assert(spark.read.format("graft").load(d).filter("s = 'é'").count() === 2L)
  }
}
