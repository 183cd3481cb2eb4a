package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.SparkTestSession

/** Round 7: add-only schema evolution — an append may extend the
  * committed schema with trailing NULLABLE columns; containers written
  * before the add have no block for them and read back all-NULL. The
  * proofs: value predicates / IS NOT NULL on an added column skip the
  * predating containers whole at planning; IS NULL on one is trivially
  * true there; COUNT(col) stays manifest-answered (a predating
  * container contributes zero).
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private val baseSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("a", StringType, nullable = true)))
  private val wideSchema = StructType(baseSchema.fields.toSeq ++ Seq(
    StructField("b", DoubleType, nullable = true),
    StructField("c", StringType, nullable = true)))

  private def baseDf(lo: Int, hi: Int) = {
    val rows = (lo until hi).map(i => Row(i.toLong, s"a$i"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), baseSchema)
  }

  private def wideDf(lo: Int, hi: Int) = {
    val rows = (lo until hi).map { i =>
      Row(i.toLong, s"a$i",
        if (i % 3 == 0) null else java.lang.Double.valueOf(i * 0.5),
        if (i % 4 == 0) null else s"c$i")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), wideSchema)
  }

  private def plannedChunks(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty)
    scans.head.asInstanceOf[GraftScan].planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
  }

  test("append may add trailing nullable columns; predating rows read back NULL") {
    val d = tmp("evo-rt")
    baseDf(0, 200).write.format("graft").option("chunkRows", "100")
      .mode("overwrite").save(d)
    wideDf(200, 350).write.format("graft").option("chunkRows", "100")
      .mode("append").save(d)
    val back = spark.read.format("graft").load(d)
    // the table's schema is the widest committed one
    assert(back.schema.fieldNames.toSeq === Seq("id", "a", "b", "c"))
    assert(back.schema("b").nullable && back.schema("c").nullable)
    assert(back.count() === 350)
    // predating rows are NULL in the added columns, new rows are exact
    val expected = baseDf(0, 200)
      .withColumn("b", lit(null).cast("double"))
      .withColumn("c", lit(null).cast("string"))
      .union(wideDf(200, 350))
    assert(back.except(expected).isEmpty && expected.except(back).isEmpty)
    // projecting ONLY an added column over a predating container works
    assert(back.select("b").filter(col("b").isNull).count() ===
      200 + (200 until 350).count(_ % 3 == 0))
  }

  test("filters on added columns: IS NOT NULL / comparisons skip predating containers whole") {
    val d = tmp("evo-flt")
    baseDf(0, 300).write.format("graft").option("chunkRows", "100")
      .mode("overwrite").save(d)
    wideDf(300, 400).write.format("graft").option("chunkRows", "100")
      .mode("append").save(d)
    val back = spark.read.format("graft")
      .option("maxSplitBytes", "1").load(d)
    // 3 predating chunks + 1 new chunk
    back.collect()
    assert(plannedChunks(back) === 4)
    val notNull = back.filter(col("b").isNotNull)
    assert(notNull.count() === (300 until 400).count(_ % 3 != 0))
    assert(plannedChunks(notNull) === 1,
      "IS NOT NULL on an added column must skip every predating container")
    val cmp = back.filter(col("b") > 150.0)
    assert(cmp.count() === (300 until 400).count(i => i % 3 != 0 && i * 0.5 > 150.0))
    assert(plannedChunks(cmp) === 1,
      "a comparison on an added column must skip every predating container")
    // IS NULL is trivially true on predating containers — all planned,
    // rows exact (SQL three-valued logic)
    val isNull = back.filter(col("c").isNull)
    assert(isNull.count() === 300 + (300 until 400).count(_ % 4 == 0))
    assert(plannedChunks(isNull) === 4)
    // mixed: present-column predicate still prunes within survivors
    val mixed = back.filter(col("b").isNotNull && col("id") >= 0L)
    assert(mixed.count() === notNull.count())
  }

  test("COUNT over an added column stays manifest-answered (predating containers contribute zero)") {
    val d = tmp("evo-cnt")
    baseDf(0, 250).write.format("graft").option("chunkRows", "100")
      .mode("overwrite").save(d)
    wideDf(250, 400).write.format("graft").option("chunkRows", "100")
      .mode("append").save(d)
    val agg = spark.read.format("graft").load(d)
      .agg(count(col("b")).as("cb"), count(col("c")).as("cc"),
        count(lit(1)).as("all"), min(col("b")).as("mb"))
    val scans = agg.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty && scans.head.isInstanceOf[GraftAggScan],
      "COUNT over an added column must stay manifest-answered:\n" +
        agg.queryExecution.executedPlan)
    val r = agg.collect()(0)
    assert(r.getLong(0) === (250 until 400).count(_ % 3 != 0))
    assert(r.getLong(1) === (250 until 400).count(_ % 4 != 0))
    assert(r.getLong(2) === 400L)
    assert(r.getDouble(3) === (250 until 400)
      .filter(_ % 3 != 0).map(_ * 0.5).min)
  }

  test("rejected appends: non-nullable added column, dropped column, reordered columns") {
    val d = tmp("evo-reject")
    baseDf(0, 50).write.format("graft").mode("overwrite").save(d)
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    // added column declared non-nullable
    val nn = StructType(baseSchema.fields.toSeq :+
      StructField("b", LongType, nullable = false))
    val exNn = intercept[Exception] {
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L, "x", 2L)), 1), nn)
        .write.format("graft").mode("append").save(d)
    }
    assert(messages(exNn).contains("must be nullable"), messages(exNn))
    // dropping a committed column is not evolution
    val exDrop = intercept[Exception] {
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L)), 1),
        StructType(Seq(StructField("id", LongType, nullable = false))))
        .write.format("graft").mode("append").save(d)
    }
    assert(messages(exDrop).contains("schema mismatch"), messages(exDrop))
    // reordering is not evolution either
    val exOrd = intercept[Exception] {
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row("x", 1L)), 1),
        StructType(Seq(StructField("a", StringType, nullable = true),
          StructField("id", LongType, nullable = false))))
        .write.format("graft").mode("append").save(d)
    }
    assert(messages(exOrd).contains("schema mismatch"), messages(exOrd))
  }

  test("streaming tail of an evolved table null-fills predating containers") {
    val d = tmp("evo-tail")
    val ckpt = tmp("evo-tail-ck")
    val out = tmp("evo-tail-out")
    baseDf(0, 100).write.format("graft").mode("append").save(d)
    wideDf(100, 160).write.format("graft").mode("append").save(d)
    val q = spark.readStream.format("graft").load(d)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out)
    assert(got.count() === 160)
    assert(got.filter(col("b").isNull && col("id") < 100L).count() === 100,
      "the tail must surface predating rows with NULL added columns")
    assert(got.filter(col("b").isNotNull).count() ===
      (100 until 160).count(_ % 3 != 0))
  }

  test("evolution can add BINARY and ARRAY<FLOAT> columns; predating rows read NULL") {
    val d = tmp("evo-binflt")
    baseDf(0, 120).write.format("graft").option("chunkRows", "64")
      .mode("overwrite").save(d)
    val rnd = new java.util.Random(7)
    val widest = StructType(baseSchema.fields.toSeq ++ Seq(
      StructField("payload", BinaryType, nullable = true),
      StructField("emb", ArrayType(FloatType, containsNull = false),
        nullable = true)))
    val rows = (120 until 200).map { i =>
      Row(i.toLong, s"a$i",
        if (i % 5 == 0) null else Array.fill(4 + i % 3)(rnd.nextInt().toByte),
        if (i % 6 == 0) null else Array.fill(3)(rnd.nextFloat()))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), widest)
      .write.format("graft").option("chunkRows", "64").mode("append").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.count() === 200)
    assert(back.filter(col("payload").isNull && col("id") < 120L).count() === 120)
    assert(back.filter(col("emb").isNotNull).count() ===
      (120 until 200).count(_ % 6 != 0))
    // the added binary/array values round-trip bit-exact for new rows
    val got = back.filter(col("id") === 121L).collect()(0)
    assert(!got.isNullAt(2) && !got.isNullAt(3))
    assert(got.getAs[Array[Byte]]("payload").length === 4 + 121 % 3)
    assert(got.getSeq[Float](3).length === 3)
  }

  test("concurrent evolution conflict: the losing append aborts inside its OCC commit") {
    val d = tmp("evo-race")
    baseDf(0, 50).write.format("graft").mode("overwrite").save(d) // [id, a]
    wideDf(50, 80).write.format("graft").mode("append").save(d) // adds b, c
    // a racing writer that validated against the PRE-evolution snapshot
    // stages [id, a, z] — a valid extension of what it SAW, incompatible
    // with the committed [id, a, b, c]. Its publish must abort inside
    // the OCC commit, clean its commit marker, and leave the table
    // readable.
    val confKv = graft.engine.ContainerIO.confSnapshot(
      spark.sparkContext.hadoopConfiguration)
    val loser = graft.engine.TableManifest("race9z9z9z-0", 0, 1L, 1, 8L, 8L,
      digest = "00",
      schemaCols = Seq(("id", 0), ("a", 1 | 0x80), ("z", 0 | 0x80)),
      digestCol = "a", chunkIndex = Seq(graft.engine.ChunkStats(
        graft.engine.ColumnarEngine.Magic.length + 1L, 8L, 1,
        Map.empty, Map.empty, Map.empty, Map.empty)))
    val msg = GraftCommitMessage(loser)
    val ex = intercept[SchemaEvolutionConflict] {
      GraftCommits.publish(confKv, d, truncate = false, Array(msg))
    }
    assert(ex.getMessage.contains("concurrent schema evolution"), ex.getMessage)
    // the loser's commit marker was swept and the table stays readable
    // with the winning schema
    val back = spark.read.format("graft").load(d)
    assert(back.schema.fieldNames.toSeq === Seq("id", "a", "b", "c"))
    assert(back.count() === 80)
  }

  test("compaction folds each schema generation separately; evolved table reads back exact") {
    val d = tmp("evo-compact")
    // four small pre-evolution epochs + three small post-evolution epochs
    for (w <- 0 until 4)
      baseDf(w * 50, (w + 1) * 50).write.format("graft")
        .option("chunkRows", "64").mode("append").save(d)
    for (w <- 0 until 3)
      wideDf(200 + w * 50, 200 + (w + 1) * 50).write.format("graft")
        .option("chunkRows", "64").mode("append").save(d)
    val before = spark.read.format("graft").load(d).collect().toSet
    val (consumed, produced) = GraftMaintenance.compact(spark, d)
    assert(consumed === 7, s"all 7 small containers consumed, got $consumed")
    assert(produced === 2,
      s"one compacted container per schema generation, got $produced")
    val after = spark.read.format("graft").load(d)
    assert(after.collect().toSet === before,
      "compaction must be row-and-value invisible, nulls included")
    // the added columns still read back NULL for the pre-evolution rows
    assert(after.filter(col("b").isNull && col("id") < 200L).count() === 200)
  }
}
