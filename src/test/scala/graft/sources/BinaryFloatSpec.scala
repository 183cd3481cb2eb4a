package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ContainerIO, Manifests, SparkTestSession, TestDirs}

/** Round 7: BINARY (kind 6) and ARRAY<FLOAT> (kind 7) columns — the two
  * LLM-pipeline shapes (opaque media payloads, embeddings) can now live
  * in the engine's own table instead of parquet.
  */
class BinaryFloatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp(tag: String): String =
    TestDirs.createTempDirectory(s"graft-$tag").toString

  private def mediaDf(n: Int) = {
    import spark.implicits._
    // deterministic fake payloads with every byte value incl. invalid
    // UTF-8 sequences — the exact thing a String round-trip would corrupt
    (0 until n).map { i =>
      val p = new Array[Byte](16 + i % 64)
      var j = 0
      while (j < p.length) { p(j) = ((i * 31 + j * 7 + 0x80) & 0xff).toByte; j += 1 }
      (i.toLong, s"kind${i % 3}", p)
    }.toDF("doc_id", "kind", "payload")
  }

  private def embDf(n: Int, dim: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val v = Array.tabulate(dim)(j =>
        java.lang.Float.intBitsToFloat((i * 2654435761L.toInt + j * 40503) | 0x3f000000) match {
          case f if f.isNaN || f.isInfinite => 0.5f + j * 0.25f
          case f => f
        })
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("BINARY round trip: arbitrary bytes (invalid UTF-8 incl.) bit-exact") {
    val d = tmp("bin-rt")
    val df = mediaDf(300)
    df.write.format("graft").option("chunkRows", "100").mode("overwrite").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.schema("payload").dataType === BinaryType)
    assert(back.count() === 300)
    val want = df.collect().map(r =>
      r.getLong(0) -> r.getAs[Array[Byte]]("payload").toSeq).toMap
    back.collect().foreach { r =>
      assert(r.getAs[Array[Byte]]("payload").toSeq === want(r.getLong(0)),
        s"payload of doc ${r.getLong(0)}")
    }
    // filters on sibling columns still push; binary column rides along
    val f = back.filter(col("doc_id") >= 250L)
    assert(f.count() === 50)
    assert(f.agg(sum(length(col("payload")))).collect()(0).getLong(0) ===
      df.filter(col("doc_id") >= 250L)
        .agg(sum(length(col("payload")))).collect()(0).getLong(0))
  }

  test("ARRAY<FLOAT> round trip: embeddings bit-exact through the table") {
    val d = tmp("flt-rt")
    val df = embDf(200, 64)
    df.write.format("graft").option("chunkRows", "64").mode("overwrite").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.schema("embedding").dataType.isInstanceOf[ArrayType])
    val want = df.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1)).toMap
    val got = back.collect()
    assert(got.length === 200)
    got.foreach { r =>
      val w = want(r.getLong(0))
      val g = r.getSeq[Float](1)
      assert(g.length === w.length)
      g.lazyZip(w).zipWithIndex.foreach { case ((a, b), j) =>
        assert(java.lang.Float.floatToRawIntBits(a) ===
          java.lang.Float.floatToRawIntBits(b),
          s"vec ${r.getLong(0)} elem $j: $a vs $b")
      }
    }
  }

  test("ARRAY<FLOAT> chunks record their block: f32-rd for embeddings, f32-raw for random bits") {
    import spark.implicits._
    val rnd = new java.util.Random(77L)
    def bits(f: Float): Int = java.lang.Float.floatToRawIntBits(f)
    // random bits, NaN and Inf exponents moved down one
    def noise(): Float = {
      val b = rnd.nextInt()
      java.lang.Float.intBitsToFloat(if ((b & 0x7f800000) == 0x7f800000) b ^ 0x00800000 else b)
    }
    val emb = (0 until 300).map(i => (i.toLong, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
    val rand = (0 until 300).map(i => (i.toLong, Array.fill(32)(noise())))
    for ((rows, codec) <- Seq(emb -> "f32-rd", rand -> "f32-raw")) {
      val d = tmp(s"flt-$codec")
      rows.toDF("vec_id", "embedding").coalesce(1).write.format("graft")
        .option("chunkRows", "100").mode("overwrite").save(d)
      val ms = Manifests.readCommitted(ContainerIO.localConf(), d)
      assert(ms.flatMap(_.columns).filter(_.column == "embedding")
        .flatMap(_.codec.split('+')).distinct === Seq(codec))
      val got = spark.read.format("graft").load(d).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(bits)).toMap
      assert(got.size === rows.size)
      rows.foreach { case (id, v) => assert(got(id) === v.map(bits).toSeq, s"$codec row $id") }
    }
  }

  test("ARRAY<FLOAT> scans are columnar: BatchScan under ColumnarToRow") {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val d = tmp("flt-columnar")
    embDf(100, 8).write.format("graft").option("chunkRows", "40")
      .mode("overwrite").save(d)
    val q = spark.read.format("graft").load(d).select("vec_id", "embedding")
    val plan = q.queryExecution.executedPlan
    val columnar = plan.collect { case c: ColumnarToRowExec => c.child }.exists {
      case _: BatchScanExec => true
      case i: InputAdapter => i.child.isInstanceOf[BatchScanExec]
      case _ => false
    }
    assert(columnar, s"expected BatchScan under ColumnarToRow:\n$plan")
    assert(q.collect().length === 100)
  }

  test("nullable BINARY and ARRAY<FLOAT>: nulls round-trip; IS NOT NULL pushes") {
    val d = tmp("binflt-null")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("vec", ArrayType(FloatType, containsNull = false),
        nullable = true)))
    def rowOf(i: Long) =
      Row(i,
        if (i % 4 == 0) null else Array.fill((i % 9).toInt + 1)((i & 0xff).toByte),
        if (i % 3 == 0) null else Array.tabulate(8)(j => i * 0.5f + j))
    val rows = (0L until 120L).map(rowOf)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.format("graft").option("chunkRows", "50").mode("overwrite").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.filter(col("payload").isNull).count() === 30)
    assert(back.filter(col("vec").isNotNull).count() === 80)
    // non-null values intact next to the nulls
    val r7 = back.filter(col("id") === 7L).collect()(0)
    assert(r7.getAs[Array[Byte]]("payload").toSeq ===
      Array.fill(8)(7.toByte).toSeq)
    assert(r7.getSeq[Float](2) === Array.tabulate(8)(j => 3.5f + j).toSeq)

    // the same rows through both rewrites — a compaction (decoded lanes
    // back into the encoder) and an UPDATE (visible internal rows back
    // into the encoder): NULLs keep their rows, non-null payloads and
    // vectors stay bit-exact
    val more = (120L until 180L).map(rowOf)
    spark.createDataFrame(spark.sparkContext.parallelize(more, 1), schema)
      .write.format("graft").option("chunkRows", "50").mode("append").save(d)
    type Cells = (Option[Seq[Byte]], Option[Seq[Int]])
    def bits(v: Iterable[Float]): Seq[Int] =
      v.map(java.lang.Float.floatToRawIntBits).toSeq
    val want: Map[Long, Cells] = (rows ++ more).map { r =>
      r.getLong(0) -> ((Option(r.getAs[Array[Byte]](1)).map(_.toSeq),
        Option(r.getAs[Array[Float]](2)).map(v => bits(v))))
    }.toMap
    def state(): Map[Long, Cells] =
      spark.read.format("graft").load(d).collect().map { r =>
        r.getLong(0) -> ((Option(r.getAs[Array[Byte]]("payload")).map(_.toSeq),
          Option(r.getSeq[Float](2)).map(v => bits(v))))
      }.toMap
    assert(state() === want)
    val (consumed, produced) = GraftMaintenance.compact(spark, d, minContainers = 2)
    assert(consumed === 2 && produced === 1)
    assert(state() === want, "compaction must keep NULLs and bit-exact values")
    val updated = GraftMaintenance.update(spark, d, "id % 5 = 1",
      Map("payload" -> "CAST(NULL AS BINARY)"))
    assert(updated === 36L)
    assert(state() === want.map { case (i, (p, v)) =>
      i -> ((if (i % 5 == 1) None else p, v)) },
      "update must keep NULLs and bit-exact values")
  }

  test("compaction preserves binary payloads and embeddings bit-exact") {
    val d = tmp("binflt-compact")
    val df = mediaDf(200).withColumn("vec",
      array((0 until 4).map(j => (col("doc_id") * (j + 1)).cast("float")): _*))
    (0 until 4).foreach { i =>
      df.filter(pmod(col("doc_id"), lit(4)) === i).coalesce(1)
        .write.format("graft").mode(if (i == 0) "overwrite" else "append")
        .save(d)
    }
    val before = spark.read.format("graft").load(d).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[Array[Byte]]("payload").toSeq, r.getSeq[Float](3))).toSet
    val (consumed, produced) = GraftMaintenance.compact(spark, d)
    assert(consumed === 4 && produced === 1)
    val after = spark.read.format("graft").load(d).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[Array[Byte]]("payload").toSeq, r.getSeq[Float](3))).toSet
    assert(after === before)
  }

  test("appends must match on binary/float-array kinds too") {
    import spark.implicits._
    val d = tmp("binflt-append")
    mediaDf(10).write.format("graft").mode("overwrite").save(d)
    val ex = intercept[Exception] {
      Seq((1L, "x", "notbinary")).toDF("doc_id", "kind", "payload")
        .write.format("graft").mode("append").save(d)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(ex).contains("schema mismatch"), s"got $ex")
  }
}
