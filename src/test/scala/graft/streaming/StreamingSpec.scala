package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ColumnarEngine, SourceTable, SparkTestSession, TestDirs}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming encode: micro-batches land as resumable encode layouts, decode matches input") {
    import spark.implicits._
    val srcDir = TestDirs.createTempDirectory("graft-stream-src").toString
    val outDir = TestDirs.createTempDirectory("graft-stream-out").toString
    // stage two "arrivals" of source files as parquet
    val all = SourceTable.synthesize(spark, 400, 2)
    all.filter($"path".substr(lit(-7), lit(1)) < "5").write.parquet(s"$srcDir/wave1")
    all.write.mode("overwrite").parquet(s"$srcDir/wave1") // keep it simple: one wave
    val stream = spark.readStream
      .schema(all.schema)
      .parquet(s"$srcDir/*")
      .as[graft.engine.SourceFile]
    val q = StreamingIngest.encodeStream(stream, outDir, partsPerBatch = 2)
    q.awaitTermination(120000)
    // every batch dir decodes; union matches the staged input
    val batchDirs = new java.io.File(outDir).listFiles()
      .filter(_.getName.startsWith("batch-")).map(_.toString)
    assert(batchDirs.nonEmpty, "no batch output produced")
    val decoded = batchDirs.map(ColumnarEngine.decode(spark, _)).reduce(_ union _)
    assert(decoded.count() === 400)
    val orig = ColumnarEngine.derive(all)
    assert(decoded.except(orig).isEmpty)
  }

  test("native streaming sink: writeStream.format(\"graft\") appends epochs, reads back exact") {
    import spark.implicits._
    val srcDir = TestDirs.createTempDirectory("graft-sink-src").toString
    val outDir = TestDirs.createTempDirectory("graft-sink-out").toString
    val ckpt = TestDirs.createTempDirectory("graft-sink-ckpt").toString
    val all = SourceTable.synthesize(spark, 200, 2)
    val derived = ColumnarEngine.derive(all)
    derived.write.parquet(s"$srcDir/data")
    val stream = spark.readStream
      .schema(derived.schema).parquet(s"$srcDir/data")
    val q = stream.writeStream.format("graft")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val back = spark.read.format("graft").load(outDir)
    assert(back.count() === 200)
    assert(back.except(derived.toDF()).isEmpty, "sink output must match input")
    // a second wave appends (new epoch), nothing is overwritten
    ColumnarEngine.derive(SourceTable.synthesize(spark, 200, 2)).toDF()
      .withColumn("path", concat_ws("/", lit("w2"), col("path")))
      .write.mode("append").parquet(s"$srcDir/data")
    val q2 = spark.readStream.schema(derived.schema).parquet(s"$srcDir/data")
      .writeStream.format("graft")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    assert(spark.read.format("graft").load(outDir).count() === 400,
      "second micro-batch must append, not replace")
  }

  test("streaming source: readStream.format(\"graft\") tails appends exactly once") {
    import spark.implicits._
    val tableDir = TestDirs.createTempDirectory("graft-src-table").toString
    val ckpt = TestDirs.createTempDirectory("graft-src-ckpt").toString
    val outDir = TestDirs.createTempDirectory("graft-src-out").toString
    val wave1 = (0 until 120).map(i => (i.toLong, s"cat${i % 3}", i * 7L))
      .toDF("id", "category", "score")
    wave1.write.format("graft").option("chunkRows", "50").mode("append").save(tableDir)
    def drain(): Long = {
      // AvailableNow: process everything committed since the checkpoint,
      // then stop — each call is one "tail catch-up" (parquet sink: the
      // memory sink can't recover a checkpoint)
      val q = spark.readStream.format("graft").load(tableDir)
        .filter(col("category") === "cat1") // pushed into the stream scan
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      spark.read.parquet(outDir).count()
    }
    val first = drain()
    assert(first === wave1.filter(col("category") === "cat1").count(), s"got $first")
    // an append lands; the tail emits ONLY the new manifests' rows
    val wave2 = (200 until 260).map(i => (i.toLong, s"cat${i % 3}", i * 7L))
      .toDF("id", "category", "score")
    wave2.write.format("graft").mode("append").save(tableDir)
    val second = drain()
    assert(second === first + wave2.filter(col("category") === "cat1").count(),
      s"expected exactly the appended cat1 rows, got ${second - first} new")
    // no appends -> no new rows (offsets are the manifest-name set)
    assert(drain() === second, "an idle tail must emit nothing")
    // the emitted rows are the table's rows, not transformed
    val emitted = spark.read.parquet(outDir).select("id", "category", "score")
    val expected = wave1.union(wave2).filter(col("category") === "cat1")
    assert(emitted.except(expected).isEmpty && expected.except(emitted).isEmpty)
  }

  test("streaming sink + tail carry ALL round-7 kinds (nullable double/binary/float-array) exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val srcDir = TestDirs.createTempDirectory("graft-kinds-src").toString
    val tableDir = TestDirs.createTempDirectory("graft-kinds-table").toString
    val sinkCkpt = TestDirs.createTempDirectory("graft-kinds-sinkck").toString
    val tailCkpt = TestDirs.createTempDirectory("graft-kinds-tailck").toString
    val tailOut = TestDirs.createTempDirectory("graft-kinds-tailout").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true),
      StructField("b", BinaryType, nullable = true),
      StructField("e", ArrayType(FloatType, containsNull = false), nullable = true)))
    def wave(lo: Int, hi: Int) = {
      val rnd = new java.util.Random(lo)
      val rows = (lo until hi).map { i =>
        Row(i.toLong,
          if (i % 5 == 0) null else java.lang.Double.valueOf(i * 0.5 - 9.0),
          if (i % 4 == 0) null else Array.fill(3 + i % 3)(rnd.nextInt().toByte),
          if (i % 7 == 0) null else Array.fill(4)(rnd.nextFloat()))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    }
    def sinkWave(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      df.write.parquet(s"$srcDir/$tag")
      val q = spark.readStream.schema(schema).parquet(s"$srcDir/*")
        .writeStream.format("graft")
        .option("path", tableDir)
        .option("checkpointLocation", sinkCkpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    def drainTail(): Unit = {
      val q = spark.readStream.format("graft").load(tableDir)
        .writeStream.outputMode("append").format("parquet")
        .option("path", tailOut)
        .option("checkpointLocation", tailCkpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // rows normalized for set comparison (arrays are reference-equal only)
    def norm(df: org.apache.spark.sql.DataFrame): Set[(Long, Any, Any, Any)] =
      df.collect().map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) null else r.getDouble(1),
          if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2).toSeq,
          if (r.isNullAt(3)) null else r.getSeq[Float](3).toList)
      }.toSet

    sinkWave(wave(0, 150), "w1")
    val back1 = spark.read.format("graft").load(tableDir)
    assert(back1.schema("v").nullable && back1.schema("b").nullable)
    assert(norm(back1) === norm(wave(0, 150)), "sink wave 1 round-trip")
    drainTail()
    assert(norm(spark.read.parquet(tailOut)) === norm(wave(0, 150)),
      "tail emits wave 1 exactly")
    // second sink wave appends a new epoch; the tail emits ONLY its rows
    sinkWave(wave(150, 220), "w2")
    drainTail()
    assert(norm(spark.read.parquet(tailOut)) ===
      norm(wave(0, 150)) ++ norm(wave(150, 220)),
      "tail emits exactly the appended epoch, nulls and arrays intact")
  }

  test("streaming exact dedup drops repeated texts within the watermark horizon") {
    import spark.implicits._
    val dir = TestDirs.createTempDirectory("graft-dedup-stream").toString
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    Seq(
      (0L, ts(0), "alpha text"), (1L, ts(1), "alpha text"), // dup of 0
      (2L, ts(2), "beta text"), (3L, ts(3), "gamma text"),
      (4L, ts(4), "beta text") // dup of 2
    ).toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val deduped = StreamingIngest.dedupStream(stream, "ts", "text", "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("dedup_stream").select("text")
      .as[String].collect().sorted
    assert(got.toSeq === Seq("alpha text", "beta text", "gamma text"),
      "exactly one survivor per distinct text")
  }

  test("streaming sessionization: GroupState carries open sessions across micro-batches") {
    import spark.implicits._
    val dir = TestDirs.createTempDirectory("graft-sess").toString
    def ts(min: Long) = java.sql.Timestamp.from(
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00").toInstant.plusSeconds(min * 60))
    // three files = three micro-batches (maxFilesPerTrigger=1)
    Seq((1L, ts(0), 10L, 1.0), (1L, ts(5), 11L, 2.0), (2L, ts(0), 12L, 5.0))
      .toDF("user_id", "ts", "event_id", "value").repartition(1)
      .write.parquet(s"$dir/b1")
    // user 1 returns past the 30-min gap -> closes their first session;
    // user 99's far-future event drives the watermark forward
    Seq((1L, ts(90), 20L, 4.0), (99L, ts(600), 21L, 0.0))
      .toDF("user_id", "ts", "event_id", "value").repartition(1)
      .write.parquet(s"$dir/b2")
    // watermark (t=600min - 10min lateness) now exceeds every open
    // session's end+gap -> event-time timeouts emit them this batch
    Seq((99L, ts(1200), 22L, 0.0))
      .toDF("user_id", "ts", "event_id", "value").repartition(1)
      .write.parquet(s"$dir/b3")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/b*")
    val q = Sessionize.sessionizeStream(stream, gapMinutes = 30, lateness = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("sessions").filter($"user_id" < 50)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2.getTime)).toSeq
    assert(got === Seq(
      (1L, ts(0), ts(5), 2L, 300L),   // closed by the gap, spans batch 1
      (1L, ts(90), ts(90), 1L, 400L), // closed by event-time timeout
      (2L, ts(0), ts(0), 1L, 500L)),  // closed by event-time timeout
      s"got $got")
  }

  test("batch sessionize: hot user owning 90% of events, out-of-order input, no per-group buffering") {
    import spark.implicits._
    def ldt(min: Long) = java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusMinutes(min)
    val rnd = new scala.util.Random(11)
    // user 7 owns 90% of events (bot-grade skew); events arrive SHUFFLED
    val evs = rnd.shuffle(
      (0 until 900).map(i => (7L, ldt(i * 5L), 1000L + i, 0.01 * i)) ++
      (0 until 100).map(i => (i % 10 + 100L, ldt(i * 7L), 2000L + i, 1.5)))
    val df = evs.toDF("user_id", "ts", "event_id", "value").repartition(8)
    val got = Sessionize.sessionize(df, gapMinutes = 30).collect()
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events, s.value_cents))
      .sortBy(x => (x._1, x._2.toString)).toSeq
    // oracle: plain in-memory sort + gap split
    val want = evs.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e._2.toString, e._3))
      val out = scala.collection.mutable.ArrayBuffer[(Long, java.time.LocalDateTime, java.time.LocalDateTime, Long, Long)]()
      var st: java.time.LocalDateTime = null
      var en: java.time.LocalDateTime = null
      var n = 0L
      var c = 0L
      for ((_, ts, _, v) <- sorted) {
        val cv = math.floor(math.abs(v * 100) + 0.5).toLong * (if (v < 0) -1 else 1)
        if (st == null) { st = ts; en = ts; n = 1; c = cv }
        else if (java.time.Duration.between(en, ts).toMinutes > 30) {
          out += ((uid, st, en, n, c)); st = ts; en = ts; n = 1; c = cv
        } else { en = ts; n += 1; c += cv }
      }
      if (st != null) out += ((uid, st, en, n, c))
      out
    }.sortBy(x => (x._1, x._2.toString))
    assert(got === want)
    // scale gate: the plan must be exchange + in-partition SORT feeding
    // mapPartitions — never an object-hash/sort aggregate that buffers a
    // group (the hot user's whole history) in memory
    val plan = Sessionize.sessionize(df).queryExecution.executedPlan.toString
    assert(plan.contains("Sort") && !plan.toLowerCase.contains("aggregate"),
      s"expected secondary-sort shape, got:\n${plan.take(800)}")
  }

  test("cents rounding is half-away-from-zero, matching the SQL oracle") {
    assert(Sessionize.cents(2.345) === 235L)   // 234.5 -> 235
    assert(Sessionize.cents(-2.345) === -235L) // -234.5 -> -235 (math.round says -234)
    assert(Sessionize.cents(-0.025) === -3L)
    assert(Sessionize.cents(0.0) === 0L)
    assert(Sessionize.cents(-1.0) === -100L)
  }

  test("watermarked windowed aggregation over the events stream (memory sink)") {
    // stage the single-file table into a directory (streaming sources
    // monitor directories, not files)
    val evDir = TestDirs.createTempDirectory("graft-events").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(evDir)
    val events = spark.readStream
      .schema(spark.read.parquet(evDir).schema)
      .parquet(evDir)
    val agg = StreamingIngest.windowedEventStats(events, "1 hour", "10 minutes")
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ev_stats")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append mode only emits windows the watermark has closed; verify the
    // emitted prefix agrees with the batch computation
    val got = spark.table("ev_stats")
    val batch = StreamingIngest.windowedEventStats(
      spark.read.parquet(evDir))
    assert(got.count() > 0, "no closed windows emitted")
    assert(got.except(batch).isEmpty, "streaming windows disagree with batch computation")
  }
}
