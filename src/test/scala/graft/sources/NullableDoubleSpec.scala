package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.codecs.DoubleBits
import graft.engine.{SparkTestSession, TestDirs}

/** Round 7: DOUBLE columns (kind 5, order-preserving sortable-long
  * storage) and NULLABLE columns (per-chunk validity bitmaps) in the
  * graft table — the two engine-type gaps the round-6 verdict ranked
  * first (`events.value` had to launder through integer cents; real
  * ingest schemas admit null).
  */
class NullableDoubleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def graftScan(df: org.apache.spark.sql.DataFrame): GraftScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, "expected a BatchScanExec in:\n" +
      df.queryExecution.executedPlan.toString.take(800))
    scans.head.asInstanceOf[GraftScan]
  }

  private def tmp(tag: String): String =
    TestDirs.createTempDirectory(s"graft-$tag").toString

  // ------------------------------------------------------------- DoubleBits

  test("DoubleBits: order-preserving bijection incl. -0.0/0.0/±Inf/NaN") {
    val specials = Array(Double.NegativeInfinity, -Double.MaxValue, -1.5,
      -Double.MinPositiveValue, -0.0, 0.0, Double.MinPositiveValue, 1.5,
      Double.MaxValue, Double.PositiveInfinity, Double.NaN)
    // round trip is bit-exact for everything but NaN payloads (canonical
    // NaN round-trips as NaN)
    specials.foreach { d =>
      val back = DoubleBits.fromSortableLong(DoubleBits.toSortableLong(d))
      if (d.isNaN) assert(back.isNaN)
      else assert(java.lang.Double.doubleToRawLongBits(back) ===
        java.lang.Double.doubleToRawLongBits(d), s"round trip of $d")
    }
    // sortable-long order == java.lang.Double.compare order (so zone maps
    // and MIN/MAX pushdown over the mapped values rank like Spark does)
    val rnd = new scala.util.Random(7)
    val sample = specials ++ Array.fill(2000)(
      java.lang.Double.longBitsToDouble(rnd.nextLong())).filter(!_.isNaN) ++
      Array.fill(500)(rnd.nextDouble() * 2e3 - 1e3)
    val byDouble = sample.sortWith(java.lang.Double.compare(_, _) < 0)
    val byMapped = sample.sortBy(DoubleBits.toSortableLong)
    byDouble.lazyZip(byMapped).foreach { (a, b) =>
      assert(java.lang.Double.compare(a, b) == 0 || (a.isNaN && b.isNaN),
        s"order diverged: $a vs $b")
    }
  }

  // --------------------------------------------------------------- DOUBLE

  test("DOUBLE column: round trip incl. specials, schema, compression path") {
    import spark.implicits._
    val d = tmp("dbl-rt")
    val rows = Seq(
      (1L, 1.5), (2L, -2.25), (3L, 0.0), (4L, -0.0),
      (5L, Double.MaxValue), (6L, -Double.MaxValue),
      (7L, Double.PositiveInfinity), (8L, Double.NegativeInfinity),
      (9L, Double.NaN), (10L, Double.MinPositiveValue))
    rows.toDF("id", "v").write.format("graft").mode("overwrite").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.schema("v").dataType === DoubleType)
    val got = back.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, v) =>
      val b = got(id)
      if (v.isNaN) assert(b.isNaN, s"id $id")
      else assert(java.lang.Double.doubleToRawLongBits(b) ===
        java.lang.Double.doubleToRawLongBits(v), s"id $id: wrote $v read $b")
    }
  }

  test("DOUBLE pushdown: comparisons prune chunks via sortable zone maps") {
    import spark.implicits._
    val d = tmp("dbl-push")
    // monotone in id so the 4 chunks' double zone maps are disjoint:
    // values -100.0 .. 299.0 step 1, chunks of 100
    val df = spark.range(400).select(col("id"),
      (col("id").cast("double") - lit(100.0)).as("v"))
    df.coalesce(1).write.format("graft").option("chunkRows", "100")
      .mode("overwrite").save(d)
    val filtered = spark.read.format("graft").load(d).filter(col("v") > 250.5)
    filtered.collect()
    assert(graftScan(filtered).description().contains("GreaterThan(v"),
      s"double filter not pushed: ${graftScan(filtered).description()}")
    assert(filtered.count() === df.filter(col("v") > 250.5).count())
    val admitted = graftScan(filtered).planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
    assert(admitted === 1, s"v > 250.5 lives in the last chunk, got $admitted")
    // equality on 0.0 must match the stored -0.0 too (SQL: -0.0 = 0.0)
    val dz = tmp("dbl-zero")
    spark.range(4).select(col("id"),
      when(col("id") === 0, lit(-0.0)).otherwise(lit(0.0)).as("v"))
      .write.format("graft").mode("overwrite").save(dz)
    assert(spark.read.format("graft").load(dz)
      .filter(col("v") === 0.0).count() === 4)
    // NaN constants stay UNPUSHED (Spark's NaN ordering is its own);
    // results still correct through Spark's residual filter
    val dn = tmp("dbl-nan")
    Seq((1L, 1.0), (2L, Double.NaN), (3L, 2.0)).toDF("id", "v")
      .write.format("graft").mode("overwrite").save(dn)
    val nanEq = spark.read.format("graft").load(dn)
      .filter(col("v").cast("double") === lit(Double.NaN))
    assert(nanEq.count() === 1)
    val nanGt = spark.read.format("graft").load(dn)
      .filter(col("v") > lit(1.5))
    assert(nanGt.count() === 2, "NaN ranks above every value in Spark")
  }

  test("DOUBLE MIN/MAX/COUNT answered from manifests in double type") {
    import spark.implicits._
    val d = tmp("dbl-agg")
    Seq((1L, 3.5), (2L, -7.25), (3L, 11.0), (4L, 0.5))
      .toDF("id", "v").write.format("graft").mode("overwrite").save(d)
    val agg = spark.read.format("graft").load(d)
      .agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
    val scans = agg.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty && scans.head.isInstanceOf[GraftAggScan],
      "ungrouped COUNT/MIN/MAX over a double column must plan the " +
        "manifest-answered scan:\n" + agg.queryExecution.executedPlan)
    val r = agg.collect()(0)
    assert(r.getLong(0) === 4L && r.getDouble(1) === -7.25 &&
      r.getDouble(2) === 11.0)
  }

  // -------------------------------------------------------------- NULLABLE

  private def nullableDf() = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", LongType, nullable = true),
      StructField("tag", StringType, nullable = true),
      StructField("w", DoubleType, nullable = true),
      StructField("n", IntegerType, nullable = true)))
    val rows = (0L until 500L).map { i =>
      Row(i,
        if (i % 7 == 0) null else java.lang.Long.valueOf(i * 3),
        if (i % 5 == 0) null else s"tag${i % 11}",
        if (i % 3 == 0) null else java.lang.Double.valueOf(i / 10.0 - 20.0),
        if (i % 13 == 0) null else java.lang.Integer.valueOf((i % 50).toInt))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("nullable columns: nulls round-trip through write + read") {
    val d = tmp("null-rt")
    val df = nullableDf()
    df.write.format("graft").mode("overwrite").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.schema("score").nullable && back.schema("tag").nullable &&
      back.schema("w").nullable && back.schema("n").nullable)
    assert(!back.schema("id").nullable,
      "declared non-nullable column must read back non-nullable")
    assert(back.count() === 500)
    // exact parity, nulls included
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    // null counts per column survive
    def nulls(c: String, f: org.apache.spark.sql.DataFrame) =
      f.filter(col(c).isNull).count()
    Seq("score", "tag", "w", "n").foreach { c =>
      assert(nulls(c, back) === nulls(c, df), s"null count of $c")
    }
  }

  test("nullable columns: IS NULL / IS NOT NULL pushed and exact; " +
      "comparisons never match NULL rows") {
    val d = tmp("null-flt")
    val df = nullableDf()
    df.write.format("graft").mode("overwrite").save(d)
    val back = spark.read.format("graft").load(d)

    val isNull = back.filter(col("score").isNull)
    isNull.collect()
    assert(graftScan(isNull).description().contains("IsNull(score)"),
      s"IsNull not pushed: ${graftScan(isNull).description()}")
    assert(isNull.count() === df.filter(col("score").isNull).count())

    val notNull = back.filter(col("tag").isNotNull)
    notNull.collect()
    assert(graftScan(notNull).description().contains("IsNotNull(tag)"))
    assert(notNull.count() === df.filter(col("tag").isNotNull).count())

    // value comparisons on nullable columns: SQL three-valued logic —
    // NULL rows never pass; parity against Spark's own evaluation
    Seq(
      col("score") > 600L, col("w") <= 0.0, col("n") === 7,
      col("tag") === "tag3").foreach { p =>
      assert(back.filter(p).count() === df.filter(p).count(), s"pred $p")
    }
    // aggregates skip nulls identically
    val a = back.agg(sum("score"), avg("w"), count(col("n"))).collect()(0)
    val b = df.agg(sum("score"), avg("w"), count(col("n"))).collect()(0)
    assert(a === b)
  }

  test("null counts prune chunks: IS NOT NULL skips all-null chunks, IS NULL skips fully-present ones") {
    val d = tmp("null-prune")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", LongType, nullable = true)))
    // chunks of 100 rows: c0-c1 all-null, c2 half-null, c3-c5 no nulls
    val rows = (0L until 600L).map { i =>
      Row(i, if (i < 200 || (i < 300 && i % 2 == 0)) null
             else java.lang.Long.valueOf(i))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.format("graft").option("chunkRows", "100")
      .mode("overwrite").save(d)
    def planned(f: org.apache.spark.sql.DataFrame): Int =
      graftScan(f).planInputPartitions()
        .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
    val base = spark.read.format("graft").option("maxSplitBytes", "1").load(d)
    base.collect()
    assert(planned(base) === 6, "expected 6 chunk-granular input splits")
    val notNull = base.filter(col("score").isNotNull)
    assert(notNull.count() === 350)
    assert(planned(notNull) === 4,
      s"IS NOT NULL must skip the 2 all-null chunks, decoded ${planned(notNull)}")
    val isNull = base.filter(col("score").isNull)
    assert(isNull.count() === 250)
    assert(planned(isNull) === 3,
      s"IS NULL must skip the 3 fully-present chunks, decoded ${planned(isNull)}")
    // the mixed chunk stays admitted by BOTH and the split is exact
    assert(isNull.count() + notNull.count() === base.count())
  }

  test("nullable MIN/MAX pushdown ignores nulls; all-null column yields null") {
    val d = tmp("null-agg")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = true),
      StructField("empty", LongType, nullable = true)))
    val rows = (0L until 100L).map { i =>
      Row(i, if (i < 50) null else java.lang.Long.valueOf(i), null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.format("graft").mode("overwrite").save(d)
    val agg = spark.read.format("graft").load(d)
      .agg(min("v").as("mn"), max("v").as("mx"), min("empty").as("me"))
    val scans = agg.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty && scans.head.isInstanceOf[GraftAggScan],
      "manifest-answered MIN/MAX must survive nullable columns:\n" +
        agg.queryExecution.executedPlan)
    val r = agg.collect()(0)
    assert(r.getLong(0) === 50L && r.getLong(1) === 99L,
      "placeholder values of null rows must not leak into MIN/MAX")
    assert(r.isNullAt(2), "an all-null column has no MIN")
  }

  test("COUNT(col) answered from manifests: rows minus per-chunk null counts") {
    val d = tmp("null-count-agg")
    val df = nullableDf()
    df.write.format("graft").option("chunkRows", "64").mode("overwrite").save(d)
    val back = spark.read.format("graft").load(d)
    val agg = back.agg(
      count(col("score")).as("cs"), count(col("tag")).as("ct"),
      count(col("w")).as("cw"), count(col("n")).as("cn"),
      count(col("id")).as("ci"), count(lit(1)).as("all"))
    val scans = agg.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty && scans.head.isInstanceOf[GraftAggScan],
      "ungrouped COUNT(col) must plan the manifest-answered scan:\n" +
        agg.queryExecution.executedPlan)
    assert(scans.head.description().contains("CountAgg"),
      s"pushed aggregates must include CountAgg: ${scans.head.description()}")
    val r = agg.collect()(0)
    val e = df.agg(count(col("score")), count(col("tag")), count(col("w")),
      count(col("n")), count(col("id")), count(lit(1))).collect()(0)
    (0 until 6).foreach(i => assert(r.getLong(i) === e.getLong(i),
      s"count column $i: got ${r.getLong(i)}, want ${e.getLong(i)}"))
    // appends keep the counts exact (second generation of manifests)
    df.write.format("graft").mode("append").save(d)
    val r2 = spark.read.format("graft").load(d)
      .agg(count(col("score")), count(col("id"))).collect()(0)
    assert(r2.getLong(0) === 2 * e.getLong(0) && r2.getLong(1) === 2 * e.getLong(4))
    // count(DISTINCT col) must NOT push — stays a full scan, stays exact
    val distinctAgg = back.agg(countDistinct(col("tag")))
    val dScans = distinctAgg.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(dScans.forall(!_.isInstanceOf[GraftAggScan]),
      "COUNT(DISTINCT) must not be manifest-answered")
    assert(distinctAgg.collect()(0).getLong(0) ===
      df.agg(countDistinct(col("tag"))).collect()(0).getLong(0))
  }

  test("non-nullable schema still rejects null writes with a named column") {
    val d = tmp("null-reject")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val rows = Seq(Row(1L, "a"), Row(2L, null))
    val ex = intercept[Exception] {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.format("graft").mode("overwrite").save(d)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(ex).contains("tag"), s"got $ex")
    // a null ELEMENT of a float array is rejected too (a dense vector
    // has no slot for it; it would read back as 0.0f)
    val vecSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = true), nullable = true)))
    val ex2 = intercept[Exception] {
      spark.createDataFrame(spark.sparkContext.parallelize(
          Seq(Row(1L, Seq(1.0f, 2.0f)), Row(2L, Seq(1.0f, null))), 1), vecSchema)
        .write.format("graft").mode("overwrite").save(tmp("null-elem"))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex2).exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("'vec'")), s"got $ex2")
  }

  test("appends adopt the table's nullability; nulls survive compaction") {
    val d = tmp("null-compact")
    val df = nullableDf()
    // many tiny epochs -> compactable
    (0 until 5).foreach { i =>
      df.filter(col("id") % 5 === i).coalesce(1)
        .write.format("graft").mode(if (i == 0) "overwrite" else "append")
        .save(d)
    }
    val before = spark.read.format("graft").load(d).collect()
      .map(_.toSeq).toSet
    val (consumed, produced) =
      GraftMaintenance.compact(spark, d, minContainers = 2)
    assert(consumed >= 2 && produced >= 1,
      s"expected a fold, got consumed=$consumed produced=$produced")
    val after = spark.read.format("graft").load(d)
    assert(after.collect().map(_.toSeq).toSet === before,
      "rows (nulls included) must be identical across compaction")
    assert(after.filter(col("score").isNull).count() ===
      df.filter(col("score").isNull).count(),
      "compaction must not turn NULLs into placeholder values")
  }
}
