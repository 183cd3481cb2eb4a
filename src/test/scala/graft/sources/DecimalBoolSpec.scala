package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ContainerIO, Manifests, SparkTestSession, TestDirs}

/** DECIMAL kind 8 (unscaled long, p <= 18) and BOOLEAN kind 9 (0/1
  * through the stats-selected long codecs) — round 8.
  */
class DecimalBoolSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def graftScan(df: org.apache.spark.sql.DataFrame): GraftScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, "expected a BatchScanExec")
    scans.head.asInstanceOf[GraftScan]
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("amount", DecimalType(12, 2), nullable = false),
    StructField("flag", BooleanType, nullable = false)))

  private def write(rows: Seq[Row], sorted: Boolean = false): String = {
    val d = TestDirs.createTempDirectory("graft-decbool").toString
    val w = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      .write.format("graft").option("chunkRows", "100")
    (if (sorted) w.option("sortBy", "amount") else w)
      .mode("overwrite").save(d)
    d
  }

  private def bd(cents: Long) =
    new java.math.BigDecimal(java.math.BigInteger.valueOf(cents), 2)

  private lazy val dir = write((0 until 400).map(i =>
    Row(i.toLong, bd(i * 25L), i % 3 == 0)), sorted = true)

  test("decimal + boolean round-trip exactly (schema, values, nullability)") {
    val back = spark.read.format("graft").load(dir)
    assert(back.schema("amount").dataType === DecimalType(12, 2))
    assert(back.schema("flag").dataType === BooleanType)
    val rows = back.orderBy("id").collect()
    assert(rows.length === 400)
    assert(rows(3).getDecimal(1) === bd(75).setScale(2))
    assert(rows(3).getBoolean(2) === true)
    assert(rows(4).getBoolean(2) === false)
  }

  test("decimal filters push down and prune chunks (unscaled zone maps)") {
    // amounts are sorted: chunkRows=100 gives 4 range-disjoint chunks
    val df = spark.read.format("graft").load(dir)
      .filter(expr("amount >= CAST(75.00 AS DECIMAL(12,2))"))
    assert(df.count() === 100)
    val scan = graftScan(df)
    assert(scan.description().contains("amount"),
      s"decimal filter not pushed: ${scan.description()}")
    assert(scan.planInputPartitions().map(_.asInstanceOf[GraftInputPartition])
      .map(_.chunks.size).sum <= 2,
      "range-disjoint chunks below the cut must be pruned")
    // a constant FINER than the scale still prunes correctly: x > 10.005
    // has no exact grid point; floor/ceil translation keeps it exact
    val fine = spark.read.format("graft").load(dir)
      .filter(col("amount") > lit(new java.math.BigDecimal("10.005")))
    assert(fine.count() ===
      (0 until 400).count(i => i * 25L > 1000L))
    // an IN member beyond long range equals no stored value: it is
    // dropped and the rest of the IN still pushes
    val layout = GraftDataSource.layoutOf(schema)
    val in = org.apache.spark.sql.sources.In("amount",
      Array[Any](bd(75), new java.math.BigDecimal("1e30")))
    val pushed = GraftDataSource.pushdown(in, layout)
    val t = pushed.map(_._1).orNull
    assert(t === org.apache.spark.sql.sources.In("amount",
      Array[Any](java.lang.Long.valueOf(75L))), t)
    assert(pushed.map(_._2).collect { case LongIn(_, vs) => vs.toSeq } === Some(Seq(75L)))
  }

  test("boolean equality pushes down; IS NULL semantics on nullable cols") {
    val df = spark.read.format("graft").load(dir).filter(col("flag") === true)
    assert(df.count() === 134) // ceil(400/3)
    // nullable decimal + boolean
    val nSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("amt", DecimalType(10, 2), nullable = true),
      StructField("ok", BooleanType, nullable = true)))
    val d2 = TestDirs.createTempDirectory("graft-decbool-n").toString
    spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 90).map(i => Row(i.toLong,
          if (i % 5 == 0) null else bd(i * 10L),
          if (i % 7 == 0) null else java.lang.Boolean.valueOf(i % 2 == 0))), 1),
      nSchema).write.format("graft").mode("overwrite").save(d2)
    val back = spark.read.format("graft").load(d2)
    assert(back.filter(col("amt").isNull).count() === 18)
    assert(back.filter(col("ok").isNull).count() === 90 / 7 + 1)
    assert(back.filter(col("ok") === false).count() ===
      (0 until 90).count(i => i % 7 != 0 && i % 2 != 0))
    val s = back.filter(col("amt").isNotNull)
      .agg(sum(col("amt"))).collect().head.getDecimal(0)
    val wantCents = (0 until 90).filter(_ % 5 != 0).map(_ * 10L).sum
    assert(s.compareTo(bd(wantCents)) === 0, s"sum $s != cents $wantCents")
  }

  test("decimal MIN/MAX + COUNT answered from manifests (agg pushdown)") {
    val agg = spark.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"), min("amount").as("mn"), max("amount").as("mx"))
    val scans = agg.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty && scans.head.isInstanceOf[GraftAggScan],
      "decimal MIN/MAX must plan the manifest-answered scan")
    val r = agg.collect().head
    assert(r.getLong(0) === 400L)
    assert(r.getDecimal(1) === bd(0).setScale(2))
    assert(r.getDecimal(2) === bd(399 * 25L).setScale(2))
  }

  test("compaction preserves decimal/boolean exactly") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-decbool-c").toString
    (0 until 3).foreach { g =>
      spark.createDataFrame(spark.sparkContext.parallelize(
          (0 until 40).map(i => Row((g * 40 + i).toLong,
            bd((g * 40 + i) * 7L), (g + i) % 2 == 0)), 1), schema)
        .write.format("graft").mode("append").save(d)
    }
    val before = spark.read.format("graft").load(d).orderBy("id").collect()
    val (consumed, produced) = GraftMaintenance.compact(spark, d)
    assert(consumed === 3 && produced === 1)
    val after = spark.read.format("graft").load(d).orderBy("id").collect()
    assert(after.toSeq === before.toSeq)
    assert(spark.read.format("graft").load(d).schema("amount").dataType ===
      DecimalType(12, 2))
  }

  test("boolean columns bit-pack: encoded size is far below 1 byte per row") {
    // flag: 400 rows; stats-selected codec (bit-pack/RLE) over 0/1
    // should land well under 400 bytes total
    val df = graft.engine.ColumnarEngine.manifests(spark, dir)
    val enc = df.selectExpr("explode(columns) AS c").select("c.*")
      .filter(col("column") === "flag")
      .agg(sum("encodedBytes")).collect().head.getLong(0)
    assert(enc < 400L, s"boolean column encoded to $enc bytes for 400 rows")
  }

  test("precision > 18 is rejected with a clear error") {
    val wide = StructType(Seq(
      StructField("x", DecimalType(20, 2), nullable = false)))
    val d = TestDirs.createTempDirectory("graft-decbool-w").toString
    val ex = intercept[Exception] {
      spark.createDataFrame(spark.sparkContext.parallelize(
          Seq(Row(new java.math.BigDecimal("1.00"))), 1), wide)
        .write.format("graft").mode("overwrite").save(d)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(ex).contains("precision <= 18"))
  }
}
