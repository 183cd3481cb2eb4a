package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.codecs.FloatBits
import graft.engine.{SparkTestSession, TestDirs}

/** FLOAT kind 10 (round 9): 32-bit scalar through the kind-2 narrow path
  * behind the order-preserving sortable-int mapping — the kind-5 pattern
  * at half width. Zone maps, pushed range filters (Float constants
  * pre-translated to sortable ints, ±0.0 expanding to both storage
  * points), manifest-answered MIN/MAX, compaction, and DELETE all
  * inherit.
  */
class FloatScalarSpec extends AnyFunSuite {
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
    StructField("score", FloatType, nullable = false)))

  private def write(rows: Seq[Row], sorted: Boolean = false): String = {
    val d = TestDirs.createTempDirectory("graft-f32").toString
    val w = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.format("graft").option("chunkRows", "100")
    (if (sorted) w.option("sortBy", "score") else w)
      .mode("overwrite").save(d)
    d
  }

  private lazy val dir = write(
    (0 until 400).map(i => Row(i.toLong, i * 0.25f)), sorted = true)

  test("the sortable-int mapping is an order-preserving bijection") {
    val vals = Seq(Float.NegativeInfinity, -1e30f, -1.5f, -Float.MinPositiveValue,
      -0.0f, 0.0f, Float.MinPositiveValue, 1.5f, 1e30f, Float.PositiveInfinity)
    vals.foreach(v => assert(
      java.lang.Float.compare(FloatBits.fromSortableInt(FloatBits.toSortableInt(v)), v) === 0,
      s"round-trip $v"))
    vals.sliding(2).foreach { case Seq(a, b) =>
      assert(FloatBits.toSortableInt(a) < FloatBits.toSortableInt(b),
        s"order $a < $b")
    }
    // NaN canonicalizes and sorts above +Infinity (Spark's total order)
    assert(FloatBits.fromSortableInt(FloatBits.toSortableInt(Float.NaN)).isNaN)
    assert(FloatBits.toSortableInt(Float.NaN) >
      FloatBits.toSortableInt(Float.PositiveInfinity))
  }

  test("the mapping sorts 10k random bit patterns exactly like " +
    "Float.compare (NaNs canonicalized)") {
    val rnd = new java.util.Random(77)
    val sample = Array.fill(10000)(
      java.lang.Float.intBitsToFloat(rnd.nextInt()))
    sample.foreach { f =>
      val back = FloatBits.fromSortableInt(FloatBits.toSortableInt(f))
      if (f.isNaN) assert(back.isNaN)
      else assert(java.lang.Float.compare(back, f) === 0, s"round-trip $f")
    }
    val byMapped = sample.sortBy(FloatBits.toSortableInt)
    val byCompare = sample.sortWith((a, b) => java.lang.Float.compare(a, b) < 0)
    byMapped.lazyZip(byCompare).foreach { (a, b) =>
      assert(java.lang.Float.compare(a, b) == 0 || (a.isNaN && b.isNaN),
        s"order diverged at ($a, $b)")
    }
  }

  test("float scalar round-trips exactly, including special values") {
    val d = write(Seq(
      Row(0L, -0.0f), Row(1L, 0.0f), Row(2L, Float.NaN),
      Row(3L, Float.PositiveInfinity), Row(4L, Float.NegativeInfinity),
      Row(5L, 3.14159f), Row(6L, -2.5e-38f)))
    val back = spark.read.format("graft").load(d)
    assert(back.schema("score").dataType === FloatType)
    val rows = back.orderBy("id").collect()
    assert(java.lang.Float.floatToIntBits(rows(0).getFloat(1)) ===
      java.lang.Float.floatToIntBits(-0.0f), "-0.0f must keep its sign bit")
    assert(rows(1).getFloat(1) === 0.0f)
    assert(rows(2).getFloat(1).isNaN)
    assert(rows(3).getFloat(1) === Float.PositiveInfinity)
    assert(rows(4).getFloat(1) === Float.NegativeInfinity)
    assert(rows(5).getFloat(1) === 3.14159f)
    assert(rows(6).getFloat(1) === -2.5e-38f)
  }

  test("float range filters push down and prune chunks (sortable zone maps)") {
    // scores sorted: chunkRows=100 gives 4 range-disjoint chunks
    val df = spark.read.format("graft").load(dir)
      .filter(col("score") >= 75.0f)
    assert(df.count() === 100)
    val scan = graftScan(df)
    assert(scan.description().contains("score"),
      s"float filter not pushed: ${scan.description()}")
    assert(scan.planInputPartitions().map(_.asInstanceOf[GraftInputPartition])
      .map(_.chunks.size).sum <= 2,
      "range-disjoint chunks below the cut must be pruned")
    assert(spark.read.format("graft").load(dir)
      .filter(col("score") === 10.25f).count() === 1)
    assert(spark.read.format("graft").load(dir)
      .filter(col("score").isin(1.25f, 2.5f, 9999.0f)).count() === 2)
  }

  test("±0.0f: SQL equality spans both storage points") {
    val d = write(Seq(Row(0L, -0.0f), Row(1L, 0.0f), Row(2L, 1.0f)))
    val r = spark.read.format("graft").load(d)
    assert(r.filter(col("score") === 0.0f).count() === 2,
      "score = 0.0 must match -0.0f and 0.0f")
    assert(r.filter(col("score") === -0.0f).count() === 2)
    assert(r.filter(col("score") > 0.0f).count() === 1)
    assert(r.filter(col("score") >= 0.0f).count() === 3)
    assert(r.filter(col("score") < 0.0f).count() === 0)
    assert(r.filter(col("score") <= 0.0f).count() === 2)
  }

  test("NaN constants stay residual but still answer correctly") {
    val d = write(Seq(Row(0L, Float.NaN), Row(1L, 1.0f)))
    val r = spark.read.format("graft").load(d)
    // Spark's total order: NaN equals itself, sorts above everything
    assert(r.filter(col("score") === Float.NaN).count() === 1)
    assert(r.filter(col("score") > 1e30f).count() === 1)
  }

  test("float MIN/MAX + COUNT answered from manifests (agg pushdown)") {
    val agg = spark.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"), min("score").as("mn"), max("score").as("mx"))
    val scans = agg.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty && scans.head.isInstanceOf[GraftAggScan],
      "float MIN/MAX must plan the manifest-answered scan")
    val r = agg.collect().head
    assert(r.getLong(0) === 400L)
    assert(r.getFloat(1) === 0.0f)
    assert(r.getFloat(2) === 399 * 0.25f)
  }

  test("nullable float: IS NULL pushdown and null round-trip") {
    val nSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", FloatType, nullable = true)))
    val d = TestDirs.createTempDirectory("graft-f32n").toString
    spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 90).map(i => Row(i.toLong,
          if (i % 3 == 0) null else java.lang.Float.valueOf(i * 0.5f))), 1),
      nSchema).write.format("graft").option("chunkRows", "30")
      .mode("overwrite").save(d)
    val r = spark.read.format("graft").load(d)
    assert(r.filter(col("score").isNull).count() === 30)
    assert(r.filter(col("score").isNotNull).count() === 60)
    assert(r.filter(col("score") > 22.0f).count() ===
      (0 until 90).count(i => i % 3 != 0 && i * 0.5f > 22.0f))
    // COUNT(col) stays manifest-answered over the nullable column
    val agg = r.agg(count(col("score")))
    val scans = agg.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.head.isInstanceOf[GraftAggScan])
    assert(agg.collect().head.getLong(0) === 60L)
  }

  test("compaction and DELETE preserve float columns exactly") {
    val d = TestDirs.createTempDirectory("graft-f32c").toString
    (0 until 3).foreach { g =>
      spark.createDataFrame(spark.sparkContext.parallelize(
          (0 until 40).map(i => Row((g * 40 + i).toLong,
            (g * 40 + i) * 0.125f)), 1), schema)
        .write.format("graft").mode("append").save(d)
    }
    val before = spark.read.format("graft").load(d).orderBy("id").collect()
    val (consumed, produced) = GraftMaintenance.compact(spark, d)
    assert(consumed === 3 && produced === 1)
    val after = spark.read.format("graft").load(d).orderBy("id").collect()
    assert(after.toSeq === before.toSeq)
    // delete by float predicate (stored-row evaluation via the matcher)
    val n = GraftMaintenance.delete(spark, d, "score < 2.0")
    assert(n === (0 until 120).count(_ * 0.125f < 2.0f))
    assert(spark.read.format("graft").load(d)
      .agg(min("score")).collect().head.getFloat(0) === 2.0f)
  }
}
