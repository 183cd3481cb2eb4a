package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ContainerIO, Manifests, SparkTestSession, TestDirs}

/** Partition transforms at the write surface (round 8):
  * `option("partitionBy", "col | days(ts) | bucket(n, col)")` — Spark
  * plans the clustering exchange + in-partition sort (the DSv2
  * RequiresDistributionAndOrdering contract); identity/days skips are
  * PROVED by the resulting tight zone maps at the two-level summary,
  * bucket skips by the writer-recorded per-container bucket-id sets.
  */
class PartitionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val conf = ContainerIO.localConf()

  private def graftScan(df: org.apache.spark.sql.DataFrame): GraftScan =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head.asInstanceOf[GraftScan]

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    graftScan(df).planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].file).distinct.toSeq

  test("identity partitioning: a point filter plans only that " +
    "partition's containers and hydrates only them") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-part-id").toString
    val langs = Seq("en", "de", "fr", "zh")
    val rnd = new scala.util.Random(7)
    (0 until 2000).map(i => (i.toLong, langs(rnd.nextInt(4)), s"doc $i"))
      .toDF("id", "lang", "body")
      .repartition(4) // deliberately interleaved input
      .write.format("graft").option("partitionBy", "lang")
      .option("writePartitions", "4")
      .option("chunkRows", "200").mode("overwrite").save(d)
    val total = Manifests.readCommitted(conf, d).count(_.rows > 0)
    assert(total >= 2, s"expected multiple containers, got $total")
    val before = Manifests.chunkLoadCounter.get()
    val n = spark.read.format("graft").load(d)
      .filter(col("lang") === "zh").count()
    val loads = Manifests.chunkLoadCounter.get() - before
    // exactness: the filtered count matches the unfiltered group count
    val want = spark.read.format("graft").load(d)
      .groupBy("lang").count().collect()
      .find(_.getString(0) == "zh").get.getLong(1)
    assert(n === want && n > 0)
    val files = plannedFiles(
      spark.read.format("graft").load(d).filter(col("lang") === "zh"))
    assert(files.size < total,
      s"point filter on the partition column must eliminate containers " +
        s"(planned ${files.size} of $total)")
    assert(loads <= files.size + 1,
      s"chunk-detail reads ($loads) must scale with admitted containers " +
        s"(${files.size})")
  }

  test("days(ts) partitioning: a day-range filter prunes containers") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-part-days").toString
    val base = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
    (0 until 1200).map(i => (i.toLong, base.plusMinutes(i * 15L)))
      .toDF("id", "ts")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .repartition(4)
      .write.format("graft").option("partitionBy", "days(ts)")
      .option("writePartitions", "4")
      .option("chunkRows", "100").mode("overwrite").save(d)
    val total = Manifests.readCommitted(conf, d).count(_.rows > 0)
    val oneDay = spark.read.format("graft").load(d)
      .filter(col("ts") >= lit("2026-01-05 00:00:00").cast("timestamp_ntz") &&
        col("ts") < lit("2026-01-06 00:00:00").cast("timestamp_ntz"))
    assert(oneDay.count() === 96) // 4/hour x 24
    assert(plannedFiles(oneDay).size < total,
      "a one-day filter must not plan every container")
  }

  test("bucket(n, col) partitioning: recorded bucket-id sets eliminate " +
    "containers for point filters where zone maps cannot") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-part-bkt").toString
    // high-cardinality key: every container's value RANGE spans the
    // domain, so zone maps prove nothing — bucket ids must do the work
    (0 until 4000).map(i => (i.toLong, s"payload $i"))
      .toDF("key", "body")
      .repartition(8)
      .write.format("graft").option("partitionBy", "bucket(8, key)")
      .option("writePartitions", "8")
      .option("chunkRows", "200").mode("overwrite").save(d)
    val ms = Manifests.readCommitted(conf, d).filter(_.rows > 0)
    assert(ms.forall(_.partitioning == Seq("bucket(8,key)")),
      s"partitioning must be recorded: ${ms.map(_.partitioning)}")
    assert(ms.forall(_.bucketIds.contains("key")))
    // containers hold disjoint-ish bucket subsets after clustering
    assert(ms.exists(_.bucketIds("key").size < 8),
      "clustering should give containers proper bucket subsets")
    val total = ms.size
    val probe = 1234L
    val df = spark.read.format("graft").load(d).filter(col("key") === probe)
    assert(df.count() === 1)
    val planned = plannedFiles(
      spark.read.format("graft").load(d).filter(col("key") === probe))
    assert(planned.size < total,
      s"bucket ids must eliminate containers (planned ${planned.size} " +
        s"of $total)")
    // correctness under IN across buckets
    val in = spark.read.format("graft").load(d)
      .filter(col("key").isin(5L, 1234L, 3999L))
    assert(in.count() === 3)
    // bucket metadata survives compaction (union, same transform)
    val (consumed, produced) = GraftMaintenance.compact(spark, d)
    if (consumed > 0) {
      val after = Manifests.readCommitted(conf, d).filter(_.rows > 0)
      assert(after.forall(m => m.partitioning == Seq("bucket(8,key)") &&
        m.bucketIds.contains("key")), "compaction must keep bucket metadata")
      assert(spark.read.format("graft").load(d)
        .filter(col("key") === probe).count() === 1)
    }
    assert(produced >= 0)
  }

  test("partitionBy validation: unknown column, wrong days/bucket types") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "tag")
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    val d = TestDirs.createTempDirectory("graft-part-bad").toString
    val e1 = intercept[Exception] {
      df.write.format("graft").option("partitionBy", "nope")
        .mode("overwrite").save(d)
    }
    assert(messages(e1).contains("nope"))
    val e2 = intercept[Exception] {
      df.write.format("graft").option("partitionBy", "days(tag)")
        .mode("overwrite").save(d)
    }
    assert(messages(e2).contains("TIMESTAMP_NTZ or DATE"))
    val e3 = intercept[Exception] {
      df.write.format("graft").option("partitionBy", "bucket(1, id)")
        .mode("overwrite").save(d)
    }
    assert(messages(e3).contains("at least 2"))
  }
}
