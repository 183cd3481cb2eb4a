package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ClaimRace, ContainerIO, Manifests, SparkTestSession, TestDirs}

/** Column DROP via positional tombstones (round 9): a zero-row schema
  * marker flags the position dropped; committed containers keep their
  * data (time travel still reads it), the current schema projects the
  * position out, appends supply only visible columns, and the dropped
  * NAME may be re-added as a fresh trailing position.
  */
class DropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val conf = ContainerIO.localConf()

  private def tmp(tag: String): String =
    TestDirs.createTempDirectory(s"graft-drop-$tag").toString

  private val schema3 = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("score", LongType, nullable = false)))

  private def seed(d: String, lo: Int, hi: Int): Unit = {
    val rows = (lo until hi).map(i => Row(i.toLong, s"t${i % 5}", i * 10L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema3)
      .coalesce(1).write.format("graft").mode("append").save(d)
  }

  test("drop a MIDDLE column: reads project it out, filters and " +
    "pushdowns on surviving columns still translate positionally") {
    val d = tmp("mid")
    seed(d, 0, 100)
    GraftMaintenance.dropColumn(spark, d, "tag")
    val r = spark.read.format("graft").load(d)
    assert(r.schema.fieldNames.toSeq === Seq("id", "score"))
    assert(r.count() === 100)
    // the survivor AFTER the dropped position reads its own data, not
    // the dropped neighbor's (positional translation)
    assert(r.filter(col("score") === 250L).select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(25L))
    assert(r.agg(sum("score")).collect().head.getLong(0) ===
      (0 until 100).map(_ * 10L).sum)
    // manifest-answered MIN/MAX still works across the gap
    assert(r.agg(max("score")).collect().head.getLong(0) === 990L)
  }

  test("appends after a drop supply only the visible columns; both " +
    "generations read back consistently") {
    val d = tmp("append")
    seed(d, 0, 50)
    GraftMaintenance.dropColumn(spark, d, "tag")
    // append WITHOUT the dropped column
    val rows = (100 until 150).map(i => Row(i.toLong, i * 10L))
    val vis = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), vis)
      .coalesce(1).write.format("graft").mode("append").save(d)
    val r = spark.read.format("graft").load(d)
    assert(r.count() === 100)
    assert(r.filter(col("id") >= 100L).agg(sum("score"))
      .collect().head.getLong(0) === (100 until 150).map(_ * 10L).sum)
    assert(r.filter(col("score") === 100L).count() === 1) // pre-drop row
    // the post-drop manifest records the tombstone in its chain
    val post = Manifests.readCommitted(conf, d)
      .filter(m => m.rows > 0 && m.schemaCols.size == 3)
    assert(post.nonEmpty)
    assert(post.forall(m =>
      (m.schemaCols(1)._2 & graft.engine.ColumnSpec.DroppedFlag) != 0 ||
        m.schemaCols(1)._1 == "tag"),
      "post-drop appends must carry the positional tombstone")
  }

  test("re-add the dropped NAME as a new trailing column; time travel " +
    "sees the old data under the old schema") {
    val d = tmp("readd")
    seed(d, 0, 40) // version 0
    GraftMaintenance.dropColumn(spark, d, "tag") // version 1
    // re-add `tag` as a NEW nullable trailing column
    val wide = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", LongType, nullable = false),
      StructField("tag", StringType, nullable = true)))
    val rows = (100 until 140).map(i => Row(i.toLong, i * 10L, s"new${i % 3}"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), wide)
      .coalesce(1).write.format("graft").mode("append").save(d) // version 2
    val r = spark.read.format("graft").load(d)
    assert(r.schema.fieldNames.toSeq === Seq("id", "score", "tag"))
    // pre-drop rows are NULL in the re-added tag (it is a NEW position);
    // their OLD tag values are never resurrected
    assert(r.filter(col("id") < 40L && col("tag").isNull).count() === 40)
    assert(r.filter(col("tag") === "new0").count() ===
      (100 until 140).count(_ % 3 == 0))
    // IS NULL on the re-added column + a value filter on old rows
    assert(r.filter(col("tag").isNull && col("score") < 200L).count() === 20)
    // time travel to version 0: the ORIGINAL 3-column schema with data
    val pre = spark.read.format("graft").option("versionAsOf", "0").load(d)
    assert(pre.schema.fieldNames.toSeq === Seq("id", "tag", "score"))
    assert(pre.filter(col("tag") === "t2").count() === 8)
  }

  test("rename after drop and drop after rename compose") {
    val d = tmp("compose")
    seed(d, 0, 30)
    GraftMaintenance.renameColumn(spark, d, "score", "points")
    GraftMaintenance.dropColumn(spark, d, "tag")
    val r = spark.read.format("graft").load(d)
    assert(r.schema.fieldNames.toSeq === Seq("id", "points"))
    assert(r.filter(col("points") > 250L).count() === 4)
    GraftMaintenance.renameColumn(spark, d, "points", "score2")
    assert(spark.read.format("graft").load(d).schema.fieldNames.toSeq ===
      Seq("id", "score2"))
  }

  test("compaction preserves the tombstone and pre-drop data for " +
    "retained snapshots") {
    val d = tmp("compact")
    seed(d, 0, 30)
    seed(d, 30, 60)
    GraftMaintenance.dropColumn(spark, d, "tag")
    val (c, p) = GraftMaintenance.compact(spark, d)
    assert(c === 2 && p === 1)
    val r = spark.read.format("graft").load(d)
    assert(r.schema.fieldNames.toSeq === Seq("id", "score"))
    assert(r.count() === 60)
    assert(r.agg(sum("score")).collect().head.getLong(0) ===
      (0 until 60).map(_ * 10L).sum)
  }

  test("DELETE over a dropped-column table binds visible ordinals " +
    "correctly") {
    val d = tmp("delete")
    seed(d, 0, 50)
    GraftMaintenance.dropColumn(spark, d, "tag")
    assert(GraftMaintenance.delete(spark, d, "score >= 300") === 20L)
    val r = spark.read.format("graft").load(d)
    assert(r.count() === 30)
    assert(r.agg(max("score")).collect().head.getLong(0) === 290L)
  }

  test("guards: unknown column, last visible column, concurrent change") {
    val d = tmp("guards")
    import spark.implicits._
    (0 until 10).map(i => (i.toLong, s"x$i")).toDF("id", "tag")
      .coalesce(1).write.format("graft").mode("append").save(d)
    intercept[IllegalArgumentException] {
      GraftMaintenance.dropColumn(spark, d, "nope")
    }
    GraftMaintenance.dropColumn(spark, d, "tag")
    intercept[IllegalArgumentException] {
      GraftMaintenance.dropColumn(spark, d, "id") // last visible column
    }
    // concurrent rename of the same column beats the drop -> conflict
    val d2 = tmp("guards2")
    (0 until 10).map(i => (i.toLong, s"x$i")).toDF("id", "tag")
      .coalesce(1).write.format("graft").mode("append").save(d2)
    intercept[SchemaEvolutionConflict] {
      ClaimRace.racing(GraftMaintenance.renameColumn(spark, d2, "tag", "label")) {
        GraftMaintenance.dropColumn(spark, d2, "tag")
      }
    }
    assert(spark.read.format("graft").load(d2).schema.fieldNames.toSeq ===
      Seq("id", "label"))
  }

  test("a drop racing a rename of ANOTHER column keeps both") {
    val d = tmp("race-rename")
    seed(d, 0, 20)
    // the drop's marker is rebuilt on the snapshot it lands on, so the
    // rename that landed first is not reverted
    ClaimRace.racing(GraftMaintenance.renameColumn(spark, d, "tag", "label")) {
      GraftMaintenance.dropColumn(spark, d, "score")
    }
    val r = spark.read.format("graft").load(d)
    assert(r.schema.fieldNames.toSeq === Seq("id", "label"))
    assert(r.count() === 20)
    assert(r.filter(col("label") === "t3").count() === 4)
  }

  test("SQL surface: CALL graft.system.drop_column") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val d = tmp("sql")
    seed(d, 0, 20)
    val r = spark.sql(
      s"CALL graft.system.drop_column(path => '$d', col => 'tag')")
      .collect()(0)
    assert(r.getBoolean(0))
    assert(spark.read.format("graft").load(d).schema.fieldNames.toSeq ===
      Seq("id", "score"))
  }
}
