package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{SparkTestSession, TestDirs}

/** Model-based randomized testing of the mutation triad (round 9): a
  * seeded random sequence of append / DELETE / UPDATE / upsert / compact
  * ops runs against BOTH a graft table and a trivial in-memory model;
  * the table must equal the model after every op. Catches interaction
  * bugs (rewrite x compaction grouping, admission pruning vs actual
  * matches, swap atomicity) no single-op test shapes.
  */
class MutationModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a random append/delete/update/upsert/compact sequence matches " +
    "the in-memory model after every op") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-model").toString
    val rnd = new scala.util.Random(907L)
    val model = scala.collection.mutable.Map.empty[Long, (String, Long)]
    var nextId = 0L

    def freshRows(n: Int): Seq[(Long, String, Long)] = {
      val rows = (0 until n).map { _ =>
        val id = nextId; nextId += 1
        (id, s"t${rnd.nextInt(5)}", rnd.nextInt(1000).toLong)
      }
      rows
    }
    def appendOp(): String = {
      val rows = freshRows(20 + rnd.nextInt(30))
      rows.foreach { case (i, t, s) => model(i) = (t, s) }
      rows.toDF("id", "tag", "score")
        .coalesce(1).write.format("graft").mode("append").save(d)
      s"append ${rows.size}"
    }
    def deleteOp(): String = {
      val lo = rnd.nextLong(math.max(nextId, 1L))
      val hi = lo + 5 + rnd.nextInt(20)
      val tag = s"t${rnd.nextInt(5)}"
      val n = GraftMaintenance.delete(spark, d,
        s"id >= $lo AND id < $hi AND tag = '$tag'")
      val doomed = model.keys.filter(i => i >= lo && i < hi &&
        model(i)._1 == tag).toSeq
      assert(n === doomed.size.toLong, s"delete [$lo,$hi) tag=$tag")
      doomed.foreach(model.remove)
      s"delete [$lo,$hi) $tag -> $n"
    }
    def updateOp(): String = {
      val lo = rnd.nextLong(math.max(nextId, 1L))
      val hi = lo + 5 + rnd.nextInt(20)
      val k = rnd.nextInt(100).toLong
      val n = GraftMaintenance.update(spark, d,
        s"id >= $lo AND id < $hi", Map("score" -> s"score + $k"))
      val hit = model.keys.filter(i => i >= lo && i < hi).toSeq
      assert(n === hit.size.toLong, s"update [$lo,$hi)")
      hit.foreach(i => model(i) = (model(i)._1, model(i)._2 + k))
      s"update [$lo,$hi) +$k -> $n"
    }
    def upsertOp(): String = {
      // mix of existing keys (replaced) and fresh ones (inserted)
      val existing = model.keys.toSeq.sorted
        .take(5 + rnd.nextInt(10)).filter(_ => rnd.nextBoolean())
      val fresh = freshRows(3 + rnd.nextInt(5))
      val srcRows = existing.map(i =>
        (i, s"u${rnd.nextInt(3)}", rnd.nextInt(1000).toLong)) ++ fresh
      val (rep, app) = GraftMaintenance.upsert(spark, d,
        srcRows.toDF("id", "tag", "score"), Seq("id"))
      assert(rep === existing.size.toLong)
      assert(app === srcRows.size.toLong)
      srcRows.foreach { case (i, t, s) => model(i) = (t, s) }
      s"upsert ${existing.size}+${fresh.size}"
    }
    def compactOp(): String = {
      val (c, p) = GraftMaintenance.compact(spark, d)
      s"compact $c -> $p"
    }

    appendOp() // seed the table
    var step = 0
    val ops = 18
    while (step < ops) {
      val what = rnd.nextInt(10) match {
        case 0 | 1 => appendOp()
        case 2 | 3 | 4 => deleteOp()
        case 5 | 6 => updateOp()
        case 7 | 8 => upsertOp()
        case _ => compactOp()
      }
      val got = spark.read.format("graft").load(d)
        .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
      assert(got.length === model.size,
        s"row count diverged after step $step ($what)")
      assert(got.toMap === model.toMap,
        s"table diverged from the model after step $step ($what)")
      step += 1
    }
    info(s"$ops random ops, final table ${model.size} rows — model-exact")
  }
}
