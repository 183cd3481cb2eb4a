package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ContainerIO, Manifests, SparkTestSession, TestDirs}

/** Two-level manifest metadata (round 8): the consolidated index carries
  * container SUMMARIES (envelope stats, O(containers) bytes), while
  * per-chunk detail stays in each container's own commit marker and is
  * read only for containers summary-level admission lets through — so
  * planning metadata reads scale with ADMITTED containers, never with
  * table size (the 100 TB driver-bottleneck fix).
  */
class TwoLevelIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val conf = ContainerIO.localConf()

  /** Three appends = three containers with disjoint id ranges and
    * distinct tag dictionaries.
    */
  private lazy val dir: String = {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-2lvl").toString
    Seq(("a", 0L), ("b", 1000L), ("c", 2000L)).foreach { case (tag, base) =>
      (0 until 100).map(i => (base + i, tag, s"text $tag $i"))
        .toDF("id", "tag", "body")
        .coalesce(1)
        .write.format("graft").mode("append").save(d)
    }
    d
  }

  private def loadsDuring[T](body: => T): (T, Long) = {
    val before = Manifests.chunkLoadCounter.get()
    val r = body
    (r, Manifests.chunkLoadCounter.get() - before)
  }

  test("the consolidated index is summary-only: no per-chunk stats inline") {
    val snap = Manifests.readIndexSnapshot(conf, dir)
    assert(snap.isDefined, "expected a versioned index snapshot")
    val (ver, entries) = snap.get
    assert(entries.size === 3)
    val body = new String(ContainerIO.readAll(conf,
      s"$dir/${Manifests.versionedIndexName(ver)}"), java.nio.charset.StandardCharsets.UTF_8)
    def occurrences(s: String) = body.sliding(s.length).count(_ == s)
    assert(!body.contains("\"chunkIndex\""), s"index carries chunk detail:\n$body")
    assert(occurrences("\"chunksElided\":true") === 3, body)
    assert(occurrences("\"envelope\"") === 3, body)
    // the envelope reproduces the chunk fold exactly
    val ms = Manifests.readCommitted(conf, dir)
    ms.foreach { m =>
      assert(m.chunksElided && m.chunkIndex.isEmpty)
      val full = Manifests.loadChunkIndex(conf, dir, m)
      assert(!full.chunksElided && full.chunkIndex.nonEmpty)
      assert(m.env === graft.engine.ManifestEnvelope.fromChunks(full.chunkIndex),
        s"stored envelope diverges from the chunk fold for ${m.name}")
    }
  }

  test("group-level skip: a point filter admits 1 of N groups and reads " +
    "exactly 1 commit marker") {
    val (rows, loads) = loadsDuring {
      spark.read.format("graft").load(dir).filter(col("id") === 1005L).collect()
    }
    assert(rows.map(_.getString(1)).toSeq === Seq("b"))
    assert(loads === 1L,
      s"expected exactly 1 chunk-detail read (1 admitted container), got $loads")
  }

  test("group-level string-dict skip prunes without chunk-detail reads") {
    val (rows, loads) = loadsDuring {
      spark.read.format("graft").load(dir).filter(col("tag") === "c").collect()
    }
    assert(rows.length === 100)
    assert(loads === 1L, s"tag dict envelope should admit 1 container, got $loads")
    // a value outside every dict plans nothing and reads nothing
    val (none, zero) = loadsDuring {
      spark.read.format("graft").load(dir).filter(col("tag") === "zz").collect()
    }
    assert(none.isEmpty && zero === 0L,
      s"no group admits 'zz'; expected 0 detail reads, got $zero")
  }

  test("manifest-answered aggregates read no chunk detail at all") {
    // (string MIN/MAX needs a non-nullable column — covered by
    // GraftSourceSpec; toDF marks strings nullable, so stick to longs)
    val (agg, loads) = loadsDuring {
      spark.read.format("graft").load(dir)
        .agg(count(lit(1)), min("id"), max("id"))
        .collect().head
    }
    assert(agg.getLong(0) === 300L)
    assert(agg.getLong(1) === 0L && agg.getLong(2) === 2099L)
    assert(loads === 0L,
      s"aggregate pushdown must answer from summaries alone, got $loads reads")
  }

  test("an unfiltered scan hydrates each container once per scan, not per use") {
    val (n, loads) = loadsDuring {
      spark.read.format("graft").load(dir).count()
    }
    assert(n === 300L)
    assert(loads <= 3L, s"expected at most one hydration per container, got $loads")
  }

  test("a vanished commit marker surfaces the retriable snapshot-superseded " +
    "error, not a raw FileNotFoundException") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-2lvl-gone").toString
    (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.format("graft").mode("append").save(d)
    val m = Manifests.readCommitted(conf, d).head
    assert(m.chunksElided)
    val fs = ContainerIO.fs(d, conf)
    fs.delete(new org.apache.hadoop.fs.Path(
      Manifests.manifestPath(d, m.name)), false)
    val ex = intercept[IllegalStateException] {
      Manifests.loadChunkIndex(conf, d, m)
    }
    assert(ex.getMessage.contains("snapshot superseded"))
  }
}
