package graft.sources

import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ContainerIO, FakeHdfsFileSystem, SparkTestSession, TestDirs}

/** A local filesystem under a scheme no other suite registers, so no
  * instance of it sits in Hadoop's `FileSystem` cache before a test
  * registers it.
  */
class FakeLateFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "fakelate"
  override def getUri: java.net.URI = java.net.URI.create("fakelate:///")
}

/** How the session's Hadoop configuration reaches graft's tasks: read,
  * write, rewrite and UPSERT staging tasks see every key set on
  * `sparkContext.hadoopConfiguration`, including keys set between
  * operations, and no task carries the configuration itself.
  */
class ShippedConfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** Run `body` with `kvs` set on the session's Hadoop conf, then unset
    * them (the session is shared by every suite of the run).
    */
  private def withKeys[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => hadoopConf.set(k, v) }
    try body finally kvs.foreach(kv => hadoopConf.unset(kv._1))
  }

  /** A test filesystem registered under `scheme`, uncached: every
    * `FileSystem.get` that sees these keys resolves the scheme from the
    * conf it is handed, never from an instance the driver made.
    */
  private def fileSystem(scheme: String, impl: Class[_]): Seq[(String, String)] =
    Seq(s"fs.$scheme.impl" -> impl.getName,
      s"fs.$scheme.impl.disable.cache" -> "true")

  private def javaBytes(o: AnyRef): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    try out.writeObject(o) finally out.close()
    bos.toByteArray
  }

  private def rows(d: String): Set[(Long, String)] =
    spark.read.format("graft").load(d).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def frame(ids: Seq[Long], tag: String, parts: Int = 1) = {
    import spark.implicits._
    ids.map(i => (i, s"$tag$i")).toDF("id", "tag").repartition(parts)
  }

  test("no read or write task carries the Hadoop configuration") {
    val probe = s"graft-probe-${java.util.UUID.randomUUID()}"
    withKeys("graft.test.probe" -> probe) {
      val d = TestDirs.createTempDirectory("graft-shipped-size").toString
      frame(0L until 50L, "t").write.format("graft").mode("append").save(d)
      def check(what: String, factory: AnyRef): Unit = {
        val bytes = javaBytes(factory)
        val carriesConf = new String(bytes, "ISO-8859-1").contains(probe)
        assert(!carriesConf, s"the $what carries the session's Hadoop conf")
        assert(bytes.length < 16 * 1024, s"the $what is ${bytes.length} B")
      }

      val scan = spark.read.format("graft").load(d).queryExecution.sparkPlan
        .collectFirst { case b: BatchScanExec => b }.get
      check("reader factory", scan.readerFactory)

      val info = new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap =
          CaseInsensitiveStringMap.empty()
        override def queryId(): String = "probe-q"
        override def schema(): StructType = frame(Nil, "t").schema
      }
      val physical = new PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      }
      check("writer factory", new GraftTable(d, info.schema())
        .newWriteBuilder(info).build().toBatch
        .createBatchWriterFactory(physical))
    }
  }

  test("a broadcast conf is reused until the session conf changes") {
    val a = ContainerIO.shippedConf(spark)
    assert(ContainerIO.shippedConf(spark) eq a)
    withKeys("graft.test.reuse" -> "1") {
      val b = ContainerIO.shippedConf(spark)
      assert(!(b eq a))
      assert(b.value.conf.get("graft.test.reuse") === "1")
      assert(a.value.conf.get("graft.test.reuse") === null)
      // an executor of a cluster deserializes the holder and rebuilds
      // the Configuration from its wire form
      val wire = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(javaBytes(b.value)))
      val copy = wire.readObject().asInstanceOf[ContainerIO.ShippedConf]
      assert(copy.conf.get("graft.test.reuse") === "1")
    }
  }

  test("a filesystem registered only on the session conf serves every " +
    "kind of task") {
    withKeys(fileSystem("fakehdfs", classOf[FakeHdfsFileSystem]): _*) {
      val local = TestDirs.createTempDirectory("graft-shipped-fakehdfs")
      val d = s"fakehdfs://$local/t"
      def expect(ids: Seq[Long], tag: Long => String) =
        ids.map(i => (i, tag(i))).toSet

      frame(0L until 40L, "a", parts = 2).write.format("graft")
        .mode("append").save(d)
      frame(100L until 140L, "b", parts = 2).write.format("graft")
        .mode("append").save(d)
      assert(rows(d) === expect(0L until 40L, i => s"a$i") ++
        expect(100L until 140L, i => s"b$i"))

      frame(0L until 30L, "c", parts = 2).write.format("graft")
        .mode("overwrite").save(d)
      frame(30L until 60L, "d", parts = 2).write.format("graft")
        .mode("append").save(d)
      val written = expect(0L until 30L, i => s"c$i") ++
        expect(30L until 60L, i => s"d$i")
      assert(rows(d) === written)

      assert(GraftMaintenance.delete(spark, d, "id < 10") === 10L)
      val kept = written.filter(_._1 >= 10L)
      assert(rows(d) === kept)

      val (consumed, produced) = GraftMaintenance.compact(spark, d)
      assert(consumed >= 2 && produced >= 1, (consumed, produced))
      assert(rows(d) === kept)

      val (replaced, appended) = GraftMaintenance.upsert(spark, d,
        frame(50L until 70L, "u", parts = 2), Seq("id"))
      assert(replaced === 10L && appended === 20L)
      assert(rows(d) === kept.filter(_._1 < 50L) ++
        expect(50L until 70L, i => s"u$i"))
      assert(spark.read.format("graft").load(d)
        .filter(col("tag").startsWith("u")).count() === 20L)
    }
  }

  test("a filesystem registered between two operations reaches the " +
    "second one's tasks") {
    val local = TestDirs.createTempDirectory("graft-shipped-late")
    val first = s"file://$local/first"
    val late = s"fakelate://$local/late"
    frame(0L until 20L, "f").write.format("graft").mode("append").save(first)
    assert(rows(first).size === 20)
    val e = intercept[Exception] {
      frame(0L until 20L, "l").write.format("graft").mode("append").save(late)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("fakelate")), e)
    withKeys(fileSystem("fakelate", classOf[FakeLateFileSystem]): _*) {
      frame(0L until 20L, "l", parts = 2).write.format("graft")
        .mode("append").save(late)
      assert(rows(late) === (0L until 20L).map(i => (i, s"l$i")).toSet)
    }
  }
}
