package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ChunkCursor, ColumnarEngine, ContainerIO, Lane, SourceTable, SparkTestSession, TestDirs}

class GraftSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def graftScan(df: org.apache.spark.sql.DataFrame): GraftScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty, "expected a BatchScanExec in:\n" +
      df.queryExecution.executedPlan.toString.take(800))
    scans.head.asInstanceOf[GraftScan]
  }

  /** The indexed chunk ranges of one written container (`block` is its
    * file name under `blocks/`), with NO block CRCs: the fuzz tests use
    * them to reach the decoders, which a recorded CRC would shield from
    * most flips.
    */
  private def chunkRanges(table: String, block: String): Seq[ChunkSpec] = {
    import graft.engine.{ContainerIO, Manifests}
    val conf = ContainerIO.localConf()
    val m = Manifests.readCommitted(conf, table)
      .find(m => s"part-${m.name}.gblk" == block)
      .map(Manifests.loadChunkIndex(conf, table, _))
      .getOrElse(fail(s"no committed manifest for $block"))
    m.chunkIndex.map(c => ChunkSpec(c.offset, c.length, c.rows, Map.empty))
  }

  /** The rows written to [[dir]]: the reference every read of it is
    * checked against.
    */
  private lazy val derived = ColumnarEngine.derive(SourceTable.synthesize(spark, 600, 3))

  private lazy val dir = {
    val d = TestDirs.createTempDirectory("graft-dsv2").toString
    // range layout on hash64 -> disjoint per-container zone maps, so the
    // skipping tests below can prove files were never opened
    derived.repartitionByRange(4, col("hash64"))
      .write.format("graft").mode("overwrite").save(d)
    d
  }

  test("DSv2 round trip: write with format(\"graft\"), read back identical") {
    import spark.implicits._
    val back = spark.read.format("graft").load(dir)
    assert(back.count() === 600)
    assert(back.as[graft.engine.DerivedRow].except(
      derived.as[graft.engine.DerivedRow]).isEmpty,
      "every written row must read back bit-identical")
    assert(derived.toDF().except(back).isEmpty)
  }

  test("column pruning reaches the container read (ReadSchema is the projection)") {
    val df = spark.read.format("graft").load(dir).select("lang", "len_content")
    df.collect()
    val scan = graftScan(df)
    assert(scan.readSchema().fieldNames.toSet === Set("lang", "len_content"),
      s"scan must read only the projected columns, got ${scan.description()}")
    // aggregate over the pruned read matches the written rows
    val viaSource = df.groupBy("lang").agg(sum("len_content").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val written = derived.toDF()
      .groupBy("lang").agg(sum("len_content").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSource === written)
  }

  test("filter pushdown: zone maps skip whole containers; results stay exact") {
    import spark.implicits._
    val all = spark.read.format("graft").load(dir)
      .select("hash64").as[Long].collect().sorted
    val cut = all(all.length / 2) // median: ~half the range-layout files skip
    val df = spark.read.format("graft").load(dir).filter(col("hash64") > cut)
    val got = df.select("hash64").as[Long].collect().sorted
    assert(got.toSeq === all.filter(_ > cut).toSeq, "pushed filter must stay exact")
    val scan = graftScan(df)
    assert(scan.description().contains("hash64"), s"filter must appear pushed in ${scan.description()}")
    val planned = scan.planInputPartitions().length
    assert(planned < 4, s"zone maps should skip range-disjoint containers, planned $planned of 4")
    assert(planned >= 1)
  }

  test("zone-map admit(): boundary semantics") {
    val r = Map("x" -> (10L, 20L))
    // filters cross the pushdown boundary first, as the scan's do
    import org.apache.spark.sql.sources.Filter
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val layout = GraftDataSource.layoutOf(StructType(Seq(
      StructField("x", LongType), StructField("y", LongType))))
    def p(f: Filter): Seq[Pred] = GraftDataSource.pushdown(f, layout).map(_._2).toSeq
    assert(GraftDataSource.admit(r, p(EqualTo("x", 10L))))
    assert(GraftDataSource.admit(r, p(EqualTo("x", 20L))))
    assert(!GraftDataSource.admit(r, p(EqualTo("x", 21L))))
    assert(!GraftDataSource.admit(r, p(GreaterThan("x", 20L))))
    assert(GraftDataSource.admit(r, p(GreaterThan("x", 19L))))
    assert(!GraftDataSource.admit(r, p(LessThan("x", 10L))))
    assert(GraftDataSource.admit(r, p(LessThan("x", 11L))))
    // unknown column / no stats: always admit (skip only on PROOF)
    assert(GraftDataSource.admit(Map.empty, p(EqualTo("x", 99L))))
    assert(GraftDataSource.admit(r, p(EqualTo("y", 99L))))
  }

  test("scan reports manifest statistics; filters shrink the estimate") {
    import spark.implicits._
    val df = spark.read.format("graft").load(dir)
    df.collect()
    val st = graftScan(df).estimateStatistics()
    assert(st.numRows().getAsLong === 600L, "numRows must come from manifests")
    assert(st.sizeInBytes().getAsLong > 0L)
    val all = spark.read.format("graft").load(dir)
      .select("hash64").as[Long].collect().sorted
    val filtered = spark.read.format("graft").load(dir)
      .filter(col("hash64") > all(all.length / 2))
    filtered.collect()
    val st2 = graftScan(filtered).estimateStatistics()
    assert(st2.numRows().getAsLong < 600L,
      "zone-map-skipped containers must leave the row estimate")
  }

  test("aggregate pushdown: COUNT/MIN/MAX answered from manifests, no container opened") {
    val df = spark.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"), min("hash64").as("mn"), max("len_content").as("mx"))
    val got = df.collect()(0)
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty && scans.head.isInstanceOf[GraftAggScan],
      "ungrouped COUNT/MIN/MAX must plan the manifest-answered scan:\n" +
        df.queryExecution.executedPlan.toString.take(800))
    val want = derived.toDF()
      .agg(count(lit(1)), min("hash64"), max("len_content")).collect()(0)
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(1) === want.getLong(1))
    assert(got.getLong(2) === want.getLong(2))
    // grouped / filtered / string aggregates must NOT push (stay exact)
    val grouped = spark.read.format("graft").load(dir)
      .groupBy("lang").agg(count(lit(1)))
    val gScans = grouped.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(gScans.forall(!_.isInstanceOf[GraftAggScan]),
      "grouped aggregates must not be manifest-answered")
    val filtered = spark.read.format("graft").load(dir)
      .filter(col("hash64") > 0L).agg(count(lit(1))).collect()(0).getLong(0)
    val filteredWant = derived.toDF()
      .filter(col("hash64") > 0L).count()
    assert(filtered === filteredWant, "filtered count must bypass the manifest path")
  }

  test("string MIN/MAX answered from manifests only under the all-ASCII proof") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    def write(rows: Seq[Row]): String = {
      val d = TestDirs.createTempDirectory("graft-stragg").toString
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.format("graft").option("chunkRows", "100")
        .mode("overwrite").save(d)
      d
    }
    // all-ASCII, short, non-nullable: every chunk records a range -> pushes
    val dAscii = write((0 until 400).map(i => Row(i.toLong, f"key-$i%04d")))
    val agg = spark.read.format("graft").load(dAscii)
      .agg(min("tag").as("mn"), max("tag").as("mx"), count(lit(1)).as("n"))
    val scans = agg.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty && scans.head.isInstanceOf[GraftAggScan],
      "non-nullable all-ASCII string MIN/MAX must be manifest-answered:\n" +
        agg.queryExecution.executedPlan.toString.take(800))
    val r = agg.collect()(0)
    assert(r.getString(0) === "key-0000" && r.getString(1) === "key-0399" &&
      r.getLong(2) === 400L)
    // ONE non-ASCII value anywhere breaks the collation proof -> no
    // pushdown, full scan stays exact (Spark = UTF8 binary order)
    val rows2 = (0 until 400).map(i =>
      Row(i.toLong, if (i == 250) "日本語" else f"key-$i%04d"))
    val dMixed = write(rows2)
    val agg2 = spark.read.format("graft").load(dMixed)
      .agg(min("tag").as("mn"), max("tag").as("mx"))
    val scans2 = agg2.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans2.forall(!_.isInstanceOf[GraftAggScan]),
      "a non-ASCII chunk must reject the string MIN/MAX pushdown")
    val r2 = agg2.collect()(0)
    assert(r2.getString(0) === "key-0000" && r2.getString(1) === "日本語")
    // NULLABLE string columns never push ("" placeholders would pollute
    // the chunk mins) — and stay exact through the full scan
    val nSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = true)))
    val dNull = {
      val d = TestDirs.createTempDirectory("graft-stragg-n").toString
      val rows = (0 until 200).map(i =>
        Row(i.toLong, if (i % 5 == 0) null else f"key-$i%04d"))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), nSchema)
        .write.format("graft").option("chunkRows", "100")
        .mode("overwrite").save(d)
      d
    }
    val agg3 = spark.read.format("graft").load(dNull).agg(min("tag").as("mn"))
    val scans3 = agg3.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans3.forall(!_.isInstanceOf[GraftAggScan]),
      "nullable string MIN/MAX must not be manifest-answered")
    assert(agg3.collect()(0).getString(0) === "key-0001",
      "SQL MIN skips nulls; the \"\" placeholder must never surface")
  }

  test("a planned manifest-answered MIN/MAX answers from its planning " +
    "snapshot across a concurrent append") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    def write(rows: Seq[Row], mode: String, d: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.format("graft").option("chunkRows", "100").mode(mode).save(d)
    val d = TestDirs.createTempDirectory("graft-stragg-si").toString
    write((0 until 400).map(i => Row(i.toLong, f"key-$i%04d")), "overwrite", d)
    def minMax() = spark.read.format("graft").load(d)
      .agg(min("tag").as("mn"), max("tag").as("mx"))
    // the optimized plan holds the built scan: its pushdown proofs ran,
    // its partitions are not planned yet
    def aggScans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.scan.isInstanceOf[GraftAggScan] => r.scan
      }
    val planned = minMax()
    assert(aggScans(planned).size === 1, "ASCII-only MIN/MAX must push")
    // a container WITHOUT an ASCII range lands between the proofs and the
    // fold: the planned query folds exactly the manifests its proofs
    // were checked on
    write(Seq(Row(400L, "日本語")), "append", d)
    val r = planned.collect()(0)
    assert((r.getString(0), r.getString(1)) === (("key-0000", "key-0399")),
      "the planned query must answer from its planning snapshot")
    // a fresh query sees the append, and its non-ASCII chunk rejects the
    // pushdown: the full scan answers in Spark's UTF-8 binary order
    val fresh = minMax()
    assert(aggScans(fresh).isEmpty,
      "a non-ASCII container must reject the string MIN/MAX pushdown")
    val r2 = fresh.collect()(0)
    assert((r2.getString(0), r2.getString(1)) === (("key-0000", "日本語")))
  }

  test("one index read per planned scan, per append's schema resolution " +
    "and per mutation's planning") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.engine.Manifests
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val d = TestDirs.createTempDirectory("graft-idxreads").toString
    spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 200).map(i => Row(i.toLong, s"t${i % 5}")), 2), schema)
      .write.format("graft").mode("overwrite").save(d)
    def readsDuring(body: => Any): Long = {
      val before = Manifests.indexReadCounter.get()
      body
      Manifests.indexReadCounter.get() - before
    }
    val df = spark.read.format("graft").load(d)
    // statistics, planning and execution all use the builder's snapshot
    val q = df.filter(col("id") > 150L)
    assert(readsDuring(q.queryExecution.executedPlan) === 1L)
    assert(readsDuring(assert(q.collect().length === 49)) === 0L)
    // an append resolves the committed schema and chain from one read
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      override def queryId(): String = "idxreads"
      override def schema(): StructType = df.schema
    }
    assert(readsDuring(new GraftWriteBuilder(d, info).build()) === 1L)
    // a mutation binds its predicate against its own snapshot's schema
    // (no admitted container here, so nothing commits)
    assert(readsDuring(assert(
      GraftMaintenance.delete(spark, d, "id < 0") === 0L)) === 1L)
  }

  test("one index parse per uncontended commit and per vacuum") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.engine.Manifests
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    val d = TestDirs.createTempDirectory("graft-commitreads").toString
    def rows(from: Int) = spark.createDataFrame(spark.sparkContext.parallelize(
      (from until from + 100).map(i => Row(i.toLong, s"t${i % 5}")), 2), schema)
    rows(0).write.format("graft").mode("overwrite").save(d)
    def parsesDuring(body: => Any): Long = {
      val before = Manifests.indexReadCounter.get()
      body
      Manifests.indexReadCounter.get() - before
    }
    // the write builder resolves the schema (1); the commit derives its
    // id from its own snapshot read (1) and claims the next version on it
    assert(parsesDuring(rows(100).write.format("graft").mode("append").save(d)) === 2L)
    // a mutation plans on its snapshot (1) and commits on a fresh read (1)
    assert(parsesDuring(assert(
      GraftMaintenance.delete(spark, d, "id < 10") === 10L)) === 2L)
    // a rename commits on the snapshot it validated against
    assert(parsesDuring(GraftMaintenance.renameColumn(spark, d, "tag", "label")) === 1L)
    // vacuum parses the current index once, plus each OTHER retained version
    val retained = new java.io.File(d).listFiles().count(f =>
      f.getName.matches("""_manifest-index\.v\d+\.json""") && f.length > 0) - 1
    assert(retained === 3)
    assert(parsesDuring(GraftMaintenance.vacuum(spark, d, graceMs = 0L)) === 1L + retained)
    assert(spark.read.format("graft").load(d).count() === 190L)
  }

  test("an overwrite whose old block cannot be deleted after the claim " +
    "lands stays committed and readable") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-landed").toString
    (0 until 100).map(i => (i.toLong, s"a$i")).toDF("id", "tag")
      .coalesce(1).write.format("graft").mode("overwrite").save(d)
    val blocks = ContainerIO.listNames(ContainerIO.localConf(), s"$d/blocks")
      .filter(_.endsWith(".gblk"))
    assert(blocks.size === 1)
    // the old block becomes a non-empty directory: Hadoop's
    // non-recursive delete of it throws
    val old = java.nio.file.Paths.get(d, "blocks", blocks.head)
    java.nio.file.Files.delete(old)
    java.nio.file.Files.createDirectory(old)
    java.nio.file.Files.write(old.resolve("x"), Array[Byte](1))
    val want = (0 until 50).map(i => (i.toLong, s"b$i"))
    want.toDF("id", "tag").coalesce(1).write.format("graft")
      .mode("overwrite").save(d)
    val back = spark.read.format("graft").load(d)
      .as[(Long, String)].collect().sorted
    assert(back.toSeq === want)
  }

  test("SQL surface: CREATE TABLE USING graft, pushdown visible in EXPLAIN") {
    spark.sql("DROP TABLE IF EXISTS graft_sql_t")
    spark.sql(s"CREATE TABLE graft_sql_t USING graft OPTIONS (path '$dir')")
    try {
      assert(spark.sql("SELECT count(*) FROM graft_sql_t")
        .collect()(0).getLong(0) === 600L)
      val plan = spark.sql(
        "EXPLAIN SELECT lang FROM graft_sql_t WHERE hash64 > 0")
        .collect()(0).getString(0)
      assert(plan.contains("ReadSchema: lang"), plan.take(500))
      assert(plan.contains("PushedFilters: [GreaterThan(hash64,0)]"), plan.take(500))
    } finally spark.sql("DROP TABLE graft_sql_t")
  }

  test("SQL INSERT INTO appends through the V2 write path") {
    val d = TestDirs.createTempDirectory("graft-sql-insert").toString
    ColumnarEngine.derive(SourceTable.synthesize(spark, 80, 2))
      .write.format("graft").mode("overwrite").save(d)
    spark.sql("DROP TABLE IF EXISTS graft_ins_t")
    spark.sql(s"CREATE TABLE graft_ins_t USING graft OPTIONS (path '$d')")
    try {
      ColumnarEngine.derive(SourceTable.synthesize(spark, 80, 2)).toDF()
        .withColumn("repo", concat_ws("-", col("repo"), lit("ins")))
        .createOrReplaceTempView("graft_ins_src")
      spark.sql("INSERT INTO graft_ins_t SELECT * FROM graft_ins_src")
      assert(spark.sql("SELECT count(*) FROM graft_ins_t")
        .collect()(0).getLong(0) === 160L)
      assert(spark.sql(
        "SELECT count(*) FROM graft_ins_t WHERE repo LIKE '%-ins'")
        .collect()(0).getLong(0) === 80L)
    } finally spark.sql("DROP TABLE graft_ins_t")
  }

  test("limit pushdown: readers stop early, global limit stays exact") {
    val df = spark.read.format("graft").load(dir).limit(7)
    assert(df.count() === 7)
    val scan = graftScan(spark.read.format("graft").load(dir).limit(7))
    assert(scan.description().contains("PushedLimit: 7"), scan.description())
    // limit composed with a pushed filter counts SURVIVING rows
    val f = spark.read.format("graft").load(dir)
      .filter(col("len_content") >= 0L).limit(5)
    assert(f.count() === 5)
  }

  test("append: epoch-named parts never collide; read sees the union") {
    val d = TestDirs.createTempDirectory("graft-dsv2-append").toString
    val a = ColumnarEngine.derive(SourceTable.synthesize(spark, 100, 2))
    a.write.format("graft").mode("overwrite").save(d)
    val b = ColumnarEngine.derive(SourceTable.synthesize(spark, 100, 2)).toDF()
      .withColumn("repo", concat_ws("-", col("repo"), lit("v2")))
    b.write.format("graft").mode("append").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.count() === 200)
    // both generations present, nothing overwritten
    assert(back.filter(col("repo").endsWith("-v2")).count() === 100)
    assert(back.filter(!col("repo").endsWith("-v2")).count() === 100)
  }

  // -------- commit-safety harness: drive the task writers directly ----

  private def internalRowOf(r: graft.engine.DerivedRow)
      : org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.unsafe.types.UTF8String
    // field order = GraftDataSource.schema = strings then longs
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(r.repo), UTF8String.fromString(r.path),
      UTF8String.fromString(r.commit), UTF8String.fromString(r.lang),
      UTF8String.fromString(r.content),
      r.len_content, r.hash64, r.commit_ord,
      r.repo_code, r.lang_code, r.path_code))
  }

  private def mkTableDir(prefix: String): String = {
    val d = TestDirs.createTempDirectory(prefix).toString
    val conf = graft.engine.ContainerIO.localConf()
    graft.engine.ContainerIO.mkdirs(conf, s"$d/blocks")
    graft.engine.ContainerIO.mkdirs(conf, s"$d/manifests")
    d
  }

  test("task retry: published manifest describes exactly its own attempt's bytes") {
    val d = mkTableDir("graft-dsv2-retry")
    val shipped = graft.engine.ContainerIO.shippedConf(spark)
    val conf = graft.engine.ContainerIO.localConf()
    val rows = ColumnarEngine.derive(SourceTable.synthesize(spark, 60, 2)).collect()
    val factory = new GraftWriterFactory(d, "ep0", shipped, 32,
      GraftDataSource.schema, Nil, Nil)
    // attempt 1 stages and commits its container, then "dies" before its
    // commit message reaches the driver
    val w1 = factory.createWriter(0, 1L)
    rows.foreach(r => w1.write(internalRowOf(r)))
    w1.commit()
    // the retry attempt sees a DIFFERENT upstream row order (shuffle
    // nondeterminism) — its container bytes, CRCs, digest all differ
    val w2 = factory.createWriter(0, 2L)
    rows.reverse.foreach(r => w2.write(internalRowOf(r)))
    val m2 = w2.commit()
    GraftCommits.publish(shipped.value.conf, d, truncate = false, Array(m2))
    // the published manifest must describe attempt 2's file: a content
    // read re-verifies every block CRC and the chunk digests (round 4's
    // shared final name would publish m2 against attempt 1's bytes here)
    val back = spark.read.format("graft").load(d)
    assert(back.select("content").collect().length === 60)
    assert(back.count() === 60)
    // attempt 1's container is an invisible orphan, still on disk
    assert(graft.engine.ContainerIO.listNames(conf, s"$d/blocks")
      .count(_.endsWith(".gblk")) === 2)
  }

  test("epoch replay is idempotent BY LOGICAL NAME: replaces, never duplicates") {
    val d = mkTableDir("graft-dsv2-replay")
    val shipped = graft.engine.ContainerIO.shippedConf(spark)
    val conf = graft.engine.ContainerIO.localConf()
    val rows = ColumnarEngine.derive(SourceTable.synthesize(spark, 40, 2)).collect()
    def publishEpoch(taskId: Long): Unit = {
      val w = new GraftDataWriter(d, 0, "q1-e5", shipped, 32, taskId,
        GraftDataSource.schema, Nil, Nil)
      rows.foreach(r => w.write(internalRowOf(r)))
      GraftCommits.publish(shipped.value.conf, d, truncate = false, Array(w.commit()))
    }
    publishEpoch(7L)
    assert(spark.read.format("graft").load(d).count() === 40)
    // a failure replays the epoch under a fresh task id: the logical
    // name (epoch, part) matches, so publish REPLACES the original
    publishEpoch(8L)
    assert(spark.read.format("graft").load(d).count() === 40,
      "replayed epoch must not duplicate rows")
    assert(graft.engine.ContainerIO.listNames(conf, s"$d/blocks")
      .count(_.endsWith(".gblk")) === 1,
      "the replaced attempt's container must be deleted")
    assert(graft.engine.ContainerIO.listNames(conf, s"$d/manifests")
      .count(_.endsWith(".json")) === 1)
  }

  test("concurrent index commits: OCC retries keep BOTH appends (no lost update)") {
    import graft.engine.{Manifests, TableManifest}
    val d = mkTableDir("graft-dsv2-occ")
    val conf = graft.engine.ContainerIO.localConf()
    def mk(name: String) = TableManifest(name, 0, 5L, 1, 10L, 8L, "",
      schemaCols = Seq("x" -> 0), digestCol = "content",
      chunkIndex = Seq(graft.engine.ChunkStats(
        ColumnarEngine.Magic.length + 1L, 8L, 5, Map.empty, Map.empty, Map.empty,
        Map.empty)))
    // deterministic interleave: A reads its snapshot, then B commits a
    // full snapshot BEFORE A writes — A's version claim must fail and
    // retry on top of B's. Round 4's read-modify-write lost B here.
    var fired = false
    Manifests.commitIndex(conf, d, old => {
      if (!fired) {
        fired = true
        Manifests.commitIndex(conf, d, o2 => o2 :+ mk("bbb"))
      }
      old :+ mk("aaa")
    })
    val names = Manifests.readCommitted(conf, d).map(_.name)
    assert(names.toSet === Set("aaa", "bbb"))
    // true thread contention on the create-if-absent primitive; a thread
    // that DIES mid-commit is a lost update too — surface its exception
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 6).map(i => new Thread(() => {
      try { Manifests.commitIndex(conf, d, old => old :+ mk(s"t$i")); () }
      catch { case t: Throwable => errs.add(t); () }
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, Option(errs.peek()).map(t =>
      s"commit thread died: $t\n  at ${t.getStackTrace.take(6).mkString("\n  at ")}")
      .getOrElse(""))
    val all = Manifests.readCommitted(conf, d).map(_.name).toSet
    assert(all === (Set("aaa", "bbb") ++ (0 until 6).map(i => s"t$i")),
      s"lost update under contention: $all")
    // superseded snapshots are TOMBSTONED past the retention window, not
    // deleted: every claimed version number stays pinned (deleting would
    // free the number for a stale committer to re-claim BELOW the max —
    // a silent lost update this very test caught). Within the window the
    // content is retained (time travel, round 8), so at most
    // SnapshotRetention + current carry payload.
    val idx = graft.engine.ContainerIO.listNames(conf, d)
      .filter(_.startsWith("_manifest-index"))
    val live = idx.filter(n =>
      java.nio.file.Files.size(java.nio.file.Paths.get(s"$d/$n")) > 0)
    assert(live.size <= graft.engine.Manifests.SnapshotRetention + 1,
      s"more retained snapshots than the retention window: $live")
    // this test commits 8 times (7 concurrent + 1 initial), all within
    // the retention window — every claimed version should carry payload
    assert(idx.nonEmpty && live.nonEmpty)
  }

  test("generic schemas: a user's own BIGINT/STRING table round-trips with pushdown") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType}
    val d = TestDirs.createTempDirectory("graft-dsv2-generic").toString
    val df = (0 until 500).map(i =>
      (i.toLong, s"cat${i % 7}", s"name-$i", (i * 37L) % 1000))
      .toDF("id", "category", "label", "score")
    df.orderBy("category", "id")
      .write.format("graft").option("chunkRows", "100").mode("overwrite").save(d)
    // schema inferred from the manifests — no user-supplied schema needed
    val back = spark.read.format("graft").load(d)
    assert(back.schema.fieldNames.toSeq === Seq("id", "category", "label", "score"))
    assert(back.schema.fields.map(_.dataType).toSeq ===
      Seq(LongType, StringType, StringType, LongType))
    assert(back.count() === 500)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    // string pushdown via chunk dicts (table is category-sorted) + long
    // zone maps, both exact
    val filtered = spark.read.format("graft").load(d)
      .filter(col("category") === "cat3")
    filtered.collect()
    assert(graftScan(filtered).description().contains("EqualTo(category,cat3)"))
    assert(filtered.count() === df.filter(col("category") === "cat3").count())
    assert(spark.read.format("graft").load(d).filter(col("score") > 500L).count()
      === df.filter(col("score") > 500L).count())
    // appends must match the committed schema
    val ex = intercept[Exception] {
      Seq((1L, "x")).toDF("id", "category")
        .write.format("graft").mode("append").save(d)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(ex).contains("schema mismatch"), s"got $ex")
    // a matching append lands
    df.limit(10).write.format("graft").mode("append").save(d)
    assert(spark.read.format("graft").load(d).count() === 510)
    // a non-representable type is rejected with a named column
    // (DOUBLE became kind 5 in round 7, BOOLEAN kind 9 in round 8 —
    // a MAP column is the probe now)
    val ex2 = intercept[Exception] {
      Seq((1L, Map("a" -> 1))).toDF("id", "meta")
        .write.format("graft").mode("overwrite").save(d)
    }
    assert(messages(ex2).contains("meta"), s"got $ex2")
    // an overwrite may REPLACE the schema
    Seq((1L, 9L)).toDF("a", "b").write.format("graft").mode("overwrite").save(d)
    assert(spark.read.format("graft").load(d).schema.fieldNames.toSeq === Seq("a", "b"))
  }

  test("generic schemas: pure-long table (no digest column) reads under CRC protection") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-dsv2-longs").toString
    val df = (0 until 300).map(i => (i.toLong, i * 2L, (i % 17).toLong))
      .toDF("a", "b", "c")
    df.coalesce(1)
      .write.format("graft").option("chunkRows", "300").mode("overwrite").save(d)
    val conf = graft.engine.ContainerIO.localConf()
    // index entries are chunk-elided (round 8): hydrate for chunk offsets
    val m = graft.engine.Manifests.readCommitted(conf, d)
      .map(graft.engine.Manifests.loadChunkIndex(conf, d, _)).head
    assert(m.digestCol === "", "pure-long schema has no digest column")
    assert(m.schemaCols === Seq(("a", 0), ("b", 0), ("c", 0)))
    val back = spark.read.format("graft").load(d)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    // integrity still enforced per block: flip a byte, drop the local FS
    // checksum sidecar, and the read fails on OUR CRC32C
    val f = java.nio.file.Paths.get(m.blockFile(d).stripPrefix("file:"))
    val bytes = java.nio.file.Files.readAllBytes(f)
    val at = m.chunkIndex.head.offset.toInt + 12
    bytes(at) = (bytes(at) ^ 0x5a).toByte
    java.nio.file.Files.write(f, bytes)
    java.nio.file.Files.deleteIfExists(
      f.getParent.resolve("." + f.getFileName.toString + ".crc"))
    val ex = intercept[Exception] {
      spark.read.format("graft").load(d).select("a").collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(ex).contains("CRC") || messages(ex).contains("implausible")
      || messages(ex).contains("length"), s"expected controlled failure, got $ex")
  }

  test("write clustering: option(\"sortBy\") prunes like a hand-sorted write") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val langs = Seq("en", "de", "fr", "zh", "es")
    // deliberately UNSORTED input: langs interleave row by row
    val df = (0 until 2000).map { i =>
      (i.toLong, langs(rnd.nextInt(5)), s"text body $i ${rnd.nextInt()}")
    }.toDF("id", "lang", "body")
    def admittedFraction(dir: String): Double = {
      val conf = graft.engine.ContainerIO.localConf()
      val total = graft.engine.Manifests.readCommitted(conf, dir)
        .map(_.chunkIndex.size).sum
      val filtered = spark.read.format("graft").load(dir)
        .filter(col("lang") === "zh").select("id")
      filtered.collect()
      val admitted = graftScan(filtered).planInputPartitions()
        .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
      admitted.toDouble / total
    }
    val dManual = TestDirs.createTempDirectory("graft-sortby-man").toString
    df.orderBy("lang", "id").coalesce(1)
      .write.format("graft").option("chunkRows", "200").mode("overwrite").save(dManual)
    val dOpt = TestDirs.createTempDirectory("graft-sortby-opt").toString
    df.write.format("graft").option("chunkRows", "200")
      .option("sortBy", "lang,id").mode("overwrite").save(dOpt)
    val dNone = TestDirs.createTempDirectory("graft-sortby-none").toString
    df.coalesce(1)
      .write.format("graft").option("chunkRows", "200").mode("overwrite").save(dNone)
    val (fOpt, fManual, fNone) =
      (admittedFraction(dOpt), admittedFraction(dManual), admittedFraction(dNone))
    // the declared ordering (Spark plans the exchange + sort) must prune
    // at least as hard as the hand-sorted write; the unsorted control
    // prunes nothing (every chunk's dict contains every lang)
    assert(fOpt <= fManual + 1e-9, s"sortBy option pruned $fOpt vs manual $fManual")
    assert(fNone > 0.9, s"control should admit ~all chunks, got $fNone")
    // and the clustered write still returns exactly the right rows
    assert(spark.read.format("graft").load(dOpt).filter(col("lang") === "zh").count()
      === df.filter(col("lang") === "zh").count())
    // bad column name is rejected up front
    val ex = intercept[Exception] {
      df.write.format("graft").option("sortBy", "nope").mode("overwrite")
        .save(TestDirs.createTempDirectory("graft-sortby-bad").toString)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(ex).contains("nope"))
  }

  test("IntegerType columns: kind-2 narrow blocks round-trip with pushdown") {
    import spark.implicits._
    import org.apache.spark.sql.types.IntegerType
    val d = TestDirs.createTempDirectory("graft-dsv2-ints").toString
    val df = (0 until 400).map(i => (i.toLong, i * 3, s"r$i")).toDF("id", "n", "tag")
    df.coalesce(1)
      .write.format("graft").option("chunkRows", "100").mode("overwrite").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.schema("n").dataType === IntegerType)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    // int comparisons are pushed (chunk zone maps + row re-check), exact
    val filtered = spark.read.format("graft").load(d).filter(col("n") > 900)
    filtered.collect()
    assert(graftScan(filtered).description().contains("GreaterThan(n,900)"))
    assert(filtered.count() === df.filter(col("n") > 900).count())
    // chunk pruning: n is monotone (chunk zone maps [0,297], [300,597],
    // [600,897], [900,1197]), so > 900 admits exactly the last chunk
    val admitted = graftScan(filtered).planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
    assert(admitted === 1, s"expected 1 of 4 chunks admitted, got $admitted")
    // the manifest records the narrow kind
    val m = graft.engine.Manifests.readCommitted(
      graft.engine.ContainerIO.localConf(), d).head
    // kinds are packed with the nullable flag (bit 7) since round 7;
    // compare the unpacked kind
    assert(m.schemaCols.map { case (n, k) => (n, k & 0x7f) } ===
      Seq(("id", 0), ("n", 2), ("tag", 1)))
    // MIN/MAX over the int column are manifest-answered, result stays i32
    val r = spark.read.format("graft").load(d).agg(min("n"), max("n")).collect()(0)
    assert(r.getInt(0) === 0 && r.getInt(1) === 1197)
  }

  test("temporal columns: TIMESTAMP_NTZ (kind 3) and DATE (kind 4) round-trip with pushdown") {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType}
    val d = TestDirs.createTempDirectory("graft-dsv2-temporal").toString
    // one row per hour from 2024-01-01T00:00 — ts is monotone, so the 4
    // chunks' micros zone maps are disjoint and pruning is provable
    val df = spark.range(400).select(
      col("id"),
      expr("timestampadd(HOUR, CAST(id AS INT), " +
        "CAST('2024-01-01 00:00:00' AS TIMESTAMP_NTZ))").as("ts"),
      concat(lit("tag"), col("id") % 5).as("tag"))
      .withColumn("day", to_date(col("ts")))
    df.coalesce(1)
      .write.format("graft").option("chunkRows", "100").mode("overwrite").save(d)
    val back = spark.read.format("graft").load(d)
    assert(back.schema("ts").dataType === TimestampNTZType)
    assert(back.schema("day").dataType === DateType)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    // the manifest records the temporal kinds
    val m = graft.engine.Manifests.readCommitted(
      graft.engine.ContainerIO.localConf(), d).head
    assert(m.schemaCols.map { case (n, k) => (n, k & 0x7f) } ===
      Seq(("id", 0), ("ts", 3), ("tag", 1), ("day", 4)))
    // ts range filters are PUSHED and prune chunks via the micros zone
    // maps: hours 0-99 / 100-199 / 200-299 / 300-399 per chunk, so a
    // >= hour-310 filter admits exactly the last chunk
    val cut = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(310)
    val filtered = spark.read.format("graft").load(d)
      .filter(col("ts") >= lit(cut))
    filtered.collect()
    assert(graftScan(filtered).description().contains("GreaterThanOrEqual(ts"))
    assert(filtered.count() === 90)
    val admitted = graftScan(filtered).planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
    assert(admitted === 1, s"expected 1 of 4 chunks admitted, got $admitted")
    // date filters push + prune through the days zone maps the same way
    val dayFiltered = spark.read.format("graft").load(d)
      .filter(col("day") > lit("2024-01-13").cast("date"))
    dayFiltered.collect()
    assert(graftScan(dayFiltered).description().contains("GreaterThan(day"))
    assert(dayFiltered.count() ===
      df.filter(col("day") > lit("2024-01-13").cast("date")).count())
    val dayAdmitted = graftScan(dayFiltered).planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
    assert(dayAdmitted === 1, s"day > Jan 13 spans hours 312+, got $dayAdmitted chunks")
    // MIN/MAX over temporal columns are manifest-answered in their own type
    val want = df.agg(min("ts"), max("ts"), min("day"), max("day")).collect()(0)
    val got = back.agg(min("ts"), max("ts"), min("day"), max("day")).collect()(0)
    assert(got === want)
    // temporal IN is pushed and chunk-pruned (regression: the generic
    // long/int IN guards matched the COLUMN first and rejected the
    // temporal value list before the temporal cases could fire)
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val tsIn = spark.read.format("graft").load(d)
      .filter(col("ts").isin(base.plusHours(5), base.plusHours(310)))
    tsIn.collect()
    assert(graftScan(tsIn).description().contains("In(ts"),
      s"ts IN not pushed: ${graftScan(tsIn).description()}")
    assert(tsIn.count() === 2)
    assert(graftScan(tsIn).planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum === 2,
      "hour 5 and hour 310 live in 2 of the 4 chunks")
    val dayIn = spark.read.format("graft").load(d)
      .filter(col("day").isin(java.sql.Date.valueOf("2024-01-02"),
        java.sql.Date.valueOf("2024-01-14")))
    dayIn.collect()
    assert(graftScan(dayIn).description().contains("In(day"),
      s"day IN not pushed: ${graftScan(dayIn).description()}")
    assert(dayIn.count() === 48)
  }

  test("narrow decode is overflow-checked: out-of-i32 values raise DecodeError") {
    // block-codec level: a well-formed varint beyond i32 must raise
    // Overflow (the reference's narrow-wrapper contract), truncation Eob
    val block = graft.codecs.IntCodecs.encode(Array(7L, 1L << 40, 3L), 3)
    val ovf = intercept[graft.core.DecodeError] {
      graft.codecs.IntCodecs.decodeSlice(block, 0, block.length)
    }
    assert(ovf.isInstanceOf[graft.core.DecodeError.Overflow], s"got $ovf")
    val ok = graft.codecs.IntCodecs.encode(Array(7L, -42L, Int.MaxValue.toLong), 3)
    assert(graft.codecs.IntCodecs.decodeSlice(ok, 0, ok.length).toSeq
      === Seq(7, -42, Int.MaxValue))
    intercept[graft.core.DecodeError] {
      graft.codecs.IntCodecs.decodeSlice(ok, 0, ok.length - 1) // truncated
    }
    // format level: a crafted container whose kind-2 block holds an
    // overflowing value fails the read with DecodeError, never a wrong int
    val d = TestDirs.createTempDirectory("graft-int-ovf").toString
    // the crafted file plus its one chunk range, right after the prelude
    // (magic + a one-byte part id), as a manifest would index it
    def crafted(name: String, kind2Block: Array[Byte]): (String, Seq[ChunkSpec]) = {
      val w = new graft.core.BlockWriter(256)
      w.putBytes(ColumnarEngine.Magic)
      w.putVarint(0L) // part id
      w.putVarint(3L) // chunk rows
      w.putVarint(1L) // one column
      val nm = "x".getBytes("UTF-8")
      w.putVarint(nm.length.toLong); w.putBytes(nm)
      w.putByte(2) // kind 2 = i32
      w.putVarint(kind2Block.length.toLong); w.putBytes(kind2Block)
      w.putBytes(new Array[Byte](32)) // digest (no string columns)
      val file = s"$d/$name.gblk"
      val bytes = w.result()
      java.nio.file.Files.write(java.nio.file.Paths.get(file), bytes)
      val pre = ColumnarEngine.Magic.length + 1
      (file, Seq(ChunkSpec(pre, bytes.length - pre, 3, Map.empty)))
    }
    val shipped = graft.engine.ContainerIO.shippedConf(spark)
    val (craftedFile, craftedChunks) = crafted("crafted", block)
    val cursor = new ChunkCursor(craftedFile, craftedChunks,
      Map("x" -> Lane.Ints), shipped.value.conf, digestCol = "")
    try intercept[graft.core.DecodeError] { cursor.chunkIter.next() }
    finally cursor.close()
    // lane mismatch: a valid kind-2 block read as a BIGINT column fails
    // the controlled missing-column require, never a ClassCastException
    // or NullPointerException
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val asLong = StructType(Seq(StructField("x", LongType, nullable = false)))
    val (mismatchFile, mismatchChunks) = crafted("lane-mismatch", ok)
    val reader = new GraftColumnarReader(
      GraftInputPartition(mismatchFile, mismatchChunks, digestCol = ""),
      asLong, Array.empty, GraftDataSource.layoutOf(asLong), shipped,
      Int.MaxValue)
    val e = try intercept[IllegalArgumentException] { reader.next() }
      finally reader.close()
    assert(e.getMessage.contains("missing/short long column x"), e.getMessage)
  }

  test("aggregate pushdown over an empty table: count 0, null min/max") {
    val d = TestDirs.createTempDirectory("graft-dsv2-empty").toString
    graft.engine.ContainerIO.mkdirs(graft.engine.ContainerIO.localConf(), s"$d/blocks")
    graft.engine.ContainerIO.mkdirs(graft.engine.ContainerIO.localConf(), s"$d/manifests")
    val r = spark.read.format("graft").load(d)
      .agg(count(lit(1)), min("hash64")).collect()(0)
    assert(r.getLong(0) === 0L)
    assert(r.isNullAt(1), "min over an empty table must be null")
  }

  test("fuzz: bit-flipped/truncated containers never crash the DSv2 reader") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val conf = graft.engine.ContainerIO.localConf()
    val block = graft.engine.ContainerIO
      .listNames(conf, s"$dir/blocks").filter(_.endsWith(".gblk")).head
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/blocks/$block"))
    val tmp = TestDirs.createTempFile("graft-dsv2-fuzz", ".gblk")
    val schema = StructType(Seq(StructField("repo", StringType),
      StructField("hash64", LongType)))
    val chunks = chunkRanges(dir, block)
    // the columnar reader over the container's own indexed chunk ranges,
    // unverified: no content digest, no block CRCs shielding the flips
    def readAll(): Unit = {
      val r = new GraftColumnarReader(
        GraftInputPartition(tmp.toString, chunks, digestCol = ""), schema,
        Array.empty, GraftDataSource.layoutOf(schema),
        graft.engine.ContainerIO.shippedConf(spark), Int.MaxValue)
      try while (r.next()) r.get() finally r.close()
    }
    def controlled(ctx: String)(f: => Any): Unit =
      try { f; () }
      catch {
        case _: graft.core.DecodeError => ()
        case _: IllegalArgumentException => () // require-failure
        case e: Throwable =>
          fail(s"uncontrolled ${e.getClass.getName}: ${e.getMessage} on $ctx", e)
      }
    val rnd = new scala.util.Random(13)
    var k = 0
    while (k < 300) {
      val m = bytes.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      java.nio.file.Files.write(tmp, m)
      controlled(s"reader mut $k")(readAll())
      val cut = 1 + rnd.nextInt(bytes.length)
      java.nio.file.Files.write(tmp, java.util.Arrays.copyOf(bytes, cut))
      controlled(s"reader trunc $k")(readAll())
      k += 1
    }
  }

  test("fuzz: bit-flipped kind-2 int containers fail controlled (Overflow/Eob/require)") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-int-fuzz").toString
    (0 until 200).map(i => (i - 100, i.toLong)).toDF("n", "id")
      .coalesce(1)
      .write.format("graft").option("chunkRows", "200").mode("overwrite").save(d)
    val conf = graft.engine.ContainerIO.localConf()
    val block = graft.engine.ContainerIO
      .listNames(conf, s"$d/blocks").filter(_.endsWith(".gblk")).head
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$d/blocks/$block"))
    val tmp = TestDirs.createTempFile("graft-int-fuzz", ".gblk")
    val chunks = chunkRanges(d, block)
    val rnd = new scala.util.Random(29)
    var k = 0
    while (k < 200) {
      val m = bytes.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      java.nio.file.Files.write(tmp, m)
      try {
        // direct chunk reader (no manifest CRCs shielding the flip):
        // every outcome must be correct data or a typed decode failure
        val cursor = new ChunkCursor(tmp.toString, chunks, Map("n" -> Lane.Ints),
          ContainerIO.localConf(), digestCol = "")
        try while (cursor.chunkIter.hasNext) cursor.chunkIter.next()
        finally cursor.close()
      } catch {
        case _: graft.core.DecodeError => ()
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"uncontrolled ${e.getClass.getName}: ${e.getMessage} on mut $k", e)
      }
      k += 1
    }
  }

  test("fuzz: corrupted manifests/chunk indexes never crash reads uncontrolled") {
    val d = TestDirs.createTempDirectory("graft-dsv2-mfuzz").toString
    ColumnarEngine.derive(SourceTable.synthesize(spark, 120, 2))
      .coalesce(1)
      .write.format("graft").option("chunkRows", "40").mode("overwrite").save(d)
    val conf = graft.engine.ContainerIO.localConf()
    val mf = graft.engine.ContainerIO.listNames(conf, s"$d/manifests")
      .filter(_.endsWith(".json")).head
    val mfPath = java.nio.file.Paths.get(s"$d/manifests/$mf")
    val orig = new String(java.nio.file.Files.readAllBytes(mfPath), "UTF-8")
    val idxName = graft.engine.ContainerIO.listNames(conf, d)
      .filter(_.startsWith("_manifest-index")).head
    val idxPath = java.nio.file.Paths.get(s"$d/$idxName")
    val origIdx = java.nio.file.Files.readAllBytes(idxPath)
    // a mutated manifest NAME resolves to a nonexistent block file: the
    // reader's controlled snapshot-superseded error is the right shape
    // for "the file this (corrupt) snapshot references is gone"
    def isControlled(t: Throwable): Boolean =
      t.isInstanceOf[graft.core.DecodeError] ||
        t.isInstanceOf[IllegalArgumentException] ||
        (t.isInstanceOf[IllegalStateException] &&
          Option(t.getMessage).exists(_.contains("snapshot superseded"))) ||
        // a byte flip inside a schema column NAME in the summary index
        // (mostly schema text since round 8's chunk elision) yields a
        // well-formed table whose columns differ — the read fails at
        // ANALYSIS with Spark's unresolved-column error, the controlled
        // shape for "this snapshot declares a different schema"
        t.isInstanceOf[org.apache.spark.sql.AnalysisException]
    def controlled(ctx: String)(f: => Any): Unit =
      try { f; () }
      catch {
        case e: Throwable if isControlled(e) => ()
        case e: org.apache.spark.SparkException => // task failure wrapper
          def ok(t: Throwable): Boolean = t != null &&
            (isControlled(t) || ok(t.getCause))
          assert(ok(e), s"uncontrolled failure on $ctx: $e")
        case e: Throwable =>
          fail(s"uncontrolled ${e.getClass.getName}: ${e.getMessage} on $ctx")
      }
    def writeNoSidecar(path: java.nio.file.Path, bytes: Array[Byte]): Unit = {
      java.nio.file.Files.write(path, bytes)
      java.nio.file.Files.deleteIfExists(
        path.getParent.resolve("." + path.getFileName.toString + ".crc"))
    }
    val rnd = new scala.util.Random(23)
    // corrupt chunk-index numbers: offsets/lengths/rows/CRCs point at the
    // wrong bytes — reads must fail controlled or return correct data,
    // never OOB/EOF-crash
    var k = 0
    while (k < 40) {
      val mutated = orig.replaceAll("\"offset\":(\\d+)",
        s""""offset":${rnd.nextInt(1 << 20)}""")
        .replaceAll("\"length\":(\\d+)", s""""length":${rnd.nextInt(1 << 16)}""")
      writeNoSidecar(mfPath, mutated.getBytes("UTF-8"))
      java.nio.file.Files.deleteIfExists(idxPath) // force manifest re-read
      controlled(s"chunk-range mut $k") {
        spark.read.format("graft").load(d).select("len_content").collect()
      }
      k += 1
    }
    // corrupt random manifest bytes (may break the JSON itself)
    k = 0
    while (k < 40) {
      val b = orig.getBytes("UTF-8").clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      writeNoSidecar(mfPath, b)
      java.nio.file.Files.deleteIfExists(idxPath)
      try spark.read.format("graft").load(d).select("lang").collect()
      catch { case _: Throwable => () } // any failure fine, just no JVM crash/OOM
      k += 1
    }
    // restore the manifest, then fuzz the INDEX SNAPSHOT itself: a
    // corrupt index must fail controlled (IllegalArgumentException —
    // never a raw parser exception escaping the read path)
    writeNoSidecar(mfPath, orig.getBytes("UTF-8"))
    k = 0
    while (k < 30) {
      val b = origIdx.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      writeNoSidecar(idxPath, b)
      controlled(s"index mut $k") {
        spark.read.format("graft").load(d).select("len_content").collect()
      }
      k += 1
    }
    // an index that parses as JSON but is not the shape the writer
    // produces is corrupt too: read as an empty table, the next commit
    // would publish that emptiness over every existing container
    def causedBy[T](t: Throwable)(implicit ct: scala.reflect.ClassTag[T]): Boolean =
      t != null && (ct.runtimeClass.isInstance(t) || causedBy[T](t.getCause))
    for (bad <- Seq("{\"version\":1}", "{\"version\":2,\"manifests\":[]}", "[]")) {
      writeNoSidecar(idxPath, bad.getBytes("UTF-8"))
      val re = intercept[IllegalArgumentException] {
        spark.read.format("graft").load(d).select("len_content").collect()
      }
      assert(re.getMessage.contains("corrupt manifest index"), re.getMessage)
      val we = intercept[Exception] {
        ColumnarEngine.derive(SourceTable.synthesize(spark, 10, 1))
          .write.format("graft").mode("append").save(d)
      }
      assert(causedBy[IllegalArgumentException](we), s"append over $bad: $we")
      assert(graft.engine.ContainerIO.listNames(conf, d)
        .filter(_.startsWith("_manifest-index")) === Seq(idxName),
        s"an append over the corrupt index $bad committed a new snapshot")
    }
    // restore: the table reads clean again
    writeNoSidecar(mfPath, orig.getBytes("UTF-8"))
    writeNoSidecar(idxPath, origIdx)
    assert(spark.read.format("graft").load(d).count() === 120)
  }

  test("overwrite replaces the table") {
    val d = TestDirs.createTempDirectory("graft-dsv2-ow").toString
    val a = ColumnarEngine.derive(SourceTable.synthesize(spark, 100, 2))
    a.write.format("graft").mode("overwrite").save(d)
    val b = ColumnarEngine.derive(SourceTable.synthesize(spark, 40, 2))
    b.write.format("graft").mode("overwrite").save(d)
    assert(spark.read.format("graft").load(d).count() === 40)
  }

  test("chunk-granular splits: one container plans many partitions; zone maps skip chunks") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-dsv2-chunks").toString
    // ONE container of 6 chunks (100 rows each), range-sorted on hash64 so
    // per-chunk zone maps are disjoint
    ColumnarEngine.derive(SourceTable.synthesize(spark, 600, 3))
      .orderBy(col("hash64")).coalesce(1)
      .write.format("graft").option("chunkRows", "100").mode("overwrite").save(d)
    assert(graft.engine.ContainerIO.listNames(
      graft.engine.ContainerIO.localConf(), s"$d/blocks")
      .count(_.endsWith(".gblk")) === 1, "expected a single container")
    // a 1-container table parallelizes: one input partition PER CHUNK
    val unfiltered = spark.read.format("graft")
      .option("maxSplitBytes", "1").load(d)
    unfiltered.collect()
    assert(graftScan(unfiltered).planInputPartitions().length === 6,
      "maxSplitBytes=1 must split at chunk granularity")
    // median filter: range-disjoint chunks are PRUNED, results exact
    val vals = spark.read.format("graft").load(d)
      .select("hash64").as[Long].collect().sorted
    val cut = vals(vals.length / 2)
    val f = spark.read.format("graft").option("maxSplitBytes", "1").load(d)
      .filter(col("hash64") > cut)
    val got = f.select("hash64").as[Long].collect().sorted
    assert(got.toSeq === vals.filter(_ > cut).toSeq)
    val planned = graftScan(f).planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
    assert(planned < 6 && planned >= 3,
      s"median filter should prune ~half the 6 range-disjoint chunks, decoded $planned")
  }

  test("string filter pushdown: lang equality prunes chunks via dicts, stays exact") {
    import spark.implicits._
    val d = TestDirs.createTempDirectory("graft-dsv2-str").toString
    // sort by lang so per-chunk dicts are selective
    ColumnarEngine.derive(SourceTable.synthesize(spark, 600, 3))
      .orderBy(col("lang"), col("path")).coalesce(1)
      .write.format("graft").option("chunkRows", "100").mode("overwrite").save(d)
    val langs = spark.read.format("graft").load(d)
      .select("lang").distinct().as[String].collect().sorted
    val pick = langs.head
    val f = spark.read.format("graft").option("maxSplitBytes", "1").load(d)
      .filter(col("lang") === pick)
    val got = f.select("path").as[String].collect().sorted
    val want = spark.read.format("graft").load(d)
      .filter(col("lang") === pick).select("path").as[String].collect().sorted
    assert(got.toSeq === want.toSeq)
    val scan = graftScan(f)
    assert(scan.description().contains(s"EqualTo(lang,$pick)"),
      s"lang filter must be pushed: ${scan.description()}")
    val planned = scan.planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
    assert(planned < 6, s"lang dicts should prune chunks, decoded $planned of 6")
    assert(got.nonEmpty, "picked lang must exist")
    // IN pushdown on a string column prunes too and stays exact
    val in2 = spark.read.format("graft").option("maxSplitBytes", "1").load(d)
      .filter(col("lang").isin(langs.take(2): _*))
    assert(in2.count() ===
      spark.read.format("graft").load(d)
        .filter(col("lang").isin(langs.take(2): _*)).count())
    assert(graftScan(in2).description().contains("In(lang"),
      graftScan(in2).description())
  }

  test("reads are vectorized: the scan emits ColumnarBatches (ColumnarToRow in plan)") {
    val df = spark.read.format("graft").load(dir).select("lang", "len_content")
    df.collect()
    val hasC2R = df.queryExecution.executedPlan.collect {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => c
    }.nonEmpty
    assert(hasC2R, "expected a columnar scan (ColumnarToRow above BatchScan):\n" +
      df.queryExecution.executedPlan.toString.take(600))
    // filters + limit compose with the columnar path and stay exact
    val lim = spark.read.format("graft").load(dir)
      .filter(col("len_content") >= 0L).limit(9)
    assert(lim.count() === 9)
  }

  test("long IN pushdown: pushed, chunk-pruned, exact") {
    import spark.implicits._
    val vals = spark.read.format("graft").load(dir)
      .select("hash64").as[Long].collect().sorted
    val picks = Seq(vals.head, vals.last)
    val df = spark.read.format("graft").load(dir)
      .filter(col("hash64").isin(picks: _*))
    val got = df.select("hash64").as[Long].collect().sorted
    assert(got.toSeq === picks.sorted, "pushed IN must stay exact")
    val scan = graftScan(df)
    assert(scan.description().contains("In(hash64"),
      s"long IN must be pushed: ${scan.description()}")
    // min+max only: the middle range-layout containers are pruned
    assert(scan.planInputPartitions().length < 4,
      "IN zone-map admission should skip containers holding neither value")
  }

  test("runtime filtering (DPP shape): broadcast-join keys prune chunks") {
    import org.apache.spark.sql.sources.{In => SIn}
    val d = TestDirs.createTempDirectory("graft-dsv2-dpp").toString
    ColumnarEngine.derive(SourceTable.synthesize(spark, 600, 3))
      .orderBy(col("repo_code")).coalesce(1)
      .write.format("graft").option("chunkRows", "100").mode("overwrite").save(d)
    // unit surface: a runtime In on repo_code shrinks the planned chunks
    val df = spark.read.format("graft").option("maxSplitBytes", "1").load(d)
    df.collect()
    val scan = graftScan(df)
    val before = scan.planInputPartitions().length
    assert(before === 6)
    val lo = spark.read.format("graft").load(d)
      .agg(min("repo_code")).collect()(0).getLong(0)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      SIn("repo_code", Array(java.lang.Long.valueOf(lo)))))
    val after = scan.planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].chunks.size).sum
    assert(after < before, s"runtime In must prune chunks: $after of $before")
    // end-to-end: broadcast join against a tiny dim stays exact
    import spark.implicits._
    val dim = Seq(lo).toDF("repo_code")
    val joined = spark.read.format("graft").load(d)
      .join(broadcast(dim), Seq("repo_code"))
      .agg(count(lit(1))).collect()(0).getLong(0)
    val want = spark.read.format("graft").load(d)
      .filter(col("repo_code") === lo).count()
    assert(joined === want)
  }

  test("manifests without a required field are rejected, naming the field") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val d = TestDirs.createTempDirectory("graft-dsv2-legacy").toString
    val derived = ColumnarEngine.derive(SourceTable.synthesize(spark, 150, 2))
    derived.write.format("graft").mode("overwrite").save(d)
    // strip the round-4 fields from every manifest + drop the index,
    // simulating a round-3-written table
    val conf = graft.engine.ContainerIO.localConf()
    val om = new ObjectMapper()
    graft.engine.ContainerIO.listNames(conf, s"$d/manifests")
      .filter(_.endsWith(".json")).foreach { n =>
        val p = java.nio.file.Paths.get(s"$d/manifests/$n")
        val root = om.readTree(new String(java.nio.file.Files.readAllBytes(p)))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        // legacy block files were named by the numeric part id
        val legacyName = root.get("part").asLong().toString
        java.nio.file.Files.move(
          java.nio.file.Paths.get(s"$d/blocks/part-${root.get("name").asText()}.gblk"),
          java.nio.file.Paths.get(s"$d/blocks/part-$legacyName.gblk"))
        root.remove("chunkIndex"); root.remove("name")
        java.nio.file.Files.delete(p)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$d/manifests/part-$legacyName.json"),
          root.toString.getBytes("UTF-8"))
      }
    def dropIndex(table: String): Unit =
      graft.engine.ContainerIO.listNames(conf, table)
        .filter(_.startsWith("_manifest-index"))
        .foreach(n => java.nio.file.Files.delete(java.nio.file.Paths.get(s"$table/$n")))
    dropIndex(d)
    // DSv2 read and engine decode both reject the table, naming the
    // first missing field — never a silent whole-file stream
    def rejects(field: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException] { f; () }
      assert(e.getMessage.contains(s"lacks required field \"$field\""), e.getMessage)
    }
    rejects("name")(spark.read.format("graft").load(d).count())
    rejects("name")(ColumnarEngine.decode(spark, d).count())
    // each remaining required field alone, on a current table: through the
    // listing (index dropped) and, for the chunk index, through an intact
    // index whose elided entries hydrate from the stripped markers
    val d2 = TestDirs.createTempDirectory("graft-dsv2-required").toString
    derived.write.format("graft").mode("overwrite").save(d2)
    val markers = graft.engine.ContainerIO.listNames(conf, s"$d2/manifests")
      .filter(_.endsWith(".json")).map { n =>
        val p = java.nio.file.Paths.get(s"$d2/manifests/$n")
        java.nio.file.Files.deleteIfExists(p.resolveSibling(s".$n.crc"))
        p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      }
    val idx = graft.engine.ContainerIO.listNames(conf, d2)
      .filter(_.startsWith("_manifest-index")).map { n =>
        val p = java.nio.file.Paths.get(s"$d2/$n")
        java.nio.file.Files.deleteIfExists(p.resolveSibling(s".$n.crc"))
        p -> java.nio.file.Files.readAllBytes(p)
      }
    for (field <- Seq("chunkIndex", "schema", "digestCol")) {
      markers.foreach { case (p, json) =>
        val root = om.readTree(json)
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        root.remove(field)
        java.nio.file.Files.write(p, root.toString.getBytes("UTF-8"))
      }
      if (field == "chunkIndex") {
        // an intact index answers count() from its summaries (no chunk
        // index read), so both reads decode rows here
        rejects(field)(spark.read.format("graft").load(d2).collect())
        rejects(field)(ColumnarEngine.decode(spark, d2).collect())
      }
      dropIndex(d2)
      rejects(field)(spark.read.format("graft").load(d2).count())
      rejects(field)(ColumnarEngine.decode(spark, d2).count())
      idx.foreach { case (p, b) => java.nio.file.Files.write(p, b) }
    }
  }

  test("orphan containers (no manifest) are invisible to every read path") {
    val d = TestDirs.createTempDirectory("graft-dsv2-orphan").toString
    ColumnarEngine.derive(SourceTable.synthesize(spark, 100, 2))
      .write.format("graft").mode("overwrite").save(d)
    val before = spark.read.format("graft").load(d).count()
    // simulate a crash between container write and manifest publication
    val conf = graft.engine.ContainerIO.localConf()
    val block = graft.engine.ContainerIO.listNames(conf, s"$d/blocks")
      .filter(_.endsWith(".gblk")).head
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/blocks/$block"),
      java.nio.file.Paths.get(s"$d/blocks/part-deadbeef-9.gblk"))
    assert(spark.read.format("graft").load(d).count() === before,
      "orphan container must not be scanned")
    // pushed COUNT(*) (manifest-answered) agrees with the full scan
    val pushed = spark.read.format("graft").load(d)
      .agg(count(lit(1))).collect()(0).getLong(0)
    assert(pushed === before, "manifest-answered count must match the scan")
  }

  test("failed overwrite preserves the previous table (job-level commit)") {
    val d = TestDirs.createTempDirectory("graft-dsv2-atomic").toString
    val a = ColumnarEngine.derive(SourceTable.synthesize(spark, 100, 2))
    a.write.format("graft").mode("overwrite").save(d)
    val poisoned = ColumnarEngine.derive(SourceTable.synthesize(spark, 50, 2)).toDF()
      .withColumn("content", when(col("len_content") >= 0L,
        raise_error(lit("poison"))).otherwise(col("content")))
    intercept[Exception] {
      poisoned.write.format("graft").mode("overwrite").save(d)
    }
    val back = spark.read.format("graft").load(d)
    assert(back.count() === 100, "failed overwrite must leave the old table intact")
    assert(back.toDF().except(a.toDF()).isEmpty, "old rows must be unchanged")
  }

  test("block CRCs catch corruption on PRUNED reads (no content digest in play)") {
    val d = TestDirs.createTempDirectory("graft-dsv2-crc").toString
    ColumnarEngine.derive(SourceTable.synthesize(spark, 300, 2))
      .coalesce(1)
      .write.format("graft").option("chunkRows", "300").mode("overwrite").save(d)
    val crcConf = graft.engine.ContainerIO.localConf()
    // index entries are chunk-elided (round 8): hydrate for chunk offsets
    val m = graft.engine.Manifests.readCommitted(crcConf, d)
      .map(graft.engine.Manifests.loadChunkIndex(crcConf, d, _)).head
    val chunk = m.chunkIndex.head
    val f = java.nio.file.Paths.get(m.blockFile(d).stripPrefix("file:"))
    val bytes = java.nio.file.Files.readAllBytes(f)
    // flip a byte in the FIRST column block (len_content: header is
    // ~17 bytes of varints + name; its block spans well past +30)
    val at = chunk.offset.toInt + 30
    bytes(at) = (bytes(at) ^ 0x5a).toByte
    java.nio.file.Files.write(f, bytes)
    // drop the local filesystem's own checksum sidecar so the flip
    // reaches OUR layer (on object stores there is no sidecar at all)
    java.nio.file.Files.deleteIfExists(
      f.getParent.resolve("." + f.getFileName.toString + ".crc"))
    val ex = intercept[Exception] {
      spark.read.format("graft").load(d).select("len_content").collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(ex).contains("CRC") || messages(ex).contains("implausible")
      || messages(ex).contains("length"),
      s"expected a controlled CRC/validation failure, got $ex")
  }
}
