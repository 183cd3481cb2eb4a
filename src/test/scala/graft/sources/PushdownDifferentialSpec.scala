package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{SparkTestSession, TestDirs}

/** Differential check of filter pushdown over every column kind: seeded
  * random `=`, `<`, `<=`, `>`, `>=`, IN and IS [NOT] NULL filters, with
  * constants drawn from the data, chunk boundary values and edge values
  * (NaN, ±0.0, ±Inf, a DECIMAL beyond long range, non-ASCII strings),
  * must select exactly the rows Spark's own evaluation of the same filter
  * selects over the same rows in memory. The table has NULLs in every
  * nullable column, small chunks and two containers, so container and
  * chunk admission, the bucket-free proofs and the row check all take
  * part.
  */
class PushdownDifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val ChunkRows = 32
  private val Rows = 320

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),                     // 0
    StructField("content", StringType, nullable = true),               // 1
    StructField("n32", IntegerType, nullable = true),                  // 2
    StructField("ts", TimestampNTZType, nullable = true),              // 3
    StructField("day", DateType, nullable = true),                     // 4
    StructField("score", DoubleType, nullable = true),                 // 5
    StructField("payload", BinaryType, nullable = true),               // 6
    StructField("vec", ArrayType(FloatType, containsNull = false),
      nullable = true),                                                // 7
    StructField("price", DecimalType(12, 3), nullable = true),         // 8
    StructField("flag", BooleanType, nullable = true),                 // 9
    StructField("f32", FloatType, nullable = true),                    // 10
    StructField("tag", StringType, nullable = false)))

  private val words = Seq("alpha", "beta", "gamma", "δέλτα", "日本語", "emoji😀", "zeta", "")
  private val tsBase = java.time.LocalDateTime.of(2024, 3, 1, 0, 0)
  private val dayBase = java.time.LocalDate.of(2024, 1, 1)

  /** Values follow the row order with some jitter, so chunk zone maps and
    * dictionaries differ and prune; each nullable column is NULL at its
    * own stride, and f32 across the whole first chunk.
    */
  private val rows: Seq[Row] = {
    val rnd = new scala.util.Random(20261019L)
    (0 until Rows).map { i =>
      def nul(stride: Int): Boolean = i % stride == stride - 1
      val score: Any =
        if (i % 37 == 0) Double.NaN else if (i % 41 == 0) -0.0
        else if (i % 43 == 0) 0.0 else if (i == 100) Double.PositiveInfinity
        else if (i == 200) Double.NegativeInfinity
        else (i - 160) * 0.75 + rnd.nextDouble()
      val f32: Any =
        if (i % 29 == 0) Float.NaN else if (i % 31 == 0) -0.0f
        else if (i % 47 == 0) 0.0f else if (i == 150) Float.PositiveInfinity
        else (i - 160) * 0.5f + rnd.nextFloat()
      Row(
        i.toLong,
        if (nul(7)) null else words((i / ChunkRows + rnd.nextInt(3)) % words.size),
        if (nul(5)) null else if (i == 3) Int.MinValue else if (i == 316) Int.MaxValue
          else i * 10 + rnd.nextInt(10) - 5,
        if (nul(6)) null else tsBase.plusMinutes(i * 3L + rnd.nextInt(5)),
        if (nul(8)) null else dayBase.plusDays(i / 2L),
        if (nul(4)) null else score,
        if (nul(3)) null else Array.fill(rnd.nextInt(6))(rnd.nextInt(256).toByte),
        if (nul(9)) null else Array.fill(1 + rnd.nextInt(3))(rnd.nextFloat()).toSeq,
        if (nul(10)) null else java.math.BigDecimal.valueOf(i * 1250L + rnd.nextInt(1000), 3),
        if (nul(11)) null else i % 3 == 0,
        if (i < ChunkRows || nul(2)) null else f32,
        s"t${i / 64}")
    }
  }

  /** Edge constants per column, beyond the values the rows hold. */
  private val edges: Map[String, Seq[Any]] = Map(
    "id" -> Seq(Long.MinValue, Long.MaxValue, -1L, Rows.toLong),
    "content" -> Seq("δέλτα", "日本語", "emoji😀", "", "nope", "Ω"),
    "n32" -> Seq(Int.MinValue, Int.MaxValue, 0),
    "ts" -> Seq(tsBase, tsBase.minusDays(1), tsBase.plusYears(1)),
    "day" -> Seq(dayBase, dayBase.minusDays(1), dayBase.plusYears(5)),
    "score" -> Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity),
    "price" -> Seq(new java.math.BigDecimal("1e30"), new java.math.BigDecimal("-1e30"),
      new java.math.BigDecimal("12.3456"), java.math.BigDecimal.ZERO),
    "flag" -> Seq(true, false),
    "f32" -> Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity, Float.NegativeInfinity),
    "tag" -> Seq("t0", "t4", "t9", "é"))

  /** Columns whose values order (every comparison applies); binary and
    * float arrays only take IS [NOT] NULL.
    */
  private val valued = Seq("id", "content", "n32", "ts", "day", "score", "price",
    "flag", "f32", "tag")

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def pushedCount(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
      .collect { case s: GraftScan => s.description() }
      .map(d => "PushedFilters: \\[(.*?)\\]".r.findFirstMatchIn(d)
        .map(_.group(1)).filter(_.nonEmpty).fold(0)(_ => 1))
      .sum

  test("seeded random pushed filters over every kind equal Spark's " +
    "evaluation of the same filter in memory") {
    val d = TestDirs.createTempDirectory("graft-pushdiff").toString
    // two containers of ten chunks in total
    rows.grouped(Rows / 2).foreach { part =>
      spark.createDataFrame(spark.sparkContext.parallelize(part, 1), schema)
        .write.format("graft").option("chunkRows", ChunkRows.toString)
        .mode("append").save(d)
    }
    val graft = spark.read.format("graft").load(d)
    val memory = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    assert(ids(graft) === ids(memory))

    val rnd = new scala.util.Random(16L)
    val idx = schema.fieldNames.zipWithIndex.toMap
    // a constant for column c: a row's value, a chunk boundary's, or an edge
    def constant(c: String): Any = {
      def at(i: Int): Any = rows(i).get(idx(c))
      val v = rnd.nextInt(3) match {
        case 0 => at(rnd.nextInt(Rows))
        case 1 => at(rnd.nextInt(Rows / ChunkRows) * ChunkRows +
          (if (rnd.nextBoolean()) 0 else ChunkRows - 1))
        case _ => edges(c)(rnd.nextInt(edges(c).size))
      }
      if (v == null) edges(c).head else v
    }
    def filterOn(c: String): Column = {
      val lane = col(c)
      if (!valued.contains(c)) {
        if (rnd.nextBoolean()) lane.isNull else lane.isNotNull
      } else rnd.nextInt(9) match {
        case 0 | 1 => lane === lit(constant(c))
        case 2 => lane < lit(constant(c))
        case 3 => lane <= lit(constant(c))
        case 4 => lane > lit(constant(c))
        case 5 => lane >= lit(constant(c))
        case 6 => lane.isin(Seq.fill(1 + rnd.nextInt(4))(constant(c)): _*)
        case 7 => lane.isNull
        case _ => lane.isNotNull
      }
    }
    var checked = 0
    var pushed = 0
    (0 until 160).foreach { k =>
      val c1 = schema.fieldNames(rnd.nextInt(schema.size))
      val f = if (k % 4 == 3)
        filterOn(c1) && filterOn(schema.fieldNames(rnd.nextInt(schema.size)))
      else filterOn(c1)
      val got = graft.filter(f)
      assert(ids(got) === ids(memory.filter(f)), s"filter #$k: $f")
      checked += 1
      pushed += pushedCount(got)
    }
    // the comparison must exercise pushdown, not only Spark's residuals
    assert(pushed >= checked / 2, s"only $pushed of $checked filters pushed")
  }
}
