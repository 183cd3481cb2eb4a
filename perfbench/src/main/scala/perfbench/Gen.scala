package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of the seed, so
  * the same seed gives the same tables on any run.
  */
object Gen {

  /** Lineitem-shaped numeric table: BIGINT/INT/DOUBLE/TIMESTAMP_NTZ columns
    * plus low-cardinality strings and a short free-text comment. Rows
    * `firstId until firstId + rows` are generated; `l_key` (`4 * id` plus a
    * jitter below 4) is unique and increases with the row id.
    */
  def lineitem(spark: SparkSession, rows: Long, seed: Long, parts: Int,
               firstId: Long = 0L): DataFrame = {
    val id = col("id")
    def h(k: Int): Column = xxhash64(id, lit(seed), lit(k))
    def u(k: Int, m: Long): Column = pmod(h(k), lit(m))
    def pick(k: Int, vals: Seq[String]): Column =
      element_at(array(vals.map(lit): _*), (u(k, vals.size) + 1).cast("int"))
    val words = Seq("quick", "regular", "final", "pending", "ironic", "bold",
      "careful", "express", "silent", "even", "blithe", "furious", "special",
      "unusual", "deposits", "packages", "accounts", "requests", "theodolites",
      "pinto", "beans", "foxes", "ideas", "dolphins", "instructions", "asymptotes",
      "platelets", "courts", "frets", "sauternes", "warhorses", "dugouts")
    spark.range(firstId, firstId + rows, 1, parts).select(
      (id * 4 + u(1, 4)).as("l_key"),
      (id.divide(5)).cast("long").as("l_orderkey"),
      u(2, 200000).cast("int").as("l_partkey"),
      u(3, 10000).cast("int").as("l_suppkey"),
      (pmod(id, lit(7L)) + 1).cast("int").as("l_linenumber"),
      (u(4, 50) + 1).cast("double").as("l_quantity"),
      (u(5, 10000000L) / 100.0).as("l_extendedprice"),
      (u(6, 11) / 100.0).as("l_discount"),
      (u(7, 9) / 100.0).as("l_tax"),
      timestamp_seconds(lit(694224000L) + u(8, 2500) * 86400 + u(9, 86400))
        .cast("timestamp_ntz").as("l_shipdate"),
      pick(10, Seq("A", "N", "R")).as("l_returnflag"),
      pick(11, Seq("F", "O")).as("l_linestatus"),
      pick(12, Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")).as("l_shipmode"),
      pick(13, Seq("COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"))
        .as("l_shipinstruct"),
      concat_ws(" ", pick(14, words), pick(15, words), pick(16, words), pick(17, words))
        .as("l_comment"))
  }

  /** The code table from the engine's own synthesizer. */
  def codeTable(spark: SparkSession, rows: Long, seed: Long, parts: Int): DataFrame =
    graft.engine.SourceTable.synthesize(spark, rows, parts, seed).toDF()

  /** Raw input bytes of a frame: 8 per BIGINT/DOUBLE/TIMESTAMP, 4 per INT,
    * UTF-8 length per string, 4 per float element of an array.
    */
  def rawBytes(df: DataFrame): Long = {
    val terms = df.schema.fields.map { f =>
      f.dataType match {
        case StringType => octet_length(col(f.name)).cast("long")
        case IntegerType => lit(4L)
        case ArrayType(FloatType, _) => (size(col(f.name)) * 4).cast("long")
        case _ => lit(8L)
      }
    }
    df.select(sum(terms.reduce(_ + _))).head().getLong(0)
  }

  /** Order-independent row checksum: row count and the XOR of `xxhash64`
    * over all columns (the tables checked hold no duplicate rows).
    */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.toSeq.map(col): _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  // ------------------------------------------------------------ neardup

  /** Documents corpus with planted near-duplicate clusters: `docs` texts of
    * 60-120 words over a 4000-word vocabulary; a fifth of the documents
    * are edited copies (3-12% of words replaced) of an earlier one.
    */
  def documents(n: Int, seed: Long): Array[String] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 17L)
    val vocab = Array.tabulate(4000)(i => s"w${Integer.toString(i * 2654435 + 97, 36)}")
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      if (i > 8 && rnd.nextInt(5) == 0) {
        val words = out(rnd.nextInt(i)).split(" ")
        val edit = 0.03 + rnd.nextDouble() * 0.09
        var w = 0
        while (w < words.length) {
          if (rnd.nextDouble() < edit) words(w) = vocab(rnd.nextInt(vocab.length))
          w += 1
        }
        out(i) = words.mkString(" ")
      } else {
        val len = 60 + rnd.nextInt(61)
        out(i) = Array.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      i += 1
    }
    out
  }

  /** 64-dim embeddings with planted clusters: a quarter of the vectors are
    * a random earlier vector plus small noise (cosine above ~0.97).
    */
  def embeddings(n: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new java.util.SplittableRandom(seed * 104729L + 3L)
    val out = new Array[Array[Float]](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i > 8 && rnd.nextInt(4) == 0) {
          val base = out(rnd.nextInt(i))
          Array.tabulate(dim)(d => (base(d) + (rnd.nextDouble() - 0.5) * 0.06).toFloat)
        } else Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
      i += 1
    }
    out
  }

  def documentsFrame(spark: SparkSession, docs: Array[String]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.indices.map(i => Row(i.toLong, docs(i))): _*),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))

  def embeddingsFrame(spark: SparkSession, vecs: Array[Array[Float]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(vecs.indices.map(i =>
        Row(i.toLong, vecs(i).toSeq)): _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false),
          nullable = false))))
}
