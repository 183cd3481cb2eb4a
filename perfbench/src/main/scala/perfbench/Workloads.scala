package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{ColumnarEngine, SourceFile}
import graft.ops.{Dedup, Similarity}
import graft.sources.GraftMaintenance

object Workloads {
  val names = Seq("ingest", "scan", "point", "neardup")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new Ingest(ctx)
    case "scan" => new Scan(ctx)
    case "point" => new Point(ctx)
    case "neardup" => new NearDup(ctx)
  }

  def expect(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new AssertionError(msg)

  def rows(n: Double, scale: Double, min: Long): Long = math.max((n * scale).toLong, min)

  /** Sum of bytes over the timed operations of the given shapes, per
    * second of their wall time; 0 when one of them failed.
    */
  def mbPerS(timed: Seq[(String, Double)], bytes: Map[String, Long]): Double = {
    val t = timed.filter(x => bytes.contains(x._1))
    if (t.isEmpty || t.exists(_._2.isInfinite)) 0.0
    else t.map(x => bytes(x._1)).sum / 1e6 / (t.map(_._2).sum / 1e3)
  }

  def lat(timed: Seq[(String, Double)], shapes: String => Boolean): Seq[Double] =
    timed.filter(x => shapes(x._1)).map(_._2)
}

import Workloads._

/** Repeated append passes of the code table and the lineitem-shaped table,
  * each pass also running one engine encode of a code batch.
  */
final class Ingest(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._
  private val a = ctx.args
  private val cores = spark.sparkContext.defaultParallelism
  private val codeRows = rows(4000, a.scale, 40)
  private val liRows = rows(150000, a.scale, 1000)
  private val encRows = rows(2000, a.scale, 40)
  private var code: DataFrame = _
  private var li: DataFrame = _
  private var enc: DataFrame = _
  private var expCode, expLi, expEnc = (0L, 0L)
  private var raw = Map.empty[String, Long]

  def prepare(): Unit = {
    code = Gen.codeTable(spark, codeRows, a.seed, cores).persist(StorageLevel.MEMORY_ONLY)
    li = Gen.lineitem(spark, liRows, a.seed, cores).persist(StorageLevel.MEMORY_ONLY)
    enc = Gen.codeTable(spark, encRows, a.seed + 1, cores).persist(StorageLevel.MEMORY_ONLY)
    expCode = Gen.checksum(code)
    expLi = Gen.checksum(li)
    expEnc = Gen.checksum(enc)
    if (a.corrupt) expCode = (expCode._1, expCode._2 + 1)
    raw = Map("append_code" -> Gen.rawBytes(code), "append_lineitem" -> Gen.rawBytes(li),
      "engine_encode" -> Gen.rawBytes(enc))
  }

  private def pass(df: DataFrame, p: Int) = df.withColumn("pass", lit(p))

  // set-up creates both tables with pass -1; the loop appends pass 0, 1, ...
  def setup(dir: String): Unit = {
    pass(code, -1).write.format("graft").mode("append").save(s"$dir/code")
    pass(li, -1).write.format("graft").mode("append").save(s"$dir/lineitem")
  }

  def tables(dir: String): Seq[(String, Long)] =
    Seq(s"$dir/code" -> raw("append_code"), s"$dir/lineitem" -> raw("append_lineitem"))

  def samples: Seq[DataFrame] = Seq(code, li)

  def sizes: Map[String, Long] = Map("code_rows_per_pass" -> codeRows,
    "lineitem_rows_per_pass" -> liRows, "encode_rows_per_pass" -> encRows,
    "raw_bytes_per_pass" -> raw.values.sum)

  private def checkPass(path: String, p: Int, exp: (Long, Long)): Unit = {
    val got = Gen.checksum(ctx.read(path).where(col("pass") === p).drop("pass"))
    expect(got == exp, s"pass $p of $path: (rows, checksum) $got, expected $exp")
  }

  private def append(shape: String, df: DataFrame, path: String, p: Int,
                     exp: (Long, Long)) =
    Op(shape, "write", Some(path), _ => {
      pass(df, p).write.format("graft").mode("append").save(path)
      () => checkPass(path, p, exp)
    })

  def rotation(dir: String, round: Int): Seq[Op] = Seq(
    append("append_code", code, s"$dir/code", round, expCode),
    append("append_lineitem", li, s"$dir/lineitem", round, expLi),
    Op("engine_encode", "write", None, _ => {
      val out = s"$dir/encode-$round"
      val parts = ColumnarEngine.encode(ColumnarEngine.derive(enc.as[SourceFile]), out, cores)
      () => {
        expect(parts.map(_.rows).sum == expEnc._1, s"encode wrote ${parts.map(_.rows).sum} rows")
        val got = Gen.checksum(ColumnarEngine.readColumns(spark, out,
          Seq("repo", "path", "commit", "lang", "content")))
        expect(got == expEnc, s"encode round trip $got, expected $expEnc")
        Files.deleteTree(out)
      }
    }))

  def report(timed: Seq[(String, Double)]): Map[String, Double] =
    Map("ingest_mb_s" -> mbPerS(timed, raw))
}

/** Full decodes and residual filters that prune no chunk, over the code
  * table and the lineitem-shaped table.
  */
final class Scan(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val a = ctx.args
  private val cores = spark.sparkContext.defaultParallelism
  private val codeRows = rows(6000, a.scale, 40)
  private val liRows = rows(300000, a.scale, 1000)
  private var code: DataFrame = _
  private var li: DataFrame = _
  private var raw = Map.empty[String, Long]
  private var expected = Map.empty[String, (Long, Long)]
  // passes keep getting faster for the first ~15 s of rotations, while the
  // JIT compiles the decode paths
  override def warmSeconds: Double = 12.0

  private def digest(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L)))

  // filter constants come from the seed; none of them can prune a chunk:
  // lang and l_shipmode are unsorted and every chunk holds every value,
  // and every chunk spans the whole price range
  private val rnd = new java.util.SplittableRandom(a.seed)
  private val langs = Seq("py", "go", "rust", "java", "c", "ts")
  private val lang2 = { val i = rnd.nextInt(langs.size); Seq(langs(i), langs((i + 3) % langs.size)) }
  private val modes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val mode = modes(rnd.nextInt(modes.size))
  private val priceLo = rnd.nextInt(90000).toDouble
  private lazy val queries: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("decode_code", "code", df => digest(df, df.columns.toSeq)),
    ("decode_lineitem", "lineitem", df => digest(df, df.columns.toSeq)),
    ("filter_code_lang", "code",
      df => digest(df.where(col("lang").isin(lang2: _*)), Seq("repo", "path", "commit"))),
    ("filter_lineitem_mode", "lineitem",
      df => digest(df.where(col("l_shipmode") === mode), Seq("l_key", "l_extendedprice", "l_comment"))),
    ("filter_lineitem_price", "lineitem",
      df => digest(df.where(col("l_extendedprice") >= priceLo && col("l_extendedprice") < priceLo + 5000),
        Seq("l_key", "l_shipdate", "l_quantity"))))

  private def frame(t: String) = if (t == "code") code else li

  def prepare(): Unit = {
    code = Gen.codeTable(spark, codeRows, a.seed, cores).persist(StorageLevel.MEMORY_ONLY)
    li = Gen.lineitem(spark, liRows, a.seed, cores).persist(StorageLevel.MEMORY_ONLY)
    raw = Map("code" -> Gen.rawBytes(code), "lineitem" -> Gen.rawBytes(li))
    expected = queries.map { case (shape, t, q) =>
      val r = q(frame(t)).collect()(0)
      shape -> (r.getLong(0), r.getLong(1))
    }.toMap
    if (a.corrupt) expected += "decode_code" -> (expected("decode_code")._1 + 1, expected("decode_code")._2)
  }

  def setup(dir: String): Unit = {
    code.write.format("graft").mode("append").save(s"$dir/code")
    li.write.format("graft").mode("append").save(s"$dir/lineitem")
  }

  def tables(dir: String): Seq[(String, Long)] =
    Seq(s"$dir/code" -> raw("code"), s"$dir/lineitem" -> raw("lineitem"))

  def samples: Seq[DataFrame] = Seq(code, li)

  def sizes: Map[String, Long] = Map("code_rows" -> codeRows, "lineitem_rows" -> liRows)

  def rotation(dir: String, round: Int): Seq[Op] = queries.map { case (shape, t, q) =>
    Op(shape, "read", Some(s"$dir/$t"), probe => {
      val r = probe.plan(q(ctx.read(s"$dir/$t"))).collect()(0)
      val got = (r.getLong(0), r.getLong(1))
      probe.rowsOut = got._1
      () => expect(got == expected(shape), s"$shape: $got, expected ${expected(shape)}")
    })
  }

  def report(timed: Seq[(String, Double)]): Map[String, Double] = {
    val f = lat(timed, _.startsWith("filter_"))
    Map("scan_mb_s" -> mbPerS(timed, Map("decode_code" -> raw("code"),
      "decode_lineitem" -> raw("lineitem"))),
      "filter_ms_p50" -> Stats.pct(f, 50), "filter_ms_p90" -> Stats.pct(f, 90))
  }
}

/** Zipf-skewed point and narrow-range lookups on a key-sorted table built
  * from many appends, with small upserts and deletes beside them. Every
  * result is checked against an in-memory model (key -> row hash) that
  * applies the same mutations.
  */
final class Point(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val a = ctx.args
  private val cores = spark.sparkContext.defaultParallelism
  private val nRows = rows(200000, a.scale, 2000)
  private val appends = 4
  private val containersPerAppend = 32
  private var base: DataFrame = _
  private var cols: Seq[String] = Nil
  private var keys: Array[Long] = Array.empty
  private var initial = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
  private var model = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
  private var pool: Array[Row] = Array.empty
  private var zipfCdf: Array[Double] = Array.empty
  private var raw = 0L
  private var fresh = 0L

  def prepare(): Unit = {
    base = Gen.lineitem(spark, nRows, a.seed, cores).persist(StorageLevel.MEMORY_ONLY)
    cols = base.columns.toSeq
    base.select(col("l_key"), xxhash64(cols.map(col): _*)).collect().foreach(r =>
      initial.put(r.getLong(0), r.getLong(1)))
    keys = initial.keySet().asScala.toArray.map(_.longValue)
    // replacement rows for upserts, keyed at run time
    pool = Gen.lineitem(spark, 2048, a.seed + 1, 1).collect()
    val w = Array.tabulate(keys.length)(i => 1.0 / math.pow(i + 1, 1.1))
    val tot = w.sum
    var acc = 0.0
    zipfCdf = w.map { x => acc += x / tot; acc }
    raw = Gen.rawBytes(base)
  }

  /** A zipf-ranked position, spread over the key space so that hot keys
    * fall in different containers.
    */
  private def hotPos(rnd: java.util.SplittableRandom): Int = {
    var r = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    if (r < 0) r = -r - 1
    (((r.toLong * 2654435761L) + a.seed) % keys.length + keys.length).toInt % keys.length
  }

  def setup(dir: String): Unit = {
    val path = s"$dir/point"
    // append i writes rows [i * n / appends, (i + 1) * n / appends) from
    // generator partitions that each hold a contiguous, sorted id range, so
    // every container holds a disjoint key range and no shuffle is needed
    (0 until appends).foreach { i =>
      val first = i * nRows / appends
      Gen.lineitem(spark, (i + 1) * nRows / appends - first, a.seed, containersPerAppend, first)
        .write.format("graft").mode("append").option("chunkRows", "2048").save(path)
    }
    model = new java.util.TreeMap(initial)
    fresh = keys.last + 4
  }

  def tables(dir: String): Seq[(String, Long)] = Seq(s"$dir/point" -> raw)

  def samples: Seq[DataFrame] = Seq(base)

  def sizes: Map[String, Long] = Map("point_rows" -> nRows,
    "point_appends" -> appends.toLong, "point_containers_per_append" -> containersPerAppend.toLong)

  private def hashed(df: DataFrame) = df.select(col("l_key"), xxhash64(cols.map(col): _*))

  private def lookup(path: String, shape: String, lo: Long, hi: Long): Op =
    Op(shape, "read", Some(path), probe => {
      val pred = if (hi == lo + 1) col("l_key") === lo else col("l_key") >= lo && col("l_key") < hi
      val got = probe.plan(hashed(ctx.read(path).where(pred))).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
      probe.rowsOut = got.size
      () => {
        val exp = model.subMap(lo, hi).asScala.toSeq.map(e => e._1.longValue -> e._2.longValue)
        expect(got == exp, s"$shape [$lo, $hi): ${got.size} rows, expected ${exp.size}")
      }
    })

  def rotation(dir: String, round: Int): Seq[Op] = {
    val path = s"$dir/point"
    val rnd = new java.util.SplittableRandom(a.seed * 1000003L + round)
    def eq() = { val k = keys(hotPos(rnd)); lookup(path, "lookup_eq", k, k + 1) }
    def range() = { val k = keys(hotPos(rnd)); lookup(path, "lookup_range", k, k + 256) }
    val upsert = {
      // ten existing keys from one hot region and ten fresh keys
      val p = math.min(hotPos(rnd), keys.length - 10)
      val ks = (0 until 10).map(i => keys(p + i)) ++ (0 until 10).map(i => fresh + 4L * i)
      fresh += 40
      val src = spark.createDataFrame(ks.zipWithIndex.map { case (k, i) =>
        val r = pool((round * 20 + i) % pool.length)
        Row.fromSeq(k +: r.toSeq.tail)
      }.asJava, base.schema)
      val srcHash = hashed(src).collect().map(r => r.getLong(0) -> r.getLong(1))
      Op("upsert", "mutate", Some(path), _ => {
        val (replaced, appended) = GraftMaintenance.upsert(spark, path, src, Seq("l_key"))
        () => {
          val expReplaced = ks.count(k => model.containsKey(k)).toLong
          val expAppended = if (a.corrupt) ks.size + 1L else ks.size.toLong
          expect((replaced, appended) == (expReplaced, expAppended),
            s"upsert returned ($replaced, $appended), expected ($expReplaced, $expAppended)")
          srcHash.foreach { case (k, h) => model.put(k, h) }
        }
      })
    }
    val delete = {
      val k = keys(hotPos(rnd))
      Op("delete", "mutate", Some(path), _ => {
        val n = GraftMaintenance.delete(spark, path, s"l_key >= $k AND l_key < ${k + 32}")
        () => {
          val doomed = model.subMap(k, k + 32)
          expect(n == doomed.size, s"delete [$k, ${k + 32}) removed $n rows, expected ${doomed.size}")
          doomed.clear()
        }
      })
    }
    // 10 lookups and 2 mutations per rotation
    Seq(eq(), eq(), range(), eq(), upsert, eq(), range(), eq(), eq(), delete, range(), eq())
  }

  def report(timed: Seq[(String, Double)]): Map[String, Double] = {
    val l = lat(timed, _.startsWith("lookup_"))
    val m = lat(timed, s => s == "upsert" || s == "delete")
    Map("lookup_ms_p50" -> Stats.pct(l, 50), "lookup_ms_p95" -> Stats.pct(l, 95),
      "mutate_ms_p50" -> Stats.pct(m, 50), "mutate_ms_p90" -> Stats.pct(m, 90))
  }
}

/** Near-duplicate and similarity operators over a documents corpus and an
  * embeddings set, both with planted clusters and stored as graft tables.
  */
final class NearDup(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val a = ctx.args
  private val nDocs = rows(2000, a.scale, 60).toInt
  private val nVecs = rows(4000, a.scale, 120).toInt
  private val dim = 64
  private val k = 5
  private val lshT = 0.7
  private val ngramT = 0.5
  private val embT = 0.95
  private var docs: Array[String] = Array.empty
  private var vecs: Array[Array[Float]] = Array.empty
  private var queryIds: Array[Int] = Array.empty
  private var exact5 = Map.empty[(Long, Long), Double]
  private var exact3 = Map.empty[(Long, Long), Double]
  private var exactEmb = Map.empty[(Long, Long), Double]
  private var topK = Map.empty[Long, Seq[(Long, Double)]]
  private var raw = Map.empty[String, Long]
  private val recalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  // passes keep getting faster for the first ~25 s of rotations, while the
  // JIT compiles the operators' code
  override def warmSeconds: Double = 20.0

  def prepare(): Unit = {
    docs = Gen.documents(nDocs, a.seed)
    vecs = Gen.embeddings(nVecs, dim, a.seed)
    queryIds = (0 until 32).map(i => i * nVecs / 32).toArray
    exact5 = Oracle.jaccardPairs(docs.map(Oracle.grams(_, 5)), lshT)
    exact3 = Oracle.jaccardPairs(docs.map(Oracle.grams(_, 3)), ngramT)
    if (a.corrupt) exact3 += (-1L, -2L) -> 1.0
    exactEmb = Oracle.cosinePairs(vecs, embT)
    topK = queryIds.map(q => q.toLong -> Oracle.topK(vecs, q, k)).toMap
    raw = Map("docs" -> Gen.rawBytes(Gen.documentsFrame(spark, docs)),
      "embeddings" -> Gen.rawBytes(Gen.embeddingsFrame(spark, vecs)),
      "queries" -> Gen.rawBytes(Gen.embeddingsFrame(spark, queryIds.map(vecs))))
  }

  def setup(dir: String): Unit = {
    Gen.documentsFrame(spark, docs).write.format("graft").mode("append").save(s"$dir/docs")
    Gen.embeddingsFrame(spark, vecs).write.format("graft").mode("append").save(s"$dir/embeddings")
    spark.createDataFrame(queryIds.map(q => Row(q.toLong, vecs(q).toSeq)).toSeq.asJava,
      Gen.embeddingsFrame(spark, Array.empty).schema).write.format("graft").mode("append").save(s"$dir/queries")
  }

  def tables(dir: String): Seq[(String, Long)] =
    Seq("docs", "embeddings", "queries").map(t => s"$dir/$t" -> raw(t))

  def samples: Seq[DataFrame] = Seq(Gen.documentsFrame(spark, docs))

  def sizes: Map[String, Long] = Map("documents" -> nDocs.toLong, "embeddings" -> nVecs.toLong,
    "queries" -> queryIds.length.toLong, "exact_lsh_pairs" -> exact5.size.toLong,
    "exact_ngram_pairs" -> exact3.size.toLong, "exact_embedding_pairs" -> exactEmb.size.toLong)

  private def pairsOf(df: DataFrame): Map[(Long, Long), Double] = {
    val out = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    df.unpersist()
    out
  }

  /** LSH output: every pair must be a true pair with its exact score;
    * recall against the exact answer is recorded, not checked.
    */
  private def checkLsh(shape: String, got: Map[(Long, Long), Double],
                       exact: Map[(Long, Long), Double]): Unit = {
    got.foreach { case (p, s) =>
      expect(exact.get(p).exists(e => math.abs(e - s) < 1e-6), s"$shape: false pair $p ($s)")
    }
    recalls.getOrElseUpdate(shape, mutable.ArrayBuffer.empty) +=
      (if (exact.isEmpty) 1.0 else got.size.toDouble / exact.size)
  }

  private def checkTopK(shape: String, got: Array[Row]): Unit = {
    val byQ = got.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(2)).map(r => (r.getLong(1), r.getDouble(3))).toSeq
    }
    expect(byQ.keySet == topK.keySet, s"$shape: queries ${byQ.size}, expected ${topK.size}")
    topK.foreach { case (q, exp) =>
      val g = byQ(q)
      expect(g.size == exp.size && g.zip(exp).forall { case ((gi, gc), (ei, ec)) =>
        math.abs(gc - ec) < 1e-9 && (gi == ei || math.abs(gc - ec) < 1e-12)
      }, s"$shape: query $q got $g, expected $exp")
    }
  }

  def rotation(dir: String, round: Int): Seq[Op] = {
    def docsDf = ctx.read(s"$dir/docs")
    def embDf = ctx.read(s"$dir/embeddings")
    def qDf = ctx.read(s"$dir/queries")
    Seq(
      Op("minhash_lsh", "similarity", None, probe => {
        val got = pairsOf(Dedup.minhashLsh(docsDf, "doc_id", "text", threshold = lshT))
        probe.pairsOut = got.size
        () => checkLsh("minhash_lsh", got, exact5)
      }),
      Op("ngram_jaccard", "similarity", None, probe => {
        val got = pairsOf(Dedup.ngramJaccard(docsDf, "doc_id", "text", 3, ngramT))
        probe.pairsOut = got.size
        () => expect(got.keySet == exact3.keySet && got.forall { case (p, s) =>
          math.abs(exact3(p) - s) < 1e-9 }, s"ngram_jaccard: ${got.size} pairs, expected ${exact3.size}")
      }),
      Op("brute_topk", "similarity", None, probe => {
        val got = Similarity.bruteForceTopK(embDf, qDf, k, "vec_id", "embedding").collect()
        probe.pairsOut = got.length
        () => checkTopK("brute_topk", got)
      }),
      Op("ivf_topk", "similarity", None, probe => {
        val got = Similarity.ivfTopK(embDf, qDf, k, dim, nlist = 16, nprobe = 16,
          idCol = "vec_id", vecCol = "embedding").collect()
        probe.pairsOut = got.length
        () => checkTopK("ivf_topk", got)
      }),
      Op("embedding_neardup", "similarity", None, probe => {
        val got = pairsOf(Dedup.embeddingNearDup(embDf, "vec_id", "embedding", dim, embT))
        probe.pairsOut = got.size
        () => checkLsh("embedding_neardup", got, exactEmb)
      }))
  }

  def recall(shape: String): Double =
    recalls.get(shape).map(r => r.sum / r.size).getOrElse(0.0)

  def report(timed: Seq[(String, Double)]): Map[String, Double] = {
    val perPass = timed.grouped(5).filter(_.size == 5).map(_.map(_._2).sum / 1e3).toSeq
    Map("neardup_s" -> Stats.median(perPass), "lsh_recall" -> recall("minhash_lsh"),
      "embedding_recall" -> recall("embedding_neardup"))
  }
}

/** Exact answers, computed on the driver independently of the operators. */
object Oracle {
  /** Distinct word k-grams; a text shorter than k words is one gram. */
  def grams(text: String, k: Int): Array[String] = {
    val w = text.split(" ")
    val n = math.max(w.length - k + 1, 1)
    (0 until n).map(i => w.slice(i, i + k).mkString(" ")).distinct.toArray
  }

  /** All pairs with Jaccard >= t, via an inverted index on grams (a pair
    * with Jaccard > 0 shares a gram).
    */
  def jaccardPairs(sets: Array[Array[String]], t: Double): Map[(Long, Long), Double] = {
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    sets.indices.foreach(i => sets(i).foreach(g =>
      index.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += i))
    val hs = sets.map(_.toSet)
    val out = mutable.HashMap.empty[(Long, Long), Double]
    sets.indices.foreach { i =>
      val cand = sets(i).iterator.flatMap(index(_)).filter(_ > i).toSet
      cand.foreach { j =>
        val inter = hs(i).count(hs(j).contains)
        val jac = inter.toDouble / (hs(i).size + hs(j).size - inter)
        if (jac >= t) out((i.toLong, j.toLong)) = jac
      }
    }
    out.toMap
  }

  def cos(x: Array[Float], y: Array[Float]): Double = {
    var d = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < x.length) {
      d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i)
      i += 1
    }
    d / (math.sqrt(nx) * math.sqrt(ny))
  }

  def cosinePairs(v: Array[Array[Float]], t: Double): Map[(Long, Long), Double] = {
    val out = mutable.HashMap.empty[(Long, Long), Double]
    var i = 0
    while (i < v.length) {
      var j = i + 1
      while (j < v.length) {
        val c = cos(v(i), v(j))
        if (c >= t) out((i.toLong, j.toLong)) = c
        j += 1
      }
      i += 1
    }
    out.toMap
  }

  def topK(v: Array[Array[Float]], q: Int, k: Int): Seq[(Long, Double)] =
    v.indices.filter(_ != q).map(j => (j.toLong, cos(v(q), v(j))))
      .sortBy(x => (-x._2, x._1)).take(k)
}

