package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity search over an embedding column (`array<float>`).
  * All math is built from codegen'd collection functions (`zip_with`,
  * `aggregate`) — no UDFs on the hot path.
  */
object Similarity {

  /** Dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Codegen'd single-pass cosine ([[graft.functions.CosineSim]]) for the
    * candidate-scoring hot paths (tens of millions of rows at SF); the
    * declarative [[cosine]] stays as the independently-derived
    * cross-check used by the recall tests.
    */
  private def cosineFast(df: DataFrame)(a: Column, b: Column): Column = {
    graft.functions.CosineSim.register(df.sparkSession)
    graft.functions.CosineSim.cosineSim(a, b)
  }

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Exact brute-force top-k cosine neighbors for each query vector.
    *
    * Scale shape: the query set is broadcast (queries are the small side
    * by construction); the corpus streams through one codegen'd stage and
    * the only shuffle is the per-query top-k window, which carries k' =
    * corpus×queries/parallelism candidate rows — at 100 TB you'd cap the
    * candidates per partition first (see [[lshTopK]] for the scale path).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    // no input widening here (cf. lshTopK): the corpus-side work is one
    // fused cosine pass, so an extra exchange costs more than the
    // parallelism returns on a narrow input
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineFast(corpus)(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** Deterministic random hyperplanes for sign-LSH: plane p, dim d ->
    * component from a splitmix64 of (seed, p, d), mapped to [-1, 1).
    */
  private[ops] def hyperplane(seed: Long, p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      var h = seed + p.toLong * 0x9e3779b97f4a7c15L + d.toLong * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      h = h ^ (h >>> 31)
      (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }

  /** Sign-LSH bucket id: `planes` hyperplane sign bits packed into a long.
    * Pure Catalyst expression over the embedding array. `table` selects an
    * independent hyperplane family (plane indices t*planes .. t*planes+b-1)
    * for multi-table amplification.
    */
  def lshBucket(vec: Column, dim: Int, planes: Int = 12, seed: Long = 42L,
                table: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      val plane = hyperplane(seed, table * planes + p, dim)
      val planeCol = array(plane.toIndexedSeq.map(lit): _*)
      when(dot(asDouble(vec), planeCol) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** (table, bucket) struct array over `tables` independent sign-LSH
    * tables — the classic OR-amplification: a pair is a candidate if it
    * collides in ANY table, so recall for a pair with per-plane agreement
    * p is 1 - (1 - p^planes)^tables instead of a single table's p^planes.
    * Fewer planes -> denser buckets; more tables -> more recall and a
    * `tables`x corpus shuffle. Tune (planes, tables) to the similarity
    * regime: true near-dups (cos >= 0.9) need few tables at planes=12;
    * moderate-similarity top-k (random-ish corpora) needs short codes and
    * more tables.
    */
  def lshTables(vec: Column, dim: Int, planes: Int, tables: Int,
                seed: Long = 42L): Column =
    array((0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        lshBucket(vec, dim, planes, seed, t).as("bucket"))
    }: _*)

  /** Deterministic driver-side Lloyd's k-means over a bounded sample —
    * the IVF coarse quantizer. Sample size is capped (default 2048
    * vectors), so driver memory is bounded at any corpus scale.
    */
  private[ops] def kmeans(sample: Array[Array[Double]], nlist: Int,
                          iters: Int = 8, seed: Long = 42L): Array[Array[Double]] = {
    require(sample.nonEmpty)
    val dim = sample(0).length
    val rnd = new java.util.Random(seed)
    val centroids = Array.tabulate(nlist)(i => sample(
      if (sample.length >= nlist) (i.toLong * sample.length / nlist).toInt
      else rnd.nextInt(sample.length)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Long](nlist)
      for (v <- sample) {
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < nlist) {
          var d = 0.0
          var j = 0
          while (j < dim) { val x = v(j) - centroids(c)(j); d += x * x; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
      }
      var c = 0
      while (c < nlist) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centroids(c)(j) = sums(c)(j) / counts(c); j += 1 }
        } // empty list: keep previous centroid (deterministic)
        c += 1
      }
      it += 1
    }
    centroids
  }

  /** IVF (inverted-file) ANN — the second scale path next to [[lshTopK]]:
    * a k-means coarse quantizer (trained once on a bounded sample)
    * partitions the corpus into `nlist` lists; each query probes only its
    * `nprobe` nearest lists with exact cosine. Corpus assignment is one
    * codegen'd pass (argmax over `nlist` literal-centroid dot products —
    * no UDF), shuffled once by list id; with `nprobe == nlist` the search
    * is exhaustive and equals [[bruteForceTopK]] (tested).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nlist: Int = 16, nprobe: Int = 4, sampleSize: Int = 2048,
              seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    // deterministic AND representative bounded sample: global top-K by
    // xxhash64(id) is a distributed TakeOrdered (bounded driver memory at
    // any corpus scale) and, unlike lowest-ids (round 2), is unbiased
    // w.r.t. any id-correlated structure in the data
    val sample = corpus
      .select(xxhash64(col(idCol), lit(seed)).as("_h"),
        col(vecCol).cast("array<double>").as("_v")) // float or double input
      .orderBy(col("_h")).limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "ivfTopK: empty corpus")
    require(sample(0).length == dim,
      s"ivfTopK: dim=$dim but ${vecCol} has ${sample(0).length} components")
    val centroids = kmeans(sample, nlist, seed = seed)
    // list assignment is ONE fused native pass per row
    // ([[graft.functions.IvfLists]]): ranks lists by squared L2 distance
    // via <v,c> - |c|^2/2 (|v|^2 is constant per row). The declarative
    // form this replaced (nlist separate aggregate-over-zip_with dots
    // per row — the shape the round-5 LshProbes rewrite killed for e3)
    // stays in OpsSpec as the independently-derived parity cross-check.
    graft.functions.IvfLists.register(corpus.sparkSession)
    val centsSeq: Seq[Seq[Double]] = centroids.toIndexedSeq.map(_.toIndexedSeq)
    // no input widening (cf. lshTopK): ivf_lists assignment is one fused
    // pass — the exchange would cost more than it parallelizes
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("list", element_at(
        graft.functions.IvfLists.ivfLists(col("cv"), centsSeq, 1), 1).cast("long"))
    val q0 = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      // probe the nprobe best lists, in ranked order
      .withColumn("list", explode(
        graft.functions.IvfLists.ivfLists(col("qv"), centsSeq, nprobe)))
      .withColumn("list", col("list").cast("long"))
    val scored = c.join(broadcast(q0), Seq("list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineFast(corpus)(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }

  /** ANN via multi-table sign-LSH bucketing: candidates are corpus
    * vectors sharing the query's bucket in ANY of `tables` independent
    * tables (plus optional hamming-1 multiprobe buckets per table),
    * ranked by exact cosine.
    *
    * This is the 100 TB path: the corpus is bucketed once (shuffle ∝
    * tables × corpus size, reusable across query batches) and each query
    * touches only its buckets' candidates instead of the full corpus.
    * Recall for a per-plane agreement p is 1 - (1 - q)^tables with
    * q ≈ p^planes · (1 + planes·(1-p)/p) under multiprobe — measured
    * ≥ 0.95 at (planes=5, tables=16) for moderate-similarity top-5 on
    * the near-random test embeddings (the hardest regime; true near-dup
    * corpora reach the same recall with planes=12 and a few tables).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              planes: Int = 12, multiprobe: Boolean = true, tables: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(planes >= 1 && planes <= 62 && tables >= 1)
    graft.functions.LshProbes.register(corpus.sparkSession)
    // native one-pass bucketing ([[graft.functions.LshProbes]]): buckets
    // are bit-identical to the declarative lshTables (tested), without
    // the tables x planes intermediate zip_with arrays per row. Queries
    // probe every hamming-1 flip (classic multiprobe — the query side is
    // tiny, so probe volume is cheap here, unlike the all-pairs near-dup).
    def buckets(vec: Column, nProbes: Int) = explode(
      graft.functions.LshProbes.lshProbes(vec, dim, planes, tables, nProbes, 42L))
    // input-skew guard shared with the dedup operators (Dedup.widen)
    val c = Dedup.widen(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"))
      .withColumn("tb", buckets(col("cv"), 0))
      .select(col("neighbor_id"), col("cv"), col("tb.tbl"), col("tb.bucket"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("tb", buckets(col("qv"), if (multiprobe) planes else 0))
      .select(col("query_id"), col("qv"), col("tb.tbl"), col("tb.bucket"))
    val scored = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // score BEFORE the pair dedup so the dedup exchange carries
      // (query_id, neighbor_id, cos) — never the vectors; a pair
      // colliding in several tables re-computes one cheap cosine instead
      // of shuffling 2×dim doubles, then must rank once, not once per
      // table (duplicates would break the top-k window)
      .withColumn("cos", cosineFast(corpus)(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
  }
}
