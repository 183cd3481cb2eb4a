package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SimHash64.simhash64

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup. All are
  * declarative DataFrame plans (inverted-index joins, not cross joins),
  * sized for the 100 TB case: nothing materializes O(n^2) pairs.
  */
object Dedup {

  /** Materialize `out` (persisted — the pair list is tiny next to the
    * corpus) and only THEN release the fat intermediates its plan consumed.
    * Round 2 left intermediates persisted forever: in any session running
    * several queries (exactly what Bench/Verify do) the leaked caches
    * squeezed later queries 4-14x. MLlib's `model.destroy()` shape, owned
    * by the op itself so callers can't forget.
    */
  private def materializeThenRelease(out: DataFrame,
                                     intermediates: DataFrame*): DataFrame = {
    val result = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count() // materialize while the intermediates are still cached
    intermediates.foreach(_.unpersist(blocking = false))
    result
  }

  /** Input-skew guard (round 10, guide §2.5): a corpus arriving in far
    * fewer partitions than the session has cores (one unsplit file, a
    * collapsed upstream coalesce) serializes every per-row expression
    * downstream — the shingling/signature stages here ran as ONE task on
    * the bench's single-file corpus. Hash-repartition by the id column
    * (deterministic under retries, unlike round-robin) up to the default
    * parallelism. At scale the input already has >= cores partitions and
    * this is a no-op — the partition count check, not a config, keeps it
    * scale-adaptive. Partitioning by id also lets the per-document
    * aggregations downstream (ngramJaccard's prefix groupBy) reuse this
    * exchange instead of adding their own (guide §2.4).
    */
  private[ops] def widen(df: DataFrame, idCol: String): DataFrame = {
    // cores/4 target: enough to unserialize the expression stages while
    // keeping the per-task fixed cost of every DOWNSTREAM stage low —
    // measured on d6 at sf0.1: 1 part = 1.9 s wall (serial simhash),
    // 8 parts = 0.9 s at +0.2 s total CPU, 32 parts = 0.8 s at +0.6 s CPU
    val target = math.max(df.sparkSession.sparkContext.defaultParallelism / 4, 2)
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target, col(idCol))
    else df
  }

  /** Exact dedup: one representative (min id) + duplicate count per
    * distinct text. Groups by sha2(text) so the shuffle carries a 32-byte
    * key rather than the full document (100 TB shape); collision odds are
    * negligible (2^-128 scale).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"))

  /** Distinct word k-shingles of a text column. */
  def shingles(text: Column, k: Int = 5): Column = {
    val tokens = split(trim(text), "\\s+")
    val nWin = greatest(size(tokens) - (k - 1), lit(1))
    array_distinct(transform(sequence(lit(1), nWin),
      i => concat_ws(" ", slice(tokens, i, lit(k)))))
  }

  /** MinHash signature (numHashes entries) over the shingle set, via the
    * [[graft.functions.MinHashSig]] Catalyst expression: each shingle is
    * hashed once and the lanes derived by integer mixing (round 1 paid 32
    * independent xxhash64 string hashes per shingle — the dominant cost of
    * the whole LSH pipeline at SF). Caller must have registered the
    * expression (minhashLsh does).
    */
  def minhashSignature(shingleCol: Column, numHashes: Int = 32,
                       seed: Long = 42L): Column =
    graft.functions.MinHashSig.minhashSig(shingleCol, numHashes, seed)

  /** MinHash + LSH near-duplicate pairs: shingle → 32-hash signature →
    * `bands` banded buckets → same-bucket candidate join → exact Jaccard
    * verification on the shingle sets, keeping pairs ≥ threshold.
    *
    * Scale: only (band, bucket, id) triples ride the banded self-join —
    * never the shingle sets (shipping them ×bands through both sides of
    * the shuffle made this the slowest query at SF in round 1). Shingles
    * are re-joined exactly once per deduped candidate pair.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleSize: Int = 5, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.7, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.functions.MinHashSig.register(df.sparkSession)
    graft.functions.SortedJaccardGE.register(df.sparkSession)
    graft.functions.WordNGrams.register(df.sparkSession)
    val rowsPerBand = numHashes / bands
    // persisted FIRST so the banding pass and both verify joins all read
    // the one materialized shingle set (released below); the single-pass
    // expression emits it SORTED for the merge-based exact-Jaccard verify
    val shs = widen(df, idCol).select(col(idCol).as("id"),
        graft.functions.WordNGrams.wordNgrams(col(textCol), shingleSize).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = shs.withColumn("sig", minhashSignature(col("sh"), numHashes, seed))
    val banded = base.select(col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(concat_ws(",",
            slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val cand = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val out = cand
      .join(shs.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(shs.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("jaccard", graft.functions.SortedJaccardGE.sortedJaccardGe(
        col("sh_a"), col("sh_b"), lit(threshold)))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    materializeThenRelease(out, shs)
  }

  /** SimHash near-dup candidates: 64-bit simhash (custom Catalyst
    * expression), pairs within `maxHamming` bits found by joining on
    * `maxHamming + 1` bit-blocks: a pair differing in ≤ maxHamming bits
    * must share at least one block exactly (pigeonhole), so candidate
    * recall is EXHAUSTIVE for the requested distance.
    *
    * maxHamming is capped at 15 (16 blocks of ≥4 bits): beyond that each
    * block carries too few bits to be selective and the bucket join
    * degenerates toward an all-pairs cross join. Larger radii need the
    * multi-block-combination scheme of Manku et al. (WWW'07) instead.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    graft.functions.SimHash64.register(df.sparkSession)
    simhashPairsFromHashes(
      widen(df, idCol)
        .select(col(idCol).as("id"), simhash64(col(textCol)).as("simhash")),
      maxHamming)
  }

  /** Blocking join over precomputed 64-bit hashes (id, simhash). */
  def simhashPairsFromHashes(hashed: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] for exhaustive 64-bit blocking, got $maxHamming")
    val blocks = maxHamming + 1
    // distribute 64 bits as evenly as possible: the first (64 % blocks)
    // blocks get one extra bit
    val widths = Array.tabulate(blocks)(b => 64 / blocks + (if (b < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val blocked = hashed.select(col("id"), col("simhash"),
      explode(array((0 until blocks).map { b =>
        val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1L
        struct(lit(b).as("blk"),
          shiftrightunsigned(col("simhash"), offsets(b)).bitwiseAND(lit(mask)).as("blkval"))
      }: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.blk"), col("bb.blkval"))
    val l = blocked.select(col("blk"), col("blkval"),
      col("id").as("id_a"), col("simhash").as("h_a"))
    val r = blocked.select(col("blk"), col("blkval"),
      col("id").as("id_b"), col("simhash").as("h_b"))
    l.join(r, Seq("blk", "blkval"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** EXACT n-gram Jaccard similarity via prefix filtering (AllPairs /
    * PPJoin — Bayardo et al. WWW'07, Xiao et al. WWW'08): order each
    * document's distinct grams by global (document frequency, gram) and
    * join only each document's lowest-frequency prefix grams. Any pair
    * with J ≥ t must share a prefix gram under a common total order, so
    * the filter is LOSSLESS — the output is the exact answer — while hot
    * stop-word-like grams (which would make the naive postings self-join
    * quadratic) sort to the ends of documents and rarely enter a prefix.
    *
    * The candidate join is ASYMMETRIC (the PPJoin self-join refinement):
    * the full PROBING prefix (`|g| - ceil(t·|g|) + 1` grams) joins a
    * shorter INDEX prefix (`|g| - ceil(2t/(1+t)·|g|) + 1` grams) carried
    * by the pair's smaller-(size, id) side — for a matching pair the
    * overlap obeys o ≥ 2t/(1+t)·|smaller|, so the smaller side's index
    * prefix must still contain a shared gram. At t=0.5 the index prefix
    * is 1/3 of a document against the probing prefix's 1/2, which cuts
    * the matched-row volume of the hot-gram join by the same ratio.
    *
    * `broadcastDf` (round 7, default true): the gram document-frequency
    * table is bounded by the corpus's DISTINCT n-grams — on bounded or
    * Zipf-truncated vocabularies it is tiny next to the postings, and
    * broadcasting it removes the postings' second full shuffle (the
    * df-annotation join). Pass false for open-vocabulary corpora at a
    * scale where distinct n-grams outgrow executor memory — the join
    * then falls back to Spark's shuffle hash/merge planning.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   broadcastDf: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    graft.functions.SortedJaccardGE.register(df.sparkSession)
    graft.functions.WordNGrams.register(df.sparkSession)
    // base feeds the postings AND both verify-join branches: persist it
    // (released below) or each branch re-runs the scan+shingle pipeline.
    // The single-pass expression emits each document's distinct grams
    // SORTED, so the verify stage can use the merge-with-early-exit
    // Jaccard kernel instead of per-pair hash sets.
    val base = widen(df, idCol).select(col(idCol).as("id"),
      graft.functions.WordNGrams.wordNgrams(col(textCol), n).as("grams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // _sz rides the explode — no sizes join (and no extra shuffle) needed
    val postings = base.select(col("id"), size(col("grams")).as("_sz"),
      explode(col("grams")).as("gram"))
    val dfreq = postings.groupBy(col("gram")).agg(count(lit(1)).as("_f"))
    // persist the SKINNY prefix postings (id, gram, size, prefix position
    // — linear in corpus, spills to disk): both sides of the candidate
    // join and the aggregation above them would otherwise recompute the
    // full shingle pipeline once per branch (measured 3x the query's
    // cost at SF).
    //
    // The per-document (df, gram) prefix order is computed by collecting
    // each document's df-annotated grams and sorting the bounded list
    // LOCALLY (array_sort over struct fields = the window's (_f, gram)
    // order), then exploding only the prefix slice — one hash aggregate
    // on id instead of round 5's `row_number()` window, which paid a
    // full exchange + total sort of ALL postings and only then discarded
    // the non-prefix majority (flagged in the round-5 driver artifact:
    // d7 11.76 s vs 2.86 s in round 4).
    val kProbe = (col("_sz") - ceil(lit(threshold) * col("_sz")) + 1).cast("int")
    val pre = postings
      .join(if (broadcastDf) broadcast(dfreq) else dfreq, Seq("gram"))
      .groupBy(col("id"), col("_sz"))
      .agg(array_sort(collect_list(struct(col("_f"), col("gram")))).as("_fg"))
      .select(col("id"), col("_sz"),
        posexplode(slice(col("_fg"), lit(1), kProbe)))
      .select(col("id"), col("col._f").as("_f"), col("col.gram").as("gram"),
        col("_sz"), (col("pos") + 1).as("_rk"))
      .select(col("id"), col("gram"), col("_sz"), col("_rk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probe = pre.select(col("gram"), col("id").as("id_p"),
      col("_sz").as("_szp"), col("_rk").as("_pp"))
    val index = pre
      .filter(col("_rk") <=
        col("_sz") - ceil(lit(2.0 * threshold / (1.0 + threshold)) * col("_sz")) + 1)
      .select(col("gram"), col("id").as("id_i"),
        col("_sz").as("_szi"), col("_rk").as("_pi"))
    val matches = probe.join(index, Seq("gram"))
      // orientation: the index side is the pair's smaller (size, id) —
      // each unordered pair is generated from exactly one direction
      .filter(col("_szi") < col("_szp") ||
        (col("_szi") === col("_szp") && col("id_i") < col("id_p")))
      // PPJoin length filter (one-sided under the orientation):
      // J >= t forces |smaller| >= t * |larger|
      .filter(col("_szi") >= lit(threshold) * col("_szp"))
      // PPJoin POSITIONAL filter (Xiao et al. WWW'08): a shared prefix
      // gram at positions (pi, pp) bounds the pair's overlap by
      // 1 + min(|I| - pi, |P| - pp), and J >= t needs overlap >=
      // ceil(t/(1+t) * (|I| + |P|)). Applied PER MATCHED ROW, before the
      // pair groupBy, so pruned matches never ride that shuffle: the
      // pair's FIRST shared prefix gram (no shared grams can precede it
      // in either prefix) carries a valid bound, so the pair survives iff
      // its first-gram row does — lossless. On hot-gram corpora (this
      // testdata: 31-word vocabulary) this is what keeps candidate volume
      // off the bench's critical path.
      .filter(lit(1) + least(col("_szi") - col("_pi"), col("_szp") - col("_pp"))
        >= ceil(lit(threshold / (1.0 + threshold)) * (col("_szi") + col("_szp"))))
    // EXCHANGE-FREE dedup (round 10): a pair is generated only with its
    // larger-(size, id) member as the probing side, so every duplicate of
    // one pair (several shared prefix grams) carries the SAME (id_p,
    // _szp) — both functionally determined by the pair. Adding them to
    // the dedup key changes nothing about which pairs survive, but lets
    // Spark prove the clustering from `pre`'s existing partitioning
    // ((id) after widen, (id, _sz) from the prefix groupBy otherwise) and
    // drop the dedup's own exchange — measured 0.3-0.5 s of
    // shuffle-file fixed cost per run on this box (guide §2.4).
    val cand = matches
      .select(col("id_p"), col("_szp"),
        least(col("id_i"), col("id_p")).as("id_a"),
        greatest(col("id_i"), col("id_p")).as("id_b"))
      .dropDuplicates("id_p", "_szp", "id_a", "id_b")
      .select(col("id_a"), col("id_b"))
    // exact verify via the sorted-merge kernel: most false candidates
    // exit within a few compares (the suffix-filter effect), survivors
    // get their EXACT Jaccard from the same pass
    val out = cand
      .join(base.select(col("id").as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("grams").as("g_b")), Seq("id_b"))
      .withColumn("jaccard", graft.functions.SortedJaccardGE.sortedJaccardGe(
        col("g_a"), col("g_b"), lit(threshold)))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    materializeThenRelease(out, pre, base)
  }

  /** Embedding-cosine near-duplicates: multi-table sign-LSH bucket join
    * with QUERY-DIRECTED multiprobe, then exact cosine ≥ threshold within
    * candidates — precision is exact by construction; `tables`
    * OR-amplifies recall (see [[Similarity.lshTables]]).
    *
    * Multiprobe is margin-ranked ([[graft.functions.LshProbes]], Lv et
    * al. VLDB'07): instead of flipping EVERY plane (probe amplification
    * `planes + 1` per table — round 4's dominant suite cost), each
    * vector probes only its `probes` nearest-boundary flips, which carry
    * almost all of the hamming-1 collision mass. `probes < 0` (default)
    * means all planes (classic hamming-1).
    *
    * `symmetric = false` keeps the `id_a < id_b` orientation, which
    * makes margin-ranked probing ONE-SIDED: a pair is found only if the
    * SMALLER id's probe set covers the differing plane — half the
    * probe-generated join volume is filtered away unmatched.
    * `symmetric = true` matches either direction and canonicalizes with
    * least/greatest, spending the full probe budget at the price of
    * double-counting identity collisions. Measured on the E3Sweep
    * Pareto (sf0.01 recall / sf0.1 wall): symmetric (8 planes, 28
    * tables, 4 probes) reaches recall 0.9505 at ~2.1 s — above BOTH
    * the one-sided round-5 config (0.928, ~1.6 s) and round 4's full
    * hamming-1 × 24 tables (0.939, ~10.4 s) — and is what e3 runs.
    *
    * Defaults (planes=12, tables=4) target true near-dup thresholds
    * (cos ≥ 0.9); lower thresholds on unclustered data need shorter
    * codes and more tables (see OpsSpec "recall is QUANTIFIED").
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                       threshold: Double = 0.95, planes: Int = 12,
                       tables: Int = 4, seed: Long = 42L,
                       probes: Int = -1, symmetric: Boolean = false): DataFrame = {
    graft.functions.CosineSim.register(df.sparkSession)
    graft.functions.LshProbes.register(df.sparkSession)
    val nProbes = if (probes < 0) planes else probes
    // persisted skinny (id, vector) — feeds bucketing once and the two
    // verify joins; released below. The vector keeps its NATIVE element
    // type (embeddings are array<float>): CosineSim widens per component,
    // and the verify joins shuffle half the bytes of a double plan.
    val v = widen(df, idCol).select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ids-only bucket join, the minhashLsh discipline: vectors NEVER
    // ride the (tbl, bucket) shuffle — at tables x (probes+1) rows a
    // vector would otherwise cross the exchange hundreds of times.
    // The (tbl, bucket) pair packs into ONE long join key when it fits
    // (bucket < 2^planes by construction): narrower shuffle rows and a
    // single-column hash/compare on the highest-multiplicity join of the
    // op (round 10, guide §2.3 — narrower types). Identical matching:
    // the packing is injective.
    val packKey = planes + 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(tables - 1, 1).toLong) <= 62
    def side(npr: Int) = {
      val s = v.select(col("id"),
        explode(graft.functions.LshProbes.lshProbes(
          col("v"), dim, planes, tables, npr, seed)).as("tb"))
      if (packKey)
        s.select(col("id"), (col("tb.tbl").cast("long") * (1L << planes) +
          col("tb.bucket")).as("tb"))
      else s.select(col("id"), col("tb.tbl"), col("tb.bucket"))
    }
    val joinKeys = if (packKey) Seq("tb") else Seq("tbl", "bucket")
    val matched = side(nProbes)
      .withColumnRenamed("id", "id_a")
      .join(side(0).withColumnRenamed("id", "id_b"), joinKeys)
    val cand = (if (symmetric)
        // either direction's probes may find the pair: canonicalize,
        // at the price of double-counting identity collisions
        matched.filter(col("id_a") =!= col("id_b"))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
      else matched.filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")))
      .dropDuplicates("id_a", "id_b")
    // vectors join back exactly once per deduped candidate pair, then
    // exact-cosine verify (precision 1.0 by construction)
    val out = cand
      .join(v.withColumnsRenamed(Map("id" -> "id_a", "v" -> "v_a")), Seq("id_a"))
      .join(v.withColumnsRenamed(Map("id" -> "id_b", "v" -> "v_b")), Seq("id_b"))
      .withColumn("cos", graft.functions.CosineSim.cosineSim(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
    materializeThenRelease(out, v)
  }
}
