package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.engine.{ChunkCursor, ColumnarEngine, ColumnSpec, ContainerIO, DecodedChunk, Kinds, Lane, Manifests, TableManifest}

/** Table maintenance for graft tables — the operational side a
  * long-running streaming sink needs: every micro-batch epoch commits
  * one container per task, so an always-on query accretes thousands of
  * tiny containers and manifests that chunk-granular planning cannot
  * help with (each file IS one small chunk). `compact` rewrites runs of
  * small containers into full-size ones and swaps them into the table
  * in one OCC index commit — the same shape as Iceberg's
  * `rewrite_data_files` maintenance procedure.
  *
  * Compaction and the row-level mutations (DELETE, UPDATE, UPSERT) are
  * ONE copy-on-write pipeline: one [[TableSnapshot]] read, one container
  * admission ([[admitted]]), one rewrite job ([[rewriteJob]]) streaming
  * containers through [[rewriteBin]], and one commit tail
  * ([[commitTail]]). Each operation supplies only its per-container
  * step: which rows to drop (compaction none, DELETE a bound predicate,
  * UPSERT a key set) or, for UPDATE, which rows to re-assign. Rename
  * and drop commit one zero-row schema marker ([[changeSchema]]).
  * Every operation lands through the one table commit,
  * [[GraftCommits.commit]], as the DSv2 writes do.
  */
object GraftMaintenance {

  /** Raised when the containers selected for compaction were replaced
    * or removed by a concurrent commit (epoch replay, overwrite,
    * another compaction) between planning and the index commit: the
    * rewritten data would resurrect superseded rows, so the compaction
    * aborts — cleanly, with its staged output removed — and the table
    * is left exactly as the concurrent writer published it.
    */
  final class CompactionConflict(msg: String)
      extends java.util.ConcurrentModificationException(msg)

  /** Rewrite this table's small containers into ~`targetBytes` ones.
    *
    * Planning: committed containers whose encoded size is below
    * `targetBytes` are greedily binned (by name order — the streaming
    * sink's epoch order) into runs of up to `targetBytes`; every bin
    * with at least `minContainers` members is rewritten by one Spark
    * task that streams the bin's chunks through the shared container
    * parse (CRC + content-digest verified) into a fresh
    * [[ColumnarEngine.PartitionEncoder]] — chunk-bounded memory, codecs
    * re-selected on the bigger chunks.
    *
    * Commit: new manifests are written first (commit markers), then ONE
    * OCC index commit ([[GraftCommits.commit]]) replaces exactly the
    * consumed manifests with the compacted ones — a concurrent append
    * or streaming epoch retries on top and is preserved; a concurrent
    * commit that REPLACED one of the consumed containers aborts the
    * compaction ([[CompactionConflict]]) instead of resurrecting its
    * rows. Old-generation files are deleted only after the new snapshot
    * is live; a reader that planned against the prior snapshot gets the
    * controlled snapshot-superseded error, never a raw
    * FileNotFoundException (see [[ChunkCursor]]).
    *
    * Exactly-once interplay: the compacted manifest records the consumed
    * EPOCH keys as its `ancestors` (compaction consumes only whole
    * epochs, so an ancestor always means "every row of that epoch lives
    * here"), and a streaming-sink epoch that is REPLAYED after its
    * containers were compacted away is dropped WHOLE by
    * [[GraftCommits.publish]] — even when the replay re-partitioned —
    * instead of re-appended. Downstream CONSUMERS tailing
    * this table via `readStream.format("graft")` follow the
    * FileStreamSource rewrite contract: a compacted generation is a new
    * manifest name, so a tailing query that already emitted the old
    * containers will emit the compacted container's rows AGAIN —
    * compact a streamed-FROM table only when downstream deduplicates or
    * can tolerate replays, or pause consumers across the maintenance
    * window.
    *
    * Returns (containers consumed, containers produced); (0, 0) when
    * nothing qualifies.
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              minContainers: Int = 2,
              dryRun: Boolean = false): (Int, Int) = {
    require(targetBytes > 0 && minContainers >= 2,
      s"need targetBytes > 0 and minContainers >= 2, " +
        s"got ($targetBytes, $minContainers)")
    val snap = new TableSnapshot(path, spark.sparkContext.hadoopConfiguration)
    // one BIN holds one schema generation: add-only evolution (round 7)
    // means a table may hold containers of different widths. An epoch is
    // always schema-homogeneous (one write job, one schema), so binning
    // runs independently per (schema, digestCol) group and a rewrite
    // never has to unify widths — the evolved table keeps its mixed
    // generations and readers null-fill the absent trailing columns.
    //
    // WHOLE-epoch planning within each group: an epoch (micro-batch /
    // job) is consumable only if EVERY one of its committed containers
    // qualifies — replay protection records ancestor EPOCHS, and "epoch
    // is an ancestor" must mean "all of its rows live in compacted
    // generations". An epoch with one over-size container is skipped.
    val work: Seq[Seq[TableManifest]] =
      snap.committed.groupBy(m => (m.schemaCols, m.digestCol)).toSeq
        .sortBy(_._2.map(_.name).min)
        .flatMap { case (_, group) =>
          val smallNames = group
            .filter(_.encodedBytes < targetBytes).map(_.name).toSet
          val groups = group
            .groupBy(m => Manifests.epochKey(Manifests.logicalName(m.name)))
            .values.toSeq
            .filter(_.forall(m => smallNames(m.name)))
            .map(_.sortBy(_.name))
            .sortBy(_.head.name)
          // greedy size-binning over whole epoch groups, in epoch order
          val bins = Seq.newBuilder[Seq[TableManifest]]
          var run = List.empty[Seq[TableManifest]]
          var runBytes = 0L
          groups.foreach { g =>
            val gBytes = g.map(_.encodedBytes).sum
            if (run.nonEmpty && runBytes + gBytes > targetBytes) {
              bins += run.reverse.flatten; run = Nil; runBytes = 0L
            }
            run = g :: run
            runBytes += gBytes
          }
          if (run.nonEmpty) bins += run.reverse.flatten
          bins.result().filter(_.size >= minContainers)
        }
    if (work.isEmpty) return (0, 0)
    // dry run: report the fold this run WOULD perform — (containers
    // consumed, containers produced) — without touching the table
    if (dryRun) return (work.map(_.size).sum, work.size)
    val folded = rewriteJob(spark, snap, "compact", newRunId(), work,
        "compaction") { (conf, ms, partName, bin) =>
      val (pm, _) = rewriteBin(conf, path, ms,
        GraftDataSource.specsOfManifest(ms.head), partName, bin)(copyRows(null))
      (pm, pm.rows) // a fold changes every row it moves
    }
    val changed = commitTail(snap, folded, Nil, what = "compaction",
      reclaim = true)
    (changed.map(_.consumed.size).sum, changed.size)
  }

  /** Copy-on-write row-level DELETE (round 9) — the first operation a
    * real training-data pipeline owner asks for (takedown, dedup-purge):
    * rewrite exactly the containers that MAY hold matching rows, filter
    * the matches out, and swap the generation in ONE OCC index commit.
    *
    * Planning: the predicate (any deterministic Spark SQL boolean
    * expression over the table's columns — no subqueries) is resolved by
    * the ordinary analyzer against the table's current schema; its
    * conjuncts cross the scan's pushdown boundary and run through the
    * SAME admission the scan uses (zone maps, envelopes, null counts, bucket
    * ids, rename translation, add-only-evolution coverage), so
    * containers that provably hold no match are never touched — their
    * manifests, stats, and files stay byte-identical.
    *
    * Rewrite: one Spark task per affected container streams its chunks
    * (CRC + digest verified) through the compaction re-encoder, dropping
    * rows the bound predicate matches. A container where nothing matched
    * keeps its ORIGINAL manifest (the staged rewrite is discarded); a
    * fully-deleted container becomes a zero-row TOMBSTONE manifest (no
    * block file) so its epoch stays ancestor-covered — an epoch replay
    * or listing-fallback recovery can never resurrect the deleted rows.
    *
    * Commit: same OCC discipline as [[compact]] — a concurrent append
    * retries on top and survives; a concurrent commit that REPLACED an
    * affected container aborts with [[CompactionConflict]] and the
    * staged generation is swept. Unlike compact, the consumed
    * generation's files are NOT reclaimed eagerly: retained time-travel
    * snapshots (`versionAsOf`) keep seeing the pre-delete rows until the
    * generation ages out of snapshot retention, after which [[vacuum]]
    * sweeps it (run `CALL graft.system.expire_snapshots` + `vacuum` to
    * purge deleted rows from storage sooner).
    *
    * Streaming interplay: a tailing `readStream` that already emitted an
    * affected container follows the compaction substitution contract —
    * a replay re-emits the KEPT rows from the delete generation (deleted
    * rows are gone everywhere); a delete generation spanning epochs
    * outside a replay range fails loud, exactly like compaction.
    *
    * Returns the number of rows deleted.
    */
  def delete(spark: SparkSession, path: String, predicate: String): Long = {
    val snap = new TableSnapshot(path, spark.sparkContext.hadoopConfiguration).requireTable()
    if (snap.committed.isEmpty) return 0L
    val (cond, _, preds) = bindPredicate(spark, snap, predicate, Nil, "delete predicate")
    val visPositions = snap.visPositions
    // one task per affected container (1:1 rewrite keeps the schema
    // generation, partitioning metadata, and epoch coverage of each)
    val done = rewriteJob(spark, snap, "delete", newRunId(),
        admitted(snap, preds).map(Seq(_)), "delete") { (conf, ms, partName, bin) =>
      val schema = GraftDataSource.specsOfManifest(ms.head)
      rewriteBin(conf, path, ms, schema, partName, bin)(
        copyRows(rowMatcher(cond, visPositions, schema)))
    }
    commitTail(snap, done, Nil, what = s"DELETE WHERE $predicate",
      reclaim = false).map(_.changed).sum
  }

  /** Copy-on-write row-level UPDATE (round 9) — DELETE's sibling on the
    * same machinery: rows matching `predicate` are rewritten with the
    * `set` assignments applied (column -> any deterministic Spark SQL
    * expression over the row's ORIGINAL values, cast to the column's
    * type); everything else about the container is preserved. Planning
    * prunes via the same scan admission as [[delete]]; affected
    * containers rewrite 1:1 at the table's CURRENT schema width (a
    * container predating an added column null-fills it, so an UPDATE can
    * backfill added columns); zero-match rewrites are discarded; the
    * swap is one OCC commit with DELETE's concurrency story (appends
    * survive, replaces abort, retained snapshots keep the pre-update
    * rows, epoch replays substitute the updated generation).
    *
    * Updating a partition-transform source column drops that container's
    * partitioning metadata (recorded bucket-id admission would otherwise
    * prune on stale facts); zone maps re-record from the updated values.
    *
    * Returns the number of rows updated.
    */
  def update(spark: SparkSession, path: String, predicate: String,
             set: Map[String, String]): Long = {
    require(set.nonEmpty, "update needs at least one column assignment")
    val snap = new TableSnapshot(path, spark.sparkContext.hadoopConfiguration).requireTable()
    if (snap.committed.isEmpty) return 0L
    val st = snap.schema
    set.keys.foreach(c => require(st.fieldNames.contains(c),
      s"update target '$c' is not a column of ${st.fieldNames.mkString(",")}"))
    val setSeq = set.toSeq
    val (cond, bound, preds) = bindPredicate(spark, snap, predicate, setSeq,
      "update expressions")
    val assigns: Seq[(Int, Expression)] = setSeq.map(a => st.fieldIndex(a._1)).zip(bound)
    val (chain, visPositions) = (snap.chain, snap.visPositions)
    val done = rewriteJob(spark, snap, "update", newRunId(),
        admitted(snap, preds).map(Seq(_)), "update") { (conf, ms, partName, bin) =>
      val m = ms.head
      val containerSpecs = GraftDataSource.specsOfManifest(m)
      // partition-transform metadata survives only when no updated column
      // is one of its source columns (stale bucket-id/range facts would
      // prune wrongly); stored names compared, since the metadata was
      // recorded under them
      val targetStored = assigns.map(a => visPositions(a._1))
        .filter(_ < containerSpecs.size).map(fp => containerSpecs(fp).name).toSet
      val keepPart = !m.partitioning.exists(p => targetStored.exists(t =>
        p.contains(s"($t)") || p.contains(s",$t)")))
      // the encoder writes the CURRENT chain: containers predating an
      // added column widen to it (a backfilling UPDATE works on them)
      val (pm, updated) = rewriteBin(conf, path, ms, chain, partName, bin)(
        updateRows(rowMatcher(cond, visPositions, containerSpecs), assigns))
      (if (keepPart) pm else pm.copy(partitioning = Nil, bucketIds = Map.empty),
        updated)
    }
    commitTail(snap, done, Nil, what = s"UPDATE WHERE $predicate",
      reclaim = false).map(_.changed).sum
  }

  /** Copy-on-write MERGE-style UPSERT (round 9) — the third leg of
    * row-level mutation: the SQL-equivalent of
    * `MERGE INTO target USING source ON <keys> WHEN MATCHED THEN UPDATE
    * SET * WHEN NOT MATCHED THEN INSERT *` (whole-row replace-by-key).
    * `source` must have exactly the table's visible schema; its key
    * tuples must be unique and non-null.
    *
    * Shape: the source's distinct keys collect to the driver and
    * broadcast as a stored-form key set (the broadcast-join MERGE — the
    * common dimension/correction-feed case; a shuffle-join rewrite for
    * arbitrarily large sources is future engine surface). Containers
    * that MAY hold a key (per-column IN admission over zone maps /
    * bucket facts, when the key set is ≤ 4096) rewrite 1:1 dropping the
    * matched rows; the source itself stages as fresh containers through
    * the ordinary write machinery; ONE OCC swap publishes rewrites +
    * appends together — readers never see a state with both (or
    * neither) version of a key. Concurrency, retention, and replay
    * interplay are DELETE's; a concurrent rename or drop the appended
    * containers' labels would revert aborts the upsert with
    * [[SchemaEvolutionConflict]].
    *
    * Returns (rows replaced or deleted from the old generation, rows
    * appended from the source).
    */
  def upsert(spark: SparkSession, path: String,
             source: org.apache.spark.sql.DataFrame,
             keys: Seq[String]): (Long, Long) = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val snap = new TableSnapshot(path, spark.sparkContext.hadoopConfiguration).requireTable()
    val (visible, st) = (snap.visible, snap.schema)
    // the source must BE the visible schema (same names, kinds, order)
    val srcSpecs = GraftDataSource.specsOf(source.schema)
    require(srcSpecs.map(s => (s.name, s.kind, s.precision, s.scale)) ==
        visible.map(s => (s.name, s.kind, s.precision, s.scale)),
      s"upsert source schema ${source.schema.simpleString} must match " +
        s"the table's ${st.simpleString}")
    keys.foreach(k => require(st.fieldNames.contains(k),
      s"upsert key '$k' is not a column of ${st.fieldNames.mkString(",")}"))
    keys.map(st.fieldIndex).foreach { v =>
      val kind = visible(v).kind
      require(Kinds(kind).keyable,
        s"upsert key '${visible(v).name}' has unsupported kind $kind " +
          "(float/double/binary/array keys are not comparable-by-value)")
    }

    // the source is read TWICE (the grouped key aggregation, staging):
    // persist it for the op so both see the SAME rows even when the
    // source plan is nondeterministic/non-idempotent (a shuffled sample,
    // a REST-backed view) — otherwise staged rows could carry keys the
    // collected set never saw and a key could end up twice
    val src = source.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try upsertPersisted(spark, snap, src, keys)
    finally { src.unpersist(); () }
  }

  private def upsertPersisted(spark: SparkSession, snap: TableSnapshot,
                              source: org.apache.spark.sql.DataFrame,
                              keys: Seq[String]): (Long, Long) = {
    val (path, st) = (snap.path, snap.schema)
    val keyVis = keys.map(st.fieldIndex)

    // distinct external key tuples -> driver; uniqueness is the upsert
    // contract (two source rows with one key would race each other).
    // ONE grouped aggregation answers both questions the old
    // count-then-distinct pair ran as two jobs over the persisted source
    // (round 10): the group rows ARE the distinct keys and the counts sum
    // to the source row count, so the duplicate check is unchanged.
    val keyRows = source
      .groupBy(keys.map(org.apache.spark.sql.functions.col): _*)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("_n"))
      .collect()
    val srcCount = keyRows.map(_.getLong(keys.length)).sum
    require(keyRows.length.toLong == srcCount,
      s"upsert source has ${srcCount - keyRows.length} duplicate key rows")
    require(keyRows.forall(r => !r.anyNull), "upsert keys must be non-null")
    val keySpecs = keyVis.map(snap.visible)
    val keySet: Set[Seq[Any]] = keyRows.map(r => keys.indices.map { i =>
      Kinds(keySpecs(i).kind).storedValue(r.get(i), keySpecs(i))
    }).toSet
    val keySetB = spark.sparkContext.broadcast(keySet)

    // container admission: per-column IN over the stored keys — implied
    // conjuncts of key membership (zone maps, dicts, bucket facts all
    // apply). Above the IN cap, per-column [min, max] RANGE conjuncts on
    // ordered kinds take over (also implied by membership): bounded-size
    // admission at ANY source size, so key-sorted/clustered tables keep
    // pruning whole containers outside the source's key range. Keys are
    // stored values already: strings on the Bytes lane, longs otherwise.
    val keyPreds: Seq[Pred] = keys.indices.flatMap { i =>
      val vs = keySet.map(_(i)).toArray
      lazy val longs = vs.map(_.asInstanceOf[Number].longValue())
      if (keySet.size <= 4096) Some(
        if (keySpecs(i).lane == Lane.Bytes) BytesIn(keys(i), vs.map(_.asInstanceOf[String]))
        else LongIn(keys(i), longs))
      else Option.when(Kinds(keySpecs(i).kind).ordered)(
        LongRange(keys(i), longs.min, longs.max))
    }
    val affected = if (keySet.isEmpty) Nil else admitted(snap, keyPreds)

    val runId = newRunId()
    val epoch = s"upsert-$runId"
    val chunkRows = ColumnarEngine.ChunkRows
    val fullCols: Seq[(String, Int)] =
      if (snap.chain.exists(_.dropped)) snap.chain.map(s => (s.name, s.packed))
      else Nil
    val keyFull = keyVis.map(snap.visPositions)
    val shipped = ContainerIO.shippedConf(spark)
    var appendedF: scala.concurrent.Future[Array[TableManifest]] = null
    val (done, appended) = try {
      // 1) stage the source as fresh containers (attempt-qualified, one
      // new epoch) through the ordinary writer — unpublished until the
      // single commit below. Submitted CONCURRENTLY with the rewrite job in
      // step 2 (guide §2.6 — overlap independent jobs): the two touch
      // disjoint containers and only meet at the single commit, so the
      // rewrite's tasks back-fill cores the staging job leaves idle.
      // Failure handling below AWAITS this future before sweeping staged
      // output, so a crash can never race the sweep against a straggling
      // staging task.
      appendedF = scala.concurrent.Future {
        source.queryExecution.toRdd
          .mapPartitionsWithIndex { (pid, it) =>
            if (it.isEmpty) Iterator.empty
            else {
              // the real task ATTEMPT id (not pid): writeAtomic is
              // first-commit-wins, so a retry after a partial first attempt
              // must stage under a fresh name or the collected manifest can
              // describe different bytes than the committed file — the same
              // failure mode GraftDataWriter's DSv2 path guards against
              val attempt = Option(org.apache.spark.TaskContext.get())
                .map(_.taskAttemptId()).getOrElse(pid.toLong)
              val w = new GraftDataWriter(path, pid, epoch, shipped, chunkRows,
                attempt, st, Nil, fullCols)
              it.foreach(w.write)
              Iterator.single(w.commitManifest())
            }
          }.collect().filter(_.rows > 0)
      }(scala.concurrent.ExecutionContext.global)

      // 2) rewrite the admitted containers, dropping matched keys
      val done = rewriteJob(spark, snap, "merge", runId,
          affected.map(Seq(_)), "upsert") { (conf, ms, partName, bin) =>
        val schema = GraftDataSource.specsOfManifest(ms.head)
        // a container predating a key column holds all-null keys:
        // nothing can match, nothing is staged
        if (keyFull.exists(_ >= schema.size)) (null, 0L)
        else rewriteBin(conf, path, ms, schema, partName, bin)(copyRows(
          new StoredKeyMatcher(keyFull.map(schema), keySetB.value)))
      }
      (done, scala.concurrent.Await.result(
        appendedF, scala.concurrent.duration.Duration.Inf))
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the rewrite job sweeps its own staging, but the CONCURRENT
        // source staging may still be landing containers: drain it, then
        // sweep (idempotent) so nothing survives the abort
        if (appendedF != null)
          try scala.concurrent.Await.ready(appendedF,
            scala.concurrent.duration.Duration.Inf)
          catch { case scala.util.control.NonFatal(_) => () }
        GraftCommits.dropStaged(snap.conf, path, epoch, s"merge-$runId")
        throw aborted(path, "upsert", e)
    } finally keySetB.destroy()
    // ONE commit: rewrites replace their originals, appends just land —
    // no reader ever sees a key twice or not at all
    val changed = commitTail(snap, done, appended.toSeq,
      what = s"UPSERT ON ${keys.mkString(",")}", reclaim = false)
    (changed.map(_.changed).sum, appended.map(_.rows).sum)
  }

  // ------------------------------------------- the copy-on-write pipeline

  /** A fresh run id. The leading letter keeps it non-numeric, so a
    * staged epoch key like "compact-<runId>" is a fixed point of
    * [[Manifests.epochKey]] (which strips one trailing all-digit segment)
    * and can never collapse to the constant "compact" — two generations
    * sharing that key would falsely intersect in the listing-fallback
    * normalizer.
    */
  private def newRunId(): String =
    "r" + java.util.UUID.randomUUID().toString.take(7)

  /** The one predicate binder (DELETE, UPDATE): resolve `predicate` and
    * UPDATE's `set` assignments (column -> expression, cast to the
    * column's type) through the ordinary analyzer — full Spark SQL
    * expressiveness, name resolution, implicit casts — in one probe plan
    * (a projection over a filter of the table, loaded with the snapshot's
    * schema: no second index read, and the predicate binds against the
    * schema admission uses), then bind them to positional ordinals for
    * stored-row evaluation in the rewrite tasks. Returns the bound
    * predicate, the bound assignments in `set` order, and the
    * predicate's container admission: the RESOLVED (unbound, so its
    * attributes carry the current column names) condition's conjuncts,
    * with foldable operands folded (the analyzer's `cast(50 as bigint)`
    * becomes `50L`), through [[sourceFilterOf]] and the scan's pushdown
    * boundary ([[GraftDataSource.pushdown]]). A conjunct that does not
    * cross it prunes nothing.
    */
  private def bindPredicate(spark: SparkSession, snap: TableSnapshot,
                            predicate: String, set: Seq[(String, String)],
                            noun: String): (Expression, Seq[Expression], Seq[Pred]) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    import org.apache.spark.sql.catalyst.expressions.{Alias, And, BindReferences, Literal, SubqueryExpression}
    import org.apache.spark.sql.functions.expr
    val df = spark.read.format("graft").schema(snap.schema).load(snap.path)
    val filtered = df.filter(expr(predicate))
    val analyzed = (if (set.isEmpty) filtered
      else filtered.select(set.map { case (c, e) =>
        expr(e).cast(df.schema(c).dataType).as(c) }: _*)).queryExecution.analyzed
    val filter = analyzed.collectFirst { case f: Filter => f }
      .getOrElse(throw new IllegalArgumentException(
        s"cannot resolve $noun '$predicate' against ${snap.path}"))
    val assigns = analyzed.collectFirst { case p: Project =>
      p.projectList.map(_.asInstanceOf[Alias].child) }.getOrElse(Nil)
    val exprs = filter.condition +: assigns
    exprs.lazyZip(predicate +: set.map(_._2)).foreach { (e, text) =>
      require(e.deterministic, s"$noun must be deterministic: $text")
      require(!e.exists(_.isInstanceOf[SubqueryExpression]),
        s"$noun must not contain a subquery: $text")
    }
    val bound = exprs.map(BindReferences.bindReference(_, filter.child.output))
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    // a constant subexpression that fails to evaluate stays as it is
    def folded(e: Expression): Expression = e.transformUp {
      case x if x.foldable && !x.isInstanceOf[Literal] =>
        try Literal(x.eval(), x.dataType)
        catch { case scala.util.control.NonFatal(_) => x }
    }
    val layout = GraftDataSource.layoutOf(snap.schema)
    val preds = conjuncts(filter.condition).map(folded).flatMap(sourceFilterOf)
      .flatMap(GraftDataSource.pushdown(_, layout)).map(_._2)
    (bound.head, bound.tail, preds)
  }

  /** The one container admission: the scan's per-container admission
    * of `preds` (zone maps, envelopes, null counts, bucket ids, rename
    * re-keying, add-only-evolution coverage). Returns the containers
    * that MAY hold a matching row.
    */
  private def admitted(snap: TableSnapshot, preds: Seq[Pred]): Seq[TableManifest] =
    snap.committed.filter { m =>
      snap.view(m).admission(preds).exists(GraftDataSource.admitManifest(m, _))
    }

  /** One bin's rewrite: the source containers it consumed, its staged
    * manifest (null when nothing was staged), and how many rows the
    * operation changed in it (a fold changes every row it moves).
    */
  private final case class Rewritten(consumed: Seq[String],
                                     staged: TableManifest, changed: Long)

  /** The one rewrite job: one Spark task per bin (an RDD, because the
    * payload is driver-planned manifest metadata, not table rows), each
    * staging `part-<op>-<runId>-<bin>` through `step` (the operation's
    * per-container rewrite). Chunk detail (index entries are
    * summary-only since round 8) hydrates INSIDE each task from the
    * container's own commit marker, so the driver plans from summaries
    * alone and its memory stays O(containers), not O(containers x
    * chunks). A staged rewrite that changed nothing is discarded — the
    * original stays committed. The collect returns ONE manifest per bin:
    * bounded metadata, never rows.
    *
    * A failed task (a source container deleted mid-read by a concurrent
    * overwrite or compaction, or an outright error) sweeps THIS run's
    * staged containers, then raises the failure as [[aborted]] maps it.
    * The job fails as soon as one task does, while its sibling tasks
    * may still be staging, so the sweep first waits ([[awaitJobTasks]])
    * until no task of the job is running. Fatal errors (OOM, interrupts)
    * propagate untouched; their leftovers, and those of a sibling that
    * outlives the wait, are vacuum's job.
    */
  private def rewriteJob(spark: SparkSession, snap: TableSnapshot, op: String,
                         runId: String, bins: Seq[Seq[TableManifest]],
                         noun: String)(
      step: (org.apache.hadoop.conf.Configuration, Seq[TableManifest],
        String, Int) => (TableManifest, Long)): Seq[Rewritten] =
    if (bins.isEmpty) Nil
    else {
      val (path, shipped) = (snap.path, ContainerIO.shippedConf(spark))
      val sc = spark.sparkContext
      val tag = s"graft-$op-$runId"
      sc.addJobTag(tag)
      try sc.parallelize(bins.zipWithIndex, bins.size)
        .map { case (ms0, bin) =>
          val conf = shipped.value.conf
          val ms = ms0.map(Manifests.loadChunkIndex(conf, path, _))
          val (pm, changed) = step(conf, ms, s"$op-$runId-$bin", bin)
          if (pm != null && changed == 0L)
            ContainerIO.fs(path, conf).delete(new org.apache.hadoop.fs.Path(
              s"$path/blocks/part-${pm.name}.gblk"), false)
          Rewritten(ms.map(_.name), pm, changed)
        }
        .collect().toSeq
      catch {
        case scala.util.control.NonFatal(e) =>
          awaitJobTasks(spark, tag)
          GraftCommits.dropStaged(snap.conf, path, s"$op-$runId")
          throw aborted(path, noun, e)
      } finally sc.removeJobTag(tag)
    }

  /** Wait (at most [[TaskDrainMs]]) until no task of the jobs tagged
    * `tag` is still running. The status store applies listener events in
    * order: a job shows as ended only after every task start of its
    * stages, and a stage's active-task count reaches 0 only once its
    * last running task has ended — so "ended, and no active tasks" is
    * exact once the job is visible at all.
    */
  private def awaitJobTasks(spark: SparkSession, tag: String): Unit = {
    val t = spark.sparkContext.statusTracker
    def drained: Boolean = {
      val jobs = t.getJobIdsForTag(tag)
      jobs.nonEmpty && jobs.forall { j =>
        t.getJobInfo(j).exists { info =>
          info.status != org.apache.spark.JobExecutionStatus.RUNNING &&
            info.stageIds.forall(s => t.getStageInfo(s).forall(_.numActiveTasks == 0))
        }
      }
    }
    val deadline = System.nanoTime() + TaskDrainMs * 1000000L
    while (!drained && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Bound on [[awaitJobTasks]]: a sibling rewrite task still running
    * after this long leaves its staged block to vacuum.
    */
  private final val TaskDrainMs = 60000L

  /** How a failed copy-on-write operation surfaces: a source container
    * that vanished mid-rewrite (FileNotFound anywhere in the cause chain
    * — a concurrent overwrite or compaction deleted it) becomes the
    * controlled [[CompactionConflict]]; anything else, a conflict
    * included, is raised as it is.
    */
  private def aborted(path: String, noun: String, e: Throwable): Throwable = {
    def hasFnf(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[java.io.FileNotFoundException] ||
        hasFnf(t.getCause))
    e match {
      case c: CompactionConflict => c
      case _ if hasFnf(e) =>
        val c = new CompactionConflict(
          s"a source container of $path vanished during the $noun rewrite " +
            s"(concurrent overwrite/compaction); $noun aborted, staged " +
            "output removed")
        c.initCause(e)
        c
      case _ => e
    }
  }

  /** The one commit tail: the bins that changed something, plus any
    * `appended` containers (UPSERT's staged source), land through ONE
    * [[GraftCommits.commit]] replacing exactly the consumed containers.
    * A consumed container replaced by a concurrent commit aborts with
    * [[CompactionConflict]]; containers WITHOUT ancestors (the appended
    * source) are plain appends to label resolution, so they carry
    * publish's add-only/label re-check ([[GraftCommits.checkSchema]]),
    * or their planning-time labels under this newer commit id would
    * revert a rename or drop that committed meanwhile. Rewritten
    * generations carry ancestors and never label-resolve.
    *
    * `reclaim = true` deletes the consumed generation once the new
    * snapshot is live (compaction's expire-now semantics); the row-level
    * mutations pass false, so retained time-travel snapshots keep
    * reading the pre-mutation rows until the generation ages out of
    * retention and [[vacuum]] sweeps it. Returns the changed bins
    * (nothing commits when there are none and nothing is appended).
    */
  private def commitTail(snap: TableSnapshot, done: Seq[Rewritten],
                         appended: Seq[TableManifest], what: String,
                         reclaim: Boolean): Seq[Rewritten] = {
    val changed = done.filter(_.changed > 0L)
    if (changed.nonEmpty || appended.nonEmpty) {
      val (conf, path) = (snap.conf, snap.path)
      val consumed = changed.flatMap(_.consumed).toSet
      GraftCommits.commit(conf, path, Manifests.readCommittedVersion(conf, path),
          changed.map(_.staged) ++ appended, reclaim) { (landing, stamped, _) =>
        stamped.filter(_.ancestors.isEmpty).map(_.schemaCols).distinct
          .foreach(GraftCommits.checkSchema(path, landing, _))
        val gone = consumed -- landing.map(_.name)
        if (gone.nonEmpty) throw new CompactionConflict(
          s"containers ${gone.toSeq.sorted.mkString(", ")} were replaced " +
            s"by a concurrent commit during $what of $path; aborting")
        landing.filterNot(m => consumed(m.name)) ++ stamped
      }
    }
    changed
  }

  /** Conservative translation of one conjunct of a resolved DELETE or
    * UPDATE predicate into the source filter the scan's pushdown
    * boundary takes: attribute-vs-literal comparisons, IN and IS [NOT]
    * NULL translate; anything else (casts around the attribute,
    * functions, UDFs, OR) returns None and the conjunct prunes nothing.
    * OR stays out on purpose: admission drops a container whole when a
    * value test reads a column it predates, which is sound for a
    * conjunct but not for one side of a disjunction. Literal constants
    * convert to their EXTERNAL representation
    * ([[CatalystTypeConverters.convertToScala]]) — String / BigDecimal /
    * LocalDateTime / Date — the exact form the scan's pushed filters
    * arrive in. (Spark's own DataSourceStrategy.translateFilter is
    * protected[sql].)
    */
  private def sourceFilterOf(
      e: org.apache.spark.sql.catalyst.expressions.Expression):
      Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.{sources => sf}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    def ext(l: ce.Literal): Any = convertToScala(l.value, l.dataType)
    e match {
      case ce.EqualTo(a: ce.AttributeReference, l: ce.Literal) if l.value != null =>
        Some(sf.EqualTo(a.name, ext(l)))
      case ce.EqualTo(l: ce.Literal, a: ce.AttributeReference) if l.value != null =>
        Some(sf.EqualTo(a.name, ext(l)))
      case ce.GreaterThan(a: ce.AttributeReference, l: ce.Literal) if l.value != null =>
        Some(sf.GreaterThan(a.name, ext(l)))
      case ce.GreaterThan(l: ce.Literal, a: ce.AttributeReference) if l.value != null =>
        Some(sf.LessThan(a.name, ext(l)))
      case ce.GreaterThanOrEqual(a: ce.AttributeReference, l: ce.Literal) if l.value != null =>
        Some(sf.GreaterThanOrEqual(a.name, ext(l)))
      case ce.GreaterThanOrEqual(l: ce.Literal, a: ce.AttributeReference) if l.value != null =>
        Some(sf.LessThanOrEqual(a.name, ext(l)))
      case ce.LessThan(a: ce.AttributeReference, l: ce.Literal) if l.value != null =>
        Some(sf.LessThan(a.name, ext(l)))
      case ce.LessThan(l: ce.Literal, a: ce.AttributeReference) if l.value != null =>
        Some(sf.GreaterThan(a.name, ext(l)))
      case ce.LessThanOrEqual(a: ce.AttributeReference, l: ce.Literal) if l.value != null =>
        Some(sf.LessThanOrEqual(a.name, ext(l)))
      case ce.LessThanOrEqual(l: ce.Literal, a: ce.AttributeReference) if l.value != null =>
        Some(sf.GreaterThanOrEqual(a.name, ext(l)))
      case ce.In(a: ce.AttributeReference, vs)
          if vs.nonEmpty && vs.forall(v =>
            v.isInstanceOf[ce.Literal] && v.asInstanceOf[ce.Literal].value != null) =>
        Some(sf.In(a.name, vs.map(v => ext(v.asInstanceOf[ce.Literal])).toArray))
      case ce.IsNull(a: ce.AttributeReference) => Some(sf.IsNull(a.name))
      case ce.IsNotNull(a: ce.AttributeReference) => Some(sf.IsNotNull(a.name))
      case _ => None
    }
  }

  /** Rename a column (round 8). Field identity is POSITIONAL under the
    * add-only invariant, so a rename is pure metadata: one zero-row
    * SCHEMA MARKER manifest carrying the full current schema with the
    * new label commits through the ordinary OCC path (real commit
    * marker file — the listing fallback preserves it; compaction never
    * consumes zero-row manifests, so the marker outlives folds).
    * Current-name resolution takes the highest-commitId plain manifest
    * per position, so every committed container keeps its historical
    * labels and readers translate per container — old snapshots time-
    * travel under their old names, new filters/pushdowns use the new
    * one. A concurrent rename/append that changed the column loses with
    * [[SchemaEvolutionConflict]] inside the OCC transform.
    */
  def renameColumn(spark: SparkSession, path: String,
                   from: String, to: String): Unit = {
    require(to.nonEmpty && to != from, s"bad rename target '$to'")
    changeSchema(spark, path, s"rename '$from' -> '$to'") { current =>
      val idx = current.indexWhere(_.name == from)
      require(idx >= 0,
        s"no column '$from' in ${current.map(_.name).mkString(",")}")
      require(!current.exists(_.name == to),
        s"column '$to' already exists in ${current.map(_.name).mkString(",")}")
      current.updated(idx, current(idx).copy(name = to))
    }
  }

  /** Drop a column (round 9). Field identity is POSITIONAL, so a drop is
    * pure metadata like a rename: a zero-row schema marker flags the
    * position DROPPED ([[graft.engine.ColumnSpec.DroppedFlag]]) and
    * relabels it with a reserved tombstone name. The position stays in
    * every manifest's chain — committed containers keep their data and
    * labels (retained snapshots time-travel to it) — but the current
    * schema projects it out: readers never request its blocks, appends
    * supply only the visible columns (the writer re-interleaves the
    * tombstone into the manifests' chain), and a LATER append may re-add
    * the same name as a fresh trailing position. Compaction preserves
    * the tombstone (compacted generations never label-resolve over plain
    * markers). A concurrent rename/append that changed the column loses
    * with [[SchemaEvolutionConflict]].
    */
  def dropColumn(spark: SparkSession, path: String, col: String): Unit =
    changeSchema(spark, path, s"drop '$col'") { current =>
      val idx = current.indexWhere(s => s.name == col && !s.dropped)
      require(idx >= 0,
        s"no column '$col' in ${current.filterNot(_.dropped)
          .map(_.name).mkString(",")}")
      require(current.count(s => !s.dropped) > 1,
        s"cannot drop '$col': it is the table's last visible column")
      val tomb = s"_dropped_p${idx}_" +
        java.util.UUID.randomUUID().toString.take(8)
      current.updated(idx, current(idx).copy(name = tomb, dropped = true))
    }

  /** The one zero-row schema-marker commit (rename, drop): `mutate` maps
    * the table's positional chain to the marker's. It is validated once
    * against the operation's snapshot, so a user error is an
    * IllegalArgumentException raised before anything is written; then
    * every commit attempt re-applies it to the chain of the snapshot the
    * attempt lands on — a concurrent append's added column or another
    * column's rename or drop is kept, never reverted — and names the
    * marker with the attempt's commit id, which outranks every manifest
    * that snapshot holds (last-commit-wins label resolution). A mutation
    * that no longer applies there (a concurrent change of the same
    * column) raises [[SchemaEvolutionConflict]].
    */
  private def changeSchema(spark: SparkSession, path: String, what: String)(
      mutate: Seq[ColumnSpec] => Seq[ColumnSpec]): Unit = {
    val snap = new TableSnapshot(path, spark.sparkContext.hadoopConfiguration).requireTable()
    mutate(snap.chain)
    GraftCommits.commit(snap.conf, path, (snap.version, snap.all), Nil,
        reclaim = false) { (landing, _, id) =>
      val current = GraftDataSource.currentSpecsOf(landing)
      val chain =
        try mutate(current)
        catch {
          case e: IllegalArgumentException =>
            val c = new SchemaEvolutionConflict(
              s"concurrent schema change on $path: cannot $what (current " +
                s"columns: ${current.filterNot(_.dropped).map(_.name).mkString(",")})")
            c.initCause(e)
            throw c
        }
      landing :+ TableManifest(name = s"schemamarker-$id-0", part = 0,
        rows = 0L, chunks = 0, rawBytes = 0L, encodedBytes = 0L, digest = "",
        schemaCols = chain.map(s => (s.name, s.packed)), digestCol = "",
        commitId = id, schemaMarker = true)
    }
  }

  /** Remove UNREACHABLE files from a table directory under ONE rule: a
    * container is referenced when the current index snapshot or a
    * retained one (time travel keeps the last `graft.snapshot.retention`
    * versions readable) names it. Its commit marker and block stay;
    * every other marker and block is unreachable — the staged output of
    * crashed or zombie write attempts, a crashed rename's schema marker,
    * a generation a DELETE superseded once no retained snapshot reads it
    * (`delete` → `expire_snapshots` → `vacuum` purges deleted rows), a
    * crash window's stale generation — and is swept, as are leftover
    * `.tmp-*` upload fragments. A table without an index (disaster
    * recovery) has no snapshot to judge by: its listed markers are all
    * kept, and so are their blocks.
    *
    * Only files older than `graceMs` are touched — and the grace window
    * must EXCEED the longest write job this table can see: a write's
    * staged containers and markers are unreferenced until its index
    * commit, so a too-short grace deletes a slow job's output out from
    * under its commit (Iceberg's orphan-file procedure defaults to 3
    * days for the same reason; so does this).
    *
    * Returns the number of files deleted.
    */
  def vacuum(spark: SparkSession, path: String,
             graceMs: Long = 72L * 60 * 60 * 1000,
             dryRun: Boolean = false): Int = {
    require(graceMs >= 0, s"graceMs must be >= 0: $graceMs")
    val snap = new TableSnapshot(path, spark.sparkContext.hadoopConfiguration)
    val c = snap.conf
    val indexLive = snap.version >= 0
    val referenced: Set[String] =
      if (indexLive) (snap.all.map(_.name) ++
        Manifests.retainedSnapshotNames(c, path, except = snap.version)).toSet
      else ContainerIO.listNames(c, s"$path/manifests")
        .collect { case MarkerFile(n) => n }.toSet
    val fs = ContainerIO.fs(path, c)
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0
    def sweep(dir: String, doomed: String => Boolean): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!fs.exists(p)) return
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && st.getModificationTime < cutoff &&
            (n.startsWith(".tmp-") || doomed(n))) {
          if (dryRun) deleted += 1
          else if (fs.delete(st.getPath, false)) deleted += 1
        }
      }
    }
    sweep(s"$path/blocks", {
      case BlockFile(n) => !referenced(n)
      case _ => false
    })
    sweep(s"$path/manifests", {
      case MarkerFile(n) => indexLive && !referenced(n)
      case _ => false
    })
    deleted
  }

  private val BlockFile = """part-(.+)\.gblk""".r
  private val MarkerFile = """part-(.+)\.json""".r

  /** Expire retained time-travel snapshots now (see
    * [[Manifests.expireSnapshots]]): keep the newest `retainLast`
    * content-bearing versions (the current tip counts), optionally only
    * expiring versions older than `olderThanMs`. Returns the number of
    * versions expired. The rolling per-commit retention is configurable
    * via the `graft.snapshot.retention` Hadoop/Spark configuration key
    * (default ${Manifests.SnapshotRetention}).
    */
  def expireSnapshots(spark: SparkSession, path: String, retainLast: Long,
                      olderThanMs: Long = 0L): Int =
    Manifests.expireSnapshots(spark.sparkContext.hadoopConfiguration, path,
      retainLast, olderThanMs)

  /** The rewrite of one bin: `ms`' containers in turn through the one
    * chunk stream ([[ChunkCursor]]), each chunk over the container's live
    * lanes (dropped positions hold no data), CRC + content-digest
    * verified, handed to `rows` — the
    * operation's row loop, which re-encodes into a fresh encoder of
    * `schema` and returns how many rows it changed. The staged manifest
    * is unpublished and records the consumed epochs as `ancestors`. Task
    * memory is bounded by one decoded chunk plus one encoder chunk
    * buffer.
    */
  private def rewriteBin(conf: org.apache.hadoop.conf.Configuration,
                         path: String, ms: Seq[TableManifest],
                         schema: Seq[ColumnSpec], partName: String, bin: Int)(
      rows: (ColumnarEngine.PartitionEncoder, DecodedChunk) => Long
  ): (TableManifest, Long) = {
    val enc = new ColumnarEngine.PartitionEncoder(bin, path, conf,
      partName = partName, schema = schema)
    // EPOCH identities folded into this container — with those the
    // sources themselves carried (a compaction of compactions): lets
    // publish() drop a replayed epoch whose rows live here, regardless
    // of the replay's partition count
    val ancestors = Manifests.capAncestors(
      ms.map(m => Manifests.epochKey(Manifests.logicalName(m.name))) ++
        ms.flatMap(_.ancestors))
    var changed = 0L
    ms.foreach { m =>
      val cursor = new ChunkCursor(m.blockFile(path), m.chunkIndex,
        Lane.ofSpecs(GraftDataSource.specsOfManifest(m)), conf, m.digestCol)
      try cursor.chunkIter.foreach(chunk => changed += rows(enc, chunk))
      finally cursor.close()
    }
    // partition-transform metadata survives compaction CONSERVATIVELY:
    // identical declared transforms across all sources are kept, and a
    // bucket column's id set is the union — only when EVERY source
    // recorded one (absence = no proof = no pruning, never wrong)
    val partitioning =
      if (ms.nonEmpty && ms.forall(_.partitioning == ms.head.partitioning))
        ms.head.partitioning
      else Nil
    val bucketIds: Map[String, Set[Int]] =
      if (partitioning.isEmpty) Map.empty
      else ms.head.bucketIds.keySet
        .filter(c => ms.forall(_.bucketIds.contains(c)))
        .map(c => c -> ms.flatMap(_.bucketIds(c)).toSet)
        .toMap
    (enc.finish().copy(ancestors = ancestors,
      partitioning = partitioning, bucketIds = bucketIds), changed)
  }

  /** The row loop of compaction, DELETE and UPSERT: every decoded row
    * `drop` does not match (every row, when `drop` is null) re-encodes
    * column by column; returns the rows dropped.
    */
  private def copyRows(drop: RowDropper)(enc: ColumnarEngine.PartitionEncoder,
                                         chunk: DecodedChunk): Long = {
    // the encoder's live column c, decoded; NULLs must propagate or
    // compaction would turn them into their stored placeholders
    val cols = enc.columns.map(s => chunk.col(s.name)).toArray
    var dropped = 0L
    var j = 0
    while (j < chunk.rows) {
      if (drop != null && drop.matches(chunk, j)) dropped += 1
      else {
        var c = 0
        while (c < cols.length) { enc.putDecoded(c, cols(c), j); c += 1 }
        enc.endRow()
      }
      j += 1
    }
    dropped
  }

  /** UPDATE's row loop: every row round-trips through the visible
    * internal representation (the same bijective per-kind conversions
    * the matcher and readers use) — the visible row's field i is the
    * encoder chain's live column i — and matched rows get the bound
    * `assigns` (visible ordinal -> expression); returns the rows updated.
    */
  private def updateRows(matcher: StoredRowMatcher, assigns: Seq[(Int, Expression)])(
      enc: ColumnarEngine.PartitionEncoder, chunk: DecodedChunk): Long = {
    var updated = 0L
    var j = 0
    while (j < chunk.rows) {
      val row = matcher.buildRow(chunk, j)
      if (matcher.matchesRow(row)) {
        updated += 1
        // all assignments see the ORIGINAL row: evaluate first, apply after
        val vals = assigns.map(_._2.eval(row))
        assigns.lazyZip(vals).foreach { case ((ord, _), v) => row.update(ord, v) }
      }
      enc.putRow(row)
      j += 1
    }
    updated
  }

  /** A predicate matcher over one container of `schema`: the bound
    * predicate's ordinals are VISIBLE positions, and the ones the
    * container covers form a prefix (full positions are ascending).
    */
  private def rowMatcher(cond: Expression, visPositions: Seq[Int],
                         schema: Seq[ColumnSpec]): StoredRowMatcher =
    new StoredRowMatcher(cond, visPositions.takeWhile(_ < schema.size).map(schema),
      visPositions.size)
}

/** A row decision over decoded stored rows: the rows the copy-on-write
  * row loop drops (a predicate for DELETE, a key set for UPSERT).
  */
private[sources] trait RowDropper extends Serializable {
  def matches(chunk: graft.engine.DecodedChunk, j: Int): Boolean
}

/** Key-set membership over decoded STORED rows (the upsert matcher): a
  * row matches when its key tuple — each component its lane value, the
  * stored form [[graft.engine.Kind.storedValue]] gave the keys — is in
  * `keySet`.
  * Rows with a NULL key component never match (SQL join semantics).
  */
private[sources] final class StoredKeyMatcher(
    keyCols: Seq[ColumnSpec], keySet: Set[Seq[Any]]) extends RowDropper {
  import graft.engine.DecodedChunk

  @transient private lazy val getters: Array[(DecodedChunk, Int) => Any] =
    keyCols.toArray.map { s =>
      val n = s.name
      val get: (DecodedChunk, Int) => Any = s.lane match {
        case Lane.Longs => (c, j) => c.col(n).longs(j)
        case Lane.Ints => (c, j) => c.col(n).ints(j)
        case Lane.Bytes => (c, j) => c.col(n).bytes.string(j)
        case other => throw new IllegalStateException(
          s"unsupported upsert key lane ${other.label} for '$n'")
      }
      if (s.nullable) (c: DecodedChunk, j: Int) =>
        if (c.validAt(n, j)) get(c, j) else null
      else get
    }

  def matches(chunk: DecodedChunk, j: Int): Boolean = {
    val t = new Array[Any](getters.length)
    var i = 0
    while (i < getters.length) {
      val v = getters(i)(chunk, j)
      if (v == null) return false
      t(i) = v
      i += 1
    }
    keySet.contains(t.toSeq)
  }
}

/** Evaluates a Catalyst predicate — resolved against the table's CURRENT
  * schema and bound to positional ordinals — on decoded STORED rows of
  * one container (the DELETE and UPDATE row matcher). Positions the
  * container covers are surfaced in Spark's internal representation
  * ([[graft.engine.Kind.internalValue]]: UTF8String views over the
  * decoded pool, no String materialization); positions
  * past the container's width (add-only evolution) stay null, matching
  * the reader's null-fill. Ships to tasks with the bound expression;
  * the generated predicate and per-column getters build lazily on the
  * executor.
  */
private[sources] final class StoredRowMatcher(
    bound: org.apache.spark.sql.catalyst.expressions.Expression,
    containerCols: Seq[ColumnSpec], width: Int) extends RowDropper {
  import graft.engine.DecodedChunk

  @transient private lazy val pred = {
    val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(bound)
    p.initialize(0)
    p
  }

  @transient private lazy val getters: Array[(DecodedChunk, Int) => Any] =
    containerCols.toArray.map { s =>
      val n = s.name
      val value = Kinds(s.kind).internalValue(s)
      val get: (DecodedChunk, Int) => Any = (c, j) => value(c.col(n), j)
      if (s.nullable) (c: DecodedChunk, j: Int) =>
        if (c.validAt(n, j)) get(c, j) else null
      else get
    }

  /** The row in the CURRENT visible schema's internal representation:
    * covered positions from the decoded chunk, the rest null.
    */
  def buildRow(chunk: DecodedChunk, j: Int):
      org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(width)
    var i = 0
    while (i < getters.length) { row.update(i, getters(i)(chunk, j)); i += 1 }
    row
  }

  def matches(chunk: DecodedChunk, j: Int): Boolean =
    pred.eval(buildRow(chunk, j))

  def matchesRow(row: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    pred.eval(row)
}
