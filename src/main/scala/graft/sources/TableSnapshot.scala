package graft.sources

import org.apache.spark.sql.types.StructType

import graft.engine.{ColumnSpec, Manifests, TableManifest}

/** One operation's view of a graft table, read ONCE: the committed
  * manifests of the live table (or of the retained version `asOf` pins),
  * the table's full positional column chain, and the schema that chain
  * makes visible. Every query, write and mutation plans against one:
  * schema inference, the scan builder's aggregate proofs, the scan's
  * statistics, runtime filters and partition planning, the aggregate
  * scan's fold, each stream trigger, and the copy-on-write operations.
  * The only other committed-manifest reads in `sources` are a commit's
  * own base read and its OCC retries.
  *
  * Construction reads the index; the chain and schema resolve lazily, so
  * an operation that needs only the manifest set (vacuum) never resolves
  * names. A read or resolution failure surfaces as
  * IllegalArgumentException: this runs inside Spark's analysis and
  * planning, where a raw parser exception would be wrapped as an opaque
  * internal error (fuzz contract).
  */
private[sources] final class TableSnapshot(val path: String,
    val conf: org.apache.hadoop.conf.Configuration, val asOf: Option[Long] = None) {
  private def controlled[T](body: => T): T =
    try body
    catch {
      case e: IllegalArgumentException => throw e
      case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
        s"corrupt graft table metadata under $path", e)
    }

  /** The index version read (-1 when the table has no index yet) and
    * every committed manifest: data containers, schema markers and
    * zero-row tombstones.
    */
  val (version: Long, all: Seq[TableManifest]) = controlled(
    asOf.fold(Manifests.readCommittedVersion(conf, path))(v =>
      (v, Manifests.readCommittedAt(conf, path, v))))

  /** The data containers (schema markers and tombstones hold no rows). */
  val committed: Seq[TableManifest] =
    all.filter(m => m.rows > 0 && !m.schemaMarker)

  def exists: Boolean = all.nonEmpty

  def requireTable(): TableSnapshot = {
    require(exists, s"no graft table at $path")
    this
  }

  /** The FULL positional chain, dropped positions included: what every
    * positional zip between current and stored names must use.
    */
  lazy val chain: Seq[ColumnSpec] =
    if (all.isEmpty) Nil else controlled(GraftDataSource.currentSpecsOf(all))
  lazy val visible: Seq[ColumnSpec] = chain.filterNot(_.dropped)
  lazy val tableCols: Seq[String] = chain.map(_.name)
  /** Full positions of the visible columns, ascending — a container
    * covers a PREFIX of them (chains are prefix-extensions).
    */
  lazy val visPositions: Seq[Int] =
    chain.zipWithIndex.filterNot(_._1.dropped).map(_._2)

  /** The visible schema. Dropped positions are projected out; the
    * duplicate-name guard applies to visible labels only (a re-added
    * column may reuse a dropped one's name at a new position).
    */
  lazy val schema: StructType = {
    requireTable()
    require(visible.map(_.name).distinct.size == visible.size,
      s"graft table $path resolves duplicate current column names: " +
        visible.map(_.name).mkString(","))
    require(visible.nonEmpty,
      s"graft table $path has no visible columns (all dropped)")
    GraftDataSource.schemaOf(visible)
  }

  /** A query's chain names: its load-time visible names at their full
    * positions, with DROPPED positions keeping their tombstone labels in
    * between. A DataFrame loaded before a rename keeps addressing columns
    * by the names it was loaded with; without drops this is `visNames`
    * itself. Empty `visNames` reads the table under its current names.
    */
  def chainOf(visNames: Seq[String]): Seq[String] =
    if (visNames.isEmpty) tableCols
    else if (!chain.exists(_.dropped)) visNames
    else {
      val it = visNames.iterator
      chain.map(s =>
        if (s.dropped) s.name
        else if (it.hasNext) it.next()
        else s.name) ++ it
    }

  /** `m` seen through the chain names `cols` (default: the current ones). */
  def view(m: TableManifest, cols: Seq[String] = tableCols): ContainerView =
    new ContainerView(m, cols)

  /** Per-snapshot hydration cache (two-level metadata): an index-elided
    * manifest's chunk detail is read from its commit marker AT MOST once
    * per snapshot, and only for containers the summary-level admission
    * let through — planning cost scales with admitted containers, never
    * with table size.
    */
  private val hydrated =
    new java.util.concurrent.ConcurrentHashMap[String, TableManifest]()
  def hydrate(m: TableManifest): TableManifest =
    if (!m.chunksElided) m
    else hydrated.computeIfAbsent(m.name, _ =>
      Manifests.loadChunkIndex(conf, path, m))
}

/** One container seen through a query's chain names `cols` (positional
  * current labels): which columns it covers, the label each is stored
  * under, its digest column, and the preds it is admitted against. A
  * container written before a rename stores blocks and stats under its
  * HISTORICAL labels; one written before a column was added (add-only
  * evolution) has no block for it and reads all-NULL there.
  */
private[sources] final class ContainerView(m: TableManifest,
                                           cols: Seq[String]) {
  /** The number of chain positions the container covers. */
  def width: Int = m.schemaCols.size

  /** Current name -> stored name where they differ (empty without
    * renames, which keeps the fast paths allocation-free).
    */
  val toStored: Map[String, String] =
    cols.zip(m.schemaCols.map(_._1)).filter(p => p._1 != p._2).toMap

  /** Current names of the covered positions. */
  val covered: Set[String] = cols.take(width).toSet

  /** The container PREDATES `c`: its position is past the container's
    * width (names are labels, not identity).
    */
  def predates(c: String): Boolean = !covered(c)

  def stored(c: String): String = toStored.getOrElse(c, c)

  /** The manifest's digest column under its current name. */
  def digestCol: String =
    toStored.collectFirst { case (cur, st) if st == m.digestCol => cur }
      .getOrElse(m.digestCol)

  /** The preds this container is admitted against, re-keyed to its
    * stored labels — or None when a value test reads a column the
    * container predates ([[Pred.within]]). IS NULL on a predated column
    * is dropped BEFORE re-keying: after a rename X->Y and a new column
    * reusing the name X, the current "X" collides with the container's
    * stored pre-rename label "X" at another position, whose null counts
    * (explicit 0) would prune a container whose rows ALL match X IS NULL.
    */
  def admission(preds: Seq[Pred]): Option[Seq[Pred]] =
    Pred.within(preds, predates).map(in =>
      if (toStored.isEmpty) in else in.map(p => p.on(stored(p.col))))
}
