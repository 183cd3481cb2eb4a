package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** Container/manifest IO through the Hadoop `FileSystem` API, so the
  * engine's `outDir` can live on any cluster filesystem (`file://`,
  * `hdfs://`, `s3a://`…) — `java.nio.file` (round 1) only worked on a
  * single box. Tasks get the session's Hadoop conf ONLY as the broadcast
  * [[ContainerIO.ShippedConf]] of [[ContainerIO.shippedConf]], reused
  * while the conf's content and live `SparkContext` stay the same; each
  * JVM rebuilds the `Configuration` once per distinct conf (Spark's
  * `SerializableConfiguration` is `private[spark]`). Driver-only code
  * takes a `Configuration` directly.
  *
  * Commit protocol: tmp-file + `rename` where rename is atomic
  * (HDFS/local/ABFS); direct `create(overwrite = false)` — a conditional
  * PUT — on S3-family object stores, where rename is copy+delete. See
  * [[ContainerIO.commitProtocol]].
  *
  * On the `file` scheme, directories, container blocks and the
  * manifest-index CAS go through `java.nio`: without Hadoop's native
  * library, every file or directory `LocalFileSystem` creates forks a
  * `chmod` (~7 ms per mkdirs or create, against ~0.2 ms here). Blocks
  * need no `.crc` sidecar, since each carries graft's CRC32C per block;
  * commit markers keep the checksummed Hadoop write, because on a local
  * disk the `.crc` is their only integrity check.
  */
object ContainerIO {

  /** Serializable snapshot of the session's Hadoop configuration. */
  def confSnapshot(spark: SparkSession): Map[String, String] =
    confSnapshot(spark.sparkContext.hadoopConfiguration)

  def confSnapshot(c: Configuration): Map[String, String] = {
    val it = c.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
    b.result()
  }

  /** Rebuild a Configuration from a snapshot. */
  def confFrom(snapshot: Map[String, String]): Configuration = {
    val c = new Configuration(false)
    snapshot.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The conf as tasks receive it: the snapshot map on the wire, rebuilt
    * once per JVM and shared read-only by every task there.
    */
  final class ShippedConf(kv: Map[String, String]) extends Serializable {
    @transient lazy val conf: Configuration = confFrom(kv)
  }

  private var shipped: (SparkContext, Map[String, String], Broadcast[ShippedConf]) = _

  /** The session's conf for tasks: the last broadcast while the conf's
    * content and live `SparkContext` are the same (a broadcast costs ms
    * on the driver, so operations share it), else a fresh one.
    */
  def shippedConf(spark: SparkSession): Broadcast[ShippedConf] = synchronized {
    val sc = spark.sparkContext
    val kv = confSnapshot(sc.hadoopConfiguration)
    if (shipped == null || !(shipped._1 eq sc) || sc.isStopped || shipped._2 != kv)
      shipped = (sc, kv, sc.broadcast(new ShippedConf(kv)))
    shipped._3
  }

  /** Driver-side configuration (classpath defaults). */
  def localConf(): Configuration = new Configuration()

  def fs(path: String, conf: Configuration): FileSystem =
    new Path(path).getFileSystem(conf)

  /** The local path of `p` when its filesystem has the `file` scheme. */
  private def localPath(f: FileSystem, p: Path): Option[java.nio.file.Path] =
    if (Option(f.getUri.getScheme).getOrElse("file") == "file")
      Some(java.nio.file.Paths.get(f.makeQualified(p).toUri))
    else None

  def mkdirs(conf: Configuration, dir: String): Unit = {
    val p = new Path(dir)
    val f = fs(dir, conf)
    localPath(f, p) match {
      case Some(local) => java.nio.file.Files.createDirectories(local)
      case None => f.mkdirs(p)
    }
    ()
  }

  def readAll(conf: Configuration, path: String): Array[Byte] = {
    val p = new Path(path)
    val f = fs(path, conf)
    val len = f.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"$path too large to read into one buffer")
    val in = f.open(p)
    try {
      val out = new Array[Byte](len.toInt)
      in.readFully(0L, out)
      out
    } finally in.close()
  }

  /** Commit protocol per filesystem family (see [[writeAtomic]]). */
  sealed trait CommitProtocol
  case object TmpRename extends CommitProtocol
  case object ConditionalCreate extends CommitProtocol

  /** Object stores where `rename` is copy+delete (NOT atomic) but a
    * create-if-absent PUT is: S3 (S3A maps `create(overwrite=false)` to a
    * conditional `If-None-Match: *` PUT when
    * `fs.s3a.create.conditional.enabled` is on, its default in Hadoop
    * 3.4.1+), GCS, and Aliyun OSS. ABFS/HDFS/local keep atomic rename.
    */
  def commitProtocol(scheme: String): CommitProtocol = scheme match {
    case "s3a" | "s3" | "s3n" | "gs" | "oss" | "cosn" => ConditionalCreate
    case _ => TmpRename
  }

  /** Commit `bytes` at `dst` such that concurrent task attempts are safe
    * (first-commit-wins; all attempts encode identical bytes).
    *
    * - `checksummed = false` on the `file` scheme (container blocks,
    *   which carry their own CRC32C): write `tmp` through `java.nio`,
    *   then publish it with `Files.createLink`, which fails if `dst`
    *   exists — the first commit wins — and write no `.crc` sidecar.
    * - HDFS/local/ABFS: write to `tmp`, then atomic `rename` onto `dst`.
    * - S3-family object stores ([[commitProtocol]]): rename is
    *   copy+delete there, so write DIRECTLY to `dst` with
    *   `create(overwrite = false)` — a conditional create (S3A: one
    *   `If-None-Match: *` PUT). A lose-the-race failure means another
    *   attempt committed the identical bytes; swallowed.
    */
  def writeAtomic(conf: Configuration, tmp: String, dst: String,
                  bytes: Array[Byte], checksummed: Boolean = true): Unit = {
    val f = fs(dst, conf)
    val d = new Path(dst)
    val local = if (checksummed) None else localPath(f, d)
    if (local.isDefined) {
      val t = localPath(f, new Path(tmp)).get
      java.nio.file.Files.createDirectories(t.getParent) // as Hadoop's create does
      java.nio.file.Files.write(t, bytes)
      try java.nio.file.Files.createLink(local.get, t)
      catch { case _: java.nio.file.FileAlreadyExistsException => () } // lost the race
      finally java.nio.file.Files.deleteIfExists(t)
      return
    }
    commitProtocol(f.getUri.getScheme) match {
      case ConditionalCreate =>
        try {
          val out = f.create(d, false) // fail-if-exists: conditional PUT
          try out.write(bytes) finally out.close()
        } catch {
          case e: java.io.IOException if f.exists(d) => () // lost the race
        }
      case TmpRename =>
        val t = new Path(tmp)
        val out = f.create(t, true)
        try out.write(bytes) finally out.close()
        if (!f.rename(t, d)) {
          if (f.exists(d)) f.delete(t, false)
          else throw new java.io.IOException(s"rename $tmp -> $dst failed")
        }
    }
  }

  /** Atomically create `dst` with `bytes` iff it does not already exist;
    * returns false when another writer got there first. This is the
    * compare-and-swap primitive of the manifest-index OCC commit
    * ([[Manifests.commitIndex]]), and it must ALSO be atomic for
    * READERS: `dst` either doesn't exist or holds the complete bytes —
    * a create-then-stream would let a concurrent reader parse a
    * half-written snapshot.
    *
    *  - `file://`: write a private tmp file, publish via
    *    `Files.createLink` — POSIX `link(2)` is atomic AND fails with
    *    `EEXIST` if `dst` appeared meanwhile (a plain rename overwrites,
    *    so it can't arbitrate; `CREATE_NEW`+write exposes partial
    *    bytes).
    *  - HDFS/ABFS: tmp + `rename`, which is namenode-atomic and FAILS
    *    onto an existing destination — exclusive and all-or-nothing.
    *  - S3-family ([[commitProtocol]]): direct
    *    `create(overwrite = false)` — a conditional `If-None-Match: *`
    *    PUT; S3 objects are invisible until the PUT completes.
    */
  def createExclusive(conf: Configuration, dst: String, bytes: Array[Byte]): Boolean = {
    val f = fs(dst, conf)
    val d = new Path(dst)
    val uniq = s"${System.nanoTime()}-${Thread.currentThread().getId}"
    Option(f.getUri.getScheme).getOrElse("file") match {
      case "file" =>
        val dstP = java.nio.file.Paths.get(d.toUri.getPath)
        val tmp = dstP.resolveSibling(s".${dstP.getFileName}.tmp-$uniq")
        java.nio.file.Files.write(tmp, bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          java.nio.file.Files.createLink(dstP, tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        } finally {
          // a leftover tmp must not turn a won claim into a failure
          try java.nio.file.Files.deleteIfExists(tmp)
          catch { case _: java.io.IOException => () }
          ()
        }
      case scheme if commitProtocol(scheme) == ConditionalCreate =>
        try {
          val out = f.create(d, false)
          try out.write(bytes) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException if f.exists(d) => false
        }
      case _ =>
        val tmp = new Path(s"$dst.tmp-$uniq")
        val out = f.create(tmp, true)
        try out.write(bytes) finally out.close()
        if (f.rename(tmp, d)) true
        else {
          f.delete(tmp, false)
          if (f.exists(d)) false
          else throw new java.io.IOException(s"exclusive rename $tmp -> $dst failed")
        }
    }
  }

  /** File names (not paths) directly under `dir`; empty if absent. */
  def listNames(conf: Configuration, dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(dir, conf)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }
}
