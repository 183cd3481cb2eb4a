package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI

/** Local filesystem masquerading as an S3-family object store, to assert
  * the commit-protocol CHOICE (no real object store in this sandbox).
  * `create(path, overwrite = false)` fails if the file exists — the same
  * observable contract as S3A's conditional PUT. RawLocal (not the
  * checksumming wrapper) so the scheme override survives path checks.
  */
class FakeS3FileSystem extends RawLocalFileSystem {
  override def getScheme: String = "fakes3"
  override def getUri: URI = URI.create("fakes3:///")
}

/** Local filesystem under a rename-atomic cluster scheme: the Hadoop
  * tmp+rename commit path, with no `file`-scheme shortcut.
  */
class FakeHdfsFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "fakehdfs"
  override def getUri: URI = URI.create("fakehdfs:///")
}

class ContainerIOSpec extends AnyFunSuite {

  private def fakeS3Conf(): Configuration = {
    val c = new Configuration(false)
    c.set("fs.fakes3.impl", classOf[FakeS3FileSystem].getName)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c
  }

  test("commitProtocol: conditional create on S3-family schemes, rename elsewhere") {
    for (s <- Seq("s3a", "s3", "s3n", "gs", "oss", "cosn"))
      assert(ContainerIO.commitProtocol(s) === ContainerIO.ConditionalCreate, s)
    for (s <- Seq("file", "hdfs", "abfs", "abfss", "viewfs"))
      assert(ContainerIO.commitProtocol(s) === ContainerIO.TmpRename, s)
  }

  test("writeAtomic on an object-store scheme: direct conditional create, no tmp, first commit wins") {
    val conf = fakeS3Conf()
    val dir = TestDirs.createTempDirectory("graft-fakes3").toString
    val dst = s"fakes3://$dir/part-0.gblk"
    val tmp = s"fakes3://$dir/.part-0.gblk.tmp"
    ContainerIO.writeAtomic(conf, tmp, dst, Array[Byte](1, 2, 3))
    // no tmp file was ever created (S3 path writes the final key directly)
    assert(!new java.io.File(s"$dir/.part-0.gblk.tmp").exists,
      "object-store commit must not use a tmp+rename")
    assert(ContainerIO.readAll(conf, dst).toSeq === Seq[Byte](1, 2, 3))
    // a second attempt (identical bytes re-encoded) loses the race quietly
    ContainerIO.writeAtomic(conf, tmp, dst, Array[Byte](1, 2, 3))
    assert(ContainerIO.readAll(conf, dst).toSeq === Seq[Byte](1, 2, 3))
  }

  test("writeAtomic on a rename-atomic scheme still goes through tmp+rename") {
    val conf = new Configuration()
    val dir = TestDirs.createTempDirectory("graft-local").toString
    val dst = s"file:$dir/part-0.gblk"
    val tmp = s"file:$dir/.part-0.gblk.tmp"
    ContainerIO.writeAtomic(conf, tmp, dst, Array[Byte](7, 8))
    assert(ContainerIO.readAll(conf, dst).toSeq === Seq[Byte](7, 8))
    assert(!new java.io.File(s"$dir/.part-0.gblk.tmp").exists,
      "tmp must be renamed away")
  }

  test("file scheme: mkdirs and unchecksummed block writes go through java.nio, first commit wins") {
    val conf = new Configuration()
    val dir = TestDirs.createTempDirectory("graft-nio").toString
    ContainerIO.mkdirs(conf, s"file:$dir/a/b")
    assert(new java.io.File(s"$dir/a/b").isDirectory)
    ContainerIO.mkdirs(conf, s"$dir/a/b") // existing: no-op
    val dst = s"file:$dir/a/b/part-0.gblk"
    val tmp = s"file:$dir/a/b/.tmp-part-0-a1"
    ContainerIO.writeAtomic(conf, tmp, dst, Array[Byte](1, 2), checksummed = false)
    assert(ContainerIO.readAll(conf, dst).toSeq === Seq[Byte](1, 2))
    // a second attempt loses to the first commit and leaves nothing behind
    ContainerIO.writeAtomic(conf, tmp, dst, Array[Byte](3), checksummed = false)
    assert(ContainerIO.readAll(conf, dst).toSeq === Seq[Byte](1, 2))
    assert(new java.io.File(s"$dir/a/b").list().toSet === Set("part-0.gblk"),
      "no tmp file and no .crc sidecar")
    // checksummed writes (commit markers) keep Hadoop's .crc sidecar
    ContainerIO.writeAtomic(conf, s"file:$dir/a/.tmp-m", s"file:$dir/a/m.json",
      Array[Byte](4))
    assert(new java.io.File(s"$dir/a/.m.json.crc").exists)
    assert(ContainerIO.readAll(conf, s"file:$dir/a/m.json").toSeq === Seq[Byte](4))
  }

  test("other rename-atomic schemes keep the Hadoop mkdirs and tmp+rename write") {
    val conf = new Configuration(false)
    conf.set("fs.fakehdfs.impl", classOf[FakeHdfsFileSystem].getName)
    val dir = TestDirs.createTempDirectory("graft-fakehdfs").toString
    ContainerIO.mkdirs(conf, s"fakehdfs://$dir/blocks")
    assert(new java.io.File(s"$dir/blocks").isDirectory)
    val dst = s"fakehdfs://$dir/blocks/part-0.gblk"
    ContainerIO.writeAtomic(conf, s"fakehdfs://$dir/blocks/.tmp-part-0", dst,
      Array[Byte](5, 6), checksummed = false)
    assert(ContainerIO.readAll(conf, dst).toSeq === Seq[Byte](5, 6))
    assert(new java.io.File(s"$dir/blocks").list().toSet === Set("part-0.gblk"))
  }
}
