package graft.engine

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** Pins the manifest codec ([[Manifests.toJson]] / [[Manifests.parse]]):
  * the commit-marker and index-snapshot bytes of hand-built manifests in
  * every optional-field shape, against golden files recorded from the
  * string-building writer this codec replaced (`src/test/resources/
  * golden-manifests`), plus a parse/serialize round trip.
  */
class ManifestCodecSpec extends AnyFunSuite {

  private val weird = "na\"me\\ü€"
  private val schemaCols = Seq("id" -> 0, "tag" -> 1, "n" -> (2 | 0x80), weird -> (1 | 0x80))
  private val cs1 = ChunkStats(6L, 120L, 3,
    longRanges = Map("id" -> (1L, 3L), "n" -> (-5L, 7L)),
    strDicts = Map("tag" -> Seq("a", "b\"q"), weird -> Seq("ü")),
    strRanges = Map("tag" -> ("a", "b\"q"), weird -> ("x\\y", "ü")),
    blockCrcs = Map("id" -> 123L, "tag" -> 4294967295L, "n" -> 0L, weird -> 7L),
    nullCounts = Map("n" -> 1, weird -> 0))
  private val cs2 = ChunkStats(126L, 80L, 2,
    longRanges = Map("id" -> (4L, 5L), "n" -> (0L, 0L)),
    strDicts = Map("tag" -> Seq("c")),
    strRanges = Map("tag" -> ("c", "c")),
    blockCrcs = Map("id" -> 9L, "tag" -> 10L, "n" -> 11L, weird -> 12L),
    nullCounts = Map("n" -> 0, weird -> 2))
  private val cols = Seq(
    ColumnMetric("id", "delta", 40L, 5L, 1L, 5L, hasRange = true),
    ColumnMetric("tag", "dict", 30L, 12L),
    ColumnMetric("n", "varint-i32", 20L, 8L, -5L, 7L, hasRange = true),
    ColumnMetric(weird, "fsst", 24L, 22L))

  /** One manifest per shape: a published append (commitId + commitParts,
    * nullable null counts), a compacted generation (ancestors,
    * partitioning, bucket ids), a schema marker, an unstamped engine
    * encode, and a zero-row tombstone.
    */
  private val shapes: Seq[TableManifest] = Seq(
    TableManifest("q-e5-3-a17", 3, 5L, 2, 114L, 47L, "ab" * 32, schemaCols, "tag",
      cols, Seq(cs1, cs2), commitId = "0000000001234-abcdef01", commitParts = 2),
    TableManifest("compact-r1a2b3c4-0", 0, 3L, 1, 80L, 30L, "cd" * 32, schemaCols,
      "tag", cols, Seq(cs1), ancestors = Seq("q-e1", "q-e2"),
      partitioning = Seq("bucket(4, id)", "identity(tag)"),
      bucketIds = Map("id" -> Set(0, 3), "tag" -> Set(1)),
      commitId = "0000000001300-deadbeef"),
    TableManifest("schemamarker-0000000001400-0badf00d-0", 0, 0L, 0, 0L, 0L, "",
      schemaCols.map { case (n, k) => (if (n == "tag") "label" else n, k) }, "",
      schemaMarker = true, commitId = "0000000001400-0badf00d"),
    TableManifest("7", 7, 3L, 1, 60L, 20L, "ef" * 32, schemaCols.take(2), "content",
      cols.take(2), Seq(cs1.copy(nullCounts = Map.empty))),
    TableManifest("delete-r9f8e7d6-1", 1, 0L, 0, 0L, 0L, "00" * 32, schemaCols, "tag",
      ancestors = Seq("q-e5"), commitId = "0000000001500-cafebabe"))

  private def golden(name: String): String = {
    val in = getClass.getResourceAsStream(s"/golden-manifests/$name")
    assert(in != null, s"missing golden file $name")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("golden manifests: commit markers and index bodies keep their bytes") {
    shapes.zipWithIndex.foreach { case (m, i) =>
      assert(Manifests.toJson(m) === golden(s"marker$i.json"), s"marker of ${m.name}")
    }
    val conf = ContainerIO.localConf()
    val d = TestDirs.createTempDirectory("graft-golden-index").toString
    Manifests.commitIndex(conf, d, _ => shapes)
    // a second commit re-serializes every entry read back from the index
    Manifests.commitIndex(conf, d, old => old.reverse)
    Seq(0L, 1L).foreach { v =>
      val body = new String(ContainerIO.readAll(conf,
        s"$d/${Manifests.versionedIndexName(v)}"), UTF_8)
      assert(body === golden(s"index.v$v.json"), s"index v$v")
    }
    // the index parses straight into the elided manifests
    assert(Manifests.readCommittedAt(conf, d, 0L) === shapes.map(Manifests.elided))
  }

  test("round trip: parse(toJson(m)) == m for every shape, inline and elided") {
    val odd = "q\"b\\s\nc\u0001 ü€ 名"
    val oddShapes = shapes.map(m => m.copy(
      schemaCols = m.schemaCols :+ (odd -> (1 | 0x80)),
      columns = m.columns :+ ColumnMetric(odd, "raw", 3L, 4L),
      chunkIndex = m.chunkIndex.map(c => c.copy(
        strDicts = c.strDicts + (odd -> Seq(odd, "")),
        strRanges = c.strRanges + (odd -> ("", odd)),
        blockCrcs = c.blockCrcs + (odd -> 1L),
        nullCounts = c.nullCounts + (odd -> 0)))))
    (shapes ++ oddShapes).foreach { m =>
      Seq(m, Manifests.elided(m)).foreach { x =>
        assert(Manifests.parse(Manifests.toJson(x)) === x, Manifests.toJson(x))
      }
    }
    assert(Manifests.elided(oddShapes.head).chunksElided)
  }
}
