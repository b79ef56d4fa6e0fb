package graft.index

import graft.{PartitionLineage, Props}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The snapshots.json manifest codec, without Spark: whatever strings a
  * manifest carries (paths, stage names, field-prefixed lineage terms)
  * read back exactly as written, and a manifest of any other format is
  * rejected.
  */
class SnapshotStoreSpec extends AnyFunSuite {

  /** JSON-hostile pieces: escapes, structure, controls, the field
    * separator and non-ASCII, next to plain letters that can follow a
    * backslash in an escape ('n', 'u', hex digits).
    */
  private val pieces: Gen[String] = Gen.oneOf("\\", "n", "u", "0", "7", "a", "F",
    "\"", "]", "[", "{", "}", ":", ",", "/", FieldOf.Sep.toString, "\u0001",
    "\u001f", "\n", "\r", "\t", "\b", "\f", "é", "中", "\ud83d\ude00")

  private val strings: Gen[String] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, pieces)).map(_.mkString)

  private val lineage: Gen[PartitionLineage] = for {
    stage <- strings
    lo <- strings
    hi <- strings
    pid <- Gen.choose(0, 64)
  } yield PartitionLineage(7L, stage, pid, FieldOf.prefixed("repo", lo), hi,
    1234L, 56L, 78L, 9L)

  private val metas: Gen[Seq[SnapshotMeta]] = Gen.choose(1, 3).flatMap { n =>
    Gen.listOfN(n, for {
      postings <- strings
      docMeta <- strings
      lin <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, lineage))
      maxDocId <- Gen.choose(-1L, 1L << 41)
    } yield SnapshotMeta(3L, 2L, 1, 100L, 900L, postings, docMeta, lin, maxDocId))
  }

  test("manifest round-trip: write then read returns every string unchanged") {
    val dir = Files.createTempDirectory("graft_manifest").toString
    Props.forAll(metas, n = 300) { snaps =>
      SnapshotStore.write(dir, snaps)
      assert(SnapshotStore.read(dir) == snaps)
    }
  }

  test("manifest round-trip: escape look-alikes stay literal") {
    val dir = Files.createTempDirectory("graft_manifest").toString
    val tricky = Seq("a\\nb", "\\u0000", "\\\\n", "x]y", "\\", "\"]}", "\u0000\\u")
    val snaps = Seq(SnapshotMeta(1L, 0L, 0, 1L, 1L, tricky.mkString, "d",
      tricky.map(t => PartitionLineage(1L, t, 0, FieldOf.prefixed("repo", t), t,
        0L, 0L, 0L, 0L))))
    SnapshotStore.write(dir, snaps)
    assert(SnapshotStore.read(dir) == snaps)
  }

  test("manifest format: writes its version, rejects other shapes and versions") {
    val dir = Files.createTempDirectory("graft_manifest").toString
    val manifest = java.nio.file.Paths.get(dir, "snapshots.json")
    SnapshotStore.write(dir, Seq(SnapshotMeta(1L, 0L, 0, 1L, 1L, "p", "d", Nil)))
    val written = Files.readString(manifest)
    assert(written.contains("\"formatVersion\""), written)

    def rejected(json: String): String = {
      Files.writeString(manifest, json)
      intercept[IllegalArgumentException](SnapshotStore.read(dir)).getMessage
    }
    // the unversioned bare-array shape of earlier builds
    val bare = rejected("""[{"snapshotId":1,"parentId":0,"incrementId":0,""" +
      """"docCount":1,"sumTotalTermFreq":1,"postingsDir":"p","docMetaDir":"d",""" +
      """"lineage":[]}]""")
    assert(bare.contains(dir), bare)
    val next = SnapshotStore.FormatVersion + 1
    val newer = rejected(written.replace(
      s""""formatVersion":${SnapshotStore.FormatVersion}""", s""""formatVersion":$next"""))
    assert(newer.contains(dir) && newer.contains(next.toString), newer)
  }
}
