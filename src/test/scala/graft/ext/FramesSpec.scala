package graft.ext

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.storage.StorageLevel

/** The Frames store's contracts: fingerprints list only the tables a
  * KEY declares (review r12), so an embeddings rewrite must not
  * invalidate document-side frames (or vice versa) and a change to a
  * key's own table must rebuild it; one store holds frames, values,
  * widen decisions and tracked persists, and [[Dedup.releaseCaches]]
  * empties it.
  */
class FramesSpec extends graft.SparkSpec {

  /** A temp dir holding copies of the sf0.001 `tables`. */
  private def tempCopy(tables: String*): java.nio.file.Path = {
    val tmp = Files.createTempDirectory("graft_frames")
    for (t <- tables)
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t"), tmp.resolve(t),
        StandardCopyOption.REPLACE_EXISTING)
    tmp
  }

  test("memo invalidation is scoped to the key's declared tables") {
    val tmp = tempCopy("documents.parquet", "embeddings.parquet")
    val dir = tmp.toString
    def touch(t: String): Unit = {
      val f = tmp.resolve(t).toFile
      // mtime participates in the fingerprint; jump it far enough that
      // coarse-grained filesystems can't collapse the change
      assert(f.setLastModified(f.lastModified() + 60000))
    }
    var docBuilds = 0
    def docFrame = Dedup.Frames.getOrCompute(spark, s"spec_doc:$dir", dir) {
      docBuilds += 1; spark.range(1).toDF("x")
    }
    var embBuilds = 0
    def embFrame = Dedup.Frames.getOrCompute(spark, s"spec_emb:$dir", dir,
        tables = Seq("embeddings.parquet")) {
      embBuilds += 1; spark.range(1).toDF("x")
    }
    docFrame; docFrame; embFrame; embFrame
    assert(docBuilds == 1 && embBuilds == 1, "second access must hit the memo")

    touch("embeddings.parquet")
    docFrame; embFrame
    assert(docBuilds == 1, "an embeddings rewrite must NOT invalidate a document-scoped frame")
    assert(embBuilds == 2, "an embeddings rewrite MUST invalidate an embeddings-scoped frame")

    touch("documents.parquet")
    docFrame; embFrame
    assert(docBuilds == 2, "a documents rewrite must invalidate the document-scoped frame")
    assert(embBuilds == 2, "a documents rewrite must not touch the embeddings-scoped frame")
  }

  test("one store: a widen decision is one entry per (dir, table); release empties the store") {
    val tmp = tempCopy("documents.parquet")
    val dir = tmp.toString
    def widenKeys = Dedup.Frames.residentKeys(spark).filter(_.startsWith("widen:"))
    Dedup.releaseCaches()
    graft.Tables.documentsWide(spark, dir); graft.Tables.documentsWide(spark, dir)
    assert(widenKeys == Set(s"widen:documents:$dir"), "two loads must share one decision")

    val f = tmp.resolve("documents.parquet").toFile
    assert(f.setLastModified(f.lastModified() + 60000))
    graft.Tables.documentsWide(spark, dir)
    assert(widenKeys == Set(s"widen:documents:$dir"),
      s"a rewritten table must replace its decision, not add one: $widenKeys")

    Dedup.Frames.getOrComputeValue(spark, s"spec_val:$dir", dir)(42)
    val tracked = Dedup.Frames.trackPersist(spark.range(10).toDF("x").persist())
    assert(tracked.storageLevel != StorageLevel.NONE)
    assert(Dedup.Frames.residentKeys(spark).contains(s"spec_val:$dir"))
    Dedup.releaseCaches()
    assert(tracked.storageLevel == StorageLevel.NONE, "release must unpersist a tracked frame")
    assert(Dedup.Frames.residentKeys(spark).isEmpty,
      s"no entry may survive the release: ${Dedup.Frames.residentKeys(spark)}")
  }
}
