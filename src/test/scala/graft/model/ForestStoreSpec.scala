package graft.model

import graft.SparkSpec
import graft.sources.{RelationalLoader, Testdata}
import org.scalatest.funsuite.AnyFunSuite

/** ForestStore = the parquet-snapshot stand-in for the reference's ZODB
  * TreeBucket; the cases mirror tests/bucket/test_zodb.py — transaction
  * abort restores the committed state, fork isolates commits from the
  * parent, rollback moves HEAD along immutable history.
  */
class ForestStoreSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-store").toString + "/store"

  private def canon(f: org.apache.spark.sql.Dataset[TreeRow]): Set[TreeRow] =
    f.collect().toSet

  private lazy val forest = {
    val f = RelationalLoader.load(spark, "/root/testdata/sf0.001", Testdata.customerDb)
      .localCheckpoint(true)
    f
  }

  test("an aborted epoch restores the pre-epoch forest byte-identically") {
    val store = new ForestStore(spark, tmp())
    store.commit("epoch_0000", forest)
    val before = canon(store.loadHead().get)

    // an epoch starts: its transaction stages a mutated forest, then the
    // epoch is aborted (the reference's with-transaction: raise path,
    // tests/bucket/test_zodb.py test_async_update_concurrent_abort)
    val mutated = Forest.mapTrees(forest)(t => t.copy(label = graft.core.Plain("BROKEN")))
    val tx = store.begin("epoch_0001").write(mutated)
    tx.abort()

    assert(store.head.contains("epoch_0000"), "HEAD must stay on the committed snapshot")
    assert(store.list == Seq("epoch_0000"), "the aborted snapshot must not be published")
    assert(canon(store.loadHead().get) == before,
      "the restored forest must equal the pre-epoch forest row for row")
  }

  test("commit publishes atomically and moves HEAD; rollback moves it back") {
    val store = new ForestStore(spark, tmp())
    store.commit("epoch_0000", forest)
    val mutated = Forest.mapTrees(forest)(t => t.copy(label = graft.core.Plain("V2")))
    store.commit("epoch_0001", mutated)

    assert(store.head.contains("epoch_0001"))
    assert(store.list == Seq("epoch_0000", "epoch_0001"))
    assert(canon(store.loadHead().get) == canon(mutated))

    store.rollback("epoch_0000")
    assert(store.head.contains("epoch_0000"))
    assert(canon(store.loadHead().get) == canon(forest),
      "rollback must restore the earlier snapshot exactly")
    // history is immutable: the later snapshot is still loadable
    assert(canon(store.load("epoch_0001")) == canon(mutated))
  }

  test("a fork sees the parent's history but never writes into it") {
    val store = new ForestStore(spark, tmp())
    store.commit("epoch_0000", forest)

    val fork = store.fork(tmp())
    assert(fork.head.contains("epoch_0000"), "a fresh fork's HEAD follows its parent")
    assert(canon(fork.loadHead().get) == canon(forest), "fork reads parent snapshots")

    val mutated = Forest.mapTrees(forest)(t => t.copy(label = graft.core.Plain("FORKED")))
    fork.commit("epoch_0001", mutated)

    assert(fork.head.contains("epoch_0001"))
    assert(fork.list == Seq("epoch_0001", "epoch_0000"))
    assert(store.head.contains("epoch_0000"), "the parent's HEAD is untouched")
    assert(store.list == Seq("epoch_0000"), "the fork's commit must not leak into the parent")
  }

  test("transaction misuse is rejected") {
    val store = new ForestStore(spark, tmp())
    intercept[IllegalArgumentException](store.begin("bad/name"))
    intercept[IllegalArgumentException](store.begin("empty").commit()) // commit before write
    intercept[IllegalArgumentException](store.rollback("nowhere"))
    // all-dot names would resolve snapshots/<name> to the store root or
    // its parent — path escape, must be rejected like any other bad name
    intercept[IllegalArgumentException](store.begin(".."))
    intercept[IllegalArgumentException](store.begin("."))
    intercept[IllegalArgumentException](store.load("..."))
    intercept[IllegalArgumentException](store.rollback(".."))
  }

  test("a stale staging dir from a crashed run is never published by a later tx") {
    val store = new ForestStore(spark, tmp())
    store.commit("epoch_0000", forest)
    // simulate a crashed writer: staging/<name> exists but THIS
    // transaction never wrote
    val mutated = Forest.mapTrees(forest)(t => t.copy(label = graft.core.Plain("STALE")))
    mutated.write.mode("overwrite").parquet(store.root + "/staging/epoch_0001")
    val tx = store.begin("epoch_0001")
    intercept[IllegalArgumentException](tx.commit())
    assert(store.head.contains("epoch_0000"), "HEAD must be untouched by the refused commit")
    // and after a real write the tx publishes its own data, not the relic
    val fresh = Forest.mapTrees(forest)(t => t.copy(label = graft.core.Plain("FRESH")))
    store.begin("epoch_0001").write(fresh).commit()
    assert(canon(store.load("epoch_0001")) == canon(fresh))
  }

  test("re-committing a name keeps it loadable at every crash instant") {
    val store = new ForestStore(spark, tmp())
    store.commit("epoch_0000", forest)
    val v2 = Forest.mapTrees(forest)(t => t.copy(label = graft.core.Plain("V2")))
    store.commit("epoch_0000", v2)
    assert(canon(store.load("epoch_0000")) == canon(v2), "re-commit must serve the new data")
    // the aside relic is cleaned up after a completed publish
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(store.root, "aside/epoch_0000")))

    // simulate the worst crash instant: old snapshot parked in aside/,
    // publish rename never happened
    val fs = java.nio.file.Paths.get(store.root)
    java.nio.file.Files.createDirectories(fs.resolve("aside"))
    java.nio.file.Files.move(
      fs.resolve("snapshots/epoch_0000"), fs.resolve("aside/epoch_0000"))
    assert(canon(store.load("epoch_0000")) == canon(v2),
      "a crashed re-commit must leave the name loadable from aside/")
    assert(store.list.contains("epoch_0000"), "aside-parked names must still be listed")

    // an orphan aside (no primary) is the sole committed copy — it must
    // survive the explicit relic sweep...
    store.sweepAside()
    assert(canon(store.load("epoch_0000")) == canon(v2),
      "sweepAside must never delete an aside without a primary")
    // ...and HEAD recovery must see it
    java.nio.file.Files.deleteIfExists(fs.resolve("HEAD"))
    assert(store.head.contains("epoch_0000"),
      "HEAD recovery must consider aside-only snapshots")

    // recovering by re-committing the name from the crashed state works
    // and cleans the aside up
    val v3 = Forest.mapTrees(forest)(t => t.copy(label = graft.core.Plain("V3")))
    store.commit("epoch_0000", v3)
    assert(canon(store.load("epoch_0000")) == canon(v3))
    assert(!java.nio.file.Files.exists(fs.resolve("aside/epoch_0000")))

    // a relic WITH a primary (crash in the publish's final cleanup
    // instant) is reclaimed by the explicit maintenance sweep
    java.nio.file.Files.createDirectories(fs.resolve("aside/epoch_0000"))
    store.sweepAside()
    assert(!java.nio.file.Files.exists(fs.resolve("aside/epoch_0000")),
      "sweepAside must reclaim aside relics whose primary snapshot exists")
  }

  test("HEAD recovery orders unpadded numeric names naturally on mtime ties") {
    val store = new ForestStore(spark, tmp())
    store.commit("epoch_9", forest)
    val v10 = Forest.mapTrees(forest)(t => t.copy(label = graft.core.Plain("V10")))
    store.commit("epoch_10", v10)
    // force an mtime tie (coarse-granularity filesystems do this for
    // real): lexicographic would then pick epoch_9 > epoch_10
    val base = java.nio.file.Paths.get(store.root, "snapshots")
    val t0 = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    java.nio.file.Files.setLastModifiedTime(base.resolve("epoch_9"), t0)
    java.nio.file.Files.setLastModifiedTime(base.resolve("epoch_10"), t0)
    java.nio.file.Files.delete(java.nio.file.Paths.get(store.root, "HEAD"))
    assert(store.head.contains("epoch_10"),
      "recovery must pick epoch_10 over epoch_9 under a numeric-aware tiebreak")
  }

  test("a missing HEAD file recovers to the newest committed snapshot") {
    val store = new ForestStore(spark, tmp())
    store.commit("epoch_0000", forest)
    val mutated = Forest.mapTrees(forest)(t => t.copy(label = graft.core.Plain("V2")))
    store.commit("epoch_0001", mutated)
    // delete the pointer out from under the store (pre-atomic-rename
    // stores, or external tampering)
    java.nio.file.Files.delete(java.nio.file.Paths.get(store.root, "HEAD"))
    assert(store.head.contains("epoch_0001"),
      "head must recover from local snapshots, not skip to a parent or None")
    assert(canon(store.loadHead().get) == canon(mutated))
  }

  test("stores and caches written with JSON-string trees fail loudly, naming the directory") {
    import spark.implicits._
    val store = new ForestStore(spark, tmp())
    val snap = java.nio.file.Paths.get(store.root, "snapshots", "old").toString
    val cacheDir = java.nio.file.Files.createTempDirectory("graft-cache").toString
    val cached = s"$cacheDir/k"
    Seq(snap, cached).foreach { dir =>
      Seq((0L, """{"oid":null,"type":null,"name":"ROOT","metadata":{},"children":[]}"""))
        .toDF("treeId", "tree").write.parquet(dir)
    }
    def refused(dir: String)(read: => Any): Unit = {
      val e = intercept[IllegalStateException](read)
      assert(e.getMessage.contains(dir) && e.getMessage.contains("predates the tree encoding"),
        e.getMessage)
    }
    refused(snap)(store.load("old"))
    refused(cached)(graft.nlp.CorpusCache.getOrParse(spark, cacheDir, "k")(
      fail("a cached key must not be re-parsed")))
  }
}
