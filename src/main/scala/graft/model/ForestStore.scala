package graft.model

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

import java.nio.charset.StandardCharsets

/** Transactional forest store over parquet snapshot directories — the
  * Spark-first stand-in for the reference's ZODB `TreeBucket`
  * (architxt/bucket/zodb.py:35-192: explicit transactions with abort,
  * fork support, durable storage path). Where the reference mutates an
  * OOBTree under a transaction manager, here every commit is an
  * immutable parquet snapshot and the transaction protocol is the
  * filesystem's: writes land in a staging directory and an atomic
  * rename publishes them, so an abort (or a crash mid-write) leaves the
  * published history — and the HEAD pointer — untouched.
  *
  * Layout under `root/`:
  *   snapshots/<name>/   committed TreeRow parquet, immutable
  *   staging/<name>/     an open transaction's writes (abort = delete)
  *   HEAD                text file naming the current snapshot
  *   PARENT              text file with the forked-from store root
  *
  * Fork (zodb.py:143-145,208-212) is a new root whose PARENT points at
  * this store: snapshot lookup falls through the parent chain, commits
  * stay in the fork — copy-on-write lineage with zero data copied.
  *
  * Scale: snapshots are whole-forest parquet writes — the same cost the
  * rewrite loop already pays per epoch for its lineage-breaking
  * checkpoints, but durable and addressable. On a cluster the root
  * lives on HDFS/object storage where rename is atomic — or, for
  * S3-like stores whose "rename" is a non-atomic copy+delete, in
  * commit-by-marker mode (`atomicRename = false`):
  *
  *   - a transaction writes its parquet straight into a fresh
  *     `snapshots/<name>/v<k>/` version directory (no staging, no
  *     publish rename anywhere in the protocol);
  *   - `commit()` then PUTs an empty `_COMMITTED` marker into that
  *     directory — the single-object write that IS the commit point
  *     (object-store PUTs are atomic even where renames are not);
  *   - readers only ever see version directories carrying the marker
  *     and serve the highest committed version, so a crash at any
  *     instant leaves either the old committed version visible or the
  *     new one, never a torn directory. Superseded and unmarked
  *     version relics are reclaimed by the explicit `sweepAside()`
  *     maintenance call, same single-writer contract as aside/ relics.
  *
  * A marker-mode store still reads plain (un-versioned) snapshot
  * directories written earlier in rename mode — they were published by
  * an atomic rename, so existence is their commit marker. The two
  * modes must not WRITE the same root concurrently.
  */
final class ForestStore(
    spark: SparkSession,
    val root: String,
    val atomicRename: Boolean = true) {

  private val rootPath = new Path(root)
  private def fs: FileSystem = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapDir(name: String) = new Path(root, s"snapshots/$name")
  private def stageDir(name: String) = new Path(root, s"staging/$name")
  // re-commit of an existing name parks the old snapshot here for the
  // duration of the publish (directories cannot be overwrite-renamed),
  // so no crash instant leaves the name without data: before the
  // move-aside the old dir is in place, after it resolve() falls back
  // to the aside copy, and after the publish rename the new dir is in
  // place. The relic is deleted after the publish completes; one left
  // by a crash in that last instant is shadowed by its primary (harmless
  // beyond disk) until `sweepAside()` reclaims it — never implicitly,
  // see that method's race note
  private def asideDir(name: String) = new Path(root, s"aside/$name")
  private def headFile = new Path(root, "HEAD")
  private def parentFile = new Path(root, "PARENT")

  private def requireValid(name: String): Unit =
    require(
      name.matches("[A-Za-z0-9._-]+") && !name.forall(_ == '.'),
      s"invalid snapshot name '$name'")

  private def writeText(p: Path, s: String): Unit =
    if (!atomicRename) {
      // rename-less store: a direct overwrite-create models the
      // single-object PUT, which object stores make atomic per object
      // even though their renames are not
      val out = fs.create(p, true)
      try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
    } else {
      // publish via tmp + overwriting atomic rename so a concurrent reader
      // never sees a half-written pointer and a crash never leaves the
      // pointer missing (FileSystem.rename cannot overwrite, which would
      // force a non-atomic delete-then-rename)
      val tmp = new Path(p.getParent, p.getName + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
      val fc = FileContext.getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, p, Options.Rename.OVERWRITE)
    }

  private def readText(p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8).trim).filter(_.nonEmpty)
      finally in.close()
    }

  /** The store this one was forked from, if any (same rename mode: the
    * parent chain lives on the same storage technology).
    */
  def parent: Option[ForestStore] =
    readText(parentFile).map(new ForestStore(spark, _, atomicRename))

  // ---- commit-by-marker mode internals -------------------------------

  private def markerFile(dir: Path) = new Path(dir, "_COMMITTED")

  private def versionDirs(name: String): Array[Path] =
    Option(fs.globStatus(new Path(snapDir(name), "v*"))).getOrElse(Array.empty)
      .map(_.getPath).filter(_.getName.matches("v[0-9]+"))

  private def versionOf(p: Path): Long = p.getName.drop(1).toLong

  /** The directory serving `name` in marker mode: the highest version
    * carrying a `_COMMITTED` marker, else the legacy fallback. A
    * directory holding only unmarked versions is an in-flight or
    * crashed write — invisible.
    */
  private def committedVersionDir(name: String): Option[Path] = {
    val committed = versionDirs(name).filter(p => fs.exists(markerFile(p)))
    if (committed.nonEmpty) Some(committed.maxBy(versionOf)) else legacyDir(name)
  }

  /** A rename-mode snapshot read by a marker-mode store: plain parquet
    * files directly in the name directory. Its atomic publish was its
    * commit marker, so file presence — not a `_COMMITTED` marker — is
    * the committed signal (keyed on files, not on the absence of
    * version dirs, so the legacy data stays visible while a migrating
    * write's first unmarked `v1` is in flight beside it).
    */
  private def legacyDir(name: String): Option[Path] =
    if (fs.exists(snapDir(name)) &&
        Option(fs.listStatus(snapDir(name))).getOrElse(Array.empty).exists(_.isFile))
      Some(snapDir(name))
    else None

  private def nextVersionDir(name: String): Path = {
    val next = versionDirs(name).map(versionOf).foldLeft(0L)(math.max) + 1
    new Path(snapDir(name), s"v$next")
  }

  /** Name of the current snapshot. A missing HEAD file with committed
    * local snapshots (a store written before HEAD updates were atomic,
    * or a tampered pointer) recovers to the most recently published
    * snapshot rather than skipping local history; only a store with no
    * local snapshots at all (a fresh fork) falls back to its parent's.
    */
  def head: Option[String] =
    readText(headFile).orElse(newestLocalSnapshot).orElse(parent.flatMap(_.head))

  private def newestLocalSnapshot: Option[String] =
    if (!atomicRename) {
      // marker mode: only names with a committed version count, and the
      // commit instant is the marker PUT — its mtime, not the data
      // directory's (which moves with retried writes)
      val stamped = Option(fs.globStatus(new Path(root, "snapshots/*")))
        .getOrElse(Array.empty).map(_.getPath.getName)
        .flatMap { n =>
          committedVersionDir(n).map { d =>
            val m = markerFile(d)
            val stamp =
              if (fs.exists(m)) fs.getFileStatus(m).getModificationTime
              else fs.getFileStatus(d).getModificationTime // legacy dir
            (n, stamp)
          }
        }
      stamped.sortWith { (a, b) =>
        a._2 < b._2 || (a._2 == b._2 && naturalCompare(a._1, b._1) < 0)
      }.lastOption.map(_._1)
    } else {
      // aside/ entries count too: after a crashed re-commit the only copy
      // of a name can live there (resolve() serves it), and skipping it
      // would recover HEAD to an older snapshot or a fork parent's
      val snaps = Option(fs.globStatus(new Path(root, "snapshots/*"))).getOrElse(Array.empty)
      val snapNames = snaps.map(_.getPath.getName).toSet
      val asides = Option(fs.globStatus(new Path(root, "aside/*"))).getOrElse(Array.empty)
        .filterNot(s => snapNames.contains(s.getPath.getName))
      (snaps ++ asides)
        .sortWith { (a, b) =>
          a.getModificationTime < b.getModificationTime ||
          (a.getModificationTime == b.getModificationTime &&
            naturalCompare(a.getPath.getName, b.getPath.getName) < 0)
        }
        .lastOption
        .map(_.getPath.getName)
    }

  /** Numeric-aware name ordering for the modification-time tiebreak:
    * unpadded sequences like epoch_9 / epoch_10 must recover to
    * epoch_10, which plain lexicographic comparison gets backwards.
    */
  private def naturalCompare(a: String, b: String): Int = {
    def toks(s: String): Vector[String] = {
      val m = java.util.regex.Pattern.compile("\\d+|\\D+").matcher(s)
      val out = Vector.newBuilder[String]
      while (m.find()) out += m.group()
      out.result()
    }
    val (ta, tb) = (toks(a), toks(b))
    var i = 0
    var c = 0
    while (c == 0 && i < math.min(ta.size, tb.size)) {
      val (x, y) = (ta(i), tb(i))
      c =
        if (x.head.isDigit && y.head.isDigit) BigInt(x).compare(BigInt(y))
        else x.compare(y)
      i += 1
    }
    if (c != 0) c else ta.size.compare(tb.size)
  }

  /** Committed snapshot names, parent-chain included, oldest store last.
    * Includes names whose data is parked in aside/ by an interrupted
    * re-commit — they are still loadable via the same fallback
    * resolve() uses.
    */
  def list: Seq[String] = {
    val names = Option(fs.globStatus(new Path(root, "snapshots/*"))).getOrElse(Array.empty)
      .toSeq.map(_.getPath.getName)
    val local =
      if (!atomicRename) names.filter(n => committedVersionDir(n).isDefined).distinct.sorted
      else (names ++ Option(fs.globStatus(new Path(root, "aside/*"))).getOrElse(Array.empty)
        .toSeq.map(_.getPath.getName)).distinct.sorted
    local ++ parent.toSeq.flatMap(_.list.filterNot(local.contains))
  }

  private def resolve(name: String): Option[Path] = {
    val local =
      if (!atomicRename) committedVersionDir(name)
      else if (fs.exists(snapDir(name))) Some(snapDir(name))
      // a crash between a re-commit's move-aside and its publish rename
      // leaves the committed data parked in aside/ — still loadable
      else if (fs.exists(asideDir(name))) Some(asideDir(name))
      else None
    local.orElse(parent.flatMap(_.resolve(name)))
  }

  /** Load a committed snapshot (searching the fork's parent chain). */
  def load(name: String): Dataset[TreeRow] = {
    requireValid(name)
    val p = resolve(name).getOrElse(
      throw new NoSuchElementException(s"no snapshot '$name' under $root or its parents"))
    Forest.readParquet(spark, p.toString)
  }

  /** Load the HEAD snapshot, if one exists. */
  def loadHead(): Option[Dataset[TreeRow]] = head.map(load)

  /** An open transaction: `write` stages the forest, `commit` publishes
    * it atomically and moves HEAD, `abort` discards the staging — the
    * published history is untouched either way (zodb.py transaction
    * semantics: tests/bucket/test_zodb.py abort cases).
    */
  final class Tx private[ForestStore] (name: String) {
    private var open = true
    private var written = false
    // marker mode: the fresh version directory this tx writes into,
    // chosen at first write so retries overwrite the same one
    private var pendingVersion: Option[Path] = None

    def write(forest: Dataset[TreeRow]): Tx = {
      require(open, s"transaction '$name' already closed")
      val dest =
        if (atomicRename) stageDir(name)
        else {
          if (pendingVersion.isEmpty) pendingVersion = Some(nextVersionDir(name))
          pendingVersion.get
        }
      forest.write.mode("overwrite").parquet(dest.toString)
      written = true
      this
    }

    def commit(): Unit = {
      require(open, s"transaction '$name' already closed")
      // Tx state, not a filesystem probe: a stale staging dir left by a
      // crashed earlier run must never be published as this transaction's
      require(written, s"transaction '$name' committed before write")
      if (!atomicRename) {
        // commit-by-marker: the data already sits in its final versioned
        // directory; PUTting the marker is the commit point. No rename
        // is ever issued. Unmarked version dirs from crashed writers are
        // invisible to readers and never published by this tx (it only
        // marks the directory it wrote). Superseded versions stay on
        // disk until sweepAside() — deleting them here would race a
        // reader that just resolved the old version.
        val dir = pendingVersion.get
        val out = fs.create(markerFile(dir), true)
        out.close()
        writeText(headFile, name)
        open = false
        return
      }
      fs.mkdirs(new Path(root, "snapshots"))
      // re-commit of an existing name: park the old snapshot in aside/
      // rather than deleting it, so no crash instant leaves the name
      // dataless (delete-then-rename would). resolve() prefers the new
      // dir the moment the publish rename lands. A stale aside relic is
      // deleted ONLY when a primary snapshot exists to replace it — if
      // snapshots/<name> is absent, the aside copy is the sole committed
      // data (a previously crashed re-commit) and must survive until
      // this publish lands.
      if (fs.exists(snapDir(name))) {
        fs.delete(asideDir(name), true)
        fs.mkdirs(new Path(root, "aside"))
        if (!fs.rename(snapDir(name), asideDir(name)))
          throw new java.io.IOException(s"parking old snapshot '$name' failed")
      }
      if (!fs.rename(stageDir(name), snapDir(name)))
        throw new java.io.IOException(s"publishing snapshot '$name' failed")
      writeText(headFile, name)
      fs.delete(asideDir(name), true)
      open = false
    }

    def abort(): Unit = {
      if (atomicRename) fs.delete(stageDir(name), true)
      else pendingVersion.foreach(fs.delete(_, true)) // unmarked = invisible anyway
      open = false
    }
  }

  /** Begin a transaction that will publish snapshot `name` on commit.
    * Any staging directory left behind by a crashed earlier run is
    * discarded here so it cannot leak into this transaction's commit.
    */
  def begin(name: String): Tx = {
    requireValid(name)
    if (atomicRename) fs.delete(stageDir(name), true)
    // marker mode: no staging to clear — a crashed writer's unmarked
    // version dir is invisible to readers, cannot be published by this
    // tx (which marks only the dir it wrote), and is reclaimed by
    // sweepAside()
    new Tx(name)
  }

  /** Explicit maintenance: reclaim disk held by relics that readers can
    * no longer reach. Rename mode: aside/ copies whose primary snapshot
    * exists (left by a crash in a completed publish's final cleanup
    * instant). Marker mode: unmarked version dirs (crashed writes) and
    * committed versions superseded by a higher committed one. Shadowed
    * relics are harmless — resolve() never serves them — they just cost
    * disk. NOT run implicitly by begin()/commit(): an exists-then-check
    * sweep racing another writer's in-flight commit of the same name
    * could destroy that name's only copy (in marker mode, an unmarked
    * dir may be mid-write and about to be marked), so call this from a
    * single-writer maintenance context only.
    */
  def sweepAside(): Unit =
    if (atomicRename)
      Option(fs.globStatus(new Path(root, "aside/*"))).getOrElse(Array.empty)
        .map(_.getPath)
        .filter(p => fs.exists(snapDir(p.getName)))
        .foreach(p => fs.delete(p, true))
    else
      Option(fs.globStatus(new Path(root, "snapshots/*"))).getOrElse(Array.empty)
        .map(_.getPath.getName).foreach { n =>
          val vs = versionDirs(n)
          val top = vs.filter(p => fs.exists(markerFile(p)))
            .map(versionOf).foldLeft(-1L)(math.max)
          // unmarked dirs are crash relics (nothing is in flight in a
          // single-writer maintenance window); marked ones below the top
          // committed version are superseded history
          vs.filter(p => !fs.exists(markerFile(p)) || versionOf(p) < top)
            .foreach(p => fs.delete(p, true))
        }

  /** One-shot commit: stage + publish + move HEAD. */
  def commit(name: String, forest: Dataset[TreeRow]): Unit =
    begin(name).write(forest).commit()

  /** Move HEAD back to an existing snapshot. Later snapshots stay on
    * disk (history is immutable); subsequent commits simply advance HEAD
    * again.
    */
  def rollback(name: String): Unit = {
    requireValid(name)
    require(resolve(name).isDefined, s"cannot roll back to unknown snapshot '$name'")
    writeText(headFile, name)
  }

  /** Fork this store: a new root whose snapshot lookup falls through to
    * this one, and whose commits never touch it.
    */
  def fork(newRoot: String): ForestStore = {
    val f = new ForestStore(spark, newRoot, atomicRename)
    fs.mkdirs(new Path(newRoot))
    f.writeText(f.parentFile, root)
    f
  }
}
