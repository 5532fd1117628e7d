package graft.model

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
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
  * checkpoints, but durable and addressable. The protocol needs a
  * filesystem whose directory rename is atomic (local disk, HDFS).
  */
final class ForestStore(spark: SparkSession, val root: String) {

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

  // publish via tmp + overwriting atomic rename so a concurrent reader
  // never sees a half-written pointer and a crash never leaves the
  // pointer missing (FileSystem.rename cannot overwrite, which would
  // force a non-atomic delete-then-rename)
  private def writeText(p: Path, s: String): Unit = {
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

  /** The store this one was forked from, if any. */
  def parent: Option[ForestStore] =
    readText(parentFile).map(new ForestStore(spark, _))

  /** Name of the current snapshot. A missing HEAD file with committed
    * local snapshots (a store written before HEAD updates were atomic,
    * or a tampered pointer) recovers to the most recently published
    * snapshot rather than skipping local history; only a store with no
    * local snapshots at all (a fresh fork) falls back to its parent's.
    */
  def head: Option[String] =
    readText(headFile).orElse(newestLocalSnapshot).orElse(parent.flatMap(_.head))

  // aside/ entries count too: after a crashed re-commit the only copy
  // of a name can live there (resolve() serves it), and skipping it
  // would recover HEAD to an older snapshot or a fork parent's
  private def newestLocalSnapshot: Option[String] = {
    val snaps = glob("snapshots/*")
    val snapNames = snaps.map(_.getPath.getName).toSet
    val asides = glob("aside/*").filterNot(s => snapNames.contains(s.getPath.getName))
    (snaps ++ asides)
      .sortWith { (a, b) =>
        a.getModificationTime < b.getModificationTime ||
        (a.getModificationTime == b.getModificationTime &&
          naturalCompare(a.getPath.getName, b.getPath.getName) < 0)
      }
      .lastOption
      .map(_.getPath.getName)
  }

  private def glob(pattern: String): Array[FileStatus] =
    Option(fs.globStatus(new Path(root, pattern))).getOrElse(Array.empty)

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
    val local = (glob("snapshots/*") ++ glob("aside/*")).toSeq.map(_.getPath.getName).distinct.sorted
    local ++ parent.toSeq.flatMap(_.list.filterNot(local.contains))
  }

  private def resolve(name: String): Option[Path] = {
    val local =
      if (fs.exists(snapDir(name))) Some(snapDir(name))
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

    def write(forest: Dataset[TreeRow]): Tx = {
      require(open, s"transaction '$name' already closed")
      forest.write.mode("overwrite").parquet(stageDir(name).toString)
      written = true
      this
    }

    def commit(): Unit = {
      require(open, s"transaction '$name' already closed")
      // Tx state, not a filesystem probe: a stale staging dir left by a
      // crashed earlier run must never be published as this transaction's
      require(written, s"transaction '$name' committed before write")
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
      fs.delete(stageDir(name), true)
      open = false
    }
  }

  /** Begin a transaction that will publish snapshot `name` on commit.
    * Any staging directory left behind by a crashed earlier run is
    * discarded here so it cannot leak into this transaction's commit.
    */
  def begin(name: String): Tx = {
    requireValid(name)
    fs.delete(stageDir(name), true)
    new Tx(name)
  }

  /** Explicit maintenance: reclaim disk held by aside/ copies whose
    * primary snapshot exists (left by a crash in a completed publish's
    * final cleanup instant). Shadowed relics are harmless — resolve()
    * never serves them — they just cost disk. NOT run implicitly by
    * begin()/commit(): an exists-then-check sweep racing another
    * writer's in-flight commit of the same name could destroy that
    * name's only copy, so call this from a single-writer maintenance
    * context only.
    */
  def sweepAside(): Unit =
    glob("aside/*").map(_.getPath)
      .filter(p => fs.exists(snapDir(p.getName)))
      .foreach(p => fs.delete(p, true))

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
    val f = new ForestStore(spark, newRoot)
    fs.mkdirs(new Path(newRoot))
    f.writeText(f.parentFile, root)
    f
  }
}
