package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one publish protocol for persisted generations: how the
  * versioned index, the admission stream's state and the upsert table
  * make a generation visible, resolve the newest visible one, and reap
  * superseded ones. Every marker and generation name they write is
  * declared here, and nowhere else; the names and bytes are those of
  * earlier releases, so older generations are adopted as they are.
  *
  *  - Write: a generation's marker is absent while its data is written
  *    and committed strictly after ([[write]]; the index renames a
  *    fresh staging dir, [[renameOrAdopt]]), through the Hadoop
  *    `FileSystem` of the path's scheme.
  *  - Commit/read: the index's empty `_PUBLISHED` ([[publish]]), the
  *    admission state's validated `<running-max>;` `_COMMIT`
  *    ([[committedMax]]), the upsert table's create-exclusive
  *    `m-<gen %012d>.json` ([[commitExclusive]]).
  *  - Resolve: one name codec ([[Names]]) for `<prefix><id>` entries.
  *  - Reap: one age rule ([[newestIn]], [[aged]]) and one delete pass
  *    ([[reap]]) over a caller's liveness predicate. */
private[graft] object Published {

  private val IndexMarker = "_PUBLISHED"
  private val CommitMarker = "_COMMIT"
  private val ManifestDir = "_graft_manifest"
  private val MarksDir = "_graft_fanout_marks"

  /** One generation-name shape, `<prefix><id><suffix>`; `width` > 0
    * zero-pads the id to exactly that many digits. */
  final case class Names(prefix: String, suffix: String = "", width: Int = 0) {
    def apply(id: Long): String =
      prefix + (if (width > 0) s"%0${width}d".format(id) else id.toString) + suffix
    private def digits(name: String): Option[String] =
      Some(name).filter(n => n.startsWith(prefix) && n.endsWith(suffix))
        .map(_.drop(prefix.length).dropRight(suffix.length))
        .filter(d => d.nonEmpty && d.forall(_.isDigit) && (width == 0 || d.length == width))
    /** Whether `name` has this shape, whatever the size of its id. */
    def matches(name: String): Boolean = digits(name).nonEmpty
    /** The id `name` carries: None for another shape, or for digits past
      * Long range, which no writer here produces. */
    def idOf(name: String): Option[Long] = digits(name).flatMap(_.toLongOption)
  }

  /** Admission state: compacted generations `gen<through>` and per-batch
    * deltas `b<id>`, each committed by its `_COMMIT`. */
  val StateGen = Names("gen")
  val StateDelta = Names("b")
  /** Upsert table manifests, `<table>/_graft_manifest/m-<gen %012d>.json`. */
  val Manifests = Names("m-", ".json", 12)
  private val Marks = Names("b-")

  def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The entries directly under `root`; none when `root` is absent. */
  def children(fs: FileSystem, root: Path): Seq[FileStatus] =
    try fs.listStatus(root).toSeq catch { case _: FileNotFoundException => Seq.empty }

  // --- write, commit and read ---

  /** Writes a marker's bytes at `p`: in place, or when `exclusive` only
    * if `p` is absent (a FileAlreadyExistsException otherwise).
    * `RawLocalFileSystem.create(p, false)` is exists-then-open, so on
    * `file:` NIO's atomic `createFile` takes its place. */
  private def put(fs: FileSystem, p: Path, bytes: Array[Byte], exclusive: Boolean = false): Unit =
    if (exclusive && fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createFile(local)
      java.nio.file.Files.write(local, bytes)
    } else {
      val out = fs.create(p, !exclusive)
      try out.write(bytes) finally out.close()
    }

  def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  def isPublished(fs: FileSystem, ver: Path): Boolean = fs.exists(new Path(ver, IndexMarker))
  def publish(fs: FileSystem, ver: Path): Unit = put(fs, new Path(ver, IndexMarker), Array.emptyByteArray)

  def isCommitted(fs: FileSystem, dir: Path): Boolean = fs.exists(new Path(dir, CommitMarker))

  /** Writes generation `dir` and commits it with `runningMax` (None: no
    * doc seen yet). The marker is removed before `body` writes, so a
    * failure anywhere, on a first delivery or a re-delivery over a
    * committed dir, leaves an uncommitted dir the next delivery
    * rewrites; readers never see committed partial data. */
  def write(fs: FileSystem, dir: Path, runningMax: Option[Long])(body: => Unit): Unit = {
    fs.delete(new Path(dir, CommitMarker), false)
    body
    put(fs, new Path(dir, CommitMarker), (runningMax.fold("")(_.toString) + ";").getBytes(UTF_8))
  }

  /** The running max a committed dir's `_COMMIT` carries. The `;`
    * terminator and the validation tell a complete marker from a torn
    * one: a torn body that still parsed ('12' of '1234') would be a
    * falsely low bound, so a body without its terminator, with a
    * non-digit, or past Long range refuses by name. */
  def committedMax(fs: FileSystem, dir: Path): Option[Long] = {
    val p = new Path(dir, CommitMarker)
    val raw = new String(readAll(fs, p), UTF_8)
    val body = raw.dropRight(1)
    val max = body.toLongOption
    require(raw.endsWith(";") && body.forall(_.isDigit) && (body.isEmpty || max.nonEmpty),
      s"commit marker $p failed validation (content '${raw.take(32)}'): expected " +
        "'<running-max-digits>;' within Long range, or the bare ';' — a torn or " +
        "foreign marker must refuse the batch, not silently weaken the ascending-ids bound")
    max
  }

  /** Commits generation `gen` of `names` under `dir` by a create-exclusive
    * write at its final name, the race arbiter of a single-writer table.
    * A crashed writer can leave a torn file at the final name: an
    * occupant `parses` accepts is a concurrent writer and fails loudly,
    * any other is that torn leftover and is replaced. */
  def commitExclusive(fs: FileSystem, dir: Path, names: Names, gen: Long,
      bytes: Array[Byte], what: String)(parses: FileStatus => Boolean): Unit = {
    fs.mkdirs(dir)
    val dest = new Path(dir, names(gen))
    def exclusive(): Boolean =
      try { put(fs, dest, bytes, exclusive = true); true } catch {
        case _: FileAlreadyExistsException | _: java.nio.file.FileAlreadyExistsException => false
      }
    if (!exclusive()) {
      require(!parses(fs.getFileStatus(dest)),
        s"$what publish lost a race at $dest — concurrent writer detected; this table is single-writer")
      fs.delete(dest, false)
      require(exclusive(),
        s"$what publish raced twice at $dest — concurrent writer detected; this table is single-writer")
    }
  }

  /** Where an upsert table's manifests live. */
  def manifestDir(table: String): Path = new Path(s"$table/$ManifestDir")

  /** Where a fan-out table's batch marks live. */
  def marksDir(table: Path): Path = new Path(table, MarksDir)

  // --- resolve ---

  /** The entries of shape `names` under `root`, oldest id first. */
  def generations(fs: FileSystem, root: Path, names: Names): Seq[FileStatus] =
    children(fs, root).flatMap(st => names.idOf(st.getPath.getName).map(_ -> st))
      .sortBy(_._1).map(_._2)

  /** The newest generation under `root` that `read` accepts (a torn one
    * throws and is skipped: the one before it is complete). */
  def newest[A](fs: FileSystem, root: Path, names: Names)(read: FileStatus => A): Option[A] =
    generations(fs, root, names).reverseIterator
      .flatMap(st => scala.util.Try(read(st)).toOption).nextOption()

  /** A fan-out table's batch high-water mark: the largest `b-<id>` under
    * its marks dir. Marks are content-free files, the id in the NAME, so
    * a crash can tear no mark into an unparseable one. */
  def highWaterMark(fs: FileSystem, table: Path): Option[Long] =
    children(fs, marksDir(table)).flatMap(st => Marks.idOf(st.getPath.getName)).maxOption

  /** Marks batch `id` above the high-water mark `prev`, and prunes every
    * mark but those two. */
  def mark(fs: FileSystem, table: Path, id: Long, prev: Option[Long]): Unit = {
    val dir = marksDir(table)
    fs.mkdirs(dir)
    fs.create(new Path(dir, Marks(id)), true).close()
    reap(fs, dir)(st => Marks.idOf(st.getPath.getName).exists(m => m != id && !prev.contains(m)))
  }

  // --- reap ---

  /** Age of the newest FILE under p (recursively), or the dir's own
    * mtime if greater; -1 ⇒ p is gone, 0 ⇒ nothing datable. File mtimes
    * are the only reliable ager: object-store pseudo-dirs report mtime
    * 0, and a local/HDFS dir's mtime tracks only its DIRECT children — a
    * deep layout keeps gaining young files levels below a stale top. A
    * listStatus walk, not listFiles: listFiles reads every file's
    * permission, one `ls -ld` process per file without native libhadoop. */
  def newestIn(fs: FileSystem, p: Path): Long = {
    def newestFile(d: Path): Long = fs.listStatus(d).foldLeft(0L) { (m, st) =>
      math.max(m, if (st.isDirectory) newestFile(st.getPath) else st.getModificationTime)
    }
    try math.max(fs.getFileStatus(p).getModificationTime, newestFile(p))
    catch { case _: FileNotFoundException => -1L }
  }

  /** The age rule: `st` is older than `graceMs` at `now`, by its own
    * mtime and by its newest file; an unknown age is never old. A dir
    * young at depth 1 only gets younger with its children, so only
    * depth-1-old candidates pay the recursive listing. */
  def aged(fs: FileSystem, st: FileStatus, now: Long, graceMs: Long): Boolean =
    now - st.getModificationTime > graceMs && {
      val eff = newestIn(fs, st.getPath)
      eff > 0L && now - eff > graceMs
    }

  /** The one delete pass: every entry under `root` that `dead` condemns. */
  def reap(fs: FileSystem, root: Path)(dead: FileStatus => Boolean): Unit =
    children(fs, root).filter(dead).foreach(st => fs.delete(st.getPath, true))

  /** Settles the rename-publish of generation `ver`: true once `rename`
    * moved this writer's staging to `ver`, false once another
    * publisher's marker is there. A marker-less `ver` may be a live
    * racer's copy (on an object store a "rename" is a long client-side
    * copy), so it is reclaimed only once QUIET — its newest file older
    * than `graceMs`, or empty for 5 s — and at most 3 times; until then
    * this polls for the racer's marker, bounded by `graceMs` + 30 s,
    * and then fails loudly rather than delete data it cannot prove dead.
    * `stagingIntact` words the give-up message. */
  def renameOrAdopt(fs: FileSystem, ver: Path, graceMs: Long, what: String)(
      rename: => Boolean, stagingIntact: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + graceMs + 30000L
    @annotation.tailrec def settle(emptySince: Long, reclaims: Int): Boolean =
      if (rename) true
      else if (isPublished(fs, ver)) false
      else {
        val now = System.currentTimeMillis()
        val (quiet, since) = newestIn(fs, ver) match {
          case -1L => (true, 0L) // ver gone — retry publish
          case 0L => (emptySince != 0L && now - emptySince > 5000L,
            if (emptySince == 0L) now else emptySince)
          case m => (now - m > graceMs, 0L)
        }
        if (quiet) {
          require(reclaims < 3,
            s"$what publish failed after $reclaims reclaim attempts: rename into " +
              s"$ver keeps failing or the dir keeps reappearing marker-less (staging " +
              s"${if (stagingIntact) "intact" else "lost to a nesting race"})")
          fs.delete(ver, true) // quiet husk — reclaim, loop republishes
        } else
          require(now < deadline,
            s"$what publish timed out after ${graceMs + 30000L} ms waiting on " +
              s"marker-less $ver (a publisher may be live, or the store reports " +
              "future mtimes) — retry, raise spark.graft.minhash.reapGraceMs, or " +
              "remove the dir manually")
        Thread.sleep(500L) // a racer's marker, or a transient rename failure to clear
        settle(since, if (quiet) reclaims + 1 else reclaims)
      }
    settle(0L, 0)
  }
}
