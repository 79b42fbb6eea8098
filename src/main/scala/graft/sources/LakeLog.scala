package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The lake's metadata-plane I/O seam (VERDICT r14 #1): every manifest /
  * version-file / hint byte the [[LakeTable]] log reads or writes flows
  * through ONE of these stores, and every data-plane listing or delete
  * flows through the Hadoop [[FileSystem]] helpers in [[LakeIo]] — so a
  * table whose path carries a URI scheme (`file:`, `hdfs:`, an object
  * store) runs the exact same protocol code as a local-path table, and
  * no `java.io.File`/`java.nio` direct-path walk can silently assume
  * POSIX (cf. the Delta LogStore SPI, which exists for the same reason:
  * the commit protocol's atomicity primitive is the ONLY part of a
  * table format that is filesystem-specific).
  *
  * The one primitive that differs per filesystem is [[putIfAbsent]] —
  * the atomic publish that makes two writers racing to commit the same
  * version IMPOSSIBLE to both win:
  *   - [[LocalLinkLogStore]] (plain local paths, the default): write a
  *     temp file, then `Files.createLink` to the version name — link
  *     creation is atomic and refuses an existing target (POSIX rename
  *     would silently last-wins).
  *   - [[HadoopFsLogStore]] (any URI-schemed path): write a temp file
  *     through the scheme's [[FileSystem]], then `rename` WITHOUT
  *     overwrite — on HDFS rename-to-existing fails atomically (the
  *     Delta HDFSLogStore recipe); on filesystems whose rename replaces
  *     (raw local), the pre-check plus a post-publish read-back verify
  *     narrows the race to a sub-millisecond window and guarantees the
  *     LOSER always detects the collision (content mismatch), never
  *     both writers believing they won with one commit silently gone.
  */
private[graft] trait LakeLogStore {
  /** Atomically publish `content` at `target`; throws
    * [[IllegalStateException]] (message contains "conflict") if the
    * target already exists — the OCC primitive commits are built on. */
  def putIfAbsent(target: Path, content: String): Unit

  /** Replace `target` with `content` (atomic swap where the filesystem
    * offers one). ONLY for advisory state (the `_latest` hint) whose
    * loss or lag is self-healing — never for a manifest. */
  def replace(target: Path, content: String): Unit

  def read(target: Path): String
  def exists(target: Path): Boolean
  /** Immediate child FILE NAMES of `dir` (no recursion, no dirs);
    * empty when the dir is missing. */
  def listNames(dir: Path): Seq[String]
  def delete(target: Path): Boolean
  def mtime(target: Path): Long
  def mkdirs(dir: Path): Unit
}

private[graft] object LakeLogStore {
  /** Store selection: a plain (scheme-less) path keeps the hard-link
    * local store — the strongest atomicity available and the historical
    * default; any URI-schemed path routes to the pure-Hadoop store, so
    * the same table code deploys against HDFS/object-store URIs (and
    * LakeTableSpec drives the whole protocol through `file:` URIs to
    * prove no direct-path escape remains). */
  def forPath(tablePath: String): LakeLogStore =
    if (new Path(tablePath).toUri.getScheme == null) LocalLinkLogStore
    else new HadoopFsLogStore(LakeIo.conf)
}

/** Hard-link put-if-absent on the local filesystem (plain paths). */
private[graft] object LocalLinkLogStore extends LakeLogStore {
  private def nio(p: Path) = java.nio.file.Paths.get(p.toUri.getPath)

  override def putIfAbsent(target: Path, content: String): Unit = {
    val dir = nio(target).getParent
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-${target.getName}-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.writeString(tmp, content)
    // link creation is atomic AND fails on an existing target (rename
    // would silently REPLACE on POSIX — last-wins, the exact lost-commit
    // a versioned log must refuse)
    try java.nio.file.Files.createLink(nio(target), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        java.nio.file.Files.delete(tmp)
        throw new IllegalStateException(
          s"LakeLog: concurrent commit conflict — $target already exists")
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  override def replace(target: Path, content: String): Unit = {
    val dir = nio(target).getParent
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-${target.getName}-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.writeString(tmp, content)
    java.nio.file.Files.move(tmp, nio(target),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  override def read(target: Path): String =
    java.nio.file.Files.readString(nio(target))
  override def exists(target: Path): Boolean =
    java.nio.file.Files.exists(nio(target))
  override def listNames(dir: Path): Seq[String] = {
    val d = nio(dir).toFile
    Option(d.listFiles).getOrElse(Array.empty).toSeq
      .filter(_.isFile).map(_.getName)
  }
  override def delete(target: Path): Boolean =
    java.nio.file.Files.deleteIfExists(nio(target))
  override def mtime(target: Path): Long =
    java.nio.file.Files.getLastModifiedTime(nio(target)).toMillis
  override def mkdirs(dir: Path): Unit = {
    java.nio.file.Files.createDirectories(nio(dir)); ()
  }
}

/** Pure Hadoop-FileSystem store for URI-schemed paths: temp write +
  * rename-without-overwrite publish (atomic-no-replace on HDFS), with a
  * pre-check and read-back verify so a replacing filesystem still makes
  * the losing writer fail loudly. */
private[graft] class HadoopFsLogStore(conf: Configuration) extends LakeLogStore {
  private def fs(p: Path): FileSystem = p.getFileSystem(conf)

  /** `file:`-schemed targets get the LOCAL atomicity primitives (hard
    * link / ATOMIC_MOVE on the URI's path) instead of the Hadoop rename
    * chain — the Delta-LogStore design point that the publish primitive
    * is the ONE filesystem-specific piece. Why it matters here: Hadoop's
    * local `FileContext` resolves to ChecksumFs, whose rename moves the
    * `.crc` SIDECAR and the data file as two separate renames over a
    * silently-replacing raw rename — a cross-process race on one version
    * can land writer A's data under writer B's crc, after which every
    * later read of that manifest throws ChecksumException (a torn
    * commit that bricks the table; observed as an intermittent
    * cross-process OCC spec failure). The link publish is one atomic
    * syscall that REFUSES an existing target — no window, no sidecar. */
  private def localPath(p: Path): Option[java.nio.file.Path] =
    if ("file".equalsIgnoreCase(p.toUri.getScheme))
      Some(java.nio.file.Paths.get(p.toUri.getPath))
    else None

  /** Any checksum sidecar left by EARLIER Hadoop-API writes of this
    * name must not outlive a nio publish: a stale `.name.crc` paired
    * with fresh bytes fails every checksummed read. */
  private def dropCrcSidecar(nioTarget: java.nio.file.Path): Unit = {
    val crc = nioTarget.getParent.resolve(s".${nioTarget.getFileName}.crc")
    java.nio.file.Files.deleteIfExists(crc); ()
  }

  /** Can this directory's filesystem hard-link at all (CIFS/SMB and
    * some FUSE mounts cannot — EPERM/EOPNOTSUPP at the link syscall)?
    * Probed ONCE per directory by actually creating a link between two
    * scratch files — a FUNCTIONAL classification, because parsing the
    * FileSystemException's strerror text is locale-dependent
    * ('Operation not permitted' never matches on a non-English JVM,
    * which would turn the intended fallback into a hard publish
    * failure; review r18 #3). The publish's tmp lives in the target's
    * parent (see [[LocalLinkLogStore.putIfAbsent]]), so a same-dir
    * probe models the real link exactly — no cross-device case. A
    * probe broken by a transient error classifies as unsupported and
    * downgrades to the rename chain: the table stays usable, and only
    * ADVICE r17 #2's atomicity upgrade is (temporarily) lost. */
  private val linkSupportByDir =
    new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, java.lang.Boolean]()
  private def linksSupported(dir: java.nio.file.Path): Boolean =
    linkSupportByDir.computeIfAbsent(dir, d => {
      var a: java.nio.file.Path = null
      var b: java.nio.file.Path = null
      try {
        a = java.nio.file.Files.createTempFile(d, ".linkprobe-", ".tmp")
        b = d.resolve(s".linkprobe-${java.util.UUID.randomUUID()}")
        java.nio.file.Files.createLink(b, a)
        true
      } catch { case _: Exception => false }
      finally {
        if (b != null) { try java.nio.file.Files.deleteIfExists(b)
          catch { case _: Exception => () } }
        if (a != null) { try java.nio.file.Files.deleteIfExists(a)
          catch { case _: Exception => () } }
      }
    })

  override def putIfAbsent(target: Path, content: String): Unit = localPath(target) match {
    case Some(nio) =>
      // any checksum sidecar from EARLIER Hadoop-API writes must be gone
      // BEFORE the publish (ADVICE r17 #1): a crash (or a concurrent
      // checksummed read) between the link landing and a post-publish
      // delete would pair fresh bytes with a stale crc — the exact torn
      // state this path exists to prevent. The post-publish drop stays
      // as a backstop against a sidecar recreated in the window.
      dropCrcSidecar(nio)
      // delegate to the SAME link primitive the plain-path store uses
      // (one implementation of the local atomicity recipe, not two);
      // ONLY a link-unsupported filesystem falls back to the Hadoop
      // rename chain (its race window returns, but the table stays
      // USABLE); the conflict ISE and genuine I/O errors pass through —
      // classified by the link-support PROBE, not strerror text
      try { LocalLinkLogStore.putIfAbsent(target, content); dropCrcSidecar(nio) }
      catch {
        case e: IllegalStateException => throw e
        case _: UnsupportedOperationException =>
          hadoopPutIfAbsent(target, content)
        case e: java.nio.file.FileSystemException =>
          if (!linksSupported(nio.getParent)) hadoopPutIfAbsent(target, content)
          else throw e
      }
    case None => hadoopPutIfAbsent(target, content)
  }

  private def hadoopPutIfAbsent(target: Path, content: String): Unit = {
      val f = fs(target)
      f.mkdirs(target.getParent)
      if (f.exists(target))
        throw new IllegalStateException(
          s"LakeLog: concurrent commit conflict — $target already exists")
      val tmp = new Path(target.getParent,
        s".tmp-${target.getName}-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // publish via FileContext rename WITHOUT overwrite — the Delta
      // HDFSLogStore primitive: unlike FileSystem.rename (which on some
      // implementations silently REPLACES, leaving two racers each
      // believing they won for the whole tmp-write window), Rename.NONE
      // refuses an existing destination at the rename itself
      try {
        org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, conf)
          .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.NONE)
      } catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"LakeLog: concurrent commit conflict — publish of $target refused " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage})", e)
      } finally { if (f.exists(tmp)) f.delete(tmp, false); () }
      // read-back verify as a backstop for filesystems whose no-overwrite
      // rename is itself check-then-act: the writer whose bytes are NOT at
      // the target knows it lost
      if (read(target) != content)
        throw new IllegalStateException(
          s"LakeLog: concurrent commit conflict — $target was concurrently " +
            "replaced by another writer's publish")
  }

  override def replace(target: Path, content: String): Unit = localPath(target) match {
    case Some(nio) =>
      // drop a legacy crc sidecar BEFORE the swap (review r17-3 #2): a
      // stale checksum over fresh bytes fails concurrent Hadoop-API
      // reads, while a MISSING crc is a legal unverified read. Then
      // delegate to the shared ATOMIC_MOVE primitive; wrap failures in
      // the documented contract (review r17-3 #3 — vacuum's
      // retention-floor pin relies on a loud replace) and fall back to
      // the Hadoop chain where ATOMIC_MOVE is unsupported.
      dropCrcSidecar(nio)
      try LocalLinkLogStore.replace(target, content)
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.AtomicMoveNotSupportedException =>
          hadoopReplace(target, content)
        case e: Exception =>
          throw new IllegalStateException(s"LakeLog: replace of $target failed", e)
      }
    case None => hadoopReplace(target, content)
  }

  private def hadoopReplace(target: Path, content: String): Unit = {
      val f = fs(target)
      f.mkdirs(target.getParent)
      val tmp = new Path(target.getParent,
        s".tmp-${target.getName}-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // a failed replace must THROW, never silently no-op: best-effort
      // callers (the `_latest` hint, interval checkpoints) catch at the
      // call site, but vacuum's retention-floor checkpoint pin RELIES on
      // replace succeeding before the floor's ancestry is dropped
      try org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, conf)
        .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch {
        case e: java.io.IOException =>
          f.delete(tmp, false)
          throw new IllegalStateException(s"LakeLog: replace of $target failed", e)
      }
      ()
  }

  override def read(target: Path): String = {
    val in = fs(target).open(target)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
  override def exists(target: Path): Boolean = fs(target).exists(target)
  override def listNames(dir: Path): Seq[String] = {
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.getName)
  }
  override def delete(target: Path): Boolean = {
    val f = fs(target)
    f.exists(target) && f.delete(target, false)
  }
  override def mtime(target: Path): Long =
    fs(target).getFileStatus(target).getModificationTime
  override def mkdirs(dir: Path): Unit = { fs(dir).mkdirs(dir); () }
}

/** Data-plane filesystem helpers shared by the lake: recursive listing,
  * deletes, and path normalization, all through the Hadoop API so they
  * work identically for plain paths and URI-schemed tables. */
private[graft] object LakeIo {
  /** Hadoop conf: the active session's (carries spark.hadoop.* overrides)
    * when one exists, else a fresh default — the metadata utilities
    * (latestVersion/history/vacuum) must work without a session. */
  def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Scheme-insensitive comparison key for RAW filesystem paths —
    * manifest entries, Hadoop listings, caller-supplied table dirs: the
    * path component exactly as the filesystem NAMES it. Routed through
    * Hadoop `Path(String)`, which treats the string as unencoded (its
    * multi-arg URI constructor quotes any '%' and getPath decodes it
    * straight back), so a directory literally named `c=10%3A30` — a
    * Hive-escaped ':' partition value — keeps its raw name instead of
    * being mis-decoded to `c=10:30` (ADVICE r15: that mis-decode made
    * touched-file discovery miss the file and silently duplicate keys
    * on merge / skip deletes). */
  def normKey(p: String): String = new Path(p).toUri.getPath

  /** Comparison key for URI-RENDERED paths — `input_file_name()`, which
    * renders the raw name percent-ENCODED (`c=10%3A30` →
    * `c=10%253A30`): decode ONCE back to the raw filesystem name so
    * membership tests against [[normKey]]-normalized manifest paths
    * compare raw-to-raw. Provenance picks the function — applying THIS
    * to a raw manifest path would over-decode a literal `%XX`, and
    * [[normKey]] on an encoded URI would under-decode; guessing from
    * the string cannot distinguish the two. A string that fails to
    * parse as a URI (spaces from an unencoded renderer) falls back to
    * the raw parse. */
  def normUri(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getPath != null) u.getPath else new Path(p).toUri.getPath
    } catch {
      case _: java.net.URISyntaxException => new Path(p).toUri.getPath
    }

  /** All files under `dir` (recursive), as the filesystem qualifies
    * them; empty when the dir is missing. */
  def listRecursive(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty else filesUnder(fs, p)
  }

  /** Every file under the directory `p`, walked with `listStatus`. Not
    * `listFiles`: its LocatedFileStatus copies each file's owner and
    * permissions, which Hadoop's local filesystem looks up with one
    * forked `stat` per file when the native library is absent (~6.5 ms
    * a file: a 24-file walk took 150–170 ms that way, 2–7 ms this way). */
  private def filesUnder(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.flatMap(s =>
      if (s.isDirectory) filesUnder(fs, s.getPath) else Seq(s))

  /** Immediate child DIRECTORIES of `dir` (no recursion); empty when
    * the dir is missing. One listStatus call — the namespace walk
    * listTables needs, never the full-warehouse recursive listing. */
  def childDirs(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.toString)
  }

  /** Leaf parquet part-files under a just-written batch directory. */
  def leafParquet(dir: String): Seq[String] =
    leafParquetWith(dir, conf).map(_.getPath.toString)

  /** [[leafParquet]]'s file statuses, with an explicit Configuration —
    * the executor-side form (no active session to derive a conf from). */
  def leafParquetWith(dir: String, hadoopConf: Configuration): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) return Seq.empty
    filesUnder(fs, p).filter(s => s.getPath.getName.startsWith("part-") &&
      s.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.toString)
  }

  def deleteFile(path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    fs.exists(p) && fs.delete(p, false)
  }

  def deleteRecursive(path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p) && !fs.delete(p, true))
      throw new IllegalStateException(s"LakeIo: cannot delete $path")
  }
}
