package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped build-once materialization of a DataFrame behind a temp
  * view. Some inputs cost far more to PLAN than to hold: the 68-column
  * synthesized cards corpus pays seconds of Janino codegen per plan
  * compile, and near-dup pair mining pays a full inverted-index shuffle
  * per invocation — while the materialized result is a few hundred KB.
  * Materializing once via eager localCheckpoint and serving every later
  * call from the registered temp view pays that cost once per session.
  *
  * Temp views are per-SparkSession, so nothing leaks across sessions;
  * the build is synchronized so concurrent first calls (parallel Verify)
  * build exactly once. At cluster scale the same pattern holds — a
  * localCheckpoint pins the result in executor block storage, which is
  * exactly what you want for a reused intermediate that is small relative
  * to the inputs that produced it (for large reused intermediates,
  * substitute a persisted table / `checkpoint` to durable storage).
  */
object SessionCache {

  /** Per-(session, name) build locks: a global object lock would serialize
    * UNRELATED first-builds (the IVF k-means, the jaccard pair mine, and
    * the cards-corpus codegen all cost seconds) and defeat the parallel
    * Verify pool; per-name monitors keep build-once semantics without
    * cross-entry blocking. Entries are tiny (one Object per cached view). */
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Return the cached view `name`, building and registering it on first
    * use. `build` is evaluated at most once per session per name. */
  def cachedView(spark: SparkSession, name: String)(build: => DataFrame): DataFrame = {
    val lock = buildLocks.computeIfAbsent(
      System.identityHashCode(spark) + "/" + name, _ => new Object)
    lock.synchronized {
      if (!spark.catalog.tableExists(name))
        build.localCheckpoint(eager = true).createOrReplaceTempView(name)
      spark.table(name)
    }
  }

  /** Sanitize an arbitrary string (e.g. a data directory path) into a
    * legal temp-view-name suffix. */
  def viewKey(s: String): String = s.replaceAll("[^A-Za-z0-9_]", "_")

  /** View-name key for a DATA DIRECTORY: path + file-state snapshot, so a
    * dir rewritten within one JVM (amplify-into-scratch) gets a fresh
    * cache entry instead of a stale served view. Prefer this over
    * [[viewKey]] whenever the cached content derives from dir contents. */
  def dirKey(dir: String): String =
    viewKey(dir) + "_" + Tables.snapshot(dir)

  /** This JVM's scratch root: a fresh directory under `java.io.tmpdir`,
    * created on first use and deleted when the JVM exits. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch")
    sys.addShutdownHook {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    root
  }

  /** Local path `name` under this JVM's scratch root — where entries
    * put their scratch tables and files, so two JVMs on one machine (two
    * test runs, a benchmark and its oracle) never share, and never
    * delete, each other's tables. */
  def scratchPath(name: String): String = scratchRoot.resolve(name).toString

  /** Last registered view name per (session, prefix, dir), so a dir
    * REWRITE within one JVM can release the superseded snapshot's view. */
  private val lastDirView =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** [[cachedView]] keyed by (prefix, dir snapshot), dropping the previous
    * snapshot's view for the same (prefix, dir) when the dir was rewritten
    * (amplify-into-scratch across ScalingBench scale steps). Without the
    * drop, each rewrite leaks a pinned localCheckpoint for the rest of the
    * JVM — at 3 scale steps x several cached intermediates that is real
    * block-manager memory held for no reader. */
  def cachedDirView(spark: SparkSession, prefix: String, dir: String)(
      build: => DataFrame): DataFrame = {
    val name = prefix + "_" + dirKey(dir)
    val slot = System.identityHashCode(spark) + "/" + prefix + "/" + viewKey(dir)
    val prev = lastDirView.put(slot, name)
    if (prev != null && prev != name) spark.catalog.dropTempView(prev)
    cachedView(spark, name)(build)
  }
}
