package graft.sources

/** Part-file listing for the index-store appends: [[DedupIndexStore]] and
  * [[AnnIndexStore]] read back exactly the rows one append wrote through
  * a before/after listing diff (single writer per index path by contract,
  * so the diff is precise). */
private[graft] object StoreParts {

  /** part-file names currently in a store directory. */
  def list(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet

  /** Paths of the part files in `dir` that are not in `before`, sorted.
    * An empty batch (`written` = 0) may add none. A write that observed
    * rows but shows no new part file means the listing cannot see what
    * the writer wrote (e.g. a non-local path, where `java.io` lists
    * nothing): the store would count the rows while the follow-up pass,
    * which reads only the new files, never indexes them — so fail loudly
    * instead of leaving them silently unrouteable. */
  def added(store: String, dir: String, before: Set[String], written: Long): Seq[String] = {
    val files = (list(dir) -- before).toSeq.sorted.map(f => s"$dir/$f")
    if (written > 0 && files.isEmpty)
      throw new IllegalStateException(
        s"$store: append wrote $written rows to $dir but the part-file listing " +
          "shows no new file — the rows would be counted but never indexed")
    files
  }
}
