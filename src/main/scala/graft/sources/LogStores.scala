package graft.sources

import org.apache.hadoop.fs.{FileSystem, Options, Path}

/** The LogStore seam: publish a fully-written temp file at `target`
  * IFF no file exists there — the one primitive the repo's
  * transaction log rides on ([[DeltaWriter]] commit JSONs). First
  * writer wins; the loser gets `false` and RETRIES AT THE NEXT
  * VERSION — it must never clobber
  * the winner, because a clobbered commit is silent data loss for
  * every reader that already saw it.
  *
  * Scheme ladder (strongest primitive the store offers):
  *  - `file://` — `link(2)`: POSIX-atomic create-if-absent (plain
  *    `rename(2)` REPLACES an existing target, so it is never used
  *    here);
  *  - stores with a `FileContext` binding (HDFS class) —
  *    `rename(..., Options.Rename.NONE)`: the no-overwrite rename the
  *    namenode checks atomically; a racing target raises
  *    `FileAlreadyExistsException` → `false`, even when our earlier
  *    exists-check was stale;
  *  - otherwise — exists-check + plain rename: the documented
  *    weakest rung (S3-style stores without a coordination layer;
  *    delta-spark's S3 single-driver LogStore carries the same
  *    caveat). The exists-check narrows but cannot close the window.
  *
  * `raceHook` runs AFTER the exists-check and BEFORE the commit
  * attempt — production callers leave the default no-op; the
  * fault-injection spec lands an interloper (or crashes) inside the
  * window to pin the loser-raises-not-clobbers contract. The temp is
  * always deleted, crash paths excepted (stale `_tmp-*` temps are
  * never visible to readers; [[DeltaWriter.cleanupLog]] sweeps them
  * once they are an hour old). */
object LogStores {

  def putIfAbsent(fs: FileSystem, tmp: Path, target: Path,
                  raceHook: () => Unit = () => ()): Boolean =
    try {
      if (target.toUri.getScheme == "file")
        linkIfAbsent(tmp, target, raceHook)
      else
        renameIfAbsent(fs, tmp, target, raceHook)
    } finally fs.delete(tmp, false)

  /** `file://`: hard-link — create-if-absent is atomic in the kernel.
    * Exposed for the spec; production goes through [[putIfAbsent]]. */
  private[sources] def linkIfAbsent(tmp: Path, target: Path,
                                    raceHook: () => Unit): Boolean = {
    raceHook()
    try {
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.Paths.get(tmp.toUri.getPath))
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  /** Non-file stores: exists-check (cheap early exit), then the
    * strongest no-overwrite rename available. Exposed for the spec,
    * which drives it on local paths to simulate an object store. */
  private[sources] def renameIfAbsent(fs: FileSystem, tmp: Path,
                                      target: Path,
                                      raceHook: () => Unit): Boolean = {
    if (fs.exists(target)) return false
    raceHook() // the race window the exists-check cannot close
    try {
      // FileContext's Rename.NONE refuses an existing target INSIDE
      // the store's rename (atomically on HDFS-class systems) — a
      // stale exists-check above cannot clobber
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, fs.getConf)
      fc.rename(tmp, target, Options.Rename.NONE)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // no FileContext binding for this scheme: the documented
        // weakest rung — exists was checked above, rename may still
        // clobber on a pathological race (S3-style caveat)
        if (fs.exists(target)) false else fs.rename(tmp, target)
    }
  }
}
