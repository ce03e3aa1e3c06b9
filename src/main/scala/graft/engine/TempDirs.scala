package graft.engine

import java.nio.file.{Files, Path}

/** Per-JVM temp-dir registry with ONE shutdown hook.
  *
  * Several queries stage tables or stream sinks in tmp whose contents
  * are read lazily for the session's lifetime (drained parquet, stream
  * sinks, the root of every table [[Tables.landedDir]] builds) — eager
  * deletion is only safe for a per-invocation copy with its own
  * try/finally. Across JVMs those dirs used to accumulate one staged
  * copy per sweep/bench run (round 16 found 20 stale q294 bases), so
  * they are removed at JVM exit; and because some registrations happen
  * once per INVOCATION (q293/q294 sink dirs), the registry keeps a
  * single static hook draining a concurrent queue rather than one hook
  * thread per call — N invocations would otherwise pile up N unstarted
  * hook threads and start them all concurrently at shutdown. Hook
  * failure is irrelevant: worst case is the old leave-in-tmp behavior.
  */
object TempDirs {
  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  // lazy so the hook is installed exactly once, on first registration;
  // deletion is [[Fs.deleteRecursivelyQuietly]] per path, so one
  // undeletable entry cannot abort the drain and leak the rest
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = registered.poll()
      while (p != null) {
        Fs.deleteRecursivelyQuietly(p)
        p = registered.poll()
      }
    }))
    true
  }

  /** Create a temp dir removed at JVM exit. */
  def createCleanedAtExit(prefix: String): Path =
    registerAtExit(Files.createTempDirectory(prefix))

  /** Register an existing path for removal at JVM exit. */
  def registerAtExit(p: Path): Path = {
    require(hookInstalled)
    registered.add(p)
    p
  }
}
