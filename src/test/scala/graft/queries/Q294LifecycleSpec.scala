package graft.queries

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.ManifestSink

/** q294's base-table lifecycle contract (r14 verdict ask #6, paired
  * with the try/finally around its drains): the query caches ONE
  * two-version base table per JVM and works on a per-invocation COPY,
  * so however many times the bench or sweep invokes it,
  *
  *  - the cached base must still hold EXACTLY its two build versions
  *    afterwards — the resume test's third append must land on the
  *    copy, never leak into the shared base (a leak would make every
  *    later invocation in the JVM drain a three-version "base" and
  *    poison the DuckDB hash non-deterministically by invocation
  *    order);
  *  - the full-table work copy must be gone when the invocation
  *    returns — it serves only the two eager drains, and the finally
  *    releases it even when a drain throws (only the small sink dir
  *    may persist, the q293 precedent).
  *
  * The base is located through the memo ([[graft.engine.Tables.landedDir]]
  * with a build that fails the test), not by scanning tmp: an earlier
  * suite in the same JVM (e.g. the comparator contract walking every
  * query) may already have warmed the memo, in which case this spec's
  * invocations create no new base at all.
  */
class Q294LifecycleSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def tmpRoot: Path =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))

  // the per-invocation work copies of THIS JVM: the query PID-tags the
  // prefix (r16 ADVICE — the shared tmpdir scan previously matched a
  // concurrently running sweep/bench JVM's in-flight copy, flaking the
  // leak assertion), so the scan keys on our own PID and other
  // processes' dirs are invisible to it. The base/out dirs use
  // different prefixes and never match.
  private val workPrefix =
    s"graft_q294_work_pid${ProcessHandle.current().pid()}_"

  private def workDirs: Seq[Path] = {
    val s = Files.list(tmpRoot)
    try s.iterator.asScala
      .filter(_.getFileName.toString.startsWith(workPrefix)).toSeq
    finally s.close()
  }

  test("q294 leaves the cached base at its two build versions and " +
      "releases the work copy, across repeated invocations") {
    val preWork = workDirs.toSet
    val q = graft.SparkEntry.queries("q294_manifest_feed_resume")
    assert(q(spark, sfDir).count() > 0)

    // the memo holds the base for this fixture (keyed by name, dir and
    // customer signature) — a lookup that would have to build it fails —
    // and the base holds exactly the two build appends
    def memoBase(): String = graft.engine.Tables.landedDir("q294_base",
      sfDir, Seq("customer"))(_ => fail(s"no memoized q294 base for $sfDir"))
    val baseTbl = memoBase()
    val v1 = ManifestSink.listVersions(baseTbl)
    assert(v1.size == 2,
      s"base table must hold exactly its 2 build versions, got $v1")

    // second invocation in the same JVM: reuses the cache, appends to
    // its own copy only
    assert(q(spark, sfDir).count() > 0)
    assert(memoBase() == baseTbl,
      "a second invocation must not create another base copy")
    assert(ManifestSink.listVersions(baseTbl) == v1,
      "the resume append leaked into the shared base table")

    // the full-table work copies are released by the invocation itself
    // (not test cleanup): nothing NEW matching the work prefix survives
    val leaked = workDirs.filterNot(preWork)
    assert(leaked.isEmpty,
      s"q294 leaked per-invocation table copies: $leaked")
  }
}
