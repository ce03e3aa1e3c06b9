package graft.sources

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-manifest`: a DataSource V2 BATCH WRITE with an explicit
  * two-phase snapshot commit — the write-side counterpart of
  * [[PagedSource]] (which covers the read/stream side of the connector
  * API), and the table-format core this environment cannot get from a
  * packaged lake format (no extra jars ship with the image).
  *
  * The exactly-once contract, spelled out:
  *  1. every task writes its rows to a file named by its UNIQUE
  *     (writeId, partitionId, taskId) — a speculative or retried
  *     attempt gets a different taskId, a different job a different
  *     writeId, so attempts never clobber each other;
  *  2. a task that succeeds returns a [[FileCommit]] message (name,
  *     rows, bytes); a task that fails has `abort()` delete its file;
  *  3. ONLY the driver's `BatchWrite.commit` — called once, after all
  *     tasks succeeded — publishes a NEW VERSIONED MANIFEST
  *     `_graft_log/v0000000000N.json` listing the snapshot's full file
  *     set (tmp-write + rename-claim, see below);
  *  4. readers ([[ManifestSink.readData]]) list files FROM A
  *     MANIFEST, never from the directory — an orphan file from a
  *     lost speculative attempt is invisible, because visibility IS
  *     the manifest entry;
  *  5. `append` commits a snapshot containing the PREVIOUS snapshot's
  *     files plus this job's; `overwrite` (routed through
  *     [[SupportsTruncate]]) commits this job's files alone. Old
  *     versions stay readable ([[ManifestSink.readData]] takes an
  *     optional version — time travel) until
  *     [[ManifestSink.expireVersions]] vacuums them;
  *  6. the version number is claimed OPTIMISTICALLY: the commit
  *     hard-links its tmp manifest to `v{latest+1}` — link(2) is an
  *     atomic fail-if-exists on POSIX, the genuine filesystem
  *     compare-and-set; losing the race throws
  *     [[FileAlreadyExistsException]] on the claim, and the committer
  *     re-reads the new latest, RE-BASES its file union, and retries
  *     (bounded) — a blind append composes with any concurrent commit,
  *     which is exactly the optimistic-concurrency rule the table
  *     formats apply to append transactions. The concurrent-committers
  *     spec races 8 real threads through this loop.
  * This is the snapshot-log protocol the table formats implement over
  * a cloud LogStore; here it is small enough to read and to test
  * (ManifestSinkSpec drives the success, duplicate-attempt, abort,
  * append/overwrite, time-travel, conflict-re-base, concurrent-race
  * and vacuum paths explicitly). Portability note: on a store without
  * atomic link-if-absent (most object stores), the claim needs the
  * store's own conditional-put — exactly what lake formats' LogStore
  * abstraction supplies.
  *
  * Rows are serialized as JSON lines; supported field types are the
  * primitive surface (long/int/double/string/boolean — documented
  * scope: the sink demonstrates the COMMIT PROTOCOL, not a codec).
  *
  * ## 100 TB notes
  * The data path is embarrassingly parallel (one file per task, no
  * coordination until commit); the commit is O(#files) driver work —
  * exactly the scaling shape of real table-format commits (a full
  * file listing per snapshot is the Iceberg manifest-list posture;
  * delta-encoding the log is the next step when |files| itself is
  * huge). The manifest doubles as the statistics source (per-file
  * rows/bytes) that packing and pruning audits read.
  */
class ManifestSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-manifest"
  override def supportsExternalMetadata(): Boolean = true

  // options are looked up through CaseInsensitiveStringMap — Spark
  // datasource options are conventionally case-insensitive, so
  // .option("versionasof", ...) must resolve the same snapshot as
  // .option("versionAsOf", ...), not silently fall through to latest
  private def pathOf(m: CaseInsensitiveStringMap): String =
    Option(m.get("path")).getOrElse(throw new
      IllegalArgumentException("graft-manifest requires option 'path'"))

  private def versionOf(m: CaseInsensitiveStringMap): Option[Long] =
    Option(m.get("versionAsOf")).map(_.toLong)

  /** Read-side schema inference: the manifest RECORDS each snapshot's
    * schema, so `spark.read.format("graft-manifest")` needs no
    * user-supplied StructType — the time-travel option `versionAsOf`
    * resolves that snapshot's own shape.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ManifestSink.readSchemaOf(pathOf(options), versionOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val ci = new CaseInsensitiveStringMap(properties)
    new ManifestTable(schema, pathOf(ci), versionOf(ci))
  }
}

object ManifestSink {
  /** Snapshot-log directory under the table path. The `_`-prefixed
    * name keeps it invisible to Spark's own file listings (the parquet
    * `_SUCCESS` convention), so manifests are read through plain file
    * IO, not a path-based scan.
    */
  val LogDirName = "_graft_log"

  private def logDir(dir: String): Path = Paths.get(dir, LogDirName)
  private def vFileName(v: Long): String = f"v$v%010d.json"
  private val VFile = """v(\d{10})\.json""".r
  // manifests are PARSED with Jackson (bundled with Spark) — the
  // format carries nested per-file stats, beyond what a regex should
  // be trusted with; they are still WRITTEN by hand so the byte layout
  // stays deliberate and diffable
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** All committed snapshot versions, ascending; empty for a dir the
    * sink never committed to.
    */
  def listVersions(dir: String): Seq[Long] = {
    val d = logDir(dir)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator.asScala
        .flatMap(p => p.getFileName.toString match {
          case VFile(n) => Some(n.toLong)
          case _ => None
        }).toSeq.sorted
      finally s.close()
    }
  }

  def latestVersion(dir: String): Option[Long] = listVersions(dir).lastOption

  /** The oldest snapshot version whose manifest survived vacuum —
    * where a FRESH streaming tail must begin (its first batch is then
    * this version's full snapshot, the initial-state batch).
    */
  def oldestRetainedVersion(dir: String): Option[Long] =
    listVersions(dir).headOption

  private def manifestBody(dir: String, version: Long): String =
    new String(Files.readAllBytes(logDir(dir).resolve(vFileName(version))),
      StandardCharsets.UTF_8)

  private[sources] def resolveVersion(dir: String,
      version: Option[Long]): Long =
    version.getOrElse(latestVersion(dir).getOrElse(throw new
      IllegalStateException(s"no committed graft-manifest snapshot in $dir")))

  private def resolve(dir: String, version: Option[Long]): Long =
    resolveVersion(dir, version)

  private[sources] def filesOf(dir: String,
      version: Long): Seq[FileCommit] =
    filesFromNode(mapper.readTree(manifestBody(dir, version)))

  private def filesFromNode(
      root: com.fasterxml.jackson.databind.JsonNode): Seq[FileCommit] = {
    val files = root.get("files")
    (0 until files.size).map { i =>
      val f = files.get(i)
      val stats = Option(f.get("stats")).map { st =>
        st.properties().asScala.map { e =>
          e.getKey -> ColStat(e.getValue.get("min").toString,
            e.getValue.get("max").toString)
        }.toMap
      }.getOrElse(Map.empty[String, ColStat])
      FileCommit(f.get("name").asText, f.get("rows").asLong,
        f.get("bytes").asLong, stats)
    }
  }

  /** JSON file-entry list for a manifest body; stats keys sorted so
    * the byte layout is deterministic.
    */
  private def renderFiles(files: Seq[FileCommit]): String =
    files.map { c =>
      val statsPart =
        if (c.stats.isEmpty) ""
        else c.stats.toSeq.sortBy(_._1)
          .map { case (col, st) =>
            s""""$col":{"min":${st.minJson},"max":${st.maxJson}}""" }
          .mkString(""","stats":{""", ",", "}")
      s"""{"name":"${c.name}","rows":${c.rows},"bytes":${c.bytes}$statsPart}"""
    }.mkString("[", ",", "]")

  /** True iff version `v`'s manifest is still on disk (not yet
    * vacuumed by [[expireVersions]]).
    */
  private[sources] def versionExists(dir: String, v: Long): Boolean =
    Files.exists(logDir(dir).resolve(vFileName(v)))

  /** Whether version `v` changed DATA (append/overwrite) or only
    * rewrote files (compaction, `"data_change":false`). Absent field —
    * every pre-flag manifest — reads as true.
    */
  private[sources] def dataChangeOf(dir: String, v: Long): Boolean =
    dataChangeFromNode(mapper.readTree(manifestBody(dir, v)))

  /** One copy of the "absent field = true" rule, shared by the feed's
    * planning path and the inspection API.
    */
  private def dataChangeFromNode(
      root: com.fasterxml.jackson.databind.JsonNode): Boolean =
    Option(root.get("data_change")).forall(_.asBoolean(true))

  /** The files version `v` ADDED over `v-1` — the change-data-feed
    * delta the streaming tail emits per micro-batch.
    *
    * `initialSnapshotBatch = true` is the stream's TRUE first planned
    * version on a fresh tail (the start offset came from this
    * instance's own `initialOffset()`, clamped to the oldest retained
    * version): `v`'s FULL file list IS the initial-state batch, and
    * `data_change` is irrelevant — however the files got arranged,
    * their rows are the table's state at `v`.
    *
    * Every other call is a RESUMED / mid-stream delta, where:
    *  - a rewrite-only version (`data_change:false`, compaction) has a
    *    KNOWABLY EMPTY delta — even when `v-1`'s manifest was already
    *    vacuumed, because a rewrite carries the predecessor's rows
    *    under new file names (a name-diff or snapshot fallback would
    *    re-emit the entire table as if appended);
    *  - a data-changing version whose predecessor manifest was
    *    vacuumed throws loudly: the delta cannot be reconstructed, and
    *    both silent skipping (loss) and snapshot re-emission
    *    (duplication) would diverge from what a live stream delivered.
    */
  private[sources] def deltaFiles(dir: String, v: Long,
      initialSnapshotBatch: Boolean = false): Seq[FileCommit] = {
    // parse v's manifest ONCE: files and data_change come off the same
    // node (the feed plans one version per micro-batch under admission
    // control, so per-version manifest I/O is the planning hot path)
    val root = mapper.readTree(manifestBody(dir, v))
    if (initialSnapshotBatch || v <= 1) filesFromNode(root)
    else if (!dataChangeFromNode(root)) {
      // rewrite-only (compaction): checked BEFORE the predecessor
      // probe so the empty delta survives a vacuum that removed v-1
      Seq.empty
    } else if (!versionExists(dir, v - 1)) {
      throw new IllegalStateException(
        s"graft-manifest change feed in $dir needs version ${v - 1}'s " +
        s"manifest to compute version $v's delta, but it was vacuumed; " +
        "lengthen vacuum retention to cover reader lag, or restart the " +
        "stream fresh (a fresh tail begins at the oldest retained " +
        "snapshot)")
    } else {
      val prev = filesOf(dir, v - 1).map(_.name).toSet
      filesFromNode(root).filterNot(f => prev.contains(f.name))
    }
  }

  /** The schema the requested — or latest — snapshot was committed
    * with (each manifest records its job's schema as DDL, so a reader
    * needs no out-of-band schema and each version reads with the shape
    * it was WRITTEN with — per-snapshot schema, the lake-format
    * posture for schema evolution).
    *
    * This is the FAITHFUL recorded schema, constraints included —
    * what compaction re-persists. Readers must go through
    * [[readSchemaOf]] instead.
    */
  def schemaOf(dir: String, version: Option[Long] = None): StructType =
    Option(mapper.readTree(manifestBody(dir, resolve(dir, version)))
        .get("schema"))
      .map(n => StructType.fromDDL(n.asText))
      .getOrElse(throw new IllegalStateException(
        s"manifest ${resolve(dir, version)} in $dir records no schema"))

  /** [[schemaOf]] with every column NULLABLE — what every READ path
    * must use: a snapshot's files can include PRE-WIDENING files that
    * lack a column the writing job declared NOT NULL, and an honest
    * reader must surface those as NULL. Trusting the constraint is
    * not a crash but SILENT CORRUPTION — codegen reads the primitive
    * slot without the null check and a missing BIGINT unboxes to 0.
    * Kept separate from [[schemaOf]] so compaction re-persists the
    * FAITHFUL recorded DDL, constraints and all.
    */
  def readSchemaOf(dir: String, version: Option[Long] = None): StructType =
    StructType(schemaOf(dir, version).map(_.copy(nullable = true)))

  /** Read a snapshot using its own recorded schema — [[readData]]
    * without the caller-supplied StructType.
    */
  def read(spark: SparkSession, dir: String,
      version: Option[Long] = None): DataFrame =
    readData(spark, dir, readSchemaOf(dir, version), version)

  /** The committed file list (name, rows, bytes) of the requested — or
    * latest — snapshot: the only source of visibility a reader may
    * trust.
    */
  def readManifest(spark: SparkSession, dir: String,
      version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    filesOf(dir, resolve(dir, version))
      .map(f => (f.name, f.rows, f.bytes))
      .toDF("name", "rows", "bytes")
  }

  /** Read back the data THROUGH a manifest: only committed files are
    * listed, so orphans from lost attempts are invisible by
    * construction, and `version` reads any still-retained historical
    * snapshot (time travel). The file list is driver-side METADATA
    * (|files| entries, the scan plan's input).
    */
  def readData(spark: SparkSession, dir: String, schema: StructType,
      version: Option[Long] = None): DataFrame = {
    val files = filesOf(dir, resolve(dir, version))
      .map(f => Paths.get(dir, f.name).toString)
    spark.read.schema(schema).json(files: _*)
  }

  /** Publish a new snapshot: claim version `latest+1` by renaming a
    * tmp manifest WITHOUT replace-existing — if a concurrent committer
    * claimed it first, re-read the latest, RE-BASE (append unions with
    * whatever snapshot is now current; truncate doesn't care) and
    * retry. Returns the committed version.
    */
  private[sources] def commitSnapshot(dir: String,
      newFiles: Seq[FileCommit], truncate: Boolean,
      schemaDdl: Option[String] = None): Long = {
    val log = logDir(dir)
    Files.createDirectories(log)
    var attempt = 0
    while (true) {
      attempt += 1
      val base = latestVersion(dir)
      val prev =
        if (truncate) Seq.empty
        else base.map(filesOf(dir, _)).getOrElse(Seq.empty)
      val all = (prev ++ newFiles).sortBy(_.name)
      val next = base.getOrElse(0L) + 1
      val files = renderFiles(all)
      // SOUND CONSTRAINTS BY INDUCTION: an APPEND's snapshot unions the
      // base's files, so a column the writer declares NOT NULL but the
      // base lacks (or had nullable) would record a constraint the
      // snapshot's own files violate — pre-widening rows are NULL
      // there. Relax such columns to nullable in the RECORDED DDL:
      // base files satisfy base's (sound) schema, new files satisfy
      // the writer's, so the merged DDL is an invariant over every
      // file the snapshot lists. Truncate keeps the writer DDL
      // verbatim (only its own files); compaction re-persists the
      // base DDL, sound by this induction.
      val recordedDdl = schemaDdl.map { d =>
        if (truncate || base.isEmpty) d
        else {
          // a base that recorded no schema tells us nothing about its
          // files — conservatively relax everything (sound, only less
          // precise)
          val baseFields = scala.util.Try(schemaOf(dir, base)).toOption
            .map(_.map(f => f.name -> f.nullable).toMap)
            .getOrElse(Map.empty[String, Boolean]) // empty => relax all
          StructType(StructType.fromDDL(d).map { f =>
            if (baseFields.get(f.name).forall(_ == true))
              f.copy(nullable = true)
            else f
          }).toDDL
        }
      }
      // DDL strings for the primitive surface contain no quote or
      // backslash, but assert rather than silently emit invalid JSON
      recordedDdl.foreach(d => require(!d.exists(c => c == '"' || c == '\\'),
        s"schema DDL not JSON-safe: $d"))
      val schemaPart =
        recordedDdl.map(d => s""""schema":"$d",""").getOrElse("")
      val body = s"""{"version":$next,$schemaPart"files":$files,""" +
        s""""n_files":${all.length},"n_rows":${all.map(_.rows).sum}}"""
      val tmp = log.resolve(vFileName(next) + ".tmp." +
        java.util.UUID.randomUUID.toString.take(8))
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      try {
        // the CLAIM: link(2) is the POSIX compare-and-set — it creates
        // the target atomically and fails with EEXIST if any concurrent
        // committer got there first. (Files.move without
        // REPLACE_EXISTING is NOT safe here: its exists-check races
        // with the rename, and POSIX rename then silently overwrites —
        // the concurrent-committers spec catches exactly that.)
        Files.createLink(log.resolve(vFileName(next)), tmp)
        Files.delete(tmp)
        return next
      } catch {
        case _: FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          if (attempt >= 20) throw new java.util.ConcurrentModificationException(
            s"graft-manifest: lost the version-claim race $attempt times in $dir")
      }
    }
    -1L // unreachable
  }

  /** Compaction (the table-format OPTIMIZE): rewrite the CURRENT
    * snapshot's rows into `numFiles` files and commit the rewritten
    * file list as a new version — content-identical, so readers see no
    * data change, only fewer/larger files (the small-file problem is
    * the perennial cost of streaming appends; q284-style per-batch
    * publishes are exactly what accumulates them). The commit is
    * CONDITIONAL on the snapshot it rewrote still being latest: if any
    * commit landed meanwhile, the compaction DELETES its staged files
    * and throws instead of silently discarding the interloper's rows —
    * rewrite transactions don't get the blind-append auto-re-base,
    * which is precisely the lake formats' conflict matrix. The old
    * files stay until [[expireVersions]]; time travel to pre-compaction
    * versions keeps working.
    */
  def compact(spark: SparkSession, dir: String, numFiles: Int): Long =
    compactFrom(spark, dir, numFiles, resolveVersion(dir, None))

  /** [[compact]] with the base version pinned — the seam the conflict
    * spec uses to land an interloping commit inside the race window
    * (after the base read, before the conditional claim).
    */
  private[sources] def compactFrom(spark: SparkSession, dir: String,
      numFiles: Int, base: Long): Long = {
    require(numFiles >= 1, "numFiles must be >= 1")
    // stage the rewrite through the sink itself, in a scratch table —
    // same writer, same escaping, same per-file accounting
    val scratch = Files.createTempDirectory("graft_compact_")
    val staged = try {
      readData(spark, dir, readSchemaOf(dir, Some(base)), Some(base))
        .repartition(numFiles)
        .write.format("graft-manifest").option("path", scratch.toString)
        .mode("append").save()
      val files = filesOf(scratch.toString, 1L)
      files.foreach(f =>
        Files.move(scratch.resolve(f.name), Paths.get(dir, f.name)))
      files
    } finally graft.engine.Fs.deleteRecursivelyQuietly(scratch)
    val next = base + 1
    val claimed =
      try {
        if (latestVersion(dir).contains(base)) {
          // truncating snapshot listing ONLY the compacted files,
          // claimed with the same link(2) CAS — but NO retry: if the
          // claim fails, someone committed over our base and the
          // rewrite is stale
          commitExact(dir, next, staged, schemaOf(dir, Some(base)),
            dataChange = false)
        } else false
      } catch { case _: FileAlreadyExistsException => false }
    if (!claimed) {
      staged.foreach(f => Files.deleteIfExists(Paths.get(dir, f.name)))
      throw new java.util.ConcurrentModificationException(
        s"graft-manifest: snapshot $base was superseded during compaction" +
          s" of $dir; staged files removed, re-run against the new latest")
    }
    next
  }

  /** Single-attempt claim of exactly version `next` (compaction's
    * conditional commit). Returns false without side effects if the
    * version was already taken.
    */
  private def commitExact(dir: String, next: Long,
      files: Seq[FileCommit], schema: StructType,
      dataChange: Boolean): Boolean = {
    val log = logDir(dir)
    Files.createDirectories(log)
    val sorted = files.sortBy(_.name)
    val list = renderFiles(sorted)
    // "data_change":false marks a REWRITE (compaction): same rows, new
    // files. Snapshot readers don't care; the CHANGE FEED must — it
    // skips such versions instead of re-emitting the whole table as if
    // appended (Delta's dataChange=false / Iceberg's replace snapshots).
    // Absent field = true, so pre-flag manifests keep their semantics.
    val changePart = if (dataChange) "" else s""""data_change":false,"""
    val body = s"""{"version":$next,"schema":"${schema.toDDL}",""" +
      changePart +
      s""""files":$list,"n_files":${sorted.length},""" +
      s""""n_rows":${sorted.map(_.rows).sum}}"""
    val tmp = log.resolve(vFileName(next) + ".tmp." +
      java.util.UUID.randomUUID.toString.take(8))
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try { Files.createLink(log.resolve(vFileName(next)), tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Vacuum: keep the newest `keepLast` snapshots, delete older
    * manifests plus every data file REFERENCED ONLY BY the expired
    * ones (a file still listed by any surviving snapshot is retained —
    * append-chains share files across versions, so reference counting
    * against the survivors is the correctness core of any table-format
    * VACUUM). Returns (expired manifest count, deleted data-file
    * count).
    */
  def expireVersions(dir: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val versions = listVersions(dir)
    val (old, kept) = versions.splitAt(math.max(versions.length - keepLast, 0))
    val retained = kept.flatMap(filesOf(dir, _)).map(_.name).toSet
    val doomed = old.flatMap(filesOf(dir, _)).map(_.name).toSet -- retained
    doomed.foreach(n => Files.deleteIfExists(Paths.get(dir, n)))
    old.foreach(v => Files.deleteIfExists(logDir(dir).resolve(vFileName(v))))
    (old.length, doomed.size)
  }

  private[sources] def jsonCell(dt: DataType, row: InternalRow,
      i: Int): String =
    if (row.isNullAt(i)) "null"
    else dt match {
      case LongType => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case DoubleType => row.getDouble(i).toString
      case BooleanType => row.getBoolean(i).toString
      case StringType =>
        "\"" + escapeJson(row.getUTF8String(i).toString) + "\""
      case other => throw new UnsupportedOperationException(
        s"graft-manifest supports primitive columns only, got $other")
    }

  /** RFC 8259 string escaping: backslash, quote, and EVERY control
    * char < 0x20 (\b, \f, U+0000… — not just \n\r\t; a raw control
    * char emits invalid JSON that the permissive reader on the read
    * path would silently null the whole row for).
    */
  private[sources] def escapeJson(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '"' => b.append("\\\"")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** Types that get zone-map stats. */
  private[sources] def statSupported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | BooleanType | StringType =>
      true
    case _ => false
  }

  /** Total order used for BOTH writer-side stat tracking and read-side
    * pruning — one comparator, AND the same order Spark's row-level
    * evaluation uses, so the bounds mean what the pruner assumes:
    *  - strings compare in UTF-8 BINARY order (UTF8String.compareTo),
    *    not Java's UTF-16 code-unit order — the two disagree for
    *    supplementary characters (U+10000+, e.g. emoji) vs the
    *    [U+E000, U+FFFF] range, and a comparator mismatched with the
    *    engine's would let mayContain prune a file whose rows DO
    *    satisfy the residual filter (silently wrong results);
    *  - -0.0 is normalized to 0.0 before comparing, matching Spark's
    *    primitive `==` where -0.0 == 0.0 (java.lang.Double.compare
    *    alone orders -0.0 < 0.0, which would prune a file whose only
    *    value is -0.0 for filter === 0.0).
    */
  private[sources] def statCmp(dt: DataType, a: Any, b: Any): Int =
    dt match {
      case LongType | IntegerType => java.lang.Long.compare(
        a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
      case DoubleType =>
        def norm(x: Any): Double = {
          val d = x.asInstanceOf[Number].doubleValue
          if (d == 0.0d) 0.0d else d
        }
        java.lang.Double.compare(norm(a), norm(b))
      case BooleanType => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a.toString)
          .compareTo(
            org.apache.spark.unsafe.types.UTF8String.fromString(b.toString))
      case other => throw new UnsupportedOperationException(other.toString)
    }

  private[sources] def renderStat(dt: DataType, v: Any): String = dt match {
    case StringType => "\"" + escapeJson(v.toString) + "\""
    case _ => v.toString
  }

  private def parseStat(dt: DataType, json: String): Any = dt match {
    case StringType => mapper.readTree(json).asText
    case LongType => json.toLong
    case IntegerType => json.toInt
    case DoubleType => json.toDouble
    case BooleanType => json.toBoolean
    case other => throw new UnsupportedOperationException(other.toString)
  }

  /** Can this filter shape drive file skipping (given stats exist)? */
  private[sources] def prunable(f: org.apache.spark.sql.sources.Filter,
      schema: StructType): Boolean = {
    import org.apache.spark.sql.sources._
    def ok(col: String) =
      schema.find(_.name == col).exists(sf => statSupported(sf.dataType))
    f match {
      case EqualTo(c, v) if v != null => ok(c)
      case GreaterThan(c, v) if v != null => ok(c)
      case GreaterThanOrEqual(c, v) if v != null => ok(c)
      case LessThan(c, v) if v != null => ok(c)
      case LessThanOrEqual(c, v) if v != null => ok(c)
      case _ => false
    }
  }

  /** Conservative zone-map check: false ONLY when the file's recorded
    * [min, max] for the column PROVES no row can satisfy the filter.
    * Missing stats (all-null column, empty file, pre-stats manifest)
    * keep the file — pruning can only ever remove provably-dead IO.
    * NULL rows never satisfy these five comparison shapes, so range
    * evidence over the non-null values is sufficient.
    */
  private[sources] def mayContain(fc: FileCommit,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      schema: StructType): Boolean = {
    import org.apache.spark.sql.sources._
    def bounds(col: String): Option[(DataType, Any, Any)] = for {
      sf <- schema.find(_.name == col)
      if statSupported(sf.dataType)
      st <- fc.stats.get(col)
    } yield (sf.dataType, parseStat(sf.dataType, st.minJson),
      parseStat(sf.dataType, st.maxJson))
    filters.forall {
      case EqualTo(c, v) => bounds(c).forall { case (dt, mn, mx) =>
        statCmp(dt, v, mn) >= 0 && statCmp(dt, v, mx) <= 0 }
      case GreaterThan(c, v) => bounds(c).forall { case (dt, _, mx) =>
        statCmp(dt, mx, v) > 0 }
      case GreaterThanOrEqual(c, v) => bounds(c).forall { case (dt, _, mx) =>
        statCmp(dt, mx, v) >= 0 }
      case LessThan(c, v) => bounds(c).forall { case (dt, mn, _) =>
        statCmp(dt, mn, v) < 0 }
      case LessThanOrEqual(c, v) => bounds(c).forall { case (dt, mn, _) =>
        statCmp(dt, mn, v) <= 0 }
      case _ => true
    }
  }

  /** Files planned by the most recent batch scan (spec hook for the
    * file-skipping assertions).
    */
  private[sources] val lastPlannedFiles =
    new java.util.concurrent.atomic.AtomicInteger(-1)
}

private class ManifestTable(schema0: StructType, path: String,
    versionAsOf: Option[Long] = None)
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = s"graft-manifest($path)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  /** Partition-per-committed-file batch scan of the resolved snapshot,
    * with column pruning: only the columns Spark asks for are decoded
    * ([[ManifestPartitionReader]] skips the rest of each JSON object),
    * and the file list is fixed AT PLANNING from the snapshot manifest
    * — a concurrent commit during the scan cannot change what this
    * query reads (snapshot isolation, the read-side half of the
    * manifest contract).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new ManifestScanBuilder(schema0, path,
      ManifestSink.resolveVersion(path, versionAsOf),
      Option(options.get("max_versions_per_trigger"))
        .map(_.toInt).getOrElse(0))

  /** `append` extends the current snapshot; `overwrite` routes through
    * [[SupportsTruncate]] (the advertised TRUNCATE capability only
    * passes the analyzer's check; V2 write PLANNING then demands the
    * trait) and commits a truncating snapshot — this job's files
    * alone.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var trunc = false
      override def truncate(): WriteBuilder = { trunc = true; this }
      override def build(): Write = {
        val t = trunc
        new Write {
          override def toBatch: BatchWrite =
            new ManifestBatchWrite(info.schema(), path, t)
        }
      }
    }
}

/** Per-file, per-column min/max, carried as the JSON rendering of the
  * scalar (strings keep their quotes/escapes) — the zone-map entry the
  * read side prunes files with.
  */
private case class ColStat(minJson: String, maxJson: String)

private case class FileCommit(name: String, rows: Long, bytes: Long,
    stats: Map[String, ColStat] = Map.empty)
    extends WriterCommitMessage

private class ManifestBatchWrite(schema: StructType, path: String,
    truncate: Boolean) extends BatchWrite {

  // per-JOB discriminator in data-file names: task ids are unique
  // within one SparkContext, but append now RETAINS files across
  // jobs — two applications writing the same table must not collide
  private val writeId = java.util.UUID.randomUUID.toString.take(8)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    new File(path).mkdirs()
    new ManifestWriterFactory(schema, path, writeId)
  }

  /** Phase 2: all tasks succeeded — publish their files atomically as
    * the next snapshot version. Until this line runs, a reader sees
    * the PREVIOUS snapshot (or none): task files alone grant no
    * visibility.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val commits = messages.collect { case f: FileCommit => f }
      .sortBy(_.name).toSeq
    ManifestSink.commitSnapshot(path, commits, truncate,
      Some(schema.toDDL))
    ()
  }

  /** Job-level abort: best-effort cleanup of files whose tasks DID
    * commit (the manifest was never written, so they were never
    * visible either way).
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case f: FileCommit => f }.foreach { c =>
      Files.deleteIfExists(Paths.get(path, c.name))
    }
}

private class ManifestWriterFactory(schema: StructType, path: String,
    writeId: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new ManifestDataWriter(schema, path, writeId, partitionId, taskId)
}

private class ManifestDataWriter(schema: StructType, path: String,
    writeId: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  // unique per ATTEMPT: a retried/speculative task has a new taskId,
  // so two attempts of one partition never write the same file; the
  // writeId keeps files from different jobs distinct too
  private val fileName = f"part-$writeId-$partitionId%05d-$taskId.jsonl"
  private val file = new File(path, fileName)
  private var out: BufferedWriter = _
  private var rows = 0L

  // per-column zone-map bounds over the NON-NULL values this task
  // writes; a column that ever sees NaN/Infinity is disqualified (no
  // valid JSON rendering, and Spark's NaN ordering would poison the
  // range) — a dropped stat only costs pruning, never correctness
  private val mins = new Array[Any](schema.length)
  private val maxs = new Array[Any](schema.length)
  private val statDead = new Array[Boolean](schema.length)

  private def trackStats(row: InternalRow): Unit = {
    var i = 0
    while (i < schema.length) {
      val dt = schema.fields(i).dataType
      if (!statDead(i) && ManifestSink.statSupported(dt)
          && !row.isNullAt(i)) {
        val v: Any = dt match {
          case LongType => row.getLong(i)
          case IntegerType => row.getInt(i)
          case DoubleType => row.getDouble(i)
          case BooleanType => row.getBoolean(i)
          case StringType => row.getUTF8String(i).toString
          case _ => null
        }
        val bad = dt == DoubleType && {
          val d = v.asInstanceOf[Double]
          d.isNaN || d.isInfinite
        }
        if (bad) { statDead(i) = true; mins(i) = null; maxs(i) = null }
        else {
          if (mins(i) == null || ManifestSink.statCmp(dt, v, mins(i)) < 0)
            mins(i) = v
          if (maxs(i) == null || ManifestSink.statCmp(dt, v, maxs(i)) > 0)
            maxs(i) = v
        }
      }
      i += 1
    }
  }

  // explicit UTF-8: readData/readManifest decode UTF-8, so the writer
  // must not depend on the platform default charset (a latin-1 JVM
  // would mojibake every non-ASCII string on the round trip)
  private def ensureOpen(): Unit =
    if (out == null)
      out = Files.newBufferedWriter(file.toPath, StandardCharsets.UTF_8)

  override def write(row: InternalRow): Unit = {
    ensureOpen()
    val cells = schema.fields.zipWithIndex.map { case (f, i) =>
      "\"" + f.name + "\":" + ManifestSink.jsonCell(f.dataType, row, i)
    }
    out.write(cells.mkString("{", ",", "}"))
    out.write("\n")
    trackStats(row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    ensureOpen() // an empty partition still commits an (empty) file
    out.flush(); out.close(); out = null
    val stats = schema.fields.zipWithIndex.collect {
      case (f, i) if mins(i) != null =>
        f.name -> ColStat(ManifestSink.renderStat(f.dataType, mins(i)),
          ManifestSink.renderStat(f.dataType, maxs(i)))
    }.toMap
    FileCommit(fileName, rows, file.length(), stats)
  }

  /** Task-level abort: this attempt's file disappears; the attempt
    * never returned a commit message, so the driver never lists it.
    */
  override def abort(): Unit = {
    if (out != null) { out.close(); out = null }
    Files.deleteIfExists(file.toPath)
  }

  override def close(): Unit = if (out != null) { out.close(); out = null }
}

/** Read-side planning: prune to the columns Spark requires, then plan
  * one [[ManifestInputPartition]] per file committed in the resolved
  * snapshot. The file list is captured HERE, at planning — later
  * commits are invisible to a running scan.
  */
private class ManifestScanBuilder(full: StructType, path: String,
    version: Long, maxVersionsPerTrigger: Int)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  private var required: StructType = full
  private var pruning: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Zone-map pruning only: the prunable comparisons drive FILE
    * SKIPPING against the manifest's per-file min/max, but every
    * filter is returned as residual — Spark re-evaluates them all
    * row-by-row, so skipping can only remove provably-dead IO, never
    * change results.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pruning = filters.filter(ManifestSink.prunable(_, full))
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pruning

  override def build(): org.apache.spark.sql.connector.read.Scan =
    new org.apache.spark.sql.connector.read.Scan
      with org.apache.spark.sql.connector.read.Batch {
      override def readSchema(): StructType = required
      override def toBatch: org.apache.spark.sql.connector.read.Batch = this
      override def description(): String =
        s"graft-manifest($path) v$version cols=${required.fieldNames.mkString(",")}" +
          s" pruneFilters=[${pruning.mkString(",")}]"

      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] = {
        val planned = ManifestSink.filesOf(path, version)
          .filter(f => ManifestSink.mayContain(f, pruning.toSeq, full))
        ManifestSink.lastPlannedFiles.set(planned.length)
        planned.map(f =>
          ManifestInputPartition(
            Paths.get(path, f.name).toString): org.apache.spark.sql
              .connector.read.InputPartition).toArray
      }

      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        new ManifestReaderFactory(required)

      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        new ManifestMicroBatchStream(path, required, maxVersionsPerTrigger)
    }
}

/** Streaming tail of the snapshot log — the change-data-feed reading
  * of the manifest table: the stream OFFSET is "versions processed so
  * far", and each micro-batch plans the files a version ADDED over its
  * predecessor (an append's delta is exactly the job's new files; a
  * truncating overwrite contributes its files as adds — removed files
  * are not retracted, the append-only simplification the lake formats'
  * change feeds also default to). Offsets are checkpointed by the
  * engine, so the tail resumes exactly where it stopped; under
  * `Trigger.AvailableNow` the endpoint is FROZEN at start
  * ([[prepareForTriggerAvailableNow]]), so the run drains a fixed
  * version range and stops even while writers keep committing.
  * `max_versions_per_trigger` (0 = all available) is admission
  * control, the log-level analog of the file source's
  * maxFilesPerTrigger.
  *
  * Retention contract: a data-changing delta needs version v AND
  * v-1's manifests. A FRESH stream starts at the oldest retained
  * version (its first batch is that snapshot's full file list — the
  * initial-state batch, and the ONLY snapshot-shaped batch the feed
  * ever emits; the grant is keyed to the offset this instance's own
  * `initialOffset()` returned, never to an ordinary batch boundary).
  * A RESUMED stream whose checkpointed range was since vacuumed fails
  * LOUDLY instead of silently skipping (loss) or re-emitting a
  * snapshot (duplication) — even when vacuum overran the checkpoint
  * by exactly one version — so run vacuum with retention covering
  * reader lag, the same rule real table formats impose. Exception: a
  * rewrite-only version (compaction) has a KNOWABLY empty delta, so
  * it passes through a vacuumed predecessor without error.
  *
  * Schema across the feed: the stream PINS the schema resolved at
  * start. Files committed under an older, narrower schema read with
  * the pinned one's missing columns as NULL (the JSON-lines layout
  * makes this well-defined); columns a later version added that the
  * pinned schema lacks are simply not projected. Restart the stream
  * to pick up a widened schema — the per-snapshot-schema posture.
  */
private class ManifestMicroBatchStream(path: String, required: StructType,
    maxVersionsPerTrigger: Int)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def v(o: Offset): Long = o.asInstanceOf[ManifestVersionOffset].v
  private var availableNowEnd: Option[Long] = None

  /** A fresh tail starts just below the OLDEST RETAINED version, not
    * at 0: its first batch is then that version's full snapshot (the
    * initial-state batch), and the stream never plans versions whose
    * manifests vacuum already expired. An un-vacuumed table keeps the
    * original semantics (oldest retained = 1, start offset 0).
    *
    * The returned offset is RECORDED on this instance: it is the only
    * start offset whose first planned version may read as a full
    * snapshot. A RESUMED stream (offset from the checkpoint via
    * [[deserializeOffset]]) never calls this, so `freshStartOffset`
    * stays None and every version it plans is held to strict delta
    * semantics — a mid-stream vacuum hole fails loudly instead of
    * silently re-emitting a snapshot.
    *
    * Thread-safety: Spark's MicroBatchExecution drives
    * `initialOffset`/`latestOffset`/`planInputPartitions` from the
    * single stream-execution thread, so a plain var would be correct
    * today; `@volatile` removes the dependence on that undocumented
    * scheduling contract at zero cost on this cold path.
    */
  @volatile private var freshStartOffset: Option[Long] = None
  override def initialOffset(): Offset = {
    val o = ManifestVersionOffset(
      ManifestSink.oldestRetainedVersion(path).getOrElse(1L) - 1L)
    freshStartOffset = Some(o.v)
    o
  }
  override def deserializeOffset(json: String): Offset =
    ManifestVersionOffset(json.trim.toLong)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(ManifestSink.latestVersion(path).getOrElse(0L))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control path")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val ceiling = availableNowEnd
      .getOrElse(ManifestSink.latestVersion(path).getOrElse(0L))
    val s = v(start)
    val cap = if (maxVersionsPerTrigger > 0) maxVersionsPerTrigger.toLong
              else Long.MaxValue - s
    ManifestVersionOffset(math.min(ceiling, s + cap))
  }

  /** Every data-changing version in (start, end] must still have its
    * predecessor's manifest: a vacuumed hole there means the change
    * feed can no longer be reconstructed, and that FAILS LOUDLY
    * (skipping would silently lose rows a live stream delivered;
    * snapshot re-emission would silently duplicate them). The ONE
    * version exempt is the first planned version of a FRESH tail —
    * `start` equals the offset this instance's own `initialOffset()`
    * returned — whose full snapshot is the initial-state batch. A
    * rewrite-only version (compaction) always has an empty delta,
    * vacuumed predecessor or not. The missing-manifest check is the
    * READ itself (not a pre-check), so a vacuum racing this planning
    * still surfaces as the same descriptive error.
    */
  override def planInputPartitions(start: Offset, end: Offset)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val s = v(start)
    ((s + 1) to v(end)).flatMap { ver =>
      val delta =
        try ManifestSink.deltaFiles(path, ver,
          initialSnapshotBatch =
            freshStartOffset.contains(s) && ver == s + 1)
        catch {
          case e: java.nio.file.NoSuchFileException =>
            // the same missing-manifest read fires for two distinct
            // operator mistakes — name the one that actually happened
            throw new IllegalStateException(
              if (freshStartOffset.contains(s))
                s"graft-manifest change feed in $path: version $ver was " +
                "vacuumed between stream start and first-batch " +
                "planning (this branch also covers a restart replaying " +
                "an uncommitted batch 0 — a checkpoint exists there, " +
                "but the batch being replayed was planned from a fresh " +
                "initialOffset()); restart the stream with a NEW " +
                "checkpoint location (it will tail from the new oldest " +
                "retained version)"
              else
                s"graft-manifest change feed in $path: version $ver was " +
                "vacuumed after this stream checkpointed below it; " +
                "lengthen vacuum retention to cover reader lag, or " +
                "restart the stream fresh", e)
        }
      delta.map(f =>
        ManifestInputPartition(
          Paths.get(path, f.name).toString): org.apache.spark.sql
            .connector.read.InputPartition)
    }.toArray
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new ManifestReaderFactory(required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Stream offset: committed snapshot versions processed so far
  * (monotone, serializable, replayable from any committed point).
  */
private case class ManifestVersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

private case class ManifestInputPartition(file: String)
    extends org.apache.spark.sql.connector.read.InputPartition

private class ManifestReaderFactory(required: StructType)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    new ManifestPartitionReader(
      partition.asInstanceOf[ManifestInputPartition].file, required)
}

/** Executor-side reader for one committed JSON-lines file: Jackson
  * (bundled with Spark) parses each line; only the REQUIRED columns
  * are materialized into the row — the pruning contract the scan
  * builder negotiated. Missing fields and JSON nulls both surface as
  * SQL NULL.
  */
private class ManifestPartitionReader(file: String, required: StructType)
    extends org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private val mapper = new ObjectMapper()
  private val lines = Files.lines(Paths.get(file), StandardCharsets.UTF_8)
  private val it = lines.iterator()
  private var current: InternalRow = _

  private def cell(node: JsonNode, dt: DataType): Any =
    if (node == null || node.isNull) null
    else dt match {
      case LongType => node.asLong()
      case IntegerType => node.asInt()
      case DoubleType => node.asDouble()
      case BooleanType => node.asBoolean()
      case StringType => UTF8String.fromString(node.asText())
      case other => throw new UnsupportedOperationException(
        s"graft-manifest supports primitive columns only, got $other")
    }

  override def next(): Boolean = {
    var advanced = false
    while (!advanced && it.hasNext) {
      val line = it.next()
      if (line.nonEmpty) {
        val root = mapper.readTree(line)
        val row = new GenericInternalRow(required.length)
        var i = 0
        while (i < required.length) {
          val f = required(i)
          row.update(i, cell(root.get(f.name), f.dataType))
          i += 1
        }
        current = row
        advanced = true
      }
    }
    advanced
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
