package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{catalyst, Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal versioned-log table format: the ACID layer the plain
  * managed-parquet path lacks (BASELINE names "Spark + Delta/Iceberg table
  * ops"; zero egress rules those jars out, so this implements the core of
  * the published commit-protocol design — an incremental action log with
  * periodic checkpoints and atomic publication — directly).
  *
  * Layout:
  * {{{
  *   <root>/_graft_log/v00000000000000000001.json            // one COMMIT (delta) per version
  *   <root>/_graft_log/v00000000000000000010.checkpoint.json // full snapshot every K commits
  *   <root>/_graft_log/_last_checkpoint                      // pointer {"version": N}
  *   <root>/data/<commit-uuid>/part-*.parquet                // immutable data files
  *   <root>/data/<commit-uuid>/__gp_<col>=<v>/part-*.parquet // partitioned append layout
  * }}}
  *
  * Guarantees:
  *  - **Atomic commit**: data files are fully written into a fresh
  *    `data/<uuid>/` dir FIRST; the commit is a single hard-link creation of
  *    the next commit file (`Files.createLink` fails atomically if the
  *    version exists). A crash mid-write leaves unreferenced garbage, never
  *    a half-visible table.
  *  - **Optimistic concurrency**: two writers racing to version N+1 — one
  *    wins the link creation, the other gets [[CommitConflictException]]
  *    and must re-read and retry (the documented Delta/Iceberg protocol).
  *  - **Snapshot isolation / time travel**: a reader resolves ONE snapshot
  *    and reads only files it references; compaction and overwrite publish
  *    new commits and never mutate old files, so `read(version = Some(n))`
  *    keeps returning the historical snapshot until [[vacuum]].
  *  - **O(N) metadata**: each commit records only its own adds/removes
  *    (KBs, independent of table size); every [[CheckpointInterval]] commits
  *    a full checkpoint manifest is written and `_last_checkpoint` advanced,
  *    so snapshot resolution reads one checkpoint plus at most K deltas and
  *    [[currentVersion]] probes forward from the pointer instead of listing
  *    the log directory. This is the published Delta checkpoint design; the
  *    naive alternative (each commit rewrites the full file list) costs
  *    O(N²) cumulative log bytes and a directory listing per read — fatal at
  *    10⁵–10⁶ files.
  */
object CommitLog {

  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** A multi-table transaction lost its marker race: some table's prepare
    * was force-aborted by a concurrent resolver before the coordinator
    * could publish the committed marker. No table shows any effect.
    */
  final class TxnAbortedException(msg: String) extends RuntimeException(msg)

  /** Full checkpoint every this many commits. Delta's default is 10. */
  private[sources] val CheckpointInterval = 10L

  /** Unreferenced files younger than this survive [[vacuum]] by default: a
    * concurrent writer's freshly staged (not yet published) files are
    * unreferenced at vacuum time, and deleting them would corrupt the commit
    * it is about to publish. Delta ships the same mtime-based guard
    * (`deletedFileRetentionDuration`, default 7 days).
    */
  private[graft] val DefaultVacuumRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** Per-file bloom index (the published Delta/Parquet bloom-filter-index
    * concept): when `spark.graft.bloom.columns` names columns at write
    * time, every staged file gets a sidecar holding one bloom filter per
    * indexed column, built in the commit's one Spark sketch pass
    * ([[sketchPass]]). Equality and IN pushdown then skip files whose bloom
    * proves the value absent — the point-lookup complement to min/max
    * skipping, which cannot prune high-cardinality unsorted keys (every
    * file's [min,max] spans the whole domain, so a 100 TB needle-in-
    * haystack lookup scans everything; a 1 % -fpp bloom cuts it to ~1 file
    * + false positives). Sketches are Spark's own `util.sketch.BloomFilter`
    * in its `BloomFilterAggregate` serialized form, keyed by xxhash64 of
    * the column value — the exact bit layout AQE's injected runtime
    * filters use, so build and probe can never disagree on hashing.
    */
  private[sources] val BloomColumnsConf = "spark.graft.bloom.columns"
  private[sources] val BloomBitsConf = "spark.graft.bloom.bits"
  private[sources] val BloomItemsConf = "spark.graft.bloom.items"
  private val DefaultBloomBits = 262144L // 32 KiB/file/column ≈ 1% fpp @ 27k keys
  private val DefaultBloomItems = 27000L

  /** Per-file NDV sketches (the Iceberg-puffin/theta-sketch concept, built
    * on the engine's own bundled datasketches HLL): when `ndv.columns`
    * (table property, or the session conf override) names columns at
    * write time, every staged file gets a sidecar holding one HLL sketch
    * per column, built in the same sketch pass as the bloom index.
    * HLL sketches MERGE losslessly, so [[describeStats]] unions the
    * per-file sketches into table-level distinct-count estimates without
    * ever re-scanning data — the statistic a planner (or a human sizing a
    * join) needs, at any file count. ~2.5 KiB per sketch at the default
    * lgK=12 (±~1.6% standard error).
    */
  private[sources] val NdvColumnsConf = "spark.graft.ndv.columns"
  private[sources] val NdvLgkConf = "spark.graft.ndv.lgk"
  private val DefaultNdvLgk = 12

  /** Which integral columns get exact per-file sums at write time
    * (`'*'` = all, `''` = none — footers cannot supply sums, so this is
    * the one stat whose cost is a column-pruned data read per commit).
    * Session conf overrides the sticky `sums.columns` table property.
    */
  private[sources] val SumsColumnsConf = "spark.graft.sums.columns"

  /** Per-file column statistics for scan pruning: min/max rendered
    * zone-independently as strings (timestamps as unix micros — a session-
    * timezone-dependent rendering would shift pruning bounds between writer
    * and reader sessions and silently skip matching files), plus null
    * counts, byte size, and — for partitioned appends — the partition tuple
    * (on partition columns min = max, so stats pruning is exact partition
    * pruning). Only atomic comparable types are tracked; other columns
    * simply never prune.
    */
  final case class FileStat(
      path: String, // relative to root
      rows: Long,
      bytes: Long = 0L,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty,
      nullCounts: Map[String, Long] = Map.empty,
      partitions: Map[String, String] = Map.empty,
      // bloom-index sidecar for this file (root-relative; absolute on a
      // shallow clone's source references; null = no index). The manifest
      // carries only the PATH — the bits live in the sidecar, so the log
      // stays metadata-sized however many files are indexed.
      bloom: String = null,
      // NDV (HLL) sketch sidecar, same path discipline as `bloom`
      ndv: String = null,
      // exact per-file column sums (integral columns only, rendered as
      // DECIMAL(38,0) strings so no file-level overflow is possible) —
      // what lets a global/grouped SUM fold from metadata; absent key =
      // all-null in this file or a pre-sums log (the answerer declines)
      sums: Map[String, String] = Map.empty) {
    def minsOrEmpty: Map[String, String] = Option(mins).getOrElse(Map.empty)
    def maxsOrEmpty: Map[String, String] = Option(maxs).getOrElse(Map.empty)
    def partitionsOrEmpty: Map[String, String] =
      Option(partitions).getOrElse(Map.empty)
    def bloomOpt: Option[String] = Option(bloom)
    def ndvOpt: Option[String] = Option(ndv)
    def sumsOrEmpty: Map[String, String] = Option(sums).getOrElse(Map.empty)
  }

  /** On-disk per-version record: the DELTA of one transaction (Delta's
    * add/remove actions). `schemaJson`, `partitionBy` and `txn` carry the
    * full post-commit value — they are metadata-sized regardless of table
    * size, so folding them incrementally would buy nothing.
    */
  final case class Commit(
      version: Long,
      op: String,
      schemaJson: String,
      add: Seq[FileStat] = Nil,
      remove: Seq[String] = Nil, // root-relative paths dropped from the snapshot
      partitionBy: Seq[String] = Nil,
      txn: Map[String, Long] = Map.empty, // appId → last committed batchId
      ts: Long = 0L, // publish wall-clock (epoch ms); 0 on pre-ts commits
      // full post-commit CHECK set; read ONLY on add/drop-constraint
      // commits — every other op inherits the prior manifest's set in
      // foldCommit, so pre-constraint logs and writers stay valid
      constraints: Map[String, String] = Map.empty,
      // deletion vectors attached by this commit: data-file path → DV file
      // path (both root-relative). Folding merges per data file (a new DV
      // REPLACES the file's prior one — DV content is cumulative by
      // construction); "restore" replaces the whole map like constraints.
      dvs: Map[String, String] = Map.empty,
      // column mapping (logical name → PHYSICAL parquet name; absent key =
      // identity) + retired physical names of dropped columns. Read ONLY
      // on rename-column/drop-column/restore/clone commits — every other
      // op inherits, so pre-mapping logs and writers stay valid.
      colMap: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      // table properties (the Delta TBLPROPERTIES concept): full
      // post-commit map, read ONLY on create/set-props/restore/clone —
      // everything else inherits, so pre-props logs stay valid.
      props: Map[String, String] = Map.empty,
      // clone origin (op == "clone" only): the normalized source root and
      // the source version the clone snapshot was taken at — what
      // [[fastForward]] needs to prove the promote is a true fast-forward.
      // Null/0 on every other op and on pre-branch clone logs (which then
      // simply cannot fast-forward; they still read fine).
      cloneSrc: String = null,
      cloneVer: Long = 0L,
      // multi-table transaction marker (op == "txn-append" only): the
      // ABSOLUTE path of the coordinator's decision file. The commit's
      // effects are real iff that marker says "committed"; fold resolves
      // it (forcing a decision on stale undecided markers — Percolator's
      // lazy lock cleanup). Null on every single-table commit.
      multiTxn: String = null) {
    def addOrNil: Seq[FileStat] = Option(add).getOrElse(Nil)
    def removeOrNil: Seq[String] = Option(remove).getOrElse(Nil)
    def partitionByOrNil: Seq[String] = Option(partitionBy).getOrElse(Nil)
    def txnOrEmpty: Map[String, Long] = widenTxn(txn)
    def constraintsOrEmpty: Map[String, String] =
      Option(constraints).getOrElse(Map.empty)
    def dvsOrEmpty: Map[String, String] = Option(dvs).getOrElse(Map.empty)
    def colMapOrEmpty: Map[String, String] = Option(colMap).getOrElse(Map.empty)
    def retiredOrNil: Seq[String] = Option(retired).getOrElse(Nil)
    def propsOrEmpty: Map[String, String] = Option(props).getOrElse(Map.empty)
  }

  /** Materialized snapshot at one version — what readers resolve, and the
    * checkpoint file format. `fileStats` IS the file list (stats are
    * computed at stage time for every file).
    */
  final case class Manifest(
      version: Long,
      op: String,
      schemaJson: String,
      fileStats: Seq[FileStat] = Nil,
      partitionBy: Seq[String] = Nil,
      txn: Map[String, Long] = Map.empty,
      constraints: Map[String, String] = Map.empty, // name → CHECK expr
      dvs: Map[String, String] = Map.empty, // data file → live DV file
      colMap: Map[String, String] = Map.empty, // logical → physical name
      retired: Seq[String] = Nil, // dropped columns' physical names
      props: Map[String, String] = Map.empty, // table properties
      // RELY join-elimination trust boundary (folded forward, so the check
      // is a manifest read — never a history walk; 0 = never, and pre-r8
      // checkpoints, whose tables carry no stamps and never eliminate):
      //  - mutationV: latest version that could REMOVE OR MODIFY live rows
      //    (delete/update/merge/overwrite/DV ops/restore/…) — stales FK
      //    trust (a removed parent orphans fact rows);
      //  - modifyV: latest version that could MODIFY live row VALUES
      //    (update/merge/overwrite/restore/…; pure deletes excluded — they
      //    cannot introduce duplicate keys) — stales PK-uniqueness trust.
      // Appends re-validate relationally on the append path, so they bump
      // neither.
      mutationV: Long = 0L,
      modifyV: Long = 0L,
      // SLIM checkpoint marker (r14): when set, this checkpoint's file
      // stats live in a PARQUET sidecar (logDir-relative directory) and
      // `fileStats` is empty — the Delta parquet-checkpoint pattern. A
      // slim checkpoint keeps the JSON KB-scale at any file count;
      // readers either hydrate (collect the sidecar — columnar, no GB
      // JSON parse) or, on the pruning/scan paths, run a Spark job over
      // the sidecar relation and collect only survivors. Null on full
      // checkpoints and on every folded in-memory manifest.
      statsRef: String = null) {
    def statsOrNil: Seq[FileStat] = Option(fileStats).getOrElse(Nil)
    def statsRefOpt: Option[String] = Option(statsRef)
    def files: Seq[String] = statsOrNil.map(_.path)
    def partitionByOrNil: Seq[String] = Option(partitionBy).getOrElse(Nil)
    def txnOrEmpty: Map[String, Long] = widenTxn(txn)
    def constraintsOrEmpty: Map[String, String] =
      Option(constraints).getOrElse(Map.empty)
    def dvsOrEmpty: Map[String, String] = Option(dvs).getOrElse(Map.empty)
    def colMapOrEmpty: Map[String, String] = Option(colMap).getOrElse(Map.empty)
    def retiredOrNil: Seq[String] = Option(retired).getOrElse(Nil)
    def propsOrEmpty: Map[String, String] = Option(props).getOrElse(Map.empty)
    def mutationVOrZero: Long = mutationV
    def modifyVOrZero: Long = modifyV
    /** Physical parquet name of a logical column (identity when unmapped). */
    def physOf(logical: String): String =
      colMapOrEmpty.getOrElse(logical, logical)
  }

  /** Jackson + erasure leaves Map[String, Long] values as boxed Integers. */
  private def widenTxn(m: Map[String, Long]): Map[String, Long] =
    Option(m).getOrElse(Map.empty[String, Long])
      .asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  private def logDir(root: String): Path = Paths.get(root, "_graft_log")
  private def commitPath(root: String, v: Long): Path =
    logDir(root).resolve(f"v$v%020d.json")
  private def checkpointPath(root: String, v: Long): Path =
    logDir(root).resolve(f"v$v%020d.checkpoint.json")
  private def statsSidecarPath(root: String, v: Long): Path =
    logDir(root).resolve(f"v$v%020d.checkpoint.stats.parquet")
  private def lastCheckpointPath(root: String): Path =
    logDir(root).resolve("_last_checkpoint")

  /** Java NIO directory streams hold an open FD until closed — every
    * listing in this class goes through these two, never a bare
    * `Files.list`/`Files.walk` (a leak per commit adds up in a long-lived
    * driver).
    */
  private def withList[A](dir: Path)(f: Iterator[Path] => A): A =
    Using.resource(Files.list(dir))(s => f(s.iterator().asScala))
  private def withWalk[A](dir: Path)(f: Iterator[Path] => A): A =
    Using.resource(Files.walk(dir))(s => f(s.iterator().asScala))

  // --------------------------------------------------------------------
  // Log access: commits, checkpoints, snapshot resolution
  // --------------------------------------------------------------------

  private final case class CheckpointHint(version: Long)

  private def lastCheckpointVersion(root: String): Option[Long] = {
    val p = lastCheckpointPath(root)
    if (!Files.exists(p)) None
    else
      // A torn/concurrent pointer write is survivable: the pointer is a
      // performance hint, never the source of truth.
      try Some(mapper.readValue(Files.readAllBytes(p), classOf[CheckpointHint]).version)
      catch { case _: Exception => None }
  }

  /** Advance `_last_checkpoint` to `v` if it is newer (monotone hint). */
  private def advanceLastCheckpoint(root: String, v: Long): Unit = {
    if (lastCheckpointVersion(root).exists(_ >= v)) return
    val tmp = logDir(root).resolve(s".ckpt-${UUID.randomUUID()}")
    Files.write(tmp, mapper.writeValueAsBytes(CheckpointHint(v)))
    Files.move(tmp, lastCheckpointPath(root),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def writeCheckpoint(root: String, m0: Manifest): Unit = {
    val target = checkpointPath(root, m0.version)
    if (Files.exists(target)) return // idempotent — same fold, same content
    // SLIM mode (r14): past the file-count threshold, the stats move to a
    // parquet sidecar and the JSON stays KB-scale — the one component the
    // r13 verdict would not sign off at 100x file counts was exactly this
    // JSON growing GB-scale and its driver fold becoming the bottleneck.
    val stats = m0.statsOrNil
    val session = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    val m =
      if (stats.size >= slimThreshold(session) && session.isDefined) {
        val ref = f"v${m0.version}%020d.checkpoint.stats.parquet"
        writeStatsParquet(session.get, root, ref, stats)
        m0.copy(fileStats = Nil, statsRef = ref)
      } else m0.copy(statsRef = null)
    val tmp = logDir(root).resolve(s".tmp-ckpt-${UUID.randomUUID()}.json")
    Files.write(tmp, mapper.writeValueAsBytes(m))
    try Files.createLink(target, tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException => () } // racer won; identical content
    finally Files.deleteIfExists(tmp)
  }

  /** Live-file count at which checkpoints go slim (stats → parquet) and
    * pruning/scan listing route through a Spark job over the sidecar.
    * `spark.graft.manifest.slimThreshold`; the default keeps every
    * ordinary table on the (faster at small counts) driver fold.
    */
  private def slimThreshold(
      session: Option[org.apache.spark.sql.SparkSession]): Int =
    session.flatMap(s =>
      s.conf.getOption("spark.graft.manifest.slimThreshold"))
      .orElse(sys.props.get("graft.manifest.slimThreshold"))
      .flatMap(_.toIntOption).getOrElse(50000)

  /** The sidecar's row schema ≡ [[FileStat]] (maps stay maps — columnar,
    * so a prune job reads only the entries it dereferences).
    */
  private val statsParquetSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("rows", LongType),
    StructField("bytes", LongType),
    StructField("mins", MapType(StringType, StringType)),
    StructField("maxs", MapType(StringType, StringType)),
    StructField("nullCounts", MapType(StringType, LongType)),
    StructField("partitions", MapType(StringType, StringType)),
    StructField("bloom", StringType),
    StructField("ndv", StringType),
    StructField("sums", MapType(StringType, StringType))))

  private def statRow(s: FileStat): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(s.path, s.rows, s.bytes, s.minsOrEmpty,
      s.maxsOrEmpty,
      Option(s.nullCounts).getOrElse(Map.empty[String, Long])
        .asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.asInstanceOf[Number].longValue },
      s.partitionsOrEmpty, s.bloom, s.ndv, s.sumsOrEmpty)

  private def rowStat(r: org.apache.spark.sql.Row): FileStat = {
    def m[V](i: Int): Map[String, V] =
      if (r.isNullAt(i)) Map.empty
      else r.getMap[String, V](i).toMap
    FileStat(r.getString(0), r.getLong(1), r.getLong(2),
      m[String](3), m[String](4), m[Long](5), m[String](6),
      if (r.isNullAt(7)) null else r.getString(7),
      if (r.isNullAt(8)) null else r.getString(8), m[String](9))
  }

  private def writeStatsParquet(spark: org.apache.spark.sql.SparkSession,
      root: String, ref: String, stats: Seq[FileStat]): Unit = {
    val target = logDir(root).resolve(ref)
    if (Files.exists(target)) return // racer wrote the identical fold
    val tmp = logDir(root).resolve(s".tmp-pq-${UUID.randomUUID()}")
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(stats.map(statRow).asJava, statsParquetSchema)
      .write.mode("overwrite").parquet(tmp.toString)
    try Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException =>
        // racer won with the same content
        deleteRecursively(tmp)
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      withWalk(p)(_.toSeq).sortBy(-_.getNameCount)
        .foreach(q => try Files.deleteIfExists(q) catch { case _: Exception => () })
    }

  private def statsParquetDF(spark: org.apache.spark.sql.SparkSession,
      root: String, ref: String): DataFrame =
    spark.read.schema(statsParquetSchema)
      .parquet(logDir(root).resolve(ref).toString)

  /** A resolved snapshot that has NOT hydrated a slim checkpoint:
    * `meta` carries every metadata field plus the DELTA adds folded since
    * the checkpoint; parquet-side rows live behind `statsRef`, with
    * `refRemoves` the paths later deltas removed from them. For a full
    * (non-slim) resolution, `statsRef` is None and `meta` IS the complete
    * manifest.
    */
  private[sources] final case class SlimSnapshot(
      meta: Manifest,
      statsRef: Option[String],
      refRemoves: Seq[String]) {
    def isSlim: Boolean = statsRef.isDefined
  }

  /** Snapshot resolution that defers a slim checkpoint's parquet stats:
    * the shape of [[readManifest]] minus hydration — the pruning and scan
    * paths consume this directly so a million-file table's resolution
    * stays KB-scale on the driver.
    */
  private[sources] def readSnapshotSlim(root: String, v: Long): SlimSnapshot = {
    require(v >= 1, s"versions start at 1, got $v")
    val ckpt = (v to 1L by -1).find(cv => Files.exists(checkpointPath(root, cv)))
    ckpt match {
      case Some(cv) =>
        val base = mapper.readValue(
          Files.readAllBytes(checkpointPath(root, cv)), classOf[Manifest])
        val slim = base.statsRefOpt.filter(_ => base.statsOrNil.isEmpty)
        var removes = Vector.empty[String]
        val folded = ((cv + 1) to v).foldLeft(base) { (m, i) =>
          val c = readCommit(root, i)
          if (slim.isDefined) removes ++= c.removeOrNil
          foldCommit(Some(m), c)
        }
        SlimSnapshot(folded.copy(statsRef = null), slim, removes)
      case None =>
        require(Files.exists(commitPath(root, v)),
          s"no manifest for version $v under $root")
        val m = (1L to v).foldLeft(Option.empty[Manifest])(
          (m, i) => Some(foldCommit(m, readCommit(root, i)))).get
        SlimSnapshot(m, None, Nil)
    }
  }

  /** A slim sidecar's collected stats, cached per (root, ref): the
    * sidecar is immutable once linked (content = the fold at its
    * version), so repeated hydrations on write/DML paths pay one collect
    * per checkpoint instead of one per readManifest call. Small LRU —
    * a driver touches a handful of slim tables at a time.
    */
  private val hydrateCache =
    new java.util.LinkedHashMap[(String, String), Vector[FileStat]](
      8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Vector[FileStat]])
          : Boolean = size() > 4
    }

  /** Hydrate a slim snapshot into a FULL manifest (parquet collect —
    * columnar and mins/maxs-typed, never a GB JSON parse). The writer/DML
    * paths that genuinely need every file's stats in memory go through
    * this; read/prune paths do not.
    */
  private def hydrate(root: String, s: SlimSnapshot): Manifest =
    s.statsRef match {
      case None => s.meta
      case Some(ref) =>
        val base = hydrateCache.synchronized {
          Option(hydrateCache.get((root, ref)))
        }.getOrElse {
          val spark = org.apache.spark.sql.SparkSession.getActiveSession
            .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
            .getOrElse(throw new IllegalStateException(
              s"resolving slim checkpoint $ref at $root needs an active " +
                "SparkSession"))
          val collected = statsParquetDF(spark, root, ref).collect()
            .iterator.map(rowStat).toVector
          hydrateCache.synchronized {
            hydrateCache.put((root, ref), collected)
          }
          collected
        }
        val removed = s.refRemoves.toSet
        s.meta.copy(fileStats =
          base.filterNot(f => removed(f.path)) ++ s.meta.statsOrNil)
    }

  /** Largest committed version, if any — O(commits since last checkpoint):
    * probe forward from the `_last_checkpoint` hint instead of listing the
    * whole log directory (which is O(total commits) per call — on every
    * read AND every commit).
    */
  def currentVersion(root: String): Option[Long] = {
    if (!Files.isDirectory(logDir(root))) return None
    val start = lastCheckpointVersion(root) match {
      case Some(v) => v
      case None =>
        // No pointer yet: young table (< K commits) — probe from v1 — or a
        // log written by hand; fall back to one listing for the latter.
        if (Files.exists(commitPath(root, 1L))) 1L
        else {
          val vs = withList(logDir(root))(_.map(_.getFileName.toString)
            .filter(s => s.startsWith("v") && s.endsWith(".json") &&
              !s.contains("checkpoint"))
            .map(_.stripPrefix("v").stripSuffix(".json").toLong).toSeq)
          return if (vs.isEmpty) None else Some(vs.max)
        }
    }
    var v = start
    while (Files.exists(commitPath(root, v + 1))) v += 1
    Some(v)
  }

  private def readCommit(root: String, v: Long): Commit = {
    val p = commitPath(root, v)
    require(Files.exists(p), s"no commit for version $v under $root")
    val node = mapper.readTree(Files.readAllBytes(p))
    // A pre-incremental-format record (full file list per version) would
    // deserialize into Commit with add=Nil and silently read as an EMPTY
    // table — fail loudly instead of losing data quietly.
    require(!node.has("files"),
      s"version $v at $root is a legacy full-manifest record; this build " +
        "reads only incremental commit logs — rewrite the table")
    mapper.treeToValue(node, classOf[Commit])
  }

  private def foldCommit(prior: Option[Manifest], c: Commit): Manifest = {
    // Multi-table prepare: effective only once its coordinator marker says
    // "committed" — txnCommitted force-decides stale undecided markers, so
    // a fold's outcome is deterministic and permanent from the first time
    // anyone resolves it (decided states are cached; markers are never
    // vacuumed). An aborted/losing prepare folds as a NO-OP: the version
    // number stays occupied (the chain keeps its density) but nothing
    // changes — on a fresh table it leaves an empty shell with the
    // prepare's schema.
    if (c.multiTxn != null && !txnCommitted(c.multiTxn, c.ts)) {
      return prior match {
        case Some(m) => m.copy(version = c.version, op = "txn-aborted")
        case None => Manifest(c.version, "txn-aborted", c.schemaJson)
      }
    }
    val removed = c.removeOrNil.toSet
    // Constraint-carrying ops REPLACE the active CHECK set; everything else
    // inherits. "restore" is in the first group because RESTORE reverts
    // metadata along with data (Delta semantics): the restored snapshot was
    // validated against ITS constraint set, not against constraints added
    // later, so keeping the newer set would publish unvalidated rows.
    val cs =
      if (c.op == "add-constraint" || c.op == "drop-constraint" ||
          c.op == "restore" || c.op == "clone" || c.op == "fast-forward")
        c.constraintsOrEmpty
      else prior.map(_.constraintsOrEmpty).getOrElse(Map.empty)
    // Deletion vectors: a removed data file takes its DV with it (rewrites
    // materialize deletes); a commit's own dvs entries replace per data
    // file. "restore" replaces the whole map, like constraints — the
    // restored snapshot's DV state comes back with its data.
    val dvs =
      if (c.op == "restore" || c.op == "fast-forward") c.dvsOrEmpty
      else (prior.map(_.dvsOrEmpty).getOrElse(Map.empty) -- removed) ++
        c.dvsOrEmpty
    // Column mapping: rename/drop REPLACE the mapping + retired set;
    // restore/clone revert them with the data; an import CARRIES the
    // source format's mapping (Delta column mapping translates to ours);
    // everything else inherits (pre-mapping logs and writers stay valid).
    val mapOps =
      Set("rename-column", "drop-column", "restore", "clone", "fast-forward",
        "import")
    val cm =
      if (mapOps(c.op)) c.colMapOrEmpty
      else prior.map(_.colMapOrEmpty).getOrElse(Map.empty)
    val ret =
      if (mapOps(c.op)) c.retiredOrNil
      else prior.map(_.retiredOrNil).getOrElse(Nil)
    // Table properties: create/set-props/restore/clone REPLACE the map;
    // everything else inherits (pre-props logs and writers stay valid).
    val props =
      if (c.op == "create" || c.op == "set-props" || c.op == "restore" ||
          c.op == "clone" || c.op == "fast-forward" ||
          (c.op == "overwrite" && c.propsOrEmpty.nonEmpty))
        c.propsOrEmpty
      else prior.map(_.propsOrEmpty).getOrElse(Map.empty)
    // Live-row mutation tracking (join-elimination trust boundary): any op
    // NOT on the preserves-live-rows whitelist bumps mutationV — unknown
    // ops count as mutations, so a future op can only be over-conservative.
    // Pure row removals additionally leave modifyV alone (a delete can
    // orphan a foreign key but never duplicate a primary key).
    val mut =
      if (PreservesLiveRows(c.op)) prior.map(_.mutationVOrZero).getOrElse(0L)
      else c.version
    val mod =
      if (PreservesLiveRows(c.op) || RemovesRowsOnly(c.op))
        prior.map(_.modifyVOrZero).getOrElse(0L)
      else c.version
    Manifest(c.version, c.op, c.schemaJson,
      prior.map(_.statsOrNil).getOrElse(Nil).filterNot(s => removed(s.path)) ++
        c.addOrNil,
      c.partitionByOrNil, c.txnOrEmpty, cs, dvs, cm, ret, props, mut, mod)
  }

  /** Ops that provably leave every live row's values intact: appends
    * (relationally re-validated), metadata commits, and content-preserving
    * rewrites (compaction/clustering rewrite bytes, never row sets;
    * purge-dv materializes only already-dead rows away). Everything else —
    * delete/update/merge/overwrite/DV writes/restore/fast-forward/clone/
    * fsck and any op this build doesn't know — counts as a mutation.
    */
  private val PreservesLiveRows = Set(
    "append", "txn-append", "create", "import", "refresh-stats",
    "optimize", "compact", "cluster", "purge-dv", "set-props",
    "add-constraint", "drop-constraint", "evolve-partition",
    "evolve-schema", "rename-column", "drop-column", "txn-aborted")

  /** Ops that can only DELETE whole rows (never change surviving values or
    * smuggle new ones in): copy-on-write delete, merge-on-read delete
    * (DV-only commit), and fsck's unreadable-file drop.
    */
  private val RemovesRowsOnly = Set("delete", "delete-dv", "fsck")

  /** Materialize the snapshot at version `v`: nearest checkpoint at or
    * below `v` plus the commit deltas after it. Checkpoints are written
    * every [[CheckpointInterval]] commits (and by [[vacuum]]/[[vacuumLog]]
    * at their keep boundary), but a multi-table prepare landing on a
    * multiple of K skips its checkpoint, so the probe walks down to the
    * nearest checkpoint at any distance (a vacuum boundary always has
    * one) and folds from v1 only when there is none — never more probes
    * than that fold reads commits.
    */
  def readManifest(root: String, v: Long): Manifest =
    hydrate(root, readSnapshotSlim(root, v))

  /** Atomically publish commit `c` as version `c.version`. The record is
    * staged to a temp file and hard-linked into place — link creation is the
    * atomic, fail-if-exists commit point.
    */
  private[sources] def publish(root: String, c0: Commit): Unit = {
    // Stamp the publish instant ONCE here (every commit path funnels
    // through publish) — the basis for timestampAsOf resolution. The stamp
    // is clamped to strictly after the prior commit's (Delta's non-monotonic
    // timestamp adjustment): a clock step backwards or multi-writer skew
    // would otherwise let versionAsOf resolve an instant to a version that
    // was never current at that time.
    val c = if (c0.ts != 0L) c0 else {
      val now = System.currentTimeMillis()
      val prev =
        if (c0.version <= 1L) None
        else try Some(readCommit(root, c0.version - 1).ts)
        catch { case _: Exception => None } // prior record vacuumed
      c0.copy(ts = math.max(now, prev.map(_ + 1L).getOrElse(now)))
    }
    Files.createDirectories(logDir(root))
    val tmp = logDir(root).resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.write(tmp, mapper.writeValueAsBytes(c))
    try Files.createLink(commitPath(root, c.version), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"version ${c.version} was committed concurrently at $root")
    } finally Files.deleteIfExists(tmp)
  }

  /** Publish + maintain checkpoints: every K-th version also writes the
    * full materialized snapshot and advances the pointer. `prior` is the
    * snapshot the commit was built against (version - 1), which the caller
    * already holds — no re-read.
    */
  private[sources] def commitDelta(
      root: String, prior: Option[Manifest], c: Commit): Unit = {
    publish(root, c)
    if (c.version % CheckpointInterval == 0L) {
      writeCheckpoint(root, foldCommit(prior, c))
      advanceLastCheckpoint(root, c.version)
    }
  }

  /** THE write path every writer goes through: read the current version
    * and its manifest once, let `build` stage and validate against that
    * prior and return its commit (None = nothing to do: the current
    * version comes back, nothing is published), then publish it as
    * prior + 1. `retry` re-runs the whole read-build-publish under
    * [[withRetry]] when a concurrent writer takes the version first.
    * With a `marker` the commit is a multi-table prepare
    * ([[txnCommit]]): it carries the marker and skips checkpointing — a
    * checkpoint above an undecided fold would freeze the wrong answer.
    */
  private def commitOn(root: String, retry: Boolean = false,
      marker: Option[String] = None)(
      build: Option[Manifest] => Option[Commit]): Long = {
    def once(): Long = {
      val prior = priorOf(root)
      build(prior).fold(prior.fold(0L)(_.version)) { c =>
        marker match {
          case None => commitDelta(root, prior, c)
          case Some(m) => publish(root, c.copy(multiTxn = m))
        }
        c.version
      }
    }
    if (retry) withRetry()(once()) else once()
  }

  /** Current manifest of `root`, None for a table with no commits. */
  private def priorOf(root: String): Option[Manifest] =
    currentVersion(root).map(readManifest(root, _))

  /** A commit on `prior` (None: a new table's version 1): the next
    * version, inheriting the schema, partition spec and txn watermarks.
    * Writers name only the fields their op changes — every other field
    * is one the fold inherits from the prior manifest for that op.
    */
  private def nextCommit(prior: Option[Manifest], op: String): Commit =
    Commit(prior.fold(1L)(_.version + 1), op, prior.map(_.schemaJson).orNull,
      partitionBy = prior.fold(Seq.empty[String])(_.partitionByOrNil),
      txn = prior.fold(Map.empty[String, Long])(_.txnOrEmpty))

  // --------------------------------------------------------------------
  // Staging: immutable data files + zone-independent stats
  // --------------------------------------------------------------------

  /** Write `df`'s rows as a new immutable file set under `data/<uuid>/` and
    * return their root-relative paths. Nothing is visible until a commit
    * referencing them is published.
    *
    * With `partitionBy` set, rows are hash-repartitioned on the partition
    * columns and written `partitionBy` DUPLICATE columns (`__gp_<col>`), so
    * every data file keeps the full table schema yet is single-valued on
    * each partition column — min = max in its stats, making stats pruning
    * exact partition pruning with zero new read-path machinery. (Writing
    * `partitionBy` on the columns themselves would strip them from the data
    * files — the standard hive layout — and force partition-value recovery
    * from paths on every read.)
    */
  /** One partition-spec entry — identity ("col") or an Iceberg-style
    * HIDDEN transform (the published partition-transform set, ISO to
    * Iceberg §Partition Transforms): `days(ts)`/`months(ts)` time grains,
    * `bucket(N, col)` hash buckets, `truncate(W, col)` string prefixes.
    * Hidden means the QUERY never mentions the derived value: time-range
    * predicates prune through each file's tight source-column min/max
    * (one grain per file ⇒ tight bounds), and equality predicates prune
    * bucket/truncate layouts through [[transformPrune]] — the user
    * filters on `ts`/`id`, never on a partition column, which is exactly
    * the misuse Iceberg's design removes from Hive-style partitioning.
    */
  private[sources] final case class PartField(
      raw: String, fn: String, source: String, arg: Int) {
    /** Directory/copy key (physical-name based, stable across renames). */
    def key(p: String => String): String = fn match {
      case "identity" => p(source)
      case "bucket" | "truncate" | "ibucket" => s"${fn}_${arg}_${p(source)}"
      case _ => s"${fn}_${p(source)}"
    }
    /** Derived partition value over the PHYSICAL frame. Time grains are
      * zone-deterministic — a writer session's time zone must not move a
      * row's partition — and FLOOR to the grain boundary (Iceberg's
      * contract): for instants (TimestampType) the grain date comes from
      * exact floor division of epoch micros (plain `div` truncates toward
      * zero, which would fold the 48 hours around the epoch into "day 0"
      * and shift every pre-1970 boundary by one); for DateType and
      * TimestampNTZType the grain is the value's own calendar date — a
      * `CAST(… AS TIMESTAMP)` detour would route those wall-clock types
      * through the session time zone, letting two writer sessions place
      * the same value in different partitions.
      */
    def derive(p: String => String, dt: DataType): Column = {
      val c = col(p(source))
      // Calendar date of the grain: exact-floor UTC day for instants,
      // the value's own date field for wall-clock types.
      lazy val grainDate: Column = dt match {
        case DateType | TimestampNTZType => c.cast(DateType)
        case _ =>
          val m = s"unix_micros(`${p(source)}`)"
          expr(s"date_add(DATE'1970-01-01', " +
            s"CAST(($m - pmod($m, 86400000000)) div 86400000000 AS INT))")
      }
      fn match {
        case "identity" => c
        case "days" => grainDate.cast("string")
        case "months" => trunc(grainDate, "MM").cast("string")
        case "years" => trunc(grainDate, "YY").cast("string")
        case "bucket" => pmod(hash(c), lit(arg)).cast("string")
        // Iceberg's OWN bucket hash (spec murmur3_x86_32 encodings, not
        // Spark's seed-42 Murmur3) — a layout an Iceberg reader can
        // probe, so IcebergExport declares it as a real bucket[N] spec
        case "ibucket" =>
          org.apache.spark.sql.GraftBridge.column(
            graft.functions.IcebergBucket(arg,
              org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                .quoted(p(source)))).cast("string")
        case "truncate" => substring(c, 1, arg)
      }
    }
  }

  private val BucketRe = """bucket\(\s*(\d+)\s*,\s*([A-Za-z_][\w]*)\s*\)""".r
  private val IBucketRe =
    """iceberg_bucket\(\s*(\d+)\s*,\s*([A-Za-z_][\w]*)\s*\)""".r
  private val TruncRe = """truncate\(\s*(\d+)\s*,\s*([A-Za-z_][\w]*)\s*\)""".r
  private val GrainRe = """(days|months|years)\(\s*([A-Za-z_][\w]*)\s*\)""".r

  private[sources] def parsePartField(raw: String): PartField = raw.trim match {
    case BucketRe(n, c) => PartField(raw.trim, "bucket", c, n.toInt)
    case IBucketRe(n, c) => PartField(raw.trim, "ibucket", c, n.toInt)
    case TruncRe(w, c) => PartField(raw.trim, "truncate", c, w.toInt)
    case GrainRe(f, c) => PartField(raw.trim, f, c, 0)
    case c => PartField(c, "identity", c, 0)
  }

  /** Spec entries must name a schema column of a type the transform can
    * digest; bucket sizes/truncate widths must be positive.
    */
  private def validatePartitionSpec(schema: StructType, spec: Seq[String]): Unit =
    spec.map(parsePartField).foreach { f =>
      val fld = schema.fields.find(_.name == f.source).getOrElse(
        throw new IllegalArgumentException(
          s"no column '${f.source}' in the table schema (spec '${f.raw}')"))
      f.fn match {
        case "identity" => require(statTracked(fld.dataType),
          s"partition column '${f.source}' (${fld.dataType.simpleString}) " +
            "collects no stats — the layout would never prune")
        case "days" | "months" | "years" => require(fld.dataType match {
          case TimestampType | TimestampNTZType | DateType => true
          case _ => false
        }, s"${f.fn}() needs a timestamp/date column, got ${fld.dataType.simpleString}")
        case "bucket" => require(f.arg > 0 && (fld.dataType match {
          case StringType | LongType | IntegerType => true
          case _ => false
        }), s"bucket(N, c) needs N > 0 and a string/integral column")
        case "ibucket" => require(f.arg > 0 && (fld.dataType match {
          case StringType | LongType | IntegerType | DateType |
              TimestampType | TimestampNTZType | BinaryType |
              _: DecimalType => true
          case _ => false
        }), "iceberg_bucket(N, c) needs N > 0 and an " +
          "int/long/string/date/timestamp/binary/decimal column")
        case "truncate" => require(f.arg > 0 && fld.dataType == StringType,
          "truncate(W, c) needs W > 0 and a string column")
      }
    }

  /** Staged writes pin timestamps to INT64 TIMESTAMP_MICROS (set/restored
    * around the write): Spark's INT96 default writes footers with
    * DEPRECATED statistics, which would force every timestamp column onto
    * the sketch pass — and Delta/Iceberg mandate INT64 for the
    * same reason. Readers handle mixed INT96/INT64 files per-footer, so
    * pre-r8 table history needs no rewrite.
    */
  private def withMicrosTimestamps[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def stage(df: DataFrame, root: String,
      partCols: Seq[(String, Column)],
      preArranged: Boolean = false, maxRecordsPerFile: Long = 0L): Seq[String] = withMicrosTimestamps(df.sparkSession) {
    val sub = s"data/${UUID.randomUUID()}"
    def withCap[A](w: org.apache.spark.sql.DataFrameWriter[A]) =
      if (maxRecordsPerFile > 0L) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    if (partCols.isEmpty) withCap(df.write).parquet(s"$root/$sub")
    else {
      val copies = partCols.map { case (k, _) => s"__gp_$k" }
      val withCopies = partCols.foldLeft(df) {
        case (d, (k, e)) => d.withColumn(s"__gp_$k", e)
      }
      // preArranged: the caller already laid rows out (e.g. cluster()'s
      // z-range sort) — a hash repartition here would destroy that layout;
      // the partitionBy writer still splits each task's rows per value, so
      // the single-valued-file contract holds either way.
      val staged =
        if (preArranged) withCopies
        else withCopies.repartition(copies.map(col).toIndexedSeq: _*)
      withCap(staged.write).partitionBy(copies: _*).parquet(s"$root/$sub")
    }
    stagedLeaves(root, sub)
  }

  /** Root-relative paths of the parquet leaves a staging write left under
    * `root/sub`, sorted (markers like `_SUCCESS` and hidden files skipped).
    */
  private def stagedLeaves(root: String, sub: String): Seq[String] = {
    val rootPath = Paths.get(root)
    withWalk(Paths.get(root, sub))(_.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")
    }.map(p => rootPath.relativize(p).toString).toSeq.sorted)
  }

  /** `input_file_name()` reports URI-encoded paths; partition values land
    * in directory names (e.g. `__gp_etype=big sale/`), so the encoded form
    * (`big%20sale`) would never `endsWith` the literal on-disk relative
    * path. Decode before matching; a non-URI string passes through.
    */
  private def decodeFileName(abs: String): String =
    try new java.net.URI(abs).getPath
    catch { case _: Exception => abs }

  private def statTracked(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType |
        TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** Zone-independent string rendering of a stat value. TimestampType is an
    * instant: `CAST(ts AS STRING)` depends on `spark.sql.session.timeZone`,
    * so a reader session in another zone would mis-parse the bounds and
    * prune files that contain matching rows — render as unix micros
    * instead. Date, TimestampNTZ and the rest cast zone-independently.
    */
  private def statRender(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(c).cast("string")
    case _ => c.cast("string")
  }

  /** Inverse of [[statRender]]: typed value for pruning comparisons. */
  private def statParse(c: Column, dt: DataType): Column = dt match {
    case TimestampType => timestamp_micros(c.cast("long"))
    case _ => c.cast(dt)
  }

  /** What one open of one parquet file yields: the footer's row count,
    * byte size, rendered min/max and null counts for every footer-derivable
    * tracked column, exact sums of the requested integral columns (all in
    * `stat`), plus the set of columns whose footer stats exist-but-cannot-
    * be-trusted (they fall to [[sketchPass]]).
    */
  private final case class FileReadStats(stat: FileStat, underivable: Set[String])

  /** Footer min/max rendered EXACTLY as [[statRender]] renders the
    * aggregate path: timestamps as unix micros, everything else through
    * Spark's own Cast-to-string (evaluated here on the typed value — zero
    * replication risk against the historical rendering).
    */
  private def renderFooterValue(dt: DataType,
      prim: org.apache.parquet.schema.PrimitiveType, v: Any): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal => CatLit}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def cast(internal: Any): Option[String] =
      Option(Cast(CatLit(internal, dt), StringType, Some("UTC")).eval(null))
        .map(_.toString)
    dt match {
      case TimestampType => Some(v.asInstanceOf[Long].toString) // unix micros
      case StringType =>
        Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
      case BooleanType | ByteType | ShortType | IntegerType | LongType =>
        Some(String.valueOf(v)) // decimal digits ≡ Spark's integral cast
      case FloatType => cast(v.asInstanceOf[Float])
      case DoubleType => cast(v.asInstanceOf[Double])
      case DateType => cast(v.asInstanceOf[Int])
      case TimestampNTZType => cast(v.asInstanceOf[Long])
      case d: DecimalType =>
        val unscaled = prim.getPrimitiveTypeName match {
          case INT32 => java.math.BigInteger.valueOf(v.asInstanceOf[Int].toLong)
          case INT64 => java.math.BigInteger.valueOf(v.asInstanceOf[Long])
          case BINARY | FIXED_LEN_BYTE_ARRAY => new java.math.BigInteger(
            v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
          case _ => return None
        }
        cast(org.apache.spark.sql.types.Decimal(
          new java.math.BigDecimal(unscaled, d.scale), d.precision, d.scale))
      case _ => None
    }
  }

  /** Stats of ONE file from ONE open: footer stats for `tracked`, then
    * exact sums of `summed` off the same reader. Columns degrade to
    * `underivable` — never to wrong values — when the footer cannot carry
    * Spark's semantics: INT96-era timestamps (deprecated stats),
    * float/double chunks that saw a NaN (parquet-mr drops their min/max —
    * detectable as hasNonNullValue=false with non-null values present;
    * Spark orders NaN LARGEST, so NaN-blind bounds would mis-prune),
    * oversized binary stats (parquet omits them past ~4 KB), or unset null
    * counts. A column absent from the file's physical schema reads back as
    * all-null (schema evolution), which IS derivable: nulls = rows, no
    * bounds.
    */
  private def fileStatsOf(conf: org.apache.hadoop.conf.Configuration,
      abs: String, rel: String, tracked: Seq[StructField],
      summed: Seq[StructField]): FileReadStats = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(abs), conf)
    Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(in)) { r =>
      val md = r.getFooter
      val fileSchema = md.getFileMetaData.getSchema
      val blocks = md.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val mins = Map.newBuilder[String, String]
      val maxs = Map.newBuilder[String, String]
      val nulls = Map.newBuilder[String, Long]
      val under = Set.newBuilder[String]
      tracked.foreach { f =>
        if (!fileSchema.containsField(f.name)) {
          nulls += f.name -> rows // pre-evolution file: column reads as null
        } else {
          // match TOP-LEVEL paths only: a struct leaf a.b has the same
          // dot-string as a flat column literally named "a.b" — tracked
          // columns are top-level primitives, so require path length 1
          val chunks = blocks.map(_.getColumns.asScala
            .find(c => c.getPath.size == 1 &&
              c.getPath.toDotString == f.name).orNull)
          val stats = chunks.map(c => Option(c).map(_.getStatistics).orNull)
          val int96 = chunks.exists(c => c != null &&
            c.getPrimitiveType.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)
          // [[renderFooterValue]] reads INT64 timestamps as unix MICROS —
          // only what the footer's LogicalTypeAnnotation actually promises
          // can be trusted. Foreign writers (parquet-avro, Flink, pre-2.6
          // Spark) annotate TIMESTAMP(MILLIS)/NANOS; trusting those would
          // render bounds 1000× off and mis-prune files that DO contain
          // matching rows. refreshStats over imported snapshots is exactly
          // this foreign-file path, so: any unit other than MICROS (or a
          // missing/non-timestamp annotation, unit unknowable) degrades to
          // the sketch pass, same as INT96.
          val tsUnitBad = (f.dataType == TimestampType ||
              f.dataType == TimestampNTZType) &&
            chunks.exists { c =>
              c != null && c.getPrimitiveType.getPrimitiveTypeName !=
                org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96 && {
                import org.apache.parquet.schema.LogicalTypeAnnotation
                c.getPrimitiveType.getLogicalTypeAnnotation match {
                  case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                    t.getUnit != LogicalTypeAnnotation.TimeUnit.MICROS
                  case _ => true
                }
              }
            }
          if (chunks.contains(null) || stats.contains(null) || int96 ||
              tsUnitBad || stats.exists(s => !s.isNumNullsSet)) {
            under += f.name
          } else {
            val nullCount = stats.map(_.getNumNulls).sum
            val nonNull = chunks.map(_.getValueCount).sum - nullCount
            // a chunk holding non-null values MUST expose min/max, else the
            // writer dropped them (NaN / oversized) — fall to the data pass
            val dropped = chunks.zip(stats).exists { case (c, s) =>
              c.getValueCount - s.getNumNulls > 0 && !s.hasNonNullValue }
            if (dropped) under += f.name
            else {
              nulls += f.name -> nullCount
              if (nonNull > 0) {
                val withVals = stats.filter(_.hasNonNullValue)
                val merged = withVals.head.copy()
                withVals.tail.foreach(merged.mergeStatistics(_))
                val prim = chunks.head.getPrimitiveType
                (renderFooterValue(f.dataType, prim, merged.genericGetMin()),
                  renderFooterValue(f.dataType, prim, merged.genericGetMax())) match {
                  case (Some(lo), Some(hi)) =>
                    mins += f.name -> lo; maxs += f.name -> hi
                  case _ => under += f.name // unrepresentable physical type
                }
              }
            }
          }
        }
      }
      FileReadStats(
        FileStat(rel, rows, in.getLength, mins.result(), maxs.result(),
          nulls.result(), sums = columnSums(r, summed)),
        under.result())
    }
  }

  /** Exact integral sums of `cols` over the file `r` has open, read with
    * the parquet column reader (the parquet-cli dump iteration pattern:
    * no-op converters, definition-level null checks, getLong/getInteger per
    * value) over only those columns' chunks. Accumulates in long with an
    * overflow escape to BigInteger — value-equal to
    * `sum(CAST(col AS DECIMAL(38,0)))`. All-null and absent columns are
    * OMITTED, matching SQL `sum`'s null-on-empty contract.
    */
  private def columnSums(r: org.apache.parquet.hadoop.ParquetFileReader,
      cols: Seq[StructField]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val md = r.getFooter
    val schema = md.getFileMetaData.getSchema
    val wanted = cols.flatMap { f =>
      schema.getColumns.asScala.find(cd =>
        cd.getPath.length == 1 && cd.getPath()(0) == f.name)
        .map(f.name -> _)
    }
    if (wanted.isEmpty) return Map.empty
    val projection = new org.apache.parquet.schema.MessageType(schema.getName,
      wanted.map[org.apache.parquet.schema.Type] { case (name, _) =>
        schema.getType(schema.getFieldIndex(name)) }.asJava)
    r.setRequestedSchema(projection)
    val noopGroup: GroupConverter = new GroupConverter {
      override def getConverter(i: Int): Converter = new PrimitiveConverter {}
      override def start(): Unit = ()
      override def end(): Unit = ()
    }
    val acc = scala.collection.mutable.Map[String, java.math.BigInteger]()
    var pages = r.readNextRowGroup()
    while (pages != null) {
      val store = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
        pages, noopGroup, projection, md.getFileMetaData.getCreatedBy)
      wanted.foreach { case (name, cd) =>
        val cr = store.getColumnReader(cd)
        val maxDef = cd.getMaxDefinitionLevel
        val isLong = cd.getPrimitiveType.getPrimitiveTypeName ==
          PrimitiveTypeName.INT64
        // foreign files may annotate INT32 as UNSIGNED — widen the
        // raw bits instead of sign-extending (Spark's read semantics)
        val unsigned32 = !isLong &&
          (cd.getPrimitiveType.getLogicalTypeAnnotation match {
            case a: org.apache.parquet.schema.LogicalTypeAnnotation
                .IntLogicalTypeAnnotation => !a.isSigned
            case _ => false
          })
        val n = cr.getTotalValueCount
        var i = 0L
        var s = 0L
        var big: java.math.BigInteger = null
        var nonNull = false
        while (i < n) {
          if (cr.getCurrentDefinitionLevel == maxDef) {
            val v =
              if (isLong) cr.getLong
              else if (unsigned32) cr.getInteger.toLong & 0xFFFFFFFFL
              else cr.getInteger.toLong
            nonNull = true
            if (big == null) {
              val t = s + v
              if (((s ^ t) & (v ^ t)) < 0L) // i64 overflow: escape
                big = java.math.BigInteger.valueOf(s)
                  .add(java.math.BigInteger.valueOf(v))
              else s = t
            } else big = big.add(java.math.BigInteger.valueOf(v))
          }
          cr.consume()
          i += 1
        }
        if (nonNull) {
          val part =
            if (big == null) java.math.BigInteger.valueOf(s) else big
          acc(name) = acc.get(name).map(_.add(part)).getOrElse(part)
        }
      }
      pages = r.readNextRowGroup()
    }
    acc.iterator.map { case (k, v) => k -> v.toString }.toMap
  }

  /** [[fileStatsOf]] for every file — KB of footer I/O per file plus the
    * summed columns' chunks, never a re-read of every written byte.
    * Driver-parallel up to 192 files, a Spark job above (a 100 TB initial
    * load stages 10⁵ files; per-file reads must scale out like everything
    * else).
    */
  private def readFileStats(spark: SparkSession, root: String,
      files: Seq[String], tracked: Seq[StructField],
      summed: Seq[StructField]): Seq[FileReadStats] = {
    val conf = spark.sessionState.newHadoopConf()
    if (files.sizeIs <= 192) {
      import scala.jdk.CollectionConverters._
      java.util.List.copyOf(files.asJava).parallelStream()
        .map[FileReadStats](f =>
          fileStatsOf(conf, dataPath(root, f), f, tracked, summed))
        .collect(java.util.stream.Collectors.toList[FileReadStats])
        .asScala.toSeq
    } else {
      val ser = new org.apache.spark.util.SerializableConfiguration(conf)
      spark.sparkContext.parallelize(files, math.min(files.size, 256))
        .map(f => fileStatsOf(ser.value, dataPath(root, f), f, tracked, summed))
        .collect().toSeq
    }
  }

  /** Per-file statistics for a commit or a refresh, from two pieces:
    *   1. [[readFileStats]] — ONE open of each file yields the footer's
    *      rows, bytes, min/max and null counts (KB per file) plus the exact
    *      integral sums of `sumCols` (parquet stores no sums; the metadata-
    *      answered SUM feature keeps them default-on via `sums.columns`,
    *      settable to '' for pure-footer commits);
    *   2. [[sketchPass]] — one Spark job grouped by `input_file_name`,
    *      reading ONLY the columns it owes, and run only for what needs
    *      Spark's aggregates: bloom / NDV sketches when the table opts in,
    *      and columns whose footer stats are untrustworthy in some file
    *      (NaN-bearing float/double chunks, INT96-era or non-MICROS
    *      timestamps on imported files, >4 KB binary bounds) — Spark-
    *      semantics min/max (NaN largest) are recomputed exactly as before.
    * 0-row files never enter the result.
    */
  private def statsFor(
      spark: SparkSession,
      root: String,
      files: Seq[String],
      schema: StructType,
      sketches: Sketches = Sketches(None, None),
      sumCols: Seq[String] = Nil): Seq[FileStat] = {
    if (files.isEmpty) return Nil
    val tracked = schema.fields.filter(f => statTracked(f.dataType)).toSeq
    val summed = sumCols.distinct.flatMap(c =>
      tracked.find(f => f.name == c && integralType(f.dataType)))
    // 0-row files never enter the manifest (vacuum reclaims the orphans)
    val read = readFileStats(spark, root, files, tracked, summed)
      .filter(_.stat.rows > 0L)
    val under = tracked.filter(f => read.exists(_.underivable.contains(f.name)))
    sketchPass(spark, root, root, read.map(_.stat), schema, under, sketches,
      strict = true)
  }

  /** Bloom (`(columns, items, bits)`) and NDV (`(columns, lgK)`) sketches a
    * stats pass builds, physical column names.
    */
  private final case class Sketches(
      bloom: Option[(Seq[String], Long, Long)],
      ndv: Option[(Seq[String], Int)]) {
    def isEmpty: Boolean = bloom.isEmpty && ndv.isEmpty
  }

  /** The bloom/NDV sketches a write builds. Bloom indexing is a WRITE-TIME
    * choice, sticky per table via the `bloom.columns`/`bloom.bits`/
    * `bloom.items` TABLE properties (the reference point: Delta's
    * delta.bloomFilter column property) with the session conf as a
    * per-session override; NDV sketches follow the same discipline with
    * `ndv.columns`/`ndv.lgk`. Logical names in either, mapped to physical
    * names by `p`; columns of unsupported types are dropped. Imports pass
    * no properties (a foreign table has none yet).
    */
  private def sketchesFor(sess: SparkSession, schema: StructType,
      props: Map[String, String], p: String => String = identity): Sketches = {
    def opt(confKey: String, propKey: String): Option[String] =
      sess.conf.getOption(confKey).filter(_.nonEmpty)
        .orElse(props.get(propKey)).filter(_.nonEmpty)
    def cols(confKey: String, propKey: String, ok: DataType => Boolean) =
      opt(confKey, propKey).getOrElse("")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        .map(p)
        .filter(c => schema.fields.exists(f => f.name == c && ok(f.dataType)))
    val bloomCols = cols(BloomColumnsConf, "bloom.columns", bloomSupported)
    val ndvCols = cols(NdvColumnsConf, "ndv.columns", ndvSupported)
    Sketches(
      if (bloomCols.isEmpty) None
      else Some((bloomCols,
        opt(BloomItemsConf, "bloom.items").getOrElse(DefaultBloomItems.toString).toLong,
        opt(BloomBitsConf, "bloom.bits").getOrElse(DefaultBloomBits.toString).toLong)),
      if (ndvCols.isEmpty) None
      else Some((ndvCols,
        opt(NdvLgkConf, "ndv.lgk").getOrElse(DefaultNdvLgk.toString).toInt)))
  }

  /** The one Spark pass over data for statistics: one column-pruned job
    * grouped by `input_file_name`, computing Spark-semantics min/max/null
    * counts for the `under` columns and the bloom/NDV sketches, whose
    * sidecars land under `sidecarRoot` (`data/_bloom`/`data/_ndv`, where
    * vacuum's walk reclaims them). Files are read at `dataPath(root, …)`:
    * a native commit's staged files, or an import's foreign files by
    * reference (root ""). `strict` (native commits) fails loudly when a
    * file is missing from the pass; an import keeps such a file's footer
    * stats, unindexed. No-op when there is nothing to compute.
    */
  private def sketchPass(spark: SparkSession, root: String,
      sidecarRoot: String, stats: Seq[FileStat], schema: StructType,
      under: Seq[StructField], sketches: Sketches,
      strict: Boolean): Seq[FileStat] = {
    if (stats.isEmpty || (under.isEmpty && sketches.isEmpty)) return stats
    val bloomCols = sketches.bloom.toSeq.flatMap(_._1)
    val ndvCols = sketches.ndv.toSeq.flatMap(_._1)
    val passFields = (under ++ (bloomCols ++ ndvCols)
      .flatMap(c => schema.fields.find(_.name == c))).distinctBy(_.name)
    val df = spark.read.schema(StructType(passFields))
      .parquet(stats.map(s => dataPath(root, s.path)): _*)
    val aggs = under.flatMap { f =>
      Seq(
        statRender(min(col(f.name)), f.dataType).as(s"min__${f.name}"),
        statRender(max(col(f.name)), f.dataType).as(s"max__${f.name}"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"nulls__${f.name}"))
    } ++ sketches.bloom.toSeq.flatMap { case (cols, items, bits) =>
      // the engine's own BloomFilterAggregate over xxhash64 of the column
      // (BloomFilterMightContain's exact build contract)
      cols.map { c =>
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit, XxHash64}
        GraftBridge.column(
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(new XxHash64(Seq(UnresolvedAttribute(Seq(c)))),
              CatLit(items), CatLit(bits)).toAggregateExpression())
          .as(s"bloom__$c")
      }
    } ++ sketches.ndv.toSeq.flatMap { case (cols, lgk) =>
      // datasketches HLL, binary-mergeable
      cols.map(c => hll_sketch_agg(col(c), lit(lgk)).as(s"ndv__$c"))
    }
    val rows = df.groupBy(input_file_name().as("file__"))
      .agg(aggs.head, aggs.tail: _*).collect() // one row per file
    // exact path first; a suffix match (the longest) covers a root that
    // Spark reports in another spelling
    val byAbs = stats.map(s => dataPath(root, s.path) -> s.path).toMap
    val byRel: Map[String, org.apache.spark.sql.Row] = rows.toSeq.flatMap { r =>
      val abs = decodeFileName(r.getAs[String]("file__"))
      byAbs.get(abs)
        .orElse(stats.map(_.path).filter(abs.endsWith).maxByOption(_.length))
        .orElse(if (strict) sys.error(s"staged file $abs not in commit set") else None)
        .map(_ -> r)
    }.toMap
    def sidecar(r: org.apache.spark.sql.Row, cols: Seq[String], prefix: String,
        sub: String, ext: String, magic: Int): String = {
      val built = cols.flatMap(c =>
        Option(r.getAs[Array[Byte]](s"${prefix}__$c")).map(c -> _))
      if (built.isEmpty) null
      else writeSketchSidecar(sidecarRoot, sub, ext, magic, built)
    }
    stats.map { st =>
      byRel.get(st.path) match {
        case None if strict =>
          sys.error(s"staged file ${st.path} missing from residual stats pass")
        case None => st
        case Some(r) =>
          def s(prefix: String): Map[String, String] = under.flatMap { f =>
            Option(r.getAs[String](s"${prefix}__${f.name}")).map(f.name -> _)
          }.toMap
          st.copy(
            mins = st.minsOrEmpty ++ s("min"),
            maxs = st.maxsOrEmpty ++ s("max"),
            nullCounts = Option(st.nullCounts).getOrElse(Map.empty) ++
              under.map(f => f.name -> r.getAs[Long](s"nulls__${f.name}")).toMap,
            bloom = sidecar(r, bloomCols, "bloom", "_bloom", "gblm", BloomMagic),
            ndv = sidecar(r, ndvCols, "ndv", "_ndv", "gndv", NdvMagic))
      }
    }
  }

  private def integralType(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
        org.apache.spark.sql.types.ShortType |
        IntegerType | LongType => true
    case _ => false
  }

  private def bloomSupported(dt: DataType): Boolean = dt match {
    // build and probe must hash IDENTICALLY; these are the types whose
    // pushed literals arrive exactly as the column's type, so the probe's
    // XxHash64(Literal(v, dt)) is bit-equal to the build's XxHash64(col)
    case StringType | LongType | IntegerType => true
    case _ => false
  }

  private def ndvSupported(dt: DataType): Boolean = dt match {
    // the types Spark's HllSketchAgg accepts
    case StringType | LongType | IntegerType | BinaryType => true
    case _ => false
  }

  /** Sidecar layout (shared by the bloom and NDV indexes): magic, format
    * version, then (column, bytes) entries — bloom entries hold
    * `BloomFilterAggregate`'s serialized form, NDV entries an HLL sketch.
    * Sidecars live under `data/_bloom/` / `data/_ndv/` so [[vacuum]]'s
    * unreferenced-file walk reclaims them exactly like data files once no
    * retained snapshot references them.
    */
  private val BloomMagic = 0x47424C4D // "GBLM"
  private val NdvMagic = 0x474E4456 // "GNDV"

  private def writeSketchSidecar(root: String, sub: String, ext: String,
      magic: Int, entries: Seq[(String, Array[Byte])]): String = {
    val rel = s"data/$sub/${UUID.randomUUID().toString}.$ext"
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Using.resource(new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        Files.newOutputStream(p)))) { out =>
      out.writeInt(magic)
      out.writeInt(1)
      out.writeInt(entries.size)
      entries.foreach { case (c, b) =>
        out.writeUTF(c); out.writeInt(b.length); out.write(b)
      }
    }
    rel
  }

  /** Raw (column → sketch bytes) entries of one sidecar; unreadable or
    * wrong-magic files degrade to empty.
    */
  private def readSketchSidecar(path: String, magic: Int)
      : Map[String, Array[Byte]] =
    try {
      Using.resource(new java.io.DataInputStream(new java.io.BufferedInputStream(
          Files.newInputStream(Paths.get(path))))) { in =>
        if (in.readInt() != magic || in.readInt() != 1) Map.empty
        else (0 until in.readInt()).map { _ =>
          val c = in.readUTF()
          val b = new Array[Byte](in.readInt())
          in.readFully(b)
          c -> b
        }.toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Driver-side sidecar cache: sidecars are immutable (UUID-named,
    * write-once), so (absolute path → sketches) never invalidates; a
    * bounded LRU keeps repeated point lookups over the same table from
    * re-reading the same KB-scale blobs during every planning pass.
    * Bounded by BYTES (the serialized sketch sizes), not entry count — an
    * entry cap would thrash on tables with more indexed files than the
    * cap while a few huge sketches could still blow the driver heap.
    * Default 64 MiB (≈ 2k default-sized sidecars); `spark.graft.bloom.
    * cacheBytes` resizes it per deployment.
    */
  private[sources] val BloomCacheBytesConf = "spark.graft.bloom.cacheBytes"
  private val DefaultBloomCacheBytes = 64L * 1024 * 1024

  private final case class CachedSidecar(
      sketches: Map[String, org.apache.spark.util.sketch.BloomFilter],
      bytes: Long)

  private val bloomCache =
    new java.util.LinkedHashMap[String, CachedSidecar](64, 0.75f, true)
  private var bloomCacheBytes = 0L

  private def bloomCacheCap: Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption(BloomCacheBytesConf))
      .flatMap(_.toLongOption).getOrElse(DefaultBloomCacheBytes)

  /** Insert + evict-to-budget; caller holds the bloomCache lock. The
    * just-inserted entry is youngest in access order, so the eldest-first
    * eviction loop never removes it while anything else remains.
    */
  private def bloomCachePut(path: String, e: CachedSidecar): Unit = {
    val prev = bloomCache.put(path, e)
    bloomCacheBytes += e.bytes - Option(prev).map(_.bytes).getOrElse(0L)
    val cap = bloomCacheCap
    while (bloomCacheBytes > cap && bloomCache.size() > 1) {
      val it = bloomCache.entrySet().iterator()
      val eldest = it.next()
      bloomCacheBytes -= eldest.getValue.bytes
      it.remove()
    }
  }

  /** Batched cache-aware read: the paths missing from the cache load in
    * PARALLEL (driver-side I/O — at 10^4-file scale a cold sequential
    * sidecar walk adds seconds to every planning pass), then insert under
    * one lock. Returns sketches for every requested path.
    */
  private def readBloomSidecars(paths: Seq[String])
      : Map[String, Map[String, org.apache.spark.util.sketch.BloomFilter]] = {
    val distinct = paths.distinct
    if (distinct.isEmpty) return Map.empty
    val (hits, missing) = bloomCache.synchronized {
      val h = distinct.flatMap(p =>
        Option(bloomCache.get(p)).map(p -> _.sketches)).toMap
      (h, distinct.filterNot(h.contains))
    }
    if (missing.isEmpty) return hits
    val loaded: Seq[(String, CachedSidecar)] =
      if (missing.sizeIs == 1) missing.map(p => p -> readBloomSidecarUncached(p))
      else {
        import scala.jdk.CollectionConverters._
        java.util.List.copyOf(missing.asJava).parallelStream()
          .map[(String, CachedSidecar)](p => p -> readBloomSidecarUncached(p))
          .collect(java.util.stream.Collectors.toList[(String, CachedSidecar)])
          .asScala.toSeq
      }
    bloomCache.synchronized {
      loaded.foreach { case (p, e) => bloomCachePut(p, e) }
    }
    hits ++ loaded.map { case (p, e) => p -> e.sketches }
  }

  /** Per-column sketches of one sidecar; unreadable/corrupt sidecars
    * degrade to "no index" (never to wrong pruning).
    */
  private def readBloomSidecarUncached(path: String): CachedSidecar =
    try {
      var bytes = 0L
      val sk = readSketchSidecar(path, BloomMagic).map { case (c, b) =>
        bytes += b.length
        c -> org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(b))
      }
      CachedSidecar(sk, bytes)
    } catch {
      case scala.util.control.NonFatal(_) => CachedSidecar(Map.empty, 0L)
    }

  /** xxhash64 of a pushed literal AT the column's type — evaluated with
    * the same Catalyst expression the build side aggregated, so a probe
    * can never hash differently than the sketch was built. None (no
    * pruning) when the literal cannot be represented at the column type.
    */
  private def xxh64Of(v: Any, dt: DataType): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit, XxHash64}
    try Some(new XxHash64(Seq(CatLit.create(v, dt))).eval(null).asInstanceOf[Long])
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Stage + stats + (for partitioned tables) the partition tuple, read off
    * the stats themselves: staging guarantees min = max on every partition
    * column, so the minimum IS the file's partition value.
    */
  private def stageWithStats(
      df: DataFrame, root: String, partitionBy: Seq[String],
      preArranged: Boolean = false, maxRecordsPerFile: Long = 0L,
      colMap: Map[String, String] = Map.empty,
      props: Map[String, String] = Map.empty): Seq[FileStat] = {
    // Column mapping: files are written under PHYSICAL names (stable for
    // a column's whole life — rename changes only the logical name), so
    // stats keys and parquet columns stay consistent across every file
    // generation. Identity mapping = the historical behavior, unchanged.
    def p(n: String) = colMap.getOrElse(n, n)
    val physDf =
      if (colMap.isEmpty) df
      else df.select(df.schema.fieldNames.toIndexedSeq
        .map(n => col(n).as(p(n))): _*)
    val fields = partitionBy.map(parsePartField)
    val partCols = fields.map { f =>
      val dt = physDf.schema.fields.find(_.name == p(f.source))
        .map(_.dataType).getOrElse(StringType)
      f.key(p) -> f.derive(p, dt)
    }
    val files = stage(physDf, root, partCols, preArranged, maxRecordsPerFile)
    // Every write path — appends, streaming appendTxn, compact/OPTIMIZE/
    // DML rewrites — passes through here, so an indexed table stays
    // indexed for every writer without per-session setup.
    val sess = df.sparkSession
    val sketches = sketchesFor(sess, physDf.schema, props, p)
    // Exact integral sums (the metadata-answered SUM feature): parquet
    // footers carry no sums, so these are the one stat that still costs a
    // data read per commit (the summed columns' chunks, on the same open
    // that reads the footer). Default '*' = every integral
    // column, preserving the historical answering surface; a table that
    // wants pure-footer commits sets `sums.columns` to '' (sticky
    // property, session conf override — the bloom/ndv discipline).
    val sumsSpec = sess.conf.getOption(SumsColumnsConf)
      .orElse(props.get("sums.columns")).getOrElse("*")
    val sumCols: Seq[String] =
      if (sumsSpec.trim == "*")
        physDf.schema.fields.toSeq.filter(f => integralType(f.dataType)).map(_.name)
      else sumsSpec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(p)
        .filter(c => physDf.schema.fields.exists(f =>
          f.name == c && integralType(f.dataType)))
    // Partition tuple per file: identity entries read off the stats
    // (staging guarantees min = max, and statRender keeps the historical
    // zone-safe rendering); transform entries parse their derived value
    // back out of the file's own __gp_<key>=<value> path segments.
    val transformKeys = fields.filterNot(_.fn == "identity").map(_.key(p)).toSet
    statsFor(sess, root, files, physDf.schema, sketches, sumCols).map { st =>
      val idTuple = fields.filter(_.fn == "identity")
        .flatMap(f => st.minsOrEmpty.get(p(f.source)).map(p(f.source) -> _))
        .toMap
      val trTuple = partitionsFromPath(st.path)
        .filter { case (k, _) => transformKeys.contains(k) }
      st.copy(partitions = idTuple ++ trTuple)
    }
  }

  /** `__gp_<key>=<value>` segments of a staged file's relative path, with
    * the writer's %XX path escaping undone — how transform partition
    * values round-trip without being schema columns.
    */
  private[sources] def partitionsFromPath(rel: String): Map[String, String] =
    rel.split('/').toSeq
      .filter(s => s.startsWith("__gp_") && s.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        seg.substring(5, i) -> unescapePath(seg.substring(i + 1))
      }.toMap

  private def unescapePath(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
          try {
            sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Physical-name view of a manifest's logical schema. */
  private def physSchema(m: Manifest): StructType =
    StructType(schemaOf(m).fields.map(f => f.copy(name = m.physOf(f.name))))

  /** Rename a physical read back to logical names (plus pass-through tag
    * columns); identity mapping short-circuits.
    */
  private def toLogical(df: DataFrame, m: Manifest,
      extra: Seq[String] = Nil): DataFrame =
    if (m.colMapOrEmpty.isEmpty && extra.isEmpty) df
    else df.select((schemaOf(m).fields.toIndexedSeq.map(f =>
      col(m.physOf(f.name)).as(f.name)) ++ extra.map(col)): _*)

  /** Lossless type widening within a numeric family — the published
    * Delta ("type widening") / Iceberg ("schema evolution: promote")
    * behavior: byte → short → int → long and float → double. The manifest
    * records the WIDER type; Spark's parquet readers upcast narrower
    * physical files to it at scan time, so old files never rewrite.
    * Anything lossy (long → int, double → float, cross-family) is still
    * rejected.
    */
  private val intRank = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
  private def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if a == b => Some(a)
    case _ if intRank.contains(a) && intRank.contains(b) =>
      Some(intRank(math.max(intRank.indexOf(a), intRank.indexOf(b))))
    case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
    case _ => None
  }

  /** Additive schema union: every field of `old` plus fields only in `nw`
    * (appended, nullable). A field present in both may widen losslessly
    * (see [[widen]]); any other retyping is rejected.
    */
  private def unionSchema(old: StructType, nw: StructType): StructType = {
    val byName = nw.fields.map(f => f.name -> f).toMap
    val evolved = old.fields.map { o =>
      byName.get(o.name) match {
        case Some(f) =>
          val w = widen(o.dataType, f.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"schema evolution cannot retype ${o.name}: ${o.dataType} -> ${f.dataType}"))
          o.copy(dataType = w)
        case None => o
      }
    }
    val oldNames = old.fields.map(_.name).toSet
    StructType(evolved ++
      nw.fields.filterNot(f => oldNames.contains(f.name)).map(_.copy(nullable = true)))
  }

  /** Reject NEW logical columns whose name collides with a live PHYSICAL
    * name (another column's storage name after a rename) or a RETIRED one
    * (a dropped column's storage name): parquet files still carry those
    * physical columns with old data, so an identity-mapped newcomer would
    * silently read resurrected values.
    */
  /** `schema.mode = strict | additive` (default additive): strict pins the
    * write contract — an append's columns must be EXACTLY the table's
    * logical schema, same names and same types (no new columns, no omitted
    * columns, no widening). The schema-registry "backward compatibility
    * off" switch for tables whose downstream consumers codegen against a
    * fixed shape; additive keeps the engine's normal union-schema
    * evolution.
    */
  private[graft] val SchemaModeProp = "schema.mode"

  private def guardSchemaMode(prior: Option[Manifest],
      df: StructType): Unit =
    prior.foreach { m =>
      if (m.propsOrEmpty.get(SchemaModeProp).contains("strict")) {
        val t = schemaOf(m)
        require(df.fieldNames.sorted.sameElements(t.fieldNames.sorted),
          s"$SchemaModeProp=strict: append columns " +
            s"${df.fieldNames.sorted.mkString(",")} != table schema " +
            s"${t.fieldNames.sorted.mkString(",")}")
        t.fields.foreach { f =>
          require(df(f.name).dataType == f.dataType,
            s"$SchemaModeProp=strict: column ${f.name} arrives as " +
              s"${df(f.name).dataType.simpleString}, table has " +
              s"${f.dataType.simpleString}")
        }
      }
    }

  /** `generate.<col> = <sql expr>` (Delta generated columns): an append
    * missing `<col>` computes it from the expression; an append providing
    * it is VERIFIED against the expression (null-safe, first mismatch
    * aborts) — so the column is trustworthy for pruning and consumers no
    * matter which writer landed the row.
    */
  private[graft] val GeneratePrefix = "generate."

  private def applyGenerated(df: DataFrame,
      props: Map[String, String]): DataFrame = {
    val gens = props.toSeq.collect {
      case (k, v) if k.startsWith(GeneratePrefix) =>
        k.stripPrefix(GeneratePrefix) -> v
    }
    gens.foldLeft(df) { case (d, (c, e)) =>
      if (!d.columns.contains(c)) d.withColumn(c, expr(e))
      else {
        val bad = d.filter(!(col(c) <=> expr(e))).limit(1).collect()
        require(bad.isEmpty,
          s"append provides generated column '$c' with values that " +
            s"contradict its expression ($e) — commit aborted")
        d
      }
    }
  }

  private def guardNewColumns(m: Manifest, evolved: StructType): Unit = {
    val existing = schemaOf(m).fieldNames.toSet
    val taken = m.retiredOrNil.toSet ++
      m.colMapOrEmpty.values.toSet
    evolved.fieldNames.filterNot(existing).foreach(n => require(!taken(n),
      s"new column '$n' collides with a live or retired PHYSICAL column " +
        "name (a renamed/dropped column's storage name) — pick another name"))
  }

  /** The partition spec a new commit should carry: an explicit request must
    * match the table's existing spec (or be its first commit); no request
    * inherits the spec, so plain `append(df, root)` keeps a partitioned
    * table partitioned.
    */
  private def effectiveSpec(
      prior: Option[Manifest], requested: Seq[String]): Seq[String] = {
    val existing = prior.map(_.partitionByOrNil).getOrElse(Nil)
    if (requested.isEmpty) existing
    else {
      require(existing.isEmpty || existing == requested,
        s"table is partitioned by ${existing.mkString(",")}; cannot append with ${requested.mkString(",")}")
      requested
    }
  }

  /** One batch staged and validated against the table state at `base`:
    * what every append-shaped writer commits ([[append]], [[appendTxn]],
    * and the multi-table prepares of [[multiAppend]], [[multiAppendTxn]]
    * and [[multiDml]]'s insert-only tables).
    */
  private final case class PreparedAppend(root: String, df0: DataFrame,
      base: Option[Long], schema: StructType, spec: Seq[String],
      colMap: Map[String, String], props: Map[String, String],
      add: Seq[FileStat]) {
    def commit(prior: Option[Manifest], op: String): Commit =
      nextCommit(prior, op).copy(schemaJson = schema.json, add = add,
        partitionBy = spec)
  }

  /** The one append preparation: generated columns, `schema.mode`, the
    * union schema, the partition spec and the new-column guard, then
    * staging with stats and CHECK + relational enforcement over the
    * staged rows. `staged` is an earlier preparation of the same batch:
    * returned as is when `prior` is still its base, and its files are
    * reused when a concurrent commit changed nothing staging depends on
    * (spec, column mapping, properties) — validation re-runs either way,
    * because the rows it validated against moved.
    */
  private def prepareAppend(df0: DataFrame, root: String,
      prior: Option[Manifest], partitionBy: Seq[String] = Nil,
      staged: Option[PreparedAppend] = None): PreparedAppend =
    staged.filter(_.base == prior.map(_.version)).getOrElse {
      val props = prior.map(_.propsOrEmpty).getOrElse(Map.empty)
      val df = applyGenerated(df0, props)
      guardSchemaMode(prior, df.schema)
      val schema = prior.map(m => unionSchema(schemaOf(m), df.schema))
        .getOrElse(df.schema)
      val spec = effectiveSpec(prior, partitionBy)
      if (prior.isEmpty) validatePartitionSpec(schema, spec)
      prior.foreach(guardNewColumns(_, schema))
      val cm = prior.map(_.colMapOrEmpty).getOrElse(Map.empty)
      val add = staged
        .filter(s => s.spec == spec && s.colMap == cm && s.props == props)
        .fold(stageWithStats(df, root, spec, colMap = cm, props = props))(_.add)
      enforceConstraints(df.sparkSession, root, prior, add, schema)
      prior.filter(_ => add.nonEmpty).foreach(m =>
        enforceRelational(df.sparkSession, root, m.propsOrEmpty,
          stagedLogical(df.sparkSession, root, prior, add, schema),
          readFiles(df.sparkSession, root, m, m.files)))
      PreparedAppend(root, df0, prior.map(_.version), schema, spec, cm,
        props, add)
    }

  // --------------------------------------------------------------------
  // Transactions
  // --------------------------------------------------------------------

  /** Append `df` as one atomic commit; returns the new version. Additive
    * schema evolution: `df` may carry new columns (old files read them as
    * null) or omit existing ones (new files read them as null) — the
    * commit records the union schema, so every snapshot reads with one
    * consistent shape and time travel keeps each version's own schema.
    *
    * `partitionBy` (first commit, or matching the table's spec) stages one
    * single-valued file per partition value — see [[stage]] — making
    * stats pruning on those columns exact. The spec persists in the log:
    * later plain appends, [[merge]], [[delete]], [[compact]] and
    * [[cluster]] all preserve it.
    */
  def append(df0: DataFrame, root: String, partitionBy: Seq[String] = Nil): Long =
    appendOn(df0, root, partitionBy, txn = None)

  /** [[append]], and with `txn` = (appId, batchId) [[appendTxn]]: a batch
    * the appId's watermark already covers is a no-op, otherwise the commit
    * advances the watermark atomically with the data.
    */
  private def appendOn(df0: DataFrame, root: String, partitionBy: Seq[String],
      txn: Option[(String, Long)]): Long = {
    var props = Map.empty[String, String] // the table's, for auto-compaction
    val v = commitOn(root) { prior =>
      if (covered(prior, txn)) None
      else {
        val pa = prepareAppend(df0, root, prior, partitionBy)
        props = pa.props
        val c = pa.commit(prior, "append")
        Some(c.copy(txn = c.txn ++ txn))
      }
    }
    maybeAutoCompact(df0.sparkSession, root, props)
    v
  }

  /** Whether `txn` = (appId, batchId) is a replay: `prior`'s watermark for
    * the appId already covers the batch.
    */
  private def covered(prior: Option[Manifest],
      txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, b) =>
      b <= prior.flatMap(_.txnOrEmpty.get(app)).getOrElse(Long.MinValue)
    }

  /** Publish version 1 of a NEW table that REFERENCES externally-managed
    * data files by ABSOLUTE path — the interop import commit
    * ([[graft.sources.interop.DeltaImport]]): zero bytes move, the same
    * by-reference mechanism a SHALLOW CLONE's first commit uses (reads
    * resolve absolute references through [[dataPath]]; vacuum never
    * reclaims files outside the root). Files without min/max stats simply
    * never prune — conservative, correct.
    */
  def importSnapshot(root: String, schema: StructType,
      files: Seq[FileStat],
      colMap: Map[String, String] = Map.empty,
      dvs: Map[String, String] = Map.empty): Long = commitOn(root) { prior =>
    require(prior.isEmpty, s"table already exists at $root")
    require(files.forall(_.path.startsWith("/")),
      "import references must be absolute paths")
    require(dvs.keySet.subsetOf(files.map(_.path).toSet),
      "every deletion vector must address an imported file")
    Some(nextCommit(None, "import").copy(schemaJson = schema.json,
      add = files, colMap = colMap, dvs = dvs))
  }

  /** Write externally-sourced deletion-vector position marks as this
    * format's DV parquet files, returning the dvs map [[importSnapshot]]
    * expects. `marks` carries one row per dead position — (`file` STRING:
    * the data file's path exactly as the import references it, `pos`
    * BIGINT: parquet `_metadata.row_index`, the same addressing the
    * native DV writer records) — so readers apply imported DVs through
    * the identical [[dvLive]] filter. Fully DISTRIBUTED: positions stay
    * in the DataFrame end-to-end (duplicate marks dedupe in the shuffle, the
    * DV parquet lands through the native DV write, [[stageDV]]);
    * the driver holds only the DV'd FILE LIST — one row per file, never
    * a position set — so an import of billions of dead positions is a
    * normal Spark job, not a driver OOM.
    */
  def stageImportedDvs(spark: SparkSession, root: String,
      marks: DataFrame): Map[String, String] = {
    // the DV'd file list is metadata-sized (≤ one entry per imported
    // data file) — the ONLY thing collected here
    val files = marks.select(col("file").cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
    if (files.isEmpty) return Map.empty
    stageDV(marks
      .select(col("file").cast("string").as("__dv_rel"),
        col("pos").cast("long").as("__dv_pos"))
      .distinct(), // several delete files may mark the same row
      root, files)
  }

  /** Footer-derived per-file statistics for EXTERNALLY-managed parquet an
    * import references (r9): KB of footer I/O per file — scaled out as a
    * Spark job past 192 files, like every footer pass — and ZERO data
    * reads, so a by-reference import lights up min/max skipping
    * immediately instead of waiting for an ANALYZE scan. Columns whose
    * footers cannot carry Spark's semantics (INT96 or non-MICROS
    * timestamps, NaN-dropped fp bounds, >4 KB binary bounds — the foreign
    * files this path exists for) simply carry NO bounds here (they never
    * mis-prune, and [[refreshStats]]/ANALYZE later pays the scan that
    * derives them exactly); there are deliberately no sums and no
    * untrusted-column pass at import time. Row counts and byte sizes come
    * from the footer, exact. With `sidecarRoot`, a session that opts in
    * via `spark.graft.bloom.columns` / `ndv.columns` (the write-path confs —
    * an import has no table properties yet) gets the same bloom/NDV
    * sketches a native commit builds, from [[sketchPass]] over the named
    * columns of the referenced files; the sidecars land under the TARGET
    * root while the foreign data files stay untouched. No opt-in →
    * pure-metadata import.
    */
  def importFooterStats(spark: SparkSession, schema: StructType,
      files: Seq[String], sidecarRoot: Option[String] = None): Seq[FileStat] = {
    val tracked = schema.fields.filter(f => statTracked(f.dataType)).toSeq
    val base = readFileStats(spark, "", files, tracked, summed = Nil)
      .map(_.stat)
      // the native-commit invariant — 0-row files never enter the
      // manifest (statsFor filters them) — holds for imports too: a
      // foreign snapshot referencing an empty parquet contributes
      // nothing but manifest noise
      .filter(_.rows > 0L)
    sidecarRoot match {
      case Some(root) => sketchPass(spark, "", root, base, schema, under = Nil,
        sketchesFor(spark, schema, props = Map.empty), strict = false)
      case None => base
    }
  }

  /** Recompute per-file min/max/null/sum statistics for files that lack
    * them (`onlyMissing = true`, the default) or for every live file —
    * ONE metadata commit re-adds the same paths with fresh stats, no data
    * rewritten. The companion of [[importSnapshot]]: an imported
    * Delta/Iceberg snapshot arrives stats-less (its files never prune);
    * one refresh pass — a key-column scan, the cost `ANALYZE TABLE` pays
    * anywhere — lights up min/max skipping over the referenced files in
    * place. Partition tuples, bloom/NDV sidecar references, and deletion
    * vectors carry through unchanged (the file bytes didn't move, so the
    * sidecars stay valid; stats deliberately cover ALL rows including
    * DV-dead ones — the pruning contract is over file contents).
    */
  def refreshStats(spark: SparkSession, root: String,
      onlyMissing: Boolean = true): Long = commitOn(root) { prior =>
    val m = prior.getOrElse(
      throw new IllegalStateException(s"no commits at $root"))
    val targets = m.statsOrNil.filter(s =>
      !onlyMissing || (s.mins.isEmpty && s.maxs.isEmpty))
    if (targets.isEmpty) None
    else {
      val byPath = targets.map(s => s.path -> s).toMap
      // refreshStats IS the ANALYZE pass: always recompute exact sums for
      // every integral column (imported files may predate the sums log,
      // and the caller explicitly asked to pay a scan)
      val phys = physSchema(m)
      val fresh = statsFor(spark, root, targets.map(_.path), phys,
          sumCols = phys.fields.toSeq.filter(f => integralType(f.dataType))
            .map(_.name))
        .map { f =>
          val old = byPath(f.path)
          f.copy(partitions = old.partitionsOrEmpty,
            bloom = old.bloom, ndv = old.ndv)
        }
      val dvCarry = m.dvsOrEmpty.filter { case (p, _) => byPath.contains(p) }
      Some(nextCommit(prior, "refresh-stats").copy(add = fresh,
        remove = targets.map(_.path), dvs = dvCarry))
    }
  }

  /** Create an EMPTY table: version 1 records the schema and partition
    * spec with no files — the DDL-first workflow a catalog needs
    * (`CREATE TABLE` then `INSERT`), vs the write-creates-table path of
    * [[append]]. Fails if the table already has commits.
    */
  def create(root: String, schema: StructType,
      partitionBy: Seq[String] = Nil,
      props: Map[String, String] = Map.empty): Long = commitOn(root) { prior =>
    require(prior.isEmpty, s"table already exists at $root")
    validatePartitionSpec(schema, partitionBy)
    validateProps(props)
    Some(nextCommit(None, "create").copy(schemaJson = schema.json,
      partitionBy = partitionBy, props = props))
  }

  /** Engine-read properties must parse AND be buildable where they are
    * SET, not explode inside some later writer's stageWithStats far from
    * the operator who mistyped them. Spark's BloomFilterAggregate rejects
    * sizes above `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` /
    * `maxNumItems` at analysis time, so an over-cap property would let the
    * SET succeed and then fail every subsequent write — exactly the
    * distant failure this validation exists to prevent.
    */
  private def validateProps(props: Map[String, String]): Unit = {
    def cap(confKey: String, dflt: Long): Long =
      org.apache.spark.sql.SparkSession.getActiveSession
        .flatMap(_.conf.getOption(confKey)).flatMap(_.toLongOption)
        .getOrElse(dflt)
    val caps = Map(
      "bloom.bits" -> ("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        cap("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 67108864L)),
      "bloom.items" -> ("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
        cap("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 4000000L)))
    Seq("bloom.bits", "bloom.items").foreach { k =>
      props.get(k).foreach { v =>
        require(v.toLongOption.exists(_ > 0),
          s"table property $k must be a positive integer, got '$v'")
        val (confKey, mx) = caps(k)
        require(v.toLong <= mx,
          s"table property $k = $v exceeds Spark's BloomFilterAggregate " +
            s"cap $mx ($confKey) — writes to the table would fail at " +
            "staging time")
      }
    }
    props.get("ndv.lgk").foreach { v =>
      // datasketches HLL bounds (HllSketchAgg rejects outside [4, 21])
      require(v.toIntOption.exists(n => n >= 4 && n <= 21),
        s"table property ndv.lgk must be an integer in [4, 21], got '$v'")
    }
    props.get("cluster.by").foreach { v =>
      // declared clustering policy: "<zorder|hilbert>:<c1>[,c2...]" — a
      // bare `OPTIMIZE t` then clusters instead of bin-packing (the
      // liquid-clustering UX). Validated at SET time, same rationale as
      // the bloom caps: a typo'd curve must fail at the ALTER, not at the
      // next maintenance window.
      val parts = v.split(":", 2)
      require(parts.length == 2 &&
        (parts(0) == "zorder" || parts(0) == "hilbert") &&
        parts(1).split(",").map(_.trim).count(_.nonEmpty) >= 1 &&
        parts(1).split(",").map(_.trim).count(_.nonEmpty) <= 4,
        s"table property cluster.by must be '<zorder|hilbert>:<c1>[,c2..c4]', " +
          s"got '$v'")
    }
    props.get(PkProp).foreach { v =>
      require(v.trim.nonEmpty && !v.contains(','),
        s"table property $PkProp must name exactly one column, got '$v'")
    }
    props.keys.filter(_.startsWith(FkPropPrefix)).foreach { k =>
      require(k.length > FkPropPrefix.length,
        s"foreign-key property '$k' names no column")
      val v = props(k)
      require(FkRefRe.pattern.matcher(v).matches(),
        s"table property $k must be '<dimRoot>::<pkColumn>', got '$v'")
    }
    props.foreach { case (k, v) =>
      if (k.startsWith(Masking.Prefix)) {
        require(k.length > Masking.Prefix.length,
          s"masking property '$k' names no column")
        require(Masking.validPolicy(v),
          s"table property $k: unknown masking policy '$v' (want hash64, " +
            "last4, bucket:<N>, or redact)")
      }
    }
    props.get(AutoCompactFilesProp).foreach { v =>
      require(v.toIntOption.exists(_ > 0),
        s"table property $AutoCompactFilesProp must be a positive " +
          s"integer, got '$v'")
    }
    props.get(SchemaModeProp).foreach { v =>
      require(v == "strict" || v == "additive",
        s"table property $SchemaModeProp must be 'strict' or 'additive', " +
          s"got '$v'")
    }
    props.keys.filter(_.startsWith(GeneratePrefix)).foreach { k =>
      require(k.length > GeneratePrefix.length,
        s"generated-column property '$k' names no column")
    }
    props.get(AutoCompactTargetProp).foreach { v =>
      require(v.toLongOption.exists(_ > 0),
        s"table property $AutoCompactTargetProp must be a positive byte " +
          s"count, got '$v'")
    }
  }

  // --------------------------------------------------------------------
  // Auto-compaction policy
  // --------------------------------------------------------------------

  /** `autocompact.files = N` (+ optional `autocompact.target` bytes,
    * default 128 MiB): after an append commits, if the snapshot holds
    * more than N live files under HALF the target size, [[optimize]]
    * runs immediately as a follow-up commit — the Delta auto-compaction
    * idea, bound to the table instead of a writer conf so EVERY writer
    * (batch appends, streaming appendTxn sinks) honors it. The streaming
    * small-file spiral is the single most common operational failure of a
    * log-structured table at scale: a 30-second trigger writing KB-scale
    * micro-batches mints ~3k files/day per table, and scan planning cost
    * grows with the file count. The policy caps that growth at N files of
    * debt; optimize's convergence contract (outputs land at or above
    * target/2) guarantees a compaction's own outputs are never
    * re-selected, so the follow-up commit cannot cascade.
    */
  private[graft] val AutoCompactFilesProp = "autocompact.files"
  private[graft] val AutoCompactTargetProp = "autocompact.target"

  private def maybeAutoCompact(spark: SparkSession, root: String,
      props: Map[String, String]): Unit =
    props.get(AutoCompactFilesProp).flatMap(_.toIntOption).foreach { n =>
      val target = props.get(AutoCompactTargetProp).flatMap(_.toLongOption)
        .getOrElse(128L * 1024 * 1024)
      val m = readManifest(root, currentVersion(root).get)
      val small = m.statsOrNil.count(_.bytes < target / 2)
      if (small > n) { optimize(spark, root, target); () }
    }

  // --------------------------------------------------------------------
  // Declared relational (RELY) constraints: primary / foreign keys
  // --------------------------------------------------------------------

  /** `constraint.pk = <col>`: the column is unique and non-null across the
    * table. `constraint.fk.<col> = <dimRoot>::<pkCol>`: every value of
    * `<col>` is non-null and present in the referenced table's declared
    * primary key. Both are VALIDATED against the full table when declared
    * (ADD CONSTRAINT semantics) and re-checked for the new rows on every
    * append; [[graft.plans.JoinElimination]] then trusts them the way
    * Snowflake's optimizer trusts RELY constraints — eliminating fact⋈dim
    * joins whose dimension side is provably redundant.
    */
  private[graft] val PkProp = "constraint.pk"
  private[graft] val FkPropPrefix = "constraint.fk."
  private val FkRefRe = "(?s)(.+)::([^:]+)".r

  private def declaredFks(props: Map[String, String]): Seq[(String, String, String)] =
    props.toSeq.collect {
      case (k, FkRefRe(dimRoot, pkCol)) if k.startsWith(FkPropPrefix) =>
        (k.stripPrefix(FkPropPrefix), dimRoot, pkCol)
    }

  /** Full-table validation of newly DECLARED pk/fk constraints — runs once
    * at declaration (the cost of `ALTER TABLE ADD CONSTRAINT`), scanning
    * only the key columns involved.
    */
  private def validateDeclaredConstraints(spark: SparkSession, root: String,
      set: Map[String, String]): Unit = {
    set.get(PkProp).foreach { pk =>
      val c = pk.trim
      val bad = read(spark, root).groupBy(col(c))
        .agg(count(lit(1)).as("n"))
        .filter(col(c).isNull || col("n") > 1)
        .limit(1).collect()
      require(bad.isEmpty,
        s"cannot declare $PkProp = $c on $root: column has " +
          "duplicate or null values")
    }
    declaredFks(set).foreach { case (fkCol, dimRoot, pkCol) =>
      require(tablePropertiesOf(dimRoot).get(PkProp).contains(pkCol),
        s"cannot declare foreign key $fkCol -> $dimRoot::$pkCol: the " +
          s"referenced table does not declare $PkProp = $pkCol")
      val nulls = read(spark, root).filter(col(fkCol).isNull).limit(1).collect()
      require(nulls.isEmpty,
        s"cannot declare foreign key on $fkCol: column has null values")
      val orphan = read(spark, root).select(col(fkCol)).distinct()
        .join(read(spark, dimRoot).select(col(pkCol)),
          col(fkCol) === col(pkCol), "left_anti")
        .limit(1).collect()
      require(orphan.isEmpty,
        s"cannot declare foreign key $fkCol -> $dimRoot::$pkCol: " +
          s"value ${orphan.headOption.map(_.get(0))} has no parent row")
    }
  }

  /** Re-check of declared pk/fk constraints over the rows a write INSERTS
    * (`batch`): no duplicate or null key within it, none of its keys among
    * `live` (the keys the commit leaves live beside the batch), and a
    * parent row for every foreign key. UPDATE and MERGE images are not
    * re-checked (a merge keyed on the pk keeps it unique through its own
    * duplicate-source check); they drop RELY trust through `modifyV`
    * instead. Cost is one key-column pass over the batch plus one key-only
    * probe of `live` / the referenced dimension per constraint.
    */
  private def enforceRelational(spark: SparkSession, root: String,
      props: Map[String, String], batch: => DataFrame,
      live: => DataFrame): Unit = {
    val fks = declaredFks(props)
    if (props.get(PkProp).isEmpty && fks.isEmpty) return
    val staged = batch
    props.get(PkProp).foreach { pk =>
      val c = pk.trim
      val dup = staged.groupBy(col(c)).agg(count(lit(1)).as("n"))
        .filter(col(c).isNull || col("n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"append violates $PkProp = $c on $root: batch has duplicate " +
          "or null key values — commit aborted")
      val clash = staged.select(col(c))
        .join(live.select(col(c)), Seq(c), "left_semi").limit(1).collect()
      require(clash.isEmpty,
        s"append violates $PkProp = $c on $root: batch re-inserts key " +
          s"${clash.headOption.map(_.get(0))} — commit aborted")
    }
    fks.foreach { case (fkCol, dimRoot, pkCol) =>
      val orphan = staged.select(col(fkCol))
        .filter(col(fkCol).isNull).limit(1).collect()
      require(orphan.isEmpty,
        s"append violates foreign key $fkCol -> $dimRoot::$pkCol: null " +
          "key in batch — commit aborted")
      val missing = staged.select(col(fkCol)).distinct()
        .join(read(spark, dimRoot).select(col(pkCol)),
          col(fkCol) === col(pkCol), "left_anti")
        .limit(1).collect()
      require(missing.isEmpty,
        s"append violates foreign key $fkCol -> $dimRoot::$pkCol: value " +
          s"${missing.headOption.map(_.get(0))} has no parent row — " +
          "commit aborted")
    }
  }

  /** The staged files of a pending commit read back with LOGICAL column
    * names (column-mapped tables stage under physical names).
    */
  private def stagedLogical(spark: SparkSession, root: String,
      prior: Option[Manifest], add: Seq[FileStat],
      schema: StructType): DataFrame = {
    val cmap = prior.map(_.colMapOrEmpty).getOrElse(Map.empty)
    val physS = StructType(schema.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))
    val raw = readFiles(spark, root, physS, add.map(_.path))
    if (cmap.isEmpty) raw
    else raw.select(schema.fieldNames.toIndexedSeq.map(n =>
      col(cmap.getOrElse(n, n)).as(n)): _*)
  }

  /** Current table-property map (empty for pre-props logs). */
  def tablePropertiesOf(root: String): Map[String, String] =
    priorOf(root).map(_.propsOrEmpty).getOrElse(Map.empty)

  /** What RELY join elimination needs in ONE manifest read: the current
    * properties (constraints + their validation stamps) and the two
    * mutation watermarks. See [[Manifest.mutationV]].
    */
  final case class ConstraintTrust(props: Map[String, String],
      mutationV: Long, modifyV: Long)

  def constraintTrustOf(root: String): ConstraintTrust =
    priorOf(root).map(m =>
      ConstraintTrust(m.propsOrEmpty, m.mutationVOrZero, m.modifyVOrZero))
      .getOrElse(ConstraintTrust(Map.empty, 0L, 0L))

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES`: one metadata commit carrying
    * the full post-change map (prior ++ set -- unset). Properties steer
    * WRITE-time behavior (e.g. `bloom.columns` — see [[BloomColumnsConf]],
    * whose session conf overrides the table property when both are set),
    * so they stick to the table across sessions and writers instead of
    * living in one session's conf.
    */
  /** RELY validation stamps (`constraint.pk.v`, `constraint.fk.<c>.v`,
    * `constraint.fk.<c>.dimv`) are written ONLY by the validating
    * declaration path below — a caller writing one directly would forge a
    * stale constraint's freshness and re-enable join elimination that no
    * longer holds. (A bare `constraint.fk.v` is an FK ON a column named
    * "v", not a stamp — the stamp shape requires a column before the
    * suffix.)
    */
  private def isTrustStamp(k: String): Boolean =
    k == s"$PkProp.v" || (k.startsWith(FkPropPrefix) && {
      val rest = k.stripPrefix(FkPropPrefix)
      rest.endsWith(".v") || rest.endsWith(".dimv")
    })

  def setTableProperties(root: String, set: Map[String, String],
      unset: Seq[String] = Nil): Long = commitOn(root, retry = true) { prior =>
    val m = prior.getOrElse(
      throw new IllegalArgumentException(s"no CommitLog table at $root"))
    val base = m.version
    (set.keys ++ unset).find(isTrustStamp).foreach(k =>
      throw new IllegalArgumentException(
        s"table property $k is a RELY validation stamp — it is written " +
          "only by the constraint-declaration path (which validates the " +
          "data it stamps); setting or unsetting it directly would forge " +
          "constraint freshness"))
    validateProps(set)
    // ADD CONSTRAINT semantics for newly declared relational constraints:
    // the declaration commit lands only if the CURRENT data satisfies it.
    // Validation stamps (the RELY trust boundary, see Manifest.mutationV):
    // a passing declaration records the versions it validated — this
    // table's next version, and for each FK the referenced dimension's
    // CURRENT version. Join elimination trusts a constraint exactly while
    // no row-mutating commit has landed past its stamp on either side;
    // after a dim delete/update/merge the stamp goes stale and elimination
    // declines until the constraint is re-declared (re-validating).
    var stamped = set
    if (set.contains(PkProp) || set.keys.exists(_.startsWith(FkPropPrefix))) {
      val spark = SparkSession.getActiveSession.getOrElse(
        throw new IllegalStateException(
          "declaring pk/fk constraints requires an active SparkSession " +
            "(the declaration validates the existing data)"))
      validateDeclaredConstraints(spark, root, set)
      if (set.contains(PkProp))
        stamped += s"$PkProp.v" -> (base + 1).toString
      declaredFks(set).foreach { case (fkCol, dimRoot, _) =>
        stamped += s"$FkPropPrefix$fkCol.v" -> (base + 1).toString
        currentVersion(dimRoot).foreach(dv =>
          stamped += s"$FkPropPrefix$fkCol.dimv" -> dv.toString)
      }
    }
    // a row-security filter must at least ANALYZE against the table's
    // schema at SET time — a typo'd column would otherwise surface only
    // when some consumer first opens the governed view
    set.get(Masking.RowFilterProp).foreach { f =>
      SparkSession.getActiveSession.foreach { spark =>
        try read(spark, root).filter(expr(f).cast("boolean"))
          .queryExecution.analyzed
        catch {
          case scala.util.control.NonFatal(e) =>
            throw new IllegalArgumentException(
              s"table property ${Masking.RowFilterProp} = '$f' does not " +
                s"analyze against the table schema: ${e.getMessage}")
        }
      }
    }
    // generated-column expressions likewise analyze at SET time (over the
    // OTHER columns — a generated column may not reference itself)
    set.foreach { case (k, e) =>
      if (k.startsWith(GeneratePrefix)) {
        val c = k.stripPrefix(GeneratePrefix)
        SparkSession.getActiveSession.foreach { spark =>
          try read(spark, root).drop(c).select(expr(e))
            .queryExecution.analyzed
          catch {
            case scala.util.control.NonFatal(ex) =>
              throw new IllegalArgumentException(
                s"table property $k = '$e' does not analyze against the " +
                  s"table schema (excluding '$c' itself): ${ex.getMessage}")
          }
        }
      }
    }
    // dropping a constraint drops its stamps with it — a lingering stamp
    // without its constraint is dead weight at best
    val unsetAll = unset.flatMap {
      case PkProp => Seq(PkProp, s"$PkProp.v")
      case k if k.startsWith(FkPropPrefix) =>
        Seq(k, s"$k.v", s"$k.dimv")
      case k => Seq(k)
    }
    Some(nextCommit(prior, "set-props").copy(
      props = m.propsOrEmpty ++ stamped -- unsetAll))
  }

  /** Metadata-only schema evolution: commit the union of the current
    * schema and `newSchema` (added columns append as nullable; shared
    * columns may widen losslessly; anything else rejects — exactly the
    * rule every append applies, made available to `ALTER TABLE ADD
    * COLUMNS` without writing data). Old files read the added columns as
    * null; time travel keeps each version's own schema.
    */
  def evolveSchema(root: String, newSchema: StructType): Long =
    commitOn(root, retry = true) { prior =>
      val m = prior.getOrElse(
        throw new IllegalArgumentException(s"no CommitLog table at $root"))
      val evolved = unionSchema(schemaOf(m), newSchema)
      guardNewColumns(m, evolved)
      Some(nextCommit(prior, "evolve-schema").copy(schemaJson = evolved.json))
    }

  /** RENAME COLUMN without rewriting a byte (the published Delta
    * column-mapping concept): the files keep the column's PHYSICAL name —
    * fixed at the column's creation for its whole life — and the manifest
    * records logical → physical, applied at every read/write boundary
    * (scans select physical AS logical; staging renames back; stats stay
    * keyed physical, so pruning works identically across file
    * generations). One metadata commit at any table size; time travel
    * keeps each version's own names. Constraints are SQL text over
    * logical names, so a rename of a constrained column is rejected —
    * drop the constraint, rename, re-add.
    */
  def renameColumn(root: String, from: String, to: String): Long =
    commitOn(root, retry = true) { prior =>
      val m = prior.getOrElse(
        throw new IllegalArgumentException(s"no CommitLog table at $root"))
      val schema = schemaOf(m)
      require(schema.fieldNames.contains(from), s"no column '$from'")
      require(!schema.fieldNames.contains(to), s"column '$to' already exists")
      require(from != to, "rename to the same name")
      val mentions = "(?i).*\\b" + java.util.regex.Pattern.quote(from) + "\\b.*"
      require(!m.constraintsOrEmpty.values.exists(_.matches(mentions)),
        s"a CHECK constraint references '$from' — drop it, rename, re-add")
      // no retired/physical-collision guard here: a rename records an
      // EXPLICIT mapping entry, so even a target name equal to another
      // column's storage name resolves unambiguously (unlike appends,
      // where new columns are identity-mapped)
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val newMap = (m.colMapOrEmpty - from) + (to -> m.physOf(from))
      // the spec follows the rename for identity AND transform entries —
      // a stale "bucket(8, old_name)" would brick every later append
      // (derive() resolves the source by name) and bypass dropColumn's
      // spec guard
      val newSpec = m.partitionByOrNil.map { raw =>
        val f = parsePartField(raw)
        if (f.source != from) raw
        else f.fn match {
          case "identity" => to
          case "bucket" | "truncate" => s"${f.fn}(${f.arg}, $to)"
          case "ibucket" => s"iceberg_bucket(${f.arg}, $to)"
          case grain => s"$grain($to)"
        }
      }
      Some(nextCommit(prior, "rename-column").copy(
        schemaJson = newSchema.json, partitionBy = newSpec,
        colMap = newMap.filterNot { case (l, p) => l == p },
        retired = m.retiredOrNil))
    }

  /** DROP COLUMN without rewriting a byte: the logical column disappears
    * from the schema and mapping; its physical data stays in the files,
    * unread (any later rewrite of a file sheds it), and its physical name
    * is RETIRED — re-adding a column under a retired storage name is
    * rejected so old values can never resurrect. Rejected while the
    * column is a partition column or referenced by a CHECK constraint.
    */
  def dropColumn(root: String, name: String): Long =
    commitOn(root, retry = true) { prior =>
      val m = prior.getOrElse(
        throw new IllegalArgumentException(s"no CommitLog table at $root"))
      val schema = schemaOf(m)
      require(schema.fieldNames.contains(name), s"no column '$name'")
      require(schema.fields.length > 1, "cannot drop the last column")
      require(!m.partitionByOrNil.map(parsePartField).exists(_.source == name),
        s"'$name' is referenced by the partition spec — evolve the spec first")
      val mentions = "(?i).*\\b" + java.util.regex.Pattern.quote(name) + "\\b.*"
      require(!m.constraintsOrEmpty.values.exists(_.matches(mentions)),
        s"a CHECK constraint references '$name' — drop the constraint first")
      val newSchema = StructType(schema.fields.filterNot(_.name == name))
      Some(nextCommit(prior, "drop-column").copy(
        schemaJson = newSchema.json, colMap = m.colMapOrEmpty - name,
        retired = (m.retiredOrNil :+ m.physOf(name)).distinct))
    }

  /** Register a CHECK constraint (Delta's `ALTER TABLE ADD CONSTRAINT`
    * semantics): `check` is any boolean SQL expression over the table's
    * columns; a row violates it only when it evaluates to exactly FALSE
    * (NULL passes — SQL CHECK semantics). Existing rows are validated
    * first — one scan — and the registration is a metadata-only commit,
    * enforced by every subsequent [[append]]/[[appendTxn]]/[[overwrite]]/
    * [[merge]]/[[update]] against the rows they stage (compact/cluster
    * rewrite already-validated rows and skip the check). Known race,
    * shared with the published Delta behavior: a write concurrent with
    * the registration scan can land violating rows in the same window.
    */
  def addConstraint(spark: SparkSession, root: String,
      name: String, check: String): Long = commitOn(root, retry = true) { prior =>
    val m = prior.getOrElse(
      throw new IllegalStateException(s"no CommitLog table at $root"))
    require(!m.constraintsOrEmpty.contains(name),
      s"constraint '$name' already exists at $root")
    val bad = read(spark, root)
      .filter(coalesce(expr(check).cast("boolean"), lit(true)) === false)
    require(bad.isEmpty,
      s"existing rows violate CHECK '$name' ($check) — constraint not added")
    Some(nextCommit(prior, "add-constraint").copy(
      constraints = m.constraintsOrEmpty + (name -> check)))
  }

  /** Metadata-only removal of a CHECK constraint. */
  def dropConstraint(root: String, name: String): Long =
    commitOn(root, retry = true) { prior =>
      val m = prior.getOrElse(
        throw new IllegalStateException(s"no CommitLog table at $root"))
      require(m.constraintsOrEmpty.contains(name),
        s"no constraint '$name' at $root")
      Some(nextCommit(prior, "drop-constraint").copy(
        constraints = m.constraintsOrEmpty - name))
    }

  /** The CHECK set enforced on writes at the current version. */
  def constraintsOf(root: String): Map[String, String] =
    priorOf(root).map(_.constraintsOrEmpty).getOrElse(Map.empty)

  /** Validate freshly-staged files against the table's CHECK set before
    * their commit publishes — one columnar pass over the staged bytes
    * (the same read-back discipline as stats collection), never a
    * recompute of the writer's input plan. On violation the commit is
    * never published; the staged files are invisible orphans that
    * [[vacuum]] reclaims past its retention window.
    */
  private def enforceConstraints(spark: SparkSession, root: String,
      prior: Option[Manifest], add: Seq[FileStat], schema: StructType): Unit = {
    val cs = prior.map(_.constraintsOrEmpty).getOrElse(Map.empty)
    if (cs.isEmpty || add.isEmpty) return
    // staged files carry PHYSICAL names; constraint exprs use logical ones
    val staged = stagedLogical(spark, root, prior, add, schema)
    // Genuinely ONE columnar pass regardless of how many constraints are
    // registered: all violation predicates are OR'd into a single filter,
    // and the surviving row's CASE chain names the first failing
    // constraint. limit(1) stops the scan at the first violation.
    val ordered = cs.toSeq.sortBy(_._1)
    val violated = ordered.map { case (_, check) =>
      coalesce(expr(check).cast("boolean"), lit(true)) === false
    }
    val firstBad = ordered.zip(violated)
      .map { case ((name, _), v) => when(v, lit(name)) }
      .reduce(coalesce(_, _))
    val hit = staged.filter(violated.reduce(_ || _))
      .select(firstBad.as("name")).limit(1).collect()
    hit.headOption.foreach { r =>
      val name = r.getString(0)
      throw new IllegalStateException(
        s"CHECK constraint '$name' (${cs(name)}) violated by write to $root — " +
          "commit aborted, no version published")
    }
  }

  /** Idempotent transactional append for streaming sinks: the log
    * records, per writer id, the last batch it committed; a replayed batch
    * (same `appId`, `batchId` ≤ recorded) is a no-op. This is the published
    * Delta `txnAppId`/`txnVersion` idempotence protocol — combined with
    * Structured Streaming's `foreachBatch` (which replays a batch after a
    * failure with the SAME batchId) it yields exactly-once table commits on
    * top of at-least-once batch delivery. See [[streamingSink]].
    */
  def appendTxn(df0: DataFrame, root: String, appId: String, batchId: Long): Long =
    appendOn(df0, root, Nil, txn = Some(appId -> batchId))

  /** `foreachBatch` body writing a stream into a CommitLog table with
    * exactly-once semantics: `df.writeStream.foreachBatch(
    * CommitLog.streamingSink(root, "my-app")).start()`.
    */
  def streamingSink(root: String, appId: String): (DataFrame, Long) => Unit =
    (batch, batchId) => { appendTxn(batch, root, appId, batchId); () }

  // --------------------------------------------------------------------
  // Multi-table transactions (atomic cross-table visibility)
  // --------------------------------------------------------------------

  /** How long a resolver waits on an UNDECIDED marker before force-
    * aborting it. The prepare→marker window is metadata-only (a few JSON
    * writes), so the default comfortably covers a healthy coordinator;
    * a marker still undecided past the grace belongs to a crashed one.
    */
  private[sources] val TxnGraceConf = "spark.graft.txn.graceMs"
  private val DefaultTxnGraceMs = 2000L

  private final case class TxnMarker(state: String)

  /** Decided marker states are immutable — cache them so historical folds
    * never re-read the marker file (one entry per transaction ever seen).
    */
  private val txnStateCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def readMarkerState(marker: Path): Option[String] =
    if (!Files.exists(marker)) None
    else
      try Some(mapper.readValue(Files.readAllBytes(marker),
        classOf[TxnMarker]).state)
      catch { case _: Exception => None } // racing link; caller re-checks

  /** Create-if-absent decision write; returns the FINAL state (ours, or
    * the racing winner's — hard-link creation picks exactly one).
    */
  private[sources] def decideMarker(marker: Path, state: String): String = {
    Files.createDirectories(marker.getParent)
    val tmp = Files.createTempFile(marker.getParent, ".txn", ".tmp")
    Files.write(tmp, mapper.writeValueAsBytes(TxnMarker(state)))
    try { Files.createLink(marker, tmp); state }
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        readMarkerState(marker).getOrElse(state)
    } finally Files.deleteIfExists(tmp)
  }

  /** Test seam: stage a frame's files without committing (what a crashed
    * coordinator leaves behind between prepare and marker).
    */
  private[sources] def stageForTest(df: DataFrame, root: String): Seq[FileStat] =
    stageWithStats(df, root, Nil)

  /** Resolve a prepare's coordinator marker, FORCING a decision when it is
    * undecided: wait out the grace window (in-flight coordinators publish
    * their marker within milliseconds of the last prepare), then abort it
    * — Percolator's lazy cleanup of crashed transactions, which is what
    * makes fold outcomes deterministic (no "maybe later" state survives a
    * resolution) and checkpoints safe to take above a decided chain.
    */
  private def txnCommitted(markerPath: String, commitTs: Long): Boolean = {
    val cached = txnStateCache.get(markerPath)
    if (cached != null) return cached == "committed"
    val marker = Paths.get(markerPath)
    var st = readMarkerState(marker)
    if (st.isEmpty) {
      val grace = org.apache.spark.sql.SparkSession.getActiveSession
        .flatMap(_.conf.getOption(TxnGraceConf)).flatMap(_.toLongOption)
        .getOrElse(DefaultTxnGraceMs)
      val deadline = math.min(commitTs + grace,
        System.currentTimeMillis() + grace)
      while (st.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(25)
        st = readMarkerState(marker)
      }
      if (st.isEmpty) st = Some(decideMarker(marker, "aborted"))
    }
    txnStateCache.put(markerPath, st.get)
    st.get == "committed"
  }

  /** The multi-table transaction protocol's one coordinator (two-phase,
    * decided lazily à la Percolator, OSDI'10), shared by [[multiAppend]],
    * [[multiAppendTxn]], [[multiDml]] and [[forgetKeys]]: mint a fresh
    * marker under `coord`, run `body` — all data work, then one prepare
    * per table published under the marker through [[commitOn]] — and
    * decide everything with ONE create-if-absent marker write. Atomicity
    * is exactly the atomicity of that single hard-link creation, the same
    * primitive every single-table commit already trusts. A failing body
    * aborts its own marker first, so already-published prepares fold as
    * no-ops at once instead of after the grace window; a concurrent
    * resolver that aborted the marker before us surfaces as
    * [[TxnAbortedException]] (`what` names the transaction in it).
    */
  private def txnCommit[A](coord: String, what: String)(body: String => A): A = {
    Files.createDirectories(Paths.get(coord))
    val markerPath = Paths.get(coord)
      .resolve(s"txn-${UUID.randomUUID()}.json").toAbsolutePath.toString
    def decide(state: String): String = {
      val st = decideMarker(Paths.get(markerPath), state)
      txnStateCache.put(markerPath, st)
      st
    }
    val out =
      try body(markerPath)
      catch {
        case scala.util.control.NonFatal(e) => decide("aborted"); throw e
      }
    if (decide("committed") != "committed")
      throw new TxnAbortedException(
        s"$what $markerPath was force-aborted by a concurrent resolver " +
          "during prepare; no table shows any effect")
    out
  }

  /** Publish a batch prepared by [[prepareAppend]] as a "txn-append"
    * prepare under `marker` — pure metadata while the table is unmoved
    * since the preparation, re-prepared against the new head otherwise.
    * With `txn` = (appId, batchId) the prepare also advances the appId's
    * watermark; a head whose watermark already covers the batch means a
    * racing identical transaction won this table ([[TxnReplay]]).
    */
  private def publishPrepared(pa: PreparedAppend, marker: String,
      txn: Option[(String, Long)] = None): Long =
    commitOn(pa.root, retry = true, marker = Some(marker)) { prior =>
      if (covered(prior, txn)) throw new TxnReplay
      val c = prepareAppend(pa.df0, pa.root, prior, staged = Some(pa))
        .commit(prior, "txn-append")
      Some(c.copy(txn = c.txn ++ txn))
    }

  /** Atomic multi-table append: every batch lands in its table, and ALL of
    * them become visible at one instant — the creation of a single
    * coordinator marker file ([[txnCommit]]) — or none ever do:
    *
    *  0. STAGE, per table: ALL data work happens before any prepare is
    *     visible — the one append preparation every append takes
    *     ([[prepareAppend]]: generated columns, `schema.mode`, union
    *     schema, file writes, stats, CHECK + relational enforcement). The
    *     first published prepare starts every reader's force-abort grace
    *     clock, so the prepare→marker window must stay metadata-only.
    *  1. PREPARE, per table in order: publish a "txn-append" commit
    *     carrying the marker path (`multiTxn`) — a KB-scale write; a
    *     table a concurrent commit moved is re-prepared against its new
    *     head, reusing the staged files unless the partition spec, column
    *     mapping or properties changed. The prepare occupies a version
    *     but has NO effect until the marker decides — readers fold it as a
    *     no-op (and force-abort it if it outlives the grace window
    *     undecided, so a crashed coordinator cannot wedge its tables).
    *     Prepares skip checkpointing: a checkpoint above an undecided fold
    *     would freeze the wrong answer (snapshot resolution then folds
    *     from the next checkpoint down — see [[readManifest]]).
    *  2. COMMIT: one create-if-absent marker write. If a concurrent
    *     resolver aborted us first, the link loses, no table shows
    *     anything, and [[TxnAbortedException]] reports it.
    *
    * Why a table format needs this: derived-table PAIRS (an inverted
    * index's postings + sizes, an IVF index's centroids + members, a cube
    * + its rollup) are only correct TOGETHER — two independent appends
    * leave a window where a reader joins new postings against old sizes.
    * At 100 TB the prepare phase streams data at full cluster width;
    * the commit point stays one KB-scale metadata write.
    *
    * Returns table root → prepared version. Appends only by design: the
    * cross-table txn composes with each table's own OCC (each prepare
    * retries independently; rewriting ops would need cross-table conflict
    * analysis that appends don't).
    */
  def multiAppend(batches: Seq[(DataFrame, String)],
      coord: String): Map[String, Long] = {
    require(batches.nonEmpty, "multiAppend needs at least one batch")
    val roots = batches.map(_._2)
    require(roots.distinct.size == roots.size,
      "one batch per table root (combine duplicates with union first)")
    txnCommit(coord, "multi-table transaction") { marker =>
      // phase 0 before any prepare is visible (ADVICE r7: staging minutes
      // between prepare and marker let any concurrent reader force-abort
      // a healthy transaction), then the prepares back-to-back
      batches.map { case (df, root) => prepareAppend(df, root, priorOf(root)) }
        .map(pa => pa.root -> publishPrepared(pa, marker)).toMap
    }
  }

  // --------------------------------------------------------------------
  // Multi-table transactions carrying row-level DML (pg-wire blocks)
  // --------------------------------------------------------------------

  /** One statement's effect inside a transaction block, in statement
    * order. INSERTs carry their statement-time-evaluated rows; DELETE and
    * UPDATE carry the predicate/assignments as unresolved [[Column]]s —
    * deterministic against the block's PINNED snapshot, so deferring
    * their evaluation to COMMIT preserves statement-time semantics.
    */
  sealed trait TxnOp
  final case class TxnIns(df: DataFrame) extends TxnOp
  final case class TxnDel(cond: Column) extends TxnOp
  final case class TxnUpd(set: Seq[(String, Column)], cond: Column)
    extends TxnOp

  /** One staged `MERGE INTO` inside a transaction block (r13 verdict
    * #3): the SOURCE frame is evaluated at statement time (localCheck-
    * pointed by the stager — pg's contract; a moving source at COMMIT
    * would be a different merge), carrying the table-schema columns
    * plus `deleteFlag` (the WHEN MATCHED DELETE condition, pre-computed
    * against the full source row). The clause fields are [[mergeRows]]'
    * parameters, and [[applyTxnOps]] folds both: `replaceMatched` = a
    * WHEN MATCHED UPDATE SET * clause exists, `insertUnmatched` = WHEN
    * NOT MATCHED INSERT *, `bySource` = the one WHEN NOT MATCHED BY SOURCE
    * clause (target-row expressions only — evaluated at fold time, so the
    * stager must guard them deterministic).
    */
  final case class TxnMerge(source: DataFrame, keys: Seq[String],
      deleteFlag: Option[String], insertUnmatched: Boolean,
      replaceMatched: Boolean, bySource: Option[BySourceClause])
    extends TxnOp

  /** The block is stale: a concurrent commit moved a table between the
    * snapshot its DML was computed against and COMMIT. pg SQLSTATE 40001
    * (serialization_failure) — the client retries the transaction.
    */
  final class TxnSerializationException(msg: String)
    extends RuntimeException(msg)

  /** A column by its exact name (backquoted, so dots and spaces stay
    * part of the name). */
  private def quoted(n: String): Column = col(s"`${n.replace("`", "``")}`")

  /** THE definition of row-level DML: a statement list's ordered ops
    * folded over a base frame. Every UPDATE, DELETE and MERGE writer —
    * autocommit or a transaction block — folds here through [[stageDml]],
    * and the pg-wire shadow views (read-your-writes at every point in a
    * block) fold the same ops over the pinned snapshot.
    *  - INSERT unions its rows in;
    *  - DELETE drops the rows its condition holds on (NULL is false);
    *  - UPDATE applies its assignments, cast to the declared types, to the
    *    rows its condition holds on;
    *  - MERGE: a row whose key a source row holds is replaced by that row
    *    (`replaceMatched`; dropped instead when the source row's
    *    `deleteFlag` is set) or kept unchanged (no WHEN MATCHED clause); a
    *    source row matching no key inserts (`insertUnmatched`; a set flag
    *    does not stop it); a row no source key matches passes through
    *    `bySource`, which drops it or applies its assignments where its
    *    condition holds.
    * Columns outside `schema` ride along; those in `extra` (a deletion-
    * vector write's position tags) are null on every row an op rewrites or
    * brings in, so the old position dies and the new image stages.
    */
  def applyTxnOps(base: DataFrame, schema: StructType, ops: Seq[TxnOp],
      extra: Seq[String] = Nil): DataFrame = {
    def rewrite(df: DataFrame, hit: Column,
        assign: Map[String, Column]): DataFrame =
      df.select(schema.fields.toIndexedSeq.map { f =>
        assign.get(f.name) match {
          case Some(v) =>
            when(hit, v.cast(f.dataType)).otherwise(quoted(f.name)).as(f.name)
          case None => quoted(f.name)
        }
      } ++ df.columns.toIndexedSeq.filterNot(schema.fieldNames.contains).map(e =>
        if (!extra.contains(e)) quoted(e)
        else when(hit, lit(null).cast(df.schema(e).dataType))
          .otherwise(quoted(e)).as(e)): _*)
    ops.foldLeft(base) {
      case (df, TxnIns(b)) => df.unionByName(b, allowMissingColumns = true)
      case (df, TxnDel(c)) => df.filter(!coalesce(c, lit(false)))
      case (df, TxnUpd(set, c)) => rewrite(df, coalesce(c, lit(false)), set.toMap)
      case (df, tm: TxnMerge) =>
        // "Matched" is decided against THIS df: the whole folded table in
        // shadow mode, the touched files' rows in [[stageDml]] — sound
        // because its touch probe semi-joins the source keys (a source key
        // present anywhere makes its file touched). Semi and anti joins
        // never repeat a row, so neither key set needs de-duplicating.
        val keyCols = tm.keys.map(quoted).toIndexedSeq
        val srcKeys = tm.source.select(keyCols: _*)
        val stateKeys = df.select(keyCols: _*)
        val keep =
          if (!tm.replaceMatched) {
            if (tm.insertUnmatched)
              tm.source.join(stateKeys, tm.keys, "left_anti")
            else tm.source.limit(0)
          } else {
            val k0 = tm.deleteFlag match {
              case None => tm.source
              case Some(fl) =>
                tm.source.join(stateKeys, tm.keys, "left_semi")
                  .filter(!coalesce(quoted(fl), lit(false)))
                  .unionByName(tm.source.join(stateKeys, tm.keys, "left_anti"))
            }
            if (tm.insertUnmatched) k0
            else k0.join(stateKeys, tm.keys, "left_semi")
          }
        val unmatched = df.join(srcKeys, tm.keys, "left_anti")
        val unmatchedKept = tm.bySource match {
          case None => unmatched
          case Some(bs) =>
            val c = coalesce(bs.cond.getOrElse(lit(true)), lit(false))
            if (bs.delete) unmatched.filter(!c)
            else rewrite(unmatched, c, bs.set.toMap)
        }
        val matchedKept =
          if (tm.replaceMatched) df.limit(0)
          else df.join(srcKeys, tm.keys, "left_semi")
        // source-born rows carry no base position: their tags are null
        unmatchedKept.unionByName(matchedKept).unionByName(
          keep.select(schema.fields.toIndexedSeq.map(f =>
            quoted(f.name).cast(f.dataType).as(f.name)): _*),
          allowMissingColumns = true)
    }
  }

  /** Marks the rows an INSERT op brought into a fold — the rows pk/fk
    * checks cover — riding through [[applyTxnOps]] beside the data.
    */
  private val TagIns = "_graft_ins"

  /** THE row-level DML engine: the commit `ops` make against snapshot `m`
    * as op `op`, or None when they change nothing. Every UPDATE, DELETE and
    * MERGE writer stages here, in three steps:
    *  1. touch probe: one scan of the live rows marks the files an op
    *     reaches — a DELETE/UPDATE by its condition on each row's ORIGINAL
    *     image (a row only matches a later op after an earlier op reached
    *     it, and that op's mark already claims its file), a MERGE by the
    *     source-key semi-join plus the unmatched rows its by-source clause
    *     reaches — with a per-file hit count from the same job;
    *  2. fold: [[applyTxnOps]] over the live rows of the touched files;
    *  3. write, copy-on-write (`dv = false`): stage every folded row and
    *     remove the touched files; or deletion vectors (`dv = true`): stage
    *     the rows the fold brought in (inserts, rewritten images), drop the
    *     files none of whose rows survive, and write a DV holding each
    *     other touched file's base positions that no survivor holds.
    * Untouched files carry by reference. CHECK constraints run over the
    * staged rows unless every op is a DELETE; pk/fk checks cover only the
    * rows the ops INSERT, against the keys the commit leaves live (the
    * untouched files plus the fold's other rows).
    */
  private def stageDml(spark: SparkSession, root: String, m: Manifest,
      ops: Seq[TxnOp], op: String, dv: Boolean): Option[Commit] = {
    val schema = schemaOf(m)
    val props = m.propsOrEmpty
    val merges = ops.collect { case tm: TxnMerge => tm }
    val hit = balancedOr(ops.collect {
      case TxnDel(c) => coalesce(c, lit(false))
      case TxnUpd(_, c) => coalesce(c, lit(false))
    }).getOrElse(lit(false))
    // 1. touch probe
    val scan = readTaggedLive(spark, root, m, m.files)
    val marks = scan.filter(hit) +: merges.flatMap { tm =>
      val srcKeys = tm.source.select(tm.keys.map(quoted).toIndexedSeq: _*)
      scan.join(srcKeys, tm.keys, "left_semi") +: tm.bySource.toSeq.map(bs =>
        scan.filter(coalesce(bs.cond.getOrElse(lit(true)), lit(false)))
          .join(srcKeys, tm.keys, "left_anti"))
    }
    val hitsAbs = marks.map(_.select(TagFile)).reduceLeft(_ unionByName _)
      .groupBy(TagFile).agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact-path equality (TagFile is the canonical absolute path, byte-
    // equal to absPath) — endsWith could mis-map a relative path that is
    // a suffix of a different file's absolute path
    val hits = m.files.flatMap(f => hitsAbs.get(absPath(root, f)).map(f -> _)).toMap
    val touched = m.files.filter(hits.contains)
    if (touched.isEmpty && !ops.exists {
        case _: TxnIns => true
        case tm: TxnMerge => tm.insertUnmatched
        case _ => false
      }) return None
    // 2. fold
    val relational = props.contains(PkProp) || declaredFks(props).nonEmpty
    val state = applyTxnOps(
      if (dv) readTaggedLive(spark, root, m, touched)
      else readFiles(spark, root, m, touched),
      schema,
      if (!relational) ops else ops.map {
        case TxnIns(df) => TxnIns(df.withColumn(TagIns, lit(true)))
        case o => o
      },
      extra = if (dv) Seq(TagFile, TagPos) else Nil)
    def rows(df: DataFrame): DataFrame = df.select(schema.fields.toIndexedSeq
      .map(f => quoted(f.name).cast(f.dataType).as(f.name)): _*)
    // an empty staged file adds nothing: left out of the commit, an
    // orphan for vacuum like any unpublished staging
    def stageRows(df: DataFrame): Seq[FileStat] =
      stageWithStats(rows(df), root, m.partitionByOrNil,
        colMap = m.colMapOrEmpty, props = props).filter(_.rows > 0)
    // a MERGE decides its matches inside the fold, so a DV write counts
    // survivors over the folded state, cached for its three readers
    val cached = dv && merges.nonEmpty
    if (cached) state.persist()
    try {
      // 3. write
      val (add, remove, dvs) =
        if (!dv) (stageRows(state), touched, Map.empty[String, String])
        else {
          val rowsOf = m.statsOrNil.map(s => s.path -> s.rows).toMap
          // survivors per touched file, the base positions no survivor
          // holds, and whether the fold brought any row in
          val (survivorsOf, dead, anyNew) =
            if (!cached) {
              // without a MERGE the fold reaches exactly the base rows
              // `hit` holds on: survivors are the live rows it misses,
              // counted from the probe and the prior DVs' footers
              val conf = spark.sessionState.newHadoopConf()
              (touched.map(f => f -> (rowsOf(f) - hits(f) -
                m.dvsOrEmpty.get(f).fold(0L)(dvCardinality(conf, root, _)))).toMap,
                (files: Seq[String]) => readTagged(spark, root, m, files)
                  .filter(if (m.dvsOrEmpty.isEmpty) hit else hit || !live(root, m)),
                ops.exists(!_.isInstanceOf[TxnDel]))
            } else {
              val grouped = state.groupBy(col(TagFile))
                .agg(count(lit(1))).collect()
              val byAbs = grouped.filterNot(_.isNullAt(0))
                .map(r => r.getString(0) -> r.getLong(1)).toMap
              val survivors = state.where(col(TagFile).isNotNull)
                .select(col(TagFile), col(TagPos))
              (touched.flatMap(f => byAbs.get(absPath(root, f)).map(f -> _)).toMap,
                // (file, pos) is unique on both sides: a left-anti join
                (files: Seq[String]) => readTagged(spark, root, m, files)
                  .select(col(TagFile), col(TagPos))
                  .join(survivors, Seq(TagFile, TagPos), "left_anti"),
                grouped.exists(_.isNullAt(0)))
            }
          val (fullGone, partial0) =
            touched.partition(f => survivorsOf.getOrElse(f, 0L) == 0L)
          // a touched file whose fold killed nothing keeps its DV
          val partial = partial0.filter(f => rowsOf(f) > survivorsOf(f))
          val absToRel = touched.map(f => (absPath(root, f), f))
          // the DV and new-row stagings are independent writes: run them
          // concurrently so the second's tasks back-fill the first's tail
          val dvFut = scala.concurrent.Future {
            if (partial.isEmpty) Map.empty[String, String]
            else stageDV(dead(partial)
              .join(broadcast(spark.createDataFrame(absToRel)
                .toDF(TagFile, "__dv_rel")), TagFile)
              .select(col("__dv_rel"), col(TagPos).as("__dv_pos")),
              root, partial)
          }(scala.concurrent.ExecutionContext.global)
          val add =
            if (anyNew) stageRows(state.where(col(TagFile).isNull)) else Nil
          (add, fullGone, scala.concurrent.Await.result(dvFut,
            scala.concurrent.duration.Duration.Inf))
        }
      if (add.nonEmpty && !ops.forall(_.isInstanceOf[TxnDel]))
        enforceConstraints(spark, root, Some(m), add, schema)
      if (relational && ops.exists(_.isInstanceOf[TxnIns]))
        enforceRelational(spark, root, props,
          rows(state.where(col(TagIns).isNotNull)),
          rows(state.where(col(TagIns).isNull)).unionByName(
            readFiles(spark, root, m, m.files.filterNot(hits.contains))))
      if (add.isEmpty && remove.isEmpty && dvs.isEmpty) None
      else Some(nextCommit(Some(m), op).copy(add = add, remove = remove,
        dvs = dvs))
    } finally if (cached) state.unpersist()
  }

  /** Dead positions deletion vector `dv` holds: its parquet row count. */
  private def dvCardinality(conf: org.apache.hadoop.conf.Configuration,
      root: String, dv: String): Long =
    Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataPath(root, dv)), conf)))(
      _.getRecordCount)

  /** A fully-staged single-table DML payload, awaiting its phase-1
    * publish: everything here was data work; the publish is one KB-scale
    * commit record.
    */
  private final case class PreparedDml(root: String, base: Long,
      commit: Option[Commit])

  /** Atomic multi-table commit of a transaction block that may carry
    * row-level DELETE/UPDATE/MERGE alongside INSERTs — the pg-wire
    * BEGIN…COMMIT surface ([[graft.tools.PgTxn]]). Same Percolator-style
    * protocol as [[multiAppend]] (phase 0 all data work, phase 1 KB-scale
    * prepares, phase 2 ONE create-if-absent marker write), with per-table
    * payloads generalized from append-only to add+remove+DV.
    *
    * Per table the ordered ops are staged by [[stageDml]] as deletion
    * vectors (O(matched rows) write cost, like [[deleteDV]]), op
    * "txn-dml"; a table whose ops change nothing publishes nothing.
    *
    * Isolation: a table whose ops include DELETE/UPDATE must still be at
    * `pinned` (the version the block's snapshot cut pinned) at COMMIT —
    * first-committer-wins snapshot isolation; otherwise the whole
    * transaction aborts with [[TxnSerializationException]] (pg 40001) and
    * no table shows any effect. Insert-only tables keep [[multiAppend]]'s
    * append-commute semantics (a concurrent commit re-derives metadata,
    * never aborts).
    *
    * `tables`: (root, pinned version — None only for insert-only entries,
    * ops in statement order).
    */
  def multiDml(spark: SparkSession,
      tables: Seq[(String, Option[Long], Seq[TxnOp])],
      coord: String): Map[String, Long] = {
    require(tables.nonEmpty, "multiDml needs at least one table")
    require(tables.map(_._1).distinct.size == tables.size,
      "one entry per table root")
    txnCommit(coord, "multi-table transaction") { marker =>
      // Phase 0 — ALL data work (staging, DV computation, enforcement)
      val prepared: Seq[Either[PreparedAppend, PreparedDml]] =
        tables.map { case (root, pinned, ops) =>
          val dml = ops.exists(o => !o.isInstanceOf[TxnIns])
          if (!dml) {
            val batch = ops.collect { case TxnIns(df) => df }
              .reduceLeft(_ unionByName _)
            Left(prepareAppend(batch, root, priorOf(root)))
          } else {
            val base = pinned.getOrElse(throw new IllegalArgumentException(
              s"DML ops need the block's pinned version for $root " +
                "(fold DML on a no-commit table into a pure insert first)"))
            if (!currentVersion(root).contains(base))
              throw new TxnSerializationException(
                s"$root moved past pinned version $base before COMMIT; " +
                  "retry the transaction (serialization failure)")
            Right(PreparedDml(root, base, stageDml(spark, root,
              readManifest(root, base), ops, "txn-dml", dv = true)))
          }
        }
      // Phase 1 — prepares back-to-back (KB-scale commit writes each)
      prepared.map {
        case Left(pa) => pa.root -> publishPrepared(pa, marker)
        case Right(pd) if pd.commit.isEmpty =>
          pd.root -> pd.base // net no-op on this table
        case Right(pd) =>
          // first-committer-wins: the version we computed against must
          // still be current (checked before resolving a moved head, which
          // could wait out another transaction's undecided marker); the
          // link-create races the last inch
          if (!currentVersion(pd.root).contains(pd.base))
            throw new TxnSerializationException(
              s"${pd.root} moved past pinned version ${pd.base} during " +
                "COMMIT; retry the transaction (serialization failure)")
          try pd.root -> commitOn(pd.root, marker = Some(marker))(_ => pd.commit)
          catch {
            case _: CommitConflictException =>
              throw new TxnSerializationException(
                s"${pd.root} received a concurrent commit during COMMIT; " +
                  "retry the transaction (serialization failure)")
          }
      }.toMap
    }
  }

  /** Signals a duplicate multi-table batch detected mid-prepare: some
    * table's transaction watermark already covers this (appId, batchId) —
    * a racing driver's identical txn won. Internal control flow only.
    */
  private final class TxnReplay extends RuntimeException

  /** Exactly-once multi-table append (the appendTxn × multiAppend
    * composition, for `foreachBatch` sinks maintaining DERIVED TABLE
    * PAIRS): the per-table txn watermark (appId → batchId) rides inside
    * each prepare, so watermark advancement is atomic with the data —
    * an aborted txn advances nothing, a committed one advances every
    * table at the marker instant. Replays (Structured Streaming retries,
    * duplicate drivers) are detected either up front (all watermarks
    * covered → no-op) or mid-prepare (a racing identical txn won a
    * table's version → our whole txn self-aborts; the winner carried the
    * same batch data, so aborting wholesale IS the exactly-once
    * behavior). Returns current versions either way.
    */
  def multiAppendTxn(batches: Seq[(DataFrame, String)], coord: String,
      appId: String, batchId: Long): Map[String, Long] = {
    require(batches.nonEmpty, "multiAppendTxn needs at least one batch")
    def currents: Map[String, Long] =
      batches.map { case (_, r) =>
        r -> currentVersion(r).getOrElse(0L)
      }.toMap
    if (batches.forall { case (_, r) =>
        covered(priorOf(r), Some(appId -> batchId)) })
      return currents // full replay — already committed
    try txnCommit(coord, "multi-table transaction") { marker =>
      // data work first, prepares metadata-only — see multiAppend phase 0
      batches.map { case (df, root) => prepareAppend(df, root, priorOf(root)) }
        .map(pa => pa.root -> publishPrepared(pa, marker, Some(appId -> batchId)))
        .toMap
    } catch {
      // a racing identical txn won a table: the coordinator aborted our
      // prepares (they fold as no-ops); the winner has the data
      case _: TxnReplay => currents
    }
  }

  /** A consistent cross-table version cut: per-table current versions
    * re-read until a full pass observes no movement. Combined with marker
    * resolution being deterministic (decided once, cached forever), the
    * returned pins can never show a multi-table transaction partially —
    * a prepare landing mid-scan moves its table's head and forces another
    * pass. Pin these versions (`CommitLog.read(..., version = Some(v))`)
    * to hold one transaction-consistent view across an arbitrary number
    * of reads — the multi-table analogue of a single table's snapshot
    * isolation, priced at two metadata probes plus one head fold per
    * table per attempt (the fold pins every marker decision to the cut).
    */
  def consistentSnapshot(roots: Seq[String],
      maxAttempts: Int = 20): Map[String, Long] = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val first = roots.map(r => r -> currentVersion(r))
      // RESOLVE the observed heads between the probes (ADVICE r7): folding
      // each head forces every multi-table marker at or below the cut to a
      // DECIDED, sticky state (txnCommitted waits out the grace then
      // force-decides; decided markers never flip). Without this, a
      // prepare visible to both probes on table A whose marker commits
      // AFTER the cut would fold as committed when the pin is finally
      // read, while table B — whose prepare landed after both probes —
      // stays pinned before it: a partial transaction. After resolution,
      // a marker our fold saw committed implies every sibling prepare was
      // already published (markers are created only after all prepares),
      // so the second probe sees those heads moved and retries.
      first.foreach { case (r, v) => v.foreach(readManifest(r, _)) }
      val second = roots.map(r => r -> currentVersion(r))
      if (first == second)
        return first.collect { case (r, Some(v)) => r -> v }.toMap
      attempt += 1
    }
    throw new IllegalStateException(
      s"no quiescent cut across ${roots.size} tables in $maxAttempts " +
        "attempts (sustained concurrent commits)")
  }

  /** Optimistic-concurrency retry loop: re-run `commit` (which must
    * re-read the current version itself, as every DML here does) until it
    * publishes without a [[CommitConflictException]]. Appends always
    * logically succeed on retry; rewriting ops re-derive their touch set
    * from the fresh snapshot — the documented Delta/Iceberg loser-retries
    * protocol.
    */
  def withRetry[A](maxRetries: Int = 5)(commit: => A): A = {
    var attempt = 0
    while (true) {
      try return commit
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Expose a snapshot to the SQL surface (SqlMagic `%sql`, the JDBC
    * thrift endpoint, `spark.sql`): registers a temp view over the current
    * (or pinned) version. Re-register after new commits to advance the
    * snapshot — the view itself stays immutable, which is exactly snapshot
    * isolation as seen from SQL. (For a view that tracks the latest
    * version per query, use the `graft-commitlog` data source instead.)
    */
  def createView(spark: SparkSession, root: String, name: String,
      version: Option[Long] = None): Unit =
    read(spark, root, version).createOrReplaceTempView(name)

  /** Metadata-only COUNT(*): the sum of per-file row counts (stats are
    * recorded for every staged file, and the file list IS the stats list,
    * so the sum is always complete). None only when the table has no
    * commits. At 100 TB this answers the most common query of all
    * without touching a single data file.
    */
  def rowCount(root: String, version: Option[Long] = None): Option[Long] = {
    val v = version.orElse(currentVersion(root)).getOrElse(return None)
    Some(readManifest(root, v).statsOrNil.map(_.rows).sum)
  }

  /** Files added between two versions, read as a DataFrame — the
    * incremental-consumption surface (CDC-lite): a downstream job that
    * processed version `fromV` reads exactly the new data in `toV` without
    * rescanning the table. With incremental commits this is a pure
    * metadata read of the per-version add lists — no snapshot diffing.
    * Append-only history between the two versions is required (a rewrite
    * op in between means "added files" ≠ "new rows").
    */
  def changes(spark: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changes($fromV, $toV): versions out of order")
    val commits = ((fromV + 1) to toV).map { v =>
      val c = readCommit(root, v)
      // Enforce the append-only contract instead of trusting the caller: a
      // rewrite op (compact/merge/delete/overwrite/cluster) re-stages
      // EXISTING rows into new files, which would silently surface as
      // "new" — e.g. IncrementalView would double-count. Metadata-only
      // commits (create/evolve-schema: no files added or dropped) are
      // harmless in the range and pass.
      require(c.op == "append" ||
          (c.addOrNil.isEmpty && c.removeOrNil.isEmpty && c.dvsOrEmpty.isEmpty),
        s"changes($fromV, $toV): version $v is '${c.op}' — the range must be " +
          "append-only (rewrites re-stage existing rows as new files; a " +
          "deletion-vector commit removes rows without touching any file)")
      c
    }
    val mEnd = readManifest(root, toV)
    val schemaJson =
      if (commits.nonEmpty) commits.last.schemaJson else mEnd.schemaJson
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    // physical names are stable across renames, so the END mapping reads
    // every file in the range correctly
    val cmap = mEnd.colMapOrEmpty
    val physS = StructType(schema.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))
    val raw = readFiles(spark, root, physS,
      commits.flatMap(_.addOrNil.map(_.path)))
    if (cmap.isEmpty) raw
    else raw.select(schema.fieldNames.toIndexedSeq.map(n =>
      col(cmap.getOrElse(n, n)).as(n)): _*)
  }

  /** Per-commit file-level change summary between two versions — PURE
    * METADATA (no data files open): for each version in `(fromV, toV]`,
    * its op, the FileStats it added, and the FileStats of the files it
    * removed. Removed files' stats are resolved against the running
    * pre-commit snapshot (commit records store remove as bare paths), so
    * consumers can reason about the VALUE RANGES a rewrite touched — the
    * basis for incremental-maintenance jobs that must react to deletes
    * and rewrites, which row-level [[changes]] (append-only by contract)
    * cannot represent. Unlike [[changes]], any op is allowed here.
    */
  def changedFileStats(root: String, fromV: Long, toV: Long)
      : Seq[(Long, String, Seq[FileStat], Seq[FileStat])] = {
    require(fromV <= toV, s"changedFileStats($fromV, $toV): out of order")
    if (fromV == toV) return Nil
    var live: Map[String, FileStat] =
      if (fromV == 0) Map.empty
      else readManifest(root, fromV).statsOrNil.map(s => s.path -> s).toMap
    ((fromV + 1) to toV).map { v =>
      val c = readCommit(root, v)
      // A deletion-vector commit removes rows IN PLACE: surface the
      // affected files' stats as "removed" so range-driven consumers (the
      // cube CDC rollup) refresh the value ranges those files span —
      // without this a delete-dv commit would look metadata-only and
      // silently under-refresh.
      val removed = c.removeOrNil.flatMap(live.get) ++
        c.dvsOrEmpty.keysIterator.flatMap(live.get)
      live = live -- c.removeOrNil ++ c.addOrNil.map(s => s.path -> s)
      (v, c.op, c.addOrNil, removed)
    }
  }

  /** NET row-level diff between two snapshots, `_change` ∈ insert|delete
    * (Delta's change-data-feed answer reconstructed from METADATA): a row
    * present at `toV` but not `fromV` is an insert, present at `fromV`
    * but not `toV` a delete. Works across ANY ops in the range —
    * appends, copy-on-write rewrites, deletion vectors, restore —
    * because data files are immutable: a file in BOTH manifests with the
    * same DV contributes NOTHING, so the diff reads only
    *   - files added between the versions (live rows under toV's DVs),
    *   - files removed (live rows under fromV's DVs),
    *   - files whose DV changed (the position-set delta, O(deleted
    *     rows) both ways — shrinkage from a restore surfaces as
    *     re-inserts).
    * That file-symmetric-difference cost model is the 100 TB point: a
    * day-to-day diff of a 10⁵-file table opens the day's churn, never
    * the table. Presented in toV's logical schema (columns added between
    * the versions read as null on the delete side; dropped columns leave
    * the diff, the standard CDF convention). Declines (throws) when a
    * column was RENAMED in the range — same-named columns would silently
    * change meaning.
    */
  def snapshotDiff(spark: SparkSession, root: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV, s"snapshotDiff($fromV, $toV): versions out of order")
    val mF = readManifest(root, fromV)
    val mT = readManifest(root, toV)
    val sF = schemaOf(mF); val sT = schemaOf(mT)
    // a rename moves a PHYSICAL column to a new logical name; a diff over
    // such a range is ill-defined (the "same" column changes meaning), so
    // compare by physical identity and refuse on any move
    val physF = sF.fieldNames.map(n => mF.physOf(n) -> n).toMap
    val physT = sT.fieldNames.map(n => mT.physOf(n) -> n).toMap
    physF.keySet.intersect(physT.keySet).foreach { p =>
      require(physF(p) == physT(p),
        s"snapshotDiff: column '${physF(p)}' was renamed to '${physT(p)}' " +
          s"between v$fromV and v$toV")
    }
    val out = sT.fieldNames.toIndexedSeq
    def shaped(df: DataFrame, have: Set[String]): DataFrame =
      df.select(out.map(n =>
        if (have(n)) col(n)
        else lit(null).cast(sT(n).dataType).as(n)): _*)
    val fromSet = mF.files.toSet; val toSet = mT.files.toSet
    val ins0 = shaped(
      readTaggedLive(spark, root, mT, mT.files.filterNot(fromSet)),
      sT.fieldNames.toSet)
    val del0 = shaped(
      readTaggedLive(spark, root, mF, mF.files.filterNot(toSet)),
      sF.fieldNames.toSet)
    // common files: only a DV change moves rows between the snapshots —
    // a row one snapshot's DVs leave live and the other's mark dead
    val changed = mT.files.filter(f => fromSet(f) &&
      mF.dvsOrEmpty.get(f) != mT.dvsOrEmpty.get(f))
    val (ins, del) =
      if (changed.isEmpty) (ins0, del0)
      else {
        val raw = readTagged(spark, root, mT, changed)
        def moved(to: Manifest, from: Manifest): DataFrame = shaped(
          raw.filter(live(root, to) && !live(root, from)), sT.fieldNames.toSet)
        (ins0.unionAll(moved(mT, mF)), del0.unionAll(moved(mF, mT)))
      }
    // NET semantics: a rewrite (compact/merge/optimize) re-stages existing
    // rows into new files — identical rows on both sides cancel, multiset
    // style (exceptAll), so pure rewrites diff EMPTY. The cancellation
    // join is churn-sized, never table-sized. r14 OPT (guide §3.3): each
    // side feeds BOTH exceptAll branches — pin them so the added/removed
    // file reads run once, not twice (both frames are churn-sized).
    val insP = ins.localCheckpoint(); val delP = del.localCheckpoint()
    insP.exceptAll(delP).withColumn("_change", lit("insert"))
      .unionAll(delP.exceptAll(insP).withColumn("_change", lit("delete")))
  }

  /** Last committed batchId for a streaming appId, if any — the replay
    * guard a caller can consult BEFORE computing an expensive batch body
    * (the committing writers re-check under their own read of the
    * manifest, so this is an optimization, not the correctness gate).
    */
  def txnWatermark(root: String, appId: String): Option[Long] =
    priorOf(root).flatMap(_.txnOrEmpty.get(appId))

  /** [[overwrite]] with the streaming txn watermark (the exactly-once
    * contract of [[appendTxn]], for sinks that REPLACE state per batch —
    * e.g. incremental-view maintenance): a replayed batchId returns the
    * current version without committing.
    */
  def overwriteTxn(df: DataFrame, root: String, appId: String,
      batchId: Long): Long =
    overwriteOn(df, root, Nil, Map.empty, txn = Some(appId -> batchId))

  /** Replace the table contents with `df` (zero rows allowed) atomically. */
  def overwrite(df: DataFrame, root: String, partitionBy: Seq[String] = Nil,
      setProps: Map[String, String] = Map.empty): Long =
    overwriteOn(df, root, partitionBy, setProps, txn = None)

  /** [[overwrite]], and with `txn` = (appId, batchId) [[overwriteTxn]]
    * (replay = no-op, as in [[appendOn]]).
    */
  private def overwriteOn(df: DataFrame, root: String,
      partitionBy: Seq[String], setProps: Map[String, String],
      txn: Option[(String, Long)]): Long = commitOn(root) { prior =>
    if (covered(prior, txn)) None
    else {
      // overwrite replaces contents, so an explicit spec may differ from
      // the table's previous one; no spec inherits it.
      val spec =
        if (partitionBy.nonEmpty) partitionBy
        else prior.map(_.partitionByOrNil).getOrElse(Nil)
      prior.foreach(guardNewColumns(_, df.schema))
      // `setProps` lands ATOMICALLY with the data (the incremental-view
      // refresh contract: the recorded mv.srcVersion must never be
      // observable apart from the rows it describes); an overwrite commit
      // carries the full post-commit map, overlaid on the prior one, and
      // foldCommit reads it only when non-empty so prop-less overwrites
      // (and every historical log) inherit exactly as before.
      val props0 = prior.map(_.propsOrEmpty).getOrElse(Map.empty)
      val newProps = if (setProps.isEmpty) Map.empty[String, String]
        else { validateProps(setProps); props0 ++ setProps }
      val add = if (df.isEmpty) Nil else stageWithStats(df, root, spec,
        colMap = prior.map(_.colMapOrEmpty).getOrElse(Map.empty),
        props = if (newProps.isEmpty) props0 else newProps)
      enforceConstraints(df.sparkSession, root, prior, add, df.schema)
      val c = nextCommit(prior, "overwrite")
      Some(c.copy(schemaJson = df.schema.json, add = add,
        remove = prior.map(_.files).getOrElse(Nil), partitionBy = spec,
        txn = c.txn ++ txn, props = newProps))
    }
  }

  /** PARTITION SPEC EVOLUTION (the published Iceberg concept): change the
    * layout for FUTURE writes as one metadata commit; existing files stay
    * exactly as written, no rewrite ever required. Safe by construction
    * in this format: partitioning is purely a staging layout plus a
    * per-file stats contract (min = max on partition columns), and scan
    * pruning reads STATS, never directory paths — so old-layout files
    * keep pruning exactly as before while new appends land in the new
    * layout. Any later rewrite (compact/optimize/merge) migrates the
    * touched data into the current spec as a side effect. At 100 TB this
    * is the "we should have partitioned by day, not month" fix that
    * costs one metadata write instead of a table rewrite.
    */
  def setPartitionSpec(root: String, spec: Seq[String]): Long =
    commitOn(root) { prior =>
      val m = prior
        .getOrElse(throw new IllegalStateException(s"no commits at $root"))
      validatePartitionSpec(schemaOf(m), spec)
      if (spec == m.partitionByOrNil) None // no-op
      else Some(nextCommit(prior, "evolve-partition").copy(partitionBy = spec))
    }

  /** SHALLOW CLONE (the published Delta CLONE): create `dst` as a
    * zero-copy snapshot of `src` at `version` (default: current). The
    * clone's first commit references the source's data files AND deletion
    * vectors by ABSOLUTE path — no data moves, the clone is a metadata
    * write regardless of table size. From then on the tables diverge
    * freely: writes to the clone stage into the clone's own `data/`,
    * rewrites (compact/optimize/merge/purge) progressively LOCALIZE it,
    * and the source never sees any of it. CHECK constraints carry over;
    * streaming txn watermarks deliberately do not (the clone is a new
    * sink identity).
    *
    * The published hazard applies unchanged: vacuuming the SOURCE can
    * reclaim files the clone still references. Tag the cloned version in
    * the source (vacuum pins tags), or localize the clone (compact /
    * REORG) before source retention expires. The clone's own vacuum only
    * ever walks the clone's `data/`, so it can never delete source files.
    *
    * At 100 TB this is the instant dev/test copy and the
    * experiment-branch primitive: O(files) metadata instead of a
    * table-sized copy job.
    */
  def shallowClone(src: String, dst: String,
      version: Option[Long] = None): Long = commitOn(dst) { prior =>
    val v = version.orElse(currentVersion(src))
      .getOrElse(throw new IllegalStateException(s"no commits at $src"))
    require(prior.isEmpty, s"clone target $dst already has commits")
    val m = readManifest(src, v)
    val stats = m.statsOrNil.map(s => s.copy(path = absPath(src, s.path),
      bloom = s.bloomOpt.map(absPath(src, _)).orNull,
      ndv = s.ndvOpt.map(absPath(src, _)).orNull))
    val dvs = m.dvsOrEmpty.map { case (d, dv) =>
      absPath(src, d) -> absPath(src, dv)
    }
    // the clone is a new sink identity: no txn watermarks carry over
    Some(nextCommit(None, "clone").copy(schemaJson = m.schemaJson,
      add = stats, partitionBy = m.partitionByOrNil,
      constraints = m.constraintsOrEmpty, dvs = dvs,
      colMap = m.colMapOrEmpty, retired = m.retiredOrNil,
      props = m.propsOrEmpty, cloneSrc = normRoot(src), cloneVer = v))
  }

  private def normRoot(root: String): String =
    Paths.get(root).toAbsolutePath.normalize.toString

  /** FAST-FORWARD a shallow clone back onto its source — the branch-merge
    * that completes the clone/WAP story (Iceberg's fast-forward branch
    * publish): develop on the zero-copy clone (appends, DML, OPTIMIZE,
    * schema changes), validate there, then publish the clone's CURRENT
    * snapshot to the source as ONE metadata commit. Only legal while the
    * source has not advanced past the clone point (a true fast-forward —
    * anything else is a divergent merge this operation refuses rather
    * than guesses at), enforced under the same OCC retry loop every
    * commit uses, so a concurrent source writer either lands before the
    * check (promote rejects) or after (the writer retries on top of the
    * promoted snapshot).
    *
    * Path re-rooting makes promotion exact: clone-local files publish as
    * absolute references into the clone's `data/`; files the clone still
    * shares with the source turn back into source-relative paths (they
    * were recorded absolute at clone time), so an unchanged file is
    * referenced exactly as it was before the branch. Metadata (schema,
    * constraints, column mapping, properties, deletion vectors) replaces
    * wholesale, restore-style. The source's streaming txn watermarks are
    * KEPT — promote changes data, not the source's sink idempotence
    * history.
    *
    * The shallow-clone vacuum hazard inverts after promote: the SOURCE
    * now references files under the clone's `data/`, so the clone must be
    * treated as merged — discard it, or at minimum never vacuum it.
    * Localize the source (OPTIMIZE/compact) to retire the cross-root
    * references. At 100 TB the promote itself stays O(metadata).
    */
  def fastForward(src: String, clone: String): Long =
    commitOn(src, retry = true) { prior =>
      val cv = currentVersion(clone).getOrElse(
        throw new IllegalArgumentException(s"no CommitLog table at $clone"))
      val c1 = readCommit(clone, 1L)
      require(c1.op == "clone" && c1.cloneSrc != null,
        s"$clone is not a shallow clone with a recorded origin " +
          s"(first commit op '${c1.op}') — nothing to fast-forward")
      val srcRoot = normRoot(src)
      require(srcRoot == c1.cloneSrc,
        s"$clone was cloned from ${c1.cloneSrc}, not $srcRoot")
      val cur = prior.getOrElse(
        throw new IllegalStateException(s"no commits at $src"))
      require(cur.version == c1.cloneVer,
        s"source advanced to version ${cur.version} past the clone point " +
          s"${c1.cloneVer} — not a fast-forward; reconcile the branches " +
          "explicitly (e.g. MERGE) instead")
      val cm = readManifest(clone, cv)
      // clone-relative → absolute into the clone; absolute-under-source →
      // source-relative again (unchanged shared files keep their original
      // identity, so stats/DV/bloom keys line up with pre-branch history)
      def reroot(p: String): String = {
        val abs = if (p.startsWith("/")) p else absPath(clone, p)
        if (abs.startsWith(srcRoot + "/")) abs.substring(srcRoot.length + 1)
        else abs
      }
      val stats = cm.statsOrNil.map(s => s.copy(path = reroot(s.path),
        bloom = s.bloomOpt.map(reroot).orNull,
        ndv = s.ndvOpt.map(reroot).orNull))
      // the source's txn watermarks are kept (inherited)
      Some(nextCommit(prior, "fast-forward").copy(schemaJson = cm.schemaJson,
        add = stats,
        remove = cur.files,
        partitionBy = cm.partitionByOrNil,
        constraints = cm.constraintsOrEmpty,
        dvs = cm.dvsOrEmpty.map { case (d, dv) => reroot(d) -> reroot(dv) },
        colMap = cm.colMapOrEmpty, retired = cm.retiredOrNil,
        props = cm.propsOrEmpty))
    }

  /** Read a snapshot: latest by default, or a pinned historical version.
    * Always reads with the LOG schema, never parquet footer inference —
    * footer sampling picks an arbitrary file (wrong under schema evolution,
    * and nondeterministic), and skipping it avoids a footer-listing pass.
    */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(root))
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    val m = readManifest(root, v)
    readFiles(spark, root, m, m.files)
  }

  /** Small-file compaction as ONE metadata commit: rewrite the current
    * snapshot into `nFiles` files and publish a manifest swap. Readers
    * pinned to older versions keep their exact snapshot — the property
    * `Maintenance.compact`'s stage-and-swap on plain tables cannot give.
    * On a partitioned table the layout wins: one file per partition value
    * (`nFiles` is ignored — the partition spec is the compaction target).
    */
  def compact(spark: SparkSession, root: String, nFiles: Int = 1): Long =
    commitOn(root) { prior =>
      val m = prior
        .getOrElse(throw new IllegalStateException(s"no commits at $root"))
      val spec = m.partitionByOrNil
      val df0 = read(spark, root, Some(m.version))
      val df = if (spec.isEmpty) df0.repartition(nFiles) else df0
      val add = stageWithStats(df, root, spec, colMap = m.colMapOrEmpty,
        props = m.propsOrEmpty)
      Some(nextCommit(prior, "compact").copy(schemaJson = df.schema.json,
        add = add, remove = m.files))
    }

  // --------------------------------------------------------------------
  // DML: copy-on-write MERGE / DELETE
  // --------------------------------------------------------------------

  private def schemaOf(m: Manifest): StructType =
    DataType.fromJson(m.schemaJson).asInstanceOf[StructType]

  /** Manifest path → openable path. Paths are root-relative for files the
    * table staged itself; a SHALLOW CLONE's first commit references the
    * source's files by ABSOLUTE path (leading '/'), which every read/DML
    * path resolves through here.
    */
  private[graft] def dataPath(root: String, f: String): String =
    if (f.startsWith("/")) f else s"$root/$f"

  /** Publish stamp of one commit (epoch ms) — surfaced by DESCRIBE DETAIL. */
  def commitTimestamp(root: String, v: Long): Long = readCommit(root, v).ts

  private def readFiles(spark: SparkSession, root: String, schema: StructType,
      files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files.map(dataPath(root, _)): _*)

  /** Manifest-resolved read: the snapshot's LIVE rows — a read of files
    * with a deletion vector filters their dead positions away inside the
    * scan ([[readTaggedLive]]); files without one stream through the
    * plain vectorized scan untouched.
    */
  private def readFiles(spark: SparkSession, root: String, m: Manifest,
      files: Seq[String]): DataFrame = {
    val schema = schemaOf(m)
    if (m.dvsOrEmpty.isEmpty || !files.exists(m.dvsOrEmpty.contains))
      toLogical(readFiles(spark, root, physSchema(m), files), m)
    else readTaggedLive(spark, root, m, files)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  private val TagFile = "_graft_file"
  private val TagPos = "_graft_pos"

  /** Canonical raw filesystem path of `_metadata.file_path` (Spark reports
    * it percent-encoded in `file:/…` URI form): scheme stripped, %XX
    * decoded — with '+' pre-escaped so `url_decode` cannot turn a literal
    * plus into a space (URI paths never encode space as '+'). The result
    * matches driver-side java.nio path strings byte for byte.
    */
  private def canonicalFileCol: Column =
    // r15 OPT: native expression with a last-value cache — file_path is
    // constant per split, so the decode runs once per file instead of two
    // regex engines + URLDecoder per row (was +50% on a tagged scan)
    GraftBridge.column(graft.functions.CanonicalPath(
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
        Seq("_metadata", "file_path"))))

  /** Canonical absolute path of a manifest path — the file path a scan
    * of it reports (through [[graft.functions.CanonicalPath]]). */
  private[graft] def absPath(root: String, rel: String): String =
    Paths.get(root).toAbsolutePath.normalize.resolve(rel).toString

  /** Raw per-file scan of `files`, tagged with the canonical absolute file
    * path and physical row index — the coordinates deletion vectors
    * address. Tags are computed INSIDE the scan: metadata columns resolve
    * only on file relations, and `input_file_name()` is unreliable above
    * joins.
    */
  private def readTagged(spark: SparkSession, root: String, m: Manifest,
      files: Seq[String]): DataFrame = {
    val schema = schemaOf(m)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields ++ Seq(
          StructField(TagFile, StringType), StructField(TagPos, LongType))))
    toLogical(
      spark.read.schema(physSchema(m)).parquet(files.map(dataPath(root, _)): _*)
        .withColumn(TagFile, canonicalFileCol)
        .withColumn(TagPos, col("_metadata.row_index")),
      m, extra = Seq(TagFile, TagPos))
  }

  /** Tagged read with deletion vectors applied: the raw rows the
    * snapshot's DVs leave live ([[dvLive]] over the scan's own tags).
    */
  private def readTaggedLive(spark: SparkSession, root: String, m: Manifest,
      files: Seq[String]): DataFrame = {
    val tagged = readTagged(spark, root, m, files)
    if (m.dvsOrEmpty.isEmpty) tagged else tagged.filter(live(root, m))
  }

  /** [[dvLive]] of `m` over a tagged read's tag columns. */
  private def live(root: String, m: Manifest): Column = GraftBridge.column(
    dvLive(root, m, UnresolvedAttribute(TagFile), UnresolvedAttribute(TagPos)))

  /** The deletion-vector predicate of snapshot `m` over a scan's canonical
    * file path and row index: every read of a DV snapshot (the registered
    * relation, [[read]]/[[readPruned]] and the DML touch sets) applies
    * its DVs through this one filter.
    */
  private[graft] def dvLive(root: String, m: Manifest,
      file: catalyst.expressions.Expression,
      pos: catalyst.expressions.Expression): catalyst.expressions.Expression =
    graft.functions.DvLive(file, pos,
      m.dvsOrEmpty.map { case (data, dv) => absPath(root, data) -> absPath(root, dv) })

  /** Delta-style MERGE, copy-on-write through [[stageDml]]:
    *  - target rows whose key matches a `source` row are replaced by that
    *    source row (full-row UPDATE), or dropped when the source row
    *    satisfies `deleteWhen` (MERGE … WHEN MATCHED DELETE);
    *  - source rows matching no target key are appended (INSERT);
    *  - only files containing a matched key are rewritten — every other
    *    file moves into the new commit by reference, stats intact.
    *
    * `source` must carry exactly the table schema and unique keys (checked:
    * two source rows for one key would make the merge nondeterministic).
    * At 100 TB the rewrite cost is proportional to the touched files, not
    * the table, and the key-match probe reads only the key columns.
    */
  def merge(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keys: Seq[String],
      deleteWhen: Option[Column] = None): Long = deleteWhen match {
    case None => mergeRows(spark, root, source, keys, None, insertUnmatched = true)
    case Some(c) => mergeRows(spark, root,
      source.withColumn(MergeDeleteFlag, c), keys, Some(MergeDeleteFlag),
      insertUnmatched = true)
  }

  private val MergeDeleteFlag = "__graft_merge_delete"

  /** Snapshot sync: make the table equal to `snapshot` (within `scope`, when
    * given) in ONE merge commit — the SQL idiom
    * `MERGE … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
    * WHEN NOT MATCHED BY SOURCE [AND scope] THEN DELETE`. With a
    * partition-selective `scope` (e.g. `col("day") === d` for a daily
    * re-land), files outside the scope holding no snapshot key move by
    * reference — the rewrite cost is the synced slice, not the table.
    */
  def applySnapshot(spark: SparkSession, root: String, snapshot: DataFrame,
      keys: Seq[String], scope: Option[Column] = None): Long =
    mergeRows(spark, root, snapshot, keys, deleteFlag = None,
      insertUnmatched = true, replaceMatched = true,
      bySource = Some(BySourceClause(delete = true, Nil, scope)))

  /** The general MERGE writer (SQL `MERGE INTO` semantics, op "merge"):
    * one [[TxnMerge]] staged copy-on-write by [[stageDml]], whose fold
    * ([[applyTxnOps]]) is the clause semantics —
    *  - `deleteFlag`: boolean source column naming MATCHED rows to delete
    *    instead of replace (an UNMATCHED row with the flag set still
    *    inserts — `WHEN MATCHED … DELETE` never touches insert candidates);
    *  - `insertUnmatched = false`: update-only merge (no `WHEN NOT MATCHED`
    *    clause) — source rows matching nothing are dropped;
    *  - `bySource` (SQL `WHEN NOT MATCHED BY SOURCE`): applied to TARGET
    *    rows whose key matches no source row — `delete = true` drops them,
    *    otherwise `set` assignments rewrite them in place; `cond` (over the
    *    target row) restricts the clause. The touch probe is exact: only
    *    files containing a matched key OR an unmatched row satisfying
    *    `cond` are rewritten, so a partition-selective condition keeps the
    *    snapshot-sync cost proportional to the synced slice, not the table
    *    (the unconditional full-sync case rewrites every file holding any
    *    unmatched row — inherent to its semantics, same as Delta);
    *  - `replaceMatched = false` (no `WHEN MATCHED` clause): matched target
    *    rows are carried UNCHANGED through the rewrite instead of being
    *    replaced by their source row.
    * Guards here: the source has the table's column names and types and
    * unique keys; it is persisted so an expensive upstream pipeline runs
    * once across the guard, the probe and the staging.
    */
  private[graft] case class BySourceClause(
      delete: Boolean,
      set: Seq[(String, Column)],
      cond: Option[Column])

  private[graft] def mergeRows(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keys: Seq[String],
      deleteFlag: Option[String],
      insertUnmatched: Boolean,
      replaceMatched: Boolean = true,
      bySource: Option[BySourceClause] = None): Long = commitOn(root) { prior =>
    val m = prior
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    val schema = schemaOf(m)
    val dataCols = source.schema.fieldNames.filterNot(deleteFlag.contains)
    require(dataCols.sorted.sameElements(schema.fieldNames.sorted),
      s"merge source columns ${dataCols.mkString(",")} != table schema")
    // Names AND types must match: a widened source (e.g. long → double)
    // would otherwise stage parquet files whose physical types contradict
    // the published log schema, making the table unreadable.
    schema.fields.foreach { f =>
      val st = source.schema(f.name).dataType
      require(st == f.dataType,
        s"merge source retypes ${f.name}: ${f.dataType.simpleString} -> ${st.simpleString}")
    }
    val src = source.select(
      (schema.fieldNames ++ deleteFlag).map(col).toIndexedSeq: _*).persist()
    try {
      require(src.groupBy(keys.map(col).toIndexedSeq: _*)
        .count().filter(col("count") > 1).isEmpty,
        "merge source has duplicate keys — ambiguous MATCHED action")
      stageDml(spark, root, m, Seq(TxnMerge(src, keys, deleteFlag,
        insertUnmatched, replaceMatched, bySource)), "merge", dv = false)
    } finally src.unpersist()
  }

  /** One autocommit DML statement: `ops` (built against the current
    * snapshot, which they may validate) staged by [[stageDml]] and
    * published by [[commitOn]]; nothing to change publishes nothing.
    */
  private def dml(spark: SparkSession, root: String, op: String,
      dv: Boolean)(ops: Manifest => Seq[TxnOp]): Long = commitOn(root) { prior =>
    val m = prior
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    stageDml(spark, root, m, ops(m), op, dv)
  }

  /** An UPDATE's one op, its assigned columns checked against `m`. */
  private def updateOp(m: Manifest, set: Seq[(String, Column)],
      cond: Column): Seq[TxnOp] = {
    val bad = set.map(_._1).filterNot(schemaOf(m).fieldNames.contains)
    require(bad.isEmpty, s"UPDATE of unknown column(s): ${bad.mkString(",")}")
    Seq(TxnUpd(set, cond))
  }

  /** Copy-on-write UPDATE (SQL `UPDATE … SET … WHERE …`, op "update"):
    * files holding a matching row are rewritten, the assignments — cast to
    * each column's declared type — applied to the matching rows
    * ([[applyTxnOps]]); the rest of the table moves by reference.
    */
  def update(spark: SparkSession, root: String,
      set: Seq[(String, Column)], cond: Column): Long =
    dml(spark, root, "update", dv = false)(updateOp(_, set, cond))

  /** Copy-on-write DELETE (op "delete"): files holding a matching row are
    * rewritten without it. */
  def delete(spark: SparkSession, root: String, cond: Column): Long =
    dml(spark, root, "delete", dv = false)(_ => Seq(TxnDel(cond)))

  /** Predicate-scoped atomic overwrite (the published Delta `replaceWhere`
    * concept): ONE commit deletes every row matching `cond` and lands `df`
    * in its place — a DELETE and an INSERT folded copy-on-write by
    * [[stageDml]]. The file-touch set is exact — only files holding a
    * matching row rewrite (their non-matching rows carry into the staged
    * output); everything else moves by reference — so re-landing one
    * day of a day-partitioned 10⁵-file table costs that day's files, never
    * the table. Every input row must satisfy `cond` (the Delta contract):
    * an out-of-scope row would silently survive the NEXT replace of its
    * own scope, so it is refused here rather than discovered as drift.
    */
  def replaceWhere(spark: SparkSession, root: String, cond: Column,
      df: DataFrame): Long = dml(spark, root, "replaceWhere", dv = false) { m =>
    require(df.filter(!coalesce(cond, lit(false))).isEmpty,
      "replaceWhere: every input row must satisfy the replace predicate " +
        "(out-of-scope rows would silently survive later replaces)")
    Seq(TxnDel(cond),
      TxnIns(df.select(schemaOf(m).fieldNames.toIndexedSeq.map(col): _*)))
  }

  /** Dynamic-partition overwrite (Spark's `partitionOverwriteMode=dynamic`
    * as a log op): replace exactly the partitions PRESENT IN `df`, leave
    * every other partition untouched, one commit. The replaced set is the
    * distinct partition tuples of the input (bounded by partition
    * cardinality, collected driver-side like every manifest-scale
    * decision), and the touch probe is the partition-key semi-join — at
    * scale the nightly "re-land the days this batch carries" pattern.
    */
  def overwritePartitionsDynamic(spark: SparkSession, root: String,
      df: DataFrame): Long = {
    val base = currentVersion(root)
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    val m = readManifest(root, base)
    val spec = m.partitionByOrNil
    require(spec.nonEmpty,
      "dynamic partition overwrite requires a partitioned table " +
        "(unpartitioned tables: use overwrite/replaceWhere)")
    val parts = df.select(spec.map(col).toIndexedSeq: _*).distinct()
      .collect().toIndexedSeq
    val cond = balancedOr(parts
      .map(r => spec.zipWithIndex.map { case (c, i) =>
        val v = r.get(i)
        if (v == null) col(c).isNull else col(c) === lit(v)
      }.reduce(_ && _))).getOrElse(lit(false))
    replaceWhere(spark, root, cond, df)
  }

  // --------------------------------------------------------------------
  // Merge-on-read DELETE: deletion vectors
  // --------------------------------------------------------------------

  /** Hex key naming a data file's DV partition directory — must equal
    * Spark's `sha2(rel, 256).substr(1, 16)` (lowercase hex) so the
    * executor-side write layout and this driver-side mapping agree.
    */
  private def dvKey(rel: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rel.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Write one DV parquet (schema: `pos BIGINT`, ascending) per data file
    * in `files` from `dead` (`__dv_rel`, `__dv_pos`); returns data file →
    * DV file, both root-relative. Partitioning by a hex digest of the data
    * file path keeps directory names path-safe (no Hive escaping of '/'),
    * and `repartition` on the key bounds the layout at one parquet per DV.
    */
  private def stageDV(dead: DataFrame, root: String,
      files: Seq[String]): Map[String, String] = {
    val sub = s"data/${UUID.randomUUID()}"
    dead
      .withColumn("__dv_k", sha2(col("__dv_rel"), 256).substr(1, 16))
      .select(col("__dv_k"), col("__dv_pos").as("pos"))
      .repartition(col("__dv_k"))
      .sortWithinPartitions("pos")
      // exactly ONE parquet per DV key even when the session caps
      // maxRecordsPerFile — a split DV would silently shadow positions
      .write.option("maxRecordsPerFile", 0L)
      .partitionBy("__dv_k").parquet(s"$root/$sub")
    val byKey = files.map(f => dvKey(f) -> f).toMap
    val found = stagedLeaves(root, sub).map(rel =>
      Paths.get(rel).getParent.getFileName.toString.stripPrefix("__dv_k=") -> rel)
    found.groupBy(_._1).collect { case (k, vs) if vs.sizeIs > 1 => k }
      .headOption.foreach(k => sys.error(
        s"DV key $k split across multiple parquet files — refusing a " +
          "staging layout that would drop delete positions"))
    found.map { case (key, rel) =>
      byKey.getOrElse(key, sys.error(s"unexpected DV partition '$key'")) ->
        rel
    }.toMap
  }

  /** Merge-on-read DELETE (the published Delta deletion-vector concept,
    * op "delete-dv"): instead of rewriting every file containing a matching
    * row (copy-on-write [[delete]]), [[stageDml]] records the matching
    * POSITIONS in per-file deletion vectors and publishes a metadata+DV
    * commit. Write cost is O(matching rows), not O(touched files' rows) —
    * at 100 TB, a GDPR-scale delete of a few thousand rows scattered over
    * ten thousand 128 MB files writes KBs of DV instead of re-staging TBs
    * of parquet. The probe that finds the touched files also counts their
    * matches; with each prior DV's footer row count that classifies every
    * touched file without another pass, and the DV write is one scan of
    * the partly-hit files.
    *
    * Readers apply DVs transparently (the [[dvLive]] filter inside the
    * scan, used by every manifest-resolved read, DML rewrite, and the
    * registered data source). A file whose every row dies is dropped from
    * the snapshot outright — no empty husks, no DV read amplification for
    * it. A repeat delete REPLACES a file's DV with every raw position no
    * survivor holds (old and new dead alike), so exactly one DV per file is
    * ever live. When accumulated DVs make the per-task position loads
    * noticeable, [[purgeDeletionVectors]] (or any rewrite: compact/
    * optimize/merge touching the file) materializes them away.
    */
  def deleteDV(spark: SparkSession, root: String, cond: Column): Long =
    dml(spark, root, "delete-dv", dv = true)(_ => Seq(TxnDel(cond)))

  /** Right-to-erasure ("forget me") across a table FAMILY in one atomic
    * multi-table transaction: every row whose `keyCol` is one of `keys`
    * dies — via merge-on-read deletion vectors ([[deleteDV]]'s write) — in
    * EVERY listed table at a single visibility instant (the coordinator
    * marker write, the same Percolator-style protocol as [[multiAppend]]);
    * a reader can never observe the subject half-erased. Tables holding no
    * matching row skip (their current version is returned unchanged) —
    * skipping cannot break atomicity because there is nothing to erase
    * there.
    *
    * DV erasure removes the rows from every subsequent read instantly at
    * O(matched rows) write cost; the bytes still sit in the original
    * parquet until a rewrite. PHYSICAL erasure = this + [[compact]]
    * (materializes DVs away) + [[vacuumLog]] past the retention horizon —
    * the same two-phase contract Delta documents for GDPR deletes. Note
    * that time travel to pre-erasure versions still sees the subject until
    * the log is vacuumed; shrink the retention window accordingly when
    * running under a deletion deadline.
    *
    * Scale: per table, cost is one touch probe over every live file (the
    * key predicate is pushed into the parquet scan, but no manifest stats
    * or bloom sidecars cut the file list first) + DV staging of the
    * matched positions.
    */
  def forgetKeys(spark: SparkSession, tables: Seq[(String, String)],
      keys: Seq[Any], coord: String): Map[String, Long] = {
    require(tables.nonEmpty, "forgetKeys needs at least one (root, keyCol)")
    require(tables.map(_._1).distinct.size == tables.size,
      "one entry per table root")
    require(keys.nonEmpty, "forgetKeys needs at least one key value")
    txnCommit(coord, "forgetKeys transaction") { marker =>
      tables.map { case (root, keyCol) =>
        root -> commitOn(root, retry = true, marker = Some(marker)) { prior =>
          val m = prior.getOrElse(
            throw new IllegalStateException(s"no commits at $root"))
          stageDml(spark, root, m, Seq(TxnDel(col(keyCol).isin(keys: _*))),
            "delete-dv", dv = true)
        }
      }.toMap
    }
  }

  /** Merge-on-read UPDATE (op "update-dv"): ONE commit in which
    * [[stageDml]] kills the matched rows' positions via deletion vectors
    * and appends their updated images as new files. Write cost is
    * O(matched rows) — copy-on-write [[update]] re-stages every row of
    * every touched file, which at 100 TB turns a ten-row correction
    * scattered across ten files into a 1.2 GB rewrite; this writes ten
    * rows and a few KB of DV. The read path already reassembles the
    * snapshot (the DV filter + the appended images), and any later rewrite
    * of a DV'd file materializes its deletes away.
    */
  def updateDV(spark: SparkSession, root: String,
      set: Seq[(String, Column)], cond: Column): Long =
    dml(spark, root, "update-dv", dv = true)(updateOp(_, set, cond))

  /** The session-configurable UPDATE twin of [[deleteConfigured]]. */
  def updateConfigured(spark: SparkSession, root: String,
      set: Seq[(String, Column)], cond: Column): Long =
    if (spark.conf.getOption("spark.graft.commitlog.deletionVectors")
        .exists(_.equalsIgnoreCase("true")))
      updateDV(spark, root, set, cond)
    else update(spark, root, set, cond)

  /** The session-configurable DELETE entry point SQL DML and the catalog
    * route through: `SET spark.graft.commitlog.deletionVectors=true`
    * switches `DELETE FROM` to merge-on-read [[deleteDV]]; the default
    * stays copy-on-write [[delete]] (no DV read overhead for tables that
    * never need fine-grained deletes).
    */
  def deleteConfigured(spark: SparkSession, root: String, cond: Column): Long =
    if (spark.conf.getOption("spark.graft.commitlog.deletionVectors")
        .exists(_.equalsIgnoreCase("true")))
      deleteDV(spark, root, cond)
    else delete(spark, root, cond)

  /** Rewrite exactly the DV-carrying files with their dead rows
    * materialized away and drop the DVs — one commit; every other file
    * moves into the new version by reference, stats intact. The
    * merge-on-read counterpart of OPTIMIZE: run it when accumulated DVs
    * make their scan-time position loads noticeable.
    */
  def purgeDeletionVectors(spark: SparkSession, root: String): Long =
    commitOn(root) { prior =>
      val m = prior
        .getOrElse(throw new IllegalStateException(s"no commits at $root"))
      val dvFiles = m.dvsOrEmpty.keys.toSeq.sorted
      if (dvFiles.isEmpty) None
      else {
        val df = readFiles(spark, root, m, dvFiles) // DV-applied live rows
        val add = stageWithStats(df, root, m.partitionByOrNil,
          colMap = m.colMapOrEmpty, props = m.propsOrEmpty)
        Some(nextCommit(prior, "purge-dv").copy(add = add, remove = dvFiles))
      }
    }

  // --------------------------------------------------------------------
  // Stats-pruned scan (data skipping)
  // --------------------------------------------------------------------

  /** OR-fold as a BALANCED tree (depth log n). A left-leaning
    * `reduce(_ || _)` chain nests one Or per operand, and Catalyst's
    * recursive tree walks overflow the JVM stack once the operand count
    * reaches runtime-filter scale — seen as a StackOverflowError planning
    * the per-file survival condition for an IN over ~5k dim keys at sf1.
    */
  private def balancedOr(cs: Seq[Column]): Option[Column] = cs.length match {
    case 0 => None
    case 1 => Some(cs.head)
    case n =>
      val (l, r) = cs.splitAt(n / 2)
      Some(balancedOr(l).get || balancedOr(r).get)
  }

  /** Conservative file-survival condition for a predicate over per-file
    * min/max stats: true means "this file MIGHT contain a matching row".
    * Unsupported predicate shapes map to `true` (never wrong, just
    * unpruned) — the standard data-skipping contract. Supported:
    * comparisons and IN against literals, IS [NOT] NULL, AND/OR.
    */
  private def surviveCond(p: GraftBridge.Pred, tracked: Set[String]): Column = {
    import GraftBridge.{Attr, Fn, Lit}
    // Wrap a min/max comparison so files with no stats for the column
    // (or an untracked column) always survive.
    def guarded(c: String)(cond: (Column, Column) => Column): Column =
      if (!tracked.contains(c)) lit(true)
      else {
        val mn = col(s"min__$c"); val mx = col(s"max__$c")
        when(mn.isNull || mx.isNull, lit(true)).otherwise(cond(mn, mx))
      }
    p match {
      case Fn("and", Seq(l, r)) => surviveCond(l, tracked) && surviveCond(r, tracked)
      case Fn("or", Seq(l, r)) => surviveCond(l, tracked) || surviveCond(r, tracked)
      case Fn("=" | "==", Seq(Attr(a), Lit(v))) =>
        guarded(a)((mn, mx) => mn <= v && mx >= v)
      case Fn("=" | "==", Seq(Lit(v), Attr(a))) =>
        guarded(a)((mn, mx) => mn <= v && mx >= v)
      case Fn(">", Seq(Attr(a), Lit(v))) => guarded(a)((_, mx) => mx > v)
      case Fn(">", Seq(Lit(v), Attr(a))) => guarded(a)((mn, _) => mn < v)
      case Fn(">=", Seq(Attr(a), Lit(v))) => guarded(a)((_, mx) => mx >= v)
      case Fn(">=", Seq(Lit(v), Attr(a))) => guarded(a)((mn, _) => mn <= v)
      case Fn("<", Seq(Attr(a), Lit(v))) => guarded(a)((mn, _) => mn < v)
      case Fn("<", Seq(Lit(v), Attr(a))) => guarded(a)((_, mx) => mx > v)
      case Fn("<=", Seq(Attr(a), Lit(v))) => guarded(a)((mn, _) => mn <= v)
      case Fn("<=", Seq(Lit(v), Attr(a))) => guarded(a)((_, mx) => mx >= v)
      case Fn("in", Attr(a) +: vs) if vs.forall(_.isInstanceOf[Lit]) =>
        balancedOr(vs.collect {
          case Lit(v) => guarded(a)((mn, mx) => mn <= v && mx >= v)
        }).getOrElse(lit(true))
      case Fn("isnull", Seq(Attr(a))) =>
        if (!tracked.contains(a)) lit(true)
        else coalesce(col(s"nulls__$a") > 0L, lit(true))
      case Fn("isnotnull", Seq(Attr(a))) =>
        if (!tracked.contains(a)) lit(true)
        else coalesce(col(s"nulls__$a") < col("rows__"), lit(true))
      case _ => lit(true)
    }
  }

  /** Snapshot read with manifest-stats file skipping: resolves the version,
    * evaluates [[surviveCond]] over the per-file stats (typed — min/max
    * strings are parsed back to the column's type, timestamps via unix
    * micros) with Catalyst on a metadata-sized local DataFrame, reads only
    * surviving files, and applies `predicate` as the residual filter.
    * Semantically identical to `read(...).filter(predicate)`; at 100 TB it
    * reads the log instead of the data to decide what to open.
    */
  def readPruned(
      spark: SparkSession,
      root: String,
      predicate: Column,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(root))
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    val snap = readSnapshotSlim(root, v)
    if (snap.isSlim) {
      // r14: past the slim threshold the survive test runs as a Spark job
      // over the checkpoint's parquet sidecar — the driver never holds the
      // full file list, only the survivors it is about to open
      val (m2, surviving) =
        prunedSlim(spark, root, snap, GraftBridge.pred(predicate))
      readFiles(spark, root, m2, surviving).filter(predicate)
    } else {
      val m = snap.meta
      val surviving = prunedFiles(spark, root, m, predicate)
      readFiles(spark, root, m, surviving).filter(predicate)
    }
  }

  /** Distributed min/max pruning over a SLIM snapshot (r13 verdict #1):
    * semantically identical to [[prunedByPred]], but the typed survive
    * test evaluates as a Spark job over the parquet sidecar (+ the delta
    * adds as a local frame, minus the delta removes by anti-join) and the
    * driver collects only the SURVIVING files' stats. Transform and bloom
    * pruning then run on the survivor set exactly as on the driver path.
    * Returns (meta manifest restricted to survivors, final pruned paths).
    */
  private[sources] def prunedSlim(spark: SparkSession, root: String,
      snap: SlimSnapshot, pred0: GraftBridge.Pred): (Manifest, Seq[String]) = {
    val m = snap.meta
    val schema = schemaOf(m)
    def tr(p: GraftBridge.Pred): GraftBridge.Pred = p match {
      case GraftBridge.Attr(a) => GraftBridge.Attr(m.physOf(a))
      case GraftBridge.Fn(n, args) => GraftBridge.Fn(n, args.map(tr))
      case other => other
    }
    val pred = if (m.colMapOrEmpty.isEmpty) pred0 else tr(pred0)
    val tracked = schema.fields.filter(f => statTracked(f.dataType))
      .map(f => m.physOf(f.name) -> f.dataType)
    import scala.jdk.CollectionConverters._
    val refDF = statsParquetDF(spark, root, snap.statsRef.get)
    val live =
      if (snap.refRemoves.isEmpty) refDF
      else refDF.join(
        broadcast(spark.createDataFrame(
          snap.refRemoves.map(org.apache.spark.sql.Row(_)).asJava,
          StructType(Seq(StructField("path", StringType))))),
        Seq("path"), "left_anti")
    val adds = spark.createDataFrame(
      m.statsOrNil.map(statRow).asJava, statsParquetSchema)
    val all = live.unionByName(adds)
    val enriched = tracked.foldLeft(all.withColumn("rows__", col("rows"))) {
      case (df, (c, dt)) =>
        df.withColumn(s"min__$c",
            statParse(element_at(col("mins"), lit(c)), dt))
          .withColumn(s"max__$c",
            statParse(element_at(col("maxs"), lit(c)), dt))
          .withColumn(s"nulls__$c", element_at(col("nullCounts"), lit(c)))
    }
    val survive = surviveCond(pred, tracked.map(_._1).toSet)
    val survivors = enriched.filter(survive)
      .select(statsParquetSchema.fieldNames.toIndexedSeq.map(col): _*)
      .collect().iterator.map(rowStat).toVector
    val m2 = m.copy(fileStats = survivors)
    val byTransform =
      transformPrune(m2, pred, tracked.toMap, survivors.map(_.path))
    (m2, bloomPrune(root, m2, pred, tracked.toMap, byTransform))
  }

  /** Scan-planning listing for the `graft-commitlog` FileIndex: the
    * (path, bytes) pairs of snapshot `snap` that survive the pushed V1
    * filters. On a slim snapshot both the prune AND the unfiltered listing
    * run over the parquet sidecar — the driver holds (path, bytes) pairs,
    * never the stats maps of a million files.
    */
  private[graft] def scanListing(spark: SparkSession, root: String,
      snap: SlimSnapshot,
      filters: Array[org.apache.spark.sql.sources.Filter]): Seq[(String, Long)] =
    if (!snap.isSlim) {
      val m = snap.meta
      val surviving =
        if (filters.isEmpty) m.files
        else pruneForSourceFilters(spark, m, filters, Some(root))
      val byPath = m.statsOrNil.map(s => s.path -> s.bytes).toMap
      surviving.map(p => p -> byPath.getOrElse(p, 0L))
    } else if (filters.isEmpty) {
      import scala.jdk.CollectionConverters._
      val refDF = statsParquetDF(spark, root, snap.statsRef.get)
      val live =
        if (snap.refRemoves.isEmpty) refDF
        else refDF.join(
          broadcast(spark.createDataFrame(
            snap.refRemoves.map(org.apache.spark.sql.Row(_)).asJava,
            StructType(Seq(StructField("path", StringType))))),
          Seq("path"), "left_anti")
      live.select(col("path"), col("bytes")).collect()
        .iterator.map(r => r.getString(0) -> r.getLong(1)).toVector ++
        snap.meta.statsOrNil.map(s => s.path -> s.bytes)
    } else {
      val pred = sourceFilterPred(filters)
      val (m2, surviving) = prunedSlim(spark, root, snap, pred)
      val byPath = m2.statsOrNil.map(s => s.path -> s.bytes).toMap
      surviving.map(p => p -> byPath.getOrElse(p, 0L))
    }

  /** The file subset [[readPruned]] would open (exposed for tests/EXPLAIN). */
  def prunedFiles(spark: SparkSession, m: Manifest, predicate: Column): Seq[String] =
    prunedByPred(spark, m, GraftBridge.pred(predicate), None)

  /** Root-aware variant: min/max skipping PLUS the per-file bloom-index
    * probe for equality/IN constraints (sidecars resolve against `root`).
    */
  def prunedFiles(spark: SparkSession, root: String, m: Manifest,
      predicate: Column): Seq[String] =
    prunedByPred(spark, m, GraftBridge.pred(predicate), Some(root))

  /** Log schema, exposed for the `graft-commitlog` data source
    * ([[graft.sources.commitlog.DefaultSource]]). */
  def manifestSchema(m: Manifest): StructType = schemaOf(m)

  /** Translate Catalyst-pushed V1 `sources.Filter`s to the pruning ADT and
    * return the surviving file set. Unsupported filter shapes degrade to
    * "keep" (the V1 contract re-applies all filters above the scan, so
    * pruning only ever skips I/O).
    */
  def pruneForSourceFilters(spark: SparkSession, m: Manifest,
      filters: Array[org.apache.spark.sql.sources.Filter],
      root: Option[String] = None): Seq[String] =
    prunedByPred(spark, m, sourceFilterPred(filters), root)

  private def sourceFilterPred(
      filters: Array[org.apache.spark.sql.sources.Filter]): GraftBridge.Pred = {
    import org.apache.spark.sql.{sources => sf}
    import GraftBridge.{Attr, Fn, Lit, Opaque, Pred}
    def l(v: Any): Pred = Lit(lit(v))
    def conv(f: sf.Filter): Pred = f match {
      case sf.EqualTo(a, v) => Fn("=", Seq(Attr(a), l(v)))
      case sf.GreaterThan(a, v) => Fn(">", Seq(Attr(a), l(v)))
      case sf.GreaterThanOrEqual(a, v) => Fn(">=", Seq(Attr(a), l(v)))
      case sf.LessThan(a, v) => Fn("<", Seq(Attr(a), l(v)))
      case sf.LessThanOrEqual(a, v) => Fn("<=", Seq(Attr(a), l(v)))
      case sf.In(a, vs) => Fn("in", Attr(a) +: vs.toIndexedSeq.map(l))
      case sf.IsNull(a) => Fn("isnull", Seq(Attr(a)))
      case sf.IsNotNull(a) => Fn("isnotnull", Seq(Attr(a)))
      case sf.And(x, y) => Fn("and", Seq(conv(x), conv(y)))
      case sf.Or(x, y) => Fn("or", Seq(conv(x), conv(y)))
      case _ => Opaque
    }
    filters.map(conv)
      .reduceOption((a, b) => Fn("and", Seq(a, b))).getOrElse(Opaque)
  }

  private def prunedByPred(spark: SparkSession, m: Manifest,
      pred0: GraftBridge.Pred, root: Option[String]): Seq[String] = {
    val schema = schemaOf(m)
    val stats = m.statsOrNil
    if (stats.isEmpty) return m.files
    // Stats are keyed by PHYSICAL column names (stable across renames);
    // predicates arrive on logical names — translate attribute refs.
    def tr(p: GraftBridge.Pred): GraftBridge.Pred = p match {
      case GraftBridge.Attr(a) => GraftBridge.Attr(m.physOf(a))
      case GraftBridge.Fn(n, args) => GraftBridge.Fn(n, args.map(tr))
      case other => other
    }
    val pred = if (m.colMapOrEmpty.isEmpty) pred0 else tr(pred0)
    val tracked = schema.fields.filter(f => statTracked(f.dataType))
      .map(f => m.physOf(f.name) -> f.dataType)
    val statRows = stats.map { s =>
      org.apache.spark.sql.Row.fromSeq(
        s.path +: s.rows +: tracked.toIndexedSeq.flatMap { case (c, _) =>
          Seq(s.minsOrEmpty.get(c).orNull, s.maxsOrEmpty.get(c).orNull,
            // Map[String, Long] values arrive from Jackson as boxed Integers
            // (erasure): widen via Any → Number — a Long-typed lambda would
            // insert an unbox and throw.
            Option(s.nullCounts).getOrElse(Map.empty[String, Long])
              .asInstanceOf[Map[String, Any]].get(c)
              .map(v => java.lang.Long.valueOf(v.asInstanceOf[Number].longValue))
              .orNull)
        })
    }
    val statSchema = StructType(
      StructField("path__", StringType) +: StructField("rows__", LongType) +:
        tracked.toIndexedSeq.flatMap { case (c, _) => Seq(
          StructField(s"mins__$c", StringType),
          StructField(s"maxs__$c", StringType),
          StructField(s"nulls__$c", LongType))
        })
    val typed = spark.createDataFrame(statRows.asJava, statSchema)
      .select(col("path__") +: col("rows__") +:
        tracked.toIndexedSeq.flatMap { case (c, dt) =>
          Seq(statParse(col(s"mins__$c"), dt).as(s"min__$c"),
            statParse(col(s"maxs__$c"), dt).as(s"max__$c"),
            col(s"nulls__$c"))
        }: _*)
    val survive = surviveCond(pred, tracked.map(_._1).toSet)
    val kept = typed.filter(survive).select("path__").collect().map(_.getString(0))
    val byMinMax = m.files.filter(kept.contains)
    val byTransform = transformPrune(m, pred, tracked.toMap, byMinMax)
    root match {
      case None => byTransform
      case Some(r) => bloomPrune(r, m, pred, tracked.toMap, byTransform)
    }
  }

  /** Hidden-partitioning equality pruning: bucket/truncate layouts derive
    * their partition value from the source column, so an equality (or IN)
    * constraint on the SOURCE column determines which partition values can
    * match — the probe computes bucket = pmod(murmur3(v), N) with the
    * engine's own hash expression (the exact function [[PartField.derive]]
    * aggregates at write), or the W-prefix for truncate. Time grains need
    * no logic here: one grain per file makes the source column's min/max
    * tight, and plain stats pruning already uses those. Files without a
    * recorded partition value (pre-transform generations after a spec
    * evolution) always survive — the evolution contract.
    */
  private def transformPrune(m: Manifest, pred: GraftBridge.Pred,
      dtByPhys: Map[String, DataType], candidates: Seq[String]): Seq[String] = {
    val fields = m.partitionByOrNil.map(parsePartField)
      .filter(f => f.fn == "bucket" || f.fn == "truncate" || f.fn == "ibucket")
    if (fields.isEmpty) return candidates
    val cons = bloomEqConstraints(pred).toMap
    val statBy = m.statsOrNil.map(s => s.path -> s).toMap
    def expected(f: PartField, vs: Seq[Any]): Option[Set[String]] = {
      val dt = dtByPhys.get(m.physOf(f.source))
      val per = vs.map { v =>
        (f.fn, dt) match {
          case ("ibucket", Some(d)) =>
            // the spec's own hash — must equal what derive() wrote
            graft.functions.IcebergHash.bucketOfValue(v, d, f.arg)
              .map(_.toString)
          case ("bucket", Some(d)) =>
            try {
              val h = org.apache.spark.sql.catalyst.expressions
                .Murmur3Hash(Seq(org.apache.spark.sql.catalyst.expressions
                  .Literal.create(v, d)), 42)
                .eval(null).asInstanceOf[Int]
              Some((((h % f.arg) + f.arg) % f.arg).toString)
            } catch { case scala.util.control.NonFatal(_) => None }
          case ("truncate", _) =>
            // W counts CODE POINTS, matching the write side: derive()'s
            // substring() is UTF8String.substringSQL, which is code-point
            // based (as is Iceberg's truncate). String.take(W) counts
            // UTF-16 code units, so for values with supplementary chars
            // (emoji) the probe prefix would differ from the stored
            // partition value and silently prune a file that holds the key.
            val s = String.valueOf(v)
            val n = math.min(f.arg, s.codePointCount(0, s.length))
            Some(s.substring(0, s.offsetByCodePoints(0, n)))
          case _ => None
        }
      }
      // any uncomputable member makes the constraint unprunable
      if (per.forall(_.isDefined)) Some(per.flatten.toSet) else None
    }
    val checks = fields.flatMap { f =>
      cons.get(m.physOf(f.source)).flatMap(vs => expected(f, vs))
        .map(exp => (f.key(m.physOf), exp))
    }
    if (checks.isEmpty) return candidates
    candidates.filter { path =>
      val parts = statBy.get(path).map(_.partitionsOrEmpty).getOrElse(Map.empty)
      checks.forall { case (key, exp) =>
        parts.get(key).forall(v =>
          // the writer maps null AND empty-string partition values to the
          // Hive default directory — such a file may hold rows whose
          // derived value we cannot reconstruct, so it always survives
          v == "__HIVE_DEFAULT_PARTITION__" || exp.contains(v))
      }
    }
  }

  /** Top-level-conjunct equality/IN constraints of a pruning predicate:
    * column → the literal values one of which a file MUST contain to
    * survive. OR branches and non-literal shapes are simply not extracted
    * (conservative), and a null literal never constrains.
    */
  private def bloomEqConstraints(p: GraftBridge.Pred): Seq[(String, Seq[Any])] = {
    import GraftBridge.{Attr, Fn, Lit}
    def raw(l: Lit): Option[Any] =
      GraftBridge.litRaw(l.value).filter(_ != null)
    p match {
      case Fn("and", Seq(l, r)) => bloomEqConstraints(l) ++ bloomEqConstraints(r)
      case Fn("=" | "==", Seq(Attr(a), l: Lit)) =>
        raw(l).map(v => a -> Seq(v)).toSeq
      case Fn("=" | "==", Seq(l: Lit, Attr(a))) =>
        raw(l).map(v => a -> Seq(v)).toSeq
      case Fn("in", Attr(a) +: vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Lit]) =>
        val raws = vs.collect { case l: Lit => raw(l) }
        // any non-extractable member makes the IN unprunable (it might
        // match a row the extractable members don't)
        if (raws.forall(_.isDefined)) Seq(a -> raws.flatten) else Nil
      case _ => Nil
    }
  }

  /** Drop min/max survivors whose bloom sidecar PROVES every required
    * equality value absent. Files without a sidecar (or without a sketch
    * for the constrained column) always survive; a bloom positive is only
    * "might contain" — the residual filter above the scan stays load-
    * bearing either way, so false positives cost I/O, never correctness.
    */
  private def bloomPrune(root: String, m: Manifest, pred: GraftBridge.Pred,
      dtByPhys: Map[String, DataType], candidates: Seq[String]): Seq[String] = {
    val cons = bloomEqConstraints(pred)
    if (cons.isEmpty) return candidates
    val statBy = m.statsOrNil.map(s => s.path -> s).toMap
    // one batched (cache-aware, parallel) load of every needed sidecar,
    // not a sequential read inside the per-file filter
    val sidecarOf: Map[String, String] = candidates.flatMap(f =>
      statBy.get(f).flatMap(_.bloomOpt).map(bp => f -> dataPath(root, bp))).toMap
    val sketchesBy = readBloomSidecars(sidecarOf.values.toSeq)
    candidates.filter { f =>
      sidecarOf.get(f).flatMap(sketchesBy.get) match {
        case None => true
        case Some(sketches) =>
          cons.forall { case (a, vs) =>
            (sketches.get(a), dtByPhys.get(a)) match {
              case (Some(bf), Some(dt)) =>
                vs.exists(v =>
                  xxh64Of(v, dt).forall(bf.mightContainLong))
              case _ => true
            }
          }
      }
    }
  }

  /** Z-order clustering rewrite (OPTIMIZE … ZORDER BY): sort the snapshot
    * by the interleaved-bit order of the given numeric columns and split it
    * into `nFiles` range partitions, so every file covers a small
    * hyper-rectangle of the clustering space — manifest min/max stats then
    * prune effectively on ANY of the clustered columns, not just the first
    * sort key (lexicographic sort only tightens the leading column).
    *
    * Each column is min/max-normalized to 16 bits (one metadata-sized
    * aggregate), bits are interleaved into one BIGINT z-value, and the
    * write is `repartitionByRange(z)` — a single shuffle of the snapshot,
    * the same cost as any compaction rewrite. One new commit; pinned
    * readers keep their snapshot. On a partitioned table the z-ranged
    * tasks still split per partition value, so the layout contract holds.
    *
    * `curve = "hilbert"` swaps the interleave for the Hilbert index
    * ([[graft.functions.Hilbert]] — the liquid-clustering curve): jump-free
    * by construction, so consecutive curve positions are grid-adjacent and
    * file min/max boxes come out tighter than Z's seam-crossing ranges on
    * the same data (HilbertSpec measures the skipping difference). Same
    * normalization, same single shuffle, same commit shape.
    *
    * `scopePaths` clusters ONLY those files (the incremental path — see
    * [[clusterIncremental]]): out-of-scope files carry by reference, so
    * re-clustering cost is O(debt), never O(table). Normalization ranges
    * come from the scoped data alone — file skipping prunes on DATA
    * min/max boxes, so cross-commit curve-value consistency is a locality
    * nicety, not a correctness requirement.
    */
  def cluster(spark: SparkSession, root: String, cols: Seq[String],
      nFiles: Int = 16, curve: String = "zorder",
      scopePaths: Option[Set[String]] = None): Long = {
    require(cols.nonEmpty && cols.size <= 4, "cluster on 1-4 numeric columns")
    require(curve == "zorder" || curve == "hilbert",
      s"curve must be zorder or hilbert, got $curve")
    commitOn(root) { prior =>
      val m = prior
        .getOrElse(throw new IllegalStateException(s"no commits at $root"))
      val scoped = scopePaths.map(_.toSeq.sorted)
      // an empty scope: no debt — nothing to do
      if (scoped.exists(_.isEmpty)) None
      else {
        val df = scoped match {
          case Some(paths) => readFiles(spark, root, m, paths)
          case None => read(spark, root, Some(m.version))
        }
        val aggCols = cols.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(col(c)).cast("double").as(s"mn$i"),
            max(col(c)).cast("double").as(s"mx$i"))
        }
        val ranges = df.agg(aggCols.head, aggCols.tail: _*).collect()(0)
        // 16-bit normalized coordinate per column, bit-interleaved into z
        val coords = cols.zipWithIndex.map { case (c, i) =>
          val mn = ranges.getAs[Double](s"mn$i")
          val span = math.max(ranges.getAs[Double](s"mx$i") - mn, java.lang.Double.MIN_VALUE)
          least(floor((col(c).cast("double") - lit(mn)) / lit(span) * 65536.0), lit(65535.0))
            .cast("long").as(s"u$i")
        }
        val k = cols.size
        val zExpr =
          if (curve == "hilbert") {
            graft.functions.GraftFunctions.register(spark)
            expr(s"hilbert_index(array(${cols.indices.map(i => s"u$i").mkString(", ")}))")
          } else (0 until 16).flatMap { b =>
            (0 until k).map { i =>
              shiftleft(shiftright(col(s"u$i"), b).bitwiseAND(lit(1L)), b * k + i)
            }
          }.reduce[Column](_.bitwiseOR(_))
        val out = df
          .select((df.columns.map(col) ++ coords).toIndexedSeq: _*)
          .withColumn("_graft_z", zExpr)
          .repartitionByRange(nFiles, col("_graft_z"))
          .sortWithinPartitions("_graft_z")
          .drop((cols.indices.map(i => s"u$i") :+ "_graft_z"): _*)
        // preArranged: the z-range layout IS the point — staging must not
        // re-shuffle it (the partitionBy writer still splits per value, so a
        // partitioned table gets z-clustered files within each partition).
        val add = stageWithStats(out, root, m.partitionByOrNil,
          preArranged = true, colMap = m.colMapOrEmpty,
          props = m.propsOrEmpty)
        Some(nextCommit(prior, "cluster").copy(schemaJson = df.schema.json,
          add = add, remove = scoped.getOrElse(m.files)))
      }
    }
  }

  /** Incremental clustering — liquid clustering's actual maintenance
    * behavior: only files landed SINCE the last `cluster` commit (the
    * debt) rewrite onto the curve; the previously-clustered bulk carries
    * by reference. Finds the newest `cluster` commit by walking the log
    * backwards (driver metadata); no prior cluster — or history vacuumed
    * past it — falls back to a full cluster once. At 100 TB this is the
    * difference between a nightly rewrite of yesterday's files and a
    * nightly rewrite of the table.
    */
  def clusterIncremental(spark: SparkSession, root: String, cols: Seq[String],
      nFiles: Int = 16, curve: String = "zorder"): Long = {
    val base = currentVersion(root)
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    val lastCluster = Iterator.range(base, 0L, -1L)
      .map(v => v -> scala.util.Try(readManifest(root, v)).toOption)
      .takeWhile(_._2.isDefined) // stop at vacuumed-away history
      .collectFirst { case (v, Some(m)) if m.op == "cluster" => m }
    lastCluster match {
      case None => cluster(spark, root, cols, nFiles, curve)
      case Some(cm) =>
        val clustered = cm.files.toSet
        val m = readManifest(root, base)
        val debt = m.files.filterNot(clustered).toSet
        // size outputs to the debt, capped by the caller's nFiles
        val debtBytes = m.statsOrNil.filter(s => debt(s.path)).map(_.bytes).sum
        val n = math.max(1, math.min(nFiles,
          math.ceil(debtBytes.toDouble / (128L * 1024 * 1024)).toInt))
        cluster(spark, root, cols, n, curve, scopePaths = Some(debt))
    }
  }

  /** RESTORE: make the table's CURRENT contents equal an earlier
    * snapshot's, as one new commit (Delta's RESTORE TABLE ... TO VERSION).
    * Pure metadata — the commit adds back the files of `toVersion` that
    * the current snapshot dropped and removes the ones it added since; no
    * data moves, history stays intact (the mistake being undone remains
    * time-travelable), and vacuum retention still governs when any file
    * is physically reclaimed. Fails cleanly if `toVersion`'s record chain
    * was vacuumed away.
    */
  def restore(root: String, toVersion: Long): Long = commitOn(root) { prior =>
    val cur = prior
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    require(toVersion <= cur.version,
      s"cannot restore to future version $toVersion")
    val target = readManifest(root, toVersion)
    val curPaths = cur.files.toSet
    val targetPaths = target.files.toSet
    // the txn map is inherited: writer watermarks are NOT rolled back — a
    // replayed streaming batch id stays consumed (restore undoes data, not
    // idempotence history)
    Some(nextCommit(prior, "restore").copy(schemaJson = target.schemaJson,
      add = target.statsOrNil.filterNot(s => curPaths(s.path)),
      remove = cur.files.filterNot(targetPaths),
      partitionBy = target.partitionByOrNil,
      constraints = target.constraintsOrEmpty, // metadata reverts WITH the
      // data: the target snapshot was validated against its own CHECK set;
      // constraints added afterward never saw these rows (foldCommit applies
      // this set for op == "restore")
      dvs = target.dvsOrEmpty, // deletion vectors likewise revert wholesale
      colMap = target.colMapOrEmpty, // and the column mapping: the target's
      retired = target.retiredOrNil, // names come back with its data
      props = target.propsOrEmpty)) // properties revert with the metadata
  }

  /** First version of the contiguous commit-file run ending at `cur` —
    * the oldest history still materializable after vacuums dropped a
    * prefix. Shared by [[history]] (display range) and [[vacuum]] (keep
    * clamp) so the two can never disagree about what survives.
    */
  private def earliestCommitOnDisk(root: String, cur: Long): Long = {
    var lo = cur
    while (lo > 1 && Files.exists(commitPath(root, lo - 1))) lo -= 1
    lo
  }

  /** Table history as a DataFrame (DESCRIBE HISTORY): one row per commit
    * still present in the log — version, op, files/rows/bytes added and
    * files removed. Pure metadata: reads the per-version commit records,
    * never a data file; with incremental commits each record already IS
    * the audit row, no snapshot diffing.
    */
  /** Static schema of [[history]]'s DataFrame — the SQL `DESCRIBE HISTORY`
    * command needs output attributes before execution.
    */
  val historySchema: Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    Seq(
      StructField("version", LongType, nullable = false),
      StructField("op", StringType, nullable = true),
      StructField("commit_ts", TimestampType, nullable = true),
      StructField("added_files", IntegerType, nullable = false),
      StructField("removed_files", IntegerType, nullable = false),
      StructField("added_rows", LongType, nullable = false),
      StructField("added_bytes", LongType, nullable = false),
      StructField("partition_by", StringType, nullable = true))
  }

  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no commits at $root"))
    val lo = earliestCommitOnDisk(root, cur)
    (lo to cur).map { v =>
      val c = readCommit(root, v)
      (v, c.op, new java.sql.Timestamp(c.ts), c.addOrNil.size, c.removeOrNil.size,
        c.addOrNil.map(_.rows).sum, c.addOrNil.map(_.bytes).sum,
        c.partitionByOrNil.mkString(","))
    }.toDF("version", "op", "commit_ts", "added_files", "removed_files",
      "added_rows", "added_bytes", "partition_by")
  }

  val statsSchema: Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    Seq(
      StructField("column", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("nulls", LongType, nullable = true),
      StructField("n_files", LongType, nullable = false),
      StructField("n_files_sketched", LongType, nullable = false),
      StructField("ndv", LongType, nullable = true))
  }

  /** Table-level column statistics from METADATA + NDV sidecars only —
    * never a data scan: row and null counts fold out of the manifest's
    * per-file stats, and distinct-count estimates come from hll_union of
    * the per-file HLL sketches (sketches merge losslessly, so the union
    * over any number of files is the same estimate one global sketch
    * would give — the property that makes per-file collection scale).
    * `rows` is DV-aware (live rows, dead positions subtracted — the
    * DESCRIBE DETAIL contract); `nulls`/`ndv` describe the STAGED file
    * contents (a deletion vector kills positions, not column stats).
    * `nulls` is null when unknown — columns outside stat tracking, or any
    * file without a recorded null count for the column (e.g. files
    * predating a schema-evolution ADD COLUMN, whose rows read as null but
    * whose stats never saw the column — reporting a partial sum would
    * silently undercount). `ndv` is null for columns no file has
    * sketched, and covers the sketched files (`n_files_sketched` says how
    * many — equal to `n_files` on a table whose `ndv.columns` property
    * predates all data). One row per LOGICAL schema column, in schema
    * order.
    */
  def describeStats(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no commits at $root"))
    val m = readManifest(root, v)
    val schema = schemaOf(m)
    val stats = m.statsOrNil
    val deadRows = m.dvsOrEmpty.values.toSeq.sorted match {
      case Nil => 0L
      case dvs => spark.read
        .schema(StructType(Seq(StructField("pos", LongType))))
        .parquet(dvs.map(f => dataPath(root, f)): _*)
        .count()
    }
    val totalRows = stats.map(_.rows).sum - deadRows
    // per-physical-column sketch rows from every referenced sidecar
    val bySidecar: Seq[Map[String, Array[Byte]]] = stats.flatMap(_.ndvOpt)
      .map(p => readSketchSidecar(dataPath(root, p), NdvMagic))
    val sketchedFiles: Map[String, Long] = bySidecar.flatMap(_.keys)
      .groupBy(identity).map { case (c, xs) => c -> xs.size.toLong }
    val ndvEst: Map[String, Long] =
      if (bySidecar.forall(_.isEmpty)) Map.empty
      else {
        val rows = bySidecar.flatMap(_.toSeq).map { case (c, b) =>
          org.apache.spark.sql.Row(c, b)
        }
        import org.apache.spark.sql.types._
        spark.createDataFrame(rows.asJava, StructType(Seq(
            StructField("c", StringType), StructField("sk", BinaryType))))
          .groupBy(col("c"))
          .agg(hll_sketch_estimate(
            hll_union_agg(col("sk"), allowDifferentLgConfigK = true)).as("ndv"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    val out = schema.fields.toSeq.map { f =>
      val phys = m.physOf(f.name)
      val tracked = statTracked(f.dataType)
      val nulls =
        if (!tracked) null
        else {
          val perFile = stats.map(s =>
            Option(s.nullCounts).getOrElse(Map.empty[String, Long])
              .asInstanceOf[Map[String, Any]].get(phys)
              .map(_.asInstanceOf[Number].longValue))
          if (perFile.forall(_.isDefined))
            java.lang.Long.valueOf(perFile.flatten.sum)
          else null // unknown (e.g. pre-evolution files) — never undercount
        }
      org.apache.spark.sql.Row(f.name, totalRows, nulls,
        stats.size.toLong, sketchedFiles.getOrElse(phys, 0L),
        ndvEst.get(phys).map(java.lang.Long.valueOf).orNull)
    }
    spark.createDataFrame(out.asJava,
      org.apache.spark.sql.types.StructType(statsSchema))
  }

  /** Exact metadata answers for a global aggregate (the
    * [[graft.plans.MetadataAggregate]] rewrite): total row count,
    * per-column non-null counts, and TYPED min/max — all folded from the
    * manifest's per-file stats, no data scan. Returns None whenever the
    * metadata cannot answer EXACTLY:
    *   - the snapshot carries deletion vectors (recorded per-file rows
    *     overcount),
    *   - a requested column lacks stats in some file that is not provably
    *     all-null there (nullCounts == rows), or is not stat-tracked.
    * min/max values come back as EXTERNAL Spark types via the same
    * statParse the pruner trusts, so parse semantics can never diverge
    * between pruning and answering.
    */
  final case class MetadataAgg(
      totalRows: Long,
      nonNullCounts: Map[String, Long],
      minMax: Map[String, (Any, Any)],
      // None = the SQL null sum (every contributing file all-null/empty)
      sums: Map[String, Option[Long]] = Map.empty)

  def metadataAggAnswers(spark: SparkSession, root: String,
      version: Option[Long], minMaxCols: Seq[String],
      countCols: Seq[String], sumCols: Seq[String] = Nil): Option[MetadataAgg] = {
    val v = version.orElse(currentVersion(root)).getOrElse(return None)
    val m = readManifest(root, v)
    if (m.dvsOrEmpty.nonEmpty) return None
    val schema = schemaOf(m)
    val stats = m.statsOrNil
    val totalRows = stats.map(_.rows).sum
    def nullsOf(s: FileStat, phys: String): Option[Long] =
      Option(s.nullCounts).getOrElse(Map.empty[String, Long])
        .asInstanceOf[Map[String, Any]].get(phys)
        .map(_.asInstanceOf[Number].longValue)
    def dtOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    // every requested column must be answerable from EVERY file
    val counts: Map[String, Long] = countCols.map { c =>
      val phys = m.physOf(c)
      if (!dtOf(c).exists(statTracked)) return None
      val perFile = stats.map(s => nullsOf(s, phys).getOrElse(return None))
      c -> (totalRows - perFile.sum)
    }.toMap
    val mmCols = minMaxCols.distinct.filter { c =>
      // a file may lack min/max ONLY if provably all-null there (or empty)
      dtOf(c).exists(statTracked) && stats.forall { s =>
        val phys = m.physOf(c)
        (s.minsOrEmpty.contains(phys) && s.maxsOrEmpty.contains(phys)) ||
          s.rows == 0L || nullsOf(s, phys).contains(s.rows)
      }
    }
    if (mmCols.size != minMaxCols.distinct.size) return None
    // exact sums: every file must carry a recorded sum or be provably
    // contribution-free (empty / all-null); a total outside Long range
    // declines so overflow keeps the scan's own semantics
    val sums: Map[String, Option[Long]] = sumCols.distinct.map { c =>
      val phys = m.physOf(c)
      if (!dtOf(c).exists(integralType)) return None
      val per: Seq[BigInt] = stats.flatMap { s =>
        s.sumsOrEmpty.get(phys) match {
          case Some(str) => Some(BigInt(new java.math.BigDecimal(str).toBigIntegerExact))
          case None =>
            if (s.rows == 0L || nullsOf(s, phys).contains(s.rows)) None
            else return None
        }
      }
      if (per.isEmpty) c -> None
      else {
        val t = per.sum
        if (t < BigInt(Long.MinValue) || t > BigInt(Long.MaxValue)) return None
        c -> Some(t.toLong)
      }
    }.toMap
    val minMax: Map[String, (Any, Any)] =
      if (mmCols.isEmpty) Map.empty
      else {
        // fold the per-file STRING stats through the same typed parse the
        // pruner uses, as one local (file-count-sized) aggregation
        val rows = stats.map { s =>
          org.apache.spark.sql.Row.fromSeq(mmCols.flatMap { c =>
            val phys = m.physOf(c)
            Seq(s.minsOrEmpty.get(phys).orNull, s.maxsOrEmpty.get(phys).orNull)
          })
        }
        val raw = StructType(mmCols.flatMap(c => Seq(
          StructField(s"mn__$c", StringType), StructField(s"mx__$c", StringType))))
        val aggs = mmCols.flatMap { c =>
          val dt = dtOf(c).get
          Seq(min(statParse(col(s"mn__$c"), dt)).as(s"min__$c"),
            max(statParse(col(s"mx__$c"), dt)).as(s"max__$c"))
        }
        val r = spark.createDataFrame(rows.asJava, raw)
          .agg(aggs.head, aggs.tail: _*).collect()(0)
        mmCols.map(c =>
          c -> (r.getAs[Any](s"min__$c"), r.getAs[Any](s"max__$c"))).toMap
      }
    Some(MetadataAgg(totalRows, counts, minMax, sums))
  }

  /** Grouped twin of [[metadataAggAnswers]]: answers `GROUP BY g` counts
    * and min/max from the manifest when every group column is
    * SINGLE-VALUED per file — min == max, the exact guarantee identity-
    * partition staging provides (or the file is provably all-null for the
    * column, the writer's default-partition case). Per group:
    * count(*) = Σ file rows, count(c) = Σ (rows − nulls), min/max fold
    * per-file min/max (files sit WHOLLY inside one group, so the fold is
    * exact). Returns one entry per group — (group values, row count,
    * non-null counts, min/max) — or None when any column cannot be
    * answered exactly. Zero-row files contribute nothing and are skipped.
    */
  final case class MetadataGroupRow(
      groupValues: Seq[Any],
      rows: Long,
      nonNullCounts: Map[String, Long],
      minMax: Map[String, (Any, Any)],
      sums: Map[String, Option[Long]])

  def metadataGroupAnswers(spark: SparkSession, root: String,
      version: Option[Long], groupCols: Seq[String], minMaxCols: Seq[String],
      countCols: Seq[String], sumCols: Seq[String] = Nil)
      : Option[Seq[MetadataGroupRow]] = {
    if (groupCols.isEmpty) return None
    val v = version.orElse(currentVersion(root)).getOrElse(return None)
    val m = readManifest(root, v)
    if (m.dvsOrEmpty.nonEmpty) return None
    val schema = schemaOf(m)
    val stats = m.statsOrNil.filter(_.rows > 0L)
    def dtOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    def nullsOf(s: FileStat, phys: String): Option[Long] =
      Option(s.nullCounts).getOrElse(Map.empty[String, Long])
        .asInstanceOf[Map[String, Any]].get(phys)
        .map(_.asInstanceOf[Number].longValue)
    def allNull(s: FileStat, phys: String): Boolean =
      nullsOf(s, phys).contains(s.rows)
    val g = groupCols.distinct
    val mm = minMaxCols.distinct
    val cc = countCols.distinct
    val sc = sumCols.distinct
    val answerable =
      g.forall { c =>
        val phys = m.physOf(c)
        dtOf(c).exists(statTracked) && stats.forall { s =>
          (s.minsOrEmpty.get(phys), s.maxsOrEmpty.get(phys)) match {
            case (Some(a), Some(b)) => a == b
            case _ => allNull(s, phys)
          }
        }
      } && mm.forall { c =>
        val phys = m.physOf(c)
        dtOf(c).exists(statTracked) && stats.forall(s =>
          (s.minsOrEmpty.contains(phys) && s.maxsOrEmpty.contains(phys)) ||
            allNull(s, phys))
      } && cc.forall { c =>
        val phys = m.physOf(c)
        dtOf(c).exists(statTracked) &&
          stats.forall(s => nullsOf(s, phys).isDefined)
      } && sc.forall { c =>
        val phys = m.physOf(c)
        dtOf(c).exists(integralType) && stats.forall(s =>
          s.sumsOrEmpty.contains(phys) || allNull(s, phys))
      }
    if (!answerable) return None
    // per-file local frame: group values + rows + per-column raw stats,
    // typed through the pruner's own statParse, then ONE tiny aggregate
    val rawFields =
      g.map(c => StructField(s"g__$c", StringType)) ++
        Seq(StructField("rows__", LongType)) ++
        cc.map(c => StructField(s"nulls__$c", LongType)) ++
        mm.flatMap(c => Seq(StructField(s"mn__$c", StringType),
          StructField(s"mx__$c", StringType))) ++
        sc.map(c => StructField(s"sm__$c", StringType))
    val rows = stats.map { s =>
      org.apache.spark.sql.Row.fromSeq(
        g.map(c => s.minsOrEmpty.get(m.physOf(c)).orNull) ++
          Seq(s.rows) ++
          cc.map(c => nullsOf(s, m.physOf(c)).get) ++
          mm.flatMap(c => Seq(s.minsOrEmpty.get(m.physOf(c)).orNull,
            s.maxsOrEmpty.get(m.physOf(c)).orNull)) ++
          sc.map(c => s.sumsOrEmpty.get(m.physOf(c)).orNull))
    }
    val typed = spark.createDataFrame(rows.asJava, StructType(rawFields))
      .select(
        g.map(c => statParse(col(s"g__$c"), dtOf(c).get).as(s"g__$c")) ++
          Seq(col("rows__")) ++
          cc.map(c => col(s"nulls__$c")) ++
          mm.flatMap(c => Seq(
            statParse(col(s"mn__$c"), dtOf(c).get).as(s"mn__$c"),
            statParse(col(s"mx__$c"), dtOf(c).get).as(s"mx__$c"))) ++
          sc.map(c => col(s"sm__$c")
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))
            .as(s"sm__$c")): _*)
    val aggs =
      Seq(sum(col("rows__")).as("n__")) ++
        cc.map(c => sum(col("rows__") - col(s"nulls__$c")).as(s"cnt__$c")) ++
        mm.flatMap(c => Seq(min(col(s"mn__$c")).as(s"min__$c"),
          max(col(s"mx__$c")).as(s"max__$c"))) ++
        sc.map(c => sum(col(s"sm__$c")).as(s"sum__$c"))
    val out = typed.groupBy(g.map(c => col(s"g__$c")): _*)
      .agg(aggs.head, aggs.tail: _*).collect()
    Some(out.toSeq.map { r =>
      val gvals = groupCols.map(c => r.getAs[Any](s"g__$c"))
      val n = r.getAs[Long]("n__")
      val counts = cc.map(c => c -> r.getAs[Long](s"cnt__$c")).toMap
      val mmVals = mm.map(c =>
        c -> (r.getAs[Any](s"min__$c"), r.getAs[Any](s"max__$c"))).toMap
      val sumVals = sc.map { c =>
        c -> (Option(r.getAs[java.math.BigDecimal](s"sum__$c")) match {
          case None => None // every file in the group all-null → SQL null
          case Some(d) =>
            // outside Long range: decline the whole rewrite (keep the
            // scan's own overflow semantics) rather than wrap differently
            try Some(d.toBigIntegerExact.longValueExact)
            catch { case _: ArithmeticException => return None }
        })
      }.toMap
      MetadataGroupRow(gvals, n, counts, mmVals, sumVals)
    })
  }

  /** Time-based time travel (Delta's `timestampAsOf`): the snapshot that
    * was current at instant `tsMs` — the LAST version whose publish
    * timestamp is ≤ tsMs. Resolution reads commit records still on disk
    * (vacuumed history is not time-resolvable); pre-timestamp commits
    * (ts = 0) are treated as older than any queried instant.
    */
  def readAsOf(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    read(spark, root, Some(versionAsOf(root, tsMs)))

  /** The version that was current at `tsMs` (see [[readAsOf]]). */
  def versionAsOf(root: String, tsMs: Long): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no commits at $root"))
    val lo = earliestCommitOnDisk(root, cur)
    (lo to cur).reverse
      .find(readCommit(root, _).ts <= tsMs)
      .getOrElse(throw new IllegalArgumentException(
        s"no version at or before timestamp $tsMs at $root " +
          s"(earliest on disk: ${readCommit(root, lo).ts})"))
  }

  /** Incremental OPTIMIZE (Delta's bin-packing compaction): rewrite ONLY
    * files smaller than `targetBytes` into ~target-sized files; every
    * already-right-sized file moves into the new commit by reference,
    * stats intact. Cost is O(small files), never O(table) — on a 100 TB
    * table fed by streaming micro-batches this runs continuously against
    * the fresh small-file tail while the compacted bulk is untouched.
    * Partitioned tables re-stage under their spec (the layout contract
    * holds). Returns the new version, or the current one if there was
    * nothing to do.
    */
  def optimize(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024,
      where: Option[Column] = None,
      scopePaths: Option[Set[String]] = None): Long = commitOn(root) { prior =>
    val m = prior
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    val spec = m.partitionByOrNil
    // OPTIMIZE ... WHERE: restrict the candidate set to files the
    // predicate might touch (manifest-stats + transform pruning — a
    // metadata decision). Compaction semantics are file-granular, so a
    // partially-matching file rewrites WHOLE (rows are never dropped);
    // the predicate targets WHICH files are worth compacting — Delta's
    // partition-scoped OPTIMIZE, without restricting the user to
    // partition columns. At 100 TB this is the difference between
    // compacting yesterday's hot partition and touching the whole table.
    // (`scopePaths` is the pre-pruned form the SQL command passes, since
    // a parser-built predicate translates through V1 filters, not the
    // Column-node bridge.)
    val scope: FileStat => Boolean =
      scopePaths.map(set => (st: FileStat) => set.contains(st.path))
        .orElse(where.map { p =>
          val surviving = prunedFiles(spark, root, m, p).toSet
          (st: FileStat) => surviving.contains(st.path)
        })
        .getOrElse((_: FileStat) => true)
    // Convergence: candidates are files under HALF the target (Delta's
    // minFileSize-below-maxFileSize split). Outputs land in
    // [target/2, target] — sum/ceil(sum/target) ≥ target/2 whenever more
    // than one file merges — so a produced file is never re-selected; the
    // one sub-half-target straggler a merge can leave is excluded by the
    // ≤1-candidate guards below. Selecting up to the full target instead
    // re-selects its own output forever (e.g. two 0.75·target files merge
    // into two 0.75·target files, every pass).
    val smallAll = m.statsOrNil.filter(s => s.bytes < targetBytes / 2 && scope(s))
    val small =
      if (spec.isEmpty) { if (smallAll.size <= 1) Nil else smallAll }
      else smallAll.groupBy(_.partitionsOrEmpty).valuesIterator
        .filter(_.size >= 2).flatten.toSeq
    if (small.isEmpty) None // nothing worth rewriting
    else {
      val smallBytes = small.map(_.bytes).sum
      val smallRows = math.max(1L, small.map(_.rows).sum)
      val df = readFiles(spark, root, m, small.map(_.path))
      val n = math.max(1, math.ceil(smallBytes.toDouble / targetBytes).toInt)
      val out = if (spec.isEmpty) df.repartition(n) else df
      // Cap rows per output file from the candidates' observed bytes/row,
      // so a partition whose small files sum far past the target still
      // splits into ~target-sized files instead of one oversized
      // single-task write.
      val rowsPerFile = math.max(1L,
        (targetBytes.toDouble / (smallBytes.toDouble / smallRows)).toLong)
      val add = stageWithStats(out, root, spec,
        maxRecordsPerFile = rowsPerFile, colMap = m.colMapOrEmpty,
        props = m.propsOrEmpty)
      Some(nextCommit(prior, "optimize").copy(add = add,
        remove = small.map(_.path)))
    }
  }

  // --------------------------------------------------------------------
  // Integrity: FSCK + repair
  // --------------------------------------------------------------------

  /** One manifest↔storage inconsistency found by [[fsck]]. `kind` ∈
    * missing-file | size-mismatch | missing-dv | missing-bloom |
    * missing-ndv.
    */
  final case class FsckIssue(kind: String, path: String, detail: String)

  /** Verify the CURRENT manifest against storage — the operational check
    * after a botched restore/copy/manual cleanup (the published Delta
    * FSCK concept). Driver metadata pass: one existence/size probe per
    * referenced file (data, DV, sidecars), zero data reads — O(files)
    * against the manifest, never O(bytes). Read-only; [[fsckRepair]]
    * commits the fixes.
    */
  def fsck(root: String): Seq[FsckIssue] = {
    val cur = currentVersion(root)
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    val m = readManifest(root, cur)
    def probe(rel: String): Option[Long] = {
      val p = Paths.get(dataPath(root, rel))
      if (Files.isRegularFile(p)) Some(Files.size(p)) else None
    }
    val issues = Seq.newBuilder[FsckIssue]
    m.statsOrNil.foreach { s =>
      probe(s.path) match {
        case None =>
          issues += FsckIssue("missing-file", s.path,
            s"manifest v$cur references a data file absent on storage")
        case Some(sz) if s.bytes > 0L && sz != s.bytes =>
          issues += FsckIssue("size-mismatch", s.path,
            s"recorded ${s.bytes} bytes, found $sz")
        case _ => ()
      }
      s.bloomOpt.filter(probe(_).isEmpty).foreach(b =>
        issues += FsckIssue("missing-bloom", s.path, s"sidecar $b absent"))
      s.ndvOpt.filter(probe(_).isEmpty).foreach(nv =>
        issues += FsckIssue("missing-ndv", s.path, s"sidecar $nv absent"))
    }
    m.dvsOrEmpty.foreach { case (file, dv) =>
      if (probe(dv).isEmpty)
        issues += FsckIssue("missing-dv", file,
          s"deletion vector $dv absent — file entry must be dropped " +
            "(reading without it would resurrect deleted rows)")
    }
    issues.result()
  }

  /** Commit the repairs for [[fsck]]'s findings: file entries whose data
    * file OR deletion vector is gone are REMOVED from the manifest
    * (Delta's FSCK semantics — acknowledging the loss beats failing every
    * scan; a missing DV drops its whole entry because reading the file
    * without it would resurrect deleted rows); entries with a missing
    * bloom/NDV sidecar are re-added with the reference CLEARED (pruning
    * falls back to stats, DESCRIBE STATS to declining). Size mismatches
    * are NOT auto-repaired — recorded stats may no longer describe the
    * bytes, which needs a rewrite, not a metadata edit. Returns the new
    * version (current one if nothing to repair).
    */
  def fsckRepair(root: String): Long = commitOn(root, retry = true) { prior =>
    val m = prior
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    val issues = fsck(root)
    if (issues.isEmpty) None
    else {
      val dead = issues.collect {
        case FsckIssue("missing-file" | "missing-dv", p, _) => p
      }.toSet
      val sidecarless = issues.collect {
        case FsckIssue("missing-bloom" | "missing-ndv", p, _) => p
      }.toSet -- dead
      val readd = m.statsOrNil.filter(s => sidecarless(s.path)).map { s =>
        val dropBloom = s.bloomOpt.exists(b =>
          !Files.isRegularFile(Paths.get(dataPath(root, b))))
        val dropNdv = s.ndvOpt.exists(nv =>
          !Files.isRegularFile(Paths.get(dataPath(root, nv))))
        s.copy(bloom = if (dropBloom) null else s.bloom,
          ndv = if (dropNdv) null else s.ndv)
    }
    // a re-added entry must carry its LIVE deletion vector through the
    // remove/re-add (fold drops removed paths' DV mappings) — losing it
    // would resurrect deleted rows
    val keepDvs = m.dvsOrEmpty.filter { case (f, _) => sidecarless(f) }
    Some(nextCommit(prior, "fsck").copy(add = readd,
      remove = (dead ++ sidecarless).toSeq.sorted, dvs = keepDvs))
    }
  }

  // --------------------------------------------------------------------
  // Named refs (tags)
  // --------------------------------------------------------------------

  private def refsDir(root: String): Path = Paths.get(root, "_graft_log", "refs")
  private def refPath(root: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]{1,64}"), s"invalid tag name: $name")
    refsDir(root).resolve(s"$name.json")
  }
  private final case class RefHint(version: Long)

  /** Immutably tag a version (default: current) under `name` — the
    * published Iceberg tag concept: a named, vacuum-pinned snapshot
    * ("the v2.3 training corpus"). Creation is the same create-if-absent
    * primitive as a commit (atomic hard link), so racing taggers get one
    * winner; re-tagging a name requires [[untag]] first.
    */
  def tag(root: String, name: String, version: Option[Long] = None): Long = {
    val v = version.orElse(currentVersion(root))
      .getOrElse(throw new IllegalStateException(s"no commits at $root"))
    readManifest(root, v) // validate resolvable before publishing the ref
    requireNoVacuumBelow(root, v)
    Files.createDirectories(refsDir(root))
    val tmp = Files.createTempFile(refsDir(root), s".$name", ".tmp")
    Files.write(tmp, mapper.writeValueAsBytes(RefHint(v)))
    try Files.createLink(refPath(root, name), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(s"tag '$name' already exists at $root")
    } finally Files.deleteIfExists(tmp)
    // Double-check AFTER the ref is visible — this closes the
    // tag-during-vacuum race. A vacuum reads the refs dir once, right
    // after publishing its barrier; interleavings resolve as:
    //  - our link landed before that read  → the vacuum pins us;
    //  - it landed after                   → either the barrier is still
    //    up here (back out cleanly), or the vacuum already finished and
    //    the re-validation below proves the version still resolves (it
    //    does iff it was ≥ the keep boundary or pinned by another tag).
    // Either way a surviving tag always names live files.
    try {
      requireNoVacuumBelow(root, v)
      readManifest(root, v)
    } catch {
      case e: Throwable =>
        Files.deleteIfExists(refPath(root, name))
        throw new IllegalStateException(
          s"tag '$name' lost a race with a concurrent vacuum — retry after " +
            s"it completes (${e.getMessage})")
    }
    v
  }

  // --------------------------------------------------------------------
  // Vacuum barrier: tag/vacuum coordination
  // --------------------------------------------------------------------

  private final case class VacuumHint(keepFrom: Long, ts: Long)
  private def vacuumBarrierPath(root: String): Path =
    logDir(root).resolve("_vacuum_in_progress")

  /** A crashed vacuum must not block tagging forever: barriers older than
    * this are ignored (a healthy vacuum's tag-sensitive window — metadata
    * writes plus file deletion — is seconds; a day is paranoid-safe).
    */
  private val VacuumBarrierStaleMs: Long = 24L * 3600 * 1000

  private def activeVacuumBoundary(root: String): Option[Long] = {
    val p = vacuumBarrierPath(root)
    if (!Files.exists(p)) None
    else
      try {
        val h = mapper.readValue(Files.readAllBytes(p), classOf[VacuumHint])
        if (System.currentTimeMillis() - h.ts > VacuumBarrierStaleMs) None
        else Some(h.keepFrom)
      } catch { case _: Exception => None } // torn write: barrier ignored
  }

  private def requireNoVacuumBelow(root: String, v: Long): Unit =
    activeVacuumBoundary(root).filter(_ > v).foreach { b =>
      throw new IllegalStateException(
        s"a concurrent vacuum (keep boundary $b) may reclaim version $v " +
          "— tag after it completes")
    }

  private def withVacuumBarrier[A](root: String, keepFrom: Long)(body: => A): A = {
    Files.createDirectories(logDir(root))
    Files.write(vacuumBarrierPath(root),
      mapper.writeValueAsBytes(VacuumHint(keepFrom, System.currentTimeMillis())))
    try body finally Files.deleteIfExists(vacuumBarrierPath(root))
  }

  /** All tags as name → version. */
  def tags(root: String): Map[String, Long] =
    if (!Files.isDirectory(refsDir(root))) Map.empty
    else withList(refsDir(root)) {
      _.filter(_.getFileName.toString.endsWith(".json")).map { p =>
        p.getFileName.toString.stripSuffix(".json") ->
          mapper.readValue(Files.readAllBytes(p), classOf[RefHint]).version
      }.toMap
    }

  /** Snapshot read by tag name. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, Some(tags(root).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $root"))))

  /** Drop a tag; its version becomes vacuumable like any other. */
  def untag(root: String, name: String): Boolean =
    Files.deleteIfExists(refPath(root, name))

  /** Drop history older than the last `keepVersions` versions and delete
    * data files referenced by NO surviving version. Bounds time-travel
    * history. Before anything is deleted, a checkpoint is written at the
    * keep boundary so every surviving version stays resolvable without the
    * dropped commits.
    *
    * TAGGED versions are pinned: each tagged version below the keep
    * boundary gets its own full checkpoint (so it resolves without its
    * dropped delta chain), its checkpoint survives, and its files stay
    * live — vacuum never invalidates a named snapshot. Tags racing a
    * running vacuum are coordinated through the vacuum barrier: the
    * barrier is published BEFORE the refs dir is read, and [[tag]]
    * re-checks the barrier after publishing its ref — so a tag either
    * lands before the read (pinned), backs out cleanly, or re-validates
    * against the post-vacuum log. A surviving tag always names live files.
    *
    * `retentionMs`: unreferenced files YOUNGER than this are kept — they
    * may be a concurrent writer's staged-but-unpublished commit, and
    * deleting them would make its published commit reference missing files
    * (silent data loss). Pass 0 only when no other writer can be active.
    *
    * `barrierHook` is a test seam: invoked with the barrier up, before the
    * tag snapshot and deletions (spec-injected races land exactly in the
    * window the barrier protects). Production callers leave the default.
    */
  /** What [[vacuum]] WOULD reclaim right now, without reclaiming it —
    * the operator's pre-flight check (Delta's `VACUUM … DRY RUN`).
    * Read-only: no barrier, no checkpoint writes, no log trimming — a
    * concurrent writer can change the answer by the time a real vacuum
    * runs, which is exactly why the real one re-derives under its
    * barrier. Returns root-relative candidate paths (data files, DV
    * files and bloom sidecars alike).
    */
  def vacuumDryRun(root: String, keepVersions: Int = 1,
      retentionMs: Long = DefaultVacuumRetentionMs): Seq[String] =
    currentVersion(root) match {
      case None => Nil
      case Some(cur) =>
        val st = reclaimState(root, cur, keepVersions)
        reclaimCandidates(root, st.live, retentionMs).sorted
    }

  /** Everything vacuum's reclaim decision derives from the log: the keep
    * boundary, the surviving snapshots, the tag-pinned snapshots below
    * it, and the resulting live-path set (data files + DV files + bloom
    * sidecars). ONE derivation shared by [[vacuum]] (under its barrier)
    * and [[vacuumDryRun]] (read-only) — a retention rule that landed in
    * only one of the two would make the dry run lie.
    */
  private final case class ReclaimState(keepFrom: Long,
      keepSnaps: Seq[Manifest], pinned: Set[Long],
      pinnedSnaps: Seq[Manifest], live: Set[String])

  private def reclaimState(root: String, cur: Long,
      keepVersions: Int): ReclaimState = {
    val keepFrom = math.max(earliestCommitOnDisk(root, cur),
      math.max(1L, cur - keepVersions + 1))
    val keepSnaps = (keepFrom to cur).map(readManifest(root, _))
    val pinned = tags(root).values.filter(_ < keepFrom).toSet
    val pinnedSnaps = pinned.toSeq.sorted.map(readManifest(root, _))
    val live = (keepSnaps ++ pinnedSnaps)
      .flatMap(s => s.files ++ s.dvsOrEmpty.values ++
        s.statsOrNil.flatMap(_.bloomOpt) ++
        s.statsOrNil.flatMap(_.ndvOpt)).toSet
    ReclaimState(keepFrom, keepSnaps, pinned, pinnedSnaps, live)
  }

  /** Unreferenced, out-of-retention regular files under data/. */
  private def reclaimCandidates(root: String, live: Set[String],
      retentionMs: Long): Seq[String] = {
    val cutoff = System.currentTimeMillis() - retentionMs
    val dataRoot = Paths.get(root, "data")
    if (!Files.isDirectory(dataRoot)) return Nil
    withWalk(dataRoot)(_.filter { p =>
      Files.isRegularFile(p) &&
        !live.contains(Paths.get(root).relativize(p).toString) &&
        Files.getLastModifiedTime(p).toMillis < cutoff
    }.map(p => Paths.get(root).relativize(p).toString).toSeq)
  }

  def vacuum(root: String, keepVersions: Int = 1,
      retentionMs: Long = DefaultVacuumRetentionMs,
      barrierHook: () => Unit = () => ()): Unit = {
    val cur = currentVersion(root).getOrElse(return)
    // Clamp to the earliest commit still on disk: a prior, narrower vacuum
    // already dropped older history, so a wider window now must not try to
    // materialize versions whose records are gone. (The boundary is
    // re-derived INSIDE the barrier via reclaimState — this read is only
    // for the barrier's own version stamp.)
    val keepFromStamp = math.max(earliestCommitOnDisk(root, cur),
      math.max(1L, cur - keepVersions + 1))
    withVacuumBarrier(root, keepFromStamp) {
      barrierHook()
      // Materialize surviving snapshots BEFORE deleting anything, then pin
      // the keep boundary with a checkpoint so resolution never needs the
      // commits about to be dropped. Pinned: tagged versions below the
      // boundary — checkpoint each NOW so it resolves standalone after its
      // delta chain is dropped. This read happens under the barrier (see
      // the race note above), through the SAME derivation the dry run uses.
      val st = reclaimState(root, cur, keepVersions)
      st.pinnedSnaps.foreach(writeCheckpoint(root, _))
      writeCheckpoint(root, st.keepSnaps.head)
      advanceLastCheckpoint(root, st.keepFrom)
      (1L until st.keepFrom).foreach { v =>
        Files.deleteIfExists(commitPath(root, v))
        if (!st.pinned.contains(v)) {
          Files.deleteIfExists(checkpointPath(root, v))
          // a slim checkpoint's parquet sidecar goes with its JSON
          deleteRecursively(statsSidecarPath(root, v))
        }
      }
      // remove unreferenced, out-of-retention data files (then empty dirs)
      val doomed = reclaimCandidates(root, st.live, retentionMs).toSet
      val dataRoot = Paths.get(root, "data")
      if (Files.isDirectory(dataRoot)) {
        withWalk(dataRoot)(_.toSeq).reverse.foreach { p =>
          val rel = Paths.get(root).relativize(p).toString
          if (Files.isRegularFile(p) && doomed.contains(rel)) Files.delete(p)
          else if (Files.isDirectory(p) && p != dataRoot &&
            withList(p)(!_.hasNext)) Files.delete(p)
        }
      }
    }
  }

  /** Log retention (the published `logRetentionDuration` concept): bound
    * the `_graft_log` delta+checkpoint chain WITHOUT touching data files.
    * A streaming sink lands one commit per micro-batch — 10⁵ log records a
    * week — and [[vacuum]] only trims the log as a side effect of dropping
    * versions; this trims metadata on its own schedule.
    *
    * Versions whose commit record is older than `retentionMs` (by publish
    * timestamp, monotonic per [[publish]]) lose their records and
    * superseded checkpoints; the oldest retained version is checkpointed
    * first so every version inside the window still resolves. Tagged
    * versions below the window keep their own checkpoint — a tag outlives
    * log retention. Older untagged versions stop being time-travelable
    * with a clean error, the documented lakehouse behavior.
    */
  def vacuumLog(root: String, retentionMs: Long,
      barrierHook: () => Unit = () => ()): Unit = {
    val cur = currentVersion(root).getOrElse(return)
    val lo = earliestCommitOnDisk(root, cur)
    // Oldest version still inside the retention window (commit stamps are
    // monotonic, so the scan finds the unique boundary); the CURRENT
    // version is always retained even when out-of-window. A negative
    // retention trims unconditionally (commit stamps can run slightly
    // ahead of the wall clock under the monotonic clamp, so "0" is not a
    // guaranteed full trim on a hot table).
    val boundary =
      if (retentionMs < 0) cur
      else {
        val cutoff = System.currentTimeMillis() - retentionMs
        (lo to cur).find(readCommit(root, _).ts >= cutoff).getOrElse(cur)
      }
    if (boundary <= lo) return // nothing to trim
    withVacuumBarrier(root, boundary) {
      barrierHook()
      // same pinning rule as vacuum, same barrier coordination
      val pinned = tags(root).values.filter(_ < boundary).toSet
      pinned.toSeq.sorted.foreach(v => writeCheckpoint(root, readManifest(root, v)))
      writeCheckpoint(root, readManifest(root, boundary))
      advanceLastCheckpoint(root, boundary)
      // One listing sweeps commit records AND superseded checkpoints below
      // the boundary (including interior checkpoints a prior partial trim
      // left behind); pinned checkpoints survive. Slim checkpoints' parquet
      // sidecar DIRECTORIES follow their JSON under the same pinning rule.
      val doomed = withList(logDir(root))(_.filter { p =>
        val n = p.getFileName.toString
        val isCkpt = n.endsWith(".checkpoint.json")
        val isSidecar = n.endsWith(".checkpoint.stats.parquet")
        val v =
          if (!n.startsWith("v")) None
          else if (isSidecar) n.stripPrefix("v")
            .stripSuffix(".checkpoint.stats.parquet").toLongOption
          else if (!n.endsWith(".json")) None
          else n.stripPrefix("v")
            .stripSuffix(if (isCkpt) ".checkpoint.json" else ".json").toLongOption
        v.exists(ver => ver < boundary &&
          !((isCkpt || isSidecar) && pinned.contains(ver)))
      }.toList)
      doomed.foreach { p =>
        if (Files.isDirectory(p)) deleteRecursively(p)
        else Files.deleteIfExists(p)
      }
    }
  }
}
