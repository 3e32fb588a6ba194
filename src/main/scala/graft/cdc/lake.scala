package graft.cdc

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths}
import java.util.UUID

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** GraftLake — a from-scratch, Iceberg-style snapshot table format.
  *
  * The sandbox has no Delta/Iceberg jars, so the ACID substrate the reference
  * leans on (Delta MERGE / idempotent CREATE, /root/reference/src/models/writer.py:34-67,
  * /root/reference/src/models/table_builder.py:27-44) is reproduced minimally:
  *
  * Layout per table root:
  * {{{
  *   data/<snapshotVersion>-<uuid>/_b=<bucket>/part-*.parquet
  *   meta/v%016d.json     immutable snapshots (the manifest list)
  *   meta/m/<uuid>-b<bucket>.json  immutable per-bucket manifests
  *   meta/_CURRENT        hint: a recently committed version
  * }}}
  *
  * Commit protocol (all metadata I/O goes through one [[MetaStore]]): the
  * fail-if-exists claim of `v<N>.json` is the commit point, as in Delta's
  * log, so of two concurrent writers one gets a conflict. `_CURRENT` is then
  * replaced as a hint that readers probe forward from (`v+1, v+2, …`): a
  * pointer that lags after a crash, or moves backward in a race, is
  * harmless. A crash before the claim leaves orphan files — GC-able.
  *
  * Exactly-once: each snapshot embeds the `epochId` that produced it; a commit
  * whose epochId is <= the current snapshot's is rejected as a replay
  * (idempotent epoch fence; reference analog is the idempotent `ensure`).
  *
  * Scale design (100 TB envelope): data is hash-bucketed on the merge key
  * (repo, path), so a merge touches only the buckets present in the batch —
  * rewrite amplification is (table size / numBuckets) × touched buckets, and a
  * hot repo is spread across all buckets because the bucket hash includes
  * `path`. Commit cost is O(files in manifest), driver-side only, no data move.
  * Locally numBuckets=32; at 100 TB you'd configure 4096+ so a bucket is a few
  * tens of GB and a 1000-executor cluster rewrites only what the batch touches.
  */
object lake {

  /** Process-wide manifest-read counter (sum over every table handle):
    * pins the "refs-only planning never sweeps" claims in tests, where the
    * SQL catalog's internal LakeTable handles are unreachable. Tests run
    * sequentially in the forked JVM, so delta-measurement is race-free. */
  val manifestReadsGlobal = new java.util.concurrent.atomic.AtomicLong(0L)

  final case class DataFile(
      path: String, // relative to table root
      bucket: Int,
      rows: Long,
      bytes: Long,
      schemaVersion: Int,
      lsnMin: Long,
      lsnMax: Long,
      kind: String = "base", // "base" (payload rows) | "delta" (lsn+op+payload change rows)
      /** Base files written by a merge/compaction carry a per-ROW `_lsn`
        * system column (the winning event's LSN): base rows then re-enter
        * later merges at their TRUE position in the log instead of the
        * always-lose sentinel -1, which makes CoW merges and MoR reads
        * order-correct even when a later epoch redelivers stale LSNs.
        * false (json4s default) for pre-field manifests and for
        * append/overwrite files, whose rows read back at -1. */
      rowLsn: Boolean = false,
      /** Per-column min/max/nullCount harvested from the parquet footer at
        * commit time ([[skipping.fromFooter]]) — the file-level data-skipping
        * index. None on pre-field manifests (json4s default): such files are
        * simply never skipped. */
      stats: Option[Map[String, skipping.ColStats]] = None)

  /** Pointer to one bucket's immutable manifest file (Iceberg's
    * manifest-list idea minimized): `path` is root-relative, the
    * counts let planners prune without reading the manifest; `rows`/`bytes`
    * sums feed table-level statistics without reading it either (0 on
    * refs written before the fields existed = stats unknown, never a lie). */
  final case class ManifestRef(path: String, bucket: Int, numFiles: Int, deltaFiles: Int,
      rows: Long = 0L, bytes: Long = 0L)

  /** On-disk payload of one per-bucket manifest file. */
  final case class ManifestData(files: Seq[DataFile])

  final case class Snapshot(
      formatVersion: Int,
      table: String,
      version: Long,
      schemaVersion: Int,
      schemas: Map[String, String], // schemaVersion (as string key for JSON) -> StructType.json
      keyColumns: Seq[String],
      numBuckets: Int,
      epochId: Long,
      /** Highest LSN ever applied. INVARIANT: every stored row `_lsn` in the
        * table's base/delta files is <= this value (each commit folds its
        * files' lsnMax into it) — the ad-hoc SQL MERGE/DELETE/UPDATE
        * commands rely on it when stamping their batches at lsnHigh + 1. */
      lsnHigh: Long,
      properties: Map[String, String],
      /** Highest lsnMax among delta files ever folded away (CoW merge /
        * compaction). Lets changesSince prove completeness in O(1): a delta
        * committed after snapshot v carries lsn > v.lsnHigh (binlog ordering
        * contract), so post-v changes were lost iff foldedLsnHigh > v.lsnHigh. */
      foldedLsnHigh: Option[Long] = None,
      /** Commit wall-clock (epoch millis), stamped by [[LakeTable.commit]] —
        * resolves `TIMESTAMP AS OF` time travel and age-based vacuum
        * retention. None on manifests written before the field existed
        * (json4s fills defaults, so old manifests stay readable); such
        * snapshots are treated as arbitrarily old. */
      committedAt: Option[Long] = None,
      /** The file list: one ref per non-empty bucket, each pointing at that
        * bucket's manifest file. A commit rewrites ONLY the touched buckets'
        * manifests and carries the rest by reference — commit cost is
        * O(touched buckets' files), not O(all files), which is what keeps
        * the driver out of the way at the 100 TB envelope (4096+ buckets,
        * millions of files). Resolve with LakeTable.filesOf /
        * filesOfBuckets. */
      manifests: Seq[ManifestRef] = Nil) {
    /** Any MoR delta files outstanding — O(refs), no manifest reads. */
    def anyDeltas: Boolean = manifests.exists(_.deltaFiles > 0)
    /** Total live rows from the ref sums, or None when a pre-sum ref (0
      * with files present) makes the total unknowable without resolving
      * manifests. O(refs). */
    def knownRows: Option[Long] =
      if (manifests.forall(m => m.numFiles == 0 || m.rows > 0)) Some(manifests.map(_.rows).sum)
      else None
    /** Live data-file count from the ref counts. O(refs). */
    def numFiles: Int = manifests.map(_.numFiles).sum

    // memoized per Snapshot instance: planning consults schemaOf per FILE
    // (old-schema stats projection), and re-parsing the schema JSON per
    // file would dominate driver-side planning right after an ALTER
    // (non-constructor field: invisible to json4s, reset by copy())
    @transient private lazy val schemaMemo =
      new java.util.concurrent.ConcurrentHashMap[Int, StructType]()
    def schema: StructType = schemaOf(schemaVersion)
    def schemaOf(v: Int): StructType = schemaMemo.computeIfAbsent(v,
      k => DataType.fromJson(schemas(k.toString)).asInstanceOf[StructType])
    def registry: SchemaRegistry =
      SchemaRegistry(schemas.keysIterator.map(k => k.toInt -> schemaOf(k.toInt)).toMap)
    /** `f`'s footer bounds, projected to what stays valid under the current
      * schema: an old-schema file's bounds may be encoded under the OLD
      * type (DATE days vs TIMESTAMP micros after a widening). */
    def statsOf(f: DataFile): Option[Map[String, skipping.ColStats]] =
      f.stats.map(s => if (f.schemaVersion == schemaVersion) s
        else skipping.compatibleStats(s, schemaOf(f.schemaVersion), schema))
  }

  /** Per-bucket lineage emitted by every committing operation (FIXTURES.md B4). */
  final case class LineageEntry(
      table: String,
      snapshot_version: Long,
      epoch: Long,
      partition: Int,
      lsn_min: Long,
      lsn_max: Long,
      rows_upserted: Long,
      rows_deleted: Long,
      files_added: Int,
      files_removed: Int,
      committed_at: java.sql.Timestamp)

  /** One bucket's share of an apply batch: its lsn range and its upsert and
    * delete counts (file stamping + lineage). */
  private final case class BucketStats(lsnMin: Long, lsnMax: Long, upserts: Long, deletes: Long)

  final case class CommitResult(
      committed: Boolean,
      snapshot: Snapshot,
      lineage: Seq[LineageEntry])

  /** Optimistic-concurrency failure: another writer committed this version. */
  final class CommitConflictException(table: String, version: Long, cause: Throwable)
    extends RuntimeException(
      s"concurrent commit: snapshot v$version of '$table' already exists (optimistic concurrency — reload and retry)",
      cause)

  private implicit val jsonFormats: Formats = Serialization.formats(NoTypeHints)

  /** The one reader of the per-bucket manifest format, for table handles and
    * the executor-side `$files` table alike; `rel` is root-relative. */
  private[graft] def readManifestFile(store: MetaStore, root: String, rel: String): Seq[DataFile] =
    Serialization.read[ManifestData](store.read(Paths.get(root, rel))
      .getOrElse(throw new NoSuchFileException(s"$root/$rel"))).files

  /** Highest snapshot format this reader understands: 1 = no data files
    * yet (an empty create), 2 = per-bucket manifests (`Snapshot.manifests`).
    * A reader that ignored `manifests` would silently see a partial table,
    * so [[LakeTable.snapshotAt]] refuses any snapshot above this version —
    * the same reader/format-version gate Iceberg and Delta apply. */
  val SupportedFormatVersion = 2

  /** The files of one manifest-planned scan as an unpartitioned `FileIndex`
    * (what Spark's `MetadataLogFileIndex` is to its file sink): the list is
    * fixed at construction, so planning never touches the file system.
    * A case class for equality by file list, as `InMemoryFileIndex` has:
    * two reads of the same files compare equal in plan reuse and cache
    * lookup (`toString` stays `FileIndex`'s). */
  private final case class ManifestFileIndex(files: Seq[org.apache.hadoop.fs.FileStatus])
      extends org.apache.spark.sql.execution.datasources.FileIndex {
    import org.apache.spark.sql.execution.datasources.PartitionDirectory
    def rootPaths: Seq[org.apache.hadoop.fs.Path] = files.map(_.getPath)
    def listFiles(partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(org.apache.spark.sql.catalyst.InternalRow.empty, files.toArray))
    def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: StructType = StructType(Nil)
  }

  /** Observability for the distributed vacuum sweep: the size of the
    * LARGEST per-task referenced-path subset shipped by the last sweep —
    * proves the sweep ships per-snapshot-dir slices, never the full
    * referenced set, to any one task. -1 until a distributed sweep runs. */
  object Vacuum {
    val lastMaxTaskRefs = new java.util.concurrent.atomic.AtomicInteger(-1)
  }

  object LakeTable {
    /** Idempotent create (reference: src/delta_engine/execute/ddl.py:47-63). */
    def createIfNotExists(
        spark: SparkSession,
        root: String,
        name: String,
        schema: StructType,
        keyColumns: Seq[String],
        numBuckets: Int = 32,
        properties: Map[String, String] = Map.empty): LakeTable = {
      require(!schema.fieldNames.exists(_.equalsIgnoreCase("_lsn")),
        s"table '$name': _lsn is a reserved system column name (per-row log position)")
      val t = new LakeTable(spark, root, name)
      if (t.currentVersionOpt.isEmpty) {
        val snap0 = Snapshot(1, name, 0L, 1,
          Map("1" -> schema.json), keyColumns, numBuckets, -1L, -1L, properties)
        t.commit(snap0)
      }
      t
    }

    def load(spark: SparkSession, root: String, name: String): LakeTable = {
      val t = new LakeTable(spark, root, name)
      require(t.currentVersionOpt.nonEmpty, s"lake table not found at $root")
      // fail FAST on a pre-reservation table whose payload has an _lsn
      // column: the read path would otherwise silently drop the user's
      // column (it collides with the per-row system column)
      require(!t.snapshot.schema.fieldNames.exists(_.equalsIgnoreCase("_lsn")),
        s"table '$name' has a payload column named _lsn, which this version reserves " +
          "as the per-row system column — rename the column before upgrading")
      t
    }

    /** Whether `root` has a committed snapshot, resolved as every handle does. */
    def exists(root: String): Boolean =
      latestVersion(PosixMetaStore, Paths.get(root, "meta")).nonEmpty

    private def snapPath(metaDir: Path, v: Long): Path = metaDir.resolve(f"v$v%016d.json")

    /** Snapshot versions on disk under `metaDir`, oldest first. */
    private def versions(store: MetaStore, metaDir: Path): Seq[Long] =
      store.list(metaDir).filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(_.stripPrefix("v").stripSuffix(".json").toLong).sorted

    /** The newest committed version. The claim of `v<N>.json` is the commit
      * point and `_CURRENT` only a hint: start from it (or from the newest
      * listed version when it is absent) and probe `v+1, v+2, …` up to the
      * first version that is absent or does not parse (a torn `CREATE_NEW`
      * claim). Steady state: one failed probe. */
    private def latestVersion(store: MetaStore, metaDir: Path): Option[Long] =
      store.read(metaDir.resolve("_CURRENT")).map(_.trim.toLong).orElse(versions(store, metaDir).lastOption)
        .map(Iterator.iterate(_)(_ + 1).find(v => store.read(snapPath(metaDir, v + 1))
          .forall(s => scala.util.Try(JsonMethods.parse(s)).isFailure)).get)
  }

  /** `store` is a test seam: every metadata read and publish of the handle
    * goes through it (see [[MetaStore]]). */
  final class LakeTable private[graft] (val spark: SparkSession, val root: String, val name: String,
      private[graft] val store: MetaStore) {
    def this(spark: SparkSession, root: String, name: String) = this(spark, root, name, PosixMetaStore)

    private val metaDir: Path = Paths.get(root, "meta")
    private val dataDir: Path = Paths.get(root, "data")

    /** Referenced-file count from which [[sweepOrphans]] runs as a Spark job. */
    private[graft] var sweepThreshold: Int = 65536

    // ---- snapshot / manifest IO -------------------------------------------

    private def snapPath(v: Long): Path = LakeTable.snapPath(metaDir, v)

    def currentVersionOpt: Option[Long] = LakeTable.latestVersion(store, metaDir)

    def snapshot: Snapshot = snapshotAt(currentVersionOpt.getOrElse(
      throw new IllegalStateException(s"table $name at $root has no snapshot")))

    def snapshotAt(v: Long): Snapshot = {
      val json = JsonMethods.parse(store.read(snapPath(v)).getOrElse(
        throw new NoSuchFileException(snapPath(v).toString)))
      // an inline file list (earlier format-1 writers): json4s drops the
      // unknown field, so reading on would silently lose those files
      require((json \ "files") match { case JArray(fs) => fs.isEmpty; case _ => true },
        s"snapshot v$v of '$name' lists its data files inline, a layout this reader no " +
          "longer reads; to migrate, with the previous graft release set table property " +
          "graft.manifest.chunk=always, then run cluster (a rewrite of every bucket) and vacuum")
      val s = json.extract[Snapshot]
      require(s.formatVersion <= SupportedFormatVersion,
        s"snapshot v$v of '$name' has formatVersion ${s.formatVersion}, but this reader " +
          s"supports <= $SupportedFormatVersion — refusing to read a partial view; " +
          "upgrade the graft library")
      s
    }

    /** Atomic snapshot commit with epoch fence. Returns false iff fenced.
      * Metadata-only commits (schema evolution) pass `fence = false`: they
      * carry the current epochId forward rather than advancing it. */
    def commit(next: Snapshot, fence: Boolean = true): Boolean = synchronized {
      var prevCommittedAt = 0L
      currentVersionOpt.foreach { cv =>
        val cur = snapshotAt(cv)
        prevCommittedAt = cur.committedAt.getOrElse(0L)
        if (fence && next.epochId >= 0 && next.epochId <= cur.epochId) return false // replayed epoch: no-op
        // a version at or below the current one means another writer
        // committed since this snapshot was read — that's the optimistic-
        // concurrency loss, typed so retry-safe callers (append) can act
        if (next.version <= cur.version)
          throw new CommitConflictException(name, next.version, null)
        require(next.version == cur.version + 1,
          s"non-monotonic commit: have v${cur.version}, got v${next.version}")
      }
      // stamp the commit wall-clock and normalize the format version:
      // manifests are a format-2 feature, so a snapshot without any (an
      // empty create) stays format 1. The stamp is MONOTONICIZED against
      // the previous snapshot's (Delta's in-commit-timestamp approach): a wall-clock regression or a second
      // writer host with clock skew can otherwise stamp v+1 before v, which
      // would make TIMESTAMP AS OF resolve the wrong snapshot (versionAt
      // scans newest-first assuming monotone stamps) — and the strict +1
      // also guarantees consecutive same-millisecond commits stay
      // distinguishable by timestamp.
      val stamped = next.copy(
        committedAt = Some(math.max(System.currentTimeMillis(), prevCommittedAt + 1)),
        formatVersion = if (next.manifests.nonEmpty) 2 else next.formatVersion)
      // the fail-if-exists claim is the commit point: losing it to a
      // concurrent writer is the optimistic-concurrency conflict
      try store.putIfAbsent(snapPath(next.version), Serialization.write(stamped))
      catch {
        case e: FileAlreadyExistsException => throw new CommitConflictException(name, next.version, e)
      }
      store.replace(metaDir.resolve("_CURRENT"), next.version.toString)
      true
    }

    // ---- per-bucket manifests ----------------------------------------------

    /** Immutable once written (uuid names), so cached for the handle's life. */
    private val manifestCache = new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFile]]()
    /** Cache-miss counter — observability for the O(touched) commit claim. */
    val manifestReads = new java.util.concurrent.atomic.AtomicLong(0L)

    private def readManifest(ref: ManifestRef): Seq[DataFile] =
      manifestCache.computeIfAbsent(ref.path, p => {
        manifestReads.incrementAndGet()
        lake.manifestReadsGlobal.incrementAndGet() // cross-handle observability
        readManifestFile(store, root, p)
      })

    private def writeManifest(bucket: Int, files: Seq[DataFile]): ManifestRef = {
      val rel = s"meta/m/${UUID.randomUUID().toString.take(12)}-b$bucket.json"
      store.create(Paths.get(root, rel), Serialization.write(ManifestData(files)))
      manifestCache.put(rel, files)
      ManifestRef(rel, bucket, files.size, files.count(_.kind == "delta"),
        files.map(_.rows).sum, files.map(_.bytes).sum)
    }

    /** All data files of a snapshot: reads every manifest — use
      * [[filesOfBuckets]] with a bucket set whenever the caller knows one
      * (merge, pruned reads). */
    def filesOf(snap: Snapshot): Seq[DataFile] = snap.manifests.flatMap(readManifest)

    /** Bucket-pruned file resolution: reads ONLY the requested buckets'
      * manifests (`deltaOnly` additionally skips manifests whose ref reports
      * zero delta files — changesSince / compactDeltas pruning). */
    def filesOfBuckets(snap: Snapshot, buckets: Option[Set[Int]],
        deltaOnly: Boolean = false): Seq[DataFile] =
      snap.manifests
        .filter(m => buckets.forall(_.contains(m.bucket)) && (!deltaOnly || m.deltaFiles > 0))
        .flatMap(readManifest)
        .filter(f => !deltaOnly || f.kind == "delta")

    /** Next snapshot's manifest refs after dropping ALL files of
      * `removedBuckets` and adding `added`: new manifest files are written
      * ONLY for affected buckets (removed ∪ added) and every other bucket's
      * manifest is carried by reference — O(touched), never O(table). */
    private def nextFileState(cur: Snapshot, removedBuckets: Set[Int],
        added: Seq[DataFile]): Seq[ManifestRef] = {
      val addedByBucket = added.groupBy(_.bucket)
      val affected = removedBuckets ++ addedByBucket.keySet
      val keptByBucket = filesOfBuckets(cur, Some(affected -- removedBuckets)).groupBy(_.bucket)
      val newRefs = affected.toSeq.sorted.flatMap { b =>
        val list = keptByBucket.getOrElse(b, Nil) ++ addedByBucket.getOrElse(b, Nil)
        if (list.isEmpty) None else Some(writeManifest(b, list))
      }
      // superseded manifests leave the cache: a long-lived writer handle
      // must not accumulate every file list it ever wrote
      cur.manifests.filter(m => affected(m.bucket)).foreach(m => manifestCache.remove(m.path))
      cur.manifests.filterNot(m => affected(m.bucket)) ++ newRefs
    }

    /** Per-source Hadoop options for every data-file read/write of this
      * table: the `file:` scheme resolves to [[ForkFreeLocalFileSystem]]
      * instead of the default ChecksumFileSystem wrapper. Hadoop's
      * client-side `.crc` sidecars double the small-file operations of every
      * commit (one sidecar written and renamed per data file) and add one
      * extra open+read per scanned file; parquet already CRC-checks its own
      * pages (PageHeader crc, on by default), so the sidecar is a redundant
      * integrity layer on the data path. The fork-free binding also sets
      * each created file's and `_b=N` directory's mode through `java.nio`
      * instead of a forked `chmod` (Hadoop without its native library).
      * Scoped per read/write via options: the session's global FileSystem
      * (external inputs) is untouched. */
    private val rawLocalFsOptions = ForkFreeLocalFs.fileSystemConf

    // ---- read path ---------------------------------------------------------

    /** Bucket assignment: hash of the full merge key, so a hot repo spreads
      * across every bucket (skew) while each key still lives in exactly one.
      *
      * Deliberately `pmod(hash(keys), NB)` — Spark's own Murmur3 shuffle hash.
      * A hash repartition on the key columns into `n` tasks sends a row to
      * task `pmod(hash(keys), n)`, and when `n | NB` that equals
      * `pmod(bucket, n)`: every bucket lands whole in one task. The merge
      * folds its batch through such a repartition ([[byKey]], `n` from
      * [[writeWidth]]) into the stored rows of each task's buckets, so its
      * bucketed write needs no second shuffle and writes one file per
      * touched bucket. */
    def bucketExpr(snap: Snapshot): org.apache.spark.sql.Column =
      if (snap.keyColumns.isEmpty)
        // keyless table (append/scan-only — e.g. CTAS without a primary_key
        // property): no key to co-locate by, so buckets are a pure
        // write-parallelism spread that preserves the incoming partitioning
        pmod(spark_partition_id(), lit(snap.numBuckets)).cast(IntegerType)
      else pmod(hash(snap.keyColumns.map(col): _*), lit(snap.numBuckets)).cast(IntegerType)

    /** Task count of an engine write touching `touched` buckets: the largest
      * divisor of the bucket count not above min(defaultParallelism,
      * touched). Dividing the bucket count keeps each bucket whole in one
      * task (see [[bucketExpr]]); the cap keeps a 3-row write to 4096 buckets
      * at a handful of tasks. The count is explicit in the plan, so the
      * session's shuffle width and AQE coalescing never change it. */
    private def writeWidth(numBuckets: Int, touched: Int): Int = {
      val cap = math.max(1, math.min(spark.sparkContext.defaultParallelism, touched))
      (cap to 1 by -1).find(numBuckets % _ == 0).get
    }

    /** `df` hash-repartitioned on the key columns into [[writeWidth]] tasks,
      * each bucket whole in one task (see [[bucketExpr]]). */
    private def byKey(df: DataFrame, snap: Snapshot, touched: Int): DataFrame =
      df.repartition(writeWidth(snap.numBuckets, touched), snap.keyColumns.map(col): _*)

    /** The stored rows of `files` through the one max-LSN fold
      * ([[BucketFold]]), read in place: one task per group of
      * [[writeWidth]] buckets, each bucket whole in one task, so the
      * bucketed write needs no repartition. */
    private def foldFiles(snap: Snapshot, files: Seq[DataFile], output: BucketFold.Output): DataFrame = {
      val f = BucketFold(spark, root, snap, files.map(d => FileShape(d.schemaVersion, folds = true)),
        snap.schema, output = output)
      val byBucket = files.map(_.copy(stats = None)).groupBy(_.bucket)
      val n = writeWidth(snap.numBuckets, byBucket.size)
      val groups = byBucket.values.toSeq.groupBy(_.head.bucket % n).values.toSeq
      Bridge.rowsFrame(spark, spark.sparkContext.parallelize(groups, math.max(1, groups.size))
        .flatMap(_.iterator.flatMap(f(_))), f.schema)
    }

    /** `batch`'s change rows (lsn, op, payload: the fold row) folded into the
      * stored rows of `files`, the buckets the batch touches. Only the batch
      * crosses a shuffle: [[byKey]] sends it to n tasks, n dividing the
      * bucket count, on the hash [[bucketExpr]] buckets by, so task i holds
      * every batch row of the buckets b ≡ i (mod n) and reads those buckets'
      * files in place. */
    private def foldBatch(batch: DataFrame, snap: Snapshot, files: Seq[DataFile], touched: Int,
        output: BucketFold.Output): DataFrame = {
      val n = writeWidth(snap.numBuckets, touched)
      val f = BucketFold(spark, root, snap, files.map(d => FileShape(d.schemaVersion, folds = true)),
        snap.schema, output = output)
      val byTask = files.map(_.copy(stats = None)).groupBy(_.bucket % n)
      // built here, under the session's conf (its external datetime types)
      val (in, out) = (ExpressionEncoder(batch.schema), ExpressionEncoder(f.schema).resolveAndBind())
      byKey(batch, snap, touched).mapPartitions { (rows: Iterator[Row]) =>
        val (toInternal, toRow) = (in.createSerializer(), out.createDeserializer())
        f(byTask.getOrElse(TaskContext.getPartitionId(), Nil), rows.map(toInternal)).map(toRow)
      }(Encoders.row(f.schema))
    }

    /** Expose the current table state to Spark SQL as a temp view
      * (`spark.sql("SELECT ... FROM <viewName>")`). Re-call after commits to
      * see a newer snapshot (views bind a snapshot — MVCC reads for free). */
    def createView(viewName: String): Unit = read().createOrReplaceTempView(viewName)

    /** Read the current table state. Files written under older schema versions
      * are read with their own physical schema then conformed (cast / null-fill)
      * to the current one — robust type widening without relying on the parquet
      * reader's widening support. */
    def read(): DataFrame = readBuckets(snapshot, None)

    /** Current state of the selected buckets. A bucket with MoR delta files
      * is folded at read time by the max-LSN fold every merge and scan
      * uses ([[BucketFold]]). */
    def readBuckets(snap: Snapshot, buckets: Option[Set[Int]]): DataFrame =
      readFiles(snap, filesOfBuckets(snap, buckets))

    /** The one scan planner, of the SQL table scan (`GraftKeyedScan`): the
      * scan's file list is pruned BEFORE any parquet is opened (and, the
      * scan being planned from the manifest, without listing any directory
      * or probing any path), on two levels —
      *
      *  1. '''Bucket pruning''': a conjunction that pins every key column to
      *     literals (point lookup / IN list) resolves, driver-side, to the
      *     exact buckets those key tuples hash to — a SQL
      *     `WHERE repo = 'r' AND path = 'p'` against a 4096-bucket 100 TB
      *     table plans one bucket's manifest and files, never the world.
      *  2. '''File skipping''': within the planned buckets, base files whose
      *     manifest column bounds refute the predicate are dropped. Only
      *     delta-FREE buckets skip: a MoR delta row can carry a key's new
      *     value outside its base file's bounds, and per-key resolution
      *     crosses files — with no deltas, base rows ARE table rows, so
      *     dropping a refuted file is exactly row-level filtering. (Bucket
      *     pruning needs no such guard — a key's entire history lives in its
      *     one bucket.)
      *
      * Both levels are pure I/O elision: every caller re-applies the
      * predicates above the scan. A pushed `limit`, only with no filters (a
      * filtered file may yield fewer rows than its count), keeps a prefix of
      * the delta-free buckets' files whose row counts cover it, else adds
      * the delta buckets whole (only the fold counts their rows). Returns
      * the kept files and the planned buckets, which
      * [[skipping.ScanStats.last]] records with the kept files' count. */
    def planScan(snap: Snapshot, filters: Seq[org.apache.spark.sql.sources.Filter],
        limit: Option[Int] = None): (Seq[DataFile], Seq[Int]) = {
      val buckets = skipping.bucketsForKeys(filters, snap.keyColumns, snap.schema, snap.numBuckets)
      val wanted = filesOfBuckets(snap, buckets)
      val deltaBuckets = wanted.filter(_.kind == "delta").map(_.bucket).toSet
      val matched = wanted.filter { f =>
        deltaBuckets(f.bucket) || snap.statsOf(f).forall(s =>
          filters.forall(flt => skipping.mayMatch(s, f.rows, snap.schema, flt)))
      }
      val kept = limit match {
        case Some(n) if filters.isEmpty =>
          val (folded, plain) = matched.partition(f => deltaBuckets(f.bucket))
          var need = n.toLong
          val prefix = plain.takeWhile { f => val take = need > 0; need -= f.rows; take }
          if (need > 0) prefix ++ folded else prefix
        case _ => matched
      }
      val planned = buckets.fold(0 until snap.numBuckets: Seq[Int])(_.toSeq.sorted)
      skipping.ScanStats.last.set(Some((planned.size, snap.numBuckets, kept.size, snap.numFiles)))
      (kept, planned)
    }

    /** The table rows `wanted` hold: base rows as stored, deltas applied.
      * Without deltas, the parquet scan (column pruning, split packing). */
    private def readFiles(snap: Snapshot, wanted: Seq[DataFile]): DataFrame =
      if (wanted.forall(_.kind == "base")) readBase(snap, wanted).drop("_lsn")
      else foldFiles(snap, wanted, BucketFold.Rows)

    /** A parquet scan planned from the manifest's file list: the snapshot
      * already names every file with its size, so nothing is globbed,
      * probed for existence on the driver, or listed by the parallel
      * leaf-file job `spark.read.parquet` starts above 32 paths. The plan
      * is the same `FileSourceScanExec` (pruning, pushdown, vectorized
      * reader, file packing). `ignoreMissingFiles` is pinned off whatever
      * the session says: a referenced file that is gone fails the read at
      * execution instead of silently dropping its rows. */
    private def scanFiles(files: Seq[DataFile], physical: StructType): DataFrame = {
      import org.apache.spark.sql.execution.datasources.HadoopFsRelation
      import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      val statuses = files.map(f => new org.apache.hadoop.fs.FileStatus(
        f.bytes, false, 1, f.bytes, 0L, new org.apache.hadoop.fs.Path(Paths.get(root, f.path).toUri)))
      // nullable, as `spark.read` declares a file source's columns: a
      // file's declared nullability is not trusted
      spark.baseRelationToDataFrame(HadoopFsRelation(ManifestFileIndex(statuses),
        StructType(Nil), physical.toNullable, None, new ParquetFileFormat(),
        rawLocalFsOptions + ("ignoreMissingFiles" -> "false"))(spark))
    }

    /** Read base files: the `_lsn` system column (stored per row for
      * merge-written files, -1 for append/overwrite/pre-field files)
      * followed by the payload. */
    private def readBase(snap: Snapshot, files: Seq[DataFile]): DataFrame =
      readStored(snap, files, Seq(StructField("_lsn", LongType, nullable = false)))

    /** `files` as `meta` columns followed by the payload, each (schemaVersion,
      * stored-meta) group conformed to the current schema. Delta files always
      * store their meta columns; a base file stores `_lsn` only when
      * [[DataFile.rowLsn]], and reads -1 otherwise. Planned from the
      * manifest ([[scanFiles]]): no listing. */
    private def readStored(snap: Snapshot, files: Seq[DataFile], meta: Seq[StructField]): DataFrame =
      if (files.isEmpty) {
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(meta ++ snap.schema.fields))
      } else {
        files.groupBy(f => (f.schemaVersion, f.kind == "delta" || f.rowLsn)).map {
          case ((sv, stored), group) =>
            val fileSchema = snap.schemaOf(sv)
            val physical = if (stored) StructType(meta ++ fileSchema.fields) else fileSchema
            val metaCols = if (stored) meta.map(m => col(m.name)) else meta.map(m => lit(-1L).as(m.name))
            scanFiles(group, physical)
              .select((metaCols ++ SchemaRegistry.conformedColumns(snap.schema, fileSchema)): _*)
        }.reduce(_ unionByName _)
      }

    // ---- write path --------------------------------------------------------

    /** Write `df` bucket-partitioned under a fresh snapshot data dir; returns
      * the new DataFiles. Parquet row counts come from file footers (no second
      * scan of the data). */
    private def writeBucketed(df: DataFrame, snap: Snapshot, newVersion: Long,
        repartitionByBucket: Boolean = true, kind: String = "base",
        withRowLsn: Boolean = false, sortCols: Seq[String] = Nil,
        maxRowsPerFile: Option[Long] = None): Seq[DataFile] = {
      val outDir = dataDir.resolve(s"$newVersion-${UUID.randomUUID().toString.take(8)}")
      val metaCols =
        if (kind == "delta") Seq(col("lsn"), col("op"))
        else if (withRowLsn) Seq(col("_lsn")) // per-row system column (DataFile.rowLsn)
        else Nil
      val cols = metaCols ++ snap.schema.fieldNames.map(col)
      val bucketed = df.withColumn("_b", bucketExpr(snap))
        .select((cols :+ col("_b")).toSeq: _*)
      // merge-path output arrives laid out by [[byKey]], whose width n
      // divides numBuckets, so every bucket is already whole in one task.
      // Everything else is repartitioned on _b into the same writeWidth —
      // one task per bucket group, never more tasks than the cluster runs at
      // once, whatever the bucket count.
      val laidOut0 =
        if (repartitionByBucket)
          bucketed.repartition(writeWidth(snap.numBuckets, snap.numBuckets), col("_b"))
        else bucketed
      // cluster-on-write: explicit args (the cluster() op) win; otherwise
      // BASE writes honor the table's `graft.cluster.by` policy so the
      // layout persists across merges/compactions instead of decaying.
      // Delta writes never sort — they are change logs, ordered by nature.
      // An explicit maxRowsPerFile is honored regardless of sortCols (the
      // policy only FILLS what the caller left unset).
      val (polSort, polCap) =
        if (sortCols.isEmpty && kind != "delta") clusterPolicy(snap) else (Nil, None)
      val effSort = if (sortCols.nonEmpty) sortCols else polSort
      val effCap = maxRowsPerFile.orElse(polCap)
      // clustering (see [[cluster]]): rows arrive at the dynamic-partition
      // writer sorted by (_b, sortCols), so each maxRecordsPerFile split is
      // a contiguous SORTED run — and since every write path keeps a bucket
      // in one task, per-file bounds come out tight and pairwise disjoint
      val laidOut =
        if (effSort.isEmpty) laidOut0
        else laidOut0.sortWithinPartitions((col("_b") +: effSort.map(col)).toSeq: _*)
      val writer = effCap.foldLeft(laidOut.write.options(rawLocalFsOptions))(
        (w, n) => w.option("maxRecordsPerFile", n.toString))
      writer.partitionBy("_b").parquet(outDir.toString)
      val paths = listParquet(outDir)
      // footer reads are driver-side; parallelize so commit latency stays
      // O(files / threads), not O(files)
      import scala.jdk.CollectionConverters._
      paths.asJava.parallelStream().map[DataFile] { p =>
        val rel = Paths.get(root).relativize(p).toString
        val bucket = p.getParent.getFileName.toString.stripPrefix("_b=").toInt
        // ONE footer read per file yields the row count AND the per-column
        // skipping bounds — the commit pays no extra I/O for the stats index
        val (rows, stats) = parquetFooterInfo(p)
        // lsn ranges are stamped post-hoc by callers (they know the batch stats)
        DataFile(rel, bucket, rows, Files.size(p), snap.schemaVersion,
          -1L, -1L, kind, rowLsn = kind == "base" && withRowLsn, stats = stats)
      }.collect(java.util.stream.Collectors.toList[DataFile]).asScala.toSeq
    }

    /** Cluster-on-write policy from table properties: `graft.cluster.by =
      * c1,c2` (+ optional `graft.cluster.maxRowsPerFile`, default 1M) makes
      * every base rewrite keep each bucket sorted by the given columns in
      * bounded files — set it once (e.g. after `CALL system.cluster`) and
      * the clustering persists instead of decaying on the next merge.
      * Policy rules, not commit rules: unknown and UNORDERABLE columns
      * (map types) are dropped silently (case-insensitive resolution) and
      * a malformed cap falls back to the default — a layout preference
      * must never fail a data commit. */
    private def clusterPolicy(snap: Snapshot): (Seq[String], Option[Long]) =
      snap.properties.get("graft.cluster.by") match {
        case None => (Nil, None)
        case Some(csv) =>
          val cols = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            .flatMap(c => snap.schema.fields.find(_.name.equalsIgnoreCase(c)))
            .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
              .isOrderable(f.dataType))
            .map(_.name)
          if (cols.isEmpty) (Nil, None)
          else {
            val cap = snap.properties.get("graft.cluster.maxRowsPerFile")
              .flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ > 0)
            (cols, cap.orElse(Some(1L << 20)))
          }
      }

    private def listParquet(dir: Path): Seq[Path] = {
      val out = Seq.newBuilder[Path]
      val s = Files.walk(dir)
      try s.forEach { p =>
        if (p.toString.endsWith(".parquet") && Files.isRegularFile(p)) out += p
      } finally s.close()
      out.result()
    }

    /** Parquet's own local-file reader over a plain (map-backed) parquet
      * configuration: no Hadoop FileSystem and no Hadoop `Configuration`
      * per footer. The reader's default options would build one, and its
      * first lookup re-parses `core-default.xml` out of the Hadoop jar. */
    private def parquetFooterInfo(p: Path): (Long, Option[Map[String, skipping.ColStats]]) = {
      val options = org.apache.parquet.ParquetReadOptions
        .builder(new org.apache.parquet.conf.PlainParquetConfiguration()).build()
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(p), options)
      try (r.getRecordCount,
        scala.util.Try(skipping.fromFooter(r.getFooter)).toOption.flatten)
      finally r.close()
    }

    private def nowTs(): java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())

    /** The change-event protocol reserves `lsn` and `op` as metadata column
      * names; a payload column with either name would be irresolvably
      * ambiguous beside the merge's change columns. Fail fast with the reason
      * instead of surfacing an AMBIGUOUS_REFERENCE from deep in the plan.
      * (Append/overwrite/read paths carry no metadata columns and accept any
      * names — e.g. the quarantine table legitimately stores an `lsn`.) */
    private def requireMergeableSchema(snap: Snapshot): Unit = {
      require(snap.keyColumns.nonEmpty,
        s"table '$name' cannot be a MERGE target: it has no key columns " +
          "(created without a primary_key) — keyless tables are append/overwrite/read-only")
      val clash = snap.schema.fieldNames.map(_.toLowerCase).toSet
        .intersect(Set("lsn", "op"))
      require(clash.isEmpty,
        s"table '$name' cannot be a MERGE target: payload column(s) ${clash.mkString(", ")} " +
          "collide with the change-event protocol's reserved metadata columns (lsn, op); " +
          "rename the column(s) — append/overwrite/read remain available")
    }

    /** Fold removed delta files' lsn range into the snapshot-level
      * high-watermark (see Snapshot.foldedLsnHigh). */
    private def foldDeltas(cur: Snapshot, removed: Seq[DataFile]): Option[Long] = {
      val folded = removed.filter(f => f.kind == "delta").map(_.lsnMax).filter(_ >= 0)
      if (folded.isEmpty) cur.foldedLsnHigh
      else Some(math.max(cur.foldedLsnHigh.getOrElse(-1L), folded.max))
    }

    /** The snapshot a data commit publishes: `next` (the current snapshot
      * with the commit's version, fence, lsnHigh and layout) with every file
      * of `removedBuckets` replaced by `added`. Every data commit builds its
      * snapshot here, so every commit that drops delta files folds their lsn
      * range into foldedLsnHigh — otherwise changesSince(v) across it would
      * silently return an incomplete feed instead of throwing. Only the
      * delta-bearing manifests of the removed buckets are resolved for it. */
    private def nextSnapshot(next: Snapshot, removedBuckets: Set[Int], added: Seq[DataFile]): Snapshot = {
      val folded = foldDeltas(next, filesOfBuckets(next, Some(removedBuckets), deltaOnly = true))
      next.copy(manifests = nextFileState(next, removedBuckets, added), foldedLsnHigh = folded)
    }

    /** Full overwrite (reference: src/models/writer.py:34-40). An unfenced
      * write (epochId = -1) carries the current fence FORWARD rather than
      * regressing it — otherwise a later crash-replay of already-committed
      * epochs would re-apply them. Overwrite discards ALL current files,
      * including outstanding MoR deltas. */
    def overwrite(df: DataFrame, epochId: Long = -1L, lsnHigh: Long = -1L): CommitResult = {
      val cur = snapshot
      if (epochId >= 0 && epochId <= cur.epochId) return CommitResult(committed = false, cur, Nil)
      val next0 = cur.copy(version = cur.version + 1, epochId = math.max(epochId, cur.epochId),
        lsnHigh = math.max(lsnHigh, cur.lsnHigh))
      val files = writeBucketed(cur.registry.conform(df, cur.schemaVersion), cur, next0.version)
      val next = nextSnapshot(next0, (0 until cur.numBuckets).toSet, files)
      val ok = commit(next, fence = epochId >= 0)
      val removedCounts = cur.manifests.map(m => m.bucket -> m.numFiles).toMap
      val lin = files.groupBy(_.bucket).map { case (b, fs) =>
        LineageEntry(name, next.version, epochId, b, lsnHigh, lsnHigh,
          fs.map(_.rows).sum, 0L, fs.size, removedCounts.getOrElse(b, 0), nowTs())
      }.toSeq
      CommitResult(ok, if (ok) next else cur, if (ok) lin else Nil)
    }

    /** Append without rewriting (reference: src/models/data_quality_evaluator.py:67-68).
      * Unfenced appends (epochId = -1) carry the fence forward (see overwrite).
      *
      * `fenceScope`: idempotence fence keyed per SOURCE rather than the table's
      * single global epoch fence — a shared side table (e.g. one
      * data_quality_checks audit table fed by several ReplayEngines) stores
      * one high-watermark per scope in its snapshot properties
      * (`graft.fence.<scope>`), so engine A's epoch-5 append can never fence
      * out engine B's later epoch-3 append. Scoped appends leave the global
      * epoch fence untouched. */
    def append(df: DataFrame, epochId: Long = -1L, lsnHigh: Long = -1L,
        fenceScope: Option[String] = None): CommitResult = {
      // Bounded optimistic retry: an append removes nothing, so losing the
      // version race to a concurrent writer (e.g. several ReplayEngines
      // sharing one audit table) is always safely retryable — reload the
      // snapshot and re-commit the ALREADY-WRITTEN files under the next
      // version (the data job runs once per logical append; files record
      // their own schemaVersion, so a concurrent schema evolution between
      // attempts still reads back correctly). The fence re-check on each
      // attempt preserves idempotence. Merge/overwrite do NOT auto-retry:
      // their rewrites are derived from the now-stale snapshot.
      val scopedKey = fenceScope.map(s => s"graft.fence.$s")
      var written: Seq[DataFile] = null
      var attempt = 0
      while (true) {
        val cur = snapshot
        scopedKey match {
          case Some(k) =>
            if (epochId >= 0 && cur.properties.get(k).exists(_.toLong >= epochId))
              return CommitResult(committed = false, cur, Nil) // replayed epoch for this scope
          case None =>
            if (epochId >= 0 && epochId <= cur.epochId) return CommitResult(committed = false, cur, Nil)
        }
        val next0 = cur.copy(version = cur.version + 1,
          epochId = if (scopedKey.isEmpty) math.max(epochId, cur.epochId) else cur.epochId,
          lsnHigh = math.max(lsnHigh, cur.lsnHigh),
          properties = scopedKey.filter(_ => epochId >= 0)
            .map(k => cur.properties + (k -> epochId.toString)).getOrElse(cur.properties))
        if (written == null)
          written = writeBucketed(cur.registry.conform(df, cur.schemaVersion), cur, next0.version)
        val next = nextSnapshot(next0, Set.empty, written)
        try {
          val ok = commit(next, fence = scopedKey.isEmpty && epochId >= 0)
          val lin = written.groupBy(_.bucket).map { case (b, fs) =>
            LineageEntry(name, next.version, epochId, b, lsnHigh, lsnHigh,
              fs.map(_.rows).sum, 0L, fs.size, 0, nowTs())
          }.toSeq
          return CommitResult(ok, if (ok) next else cur, if (ok) lin else Nil)
        } catch {
          case e: CommitConflictException =>
            attempt += 1
            if (attempt >= 5) throw e
        }
      }
      sys.error("unreachable")
    }

    /** Additive schema evolution: commit a metadata-only snapshot whose current
      * schema is `next` (new nullable columns / widened types). Existing data
      * files keep their physical schemaVersion and are conformed on read.
      *
      * KEY columns may never change type — not even widen: the bucket
      * assignment hashes the key columns' VALUES at their current types
      * (`pmod(hash(keys), NB)`), and Spark's Murmur3 hashes an int and the
      * same value as a long differently, so a widened key would re-home
      * every existing key to a different bucket than its stored rows —
      * merges would then silently see (and split) keys across buckets. */
    def evolveSchema(next: StructType): Snapshot = {
      require(!next.fieldNames.exists(_.equalsIgnoreCase("_lsn")),
        s"table '$name': _lsn is a reserved system column name")
      val cur = snapshot
      cur.keyColumns.foreach { k =>
        val prev = cur.schema.fields.find(_.name.equalsIgnoreCase(k))
        val nf = next.fields.find(_.name.equalsIgnoreCase(k))
        require(prev.map(_.dataType) == nf.map(_.dataType),
          s"table '$name': key column '$k' cannot change type (bucket assignment " +
            "hashes key values at their declared type; widening would re-home every " +
            "existing key to a different bucket than its stored rows)")
      }
      val reg = cur.registry.evolve(next)
      val ns = cur.copy(version = cur.version + 1,
        schemaVersion = reg.latestVersion,
        schemas = cur.schemas + (reg.latestVersion.toString -> next.json))
      require(commit(ns.copy(epochId = cur.epochId), fence = false),
        "schema evolution commit failed")
      snapshot
    }

    /** Metadata-only commit: merge table properties into the next snapshot,
      * dropping any in `remove`
      * (reference: SetTableProperties DDL, src/delta_engine/execute/ddl.py). */
    def setProperties(ps: Map[String, String], remove: Seq[String] = Nil): Snapshot = {
      val cur = snapshot
      val next = cur.copy(version = cur.version + 1,
        properties = (cur.properties ++ ps) -- remove)
      require(commit(next, fence = false), "setProperties commit failed")
      snapshot
    }

    /** Metadata-only schema amendment IN PLACE of the current schema version:
      * column names and types must be unchanged; nullability may only loosen;
      * comments are free. Used for SetColumnComments / DROP NOT NULL actions —
      * physical file schemas are unaffected, so no new schema version is cut
      * (contrast [[evolveSchema]], which adds a version). */
    def amendSchema(next: StructType): Snapshot = {
      val cur = snapshot
      val prev = cur.schema
      require(prev.fields.map(_.name).toSeq == next.fields.map(_.name).toSeq,
        "amendSchema cannot add/drop/rename columns — use evolveSchema")
      prev.fields.zip(next.fields).foreach { case (p, n) =>
        require(p.dataType == n.dataType,
          s"amendSchema cannot change types ('${p.name}') — use evolveSchema")
        require(!(p.nullable && !n.nullable),
          s"amendSchema cannot tighten '${p.name}' to NOT NULL")
      }
      val ns = cur.copy(version = cur.version + 1,
        schemas = cur.schemas + (cur.schemaVersion.toString -> next.json))
      require(commit(ns, fence = false), "amendSchema commit failed")
      snapshot
    }

    /** Copy-on-write MERGE keyed on the table's key columns — the CDC-apply
      * kernel (reference contract: whenMatchedUpdateAll / whenNotMatchedInsertAll,
      * reference `src/models/writer.py:42-67`, plus a delete extension).
      *
      * `batch` carries columns: lsn:long, op:string(I|U|D) + the current
      * schema's columns. It may contain MULTIPLE events per key: per-key
      * max-LSN dedup is FUSED into the merge itself (see below).
      *
      * Physical shape — two Spark jobs per epoch:
      *  1. the [[perBucketStats]] pre-pass: the buckets the batch touches,
      *     with their lsn ranges and change counts (an empty batch stops
      *     here, having written nothing);
      *  2. the write ([[foldBatch]]): the batch alone is hash-repartitioned
      *     on the key columns ([[byKey]]), and each task folds its batch
      *     events into the rows of its touched buckets, read in place at
      *     their stored row `_lsn`, by the one max-LSN fold
      *     ([[BucketFold]]) -> bucketed write. Dedup, matched-update,
      *     not-matched-insert and delete collapse into that fold; the
      *     repartition's width divides the bucket count, so every bucket is
      *     whole in one task and the write needs no extra repartition.
      * Only the touched buckets are read and rewritten; the others carry
      * over by manifest reference (zero data movement). Epoch cost scales
      * with the batch's key spread, not with table size.
      *
      * `sums` are per-row long columns of `batch` that the pre-pass also
      * totals; `check` gets those totals (in `sums` order) after the
      * pre-pass and before any file is written, so throwing from it aborts
      * the apply with nothing written and nothing committed. The
      * ReplayEngine's quality gate, input count and checksum ride here.
      *
      * Ordering contract (binlog tail): epoch ids are fenced monotonic, and
      * within a batch order and duplication are free (max-LSN resolution).
      * ACROSS epochs the resolution is by true log position everywhere:
      * base rows re-enter the race at their STORED row `_lsn` (written by
      * every merge/compaction; -1 only for append/overwrite/pre-upgrade
      * files) and MoR delta rows at their own LSNs — so a later epoch that
      * redelivers stale LSNs cannot regress an existing key. The one
      * ordering obligation that remains upstream: a key already DELETED has
      * no row to outrank a stale pre-delete redelivery, so deleted-key
      * anti-resurrection needs an in-order tail or the cross-epoch dedup
      * watermark (streaming.statefulDedup).
      */
    def merge(batch: DataFrame, epochId: Long, sums: Seq[Column] = Nil,
        check: Seq[Long] => Unit = _ => ()): CommitResult = {
      val cur = snapshot
      requireMergeableSchema(cur)
      if (epochId >= 0 && epochId <= cur.epochId) return CommitResult(committed = false, cur, Nil)
      val (leg, stats) = batchStats(batch, cur, sums, check)
      if (stats.isEmpty) return CommitResult(committed = false, cur, Nil) // empty batch
      // fused dedup+merge: base rows join the race at their stored row _lsn,
      // MoR delta rows at their own LSN, batch events at theirs — one fold
      // resolves everything by true log position (a CoW merge also compacts
      // any deltas of the buckets it rewrites). Only the touched buckets'
      // manifests are read: an epoch never materializes the full file list
      // driver-side.
      val olds = filesOfBuckets(cur, Some(stats.keySet))
      val merged = foldBatch(leg, cur, olds, stats.size, BucketFold.RowsWithLsn)
      // laid out bucket-whole — no repartition before the bucketed write
      val written = writeBucketed(merged, cur, cur.version + 1,
        repartitionByBucket = false, withRowLsn = true)
      commitApply(cur, epochId, stats, written, olds)
    }

    /** The batch leg of an apply job (lsn, op, payload at the table's
      * types: the fold row, where a null op would mark a stored base row,
      * so it reads as an upsert) and the batch's per-bucket stats from the
      * [[perBucketStats]] pre-pass (empty for an empty batch). */
    private def batchStats(batch: DataFrame, cur: Snapshot, sums: Seq[Column],
        check: Seq[Long] => Unit): (DataFrame, Map[Int, BucketStats]) =
      (batch.select((Seq(col("lsn").cast(LongType).as("lsn"),
        coalesce(col("op").cast(StringType), lit("U")).as("op")) ++
        cur.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name))): _*),
        perBucketStats(batch, cur, sums, check))

    /** Per-bucket batch stats, one aggregate job that scans only the key,
      * lsn and op columns and what `sums` reads. The batch is reduced to
      * per-key winners first, so the lineage counts are the batch's per-key
      * change rows, and the bucket set is what the apply reads and
      * rewrites. Each `sums` column is totalled per key, per bucket, then
      * over the batch, and `check` gets the totals. Counting note: a winner
      * that then LOSES to a higher stored row `_lsn` (a stale redelivery)
      * is still counted — lineage/metrics report the batch's change volume,
      * an upper bound on rows actually applied under redelivery. */
    private def perBucketStats(batch: DataFrame, cur: Snapshot, sums: Seq[Column],
        check: Seq[Long] => Unit): Map[Int, BucketStats] = {
      val keys = cur.keyColumns.map(col)
      val names = sums.indices.map(i => s"_sum$i")
      val totals = names.map(n => sum(n).as(n))
      val rows = batch
        .select((keys ++ Seq(col("lsn"), col("op")) ++
          sums.zip(names).map { case (c, n) => c.cast(LongType).as(n) }): _*)
        .groupBy(keys: _*)
        .agg(max_by(col("op"), col("lsn")).as("op"), (max("lsn").as("lsn") +: totals): _*)
        .groupBy(bucketExpr(cur).as("_b"))
        .agg(min("lsn").as("lmin"), (Seq(max("lsn").as("lmax"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("dels"),
          sum(when(col("op") =!= "D", 1L).otherwise(0L)).as("ups")) ++ totals): _*)
        .collect()
      check(names.map(n => rows.map(_.getAs[Long](n)).sum))
      rows.map(r => r.getAs[Int]("_b") -> BucketStats(r.getAs[Long]("lmin"),
        r.getAs[Long]("lmax"), r.getAs[Long]("ups"), r.getAs[Long]("dels"))).toMap
    }

    /** Commit an apply epoch whose `written` files replace `olds` — every
      * file of the buckets a CoW merge rewrote, Nil for a MoR delta append.
      * `stats` has every bucket the batch touched, so every bucket a file
      * was written to: each file gets its bucket's batch lsn range, and
      * lineage has one row per bucket in `stats`. */
    private def commitApply(cur: Snapshot, epochId: Long, stats: Map[Int, BucketStats],
        written: Seq[DataFile], olds: Seq[DataFile]): CommitResult = {
      val newFiles = written.map { f =>
        val s = stats(f.bucket)
        f.copy(lsnMin = s.lsnMin, lsnMax = s.lsnMax)
      }
      val oldByBucket = olds.groupBy(_.bucket)
      val next = nextSnapshot(cur.copy(version = cur.version + 1, epochId = math.max(epochId, cur.epochId),
        lsnHigh = math.max(stats.values.map(_.lsnMax).max, cur.lsnHigh)), oldByBucket.keySet, newFiles)
      val ok = commit(next, fence = epochId >= 0)
      val lin = stats.toSeq.map { case (b, s) =>
        LineageEntry(name, next.version, epochId, b, s.lsnMin, s.lsnMax, s.upserts, s.deletes,
          newFiles.count(_.bucket == b), oldByBucket.get(b).fold(0)(_.size), nowTs())
      }
      CommitResult(ok, if (ok) next else cur, if (ok) lin else Nil)
    }

    /** Merge-on-read apply: dedup the batch to per-key winners and append
      * them as bucketed DELTA files (deletes kept as tombstones) — no base
      * rewrite. The winners come from the max-LSN fold with no stored files
      * ([[foldBatch]]), and readers apply deltas with the same fold;
      * [[compactDeltas]] (or any CoW merge touching the bucket) folds them
      * into base files. The MoR trade: epoch apply cost ~ batch size instead
      * of ~ touched-bucket size; read cost grows with outstanding deltas.
      * The same two jobs as [[merge]], with the same `sums`/`check` seam:
      * the [[perBucketStats]] pre-pass, then the winners write. */
    def deltaAppend(batch: DataFrame, epochId: Long, sums: Seq[Column] = Nil,
        check: Seq[Long] => Unit = _ => ()): CommitResult = {
      val cur = snapshot
      requireMergeableSchema(cur)
      if (epochId >= 0 && epochId <= cur.epochId) return CommitResult(committed = false, cur, Nil)
      val (leg, stats) = batchStats(batch, cur, sums, check)
      if (stats.isEmpty) return CommitResult(committed = false, cur, Nil) // empty batch
      // per-key winners incl. delete tombstones, keeping (lsn, op)
      val winners = foldBatch(leg, cur, Nil, stats.size, BucketFold.Changes)
      val written = writeBucketed(winners, cur, cur.version + 1,
        repartitionByBucket = false, kind = "delta")
      val res = commitApply(cur, epochId, stats, written, olds = Nil)
      if (res.committed) maybeAutoCompact(res.snapshot)
      res
    }

    /** MoR read-amplification guard: with table property
      * `graft.mor.compactAfter = k`, any bucket whose outstanding delta-file
      * count exceeds k is folded into its base right after the delta commit
      * — per-bucket read cost stays O(base + k deltas) under arbitrarily
      * long uncompacted epoch runs, instead of growing linearly with epoch
      * count. Bucket selection is O(manifest refs); the fold rewrites ONLY
      * the over-threshold buckets. Trade-off: each fold advances
      * foldedLsnHigh, so `changesSince` consumers must keep their lag under
      * the policy window (the standard compaction-lag contract of every
      * incremental-feed store) — leave the property unset to schedule
      * compaction explicitly. */
    private def maybeAutoCompact(snap: Snapshot): Unit =
      // BEST-EFFORT by contract: the delta commit this policy piggybacks on
      // has already succeeded, so neither a malformed property value nor a
      // fold failure (e.g. a commit conflict with a concurrent writer) may
      // propagate — the caller's epoch write IS durable and a streaming
      // batch must not be failed retroactively. The fold retries on the
      // next over-threshold append.
      snap.properties.get("graft.mor.compactAfter")
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption).foreach { k =>
          try {
            val over = snap.manifests.filter(_.deltaFiles > k).map(_.bucket).toSet
            if (over.nonEmpty) { compactDeltas(Some(over)); () }
          } catch {
            case scala.util.control.NonFatal(e) =>
              println(s"[graft] auto-compaction of $name deferred: ${e.getMessage}")
          }
        }

    /** Fold outstanding MoR delta files into base files (per-bucket CoW
      * rewrite; logical no-op, epoch fence untouched). `only` restricts the
      * fold to a bucket subset (the auto-compaction policy's selective
      * path). Returns buckets compacted. */
    def compactDeltas(only: Option[Set[Int]] = None): Int = synchronized {
      val cur = snapshot
      val withDeltas = cur.manifests.filter(_.deltaFiles > 0).map(_.bucket).toSet
      val buckets = only.foldLeft(withDeltas)(_ intersect _)
      if (buckets.nonEmpty) rewrite(cur, buckets)()
      buckets.size
    }

    /** CDC-out: the change rows (lsn, op, payload) committed AFTER snapshot
      * `sinceVersion`, from MoR delta files — the lake table as a change
      * SOURCE for downstream incremental consumers. Only available while the
      * deltas are uncompacted (CoW epochs / compaction fold them away); pair
      * with a compaction policy that lags the downstream consumers. */
    def changesSince(sinceVersion: Long, endVersion: Option[Long] = None,
        filters: Seq[org.apache.spark.sql.sources.Filter] = Nil): DataFrame = {
      // `endVersion` pins the feed's upper bound to a specific snapshot
      // (MVCC): a resolved SQL relation captures it at resolution time so a
      // concurrent commit (or schema evolution) between resolution and scan
      // can never change the rows or mis-bind the declared schema.
      val cur = endVersion.map(snapshotAt).getOrElse(snapshot)
      val sinceSnap =
        try snapshotAt(sinceVersion)
        catch {
          case e: java.nio.file.NoSuchFileException =>
            throw new IllegalStateException(
              s"changes since v$sinceVersion no longer available: snapshot manifest was vacuumed", e)
        }
      // completeness check, O(1) in commit history: every delta committed
      // AFTER `since` carries lsn > since.lsnHigh (binlog ordering contract),
      // so post-since changes were folded away by a CoW merge / compaction
      // iff the folded high-watermark exceeds since.lsnHigh — silently
      // returning the survivors would be silent data loss downstream.
      if (cur.foldedLsnHigh.exists(_ > sinceSnap.lsnHigh))
        throw new IllegalStateException(
          s"changes since v$sinceVersion no longer available: delta files committed after it " +
            s"were compacted/merged away (foldedLsnHigh=${cur.foldedLsnHigh.get} > " +
            s"sinceLsnHigh=${sinceSnap.lsnHigh}; schedule compaction to lag consumers)")
      // delta-only resolution: manifests without delta files are never read
      val before = filesOfBuckets(sinceSnap, None, deltaOnly = true).map(_.path).toSet
      val newDeltas = filesOfBuckets(cur, None, deltaOnly = true).filterNot(f => before(f.path))
      // file skipping on the FEED: a narrow tail (`WHERE lsn >= x`, an
      // op-filtered or payload-filtered read) plans only the delta files
      // whose harvested footer bounds, evaluated against the feed schema
      // (lsn, op, payload...), may match. A stamped file's exact lsn range
      // from the manifest bounds its `lsn` column even where footer stats
      // are absent. Unlike the base-table path this needs no delta-free
      // guard: feed rows ARE delta-file rows, no cross-file resolution
      // happens here.
      val feed = changefeed.feedSchema(cur.schema)
      val kept = newDeltas.filter { f =>
        // lsn/op are physical feed columns outside the registry schema:
        // the old-schema projection passes them through untouched
        val s = cur.statsOf(f).getOrElse(Map.empty[String, skipping.ColStats])
        val stats = if (f.lsnMin < 0) s
          else s + ("lsn" -> skipping.ColStats(Some(f.lsnMin.toString), Some(f.lsnMax.toString), 0L))
        filters.forall(flt => skipping.mayMatch(stats, f.rows, feed, flt))
      }
      skipping.ScanStats.lastFeed.set(Some((kept.size, newDeltas.size)))
      readStored(cur, kept, changefeed.feedMeta) // (lsn, op) ahead of the payload
    }

    // ---- maintenance ------------------------------------------------------

    /** Time travel: read the table as of an older snapshot version. CoW never
      * mutates files in place, so any non-vacuumed snapshot reads exactly. */
    def readAt(version: Long): DataFrame = {
      val snap = snapshotAt(version)
      readBuckets(snap, None)
    }

    /** Resolve `TIMESTAMP AS OF`: the LARGEST snapshot version whose commit
      * wall-clock is at or before `tsMillis` (Iceberg/Delta semantics).
      * Pre-committedAt manifests count as arbitrarily old, so they resolve
      * for any timestamp. Throws if the timestamp predates every retained
      * snapshot. */
    def versionAt(tsMillis: Long): Long = {
      // committedAt is monotone in version BY CONSTRUCTION (commit()
      // monotonicizes each stamp against its predecessor's, never trusting
      // the wall clock alone), so scan newest-first and stop at the first
      // eligible snapshot — O(versions newer than ts) manifest parses, not
      // O(all retained versions)
      history().reverseIterator
        .find(v => snapshotAt(v).committedAt.getOrElse(0L) <= tsMillis)
        .getOrElse(throw new IllegalArgumentException(
          s"no snapshot of '$name' committed at or before timestamp $tsMillis " +
            "(it predates the table, or older snapshots were vacuumed)"))
    }

    /** List snapshot versions currently on disk (oldest first). */
    def history(): Seq[Long] = LakeTable.versions(store, metaDir)

    /** The one maintenance rewrite behind [[compactDeltas]], [[compact]],
      * [[cluster]] and [[rebucket]]: every file of `buckets` is read and
      * written back as base files laid out under `to` (the current layout,
      * or a new bucket count), per-row `_lsn` kept, then committed unfenced
      * (a logical no-op: the epoch fence is untouched). Keyed buckets are
      * read in place through the max-LSN fold ([[foldFiles]]), which
      * resolves any deltas: under the current layout the write runs no
      * exchange, and under a new bucket count the winners take one key
      * repartition ([[byKey]] under `to`). Keyless tables (never
      * delta-bearing) repartition on the bucket column instead. Each new
      * file is stamped with its old bucket's [[lsnEnvelope]], or with the
      * global one when `to` changes the bucket count: a bucket's rows
      * scatter under the new hash, and a wider range costs pruning
      * selectivity, never correctness. Returns the committed snapshot. */
    private def rewrite(cur: Snapshot, buckets: Set[Int])(to: Snapshot = cur,
        sortCols: Seq[String] = Nil, maxRowsPerFile: Option[Long] = None): Snapshot = {
      val olds = filesOfBuckets(cur, Some(buckets))
      val data =
        if (cur.keyColumns.isEmpty) readBase(cur, olds)
        else if (to.numBuckets == cur.numBuckets) foldFiles(cur, olds, BucketFold.RowsWithLsn)
        else byKey(foldFiles(cur, olds, BucketFold.RowsWithLsn), to, to.numBuckets)
      val written = writeBucketed(data, to, cur.version + 1, repartitionByBucket = cur.keyColumns.isEmpty,
        withRowLsn = true, sortCols = sortCols, maxRowsPerFile = maxRowsPerFile)
      val envelope: Int => (Long, Long) =
        if (to.numBuckets != cur.numBuckets) { val all = lsnEnvelope(olds); _ => all }
        else { val byBucket = olds.groupBy(_.bucket); b => lsnEnvelope(byBucket.getOrElse(b, Nil)) }
      val next = nextSnapshot(to.copy(version = cur.version + 1), buckets, written.map { f =>
        val (lo, hi) = envelope(f.bucket)
        f.copy(lsnMin = lo, lsnMax = hi)
      })
      commit(next, fence = false) // unfenced: never a replay no-op
      next
    }

    /** The lsn range `files` cover, excluding the -1 "unstamped" sentinel so
      * one unstamped file cannot corrupt the range; (-1, -1) when no file is
      * stamped. */
    private def lsnEnvelope(files: Seq[DataFile]): (Long, Long) = {
      val stamped = files.filter(_.lsnMin >= 0)
      if (stamped.isEmpty) (-1L, -1L)
      else (stamped.map(_.lsnMin).min, stamped.map(_.lsnMax).max)
    }

    /** Compact a bucket's small files into one file per bucket (logical no-op;
      * data rewrite only). Buckets whose file count is below `minFiles` are
      * left alone. Returns the number of buckets compacted. */
    def compact(minFiles: Int = 2): Int = synchronized {
      val cur = snapshot
      // bucket selection is ref-count-only (no manifest reads; a pre-field
      // ref's 0 rows reads as a target of one file). Under a
      // cluster-on-write policy the TARGET layout is ceil(rows / cap) files
      // per bucket, not one: a bucket already at (or under) its target is
      // done — without this, scheduled compactions would rewrite perfectly
      // laid-out buckets forever and always report progress
      val expected: ManifestRef => Long = clusterPolicy(cur)._2 match {
        case None => _ => 1L
        case Some(cap) => m => math.max(1L, (m.rows + cap - 1) / cap)
      }
      val buckets = cur.manifests
        .filter(m => m.numFiles >= minFiles && m.numFiles > expected(m)).map(_.bucket).toSet
      if (buckets.nonEmpty) rewrite(cur, buckets)()
      buckets.size
    }

    /** Change the table's hash-bucket count — the one layout knob fixed at
      * create time. A growing table eventually outgrows its bucket count
      * (per-bucket rewrite amplification is table size / numBuckets), so
      * 32 → 256 must be a maintenance op, not a re-create. Logical no-op:
      * one full CoW rewrite (each old bucket folded in place, then ONE wide
      * shuffle of the winners on the new bucket hash + bucket-aligned
      * write), epoch fence untouched, so in-flight CDC replay/streaming
      * continues across it unchanged. Outstanding MoR deltas are absorbed
      * by the rewrite (the fold applies them), so their lsn range
      * folds into foldedLsnHigh exactly like compaction. Per-row `_lsn`
      * stamps survive the rewrite; the new files' lsn RANGES are the old
      * files' global envelope (see [[rewrite]]). Returns the new snapshot
      * version. */
    def rebucket(newBuckets: Int): Long = synchronized {
      val cur = snapshot
      require(newBuckets >= 1, s"bucket count must be >= 1, got $newBuckets")
      if (newBuckets == cur.numBuckets) cur.version // already there: no-op
      else rewrite(cur, (0 until cur.numBuckets).toSet)(to = cur.copy(numBuckets = newBuckets)).version
    }

    /** Sort-cluster maintenance op: rewrite every bucket ordered by
      * `sortCols`, split into files of at most `maxRowsPerFile` rows. The
      * bucket layout (key hashing) is untouched — clustering changes the
      * order WITHIN buckets, so a bucket becomes several files with tight,
      * pairwise-disjoint bounds on the sort columns and a non-key range or
      * equality predicate then skips most of the bucket's files at planning
      * time ([[skipping]]). This is the file-bounds complement of bucket
      * pruning: key predicates prune buckets, clustered-column predicates
      * prune files within buckets. Logically a no-op (fenced-neutral full
      * CoW rewrite, per-row `_lsn` preserved, outstanding MoR deltas
      * absorbed with the fold watermark advanced — stale feeds refuse,
      * exactly like [[rebucket]]). Iceberg analog: rewriteDataFiles with a
      * sort order. Returns the new snapshot version. */
    def cluster(sortCols: Seq[String], maxRowsPerFile: Long = 1L << 20): Long = synchronized {
      val cur = snapshot
      require(sortCols.nonEmpty, "cluster needs at least one sort column")
      require(maxRowsPerFile > 0, s"maxRowsPerFile must be positive, got $maxRowsPerFile")
      // resolve case-insensitively to the schema's spelling
      val resolved = sortCols.map { c =>
        cur.schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"cluster column '$c' not in schema ${cur.schema.fieldNames.mkString("(", ", ", ")")}"))
      }
      rewrite(cur, (0 until cur.numBuckets).toSet)(
        sortCols = resolved, maxRowsPerFile = Some(maxRowsPerFile)).version
    }

    /** Garbage-collect: drop all snapshots except the newest `keepSnapshots`
      * and delete every data file no kept snapshot references, plus orphan
      * files from crashed writes. Returns (#manifests removed, #files removed). */
    def vacuum(keepSnapshots: Int = 1): (Int, Int) = synchronized {
      vacuumKeeping(history().takeRight(math.max(1, keepSnapshots)).toSet)
    }

    /** Age-based retention: drop every snapshot whose commit wall-clock is
      * older than `olderThan` (the current snapshot always survives — a
      * quiet table must stay readable), then sweep orphans. Pre-committedAt
      * snapshots count as arbitrarily old. */
    def vacuum(olderThan: java.time.Duration): (Int, Int) = synchronized {
      val cutoff = System.currentTimeMillis() - olderThan.toMillis
      val versions = history()
      val keep = versions.filter(v => snapshotAt(v).committedAt.getOrElse(0L) >= cutoff).toSet ++
        versions.lastOption
      vacuumKeeping(keep)
    }

    private def vacuumKeeping(keep: Set[Long]): (Int, Int) = synchronized {
      val versions = history()
      val keptSnaps = keep.toSeq.map(snapshotAt)
      val referenced: Set[String] = keptSnaps.flatMap(s => filesOf(s).map(_.path)).toSet
      var manifestsRemoved = 0
      versions.filterNot(keep).foreach { v => store.delete(snapPath(v)); manifestsRemoved += 1 }
      // GC per-bucket manifest files no kept snapshot references
      val keptManifests: Set[String] = keptSnaps.flatMap(_.manifests.map(_.path)).toSet
      store.list(metaDir.resolve("m")).map(n => s"meta/m/$n").filterNot(keptManifests).foreach { rel =>
        store.delete(Paths.get(root, rel)); manifestCache.remove(rel); manifestsRemoved += 1
      }
      val filesRemoved = if (Files.isDirectory(dataDir)) sweepOrphans(referenced) else 0
      (manifestsRemoved, filesRemoved)
    }

    /** Orphan-file sweep under `data/`. Small tables walk driver-side (a
      * Spark job costs more than the walk); from [[sweepThreshold]] on — the
      * 100 TB envelope, where the tree holds millions of files — the listing
      * AND deletion run as ONE Spark job with a task per snapshot data dir:
      * executors list + delete against shared storage and report (removed,
      * kept) counts, the driver never materializes the file tree. Dirs left
      * with zero files are pruned driver-side from the per-task counts. */
    private def sweepOrphans(referenced: Set[String]): Int = {
      val snapDirs: Seq[String] = {
        val s = Files.list(dataDir)
        try s.toArray.map(_.asInstanceOf[Path]).filter(Files.isDirectory(_)).map(_.toString).toSeq
        finally s.close()
      }
      if (snapDirs.isEmpty || referenced.size < sweepThreshold) {
        var removed = 0
        listParquet(dataDir).foreach { p =>
          val rel = Paths.get(root).relativize(p).toString
          if (!referenced(rel)) { Files.deleteIfExists(p); removed += 1 }
        }
        // prune now-empty snapshot data dirs
        val ds = Files.list(dataDir)
        try ds.forEach { d =>
          if (Files.isDirectory(d)) {
            val probe = Files.walk(d)
            val empty = try !probe.anyMatch(f => Files.isRegularFile(f)) finally probe.close()
            if (empty) deleteTree(d)
          }
        } finally ds.close()
        removed
      } else {
        val rootStr = root
        // Ship each task ONLY its snapshot dir's referenced subset, carried
        // in the task's own input partition: data paths are
        // `data/<snapshotDir>/_b=<n>/...`, so the referenced set partitions
        // cleanly by its second path segment. The driver already holds the
        // full set (it derived it from the kept snapshots' manifests), but
        // no executor ever receives more than its dirs' slices — the old
        // full-set broadcast put a multi-hundred-MB object on EVERY executor
        // at the 10M-file envelope.
        val refsByDir: Map[String, Seq[String]] = referenced.toSeq.groupBy { rel =>
          val p = Paths.get(rel)
          if (p.getNameCount >= 2) dataDir.resolve(p.getName(1).toString).toString
          else rootStr // malformed ref: grouped away from every real dir
        }
        val perDirInput = snapDirs.map(d => (d, refsByDir.getOrElse(d, Nil)))
        Vacuum.lastMaxTaskRefs.set(
          if (perDirInput.isEmpty) 0 else perDirInput.map(_._2.size).max)
        val perDir = spark.sparkContext
          .parallelize(perDirInput, math.max(1, math.min(snapDirs.size, 64)))
          .map { case (dirStr, refSeq) =>
            val refs = refSeq.toSet
            val dir = Paths.get(dirStr)
            var removed = 0; var kept = 0
            val s = Files.walk(dir)
            try s.forEach { p =>
              if (Files.isRegularFile(p)) {
                val rel = Paths.get(rootStr).relativize(p).toString
                if (p.toString.endsWith(".parquet") && !refs.contains(rel)) {
                  Files.deleteIfExists(p); removed += 1
                } else kept += 1 // referenced parquet OR any non-parquet file
                  // (in-flight _temporary trees, markers): dir must survive,
                  // same contract as the sequential sweep
              }
            } finally s.close()
            (dirStr, removed, kept)
          }.collect()
        perDir.filter(_._3 == 0).foreach { case (d, _, _) => deleteTree(Paths.get(d)) }
        perDir.map(_._2).sum
      }
    }

    private def deleteTree(d: Path): Unit = {
      val w = Files.walk(d)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally w.close()
    }
  }
}
