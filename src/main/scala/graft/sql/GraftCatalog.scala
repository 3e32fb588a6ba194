package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.lake

/** GraftLake as a Spark DataSource V2 `TableCatalog` — the engine's tables
  * become first-class SQL citizens, no temp-view indirection:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.g", "graft.sql.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.g.warehouse", "/data/lake")
  *   spark.sql("SELECT * FROM g.db.repo_files")            // snapshot read
  *   spark.sql("SELECT * FROM g.db.repo_files VERSION AS OF 3")  // time travel
  *   spark.sql("INSERT INTO g.db.repo_files SELECT ...")   // append sink
  *   spark.sql("MERGE INTO g.db.repo_files t USING s ...") // CDC apply (see GraftMerge)
  * }}}
  *
  * Catalog plugins resolve lazily from session conf, so no session-creation
  * hook is needed. Layout: `<warehouse>/<namespace>/<table>` — one lake-table
  * root per table (reference analog: the 3-part `catalog.schema.table`
  * naming of src/models/table.py:16-93 re-targeted at our snapshot format).
  *
  * Table reads plan one native DSv2 scan per snapshot ([[GraftKeyedScan]]):
  * bucket partitions that report the hash layout, with MoR deltas folded
  * and old-schema files conformed inside each bucket's task. Writes
  * delegate to the V1 connector bridge
  * ([[org.apache.spark.sql.connector.write.V1Write]]): the lake table
  * already consumes DataFrames whose plans Catalyst optimizes end-to-end.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
    with FunctionCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"set spark.sql.catalog.$name.warehouse to the lake warehouse directory"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def rootOf(ident: Identifier): String =
    (warehouse +: ident.namespace() :+ ident.name()).mkString("/")

  override def tableExists(ident: Identifier): Boolean =
    lake.LakeTable.exists(rootOf(ident))

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) {
      // Iceberg-style metadata table: `SELECT * FROM cat.db.t.history` parses
      // as Identifier(ns = [db, t], name = "history") — surface the commit
      // log (DESCRIBE HISTORY analog) when `t` is a lake table
      val ns = ident.namespace()
      if (ident.name() == "history" && ns.nonEmpty) {
        val base = Identifier.of(ns.init, ns.last)
        if (tableExists(base))
          return new GraftHistoryTable(
            lake.LakeTable.load(spark, rootOf(base), base.name()))
      }
      // `SELECT * FROM cat.db.t.files` — the live file inventory (Iceberg
      // t.files analog); manifest parsing distributed across executors
      if (ident.name() == "files" && ns.nonEmpty) {
        val base = Identifier.of(ns.init, ns.last)
        if (tableExists(base))
          return new GraftFilesTable(
            lake.LakeTable.load(spark, rootOf(base), base.name()))
      }
      // CDC-out metadata table: `SELECT * FROM cat.db.t.changes_since_<v>`
      // = LakeTable.changesSince(v) through SQL — the change rows (lsn, op,
      // payload) committed after snapshot v, with the folded-loss
      // completeness check surfacing as the scan's error
      if (ident.name().startsWith("changes_since_") && ns.nonEmpty) {
        val base = Identifier.of(ns.init, ns.last)
        val since = ident.name().stripPrefix("changes_since_").toLongOption
        if (tableExists(base) && since.isDefined)
          return new GraftChangesTable(
            lake.LakeTable.load(spark, rootOf(base), base.name()), since.get)
      }
      throw new NoSuchTableException(ident.namespace() :+ ident.name())
    }
    new GraftTable(lake.LakeTable.load(spark, rootOf(ident), ident.name()), None)
  }

  /** Time travel: `VERSION AS OF <snapshotVersion>`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident.namespace() :+ ident.name())
    new GraftTable(lake.LakeTable.load(spark, rootOf(ident), ident.name()), Some(version.toLong))
  }

  /** Time travel: `TIMESTAMP AS OF <ts>` — Spark hands the session-zone
    * timestamp as MICROseconds since epoch; resolve the largest snapshot
    * committed at or before it (LakeTable.versionAt). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident.namespace() :+ ident.name())
    val t = lake.LakeTable.load(spark, rootOf(ident), ident.name())
    new GraftTable(t, Some(t.versionAt(Math.floorDiv(timestamp, 1000L))))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = java.nio.file.Paths.get((warehouse +: namespace).mkString("/"))
    if (!java.nio.file.Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala
      .filter(p => lake.LakeTable.exists(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString)).toArray
    finally s.close()
  }

  /** Table properties understood at create time:
    *  - `primary_key`: comma-separated merge-key columns (required for MERGE)
    *  - `buckets`: hash-bucket count (default 32)
    * Everything else is carried verbatim into snapshot properties. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        "PARTITIONED BY is not supported: GraftLake tables are hash-bucketed on the " +
          "primary key (TBLPROPERTIES 'primary_key'/'buckets') — refusing beats silently " +
          "ignoring the requested layout")
    val props = properties.asScala.toMap
    val keys = props.get("primary_key").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    val buckets = props.get("buckets").map(_.toInt).getOrElse(32)
    val t = lake.LakeTable.createIfNotExists(spark, rootOf(ident), ident.name(), schema,
      keys, numBuckets = buckets,
      properties = props -- Seq("primary_key", "buckets"))
    new GraftTable(t, None)
  }

  /** SQL ALTER TABLE, restricted to the engine's additive evolution contract
    * (north rule: new nullable columns only; everything else goes through —
    * and is refused by — the planner/validator, like the reference's
    * delta_engine safety rules):
    *  - ADD COLUMNS (nullable, top-level) -> `LakeTable.evolveSchema`
    *    (metadata-only commit; old files conform on read)
    *  - ALTER COLUMN c TYPE <wider> (non-key, widening lattice only) ->
    *    the same evolveSchema path (cast-on-read, no rewrite)
    *  - SET/UNSET TBLPROPERTIES -> `LakeTable.setProperties` */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = lake.LakeTable.load(spark, rootOf(ident), ident.name())
    val (adds, rest0) = changes.partition(_.isInstanceOf[TableChange.AddColumn])
    val (widens, rest) = rest0.partition(_.isInstanceOf[TableChange.UpdateColumnType])
    val (props, unsupported) = rest.partition(c =>
      c.isInstanceOf[TableChange.SetProperty] || c.isInstanceOf[TableChange.RemoveProperty])
    if (unsupported.nonEmpty)
      throw new UnsupportedOperationException(
        s"only additive ADD COLUMNS, type-WIDENING ALTER COLUMN ... TYPE and " +
          s"TBLPROPERTIES changes are supported; " +
          s"got ${unsupported.map(_.getClass.getSimpleName).mkString(", ")} " +
          "(drops/renames/narrowing are refused by design — additive evolution only)")
    if (adds.nonEmpty || widens.nonEmpty) {
      // ALTER COLUMN c TYPE <wider>: lowered onto the same additive
      // evolution path as ADD COLUMNS — the registry validates the change
      // against the widening lattice (narrowing throws), evolveSchema
      // refuses KEY columns (their type feeds the bucket hash), and old
      // files conform on read (cast) without rewrite
      val widenByName = widens.map { c =>
        val u = c.asInstanceOf[TableChange.UpdateColumnType]
        require(u.fieldNames().length == 1, "nested column type changes are not supported")
        u.fieldNames().head.toLowerCase -> u.newDataType()
      }.toMap
      val known = t.snapshot.schema.fieldNames.map(_.toLowerCase).toSet
      widenByName.keys.find(!known(_)).foreach(k =>
        throw new IllegalArgumentException(s"no such column: $k"))
      val updated = t.snapshot.schema.fields.map { f =>
        widenByName.get(f.name.toLowerCase).map(dt => f.copy(dataType = dt)).getOrElse(f)
      }
      val newFields = adds.map { c =>
        val a = c.asInstanceOf[TableChange.AddColumn]
        require(a.fieldNames().length == 1, "nested column adds are not supported")
        require(a.isNullable, s"new column ${a.fieldNames().head} must be nullable " +
          "(additive evolution cannot invent values for existing rows)")
        val f = org.apache.spark.sql.types.StructField(a.fieldNames().head, a.dataType(), nullable = true)
        Option(a.comment()).filter(_.nonEmpty).map(f.withComment).getOrElse(f)
      }
      t.evolveSchema(StructType(updated ++ newFields))
    }
    if (props.nonEmpty) {
      val sets = props.collect { case p: TableChange.SetProperty => p.property() -> p.value() }.toMap
      val removes = props.collect { case p: TableChange.RemoveProperty => p.property() }
      t.setProperties(sets, removes.toSeq)
    }
    new GraftTable(t, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = java.nio.file.Paths.get(rootOf(ident))
    if (!lake.LakeTable.exists(root.toString)) return false
    val w = java.nio.file.Files.walk(root)
    try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally w.close()
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME is not supported")

  // ---- maintenance procedures (CALL g.system.<proc>(...)) ------------------

  /** `CALL <catalog>.system.compact|compact_deltas|vacuum|expire_snapshots|
    * rebucket(...)` — SQL lifecycle surface over the programmatic
    * maintenance ops (see [[GraftProcedures]]). The `table` argument is a
    * catalog-relative name (`'db.t'` or `'t'`). */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!(ident.namespace().sameElements(Array("system"))))
      throw new RuntimeException(
        s"procedures live under the 'system' namespace: CALL $catalogName.system.${ident.name()}(...)")
    GraftProcedures.load(ident.name(), resolveTableRef).getOrElse(
      throw new RuntimeException(
        s"unknown procedure '${ident.name()}'; available: ${GraftProcedures.names.mkString(", ")}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ---- V2 functions (storage-partitioned join support) ---------------------

  /** The one catalog function: `bucket(numBuckets, key...)` — Catalyst
    * resolves the keyed scan's reported bucket transform through here to
    * prove two graft scans co-partitioned (see [[GraftSpj]]). Accepted at
    * the root and under `system`, matching where Spark's transform
    * resolution (empty namespace) and humans (`cat.system.bucket`) look. */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val nsOk = ident.namespace().isEmpty || ident.namespace().sameElements(Array("system"))
    val nm = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (nsOk && nm == "bucket") GraftBucketFunction
    else if (nsOk && nm.startsWith("graft_bucket_") && nm.drop(13).forall(_.isDigit)
        && nm.length > 13)
      // composite-key layout hash, bucket count baked into the name
      // (GraftSpj); an overlong digit suffix must fall through to the
      // clean unresolved-function error, not a NumberFormatException
      nm.drop(13).toIntOption.map(new GraftNamedBucketFunction(_)).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  /** Resolve a procedure's catalog-relative `'db.t'` / `'t'` table argument
    * to its lake table (same layout rule as `rootOf`). */
  private def resolveTableRef(ref: String): lake.LakeTable = {
    val parts = ref.split("\\.").map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty table reference '$ref'")
    val ident = Identifier.of(parts.init, parts.last)
    if (!tableExists(ident))
      throw new NoSuchTableException(ident.namespace() :+ ident.name())
    lake.LakeTable.load(spark, rootOf(ident), ident.name())
  }

  // ---- namespaces (directories under the warehouse) ------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val dir = java.nio.file.Paths.get(warehouse)
    if (!java.nio.file.Files.isDirectory(dir)) return Array.empty
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
      .filterNot(p => lake.LakeTable.exists(p.toString))
      .map(p => Array(p.getFileName.toString)).toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get((warehouse +: namespace).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get((warehouse +: namespace).mkString("/")))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = java.nio.file.Paths.get((warehouse +: namespace).mkString("/"))
    if (!java.nio.file.Files.isDirectory(dir)) return false
    // the emptiness check must recurse: createNamespace supports nested
    // namespaces, so a table anywhere UNDER this directory (not just a
    // direct child) makes a non-cascade drop destructive
    if (!cascade) {
      val w = java.nio.file.Files.walk(dir)
      val hasTable =
        try w.anyMatch(p => java.nio.file.Files.isDirectory(p) && lake.LakeTable.exists(p.toString))
        finally w.close()
      if (hasTable)
        throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    }
    val w = java.nio.file.Files.walk(dir)
    try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally w.close()
    true
  }
}

/** Read-only `history` metadata table (DESCRIBE HISTORY / Iceberg
  * `t.history` analog): one row per retained snapshot, from the JSON
  * manifests. Metadata-only and O(retained snapshots) — built driver-side
  * by design, like every other manifest read. */
class GraftHistoryTable(lakeTable: lake.LakeTable) extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val historySchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = true),
    StructField("epoch_id", LongType, nullable = false),
    StructField("lsn_high", LongType, nullable = false),
    StructField("schema_version", IntegerType, nullable = false),
    StructField("format_version", IntegerType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("n_manifests", IntegerType, nullable = false)))

  override def name(): String = s"${lakeTable.name}.history"
  override def schema(): StructType = historySchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = historySchema
        override def toV1TableScan[T <: BaseRelation with TableScan](ctx: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = ctx
            override def schema: StructType = historySchema
            override def buildScan(): RDD[Row] = {
              val rows = lakeTable.history().map { v =>
                val s = lakeTable.snapshotAt(v)
                Row(s.version,
                  s.committedAt.map(new java.sql.Timestamp(_)).orNull,
                  s.epochId, s.lsnHigh, s.schemaVersion, s.formatVersion,
                  s.numFiles, s.manifests.size)
              }
              ctx.sparkSession.sparkContext.parallelize(rows, 1)
            }
          }.asInstanceOf[T]
      }
    }
}

/** Read-only `files` metadata table (Iceberg `t.files` analog): one row per
  * LIVE data file of the table's current snapshot — path, bucket, kind,
  * rows/bytes, schema version, lsn range, per-row-lsn flag, and the
  * data-skipping bounds as JSON. The manifests are parsed ON EXECUTORS
  * (one task slice per manifest ref), so the listing scales to
  * the 10M-file envelope without materializing the file set on the driver
  * — the same distribution discipline as vacuum's per-dir scan. */
class GraftFilesTable(lakeTable: lake.LakeTable) extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val pinnedSnap = lakeTable.snapshot
  private val filesSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("schema_version", IntegerType, nullable = false),
    StructField("lsn_min", LongType, nullable = false),
    StructField("lsn_max", LongType, nullable = false),
    StructField("row_lsn", BooleanType, nullable = false),
    StructField("stats_json", StringType, nullable = true)))

  override def name(): String = s"${lakeTable.name}.files"
  override def schema(): StructType = filesSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = filesSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](ctx: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = ctx
            override def schema: StructType = filesSchema
            override def buildScan(): RDD[Row] = {
              val sc = ctx.sparkSession.sparkContext
              val (store, root) = (lakeTable.store, lakeTable.root)
              val refs = pinnedSnap.manifests.map(_.path)
              sc.parallelize(refs, math.max(1, math.min(refs.size, sc.defaultParallelism)))
                .flatMap(p => lake.readManifestFile(store, root, p).map(GraftFilesTable.toRow))
            }
          }.asInstanceOf[T]
      }
    }
}

private object GraftFilesTable {
  /** Executor-safe row builder (no table handle captured). */
  def toRow(f: lake.DataFile): Row = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    Row(f.path, f.bucket, f.kind, f.rows, f.bytes, f.schemaVersion,
      f.lsnMin, f.lsnMax, f.rowLsn,
      f.stats.map(s => org.json4s.jackson.Serialization.write(s)).orNull)
  }
}

/** Read-only CDC-out metadata table (`t.changes_since_<v>`): the MoR delta
  * change rows committed after snapshot v, resolved by
  * [[lake.LakeTable.changesSince]] — schema = (lsn, op) + the CURRENT
  * payload schema, rows read distributed from the delta parquet files. The
  * feed's completeness check (deltas folded away by compaction/overwrite)
  * throws at scan time, so SQL consumers can never silently read a partial
  * feed. */
class GraftChangesTable(lakeTable: lake.LakeTable, sinceVersion: Long)
  extends Table with SupportsRead {
  // MVCC pin (same contract GraftTable documents): the snapshot version is
  // captured at resolution and the scan resolves against IT, so a commit or
  // schema evolution between resolution and execution can neither change
  // the feed's rows nor mis-bind the declared relation schema.
  private val pinnedSnap = lakeTable.snapshot
  private val changesSchema = graft.cdc.changefeed.feedSchema(pinnedSnap.schema)

  override def name(): String = s"${lakeTable.name}.changes_since_$sinceVersion"
  override def schema(): StructType = changesSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  // pruning and predicates must ride the ScanBuilder (SupportsPushDown*):
  // through the V1ScanWrapper bridge Spark only drives plain buildScan(), so
  // V1 PrunedScan/PrunedFilteredScan mixins would never be consulted. With
  // this, a narrow `SELECT lsn, op FROM t.changes_since_v WHERE lsn >= x`
  // (the canonical incremental tail) plans only the delta FILES whose
  // manifest lsn stamps / footer bounds may match — O(matching delta files),
  // not O(feed) — and never reads the wide payload columns. Every filter is
  // also returned post-scan, so partial translation is always safe.
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      private var required: StructType = changesSchema
      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        pushed = filters
        filters // ALL stay post-scan: file skipping is I/O elision only
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit = {
        required = requiredSchema
      }
      override def build(): Scan = new V1Scan {
        private val scanFilters = pushed
        private val scanSchema = required
        override def readSchema(): StructType = scanSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](ctx: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = ctx
            override def schema: StructType = scanSchema
            override def buildScan(): RDD[Row] = {
              val base = lakeTable.changesSince(
                sinceVersion, Some(pinnedSnap.version), scanFilters.toSeq)
              // row-level filtering inside the lake plan: Catalyst pushes
              // the translated predicates into the surviving parquet scans
              val df = scanFilters
                .flatMap(GraftV1Relation.translate).foldLeft(base)(_ filter _)
              if (scanSchema.isEmpty) df.select().rdd
              else df.select(scanSchema.fieldNames.toIndexedSeq
                .map(org.apache.spark.sql.functions.col): _*).rdd
            }
          }.asInstanceOf[T]
      }
    }
}

/** One lake table surfaced to Catalyst. `pinnedVersion` = time travel.
  *
  * The snapshot is pinned at construction: one resolved Table = one
  * consistent snapshot (Iceberg semantics), so a query's schema() and its
  * scan can never straddle a concurrent commit — and repeated schema()
  * calls don't re-read manifest JSON. Writes (including MERGE) go through
  * the underlying LakeTable against its CURRENT state, as they must. */
class GraftTable(val table: lake.LakeTable, val pinnedVersion: Option[Long])
  extends Table with SupportsRead with SupportsWrite {

  private val snap = pinnedVersion.map(table.snapshotAt).getOrElse(table.snapshot)

  override def name(): String = table.name
  override def schema(): StructType = snap.schema
  override def properties(): util.Map[String, String] =
    (snap.properties ++ Map(
      "primary_key" -> snap.keyColumns.mkString(","),
      "buckets" -> snap.numBuckets.toString,
      "snapshot_version" -> snap.version.toString)).asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE)

  /** Reads plan the one keyed scan ([[GraftKeyedScan]]) with DSv2
    * pushdown: predicates and the projection arrive on the ScanBuilder via
    * SupportsPushDownFilters / SupportsPushDownRequiredColumns. The pushed
    * filters then do three jobs, outermost first: (1) key-equality bucket
    * pruning + file-level bounds skipping in
    * [[graft.cdc.lake.LakeTable.planScan]] — files that can't match are
    * never opened; (2) row-group elision inside the parquet reader (only
    * key-column filters in a bucket that folds MoR deltas); (3) every
    * filter is ALSO returned as post-scan, so Spark re-applies them above
    * us and partial translation is always safe. A SQL
    * `SELECT two_cols FROM t WHERE k = 'x'` against a 100 TB table plans one
    * bucket's surviving files and reads two columns of their matching row
    * groups, not the world. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
      with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
      private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      private var required: StructType = snap.schema
      // manifest-answered aggregate (GraftAgg): (answer schema, the one row)
      private var agg: Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = None
      // pushed LIMIT: the keyed scan plans only a covering file prefix
      private var limit: Option[Int] = None

      /** Always PARTIAL pushdown (Spark keeps its own limit on top): the
        * scan uses the limit purely to plan fewer FILES — an unfiltered
        * `SELECT ... LIMIT n` over a 10M-file table launches a handful of
        * tasks instead of one per file. */
      override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
      override def isPartiallyPushed(): Boolean = true

      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        pushed = filters
        filters // ALL stay post-scan: skipping is I/O elision, never row logic
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
      override def pruneColumns(requiredSchema: StructType): Unit = {
        required = requiredSchema
      }

      /** count(*) / count(col) / min(col) / max(col) answered from the
        * manifest ([[GraftAgg]]): complete pushdown only — either the
        * stats answer EXACTLY and the query becomes a LocalTableScan of
        * one row, or we refuse and the scan path runs untouched. Never
        * partial: a partial answer would still launch the scan job, so
        * there is nothing to win. Guarded on no pushed filters (Spark
        * won't offer aggregates past this scan's always-kept residual
        * filters anyway — belt and braces). */
      // resolved only when an aggregate asks: count(*) answers from the refs
      private lazy val allFiles: Seq[graft.cdc.lake.DataFile] = table.filesOf(snap)
      // Spark probes supportCompletePushDown and pushAggregation with the
      // same Aggregation instance — memoize by identity, not equality
      // (java records compare array components by reference anyway)
      private var aggProbe: Option[(AnyRef, Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)])] = None
      private def tryAnswer(
          aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] =
        aggProbe match {
          case Some((prev, r)) if prev eq aggregation => r
          case _ =>
            val r =
              if (pushed.nonEmpty || snap.anyDeltas) None
              else GraftAgg.answerFromRefs(snap, aggregation) // count(*): zero manifest reads
                .orElse(GraftAgg.answer(snap, allFiles, aggregation))
            aggProbe = Some((aggregation, r))
            r
        }
      override def supportCompletePushDown(
          aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Boolean = tryAnswer(aggregation).isDefined
      override def pushAggregation(
          aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Boolean = {
        agg = tryAnswer(aggregation)
        agg.isDefined
      }

      override def build(): Scan = {
        agg.foreach { case (aggSchema, row) =>
          return new org.apache.spark.sql.connector.read.LocalScan {
            override def readSchema(): StructType = aggSchema
            override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = Array(row)
            override def description(): String =
              s"graft manifest-answered aggregate ${table.name} v${snap.version}"
          }
        }
        new GraftKeyedScan(table, snap, required, pushed.toSeq, limit)
      }
    }

  /** SupportsOverwrite (not just truncate) because the advertised
    * OVERWRITE_BY_FILTER capability routes filtered overwrites here: a
    * full-table filter set becomes truncate-overwrite, anything else is
    * refused AT BUILD TIME with a clear message instead of failing
    * mid-execution. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        if (!filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          throw new UnsupportedOperationException(
            s"partial overwrite by filter is not supported (got ${filters.mkString(", ")}); " +
              "use MERGE INTO for keyed replacement or INSERT OVERWRITE for full replacement")
        overwrite = true
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ov: Boolean): Unit = {
              if (overwrite || ov) table.overwrite(data) else table.append(data)
              ()
            }
          }
      }
    }
}

/** Best-effort source-filter → Column translation for row-level application
  * inside the lake plan (reaches the parquet readers as PushedFilters) of
  * the change-feed scan. Untranslated filters are
  * harmless — every pushed filter is also returned post-scan, so Spark
  * re-applies it above. */
private[sql] object GraftV1Relation {
  def translate(
      f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === v)
      case GreaterThan(a, v) => Some(col(a) > v)
      case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
      case LessThan(a, v) => Some(col(a) < v)
      case LessThanOrEqual(a, v) => Some(col(a) <= v)
      case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, p) => Some(col(a).startsWith(p))
      case And(l, r) => for (lc <- translate(l); rc <- translate(r)) yield lc && rc
      case Or(l, r) => for (lc <- translate(l); rc <- translate(r)) yield lc || rc
      case Not(c) => translate(c).map(!_)
      case _ => None
    }
  }
}
