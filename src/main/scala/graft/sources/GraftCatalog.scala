package graft.sources

import graft.table.GraftTable
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.rdd.RDD
import java.util
import scala.jdk.CollectionConverters._

/** DSv2 catalog exposing graft tables to plain SQL
  * (reference: paimon-spark .../SparkCatalog.java + SparkTable.scala).
  *
  * Register with
  * `spark.sql.catalog.graft = graft.sources.GraftCatalog` and
  * `spark.sql.catalog.graft.warehouse = /path`, then
  * `CREATE TABLE graft.db.t (...) PARTITIONED BY (...)
  * TBLPROPERTIES ('primary-key'='k', ...)`, INSERT INTO / INSERT
  * OVERWRITE / SELECT (incl. `VERSION AS OF`) work directly.
  *
  * Reads and writes route through the library's DataFrame paths via
  * the DSv2 V1 fallbacks (V1Scan/V1Write), so manifest pruning, merge
  * engines and the commit protocol are shared with the programmatic
  * API rather than reimplemented.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  private var authUser: Option[String] = None
  private var authPassword: Option[String] = None
  @volatile private var identity: Option[String] = None

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse must be set"))
    authUser = Option(options.get("user"))
    authPassword = Option(options.get("password"))
  }

  // ---- access control (reference: privilege/ FileBasedPrivilegeManager;
  // opt-in via CALL sys.init_file_based_privilege — an un-initialized
  // warehouse enforces nothing). Identity resolves lazily so a catalog
  // registered before the store was initialized still authenticates.
  private def currentIdentity: Option[String] =
    if (!GraftPrivileges.enabled(warehouse)) None
    else {
      if (identity.isEmpty)
        identity = GraftPrivileges.authenticate(warehouse, authUser, authPassword)
      identity
    }

  private def priv(privilege: String, ident: String): Unit =
    GraftPrivileges.check(warehouse, currentIdentity, privilege, ident)

  private def fq(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  /** Table-level guard handed to loaded tables: checks fire at scan /
    * write creation, not at load (a metadata listing is not a read). */
  private def guardFor(ident: Identifier): String => Unit =
    p => priv(p, fq(ident))

  private[sources] def requireAdmin(): Unit =
    priv(GraftPrivileges.Admin, "*")

  private[sources] def privilegesEnabled: Boolean =
    GraftPrivileges.enabled(warehouse)

  override def name(): String = catalogName

  private def tablePath(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$warehouse/", "/", "")

  private[sources] def pathOf(ident: Identifier): String = tablePath(ident)
  private[sources] def warehousePath: String = warehouse

  /** `CALL sys.repair` hook: re-sync this table's entry in whatever
    * external registry the catalog mirrors into (HMS, JDBC). Takes the
    * namespace as an ARRAY — flattening to a registry-side string is
    * each registry's own convention, and round-tripping through a
    * joined string would corrupt namespaces whose names contain the
    * join token. The filesystem catalog has none — storage IS the
    * registry. */
  private[sources] def mirrorRepair(namespace: Array[String], name: String): String =
    "no external registry (filesystem catalog)"

  /** `CALL sys.register_table`: point the catalog's external registry
    * at a graft table living OUTSIDE the warehouse, read-through and
    * without copying data (reference: Catalog.registerTable — HMS/JDBC
    * registries store the path; the filesystem catalog has no registry
    * to point, its tables ARE warehouse paths). */
  private[sources] def mirrorRegister(
      namespace: Array[String], name: String, path: String): String =
    "no external registry (filesystem catalog) — read the table by path"

  /** `CALL <cat>.sys.<proc>(...)` maintenance procedures. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(n => Identifier.of(Array("sys"), n)).toArray

  /** Catalog-resolved SQL functions (bucket, max_pt). */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(this, ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctions.names.map(n => Identifier.of(Array("sys"), n)).toArray

  // ---- tables ---------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = java.nio.file.Paths.get(s"$warehouse/${namespace.mkString("/")}")
    if (!java.nio.file.Files.isDirectory(dir)) Array.empty
    else graft.core.FsUtil.listAll(dir).iterator
      .filter(p => GraftTable.exists(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  private def loadGraft(ident: Identifier): GraftTable = {
    if (!GraftTable.exists(tablePath(ident)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    GraftTable.load(spark, tablePath(ident))
  }

  private def formatMarkerPath(ident: Identifier): java.nio.file.Path =
    java.nio.file.Paths.get(tablePath(ident), "format-table.json")

  private def loadFormatTable(ident: Identifier): Table = {
    val meta = graft.core.Json.read(
      new String(java.nio.file.Files.readAllBytes(formatMarkerPath(ident)), "UTF-8"),
      classOf[FormatTableMeta])
    val sch = org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
      .asInstanceOf[StructType]
    new GraftFormatTable(tablePath(ident), sch, meta, () => {
      spark.read.format(meta.format).schema(sch)
        .options(meta.options).load(meta.path)
    })
  }

  // ---- object tables --------------------------------------------------
  // A metadata index over a directory of arbitrary objects (reference:
  // paimon-core table/object/ObjectTable.java — "metadata indexes for
  // unstructured data objects ... in Object Storage"). Declared with
  // TBLPROPERTIES ('type'='object-table','object-location'='/dir');
  // `CALL sys.refresh_object_table` materializes the listing as parquet
  // under the table dir so repeated queries don't re-list slow object
  // storage; without a materialization reads serve the live listing.

  private def objectMarkerPath(ident: Identifier): java.nio.file.Path =
    java.nio.file.Paths.get(tablePath(ident), "object-table.json")

  private[sources] def objectListing(location: String): DataFrame = {
    val sess = spark
    import sess.implicits._
    val root = java.nio.file.Paths.get(location)
    val rows = graft.core.FsUtil.walkAll(root).iterator
      .filter(java.nio.file.Files.isRegularFile(_))
      .map { p =>
        val attrs = java.nio.file.Files.readAttributes(
          p, classOf[java.nio.file.attribute.BasicFileAttributes])
        val owner = try java.nio.file.Files.getOwner(p).getName
          catch { case _: Exception => null }
        (root.relativize(p).toString, p.getFileName.toString,
          attrs.size(), attrs.lastModifiedTime().toMillis,
          attrs.lastAccessTime().toMillis, owner)
      }.toSeq
    rows.toDF("path", "name", "length", "mtime", "atime", "owner")
  }

  private def loadObjectTable(ident: Identifier): Table = {
    val meta = graft.core.Json.read(
      new String(java.nio.file.Files.readAllBytes(objectMarkerPath(ident)), "UTF-8"),
      classOf[ObjectTableMeta])
    val materialized = java.nio.file.Paths.get(tablePath(ident), "objects")
    new GraftSystemTable(tablePath(ident), () =>
      if (java.nio.file.Files.isDirectory(materialized))
        spark.read.parquet(materialized.toString)
      else objectListing(meta.location))
  }

  /** Re-list the object directory and materialize it (procedure body). */
  private[sources] def refreshObjectTable(ident: Identifier): Long = {
    val meta = graft.core.Json.read(
      new String(java.nio.file.Files.readAllBytes(objectMarkerPath(ident)), "UTF-8"),
      classOf[ObjectTableMeta])
    val df = objectListing(meta.location)
    df.write.mode("overwrite").parquet(s"${tablePath(ident)}/objects")
    df.count()
  }

  /** Catalog-wide admin tables in the `sys` database (reference:
    * table/system/AllTablesTable, AllTableOptionsTable,
    * AllPartitionsTable, CatalogOptionsTable — the catalog-level
    * counterparts of the `$`-suffix tables). Driver-side metadata
    * scans: O(tables) listings, no data file is opened. */
  private def loadSysTable(name: String): Option[Table] = {
    val sess = spark
    import sess.implicits._
    def allIdents: Seq[Identifier] =
      listNamespaces().toSeq.flatMap(ns => listTables(ns).toSeq)
    def gtOf(id: Identifier) = GraftTable.load(sess, tablePath(id))
    val dfFn: Option[() => DataFrame] = name match {
      case "all_tables" => Some(() => {
        allIdents.map { id =>
          val gt = gtOf(id)
          val snap = gt.sm.latestSnapshot()
          (id.namespace().mkString("."), id.name(),
            gt.schema.primaryKeys.mkString(","),
            gt.schema.partitionKeys.mkString(","),
            snap.map(_.id).getOrElse(-1L),
            snap.map(_.totalRecordCount).getOrElse(0L))
        }.toDF("database", "table", "primary_keys", "partition_keys",
          "latest_snapshot", "record_count")
      })
      case "all_table_options" => Some(() => {
        allIdents.flatMap { id =>
          gtOf(id).schema.options.toSeq.map { case (k, v) =>
            (id.namespace().mkString("."), id.name(), k, v) }
        }.toDF("database", "table", "key", "value")
      })
      case "all_partitions" => Some(() => {
        allIdents.flatMap { id =>
          gtOf(id).livePartitions().map(p =>
            (id.namespace().mkString("."), id.name(),
              p.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")))
        }.toDF("database", "table", "partition")
      })
      case "catalog_options" => Some(() => {
        Seq(("warehouse", warehouse)).toDF("key", "value")
      })
      case _ => None
    }
    dfFn.map(f => new GraftSystemTable(s"$warehouse/sys/$name", f))
  }

  override def loadTable(ident: Identifier): Table = {
    val name = ident.name()
    if (ident.namespace().sameElements(Array("sys"))) {
      // catalog-wide admin tables expose every table's metadata
      loadSysTable(name).foreach { t => requireAdmin(); return t }
    }
    if (java.nio.file.Files.exists(formatMarkerPath(ident))) {
      priv(GraftPrivileges.Select, fq(ident))
      return loadFormatTable(ident)
    }
    if (java.nio.file.Files.exists(objectMarkerPath(ident))) {
      priv(GraftPrivileges.Select, fq(ident))
      return loadObjectTable(ident)
    }
    if (name.contains('$')) {
      // system-table suffix: SELECT * FROM cat.db.`t$snapshots`
      // (reference: 24 system tables under table/system/, resolved by
      // the same $-suffix convention)
      val Array(base, suffix) = name.split("\\$", 2)
      // system tables surface row data ($ro, $row_tracking, $audit_log,
      // $binlog) and metadata: SELECT on the base table is required
      priv(GraftPrivileges.Select, fq(Identifier.of(ident.namespace(), base)))
      val gt = loadGraft(Identifier.of(ident.namespace(), base))
      // branch reads: SELECT * FROM cat.db.`t$branch_dev` serves the
      // branch head through the full native scan path (reference: the
      // same $branch_<name> suffix convention on SparkCatalog)
      if (suffix.startsWith("branch_")) {
        val bName = suffix.stripPrefix("branch_")
        require(gt.branches.contains(bName), s"no such branch: $bName")
        val bt = gt.branchTable(bName)
        return if (bt.isPrimaryKeyTable)
          new GraftSparkTable(bt, snapshot = None, guardFor(ident))
        else new GraftAppendSparkTable(bt, snapshot = None, guardFor(ident))
      }
      val dfFn: () => DataFrame = suffix match {
        case "snapshots" => () => gt.systemSnapshots
        case "files" => () => gt.systemFiles
        case "tags" => () => gt.systemTags
        case "manifests" => () => gt.systemManifests
        case "partitions" => () => gt.systemPartitions
        case "schemas" => () => gt.systemSchemas
        case "options" => () => gt.systemOptions
        case "branches" => () => gt.systemBranches
        case "consumers" => () => gt.systemConsumers
        case "statistics" => () => gt.systemStatistics
        case "audit_log" => () => gt.auditLog
        case "binlog" => () => gt.systemBinlog
        case "buckets" => () => gt.systemBuckets
        case "indexes" => () => gt.systemIndexes
        case "ro" => () => gt.systemReadOptimized
        case "aggregation_fields" => () => gt.systemAggregationFields
        case "row_tracking" => () => gt.systemRowTracking
        case "compact_buckets" => () => gt.systemCompactBuckets()
        case "file_monitor" => () => gt.systemFileMonitor
        case _ =>
          throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      }
      // $audit_log additionally honors the incremental-* read options —
      // its schema carries _row_kind, so changelog scan mode serves the
      // exact kinded rows (reference: AuditLogTable + the CHANGELOG
      // incremental scan mode)
      val optsFn: CaseInsensitiveStringMap => Option[DataFrame] =
        if (suffix == "audit_log") IncrementalOptions.auditLogDf(gt, _)
        else _ => None
      new GraftSystemTable(s"${gt.path}$$$suffix", dfFn, optsFn)
    } else {
      val gt = loadGraft(ident)
      // append tables additionally support group-based row-level SQL
      // (UPDATE / MERGE / non-translatable DELETE via copy-on-write)
      if (gt.isPrimaryKeyTable)
        new GraftSparkTable(gt, snapshot = None, guardFor(ident))
      else new GraftAppendSparkTable(gt, snapshot = None, guardFor(ident))
    }
  }

  /** `VERSION AS OF x`: x resolves as a TAG name first (so a tag
    * named "2024" stays reachable — the reference likewise checks
    * tagExists before parsing), then a numeric snapshot id, then a
    * BRANCH name. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val gt = loadGraft(ident)
    val snapshotId = gt.sm.tagSnapshotId(version)
      .orElse(version.toLongOption)
      .getOrElse {
        if (gt.branches.contains(version))
          return new GraftSparkTable(gt.branchTable(version), snapshot = None,
            guardFor(ident))
        throw new IllegalArgumentException(
          s"VERSION AS OF '$version': not a snapshot id, tag or branch")
      }
    new GraftSparkTable(gt, snapshot = Some(snapshotId), guardFor(ident))
  }

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val gt = loadGraft(ident)
    // DSv2 passes micros; snapshots record millis
    val id = gt.sm.snapshotIdAtTime(timestamp / 1000)
    new GraftSparkTable(gt, snapshot = id.orElse(Some(-1L)), guardFor(ident))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    priv(GraftPrivileges.CreateTable, ident.namespace().mkString("."))
    if (GraftViews.exists(warehouse, ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    val partitionKeys = partitions.toSeq.map { t =>
      require(t.name == "identity",
        s"unsupported partition transform: ${t.describe()}")
      t.references()(0).fieldNames().mkString(".")
    }
    val props = properties.asScala.toMap
    // snapshot-less FORMAT TABLE: a raw csv/json/text/parquet directory
    // registered read-only in the catalog (reference: paimon-core
    // table/FormatTable.java:61). `format-table.path` points at an
    // external directory; remaining `format-table.option.*` props pass
    // through to the reader (header, delimiter, ...).
    // object table: metadata index over an arbitrary object directory
    // (reference: ObjectTable.Builder; schema is fixed by the spec)
    if (props.get("type").contains("object-table")) {
      val location = props.getOrElse("object-location",
        throw new IllegalArgumentException(
          "object tables require TBLPROPERTIES('object-location'='/dir')"))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(tablePath(ident)))
      java.nio.file.Files.write(objectMarkerPath(ident),
        graft.core.Json.write(ObjectTableMeta(location)).getBytes("UTF-8"))
      return loadObjectTable(ident)
    }
    props.get("format") match {
      case Some(fmt) if Set("csv", "json", "text", "parquet").contains(fmt) =>
        val dataPath = props.getOrElse("format-table.path",
          s"${tablePath(ident)}/data")
        val readerOpts = props.collect {
          case (k, v) if k.startsWith("format-table.option.") =>
            k.stripPrefix("format-table.option.") -> v
        }
        val meta = FormatTableMeta(fmt, dataPath, readerOpts, schema.json)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(tablePath(ident)))
        java.nio.file.Files.write(formatMarkerPath(ident),
          graft.core.Json.write(meta).getBytes("UTF-8"))
        return loadFormatTable(ident)
      case _ =>
    }
    val primaryKeys = props.get("primary-key")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)
    val options = props -- Seq("primary-key", TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_EXTERNAL)
    val gt = GraftTable.create(spark, tablePath(ident), schema,
      partitionKeys = partitionKeys, primaryKeys = primaryKeys, options = options)
    new GraftSparkTable(gt, None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    priv(GraftPrivileges.AlterTable, fq(ident))
    // field-name ARRAYS pass through verbatim: a 1-element array is a
    // top-level column even when its name holds literal dots; longer
    // arrays are nested paths (the *At schema APIs keep the two
    // distinct — a dotted string could not)
    def apply1(gt: graft.table.GraftTable, c: TableChange): Unit = c match {
      case add: TableChange.AddColumn =>
        gt.addColumnAt(add.fieldNames().toSeq, add.dataType(), add.isNullable)
      case ren: TableChange.RenameColumn =>
        gt.renameColumnAt(ren.fieldNames().toSeq, ren.newName())
      case del: TableChange.DeleteColumn =>
        gt.dropColumnAt(del.fieldNames().toSeq)
      case upd: TableChange.UpdateColumnType =>
        gt.widenColumnAt(upd.fieldNames().toSeq, upd.newDataType())
      case nul: TableChange.UpdateColumnNullability =>
        gt.setColumnNullabilityAt(nul.fieldNames().toSeq, nul.nullable())
      case set: TableChange.SetProperty =>
        gt.setOption(set.property(), set.value())
      case rm: TableChange.RemoveProperty =>
        gt.setOption(rm.property(), null)
      case other => throw new UnsupportedOperationException(
        s"unsupported table change: $other")
    }
    // Dry-run MULTI-change lists on a throwaway schema chain before
    // committing anything: a failure on change N must not leave
    // changes 1..N-1 applied while the statement errors (the retry
    // would trip over its own half-applied prefix). The rehearsal
    // clones the table metadata into a temp dir and replays the
    // changes there — identical validation, zero data IO. A single
    // change cannot leave a prefix, so the common case skips the
    // rehearsal entirely.
    if (changes.size > 1) {
      val rehearsal = java.nio.file.Files.createTempDirectory("graft-alter")
      try {
        val real = loadGraft(ident)
        val rt = graft.table.GraftTable.create(
          SparkSession.active, s"$rehearsal/t", real.schema.toStruct,
          partitionKeys = real.schema.partitionKeys,
          primaryKeys = real.schema.primaryKeys,
          options = real.schema.options)
        changes.foreach(c => apply1(loadRehearsal(rt.path), c))
      } finally {
        graft.core.FsUtil.walkAll(rehearsal).reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    changes.foreach { c =>
      val gt = loadGraft(ident) // reload: prior change bumped the schema
      apply1(gt, c)
    }
    new GraftSparkTable(loadGraft(ident), None)
  }

  private def loadRehearsal(path: String): graft.table.GraftTable =
    graft.table.GraftTable.load(SparkSession.active, path)

  override def dropTable(ident: Identifier): Boolean = {
    priv(GraftPrivileges.DropTable, fq(ident))
    val dir = java.nio.file.Paths.get(tablePath(ident))
    if (!java.nio.file.Files.exists(dir)) false
    else {
      graft.core.FsUtil.walkAll(dir).reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      GraftPrivileges.objectDropped(warehouse, fq(ident))
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    priv(GraftPrivileges.AlterTable, fq(oldIdent))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(tablePath(newIdent)).getParent)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(tablePath(oldIdent)),
      java.nio.file.Paths.get(tablePath(newIdent)))
    GraftPrivileges.objectRenamed(warehouse, fq(oldIdent), fq(newIdent))
  }

  // ---- views ----------------------------------------------------------
  // Spark 4 ViewCatalog connector API (reference: paimon's SupportView).
  // Spark's analyzer does not consult this interface yet, so the SQL
  // surface (CREATE/DROP/SHOW/ALTER VIEW + read substitution) is wired
  // by GraftExtensions; this implementation is the storage layer. Views
  // are SQL text + frozen schema at <warehouse>/<ns>/<name>/view.json.

  override def listViews(namespace: String*): Array[Identifier] =
    GraftViews.list(warehouse, namespace.toArray)

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View =
    GraftViews.load(warehouse, ident)

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(warehouse, ident)

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    priv(GraftPrivileges.CreateTable, info.ident.namespace().mkString("."))
    requireNoTable(info.ident)
    GraftViews.create(warehouse, info, orReplace = false)
    GraftViews.load(warehouse, info.ident)
  }

  /** A view identifier must not collide with a table/format/object
    * table: view.json inside a live table directory would silently
    * shadow the table for every reader. */
  private def requireNoTable(ident: Identifier): Unit =
    if (GraftTable.exists(tablePath(ident)) ||
      java.nio.file.Files.exists(formatMarkerPath(ident)) ||
      java.nio.file.Files.exists(objectMarkerPath(ident)))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Array(ident.toString))

  override def replaceView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean): org.apache.spark.sql.connector.catalog.View = {
    priv(GraftPrivileges.CreateTable, info.ident.namespace().mkString("."))
    requireNoTable(info.ident)
    if (!orCreate && !GraftViews.exists(warehouse, info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(info.ident)
    GraftViews.create(warehouse, info, orReplace = true)
    GraftViews.load(warehouse, info.ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    priv(GraftPrivileges.AlterTable, fq(ident))
    GraftViews.alter(warehouse, ident, changes)
  }

  override def dropView(ident: Identifier): Boolean = {
    priv(GraftPrivileges.DropTable, fq(ident))
    val dropped = GraftViews.drop(warehouse, ident)
    if (dropped) GraftPrivileges.objectDropped(warehouse, fq(ident))
    dropped
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    priv(GraftPrivileges.AlterTable, fq(from))
    GraftViews.rename(warehouse, from, to)
    GraftPrivileges.objectRenamed(warehouse, fq(from), fq(to))
  }

  // ---- namespaces -----------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = java.nio.file.Paths.get(warehouse)
    if (!java.nio.file.Files.isDirectory(root)) Array.empty
    else graft.core.FsUtil.listAll(root).iterator
      .filter(java.nio.file.Files.isDirectory(_))
      .map(p => Array(p.getFileName.toString)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$warehouse/${namespace.mkString("/")}"))

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$warehouse/${namespace.mkString("/")}"))

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    // cascade deletes every table beneath: require DROP_TABLE at the
    // namespace scope (a table-level grant is not enough)
    priv(GraftPrivileges.DropTable, namespace.mkString("."))
    val dir = java.nio.file.Paths.get(s"$warehouse/${namespace.mkString("/")}")
    if (!java.nio.file.Files.exists(dir)) false
    else {
      graft.core.FsUtil.walkAll(dir).reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      GraftPrivileges.namespaceDropped(warehouse, namespace.mkString("."))
      true
    }
  }
}

/** DSv2 table handle: native parquet batch read for append tables (V1
  * fallback for merge-on-read), batch write via V1Write, dynamic
  * overwrite, and filter-based SQL DELETE routed to the library's
  * three-tier delete (metadata-only / deletion-vector / rewrite). */
class GraftSparkTable(private[sources] val gt: GraftTable, snapshot: Option[Long],
    guard: String => Unit = _ => ())
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsAtomicPartitionManagement {

  /** The wrapped table (metastore bridges, tests). */
  private[sources] def graftTable: GraftTable = gt

  // ---- partition management (SHOW PARTITIONS / ALTER TABLE DROP
  // PARTITION / TRUNCATE TABLE ... PARTITION; reference:
  // PaimonPartitionManagement — list + drop/truncate supported, create
  // is a metastore concern and stays unsupported on filesystem tables).
  // Stored partition values are Spark string-cast forms; conversion in
  // both directions reuses Catalyst Cast so SQL-typed specs (dates,
  // numbers) round-trip exactly.

  override lazy val partitionSchema: StructType = StructType(
    gt.schema.partitionKeys.map(k => schema()(k)))

  private def partToRow(p: Map[String, String]): org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.InternalRow.fromSeq(
      partitionSchema.fields.map { f =>
        p.get(f.name).orNull match {
          case null => null
          case v => org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(v),
              org.apache.spark.sql.types.StringType),
            f.dataType, Some("UTC")).eval()
        }
      }.toIndexedSeq)

  private def rowToPart(row: org.apache.spark.sql.catalyst.InternalRow,
      fields: Seq[org.apache.spark.sql.types.StructField] =
        partitionSchema.fields.toIndexedSeq): Map[String, String] =
    fields.zipWithIndex.collect {
      case (f, i) if !row.isNullAt(i) =>
        f.name -> org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(
            row.get(i, f.dataType), f.dataType),
          org.apache.spark.sql.types.StringType, Some("UTC")).eval().toString
    }.toMap

  override def listPartitionIdentifiers(
      names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val filterFields = names.map(n => partitionSchema(n)).toIndexedSeq
    val wanted = rowToPart(ident, filterFields)
    gt.livePartitions()
      .filter(p => wanted.forall { case (k, v) => p.get(k).contains(v) })
      .map(partToRow).toArray
  }

  override def partitionExists(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    val wanted = rowToPart(ident)
    gt.livePartitions().exists(p =>
      wanted.forall { case (k, v) => p.get(k).contains(v) })
  }

  override def dropPartitions(
      idents: Array[org.apache.spark.sql.catalyst.InternalRow]): Boolean = {
    guard(GraftPrivileges.Insert)
    gt.dropPartitions(idents.map(rowToPart(_)).toIndexedSeq)
  }

  override def truncatePartitions(
      idents: Array[org.apache.spark.sql.catalyst.InternalRow]): Boolean =
    dropPartitions(idents)

  override def purgePartitions(
      idents: Array[org.apache.spark.sql.catalyst.InternalRow]): Boolean =
    dropPartitions(idents)

  override def createPartitions(
      idents: Array[org.apache.spark.sql.catalyst.InternalRow],
      props: Array[util.Map[String, String]]): Unit =
    throw new UnsupportedOperationException(
      "partitions materialize on write; ADD PARTITION needs a metastore")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      props: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("replacePartitionMetadata")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow): util.Map[String, String] =
    util.Collections.emptyMap()

  /** Row-tracking tables expose `_ROW_ID` to SQL as a metadata column:
    * `SELECT _ROW_ID, * FROM t WHERE _ROW_ID BETWEEN a AND b` plans a
    * file-extent-pruned slice (reference: paimon row tracking /
    * SpecialFields._ROW_ID surfaced through its Spark catalog). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (!gt.rowTracking) Array.empty
    else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.RowIdCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "stable row id: file firstRowId + physical position"
    })

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftFilters.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    guard(GraftPrivileges.Insert)
    gt.delete(GraftFilters.toCondition(filters))
  }

  override def name(): String = gt.path
  override def schema(): StructType = gt.schema.toStruct
  override def partitioning(): Array[Transform] =
    gt.schema.partitionKeys.map(k =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(k)).toArray
  override def properties(): util.Map[String, String] =
    gt.schema.options.asJava

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.TRUNCATE)
      .asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    guard(GraftPrivileges.Select)
    // iterate the CaseInsensitiveStringMap itself: its keys are
    // lowercase-normalized, so option("Scan.Max-Rows-Per-Trigger", ...)
    // still matches the lowercase lookups downstream
    new GraftScanBuilder(gt, snapshot, schema(),
      options.entrySet().asScala.map(e => e.getKey -> e.getValue).toMap)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    guard(GraftPrivileges.Insert)
    new GraftWriteBuilder(gt)
  }
}

class GraftScanBuilder(gt: GraftTable, snapshot0: Option[Long], full: StructType,
    readOptions: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  /** Time travel via READ OPTIONS (reference: CoreOptions
    * scan.snapshot-id / scan.tag-name / scan.timestamp-millis, the
    * `spark.read.option(...).table(t)` spelling) — VERSION AS OF from
    * the SQL path (snapshot0) wins when both are present. */
  private val snapshot: Option[Long] = snapshot0
    // under a streaming startup mode, scan.snapshot-id is a stream
    // CURSOR, not a time-travel pin — a missing id must degrade in the
    // stream source (latest-full), not explode the shared batch pin
    .orElse(readOptions.get("scan.snapshot-id").map(_.toLong)
      .filter(id => !readOptions.get("scan.mode").exists(m =>
        m == "from-snapshot" || m == "from-snapshot-full") ||
        gt.sm.snapshotIds.contains(id)))
    .orElse(readOptions.get("scan.tag-name").map(tag =>
      gt.sm.tagSnapshotId(tag).getOrElse(
        throw new IllegalArgumentException(s"no such tag: $tag"))))
    .orElse(readOptions.get("scan.timestamp-millis").map(s =>
      gt.sm.snapshotIdAtTime(s.toLong).getOrElse(-1L)))
    // `scan.version`: snapshot id OR tag name in one option (reference:
    // CoreOptions SCAN_VERSION — the generic VERSION AS OF spelling);
    // `scan.timestamp`: wall-clock 'yyyy-MM-dd HH:mm:ss' (UTC) form of
    // scan.timestamp-millis
    .orElse(readOptions.get("scan.version").map { v =>
      if (v.matches("\\d+")) v.toLong
      else gt.sm.tagSnapshotId(v).getOrElse(
        throw new IllegalArgumentException(s"no such version: $v"))
    })
    .orElse(readOptions.get("scan.timestamp").map { ts =>
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      gt.sm.snapshotIdAtTime(fmt.parse(ts.trim).getTime).getOrElse(-1L)
    })
    // `scan.watermark`: the first snapshot whose persisted event-time
    // watermark reached the value — "give me a state at least as fresh
    // as W"; no such snapshot is an error (reference: CoreOptions
    // SCAN_WATERMARK + StaticFromWatermarkStartingScanner)
    .orElse(readOptions.get("scan.watermark").map { w =>
      val wm = w.toLong
      gt.sm.snapshotIds.find(i =>
        gt.sm.snapshot(i).watermark.exists(_ >= wm)).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot with watermark >= $wm (scan.watermark)"))
    })
    // scan.mode=compacted-full (reference: CoreOptions.StartupMode
    // COMPACTED_FULL + CompactedStartingScanner): batch reads pin to
    // the latest COMPACT snapshot — a consumer that wants only
    // compaction-settled state (no level-0 churn). No compact snapshot
    // yet → the current state, like the reference's fallback scanner.
    .orElse(readOptions.get("scan.mode").filter(_ == "compacted-full")
      .flatMap(_ => gt.sm.snapshotIds.reverse.find(i =>
        gt.sm.snapshot(i).commitKind == graft.core.Meta.KindCompact)))

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = full

  /** required-schema projection honoring NESTED column pruning: a
    * struct field whose required type is NARROWER than the source's
    * (Spark prunes unused nested fields out of `required`) is rebuilt
    * to exactly the required shape — the V1 conversion re-encodes rows
    * against `required`, and a wider struct fails the row serializer
    * (field-count mismatch). */
  private def prunedProjection(src: StructType): Seq[Column] =
    required.fields.toIndexedSeq.map { f =>
      graft.table.GraftTable.evolveColumn(
        col(f.name), src(f.name).dataType, f.dataType).as(f.name)
    }
  private var limit: Option[Int] = None
  private var topN: Option[(String, Boolean)] = None // (column, descending)
  private var aggResult: Option[(StructType, Array[org.apache.spark.sql.catalyst.InternalRow])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // conservatively keep them all as residuals too
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed: Boolean = true

  /** `ORDER BY col [DESC] LIMIT k` through SQL: prune candidate files
    * by the k-th best file boundary (GraftTable.topNEntries; reference:
    * paimon-spark PaimonScanBuilder.pushTopN:42-87 +
    * TopNDataSplitEvaluator.java:42). Partial pushdown — the plan keeps
    * the global sort+limit, the scan just returns a file-pruned
    * superset. Residual filters disqualify it: file rowCounts would
    * overcount qualifying rows and the boundary could cut a
    * contributing file. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (snapshot.isDefined || pushed.nonEmpty || orders.length != 1) return false
    orders(0).expression() match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 =>
        val desc = orders(0).direction() ==
          org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
        // null ordering is irrelevant: topNEntries bails out whenever
        // any file holds nulls in the sort column
        topN = Some((nr.fieldNames()(0), desc))
        limit = Some(n)
        true
      case _ => false
    }
  }

  /** COUNT(*) / MIN / MAX with no grouping and no residual filter are
    * answered from manifest stats alone via a LocalScan — zero data
    * files opened, zero jobs (reference: AggregatePushDownUtils +
    * LocalAggregator). Spark only attempts this when every filter was
    * fully consumed by the scan; we keep filters as residuals, so it
    * fires exactly on whole-table aggregates. Non-compacted PK tables
    * decline COUNT(*) (countRowsFast = None) instead of running the
    * merge scan at planning time. Spark calls supportCompletePushDown
    * then pushAggregation with the same Aggregation — memoized so the
    * manifest fold runs once. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggMemo match {
      case Some((prev, r)) if prev eq agg => r
      case _ =>
        val r = computeAggPushdown(agg)
        aggMemo = Some((agg, r))
        r
    }

  private var aggMemo: Option[(AnyRef, Boolean)] = None

  private def computeAggPushdown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (snapshot.isDefined || pushed.nonEmpty || agg.groupByExpressions.nonEmpty)
      return false
    // Manifest stats describe the FULL latest snapshot. Any read option
    // that narrows the visible rows (file-creation-time cutoff) or
    // redirects build() to an incremental DataFrame would make the
    // stats answer wrong — or worse, supportCompletePushDown=true with
    // a raw-row incremental scan behind it (schema mismatch at
    // runtime). Decline pushdown whenever such an option is present.
    if (readOptions.contains("scan.file-creation-time-millis") ||
        readOptions.keys.exists(_.startsWith("incremental-")))
      return false
    // manifest stats describe STORED values; a column-patch overlay
    // can change any of them, so MIN/MAX (and defensively COUNT) must
    // run as a real scan on patched tables
    if (gt.hasColumnPatches()) return false
    val entries = gt.sm.latestSnapshot().map(gt.sm.liveEntries).getOrElse(Seq.empty)
    val dvPresent = entries.exists(_.file.dvFile.isDefined)
    val values = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        gt.countRowsFast().map(c =>
          ("count(*)", org.apache.spark.sql.types.LongType: org.apache.spark.sql.types.DataType,
            c.asInstanceOf[Any]))
      case m: Min => statsValue(m.column, isMin = true, dvPresent)
        .map { case (n, t, v) => (s"min($n)", t, v) }
      case m: Max => statsValue(m.column, isMin = false, dvPresent)
        .map { case (n, t, v) => (s"max($n)", t, v) }
      case _ => None
    }
    if (values.exists(_.isEmpty)) return false
    val resolved = values.flatten
    val schema = StructType(resolved.map { case (n, t, _) =>
      org.apache.spark.sql.types.StructField(n, t)
    })
    val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(resolved.map(_._3))
    aggResult = Some((schema, Array(row)))
    true
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    pushAggregation(agg)

  private def statsValue(
      colExpr: org.apache.spark.sql.connector.expressions.Expression,
      isMin: Boolean, dvPresent: Boolean)
      : Option[(String, org.apache.spark.sql.types.DataType, Any)] = {
    import org.apache.spark.sql.types._
    // deleted positions could hold the extreme value: stats are
    // unusable once deletion vectors exist
    if (dvPresent) return None
    val name = colExpr match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 => nr.fieldNames()(0)
      case _ => return None
    }
    val field = full.fields.find(_.name == name).getOrElse(return None)
    gt.statsMinMax(name).map { case (mn, mx) =>
      val s = if (isMin) mn else mx
      val v: Any = field.dataType match {
        case ByteType => s.toLong.toByte
        case ShortType => s.toLong.toShort
        case IntegerType => s.toLong.toInt
        case LongType => s.toLong
        case DateType => s.toLong.toInt
        case TimestampType | TimestampNTZType => s.toLong
        case FloatType => s.toFloat
        case DoubleType => s.toDouble
        case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case BooleanType => s.toBoolean
        case _ => return None
      }
      (name, field.dataType, v)
    }
  }

  /** Incremental reads via READ OPTIONS (reference: CoreOptions
    * INCREMENTAL_BETWEEN / INCREMENTAL_BETWEEN_TIMESTAMP /
    * INCREMENTAL_TO_AUTO_TAG + INCREMENTAL_BETWEEN_SCAN_MODE — the
    * `spark.read.option("incremental-between","3,5").table(t)`
    * spelling). Modes: auto|delta = rows ADDED in the range (the
    * reference's delta scan; auto degrades to delta here because the
    * DSv2 table schema cannot grow a row-kind column — exact -U/+U
    * pairs stay on `CALL sys.incremental_query`); diff = end-state
    * rows that differ from the start state (exceptAll — distributed,
    * no per-key window). `incremental-between` accepts snapshot ids
    * or tag names. */
  private def incrementalDf(): Option[DataFrame] = {
    val spec = IncrementalOptions.parse(gt, readOptions).getOrElse(return None)
    Some(spec.mode match {
      case "auto" | "delta" =>
        IncrementalOptions.kinded(gt, spec)
          .filter(col("_row_kind").isin("+I", "+U")).drop("_row_kind")
      case "diff" =>
        val (f, t) = spec.range.getOrElse {
          // auto-tag diff: end tag and its preceding auto tag
          val tags = gt.sm.tags
          val end = spec.autoTag.get
          val prev = tags.keys.filter(_ < end).maxOption
          (for {p <- prev; fi <- tags.get(p); ti <- tags.get(end)}
            yield (fi, ti)).getOrElse(return Some(gt.read.limit(0)))
        }
        gt.versionAsOf(t).exceptAll(gt.versionAsOf(f))
      case "changelog" =>
        throw new IllegalArgumentException(
          "incremental-between-scan-mode=changelog needs a row-kind " +
            "column this table's schema cannot carry; read the " +
            "`table$audit_log` relation with the same incremental " +
            "options (its schema has _row_kind), or CALL " +
            "sys.incremental_query(...)")
      case other => throw new IllegalArgumentException(
        s"unsupported incremental-between-scan-mode: $other")
    })
  }

  override def build(): Scan = {
    incrementalDf() match {
      case Some(df) => return dfScan(df)
      case None =>
    }
    aggResult match {
      case Some((schema, rows)) =>
        // agg pushdown is a batch-only surface: a stale from-snapshot
        // pin must error here too, not answer from latest manifests
        GraftScanUtil.assertBatchPin(gt, readOptions)
        new GraftLocalScan(schema, rows)
      case None if gt.rowTracking &&
          required.fieldNames.contains(GraftTable.RowIdCol) => rowIdScan()
      case None =>
        // _ROW_ID conjuncts can reach pushFilters even when the column
        // itself is projected away; they mean nothing to file stats
        val cond = GraftFilters.toCondition(
          pushed.filterNot(_.references.contains(GraftTable.RowIdCol)))
        val sch = gt.schema
        val entries0 =
          if (snapshot.contains(-1L)) Seq.empty
          else gt.planEntries(cond, snapshot)
        // `scan.file-creation-time-millis`: keep only files written
        // after the cutoff — snapshot-independent, imprecise by design
        // (compaction re-stamps; reference: CoreOptions
        // SCAN_FILE_CREATION_TIME_MILLIS). Pre-field files are kept.
        val entries = readOptions.get("scan.file-creation-time-millis")
          .map(_.toLong) match {
          case Some(ts) => entries0.filter(_.file.creationTime.forall(_ > ts))
          case None => entries0
        }
        // the native scan factory is parquet-specific; orc files read
        // through the (still vectorized) DataFrame fallback
        def allParquet = entries.forall(_.file.fileName.endsWith(".parquet"))
        // column patches overlay values at read — the raw-file native
        // scan cannot merge them, so patched tables use the fallback
        val nativeEligible = !gt.isPrimaryKeyTable &&
          entries.forall(e => e.file.dvFile.isEmpty && e.file.schemaId == sch.id) &&
          allParquet && !gt.hasColumnPatches(snapshot.filter(_ >= 0))
        // a FULLY-COMPACTED pk table (one level-1 file per bucket, no
        // DVs) is already merged on disk: read raw through the native
        // scan, and report bucket partitioning so PK-PK joins between
        // identically-bucketed tables skip the shuffle
        val compactedPk = gt.isPrimaryKeyTable && entries.nonEmpty &&
          entries.forall(e => e.file.level == 1 && e.file.dvFile.isEmpty &&
            e.file.schemaId == sch.id) &&
          entries.groupBy(e => (e.partition, e.bucket)).forall(_._2.size <= 1) &&
          allParquet
        lazy val partCols = sch.partitionKeys.toSet
        lazy val dataSchema = StructType(full.fields.filterNot(f => partCols(f.name)))
        lazy val readData = StructType(required.fields.filterNot(f => partCols(f.name)))
        lazy val readPart = StructType(required.fields.filter(f => partCols(f.name)))
        lazy val dataFilters = pushed.filter(
          _.references.forall(r => !partCols(r)))
        if (nativeEligible) {
          // top-n / limit pushdown: keep only files that can contribute
          val limited = (topN, limit) match {
            case (Some((c, desc)), Some(n)) => gt.topNEntries(entries, c, n, desc)
            case (None, Some(n)) =>
              // plain limit: stop planning once enough rows are covered
              var acc = 0L
              entries.takeWhile { e => val need = acc < n; acc += e.file.rowCount; need }
            case _ => entries
          }
          // bucketed-append tables report their bucket partitioning so
          // equi-joins on the bucket key between identically-bucketed
          // tables skip the shuffle — same SPJ surface as compacted PK
          // tables. Skipped when topN/limit trimmed the entry set (a
          // partial bucket would misreport the partitioning).
          if (sch.isBucketedAppend && topN.isEmpty && limit.isEmpty)
            new GraftBucketedScan(gt, limited, dataSchema, readData, readPart,
              dataFilters, required, sch.numBuckets, sch.bucketKeys,
              readOptions)
          else new GraftBatchScan(gt, limited, dataSchema, readData, readPart,
            dataFilters, required, readOptions)
        } else if (compactedPk && !sch.isDynamicBucket) {
          new GraftBucketedScan(gt, entries, dataSchema, readData, readPart,
            dataFilters, required, sch.effectiveBuckets, sch.bucketKeys,
            readOptions)
        } else if (compactedPk) {
          new GraftBatchScan(gt, entries, dataSchema, readData, readPart,
            dataFilters, required, readOptions)
        } else v1Fallback(cond)
    }
  }

  /** `_ROW_ID` scan: conjunct bounds on the row id prune files by their
    * [firstRowId, firstRowId + rowCount) extent before any is opened;
    * data-column filters prune via stats as usual. Served through the
    * V1 path with the id computed per row (base + position). All pushed
    * filters stay residual, so the scan only needs to return a
    * superset. */
  private def rowIdScan(): Scan = new V1Scan {
    override def readSchema(): StructType = required
    override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan](context: SQLContext): T = {
      val cols = required.fieldNames
      new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def buildScan(): RDD[Row] = {
          GraftScanUtil.assertBatchPin(gt, readOptions)
          val (idFilters, dataFilters) =
            pushed.partition(_.references.contains(GraftTable.RowIdCol))
          val cond = GraftFilters.toCondition(dataFilters)
          // conjunct id bounds → file-extent pruning window [lo, hi)
          var lo = Long.MinValue
          var hi = Long.MaxValue
          def asLong(v: Any): Option[Long] = v match {
            case n: java.lang.Number => Some(n.longValue)
            case _ => None
          }
          def excl(v: Long): Long = if (v == Long.MaxValue) v else v + 1
          idFilters.foreach {
            case org.apache.spark.sql.sources.GreaterThan(_, v) =>
              asLong(v).foreach(x => lo = math.max(lo, excl(x)))
            case org.apache.spark.sql.sources.GreaterThanOrEqual(_, v) =>
              asLong(v).foreach(x => lo = math.max(lo, x))
            case org.apache.spark.sql.sources.LessThan(_, v) =>
              asLong(v).foreach(x => hi = math.min(hi, x))
            case org.apache.spark.sql.sources.LessThanOrEqual(_, v) =>
              asLong(v).foreach(x => hi = math.min(hi, excl(x)))
            case org.apache.spark.sql.sources.EqualTo(_, v) =>
              asLong(v).foreach { x =>
                lo = math.max(lo, x); hi = math.min(hi, excl(x))
              }
            case _ => // disjunctions etc: no window narrowing
          }
          val planned = (snapshot match {
            case Some(id) if id < 0 => Seq.empty
            case s => gt.planEntries(cond, s)
          }).filter(e => e.file.firstRowId.exists(f =>
            f < hi && f + e.file.rowCount > lo))
          // same file-creation-time cutoff the native path honors —
          // _ROW_ID projection must not silently widen the read
          val entries = readOptions.get("scan.file-creation-time-millis")
            .map(_.toLong) match {
            case Some(ts) => planned.filter(_.file.creationTime.forall(_ > ts))
            case None => planned
          }
          // the patch overlay rides on top of the pruned row-id read
          val df = gt.rowIdReadPatched(entries, snapshot.filter(_ >= 0))
            .filter(cond)
          val pruned =
            if (cols.isEmpty) df.select(lit(1).as("dummy"))
            else df.select(prunedProjection(df.schema): _*)
          pruned.rdd
        }
      }.asInstanceOf[T]
    }
  }

  /** Merge-on-read (PK) tables, deletion vectors and mixed-schema file
    * sets read through the library's DataFrame plan via the V1
    * fallback — the merge itself is a Spark plan, so codegen still
    * covers everything above the row conversion. */
  /** V1 scan over a prepared DataFrame (incremental reads): Spark
    * re-applies every filter (all stay residual), so the scan only
    * projects to the required columns. */
  private def dfScan(df: DataFrame): Scan = new V1Scan {
    override def readSchema(): StructType = required
    override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan](context: SQLContext): T = {
      new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def buildScan(): RDD[Row] = {
          val pruned =
            if (required.fieldNames.isEmpty) df.select(lit(1).as("dummy"))
            else df.select(prunedProjection(df.schema): _*)
          pruned.rdd
        }
      }.asInstanceOf[T]
    }
  }

  private def v1Fallback(cond: Column): Scan = new V1Scan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {

    /** streaming read (offset = snapshot id) shares the native
      * micro-batch source: PK delta files surface upsert records with
      * hidden columns projected away. */
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
      val sch = gt.schema
      val partCols = sch.partitionKeys.toSet
      val dataSchema = StructType(full.fields.filterNot(f => partCols(f.name)))
      val readData = StructType(required.fields.filterNot(f => partCols(f.name)))
      val readPart = StructType(required.fields.filter(f => partCols(f.name)))
      new GraftMicroBatchStream(gt, dataSchema, readData, readPart, required,
        readOptions)
    }

    /** manifest-derived stats feed Spark's join planning (broadcast
      * decisions) without touching data files. */
    override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
      new org.apache.spark.sql.connector.read.Statistics {
        private val entries = gt.sm.latestSnapshot()
          .map(gt.sm.liveEntries).getOrElse(Seq.empty)
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(entries.map(_.file.fileSize).sum)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(entries.map(e =>
            e.file.rowCount - e.file.dvCardinality.getOrElse(0L)).sum)
      }

    override def readSchema(): StructType = required
    override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan](context: SQLContext): T = {
      val cols = required.fieldNames
      new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def buildScan(): RDD[Row] = {
          GraftScanUtil.assertBatchPin(gt, readOptions)
          val fileCutoff =
            readOptions.get("scan.file-creation-time-millis").map(_.toLong)
          val base = snapshot match {
            case Some(id) if id < 0 => gt.read.limit(0) // before first snapshot
            case Some(id) => gt.versionAsOf(id).filter(cond)
            case None if fileCutoff.isDefined =>
              gt.scanFilesCreatedAfter(cond, fileCutoff.get)
            case None => gt.scan(cond)
          }
          val pruned =
            if (cols.isEmpty) base.select(lit(1).as("dummy"))
            else base.select(prunedProjection(base.schema): _*)
          pruned.rdd
        }
      }.asInstanceOf[T]
    }
  }
}

/** Append-table handle with group-based row-level SQL operations:
  * UPDATE / MERGE INTO / arbitrary-predicate DELETE rewrite touched
  * files copy-on-write (PK tables keep the kinded upsert paths via the
  * library API; filter-translatable DELETEs still take the three-tier
  * metadata route through SupportsDelete). */
class GraftAppendSparkTable(gt0: GraftTable, snapshot: Option[Long],
    guard0: String => Unit = _ => ())
    extends GraftSparkTable(gt0, snapshot, guard0)
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    guard0(GraftPrivileges.Insert)
    () => new GraftRowLevelOperation(gt, info.command())
  }
}

/** Read-only DSv2 table over a metadata DataFrame (the `$`-suffix
  * system tables). The DataFrame is rebuilt per scan so SQL always
  * sees current metadata. */
/** Marker metadata for a snapshot-less format table (format-table.json
  * in the table directory). */
case class FormatTableMeta(
    format: String,
    path: String,
    options: Map[String, String],
    schemaJson: String)

/** Marker for object tables: the indexed directory (reference:
  * ObjectTable.location). */
case class ObjectTableMeta(location: String)

/** Snapshot-less directory table: raw csv/json/text/parquet files
  * served through Spark's own (vectorized, pushdown-capable) file
  * source (reference: paimon-core table/FormatTable.java:61 — plain
  * directories registered next to real tables). INSERT INTO appends
  * new files to the directory; INSERT OVERWRITE replaces it — there
  * are no snapshots, so writes are NOT atomic under concurrency (the
  * reference's format tables carry the same caveat). */
class GraftFormatTable(
    tableName: String, declared: StructType, meta: FormatTableMeta,
    dfFn: () => DataFrame)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = tableName
  override def schema(): StructType = declared
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): util.Map[String, String] = util.Collections.emptyMap()
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  /** Filters and projection push through to the inner file-source
    * plan: the directory is re-read as a Spark DataFrame with the
    * pushed predicates applied, so Catalyst forwards them to the
    * csv/json/parquet reader (skipping row groups / columns exactly as
    * a direct `spark.read` would). Residuals are re-applied above by
    * Spark — returning every filter from pushFilters keeps this sound
    * for operators the translator does not cover. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownFilters
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
    import org.apache.spark.sql.sources._
    private var pushed: Array[Filter] = Array.empty
    private var required: StructType = declared

    // one translator for every v1 Filter surface (shared with
    // deleteWhere / truncate handling)
    private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] =
      GraftFilters.toColumn(f)

    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      pushed = filters.filter(toColumn(_).isDefined)
      filters // all residual: Spark re-applies them above the scan
    }
    override def pushedFilters(): Array[Filter] = pushed
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema

    override def build(): org.apache.spark.sql.connector.read.Scan = {
      val req = required
      val flt = pushed
      new V1Scan {
        override def readSchema(): StructType = req
        override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan](context: SQLContext): T =
          new org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = req
            override def buildScan(): RDD[Row] = {
              var df = dfFn()
              flt.flatMap(toColumn).foreach(p => df = df.filter(p))
              // rebuild nested-pruned structs to the required shape —
              // the V1 row conversion encodes against `req`
              df.select(req.fields.toIndexedSeq.map { f =>
                graft.table.GraftTable.evolveColumn(
                  org.apache.spark.sql.functions.col(f.name),
                  df.schema(f.name).dataType, f.dataType).as(f.name)
              }: _*).rdd
            }
          }.asInstanceOf[T]
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwriteMode = false
      override def truncate(): WriteBuilder = { overwriteMode = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              data.write.format(meta.format).options(meta.options)
                .mode(if (overwriteMode || overwrite) "overwrite" else "append")
                .save(meta.path)
          }
      }
    }
}

class GraftSystemTable(tableName: String, dfFn: () => DataFrame,
    optsFn: CaseInsensitiveStringMap => Option[DataFrame] = _ => None)
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = dfFn().schema
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): util.Map[String, String] = util.Collections.emptyMap()
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      // option-driven variants (e.g. $audit_log incremental reads)
      // must keep the table's reported schema — resolution already
      // happened against it
      private def df(): DataFrame = optsFn(options).getOrElse(dfFn())
      override def readSchema(): StructType = schema()
      override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan](context: SQLContext): T =
        new org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan {
          override def sqlContext: SQLContext = context
          // report the TABLE's schema: an option-driven df may differ
          // only in nullability flags and Spark rejects the mismatch
          override def schema: StructType = GraftSystemTable.this.schema()
          override def buildScan(): RDD[Row] = df().rdd
        }.asInstanceOf[T]
    }
}

/** Shared parsing of the `incremental-*` READ OPTIONS (reference:
  * CoreOptions INCREMENTAL_BETWEEN / INCREMENTAL_BETWEEN_TIMESTAMP /
  * INCREMENTAL_TO_AUTO_TAG / INCREMENTAL_BETWEEN_SCAN_MODE), used by
  * both the base-table scan builder (kinds filtered/dropped — the
  * table schema has no row-kind column) and the `$audit_log` relation
  * (kinds served as `_row_kind` — the changelog scan mode, reference
  * AuditLogTable.java:88 + IncrementalStartingScanner). */
private[graft] object IncrementalOptions {
  final case class Spec(
      range: Option[(Long, Long)], autoTag: Option[String], mode: String)

  def parse(gt: GraftTable, readOptions: Map[String, String]): Option[Spec] = {
    def resolveRef(s: String): Long = s.trim match {
      case v if v.matches("-?\\d+") => v.toLong
      case tag => gt.sm.tagSnapshotId(tag).getOrElse(
        throw new IllegalArgumentException(s"no such tag: $tag"))
    }
    def two(v: String): (Long, Long) = v.split(",", 2) match {
      case Array(a, b) => (resolveRef(a), resolveRef(b))
      case _ => throw new IllegalArgumentException(
        s"expected 'start,end', got '$v'")
    }
    val range: Option[(Long, Long)] =
      readOptions.get("incremental-between").map(two)
        .orElse(readOptions.get("incremental-between-timestamp").map { v =>
          v.split(",", 2) match {
            case Array(a, b) =>
              (gt.sm.snapshotIdAtTime(a.trim.toLong).getOrElse(-1L),
                gt.sm.snapshotIdAtTime(b.trim.toLong).getOrElse(-1L))
            case _ => throw new IllegalArgumentException(
              s"expected 'ts1,ts2', got '$v'")
          }
        })
    val autoTag = readOptions.get("incremental-to-auto-tag")
    if (range.isEmpty && autoTag.isEmpty) return None
    Some(Spec(range, autoTag,
      readOptions.getOrElse("incremental-between-scan-mode", "auto")))
  }

  /** The raw kinded changelog rows for a spec: data columns +
    * `_row_kind` (+I/-U/+U/-D), same shape `CALL sys.incremental_query`
    * serves. */
  def kinded(gt: GraftTable, spec: Spec): DataFrame =
    spec.autoTag.map(gt.incrementalToAutoTag).getOrElse {
      val (f, t) = spec.range.get; gt.incrementalRead(f, t)
    }

  /** `$audit_log` + incremental options: the relation schema already
    * carries `_row_kind`, so `changelog` (and `auto`) serve the exact
    * kinded rows; `delta` keeps only +I/+U but retains the column. */
  def auditLogDf(gt: GraftTable, options: CaseInsensitiveStringMap)
      : Option[DataFrame] = {
    import scala.jdk.CollectionConverters._
    val opts = options.asCaseSensitiveMap().asScala.toMap
    val spec = parse(gt, opts).getOrElse(return None)
    val outCols = (gt.schema.fields.map(_.name) :+ "_row_kind")
      .map(org.apache.spark.sql.functions.col).toIndexedSeq
    val base = kinded(gt, spec).select(outCols: _*)
    Some(spec.mode match {
      case "auto" | "changelog" => base
      case "delta" => base.filter(
        org.apache.spark.sql.functions.col("_row_kind").isin("+I", "+U"))
      case other => throw new IllegalArgumentException(
        s"incremental-between-scan-mode=$other is not supported on " +
          "$audit_log; use the base table for diff mode")
    })
  }
}

class GraftWriteBuilder(gt: GraftTable)
    extends WriteBuilder with SupportsDynamicOverwrite with SupportsTruncate {

  private var overwriteMode = false

  override def overwriteDynamicPartitions(): WriteBuilder = { overwriteMode = true; this }
  override def truncate(): WriteBuilder = { overwriteMode = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          if (overwriteMode || overwrite) gt.overwrite(data)
          else gt.write(data)
        }
      }
  }
}

/** v1 Filter → Column translation (the subset our planner prunes on;
  * everything is also re-applied by Spark as residual). */
object GraftFilters {
  def toCondition(filters: Array[Filter]): Column =
    filters.flatMap(toColumn).reduceOption(_ && _).getOrElse(lit(true))

  def toColumn(f: Filter): Option[Column] = f match {
    // TRUNCATE TABLE arrives as deleteWhere(AlwaysTrue) — leaving it
    // untranslated made canDeleteWhere false and truncate a silent no-op
    case _: org.apache.spark.sql.sources.AlwaysTrue => Some(lit(true))
    case _: org.apache.spark.sql.sources.AlwaysFalse => Some(lit(false))
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}
