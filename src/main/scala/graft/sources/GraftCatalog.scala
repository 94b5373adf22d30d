package graft.sources

import java.util.{Map => JMap, Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, EqualTo, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.IncrementalTable

/** The SQL catalog front door for [[graft.table.IncrementalTable]] —
  * the DSv2 `TableCatalog` completing [[GraftSource]]'s X45 contract:
  * register once
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/lake
  * }}}
  * and every table under the warehouse is addressable by NAME in pure
  * SQL — no paths, no library imports, the full verb set:
  *
  *   - `CREATE TABLE graft.ns.t (…) PARTITIONED BY (p)` (+ CTAS,
  *     TBLPROPERTIES — `graft.statsColumns` opts columns into the
  *     data-skipping index on every subsequent catalog write)
  *   - `INSERT INTO` / `INSERT OVERWRITE` (full truncate or static
  *     `PARTITION (p='v')` scope) — committed through the same OCC log
  *     as the library API, same conflict detection, same atomicity
  *   - `DELETE FROM graft.ns.t WHERE …` — translated predicates route
  *     into [[IncrementalTable.delete]]'s skipping-pruned copy-on-write
  *   - `SELECT … FROM graft.ns.t [VERSION AS OF v | TIMESTAMP AS OF ts]`
  *     — reads plan through the SAME DSv2 scan as `format("graft")`
  *     ([[GraftScanBuilder]] → [[GraftBatchScan]]): pushed filters hit
  *     the log-level stats index before any file enumeration, partition
  *     equality prunes directories, DVs apply in-scan, column pruning
  *     reaches the parquet ReadSchema
  *   - `ALTER TABLE … ADD COLUMNS / SET TBLPROPERTIES`, `TRUNCATE
  *     TABLE`, `DROP TABLE`, `SHOW TABLES`, `CREATE/DROP NAMESPACE`
  *
  * Identifier → location is `warehouse/<ns…>/<name>`; a table IS a
  * directory with a `_graft_log/` — the filesystem is the catalog
  * state, so there is no second metastore to drift from the log
  * (reference analog: the IO manager resolves assets by path,
  * delta_io.py:118-129, here lifted to names).
  *
  * Writes bridge through the stable [[V1Write]] interface (the same
  * contract Spark's own JDBC connector ships on) into the table's OCC
  * commit path, shared verbatim with the path-based front door.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog {

  /** FunctionCatalog (X96): `bucket` is the one catalog function —
    * Spark resolves scan-reported bucket transforms through it when
    * validating storage-partitioned-join compatibility. */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  private def fs(p: Path) =
    p.getFileSystem(IncrementalTable.hadoopConf(spark))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  // ALTER TABLE … ADD CONSTRAINT routes through alterTable (Spark 4.1
  // constraints API); graft supports enforced CHECK constraints
  override def capabilities(): JSet[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      // column DEFAULTs (X79): `c INT DEFAULT 5` in CREATE/ADD COLUMN —
      // the analyzer fills CURRENT_DEFAULT into INSERTs omitting the
      // column; the table's read path fills EXISTS_DEFAULT for files
      // from before the column existed
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS).asJava

  private def pathFor(parts: Seq[String]): Path =
    parts.foldLeft(new Path(warehouse))(new Path(_, _))
  private def tablePath(ident: Identifier): Path =
    pathFor(ident.namespace.toIndexedSeq :+ ident.name)
  private def isGraftTable(p: Path): Boolean =
    fs(p).exists(new Path(p, "_graft_log"))

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = pathFor(namespace.toIndexedSeq)
    val f = fs(ns)
    if (!f.exists(ns)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(ns).filter(_.isDirectory).map(_.getPath)
      .filter(isGraftTable)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    isGraftTable(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    if (isGraftTable(p))
      new GraftTable(spark, IncrementalTable(spark, p.toString), None,
        (catalogName +: ident.namespace.toIndexedSeq :+ ident.name).mkString("."))
    else metaTableOf(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  /** Iceberg-style metadata tables: `SELECT * FROM graft.ns.t.history`
    * (commit log), `.detail` (live-snapshot summary), `.properties` —
    * resolved when the identifier's LAST namespace element is a graft
    * table and the name is a known view. Read-only, tiny, driver-built
    * frames ([[GraftFrameScanBuilder]]). */
  private def metaTableOf(ident: Identifier): Option[Table] = {
    if (ident.namespace.isEmpty ||
        !GraftMetaTable.views.contains(ident.name)) return None
    val parent = pathFor(ident.namespace.toIndexedSeq)
    if (!isGraftTable(parent)) return None
    val fullName =
      (catalogName +: ident.namespace.toIndexedSeq :+ ident.name).mkString(".")
    if (ident.name == "changes")
      Some(new GraftChangesTable(spark,
        IncrementalTable(spark, parent.toString), fullName))
    else
      Some(new GraftMetaTable(spark, IncrementalTable(spark, parent.toString),
        ident.name, fullName))
  }

  private def dataTable(ident: Identifier): GraftTable =
    loadTable(ident) match {
      case t: GraftTable => t
      case other => throw new UnsupportedOperationException(
        s"time travel is not supported on metadata table ${other.name()}")
    }

  /** `VERSION AS OF v` time travel — a commit version, a snapshot TAG
    * name (`VERSION AS OF 'stable'`, [[IncrementalTable.setTag]]), a
    * pending WAP audit frame (`VERSION AS OF 'wap:<id>'`, X98), or a
    * branch head (`VERSION AS OF 'branch:<name>'`, X102). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val base = dataTable(ident)
    if (version.startsWith("wap:")) {
      val id = version.stripPrefix("wap:")
      return new GraftWapTable(spark, base.table, id,
        (catalogName +: ident.namespace.toIndexedSeq :+ ident.name).mkString("."))
    }
    if (version.startsWith("branch:")) {
      val bn = version.stripPrefix("branch:")
      return new GraftBranchTable(spark, base.table, bn,
        (catalogName +: ident.namespace.toIndexedSeq :+ ident.name).mkString("."))
    }
    val v =
      if (version.nonEmpty && version.forall(_.isDigit))
        try version.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"version '$version' is out of Long range for $ident")
        }
      else base.table.tags.getOrElse(version,
        throw new IllegalArgumentException(
          s"'$version' is neither a commit version nor a tag of $ident " +
            s"(tags: ${base.table.tags.keys.mkString(", ")})"))
    require(v >= 0 && v <= base.table.latestVersion,
      s"version $v out of range [0, ${base.table.latestVersion}] for $ident")
    base.atVersion(v)
  }

  /** `TIMESTAMP AS OF ts` time travel: the latest commit at-or-before
    * the timestamp (microseconds, per the connector contract). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val base = dataTable(ident)
    base.atVersion(base.table.versionAtTimestamp(timestamp / 1000L))
  }

  /** CREATE TABLE with inline constraints (`CONSTRAINT c CHECK (…)` in
    * the column list): the TableInfo overload is what `CreateTableExec`
    * actually calls once SUPPORT_TABLE_CONSTRAINT is declared — the
    * interface DEFAULT silently discards `constraints()`, so it must
    * be overridden or a declared CHECK would never be recorded.
    * Non-CHECK kinds are refused BEFORE the table is created. */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val checks = info.constraints().toIndexedSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check => c
      case other => throw new UnsupportedOperationException(
        s"graft supports CHECK constraints only (got ${other.toDDL})")
    }
    // IDENTITY (X83) / GENERATED (X84) specs ride the v2 Column objects,
    // not the derived StructType — re-attach them as the catalyst
    // metadata keys IncrementalTable.create harvests into channels
    val idKey = org.apache.spark.sql.catalyst.util.IdentityColumn
    val genKey = org.apache.spark.sql.catalyst.util.GeneratedColumn
      .GENERATION_EXPRESSION_METADATA_KEY
    val specByName = info.columns().toIndexedSeq
      .map(c => c.name() -> (Option(c.identityColumnSpec()),
        Option(c.generationExpression()))).toMap
    val schema = StructType(info.schema().fields.map { f =>
      specByName.get(f.name) match {
        case Some((Some(id), _)) =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(idKey.IDENTITY_INFO_START, id.getStart)
            .putLong(idKey.IDENTITY_INFO_STEP, id.getStep)
            .putBoolean(idKey.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
              id.isAllowExplicitInsert)
          f.copy(metadata = mb.build())
        case Some((_, Some(gen))) =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(genKey, gen)
          f.copy(metadata = mb.build())
        case _ => f
      }
    })
    val created = createTable(ident, schema, info.partitions(),
      info.properties())
    val t = created.asInstanceOf[GraftTable].table
    checks.foreach(c => t.addConstraint(c.name, c.predicateSql))
    created
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // hidden partitioning (X77): Iceberg-style transforms in
    // PARTITIONED BY — `days(ts)`, `bucket(8, id)`, `truncate(4, s)` —
    // become derived partition columns (default Iceberg-convention
    // names: ts_day, id_bucket, s_trunc) committed as `ptransform/`
    // specs; identity references stay plain partition columns
    def baseOf(t: Transform): String = {
      require(t.references.length == 1 &&
        t.references.head.fieldNames.length == 1,
        s"partition transform $t must reference one top-level column")
      t.references.head.fieldNames.head
    }
    def litInt(t: Transform): Int = t.arguments.collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value match {
          case i: Integer => i.intValue
          case l2: java.lang.Long => l2.intValue
          case other => other.toString.toInt
        }
    }.getOrElse(throw new IllegalArgumentException(
      s"partition transform $t needs an integer literal argument"))
    val specs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def derived(specStr: String): String = {
      val t = graft.table.PartitionTransform.parse(specStr, schema) // loud validation
      val name = graft.table.PartitionTransform.defaultName(t)
      require(!schema.fieldNames.contains(name),
        s"derived partition column '$name' collides with a schema column")
      specs(name) = t.spec
      name
    }
    val partitionBy = partitions.toIndexedSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case t if Set("years", "months", "days", "hours")(t.name) =>
        derived(s"${t.name}(${baseOf(t)})")
      case t if t.name == "bucket" =>
        derived(s"bucket(${litInt(t)},${baseOf(t)})")
      case t if t.name == "truncate" =>
        derived(s"truncate(${litInt(t)},${baseOf(t)})")
      case other => throw new UnsupportedOperationException(
        s"graft tables partition by identity columns or " +
          s"years/months/days/hours/bucket/truncate transforms (got $other)")
    }
    val props = properties.asScala.toMap -- GraftCatalog.reservedProps
    IncrementalTable(spark, tablePath(ident).toString)
      .create(schema, partitionBy, props.map { case (k, v) => s"prop/$k" -> v },
        transforms = specs.toMap)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable].table
    val added = changes.collect { case a: TableChange.AddColumn => a }
    val props = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value
      case r: TableChange.RemoveProperty => r.property -> ""
    }
    // RENAME COLUMN rides column mapping (X72): a metadata-only commit
    // binding the new logical name to the column's immutable physical
    // name — zero data rewritten, reads/writes translate at the parquet
    // boundary, the skipping index follows. Top-level only, and alone
    // in its ALTER (Spark sends one change kind per RENAME statement;
    // mixing would forfeit the one-commit contract).
    // in-struct renames ride the same mapping one level down (X86):
    // the dot-path is the colmap key, the member's physical name the
    // value, and the read/write boundaries relabel via positional cast
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    if (renames.nonEmpty) {
      require(renames.length == changes.length,
        "RENAME COLUMN must be the only change in its ALTER TABLE")
      renames.foreach(r =>
        t.renameColumn(r.fieldNames.mkString("."), r.newName))
      return loadTable(ident)
    }
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType] ||
        c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        c.isInstanceOf[TableChange.AddConstraint] ||
        c.isInstanceOf[TableChange.DropConstraint])
    if (unsupported.nonEmpty) throw new UnsupportedOperationException(
      s"graft ALTER TABLE supports ADD|DROP|RENAME COLUMNS / ALTER COLUMN " +
        s"TYPE (widening) / (UN)SET TBLPROPERTIES / ADD|DROP CONSTRAINT only: " +
        s"${unsupported.mkString(", ")}")
    // in-struct widening follows the X68 lossless rules (X86)
    val widened = changes.collect { case u: TableChange.UpdateColumnType =>
      u.fieldNames.mkString(".") -> u.newDataType
    }.toMap
    // in-struct ADD COLUMN (X73): `ALTER TABLE t ADD COLUMNS (s.f T)` —
    // a metadata commit extending the struct; old files read the new
    // leaf as null (parquet by-name member resolution)
    val (topAdds, nestedAdds) = added.partition(_.fieldNames.length == 1)
    nestedAdds.foreach(a => require(a.defaultValue() == null,
      s"DEFAULT on in-struct column ${a.fieldNames.mkString(".")} is not " +
        "supported (top-level columns only)"))
    val dropped = changes.collect { case d: TableChange.DeleteColumn => d }
      .map(d => d.fieldNames.mkString(".") -> d.ifExists())
      .collect { case (n, ifExists)
          if !ifExists || t.schemaAt().exists(s =>
            graft.table.IncrementalTable.structFieldAt(s,
              n.split('.').toIndexedSeq).isDefined) => n }
    // SQL CHECK constraints map onto the library's validated-then-
    // enforced-in-write-scan constraints (X32); other constraint kinds
    // (UNIQUE/PK/FK) are informational claims graft cannot enforce and
    // are refused rather than silently recorded
    val addCons = changes.collect { case a: TableChange.AddConstraint =>
      a.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          c.name -> c.predicateSql
        case other => throw new UnsupportedOperationException(
          s"graft supports CHECK constraints only (got ${other.toDDL})")
      }
    }
    val dropCons = changes.collect { case d: TableChange.DropConstraint =>
      if (!d.ifExists) require(t.constraints.contains(d.name),
        s"no constraint '${d.name}' on $ident")
      d.name
    }.filter(t.constraints.contains)
    // everything validates first, then lands as ONE commit — a failed
    // constraint validation or OCC race can't leave a half-applied ALTER
    if (added.nonEmpty || dropped.nonEmpty || widened.nonEmpty ||
        props.nonEmpty || addCons.nonEmpty || dropCons.nonEmpty)
      t.alter(
        additions = StructType(topAdds.map(a =>
          org.apache.spark.sql.types.StructField(a.fieldNames.head, a.dataType))),
        defaults = topAdds.flatMap(a => Option(a.defaultValue())
          .map(d => a.fieldNames.head -> d.getSql)).toMap,
        drops = dropped,
        widen = widened,
        props = props.toMap,
        addConstraints = addCons.toMap,
        dropConstraints = dropCons,
        nestedAdditions = nestedAdds.toIndexedSeq.map(a =>
          a.fieldNames.init.toIndexedSeq ->
            org.apache.spark.sql.types.StructField(a.fieldNames.last, a.dataType)))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isGraftTable(p)) false else fs(p).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    if (!isGraftTable(from)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val to = tablePath(newIdent)
    val f = fs(from)
    // ANY existing destination path blocks the rename, not just a graft
    // table: Hadoop rename moves the source INTO an existing directory
    // (warehouse/<new>/<oldName>), silently stranding the table where
    // neither identifier resolves.
    if (f.exists(to)) throw new TableAlreadyExistsException(newIdent)
    f.mkdirs(to.getParent)
    if (!f.rename(from, to))
      throw new java.io.IOException(s"rename failed: $from -> $to")
  }

  // --------------------------------------------------------- procedures

  /** `CALL graft.system.<proc>(...)` — the maintenance verbs (OPTIMIZE /
    * VACUUM / RESTORE analogs) as first-class SQL procedures:
    * `compact(table, target_files, zorder_by, cluster_by)`,
    * `vacuum(table)`, `restore(table, version)`. The `table` argument is
    * catalog-relative (`'lake.t'`). Each returns a one-row summary. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedure.names.map(n => Identifier.of(Array("system"), n)).toArray

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.isEmpty || ident.namespace.sameElements(Array("system")),
      s"graft procedures live in the 'system' namespace (got $ident)")
    require(GraftProcedure.names.contains(ident.name),
      s"unknown graft procedure '${ident.name}' " +
        s"(have: ${GraftProcedure.names.mkString(", ")})")
    new GraftProcedure(this, ident.name)
  }

  /** Catalog-relative `'ns.ns2.t'` → the underlying table (procedures'
    * table argument). */
  private[sources] def tableByName(rel: String): IncrementalTable = {
    val parts = rel.split("\\.").toIndexedSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty table name '$rel'")
    val p = pathFor(parts)
    require(isGraftTable(p), s"no graft table at $rel (path $p)")
    IncrementalTable(spark, p.toString)
  }

  /** Catalog-relative `'ns.t'` → the filesystem path a NEW table of
    * that name would live at (the clone procedure's destination). */
  private[sources] def pathForName(rel: String): String = {
    val parts = rel.split("\\.").toIndexedSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"empty table name '$rel'")
    pathFor(parts).toString
  }

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val ns = pathFor(namespace.toIndexedSeq)
    val f = fs(ns)
    if (!f.exists(ns)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(ns).filter(_.isDirectory).map(_.getPath)
      .filterNot(isGraftTable)
      .filterNot(_.getName.startsWith("_"))
      .map(p => namespace :+ p.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val p = pathFor(namespace.toIndexedSeq)
      fs(p).exists(p) && !isGraftTable(p)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION ->
      pathFor(namespace.toIndexedSeq).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    val p = pathFor(namespace.toIndexedSeq)
    fs(p).mkdirs(p)
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = pathFor(namespace.toIndexedSeq)
    val f = fs(p)
    if (!f.exists(p)) false
    else {
      if (!cascade) require(f.listStatus(p).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      f.delete(p, true)
    }
  }
}

/** Per-JVM registration of the `graft` SQL catalog for the driver
  * queries/bench: Spark's CatalogManager memoizes catalog instances by
  * name at first reference, so the warehouse location must be STABLE
  * across invocations — one temp warehouse per JVM, with per-run
  * freshness achieved by `DROP TABLE IF EXISTS` + `CREATE TABLE`
  * inside each query (at most one table generation on disk). */
object GraftCatalogHarness {
  private lazy val warehouse: String =
    java.nio.file.Files.createTempDirectory("graft_warehouse_").toString

  def install(s: SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
  }
}

object GraftCatalog {
  /** Spark-managed property keys that are catalog bookkeeping, not user
    * table properties — everything else round-trips through the log. */
  private val reservedProps = Set(
    TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
    TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE,
    TableCatalog.PROP_COMMENT, TableCatalog.PROP_COLLATION)

  /** Comma-separated `graft.statsColumns` table property → the columns
    * every catalog/datasource write feeds into the data-skipping index
    * (the Delta `dataSkippingNumIndexedCols` analog, but explicit). */
  private[sources] def statsColumnsOf(t: IncrementalTable): Seq[String] =
    t.tableProperties.get("graft.statsColumns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** `graft.deletionVectors=true` (the Delta `enableDeletionVectors`
    * analog) flips SQL UPDATE/DELETE to merge-on-read: sidecar
    * shadows instead of copy-on-write rewrites (X10/X82). */
  private[sources] def deletionVectorsEnabled(t: IncrementalTable): Boolean =
    t.tableProperties.get("graft.deletionVectors").exists(_.trim
      .equalsIgnoreCase("true"))
}

/** One named graft table in the catalog. Reads plan through
  * [[GraftScanBuilder]] → [[GraftBatchScan]] (shared with the
  * path-based front door), writes through [[V1Write]] to the table's
  * OCC commit path, `DELETE FROM` through [[SupportsDelete]] to the
  * skipping-pruned copy-on-write delete. `asOf` pins a time-travel
  * snapshot (read-only). */
private[graft] final class GraftTable(spark: SparkSession,
    val table: IncrementalTable, val asOf: Option[Long], ident: String)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  def atVersion(v: Long): GraftTable =
    new GraftTable(spark, table, Some(v), ident)

  override def name(): String = ident

  override def schema(): StructType =
    table.schemaAt(asOf).getOrElse(new StructType())

  override def partitioning(): Array[Transform] = {
    import graft.table.PartitionTransform.{Bucket, TimeTransform, Truncate}
    val ts = table.partitionTransforms(asOf)
    table.partitionColumns.map { p =>
      ts.get(p) match {
        case Some(TimeTransform("years", b, _)) => Expressions.years(b)
        case Some(TimeTransform("months", b, _)) => Expressions.months(b)
        case Some(TimeTransform("days", b, _)) => Expressions.days(b)
        case Some(TimeTransform("hours", b, _)) => Expressions.hours(b)
        case Some(Bucket(n, b, _)) => Expressions.bucket(n, b)
        case Some(Truncate(w, b, _)) => Expressions.apply("truncate",
          Expressions.literal(w), Expressions.column(b))
        case _ => Expressions.identity(p)
      }
    }.toArray
  }

  override def properties(): JMap[String, String] =
    (table.tableProperties +
      (TableCatalog.PROP_LOCATION -> table.root) +
      (TableCatalog.PROP_PROVIDER -> "graft")).asJava

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE,
      // catalog-addressed streaming: `spark.readStream.table("graft.ns.t")`
      // and `df.writeStream.toTable("graft.ns.t")` ride the DSv2
      // MicroBatchStream/StreamingWrite bridges (same machinery as the
      // path front door's streaming table)
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      // MERGE WITH SCHEMA EVOLUTION beyond the canonical upsert (X74):
      // the analyzer's public evolution hook
      // (ResolveMergeIntoSchemaEvolution) is gated on this capability —
      // it widens the table through alterTable (one atomic metadata
      // commit) and re-resolves the merge against the new schema, so
      // conditional clauses may assign source-only columns. Plain MERGE
      // (no WITH SCHEMA EVOLUTION) stays strict: the capability only
      // arms the opt-in SQL clause.
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  /** Committed CHECK constraints surfaced to the engine (DESCRIBE,
    * write-side validation); enforcement itself lives in the table's
    * write scan ([[IncrementalTable.addConstraint]]). */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    table.constraints.map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(sql).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, table, asOf, schema(),
      GraftSource.paramsOf(options))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, s"cannot write to time-travel snapshot $ident@v${asOf.get}")
    new GraftWriteBuilder(spark, table, info)
  }

  // DELETE FROM — all-translatable predicates only (canDeleteWhere is
  // the analyzer's gate; an untranslatable predicate fails loudly there
  // rather than silently deleting the wrong rows)
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftRelation.translate(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOf.isEmpty, s"cannot delete from time-travel snapshot $ident")
    val pred = filters.toIndexedSeq.flatMap(GraftRelation.translate)
      .reduceOption(_ && _).getOrElse(lit(true))
    // rewritten files keep the stats index (skipping + row tallies);
    // with graft.deletionVectors=true the delete is merge-on-read
    // (sidecar only, zero files rewritten — X10/X82)
    if (GraftCatalog.deletionVectorsEnabled(table))
      table.deleteVectorized(pred)
    else
      table.delete(pred, statsColumns = GraftCatalog.statsColumnsOf(table))
    ()
  }
}

/** The DSv2 pushdown surface of both front doors (catalog tables and
  * `format("graft")`); everything pushed lands in
  * [[GraftRelation.scanDf]]. Translated filters are applied in FULL
  * inside the scan (file pruning and row filtering), so they are
  * accepted; untranslatable ones stay residual for Spark. A
  * `readChangeFeed` read pushes no aggregate: its rows are changes, not
  * the snapshot the log's tallies describe. */
private[sources] final class GraftScanBuilder(spark: SparkSession,
    table: IncrementalTable, asOf: Option[Long], fullSchema: StructType,
    readOptions: Map[String, String] = Map.empty)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private val cdc = GraftSource.cdcMode(readOptions)
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var limitN: Option[Int] = None
  private var topN: Option[(String, Boolean, Boolean, Int)] = None

  /** LIMIT pushdown (X103): PARTIAL — the scan plans only the file
    * prefix whose committed row tallies cover the limit ([[
    * IncrementalTable.limitFiles]]); Spark's own Limit stays above and
    * re-applies exactly. Declines under pushed filters (per-file
    * tallies say nothing about how many rows MATCH) — the file prune
    * those filters buy is usually the bigger lever anyway. */
  override def pushLimit(limit: Int): Boolean = {
    if (pushed.nonEmpty || limit <= 0) false
    else { limitN = Some(limit); true }
  }

  /** TOP-N pushdown (X103): PARTIAL — the scan drops files whose
    * committed [min,max] provably cannot reach the top k ([[
    * IncrementalTable.topNFiles]]); Spark's Sort+Limit stays above.
    * Scope mirrors the MIN/MAX agg pushdown: one bare top-level
    * INTEGRAL sort column (the skipping index's exact domain). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (pushed.nonEmpty || limit <= 0 || orders.length != 1) return false
    val o = orders.head
    o.expression() match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 =>
        val c = nr.fieldNames.head
        fullSchema.fields.find(_.name == c).map(_.dataType) match {
          case Some(org.apache.spark.sql.types.ByteType |
              org.apache.spark.sql.types.ShortType |
              org.apache.spark.sql.types.IntegerType |
              org.apache.spark.sql.types.LongType) =>
            topN = Some((c,
              o.direction() == SortDirection.DESCENDING,
              o.nullOrdering() == NullOrdering.NULLS_FIRST, limit))
            true
          case _ => false
        }
      case _ => false
    }
  }

  /** Both pushdowns are reductions, never complete answers. */
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, _) =
      filters.partition(f => GraftRelation.translate(f).isDefined)
    pushed = accepted
    // Return EVERYTHING as post-scan filters (the Iceberg convention),
    // even though the scan applies `pushed` exactly: absorbing a
    // selective filter removes the Filter node from the logical plan,
    // and PartitionPruning only offers a dim side as a runtime-filter
    // SOURCE when it still sees one (probed: full absorption silently
    // disabled DPP on every star-join). The re-evaluation above the
    // scan is a codegen'd predicate over already-pruned rows — noise
    // next to the file prune it buys.
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** TOP-LEVEL pruning only: Spark's nested-schema pruning may hand a
    * struct column narrowed to a subset of its fields, but the bridge
    * reads whole columns — declaring the narrowed schema while
    * returning full structs would mis-map inner fields BY ORDINAL
    * (silently wrong values). Widen every requested column back to its
    * full table definition; the projection above the scan drops the
    * unused leaves. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map(f =>
      fullSchema.fields.find(_.name == f.name).getOrElse(f)))

  /** Metadata-only aggregates (the Delta/Iceberg snapshot-stats
    * optimization, X59 + X71): an ungrouped, unfiltered aggregation
    * whose every expression is `COUNT(*)`, `MIN(col)`, or `MAX(col)`
    * over an INTEGRAL top-level column is answered from the commit
    * log — row tallies minus standing DV deletes for the count, the
    * per-file [min,max] index for the extremes — zero data files open.
    * Each answer pushes ONLY when complete ([[IncrementalTable
    * .liveRowCount]] / [[IncrementalTable.liveMinMax]] return Some):
    * a file without a tally/bound, a standing DV under MIN/MAX (the
    * deleted row may BE the extreme), string/float columns (footer
    * binary stats may truncate; float bounds live outside the Long
    * index), any filter, or any grouping declines and scans normally —
    * a wrong fast answer is worse than a slow exact one. */
  private type AggField = (String, Any, org.apache.spark.sql.types.DataType)

  // memoize the metadata probes per BUILDER (supportCompletePushDown
  // and pushAggregation both consult them — one set of jobs, not two),
  // but gate every answer on the aggregation SHAPE: a later probe with
  // a different aggregation must never ride an earlier one's yes
  private var rowCountMemo: Option[Option[Long]] = None
  private def metadataRowCount: Option[Long] = {
    if (rowCountMemo.isEmpty) rowCountMemo = Some(table.liveRowCount(asOf))
    rowCountMemo.get
  }
  private val minMaxMemo =
    scala.collection.mutable.Map.empty[String, Option[(Option[Long], Option[Long])]]
  private def metadataMinMax(c: String): Option[(Option[Long], Option[Long])] =
    minMaxMemo.getOrElseUpdate(c, table.liveMinMax(c, asOf))

  /** The column behind a MIN/MAX argument, when it is a bare top-level
    * integral column (the index's exact domain). */
  private def integralCol(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[(String, org.apache.spark.sql.types.DataType)] = e match {
    case fr: org.apache.spark.sql.connector.expressions.NamedReference
        if fr.fieldNames.length == 1 =>
      fullSchema.fields.find(_.name == fr.fieldNames.head).collect {
        case f if f.dataType == org.apache.spark.sql.types.ByteType ||
            f.dataType == org.apache.spark.sql.types.ShortType ||
            f.dataType == org.apache.spark.sql.types.IntegerType ||
            f.dataType == org.apache.spark.sql.types.LongType =>
          f.name -> f.dataType
      }
    case _ => None
  }

  private def box(v: Option[Long],
      dt: org.apache.spark.sql.types.DataType): Any = v match {
    case None => null
    case Some(l) => dt match {
      case org.apache.spark.sql.types.ByteType => java.lang.Byte.valueOf(l.toByte)
      case org.apache.spark.sql.types.ShortType => java.lang.Short.valueOf(l.toShort)
      case org.apache.spark.sql.types.IntegerType => java.lang.Integer.valueOf(l.toInt)
      case _ => java.lang.Long.valueOf(l)
    }
  }

  private def analyzed(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[AggField]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (cdc || pushed.nonEmpty || agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty) return None
    val outs: Seq[Option[AggField]] = agg.aggregateExpressions.toIndexedSeq.map {
      case _: CountStar => metadataRowCount.map(n =>
        ("count_star", java.lang.Long.valueOf(n), org.apache.spark.sql.types.LongType))
      case m: Min => integralCol(m.column).flatMap { case (n, dt) =>
        metadataMinMax(n).map(v => (s"min_$n", box(v._1, dt), dt)) }
      case m: Max => integralCol(m.column).flatMap { case (n, dt) =>
        metadataMinMax(n).map(v => (s"max_$n", box(v._2, dt), dt)) }
      case _ => None
    }
    if (outs.forall(_.isDefined)) Some(outs.map(_.get)) else None
  }

  /** GROUP-BY-partition aggregate pushdown (X106): `COUNT(*)` /
    * integral `MIN`/`MAX` GROUPED BY identity INTEGRAL partition
    * columns answer from the commit log — per-file tallies and
    * [min,max] roll up under the dir-token group keys, ZERO data files
    * open (the partition-stats dashboard query at 100 TB). The
    * complete-or-nothing rule is per TABLE: any file with a missing
    * tally/bound, any standing deletion vector or equality delete, a
    * null/unparseable dir token, a transformed or non-integral group
    * column, or any filter declines the whole pushdown — a wrong fast
    * answer is worse than a slow exact one. */
  private def analyzedGrouped(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val gb = agg.groupByExpressions
    if (cdc || pushed.nonEmpty || gb.isEmpty || agg.aggregateExpressions.isEmpty)
      return None
    val transforms = table.partitionTransforms(asOf)
    val pcols = table.partitionColumns
    val groupCols: Seq[(String, org.apache.spark.sql.types.DataType)] =
      gb.toIndexedSeq.map {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
            if nr.fieldNames.length == 1 &&
              pcols.contains(nr.fieldNames.head) &&
              !transforms.contains(nr.fieldNames.head) =>
          fullSchema.fields.find(_.name == nr.fieldNames.head) match {
            case Some(f) if f.dataType == ByteType || f.dataType == ShortType ||
                f.dataType == IntegerType || f.dataType == LongType =>
              (f.name, f.dataType)
            case _ => return None
          }
        case _ => return None
      }
    // aggregate shapes first (cheap) — then the metadata rollup
    sealed trait Spec
    case object CStar extends Spec
    final case class MinC(c: String, dt: org.apache.spark.sql.types.DataType) extends Spec
    final case class MaxC(c: String, dt: org.apache.spark.sql.types.DataType) extends Spec
    val specs: Seq[Spec] = agg.aggregateExpressions.toIndexedSeq.map {
      case _: CountStar => CStar
      case m: Min => integralCol(m.column) match {
        case Some((n, dt)) => MinC(n, dt)
        case None => return None
      }
      case m: Max => integralCol(m.column) match {
        case Some((n, dt)) => MaxC(n, dt)
        case None => return None
      }
      case _ => return None
    }
    if (table.liveDv(asOf).nonEmpty || table.eqDeletes(asOf).nonEmpty)
      return None
    val stats = table.liveFileStats(asOf)
    val statCols = specs.collect {
      case MinC(c, _) => c
      case MaxC(c, _) => c
    }.distinct
    // stats index keys are PHYSICAL (column mapping, X72)
    val physOf: Map[String, String] = statCols.map { c =>
      c -> table.physicalSchemaOf(new StructType()
        .add(c, org.apache.spark.sql.types.LongType)).fields.head.name
    }.toMap
    def parseTok(s: String, dt: org.apache.spark.sql.types.DataType): Option[Any] =
      if (s.isEmpty || !s.forall(ch => ch.isDigit || ch == '-')) None
      else scala.util.Try[Any](dt match {
        case ByteType => java.lang.Byte.valueOf(s.toByte)
        case ShortType => java.lang.Short.valueOf(s.toShort)
        case IntegerType => java.lang.Integer.valueOf(s.toInt)
        case _ => java.lang.Long.valueOf(s.toLong)
      }).toOption
    // rollup state per group key: (rows, per-column (min, max, sawAny))
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], (Long, Map[String, (Long, Long)])]
    table.liveFiles(Map.empty, asOf).foreach { f =>
      val segs = IncrementalTable.hiveSegments(f)
      val key = groupCols.map { case (c, dt) =>
        segs.get(c).flatMap(parseTok(_, dt)).getOrElse(return None)
      }
      val fstats = stats.getOrElse(f, return None)
      val rows = fstats.valuesIterator.flatMap(_.rows).nextOption()
        .getOrElse(return None)
      val bounds: Map[String, (Long, Long)] = statCols.map { c =>
        fstats.get(physOf(c)) match {
          case Some(s) if s.allNull => c -> null
          case Some(s) if !s.isString && !s.isDouble && s.nulls.contains(0L) &&
            !(s.min == Long.MinValue && s.max == Long.MaxValue) =>
            c -> ((s.min, s.max))
          // nulls under MIN/MAX are skipped by SQL — a file with SOME
          // nulls still bounds its non-null values exactly; a file
          // with UNKNOWN null count is still sound for min/max (stats
          // cover non-null values only)
          case Some(s) if !s.isString && !s.isDouble &&
            !(s.min == Long.MinValue && s.max == Long.MaxValue) =>
            c -> ((s.min, s.max))
          case _ => return None
        }
      }.filter(_._2 != null).toMap
      val (r0, b0) = groups.getOrElse(key, (0L, Map.empty[String, (Long, Long)]))
      val merged = (b0.keySet ++ bounds.keySet).map { c =>
        (b0.get(c), bounds.get(c)) match {
          case (Some((a, b)), Some((x, y))) =>
            c -> ((math.min(a, x), math.max(b, y)))
          case (Some(v), None) => c -> v
          case (None, Some(v)) => c -> v
          case _ => c -> ((0L, 0L)) // unreachable
        }
      }.toMap
      groups(key) = (r0 + rows, merged)
    }
    val outSchema = StructType(
      groupCols.map { case (c, dt) =>
        org.apache.spark.sql.types.StructField(c, dt, nullable = true) } ++
      specs.zipWithIndex.map {
        case (CStar, i) => org.apache.spark.sql.types.StructField(
          s"count_star_$i", LongType, nullable = false)
        case (MinC(c, dt), _) => org.apache.spark.sql.types.StructField(
          s"min_$c", dt, nullable = true)
        case (MaxC(c, dt), _) => org.apache.spark.sql.types.StructField(
          s"max_$c", dt, nullable = true)
      })
    val rows = groups.toSeq.map { case (key, (n, bounds)) =>
      val aggVals: Seq[Any] = specs.map {
        case CStar => java.lang.Long.valueOf(n)
        case MinC(c, dt) => box(bounds.get(c).map(_._1), dt)
        case MaxC(c, dt) => box(bounds.get(c).map(_._2), dt)
      }
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        (key ++ aggVals).map(
          org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst))
    }
    Some((outSchema, rows))
  }

  private var pushedAgg: Option[Seq[AggField]] = None
  private var pushedGroupAgg: Option[(StructType,
    Seq[org.apache.spark.sql.catalyst.InternalRow])] = None

  // memoize the FULL grouped rollup per aggregation shape:
  // supportCompletePushDown and pushAggregation each trigger it, and
  // unlike the scalar path (whose probes are individually memoized
  // above) the grouped path is a driver walk over every live file —
  // keying on the describe()d shape keeps a later, different
  // aggregation from riding an earlier answer
  private var groupedMemo: Option[(String, Option[(StructType,
    Seq[org.apache.spark.sql.catalyst.InternalRow])])] = None
  private def analyzedGroupedMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    // length-prefixed parts + a list boundary: injective over both
    // lists, so groupBy [a,b] + aggs [COUNT(*)] can never key like
    // groupBy [a] + aggs [b, COUNT(*)] (ADVICE r11), and no control
    // bytes in the literal (the file greps as text again)
    def enc(xs: Seq[String]) = xs.map(s => s"${s.length}:$s").mkString(",")
    val key = enc(agg.groupByExpressions.toSeq.map(_.describe())) + "#" +
      enc(agg.aggregateExpressions.toSeq.map(_.describe()))
    groupedMemo match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = analyzedGrouped(agg)
        groupedMemo = Some((key, r))
        r
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    if (agg.groupByExpressions.isEmpty) analyzed(agg).isDefined
    else analyzedGroupedMemo(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (agg.groupByExpressions.isEmpty) {
      pushedAgg = analyzed(agg)
      pushedAgg.isDefined
    } else {
      pushedGroupAgg = analyzedGroupedMemo(agg)
      pushedGroupAgg.isDefined
    }
  }

  override def build(): Scan = pushedAgg match {
    case Some(fields) => new GraftAggScan(table, fields)
    case None if pushedGroupAgg.isDefined =>
      val (schema, rows) = pushedGroupAgg.get
      new GraftGroupAggScan(table, schema, rows)
    case None => new GraftBatchScan(spark, table, asOf, required, pushed,
      readOptions, limitN, topN)
  }
}

/** The pushed-aggregate scan: ONE row, straight from the log —
  * `COUNT(*)` / integral `MIN`/`MAX` answers in declaration order.
  * Executes as a LocalScan (LocalTableScanExec): zero data files, zero
  * tasks. */
private[sources] final class GraftAggScan(table: IncrementalTable,
    fields: Seq[(String, Any, org.apache.spark.sql.types.DataType)])
    extends org.apache.spark.sql.connector.read.LocalScan {
  // filesLive = -1: the metadata-only path must not itself run the
  // liveFileCount job (a Spark job on checkpointed tables) just for
  // accounting — the sentinel says "not computed", filesScanned = 0
  // is the assertion that matters
  GraftRelation.record(table.root,
    GraftScanInfo(-1L, 0,
      Seq(s"${fields.map(_._1).mkString(",")} [metadata-only]")))
  override def readSchema(): StructType = StructType(fields.map { case (n, _, dt) =>
    org.apache.spark.sql.types.StructField(n, dt, nullable = true)
  })
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    Array(org.apache.spark.sql.catalyst.InternalRow.fromSeq(fields.map(f =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(f._2))))
  override def description(): String =
    s"GraftAggScan ${table.root} ${fields.map(_._1).mkString(",")} (metadata-only)"
}

/** The pushed GROUP-BY-partition aggregate scan (X106): one row per
  * partition group, straight from the log — group keys then COUNT(*) /
  * integral MIN/MAX answers in declaration order. Executes as a
  * LocalScan (LocalTableScanExec): zero data files, zero tasks. */
private[sources] final class GraftGroupAggScan(table: IncrementalTable,
    outSchema: StructType,
    rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
    extends org.apache.spark.sql.connector.read.LocalScan {
  GraftRelation.record(table.root,
    GraftScanInfo(-1L, 0,
      Seq(s"group-by-partition ${outSchema.fieldNames.mkString(",")} " +
        "[metadata-only]")))
  override def readSchema(): StructType = outSchema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    rows.toArray
  override def description(): String =
    s"GraftGroupAggScan ${table.root} ${outSchema.fieldNames.mkString(",")} " +
      "(metadata-only)"
}

/** A read-only metadata view of a graft table (`t.history` /
  * `t.detail` / `t.properties`) — the DESCRIBE HISTORY / DESCRIBE
  * DETAIL surface as queryable relations, Iceberg-style. The frame is
  * built from the commit LOG (driver-side, O(tail)); only `detail` on
  * a checkpointed table runs a bounded aggregation job. */
private[sources] final class GraftMetaTable(spark: SparkSession,
    table: IncrementalTable, view: String, ident: String)
    extends Table with SupportsRead {

  // computed once per loaded table: schema() resolves it during
  // analysis and buildScan() again at execution — detail() in
  // particular re-statuses files / re-runs its aggregation per call
  private lazy val frame: DataFrame = view match {
    case "history" => table.history()
    case "detail" => table.detail()
    case "files" => table.filesDetail()
    case "partitions" => table.partitionsDetail()
    case "properties" =>
      import spark.implicits._
      table.tableProperties.toSeq.toDF("key", "value").orderBy("key")
    case "waps" =>
      // pending write-audit-publish stagings (X98): what an operator
      // checks before a publish/abort decision
      import spark.implicits._
      table.pendingWaps.toSeq
        .map { case (id, p) =>
          (id, p.action, p.add.size.toLong,
            p.partitionFilter.toSeq.sorted.map { case (k, v) => s"$k=$v" }
              .mkString(","))
        }
        .toDF("id", "action", "n_files", "partition_filter")
        .orderBy("id")
    case "branches" =>
      // live branch refs (X102): base version, chain length, pending
      // file volume — what an operator checks before a fast-forward
      import spark.implicits._
      table.branches.toSeq
        .map { case (n, p) =>
          (n, p.base, p.commits.size.toLong,
            p.commits.flatMap(_.add).distinct.size.toLong)
        }
        .toDF("name", "base_version", "n_commits", "n_files")
        .orderBy("name")
    case "eqdeletes" =>
      // standing equality deletes (X104): what an operator checks to
      // size the MOR read tax before scheduling a materializing compact
      import spark.implicits._
      table.eqDeletes().map { case (gen, p) =>
        (gen, p.baseVersion, p.cols.mkString(","))
      }.toDF("gen", "base_version", "key_columns").orderBy("base_version", "gen")
    case "manifests" =>
      // the head checkpoint's manifest list (X108): fragmentation,
      // range spans, and row balance — checkpoint health at a glance
      import spark.implicits._
      table.manifestList().map(m => (m.name, m.lo, m.hi, m.n))
        .toDF("manifest", "lo", "hi", "n_files").orderBy("lo", "manifest")
  }

  override def name(): String = ident
  override def schema(): StructType = frame.schema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftFrameScanBuilder(spark, frame, s"GraftMetaScan ${table.root} $view")
}

private[sources] object GraftMetaTable {
  val views: Set[String] =
    Set("history", "detail", "files", "partitions", "properties", "changes",
      "waps", "branches", "eqdeletes", "manifests")
}

/** Pure-SQL audit read of a pending write-audit-publish staging (X98):
  * `SELECT … FROM graft.ns.t VERSION AS OF 'wap:<id>'` — the table AS
  * IF the staged write were published now ([[IncrementalTable.readWap]]).
  * Read-only (the write/delete builders are absent by construction) and
  * scoped to audits: filters stay Spark-side residuals above the frame
  * (no skipping-index prune — an audit reads the staged slice it is
  * judging, not a 100 TB scan). */
private[sources] final class GraftWapTable(spark: SparkSession,
    table: IncrementalTable, wapId: String, ident: String)
    extends Table with SupportsRead {

  private lazy val frame: DataFrame = table.readWap(wapId)

  override def name(): String = s"$ident@wap:$wapId"
  override def schema(): StructType = frame.schema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftFrameScanBuilder(spark, frame, s"GraftWapScan ${table.root} wap:$wapId")
}

/** `SELECT … FROM graft.ns.t VERSION AS OF 'branch:<name>'` — the
  * branch head ([[IncrementalTable.readBranch]]): base snapshot plus
  * the branch's own chain, blind to main's later commits. Read-only
  * through this spelling (branch WRITES go through the session conf
  * `spark.graft.branch` or the library API) and scoped like the WAP
  * audit frame: filters stay Spark-side residuals above the frame —
  * a branch review reads the line of development it is judging. */
private[sources] final class GraftBranchTable(spark: SparkSession,
    table: IncrementalTable, branchName: String, ident: String)
    extends Table with SupportsRead {

  private lazy val frame: DataFrame = table.readBranch(branchName)

  override def name(): String = s"$ident@branch:$branchName"
  override def schema(): StructType = frame.schema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftFrameScanBuilder(spark, frame,
      s"GraftBranchScan ${table.root} branch:$branchName")
}

/** The scan builder of the DataFrame-backed catalog tables (metadata
  * views, WAP audits, branch heads): column pruning only — the frame is
  * projected to the required columns and bridged through V1, since a
  * driver-built frame may carry a shuffle (an `orderBy`) that the
  * narrow-plan partitions of [[GraftBatchScan]] cannot run. */
private[sources] final class GraftFrameScanBuilder(spark: SparkSession,
    frame: DataFrame, describe: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = frame.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = {
    val req = required
    new V1Scan {
      override def readSchema(): StructType = req
      override def description(): String = describe
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = spark.sqlContext
          override def schema: StructType = req
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
            (if (req.isEmpty) frame.select()
             else frame.select(req.fieldNames.toIndexedSeq.map(
               org.apache.spark.sql.functions.col): _*)).rdd
        }.asInstanceOf[T]
    }
  }
}

/** The change-data-feed relation of a graft table, addressable by name:
  * `graft.ns.t.changes` — the catalog spelling of the path door's
  * `readChangeFeed` option (a catalog relation's schema is pinned by
  * the table at analysis, so the CDC columns need their own table).
  * Batch reads replay the FULL logical history
  * ([[IncrementalTable.changes]] from version 0 — bounded by the
  * replay horizon / cdcRetention like any CDC read);
  * `spark.readStream.table("graft.ns.t.changes")` is the streaming
  * feed, offsets = commit versions, micro-batches staged by
  * [[GraftMicroBatchStream]]. Reader options `startingVersion`/
  * `startingTimestamp`/`maxCommitsPerTrigger`/`cdcRetention` apply. */
private[sources] final class GraftChangesTable(spark: SparkSession,
    table: IncrementalTable, ident: String)
    extends Table with SupportsRead {

  override def name(): String = ident

  override def schema(): StructType =
    GraftSource.cdcSchema(table.schemaAt().getOrElse(new StructType()))

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val params = GraftSource.paramsOf(options)
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = schema()
        override def description(): String = s"GraftChangesScan ${table.root}"

        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val out = schema()
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = spark.sqlContext
            override def schema: StructType = out
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              val from = GraftSource.parseOpt(params, "startingVersion",
                "a commit version")(_.toLong).getOrElse(0L)
              table.changes(from, table.latestVersion)
                .select(out.fieldNames.toIndexedSeq.map(
                  org.apache.spark.sql.functions.col): _*).rdd
            }
          }.asInstanceOf[T]
        }

        override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
          val t = GraftSource.parseOpt(params, "cdcRetention",
              "a non-negative integer")(_.toInt) match {
            case Some(r) => new IncrementalTable(spark, table.root,
              cdcRetention = r)
            case None => table
          }
          GraftSource.microBatchStream(spark, t,
            params + ("readChangeFeed" -> "true"), checkpointLocation)
        }
      }
    }
  }
}

/** One `graft.system.*` maintenance procedure (see
  * [[GraftCatalog.loadProcedure]]). Bound and unbound in one class —
  * the parameter list is static per procedure name; binding validates
  * nothing beyond what the analyzer's coercion already does. Results
  * surface as a one-row [[LocalScan]]. */
private[sources] final class GraftProcedure(cat: GraftCatalog, pname: String)
    extends org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
    with org.apache.spark.sql.connector.catalog.procedures.BoundProcedure {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  override def name(): String = pname
  override def description(): String = pname match {
    case "compact" => "rewrite a table slice into target_files files, " +
      "optionally z-ordered or clustered; stats index preserved via " +
      "the graft.statsColumns table property"
    case "vacuum" => "reclaim files no live or time-travelable commit " +
      "references; older_than_hours > 0 leaves younger candidates in " +
      "place (Delta-style retention grace for in-flight readers); " +
      "dry_run => true lists the reclaim set without deleting"
    case "create_view" => "register an incrementally-maintained " +
      "materialized view: CALL graft.system.create_view('ns.mv', " +
      "source => 'ns.src', group_keys => 'a,b', aggs => " +
      "'count:n;sum:s:CAST(x AS BIGINT)' [, where => ..., " +
      "partition_by => ...]); refresh drains upstream commits in " +
      "O(delta) merges"
    case "refresh" => "drain pending upstream commits into a " +
      "materialized view (create_view / create_join_view registers " +
      "one); exactly-once, O(delta), retraction/scoped-recompute on " +
      "rewrites; max_commits bounds one call (rate control), " +
      "until_current => true loops to lag 0"
    case "export_iceberg" => "mirror the live snapshot as a " +
      "structurally valid Iceberg v2 table (metadata.json + Avro " +
      "manifest list + chunked Avro manifests referencing the live " +
      "files in place); refuses under standing DV/equality deletes, " +
      "hidden-partition transforms, or VARIANT columns"
    case "import_iceberg" => "create a NEW graft table from an Iceberg " +
      "v2 table's current snapshot (metadata.json -> manifests -> " +
      "data files referenced in place, the shallow-clone shape; name " +
      "mapping round-trips renames; MOR snapshots replay natively — " +
      "position deletes into a DV generation, equality deletes in " +
      "sequence-number order); refuses v1/v3, non-identity " +
      "transforms, non-hive layouts"
    case "view_status" => "per-source staleness of a materialized " +
      "view, from pure metadata: consumed cursor version vs source " +
      "head version, lag in data commits (exactly what the next " +
      "refresh applies) and wall-time lag from in-commit timestamps"
    case "create_join_view" => "register an incrementally-maintained " +
      "JOIN view: CALL graft.system.create_join_view('ns.mv', " +
      "left => 'ns.l', right => 'ns.r', join_keys => 'k', " +
      "join_type => 'inner|left_outer|full_outer' [, left_where, " +
      "right_where, partition_by]); refresh applies delta-join " +
      "algebra with per-side cursors"
    case "expire_snapshots" => "age out archived history: delete delta " +
      "records older than older_than_hours (never past a tag, a live " +
      "branch base, the CDC retention window, or the replay horizon); " +
      "the floor checkpoint is kept and seeds archived replays — " +
      "expired-only data files reclaim on the next vacuum"
    case "restore" => "roll the table back to a prior version as a new commit"
    case "tag" => "pin a snapshot name to a commit version (default: head) " +
      "for VERSION AS OF '<name>' reads"
    case "untag" => "delete a snapshot tag"
    case "clone" => "shallow-clone a table (metadata-only: the new table " +
      "references the source's live files; optionally at a past version)"
    case "bloom_index" => "build bloom-index sidecar entries for the " +
      "current live files (X100 retrofit: tables adopting " +
      "graft.bloomIndexColumns with data in place, shallow clones)"
    case "analyze" => "recompute column NDV sketches from the current " +
      "live data (CBO statistics) — CALL graft.system.analyze('ns.t' " +
      "[, columns => 'a,b'])"
    case "evolve_partitioning" => "change the table's partition layout as " +
      "one metadata commit (Iceberg spec-evolution analog): existing files " +
      "keep their directory shape, new writes route under the new layout; " +
      "layout is 'col, days(ts), bucket(8, id), truncate(4, s)' syntax"
    case "wap_publish" => "publish a staged write-audit-publish ingest " +
      "(stageAppend / INSERT under spark.graft.wap.id): one atomic " +
      "metadata commit adopts the staged files"
    case "wap_abort" => "abort a staged write-audit-publish ingest: " +
      "tombstone the pending entry and drop its files"
    case "branch" => "fork a writable branch at a version (default: " +
      "head); write to it under spark.graft.branch, read it with " +
      "VERSION AS OF 'branch:<name>'"
    case "fast_forward" => "publish a branch's commit chain onto main " +
      "as one atomic commit (fails if main diverged since the fork)"
    case "drop_branch" => "abandon a branch: tombstone the ref and " +
      "drop its unpublished files"
    case "delete_by_key" => "merge-on-read DELETE by key (equality " +
      "delete): one O(metadata) commit puts the keys of `query`'s " +
      "result in force — no scan, no rewrite; readers anti-join, " +
      "compaction materializes"
    case "apply_eq_deletes" => "materialize every standing equality " +
      "delete into the files it covers (MOR -> COW maintenance) and " +
      "retire the now-inert entries — rewrite cost scales with the " +
      "covered file set, never table size"
    case "rewrite_manifests" => "fold the checkpoint's live set into " +
      "fresh, compact, range-balanced manifests (the Iceberg " +
      "rewrite_manifests analog) — the explicit defragmentation pass"
  }
  override def bind(inputType: org.apache.spark.sql.types.StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = {
    def in(n: String, t: org.apache.spark.sql.types.DataType) =
      ProcedureParameter.in(n, t)
    pname match {
      case "compact" => Array(
        in("table", StringType).build(),
        in("target_files", IntegerType).defaultValue("1").build(),
        in("zorder_by", StringType).defaultValue("''").build(),
        in("cluster_by", StringType).defaultValue("''").build(),
        // partition scope: "k=v[,k2=v2]" compacts ONE partition slice
        // (the OPTIMIZE ... WHERE analog) — at 100 TB you compact the
        // partitions a stream just touched, never the table
        in("where", StringType).defaultValue("''").build(),
        // predicate scope: any SQL predicate — compacts exactly the
        // files the metadata prune touches (Iceberg rewrite_data_files
        // WHERE analog); mutually exclusive with `where`
        in("where_expr", StringType).defaultValue("''").build(),
        // X89: size output by BYTES (overrides target_files) — the
        // scale dial: ceil(slice bytes / target_bytes) output files
        in("target_bytes", LongType).defaultValue("0").build())
      case "vacuum" => Array(
        in("table", StringType).build(),
        in("older_than_hours", DoubleType).defaultValue("0.0").build(),
        in("dry_run", BooleanType).defaultValue("false").build())
      case "expire_snapshots" => Array(
        in("table", StringType).build(),
        in("older_than_hours", DoubleType).build())
      case "restore" => Array(
        in("table", StringType).build(),
        // one of: an explicit version, or an ISO timestamp resolved
        // through the in-commit-timestamp binary search (X85)
        in("version", LongType).defaultValue("-1").build(),
        in("timestamp", StringType).defaultValue("''").build())
      case "tag" => Array(
        in("table", StringType).build(),
        in("name", StringType).build(),
        in("version", LongType).defaultValue("-1").build())
      case "untag" => Array(
        in("table", StringType).build(),
        in("name", StringType).build())
      case "clone" => Array(
        in("table", StringType).build(),
        in("dest", StringType).build(),
        in("version", LongType).defaultValue("-1").build())
      case "evolve_partitioning" => Array(
        in("table", StringType).build(),
        in("layout", StringType).build())
      case "analyze" => Array(
        in("table", StringType).build(),
        // default: the graft.ndvColumns property
        in("columns", StringType).defaultValue("''").build())
      case "bloom_index" => Array(
        in("table", StringType).build(),
        // default: the graft.bloomIndexColumns property
        in("columns", StringType).defaultValue("''").build())
      case "wap_publish" | "wap_abort" => Array(
        in("table", StringType).build(),
        in("id", StringType).build())
      case "branch" => Array(
        in("table", StringType).build(),
        in("name", StringType).build(),
        in("version", LongType).defaultValue("-1").build())
      case "fast_forward" | "drop_branch" => Array(
        in("table", StringType).build(),
        in("name", StringType).build())
      case "delete_by_key" => Array(
        in("table", StringType).build(),
        // comma-separated key columns of the TABLE
        in("keys", StringType).build(),
        // any SQL whose result supplies the key tuples (same column
        // names) — the compact `where_expr` pattern
        in("query", StringType).build())
      case "apply_eq_deletes" | "rewrite_manifests" | "view_status" => Array(
        in("table", StringType).build())
      case "export_iceberg" => Array(
        in("table", StringType).build(),
        in("dest", StringType).build(),
        // manifest chunk size: the list stays O(files / chunk), no
        // single Avro file grows with the table
        in("manifest_entries", IntegerType).defaultValue("10000").build())
      case "import_iceberg" => Array(
        in("table", StringType).build(), // the NEW table (created here)
        // Iceberg table root (resolved via metadata/version-hint.text)
        // or an explicit …/vN.metadata.json path
        in("source", StringType).build())
      case "refresh" => Array(
        in("table", StringType).build(),
        // rate control: at most this many upstream commits this call
        // (-1 = unbounded); a deep backlog catches up in bounded,
        // individually-committed steps
        in("max_commits", IntegerType).defaultValue("-1").build(),
        // the trigger-driven drain loop: keep refreshing (max_commits
        // per step) until the view reports lag 0
        in("until_current", BooleanType).defaultValue("false").build())
      case "create_view" => Array(
        in("table", StringType).build(), // the view's name (created here)
        in("source", StringType).build(),
        in("group_keys", StringType).build(),
        // ';'-separated kind:name[:expr]; kind in
        // count|sum|min|max|avg[@scale]|hll|topk[@maxItems]
        in("aggs", StringType).build(),
        in("where", StringType).defaultValue("''").build(),
        in("partition_by", StringType).defaultValue("''").build())
      case "create_join_view" => Array(
        in("table", StringType).build(), // the view's name (created here)
        in("left", StringType).build(),
        in("right", StringType).build(),
        in("join_keys", StringType).build(),
        in("join_type", StringType).defaultValue("'inner'").build(),
        in("left_where", StringType).defaultValue("''").build(),
        in("right_where", StringType).defaultValue("''").build(),
        in("partition_by", StringType).defaultValue("''").build())
    }
  }

  private def cols(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq

  override def call(input: InternalRow): java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
    // lazy: create_view's first argument names a table that does not
    // exist until the procedure itself registers it
    lazy val t = cat.tableByName(input.getUTF8String(0).toString)
    // view_status is the one MULTI-ROW procedure (left + right rows for
    // a join view) — emitted directly, bypassing the single-row tuple
    if (pname == "view_status") {
      val statusRows = graft.streaming.MaterializedView.status(
        org.apache.spark.sql.SparkSession.active, t).map { s =>
        InternalRow(UTF8String.fromString(s.view),
          UTF8String.fromString(s.role), UTF8String.fromString(s.source),
          s.cursorVersion, s.headVersion, s.lagCommits,
          // null = unknowable from retained metadata (never a silent
          // undercount); the commit COUNT above stays exact
          s.lagMs.map(Long.box).orNull)
      }.toArray
      val vSchema = new StructType()
        .add("view", StringType).add("role", StringType)
        .add("source", StringType).add("cursor_version", LongType)
        .add("head_version", LongType).add("lag_commits", LongType)
        .add("lag_ms", LongType)
      val vScan: org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = vSchema
          override def rows(): Array[InternalRow] = statusRows
        }
      return java.util.Collections.singletonList(vScan).iterator()
    }
    val (schema, row) = pname match {
      case "compact" =>
        val scope = cols(input.getUTF8String(4).toString).map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"compact 'where' entries must be k=v (got '$kv')")
          kv.take(i).trim -> kv.drop(i + 1).trim
        }.toMap
        val whereExpr = input.getUTF8String(5).toString.trim
        require(whereExpr.isEmpty || scope.isEmpty,
          "compact takes 'where' (partition k=v) OR 'where_expr' " +
            "(predicate), not both")
        val commit =
          if (whereExpr.nonEmpty)
            t.compactWhere(org.apache.spark.sql.functions.expr(whereExpr),
              targetFiles = input.getInt(1),
              statsColumns = GraftCatalog.statsColumnsOf(t))
          else t.compact(partitionFilter = scope,
            targetFiles = input.getInt(1),
            zorderBy = cols(input.getUTF8String(2).toString),
            clusterBy = cols(input.getUTF8String(3).toString),
            statsColumns = GraftCatalog.statsColumnsOf(t),
            targetBytes = input.getLong(6))
        (new StructType().add("version", LongType).add("files_added", IntegerType)
           .add("files_removed", IntegerType),
          commit.map(c => InternalRow(c.version, c.add.size, c.remove.size))
            .getOrElse(InternalRow(null, 0, 0)))
      case "vacuum" =>
        val reclaimed = t.vacuum(input.getDouble(1), dryRun = input.getBoolean(2))
        (new StructType().add("files_reclaimed", IntegerType),
          InternalRow(reclaimed.size))
      case "create_view" =>
        val viewRel = input.getUTF8String(0).toString
        val view = graft.table.IncrementalTable(
          org.apache.spark.sql.SparkSession.active, cat.pathForName(viewRel))
        val srcRel = input.getUTF8String(1).toString
        val srcPath = cat.tableByName(srcRel).root // must already exist
        graft.streaming.MaterializedView.create(
          org.apache.spark.sql.SparkSession.active, view, srcPath,
          cols(input.getUTF8String(2).toString),
          input.getUTF8String(3).toString,
          where = input.getUTF8String(4).toString.trim,
          partitionBy = cols(input.getUTF8String(5).toString))
        (new StructType().add("view", StringType).add("source", StringType),
          InternalRow(UTF8String.fromString(viewRel),
            UTF8String.fromString(srcRel)))
      case "create_join_view" =>
        val viewRel = input.getUTF8String(0).toString
        val view = graft.table.IncrementalTable(
          org.apache.spark.sql.SparkSession.active, cat.pathForName(viewRel))
        val leftRel = input.getUTF8String(1).toString
        val rightRel = input.getUTF8String(2).toString
        graft.streaming.MaterializedView.createJoin(
          org.apache.spark.sql.SparkSession.active, view,
          cat.tableByName(leftRel).root, cat.tableByName(rightRel).root,
          cols(input.getUTF8String(3).toString),
          joinType = input.getUTF8String(4).toString.trim,
          leftWhere = input.getUTF8String(5).toString.trim,
          rightWhere = input.getUTF8String(6).toString.trim,
          partitionBy = cols(input.getUTF8String(7).toString))
        (new StructType().add("view", StringType)
           .add("left", StringType).add("right", StringType),
          InternalRow(UTF8String.fromString(viewRel),
            UTF8String.fromString(leftRel), UTF8String.fromString(rightRel)))
      case "refresh" =>
        val maxCommits = input.getInt(1) match {
          case -1 => Int.MaxValue
          case n => n
        }
        val applied =
          if (input.getBoolean(2))
            graft.streaming.MaterializedView.refreshUntilCurrent(
              org.apache.spark.sql.SparkSession.active, t, maxCommits)
          else graft.streaming.MaterializedView.refresh(
            org.apache.spark.sql.SparkSession.active, t, maxCommits)
        t.refresh()
        (new StructType().add("commits_applied", IntegerType)
           .add("view_version", LongType),
          InternalRow(applied, t.latestVersion))
      case "expire_snapshots" =>
        val (floor, n) = t.expireSnapshots(input.getDouble(1))
        (new StructType().add("expired_below_version", LongType)
           .add("records_deleted", LongType),
          InternalRow(floor, n))
      case "restore" =>
        val v0 = input.getLong(1)
        val tsStr = input.getUTF8String(2).toString.trim
        require((v0 >= 0) ^ tsStr.nonEmpty,
          "restore takes exactly one of version or timestamp")
        val v =
          if (v0 >= 0) v0
          else {
            // session-timezone parse, matching TIMESTAMP AS OF (ADVICE
            // r8: Timestamp.valueOf used the driver JVM's default zone)
            val zone = java.time.ZoneId.of(org.apache.spark.sql.SparkSession
              .active.conf.get("spark.sql.session.timeZone"))
            t.versionAtTimestamp(
              GraftSource.parseTimestampMillisZoned(tsStr, zone))
          }
        val commit = t.restore(v)
        (new StructType().add("version", LongType).add("restored_to", LongType),
          commit.map(c => InternalRow(c.version, v))
            .getOrElse(InternalRow(null, v)))
      case "tag" =>
        val tagName = input.getUTF8String(1).toString
        val v = input.getLong(2) match {
          case -1L => t.latestVersion
          case v => v
        }
        t.setTag(tagName, v)
        (new StructType().add("tag", StringType).add("version", LongType),
          InternalRow(UTF8String.fromString(tagName), v))
      case "untag" =>
        val tagName = input.getUTF8String(1).toString
        t.dropTag(tagName)
        (new StructType().add("tag", StringType),
          InternalRow(UTF8String.fromString(tagName)))
      case "evolve_partitioning" =>
        // same textual forms as CREATE's PARTITIONED BY: identity
        // column names and years/months/days/hours/bucket/truncate
        // transforms, comma-separated at the top level
        val raw = input.getUTF8String(1).toString
        val items = {
          val out = Seq.newBuilder[String]
          val sb = new StringBuilder
          var depth = 0
          raw.foreach {
            case ',' if depth == 0 => out += sb.result(); sb.clear()
            case c =>
              if (c == '(') depth += 1
              if (c == ')') depth -= 1
              sb += c
          }
          out += sb.result()
          out.result().map(_.trim).filter(_.nonEmpty)
        }
        require(items.nonEmpty,
          "evolve_partitioning needs a non-empty layout")
        val schema = t.schemaAt().getOrElse(new StructType())
        val specs = scala.collection.mutable.LinkedHashMap.empty[String, String]
        val layout = items.map { item =>
          if (!item.contains('(')) item
          else {
            val spec = item.replaceAll("\\s+", "")
            val pt = graft.table.PartitionTransform.parse(spec, schema)
            val name = graft.table.PartitionTransform.defaultName(pt)
            specs(name) = pt.spec
            name
          }
        }
        val c = t.evolvePartitioning(layout, specs.toMap)
        (new StructType().add("version", LongType)
           .add("partition_by", StringType),
          InternalRow(c.version,
            UTF8String.fromString(layout.mkString(","))))
      case "analyze" =>
        // X88: recompute NDV sketches from the current live data (one
        // column-pruned scan) and REPLACE the channel — the
        // retroactive/reset path for CBO statistics
        val c = t.analyzeNdv(cols(input.getUTF8String(1).toString))
        (new StructType().add("version", LongType)
           .add("columns", StringType),
          InternalRow(c.map(_.version).getOrElse(-1L),
            UTF8String.fromString(t.columnNdv().keys.toSeq.sorted.mkString(","))))
      case "bloom_index" =>
        // X100 retrofit: one column-pruned job over the live files
        val requested = cols(input.getUTF8String(1).toString)
        t.buildBloomIndex(requested)
        (new StructType().add("files_indexed", LongType),
          InternalRow(t.liveFiles().size.toLong))
      case "wap_publish" =>
        val c = t.publishWap(input.getUTF8String(1).toString)
        (new StructType().add("version", LongType)
           .add("files_added", IntegerType)
           .add("files_removed", IntegerType),
          InternalRow(c.version, c.add.size, c.remove.size))
      case "wap_abort" =>
        val dropped = t.abortWap(input.getUTF8String(1).toString)
        (new StructType().add("files_dropped", IntegerType),
          InternalRow(dropped.size))
      case "branch" =>
        val bn = input.getUTF8String(1).toString
        val v = input.getLong(2) match {
          case -1L => t.latestVersion
          case v2 => v2
        }
        t.createBranch(bn, v)
        (new StructType().add("branch", StringType).add("base", LongType),
          InternalRow(UTF8String.fromString(bn), v))
      case "fast_forward" =>
        val c = t.fastForward(input.getUTF8String(1).toString)
        (new StructType().add("version", LongType)
           .add("files_added", IntegerType)
           .add("files_removed", IntegerType),
          InternalRow(c.version, c.add.size, c.remove.size))
      case "drop_branch" =>
        val dropped = t.dropBranch(input.getUTF8String(1).toString)
        (new StructType().add("files_dropped", IntegerType),
          InternalRow(dropped.size))
      case "delete_by_key" =>
        val keyCols = cols(input.getUTF8String(1).toString)
        val keys = org.apache.spark.sql.SparkSession.active
          .sql(input.getUTF8String(2).toString)
        val c = t.deleteByKey(keys, keyCols)
        (new StructType().add("version", LongType),
          InternalRow(c.map(_.version).getOrElse(-1L)))
      case "apply_eq_deletes" =>
        val cs = t.applyEqDeletes(
          statsColumns = GraftCatalog.statsColumnsOf(t))
        (new StructType().add("commits", IntegerType)
           .add("standing_after", IntegerType),
          InternalRow(cs.size, t.eqDeletes().size))
      case "import_iceberg" =>
        // the first argument names a table that does not exist yet —
        // resolve its PATH without loading it (the create_view shape)
        val destRel = input.getUTF8String(0).toString
        val destT = graft.table.IncrementalTable(
          org.apache.spark.sql.SparkSession.active, cat.pathForName(destRel))
        val r = graft.table.IcebergImport.importTable(
          org.apache.spark.sql.SparkSession.active, destT,
          input.getUTF8String(1).toString)
        (new StructType().add("dest", StringType)
           .add("snapshot_id", LongType)
           .add("metadata_file", StringType)
           .add("data_files", IntegerType)
           .add("total_rows", LongType)
           .add("renamed_columns", IntegerType)
           .add("pos_delete_files", IntegerType)
           .add("eq_delete_files", IntegerType)
           .add("commits", IntegerType),
          InternalRow(UTF8String.fromString(destRel), r.snapshotId,
            UTF8String.fromString(r.metadataFile), r.dataFiles,
            r.totalRows, r.renamedColumns, r.posDeleteFiles,
            r.eqDeleteFiles, r.commits))
      case "export_iceberg" =>
        val r = graft.table.IcebergExport.export(
          org.apache.spark.sql.SparkSession.active, t,
          input.getUTF8String(1).toString,
          manifestTargetEntries = input.getInt(2))
        (new StructType().add("snapshot_id", LongType)
           .add("metadata_file", StringType)
           .add("manifests", IntegerType)
           .add("manifests_reused", IntegerType)
           .add("data_files", IntegerType)
           .add("footers_read", IntegerType)
           .add("total_rows", LongType),
          InternalRow(r.snapshotId, UTF8String.fromString(r.metadataFile),
            r.manifests, r.manifestsReused, r.dataFiles, r.footersRead,
            r.totalRows))
      case "rewrite_manifests" =>
        val ms = t.rewriteManifests()
        (new StructType().add("manifests", IntegerType)
           .add("rows", LongType),
          InternalRow(ms.size, ms.map(_.n).sum))
      case "clone" =>
        val destRel = input.getUTF8String(1).toString
        val destPath = cat.pathForName(destRel)
        val v = input.getLong(2) match {
          case -1L => None
          case v2 => Some(v2)
        }
        val c = t.cloneTo(destPath, v)
        (new StructType().add("dest", StringType)
           .add("cloned_version", LongType).add("files_referenced", IntegerType),
          InternalRow(UTF8String.fromString(destRel),
            c.meta("clonedVersion").toLong, c.add.size))
    }
    val scan: org.apache.spark.sql.connector.read.Scan =
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(row)
      }
    java.util.Collections.singletonList(scan).iterator()
  }
}

private[sources] object GraftProcedure {
  val names: Set[String] =
    Set("compact", "vacuum", "restore", "tag", "untag", "clone",
      "evolve_partitioning", "analyze", "bloom_index", "wap_publish",
      "wap_abort", "branch", "fast_forward", "drop_branch",
      "delete_by_key", "apply_eq_deletes", "rewrite_manifests",
      "expire_snapshots", "create_view", "create_join_view", "refresh",
      "view_status", "export_iceberg", "import_iceberg")
}

/** INSERT INTO → append; INSERT OVERWRITE → truncate (full) or a
  * static-partition `replaceWhere` — each ONE atomic OCC commit.
  * Overwrite-by-filter accepts partition-column equalities only (the
  * Hive static-partition contract); anything else fails in the analyzer
  * via `canOverwrite`, never silently over- or under-deletes.
  *
  * The built [[Write]] also answers [[Write.toStreaming]] — that is
  * `df.writeStream.toTable("graft.ns.t")`: Append output mode commits
  * per-epoch appends, Complete (the engine routes it through
  * [[truncate]]) per-epoch atomic replaces; a static-partition
  * overwrite scope has no streaming meaning and is refused. Writer
  * identity for the exactly-once guard: the qualified
  * checkpointLocation option when present (the V1 sink's identity —
  * existing streams resume across the DSv2 migration), else the
  * engine's stable query id. */
private[sources] final class GraftWriteBuilder(spark: SparkSession,
    table: IncrementalTable, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite {

  // None = append; Some(Nil) = truncate; Some(filters) = partition scope
  private var overwriteScope: Option[Seq[Filter]] = None

  override def truncate(): WriteBuilder = { overwriteScope = Some(Nil); this }

  // the analyzer renders a static `PARTITION (p = 'v')` scope as a
  // null-safe equality — accept both spellings of partition equality
  private def partEq(f: Filter): Option[(String, Any)] = {
    val partCols = table.partitionColumns.toSet
    f match {
      case EqualTo(a, v) if partCols(a) && v != null => Some(a -> v)
      case org.apache.spark.sql.sources.EqualNullSafe(a, v)
          if partCols(a) && v != null => Some(a -> v)
      case _ => None
    }
  }

  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(f => f == AlwaysTrue() || partEq(f).isDefined)

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(canOverwrite(filters),
      s"graft INSERT OVERWRITE scope must be partition equalities: ${filters.mkString(", ")}")
    overwriteScope = Some(filters.toIndexedSeq.filterNot(_ == AlwaysTrue()))
    this
  }

  override def build(): Write = new V1Write {
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(overwriteScope.isEmpty || overwriteScope.contains(Nil),
        "a partition-scoped overwrite has no streaming meaning " +
          s"(scope: ${overwriteScope.get.mkString(", ")})")
      val appId = Option(info.options().get("checkpointLocation"))
        .map(graft.streaming.CheckpointId(spark, _))
        .getOrElse(info.queryId())
      new GraftStreamingWrite(table, table.partitionColumns, appId,
        info.schema(), GraftCatalog.statsColumnsOf(table),
        truncate = overwriteScope.contains(Nil),
        new graft.parquet.RowParquet.SerializableConf(
          IncrementalTable.hadoopConf(spark)),
        upsertKeys = Option(info.options().get("upsertKeys")).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
    }

    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val partitionBy = table.partitionColumns
          val props = table.tableProperties
          val stats = GraftCatalog.statsColumnsOf(table)
          // clustered inserts (`graft.writeClusterBy`): range-partition
          // + sort the batch on the cluster keys so every written file
          // covers a TIGHT key range — the stats index then actually
          // prunes on freshly-inserted data instead of waiting for an
          // OPTIMIZE pass; file count per insert via
          // `graft.writeClusterFiles` (default: session shuffle
          // partitions)
          val clusterBy = props.get("graft.writeClusterBy").toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
          val shaped =
            if (clusterBy.isEmpty) data
            else {
              val cols = clusterBy.map(org.apache.spark.sql.functions.col)
              val n = props.get("graft.writeClusterFiles").map(_.toInt)
                .getOrElse(data.sparkSession.sessionState.conf.numShufflePartitions)
              data.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
            }
          // write-audit-publish (X98, the Iceberg `spark.wap.id` UX):
          // with the session conf set, every catalog write STAGES under
          // that id instead of committing — plain `INSERT INTO` from a
          // pure-SQL ingest job becomes auditable without touching its
          // statements; CALL graft.system.wap_publish/wap_abort close
          // the loop
          val wap = data.sparkSession.conf.getOption("spark.graft.wap.id")
            .map(_.trim).filter(_.nonEmpty)
          // branch writes (X102, the Iceberg branch UX): with the
          // session conf set, every catalog write lands on that branch
          // — a pure-SQL pipeline develops against a fork and CALL
          // graft.system.fast_forward publishes the whole line
          val branchTo = data.sparkSession.conf.getOption("spark.graft.branch")
            .map(_.trim).filter(_.nonEmpty)
          require(wap.isEmpty || branchTo.isEmpty,
            "spark.graft.wap.id and spark.graft.branch are mutually exclusive")
          overwriteScope match {
            case _ if branchTo.isDefined =>
              val scope = overwriteScope match {
                case None | Some(Nil) => Map.empty[String, String]
                case Some(filters) => filters.flatMap(partEq)
                  .map { case (a, v) => a -> v.toString }.toMap
              }
              if (overwriteScope.isEmpty)
                table.appendBranch(shaped, branchTo.get, partitionBy,
                  statsColumns = stats)
              else
                table.replaceWhereBranch(shaped, branchTo.get, partitionBy,
                  Map.empty, scope, statsColumns = stats)
            case _ if wap.isDefined =>
              val scope = overwriteScope match {
                case None | Some(Nil) => Map.empty[String, String]
                case Some(filters) => filters.flatMap(partEq)
                  .map { case (a, v) => a -> v.toString }.toMap
              }
              if (overwriteScope.isEmpty)
                table.stageAppend(shaped, wap.get, partitionBy,
                  statsColumns = stats)
              else
                table.stageReplaceWhere(shaped, wap.get, partitionBy,
                  Map.empty, scope, statsColumns = stats)
            case None =>
              table.append(shaped, partitionBy, statsColumns = stats)
              // write-time compaction (`graft.autoCompact.maxFiles`,
              // Delta autoOptimize analog): partitions that accumulated
              // more than maxFiles small files after this insert are
              // rewritten — the commit-log and listing tax of a
              // micro-batch ingest stays bounded without a scheduled
              // OPTIMIZE job
              props.get("graft.autoCompact.maxFiles").map(_.toInt).foreach { m =>
                table.compactIfNeeded(m,
                  targetFiles = props.get("graft.autoCompact.targetFiles")
                    .map(_.toInt).getOrElse(1),
                  statsColumns = stats)
              }
            case Some(Nil) =>
              table.replaceWhere(shaped, partitionBy, Map.empty, Map.empty,
                statsColumns = stats)
            case Some(filters) =>
              val scope = filters.flatMap(partEq)
                .map { case (a, v) => a -> v.toString }.toMap
              table.replaceWhere(shaped, partitionBy, Map.empty, scope,
                statsColumns = stats)
          }
          ()
        }
      }
  }
}
