package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.IceliteTable

/** SQL/DataSourceV2 read surface over icelite tables — the reference's
  * end purpose (`docs/design.md:291-299`: synced Iceberg tables are
  * queryable by engines, "query engines reconcile data files minus
  * delete files at read"). Registering
  * `spark.sql.catalog.<name> = graft.sql.IceliteCatalog` plus
  * `spark.sql.catalog.<name>.warehouse = <root>` makes every synced
  * table addressable as `<name>.<namespace>.<table>` from plain
  * `spark.sql`, with the FULL MoR semantics of [[IceliteTable.read]]
  * intact: equality-delete merge, position-delete anti-join,
  * rename/drop/add epoch translation, initial defaults — because the
  * scan IS that read path, surfaced through DSv2's V1 fallback
  * ([[V1Scan]], the JDBC-connector shape) rather than a re-implemented
  * row reader.
  *
  * Scale/pushdown: the analyzer pushes filters and required columns
  * into [[IceliteScanBuilder]], which hands them to
  * [[IceliteTable.scan]] BEFORE the MoR DataFrame compiles — so files
  * are planned from table metadata and predicates reach the underlying
  * parquet scans (footer stats + page pruning) exactly as they do on
  * the programmatic path, and column pruning shrinks the read schema
  * end to end. Handled filters are also re-evaluated by Spark above
  * the scan (returned as residuals too): double evaluation of a
  * pushed predicate is free relative to a scan that can't prune.
  *
  * Time travel rides the DSv2 hooks: `VERSION AS OF <seq>` resolves
  * through `loadTable(ident, version)` → [[IceliteTable.readAt]] and
  * `TIMESTAMP AS OF` through the micros overload →
  * [[IceliteTable.readAsOf]]. Iceberg-style metadata tables are
  * addressable with a `$` suffix (`` `orders$snapshots` ``,
  * `$history`, `$files`, `$manifests`, `$partitions`). `INSERT INTO`
  * appends through [[V1Write]] → [[IceliteTable.append]] (one icelite
  * commit per INSERT).
  */
final class IceliteCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catName: String = _
  private var warehouse: String = _
  private var principal: Option[String] = None

  private def spark: SparkSession = SparkSession.active
  private def local = new graft.catalog.LocalCatalog(spark, warehouse)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"icelite catalog '$name' needs spark.sql.catalog.$name.warehouse"))
    // governed catalog: every read resolves through the named
    // principal's row-filter/column-mask policies, and the catalog is
    // READ-ONLY (a governed consumer must not write around its view) —
    // register a second ungoverned catalog name for the writer role
    principal = Option(options.get("principal"))
  }

  override def name(): String = catName

  /** ALTER/CREATE with `DEFAULT <literal>` routes to the initial-default
    * evolution ([[IceliteTable.addColumnWithDefault]]).
    */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  // ------------------------------------------------------------ tables

  private val ChangesRange = """changes\((\d+)(?:\s*,\s*(\d+))?\)""".r

  private def oneLevel(ident: Identifier): String = ident.namespace() match {
    case Array(ns) => ns
    case _ => throw new NoSuchTableException(ident)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = namespace match {
    case Array(ns) => local.listTables(ns).map(Identifier.of(namespace, _)).toArray
    case _ => throw new NoSuchNamespaceException(namespace)
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 && !ident.name.contains("$") &&
      local.locationOf(ident.namespace()(0), ident.name).isDefined

  override def loadTable(ident: Identifier): Table =
    load(ident, t => new IceliteSparkTable(t))

  private def requireUngoverned(what: String): Unit =
    if (principal.isDefined) throw new UnsupportedOperationException(
      s"$what is not exposed through a governed catalog (policies apply to the CURRENT state)")

  /** A governed catalog must not FAIL OPEN: a principal that matches
    * no declared policy ANYWHERE in the warehouse — a misspelled
    * `spark.sql.catalog.<name>.principal` being the typical cause —
    * would otherwise silently serve the full ungoverned read of every
    * table. Validated once per catalog instance (driver-side metadata
    * scan over the warehouse's table heads; re-checked after a miss so
    * a policy granted later in the session is picked up). Warehouses
    * with NO policies at all stay open: there is nothing to govern,
    * and failing would break read-only catalogs over policy-free data.
    */
  @volatile private var principalOk = false
  private def validatePrincipal(p: String): Unit = {
    if (principalOk) return
    val tables = for {
      ns <- local.listNamespaces(); tn <- local.listTables(ns)
    } yield IceliteTable.load(spark, warehouse, ns, tn)
    val declared = tables.flatMap(_.policies.keys).toSet
    if (declared.nonEmpty && !declared.contains(p))
      throw new IllegalArgumentException(
        s"principal '$p' of governed catalog '$catName' matches no declared policy " +
          s"in $warehouse (declared: ${declared.toSeq.sorted.mkString(", ")}) — " +
          "a typo here would expose ungoverned data, so the catalog refuses")
    principalOk = true
  }

  /** `VERSION AS OF <commit seq>`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    requireUngoverned("time travel")
    val seq = try version.toLong catch {
      case _: NumberFormatException => throw new NoSuchTableException(ident)
    }
    load(ident, t => IceliteSparkTable.readOnly(t, s"${t.name}@$seq", () => t.readAt(seq),
      t.schemaAt(seq)))
  }

  /** `TIMESTAMP AS OF` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    requireUngoverned("time travel")
    load(ident, t => IceliteSparkTable.readOnly(t, s"${t.name}@ts", () =>
      t.readAsOf(timestampMicros / 1000L), t.schema))
  }

  private def load(ident: Identifier, travel: IceliteTable => Table): Table = {
    val ns = oneLevel(ident)
    val (base, meta) = ident.name.split('$') match {
      case Array(b) => (b, None)
      case Array(b, m) => (b, Some(m))
      case _ => throw new NoSuchTableException(ident)
    }
    if (local.locationOf(ns, base).isEmpty) throw new NoSuchTableException(ident)
    val t = IceliteTable.load(spark, warehouse, ns, base)
    principal match {
      case Some(p) if meta.isEmpty =>
        validatePrincipal(p)
        // tables with no policy for the principal serve the plain read
        // (policies are per-table opt-in, the no-policy default is
        // allow — the Ranger/UC convention); policied tables serve the
        // filtered+masked view and nothing else. The reported schema
        // is the GOVERNED frame's own (a mask can null a non-nullable
        // column; reporting the base nullability would let Catalyst
        // fold count(col) into count(*) over masked-away values)
        return IceliteSparkTable.readOnly(t, s"${t.name}@$p",
          () => if (t.policies.contains(p)) t.readGoverned(p) else t.read())
      case Some(_) =>
        throw new UnsupportedOperationException(
          s"metadata/travel tables are not exposed through a governed catalog")
      case None => ()
    }
    meta match {
      case None => travel(t)
      case Some("snapshots") => IceliteSparkTable.readOnly(t, s"${t.name}$$snapshots", () => t.snapshotsTable())
      case Some("history") => IceliteSparkTable.readOnly(t, s"${t.name}$$history", () => t.historyTable())
      case Some("files") => IceliteSparkTable.readOnly(t, s"${t.name}$$files", () => t.filesTable())
      case Some("manifests") => IceliteSparkTable.readOnly(t, s"${t.name}$$manifests", () => t.manifestsTable())
      case Some("partitions") => IceliteSparkTable.readOnly(t, s"${t.name}$$partitions", () => t.partitionsTable())
      // batch SQL changelog (Iceberg's table_changes shape): ONE-SHOT
      // CDC reads without leaving SQL — `t$changes` (full retained
      // history), `t$changes(from)` ((from, head]), `t$changes(from,to)`.
      // Served through the same distributed V1Scan path as every other
      // read (CALL procedures would collect to the driver — Spark's
      // InvokeProcedures only accepts LocalScan results)
      // branch/tag reads in SQL: `t$ref(name)` serves the ref's chain
      // (staged WAP commits included for a branch) through the same
      // distributed scan path — the audit step of write-audit-publish
      // without leaving SQL
      case Some(ref) if ref.startsWith("ref(") && ref.endsWith(")") =>
        val refName = ref.substring(4, ref.length - 1)
        IceliteSparkTable.readOnly(t, s"${t.name}$$$ref", () => t.readBranch(refName))
      case Some(ch) if ch == "changes" || ch.startsWith("changes(") =>
        val (from, to) = ch match {
          case "changes" => (0L, t.meta.lastSeq)
          case ChangesRange(f, null) => (f.toLong, t.meta.lastSeq)
          case ChangesRange(f, tt) => (f.toLong, tt.toLong)
          case _ => throw new IllegalArgumentException(
            s"bad changes selector '$ch' — use changes, changes(from), or changes(from,to)")
        }
        IceliteSparkTable.readOnly(t, s"${t.name}$$$ch", () => t.readChanges(from, to))
      case Some(other) => throw new NoSuchTableException(ident)
    }
  }

  /** Map a DSv2 partition [[Transform]] onto icelite's partition spec
    * (the reference's identity|year|month|day|hour|bucket[N] set —
    * `PartitionConfig.java`). `PARTITIONED BY (c)` arrives as identity;
    * `PARTITIONED BY (days(ts), bucket(16, id))` as named transforms.
    */
  private def toPartitionConfig(tr: Transform): graft.config.PartitionConfig = {
    val refs = tr.references()
    require(refs.length == 1 && refs(0).fieldNames().length == 1,
      s"icelite partition transform must reference one top-level column, got $tr")
    val field = refs(0).fieldNames()(0)
    tr.name() match {
      case "identity" => graft.config.PartitionConfig(field, "identity")
      case "years" => graft.config.PartitionConfig(field, "year")
      case "months" => graft.config.PartitionConfig(field, "month")
      case "days" => graft.config.PartitionConfig(field, "day")
      case "hours" => graft.config.PartitionConfig(field, "hour")
      case "bucket" =>
        val n = tr.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value().isInstanceOf[Int] => l.value().asInstanceOf[Int]
        }.getOrElse(throw new IllegalArgumentException(s"bucket transform without a count: $tr"))
        graft.config.PartitionConfig(field, s"bucket[$n]")
      case other => throw new UnsupportedOperationException(
        s"icelite partition transform '$other' — supported: identity, years, " +
          "months, days, hours, bucket(N, col)")
    }
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    requireUngoverned("CREATE TABLE")
    val ns = oneLevel(ident)
    // '$' is the metadata-table selector in load()/tableExists() — a
    // name like `a$b` could be created but never loaded or dropped
    // through the catalog; fail at creation instead
    require(!ident.name.contains("$"),
      s"icelite table name '${ident.name}' may not contain '$$' (reserved for " +
        "metadata-table suffixes like `t$snapshots`)")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new TableAlreadyExistsException(ident)
    // inline column DEFAULTs: fold each declared literal into the
    // stored per-column default property at create time. The stored
    // schema is stripped of the analyzer's default metadata (the
    // property is the durable record; loadTable re-derives the
    // metadata from it), so INSERTs omitting the column fill the
    // literal and non-literal defaults refuse loudly at create.
    val defaults: Map[String, String] = schema.fields.toSeq.flatMap { f =>
      if (!f.metadata.contains("CURRENT_DEFAULT")) None
      else {
        val e = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .analyze(f, "CREATE TABLE")
        if (!e.foldable) throw new UnsupportedOperationException(
          s"CREATE TABLE: DEFAULT for '${f.name}' is not a literal")
        val v = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(e.eval(), f.dataType)
        Some((IceliteTable.DefaultPropPrefix + f.name) ->
          IceliteTable.renderDefaultValue(f.dataType, v))
      }
    }.toMap
    val cleanSchema = StructType(schema.fields.map { f =>
      if (!f.metadata.contains("CURRENT_DEFAULT") && !f.metadata.contains("EXISTS_DEFAULT")) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .remove("CURRENT_DEFAULT").remove("EXISTS_DEFAULT").build())
    })
    new IceliteSparkTable(IceliteTable.create(spark, warehouse, ns, ident.name, cleanSchema,
      partitioning = partitions.toSeq.map(toPartitionConfig),
      properties = defaults))
  }

  /** `ALTER TABLE … ADD COLUMNS / RENAME COLUMN / DROP COLUMN` map to
    * the schema-evolution commits (one metadata commit each, zero data
    * IO; epoch translation serves old files under the new shape) —
    * including STRUCT-FIELD adds and renames (`ADD COLUMNS (meta.c T)`,
    * `RENAME COLUMN meta.a TO b`). Positioned changes, deeper nesting,
    * nested drops, and property changes are refused; properties travel
    * with their own APIs.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireUngoverned("ALTER TABLE")
    val t = loadTable(ident) match {
      case _: IceliteSparkTable => IceliteTable.load(spark, warehouse, oneLevel(ident), ident.name)
      case _ => throw new UnsupportedOperationException(s"cannot ALTER ${ident.name}")
    }
    // property changes batch into ONE commit (Spark hands one
    // SetProperty per key of a single ALTER statement)
    val setProps = changes.collect { case p: TableChange.SetProperty => p.property() -> p.value() }
    val unsetProps = changes.collect { case p: TableChange.RemoveProperty => p.property() }
    if (setProps.nonEmpty || unsetProps.nonEmpty)
      t.setProperties(setProps.toMap, unsetProps)
    changes.filter {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => false
      case _ => true
    }.foreach {
      case a: TableChange.AddColumn if a.fieldNames().length == 1 && a.position() == null
          && a.defaultValue() != null =>
        // ALTER ADD COLUMN ... DEFAULT <lit>: route to the
        // initial-default evolution (pre-add files serve the literal)
        val lit = a.defaultValue().getValue
        t.addColumnWithDefault(a.fieldNames()(0), a.dataType(),
          org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(
            lit.value(), lit.dataType()))
      case a: TableChange.AddColumn if a.fieldNames().length == 1 && a.position() == null =>
        t.addColumns(StructType(Seq(
          org.apache.spark.sql.types.StructField(a.fieldNames()(0), a.dataType(), a.isNullable))))
      case a: TableChange.AddColumn if a.fieldNames().length == 2 && a.position() == null
          && a.defaultValue() != null =>
        // the catalog advertises SUPPORT_COLUMN_DEFAULT_VALUE, so Spark
        // passes nested defaults through without complaint — refuse
        // loudly instead of silently dropping the literal (pre-add rows
        // would read NULL where the user declared a DEFAULT)
        throw new UnsupportedOperationException(
          s"ALTER TABLE ADD COLUMN ${a.fieldNames().mkString(".")} DEFAULT: struct-field " +
            "defaults are not supported — add the nested field without DEFAULT " +
            "(pre-add rows read NULL), or add a top-level column with DEFAULT")
      case a: TableChange.AddColumn if a.fieldNames().length == 2 && a.position() == null =>
        t.addNestedField(a.fieldNames()(0),
          org.apache.spark.sql.types.StructField(a.fieldNames()(1), a.dataType(), a.isNullable))
      case r: TableChange.RenameColumn if r.fieldNames().length == 1 =>
        t.renameColumn(r.fieldNames()(0), r.newName())
      case r: TableChange.RenameColumn if r.fieldNames().length == 2 =>
        t.renameNestedField(r.fieldNames()(0), r.fieldNames()(1), r.newName())
      case d: TableChange.DeleteColumn if d.fieldNames().length == 1 =>
        t.dropColumn(d.fieldNames()(0))
      case d: TableChange.DeleteColumn if d.fieldNames().length == 2 =>
        t.dropNestedField(d.fieldNames()(0), d.fieldNames()(1))
      case u: TableChange.UpdateColumnType if u.fieldNames().length == 1 =>
        // metadata-only type WIDENING (Iceberg promotion); the engine
        // validates the lossless lattice and refuses anything else
        t.widenColumn(u.fieldNames()(0), u.newDataType())
      case u: TableChange.UpdateColumnType if u.fieldNames().length == 2 =>
        t.widenNestedField(u.fieldNames()(0), u.fieldNames()(1), u.newDataType())
      case c: TableChange.UpdateColumnComment if c.fieldNames().length == 1 =>
        t.setColumnComment(c.fieldNames()(0), c.newComment())
      case n: TableChange.UpdateColumnNullability if n.fieldNames().length == 1 =>
        // SET NOT NULL runs the one-scan proof (refuses on stored
        // NULLs) then flips metadata; DROP NOT NULL is metadata-only
        if (n.nullable()) t.relaxNullability(n.fieldNames()(0))
        else t.tightenNullability(n.fieldNames()(0))
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other: icelite supports top-level ADD/RENAME/DROP " +
          "COLUMN (+ struct fields), TYPE widening, COMMENT, SET/DROP NOT NULL, " +
          "and SET/UNSET TBLPROPERTIES")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    requireUngoverned("DROP TABLE")
    val ns = oneLevel(ident)
    local.locationOf(ns, ident.name) match {
      case Some(loc) =>
        val p = new Path(loc)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      case None => false
    }
  }

  override def renameTable(old: Identifier, n: Identifier): Unit =
    throw new UnsupportedOperationException("icelite tables are path-addressed; rename is a catalog move")

  // ------------------------------------------------------------- views

  /** Persistent SQL views ([[ViewStore]]: one JSON per view under
    * `<ns>/_views/`). Spark 4.1 ships the [[org.apache.spark.sql
    * .connector.catalog.ViewCatalog]] API but no analyzer/exec path
    * for it — [[IceliteViewRule]] (injected via
    * [[graft.functions.GraftExtensions]]) routes CREATE/DROP/SHOW/
    * ALTER VIEW statements here and inlines view reads, so this
    * catalog is the single source of truth for both the API and the
    * SQL surface. Governed catalogs are read-only: view DDL refuses,
    * view READS are allowed — the inlined plan re-resolves every
    * referenced table through the catalog, so row-filter/column-mask
    * policies apply UNDER the view exactly as they do to direct
    * table reads (a view cannot launder governed data).
    */
  private def views = new ViewStore(spark, warehouse)

  private def oneLevelView(ident: Identifier): (String, String) = ident.namespace() match {
    case Array(ns) => (ns, ident.name())
    case _ => throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
  }

  override def listViews(namespace: String*): Array[Identifier] = namespace.toSeq match {
    case Seq(ns) => views.list(ns).map(Identifier.of(Array(ns), _)).toArray
    case other => throw new NoSuchNamespaceException(other.toArray)
  }

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 && views.exists(ident.namespace()(0), ident.name())

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View = {
    val (ns, name) = oneLevelView(ident)
    views.load(ns, name).map(new IceliteView(ident, _)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
  }

  /** Raw persisted meta for the inlining rule (schema pinning needs
    * the typed form, not the flattened connector arrays).
    */
  private[sql] def viewMeta(ident: Identifier): Option[IceliteViewMeta] =
    ident.namespace() match {
      case Array(ns) => views.load(ns, ident.name())
      case _ => None
    }

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    requireUngoverned("CREATE VIEW")
    val (ns, _) = oneLevelView(info.ident)
    if (!namespaceExists(Array(ns))) throw new NoSuchNamespaceException(Array(ns))
    if (tableExists(info.ident)) throw new TableAlreadyExistsException(info.ident)
    val meta = IceliteViewMeta.fromInfo(info)
    views.create(info.ident, meta)
    new IceliteView(info.ident, meta)
  }

  override def replaceView(info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean): org.apache.spark.sql.connector.catalog.View = {
    requireUngoverned("CREATE OR REPLACE VIEW")
    val (ns, name) = oneLevelView(info.ident)
    if (!namespaceExists(Array(ns))) throw new NoSuchNamespaceException(Array(ns))
    if (tableExists(info.ident)) throw new TableAlreadyExistsException(info.ident)
    if (!orCreate && !views.exists(ns, name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(info.ident)
    val meta = IceliteViewMeta.fromInfo(info)
    views.replace(info.ident, meta)
    new IceliteView(info.ident, meta)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    requireUngoverned("ALTER VIEW")
    val (ns, name) = oneLevelView(ident)
    val meta = views.load(ns, name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    import org.apache.spark.sql.connector.catalog.ViewChange
    val updated = changes.foldLeft(meta) { (m, ch) => ch match {
      case s: ViewChange.SetProperty =>
        m.copy(properties = m.properties + (s.property -> s.value))
      case r: ViewChange.RemoveProperty =>
        m.copy(properties = m.properties - r.property)
      case other => throw new IllegalArgumentException(
        s"unsupported view change ${other.getClass.getSimpleName}")
    }}
    views.replace(ident, updated)
    new IceliteView(ident, updated)
  }

  override def dropView(ident: Identifier): Boolean = {
    requireUngoverned("DROP VIEW")
    ident.namespace() match {
      case Array(ns) => views.drop(ident)
      case _ => false
    }
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireUngoverned("ALTER VIEW RENAME")
    oneLevelView(oldIdent); oneLevelView(newIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    views.rename(oldIdent, newIdent)
  }

  // -------------------------------------------------------- procedures

  /** `CALL <name>.system.<proc>(table => 'ns.t', …)` — Iceberg-parity
    * maintenance procedures ([[IceliteProcedures]]). Governed catalogs
    * refuse: maintenance mutates table state, and the governed role is
    * read-only by contract.
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    requireUngoverned("CALL")
    if (ident.namespace().toSeq != Seq("system"))
      throw new IllegalArgumentException(
        s"unknown procedure ${ident.namespace().mkString(".")}.${ident.name} — " +
          s"procedures live under $catName.system")
    IceliteProcedures.load(spark, warehouse, ident.name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure ${ident.name} (have: ${IceliteProcedures.names.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      IceliteProcedures.names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // -------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    local.listNamespaces().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && local.listNamespaces().contains(namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1, "icelite namespaces are single-level")
    val p = new Path(s"$warehouse/${namespace(0)}")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("icelite namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path(s"$warehouse/${namespace(0)}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!cascade && (local.listTables(namespace(0)).nonEmpty ||
        views.list(namespace(0)).nonEmpty))
      throw new IllegalStateException(s"namespace ${namespace(0)} is not empty")
    fs.delete(p, true)
  }
}

/** One icelite table surfaced as a DSv2 [[Table]]. Reads go through
  * DSv2's V1 fallback: the [[Scan]] hands Spark a classic
  * [[BaseRelation]] whose `buildScan` IS the MoR DataFrame compiled to
  * its internal-row RDD (`needConversion = false`, the Delta/JDBC
  * shape) — zero row-format conversion, and the inner plan (delete
  * merge joins, epoch translation, parquet pushdown) optimizes as it
  * always did. Writes: `INSERT INTO` appends via [[V1Write]].
  */
final class IceliteSparkTable(table: IceliteTable) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** The wrapped icelite table — [[IceliteDmlRule]] routes SQL
    * UPDATE/MERGE onto its row-level APIs.
    */
  def underlying: IceliteTable = table

  override def name(): String = table.name

  /** The engine schema, with declared column DEFAULTs re-exposed as
    * the analyzer's CURRENT_DEFAULT/EXISTS_DEFAULT metadata — this is
    * what makes `INSERT INTO t (a) VALUES (…)` fill the declared
    * literal for the omitted columns (and `DEFAULT` in VALUES work)
    * instead of null-filling: Spark's default resolution reads the
    * table schema's metadata, not the catalog.
    */
  override def schema(): StructType = {
    val props = table.meta.properties
    StructType(table.schema.fields.map { f =>
      props.get(IceliteTable.DefaultPropPrefix + f.name) match {
        case Some(r) =>
          val sql = IceliteTable.defaultSqlText(r)
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", sql)
            .putString("EXISTS_DEFAULT", sql).build())
        case None => f
      }
    })
  }

  override def properties(): util.Map[String, String] = table.meta.properties.asJava

  /** The table's partition spec as DSv2 transforms — without this
    * Spark treats the table as unpartitioned: `PARTITION (col = v)`
    * clauses are rejected outright, and dynamic-mode `INSERT
    * OVERWRITE` silently degrades to a WHOLE-TABLE replace (it plans
    * OverwriteByExpression(true) instead of OverwritePartitionsDynamic).
    */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    table.meta.partitioning.map { p =>
      p.transform match {
        case "identity" => Expressions.identity(p.field)
        case "year" => Expressions.years(p.field)
        case "month" => Expressions.months(p.field)
        case "day" => Expressions.days(p.field)
        case "hour" => Expressions.hours(p.field)
        case b if b.startsWith("bucket[") =>
          Expressions.bucket(b.stripPrefix("bucket[").stripSuffix("]").toInt, p.field)
        case other => Expressions.apply(other, Expressions.column(p.field))
      }
    }.toArray
  }
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      // MERGE … WITH SCHEMA EVOLUTION: the analyzer diffs source vs
      // target and issues the AddColumn changes through alterTable
      // BEFORE IceliteDmlRule routes the (re-resolved) merge — new
      // source columns become real schema evolution commits; changes
      // alterTable cannot express (type widening) refuse loudly there
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** `DELETE FROM <catalog>.<ns>.<t> WHERE …` → a position-delete
    * commit through the existing [[IceliteTable.deleteWhere]] (one
    * coordinate file; consolidate to DVs on maintenance). Only
    * predicate shapes the filter translator handles are accepted —
    * Spark surfaces a clear error for the rest instead of a partial
    * delete.
    */
  /** `TRUNCATE TABLE` → the real truncate commit (one rewrite snapshot
    * dropping every live file), not the SupportsDelete default of a
    * position-delete covering every row — at scale that default writes
    * a coordinate file the size of the table and leaves MoR reads
    * carrying it until consolidation.
    */
  override def truncateTable(): Boolean = { table.truncate(); true }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => IceliteTable.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(IceliteTable.filterColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true)) // unqualified DELETE
    table.deleteWhere(cond)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceliteScanBuilder(filters => table.scan(filters), table.schema)

  /** `INSERT INTO` appends; `INSERT OVERWRITE` (the whole-table
    * replace Spark plans as OverwriteByExpression(true)) lands as ONE
    * atomic rewrite commit via [[IceliteTable.overwriteAll]],
    * partitioned or not. A STATIC partition overwrite (`INSERT
    * OVERWRITE … PARTITION (p = v)` — OverwriteByExpression with the
    * partition-equality filter) routes onto
    * [[IceliteTable.overwritePartitions]] with the filter's values as
    * the explicit touched set: the named partitions are replaced (or
    * cleared, when the batch is empty) and every other partition is
    * untouched. Filters beyond partition-column equality/IN refuse
    * loudly. DYNAMIC mode (no static values,
    * partitionOverwriteMode=dynamic) plans
    * [[org.apache.spark.sql.catalyst.plans.logical.OverwritePartitionsDynamic]],
    * which [[IceliteDmlRule]] routes onto the same engine path with the
    * touched set derived from the batch.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
    private var replaceAll = false
    private var partFilters: Array[Filter] = Array.empty
    override def truncate(): WriteBuilder = { replaceAll = true; this }
    override def overwrite(filters: Array[Filter]): WriteBuilder = {
      if (filters.isEmpty || filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
        replaceAll = true
      else partFilters = filters
      this
    }
    /** Write layout is the ENGINE's job, never delegated to Spark's
      * `RequiresDistributionAndOrdering`: that interface's prepared
      * exchange reaches only pure-v2 writes — the V1 fallback exec
      * (`AppendDataExecV1`) executes the write's ORIGINAL
      * `analyzedQuery` and discards the prepared query (verified
      * against the Spark 4.1 `DataSourceV2Strategy` bytecode, and
      * empirically: under r18's declare-and-skip design an 8-task
      * 8M-row INSERT landed 8 source-shaped partition-interleaved
      * files). So `writeDataFiles` clusters identity-partitioned
      * batches itself (one hash exchange on the partition columns —
      * a multi-task INSERT never writes tasks × partitions small
      * files, the blowup the reference's batching design exists to
      * avoid, `docs/design.md:360-400`), and a declared sort order
      * ([[IceliteTable.declareSortOrder]]) routes the insert through
      * [[IceliteTable.withSortedWrite]]: the batch range-partitions +
      * sorts on (partition cols, sort cols) — the compaction layout
      * at write time, files own DISJOINT sort-key ranges and
      * `planFiles` prunes steady-state SQL appends immediately
      * (the Iceberg `write.sort-order` behavior).
      */
    private def declaredSortCols: Seq[String] = table.sortOrder
    override def build(): Write = new V1Write {
      override def toInsertableRelation: InsertableRelation = new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          def run(): Unit =
            if (partFilters.nonEmpty) {
              // partition equality/IN takes the metadata-only route;
              // any other translatable predicate is a general
              // REPLACE WHERE (one atomic pos-delete + append commit)
              scala.util.Try(staticTouched(partFilters)).toOption match {
                case Some(touched) => table.overwritePartitions(data, Some(touched))
                case None =>
                  val conds = partFilters.flatMap(IceliteTable.filterColumn)
                  if (conds.length != partFilters.length)
                    throw new UnsupportedOperationException(
                      s"INSERT OVERWRITE by filter on ${table.name}: filter not " +
                        s"translatable (${partFilters.mkString(", ")})")
                  table.replaceWhere(data, conds.reduce(_ && _))
              }
            }
            else if (replaceAll || overwrite) table.overwriteAll(data)
            else table.append(data)
          if (declaredSortCols.nonEmpty) IceliteTable.withSortedWrite(run())
          else run()
        }
      }
    }
  }

  /** Translate an `INSERT OVERWRITE … PARTITION` filter array (ANDed)
    * into the set of partition values to replace. Only
    * equality/IN/null-safe-equality on the table's single identity
    * partition column routes; anything else refuses loudly (a partial
    * translation would overwrite the wrong rows).
    */
  private def staticTouched(filters: Array[Filter]): Set[String] = {
    val parts = table.meta.partitioning
    if (parts.size != 1 || parts.head.transform != "identity")
      throw new UnsupportedOperationException(
        s"INSERT OVERWRITE by filter on ${table.name} needs exactly one identity " +
          s"partition (got ${parts.map(p => s"${p.field}:${p.transform}").mkString(", ")})")
    val pcol = parts.head.field
    def scalar(v: Any): String = v match {
      case s: String => s
      case n: Number => String.valueOf(n)
      case b: Boolean => String.valueOf(b)
      case other => throw new UnsupportedOperationException(
        s"INSERT OVERWRITE by filter on ${table.name}: unsupported partition " +
          s"literal $other (${other.getClass.getSimpleName})")
    }
    def vals(f: Filter): Set[String] = f match {
      case org.apache.spark.sql.sources.EqualTo(c, v) if c.equalsIgnoreCase(pcol) =>
        Set(scalar(v))
      case org.apache.spark.sql.sources.EqualNullSafe(c, v)
          if v != null && c.equalsIgnoreCase(pcol) => Set(scalar(v))
      case org.apache.spark.sql.sources.In(c, vs) if c.equalsIgnoreCase(pcol) =>
        vs.map(scalar).toSet
      case other => throw new UnsupportedOperationException(
        s"INSERT OVERWRITE by filter on ${table.name}: only equality/IN on the " +
          s"partition column '$pcol' routes (got $other)")
    }
    val touched = filters.toSeq.map(vals).reduce(_ intersect _) // filters AND together
    if (touched.isEmpty)
      throw new IllegalArgumentException(
        s"INSERT OVERWRITE by filter on ${table.name}: the filter conjunction " +
          "names no partition value")
    touched
  }
}

object IceliteSparkTable {
  /** A read-only table over a fixed view (metadata tables, time travel). */
  def readOnly(t: IceliteTable, tableName: String, df: () => DataFrame,
      fixedSchema: StructType = null): Table = new Table with SupportsRead {
    override def name(): String = tableName
    override lazy val schema: StructType =
      if (fixedSchema != null) fixedSchema else df().schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new IceliteScanBuilder(
        _.flatMap(IceliteTable.filterColumn).foldLeft(df())(_ filter _), schema)
  }
}

/** Filter + column pushdown folded into the MoR DataFrame before it
  * compiles: `mkDf` receives the pushed filters — for a table,
  * [[IceliteTable.scan]], which plans files from them and bounds the
  * data rows beneath the delete merge, the programmatic read path.
  * Unsupported filter shapes are returned as residuals for Spark to
  * evaluate above the scan.
  */
final class IceliteScanBuilder(mkDf: Seq[Filter] => DataFrame, tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(f => IceliteTable.filterColumn(f).isDefined)
    pushed = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Prune at TOP level only: Spark's nested-schema pruning hands a
    * requiredSchema whose struct columns carry just the referenced
    * fields (`meta: struct<_2>`), but this scan emits the table's full
    * struct values — reporting the nested-pruned shape makes the
    * consumer read struct fields by ORDINAL against a wider row
    * (`meta._2` silently reads `meta.label`). Expanding back to the
    * table's own column types keeps readSchema ≡ emitted rows; the
    * whole-struct read underneath is what the MoR rebuild needs anyway.
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map(f =>
      tableSchema.find(_.name == f.name).getOrElse(f)))

  override def build(): Scan = {
    val outSchema = required
    val filters = pushed
    new V1Scan {
      override def readSchema(): StructType = outSchema
      override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T = {
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = outSchema
          override def needConversion: Boolean = false
          override def buildScan(): RDD[Row] =
            mkDf(filters.toSeq).select(outSchema.fieldNames.toIndexedSeq.map(col): _*)
              .queryExecution.toRdd.asInstanceOf[RDD[Row]]
        }.asInstanceOf[T]
      }
    }
  }
}
