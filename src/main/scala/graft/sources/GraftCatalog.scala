package graft.sources

import java.util

import graft.operators.{Lake, Versioned}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.DmlBridge
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The PERSISTENT CATALOG face of the versioned store — the DSv2
  * `TableCatalog` that makes a [[graft.operators.Versioned]] table a
  * first-class SQL object: it survives the session (tables are
  * directories under the catalog root, resolved by name on every query),
  * and — the part the v1 source cannot reach — it accepts the row-level
  * DML statements (reference parity note: the reference surfaces its
  * tables through the Hive catalog, `AvroFromXmlSerde.scala:13`, where
  * `INSERT` semantics come from Hive; here the full DML family lands on
  * the versioned claim/seal protocol):
  *
  * {{{
  *   spark.conf: spark.sql.catalog.graft = graft.sources.GraftCatalog
  *               spark.sql.catalog.graft.root = /data/tables
  *   CREATE TABLE graft.ns.t (k BIGINT, name STRING) TBLPROPERTIES (key 'k')
  *   INSERT INTO graft.ns.t ...            -- append (delta) commit
  *   INSERT OVERWRITE TABLE graft.ns.t ... -- next full snapshot
  *   SELECT ... FROM graft.ns.t            -- chain-resolved tip read
  *   DELETE FROM graft.ns.t WHERE ...      -- DV commit when translatable
  *   UPDATE graft.ns.t SET ... WHERE ...   -- copy-on-write rewrite
  *   MERGE INTO graft.ns.t USING s ON ...  -- copy-on-write rewrite
  * }}}
  *
  * Execution shapes, each the scale-correct one for its statement:
  *
  *  - READS plan the same chain-resolved DataFrame the programmatic API
  *    builds ([[Versioned.readAtDv]]), exposed through a [[V1Scan]] so
  *    column pruning and translatable filters reach the inner parquet
  *    scans — one code path for the v1 source, the DDL view, and the
  *    catalog table.
  *  - WRITES (INSERT/UPDATE/MERGE rewrites) run Spark's own v2 parquet
  *    writer on the executors into a hidden `.staging-*` dir, then adopt
  *    the finished directory as the next version with one atomic rename
  *    ([[Versioned.adoptStagedAppend]]/`adoptStagedSnapshot`) — commit
  *    cost ∝ rows written, and the data never moves twice.
  *  - DELETE with translatable predicates on a table declaring a `key`
  *    property becomes a deletion-vector commit
  *    ([[Versioned.deleteWhereDv]] — cost ∝ deleted keys, the
  *    metadata-only path Spark's `OptimizeMetadataOnlyDeleteFromTable`
  *    selects); otherwise it falls through to the row-level rewrite.
  *  - UPDATE/MERGE are GROUP-BASED copy-on-write over the whole table
  *    (the one group this store exposes): the rewritten snapshot was
  *    derived from the tip pinned at scan time, so adoption runs under
  *    the mutator claim and fails loudly if another writer committed in
  *    between ([[Versioned.adoptStagedReplace]] — optimistic concurrency,
  *    never a lost update).
  *
  * The `key` TBLPROPERTY declares the table's unique row key (the
  * Iceberg equality-delete identifier posture); DV deletes remove BY KEY
  * EQUALITY, so a non-unique key would delete every row sharing a
  * matched row's key — the property is the user's assertion of
  * uniqueness, and tables without it simply never take the DV shortcut.
  *
  * Time travel is SQL-native: `VERSION AS OF <v>` / `TIMESTAMP AS OF
  * <ts>` resolve through the `loadTable` overloads to a version-pinned
  * (read-only) table. Statistics: Spark's `V1ScanWrapper` does not
  * forward `SupportsReportStatistics`, so plain catalog reads are
  * rerouted by [[VersionedScanStats]] onto the stats-bearing v1
  * relation — catalog-table joins see real sizes and small dims
  * broadcast, same as the v1 source / DDL views.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog
    with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(sys.error(
      s"graft catalog '$name' requires spark.sql.catalog.$name.root"))
    // configuring the catalog enables real read statistics for its
    // tables (idempotent + synchronized; see [[VersionedScanStats]]).
    // SparkSession.active is the best session handle this callback has;
    // newScanBuilder RE-ASSERTS registration on the session that loaded
    // the table, so a catalog resolved on a thread where a different
    // session was momentarily active still gets the rule where it plans.
    VersionedScanStats.register(SparkSession.active)
  }

  override def name(): String = catalogName

  private def checkPart(part: String): String = {
    require(part.nonEmpty && !part.contains("/") && !part.contains("\\") &&
        part != ".." && !part.startsWith("."),
      s"graft catalog: illegal table/namespace name part '$part'")
    part
  }

  private def dirOf(ident: Identifier): String =
    ((root +: ident.namespace.toSeq) :+ ident.name)
      .map(p => if (p == root) p else checkPart(p)).mkString("/")

  private def spark: SparkSession = SparkSession.active

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = new java.io.File((root +: namespace.map(checkPart)).mkString("/"))
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && Versioned.latest(f.getPath) >= 0)
      .map(f => Identifier.of(namespace, f.getName)).sortBy(_.name())
  }

  /** The `<table>.changes` METADATA TABLE (the Iceberg metadata-table /
    * Delta `table_changes` posture): when the identifier itself is not a
    * table but its PARENT is, and the trailing name is `changes`, serve
    * the CDC feed between two versions as a SQL-readable table:
    *
    * {{{
    *   SELECT * FROM g.ns.t.changes                       -- v0 → tip
    *   SELECT * FROM g.ns.t.changes VERSION AS OF '0..2'  -- bounded
    * }}}
    *
    * Rows are [[Versioned.changes]]' added/removed/changed keys with
    * `o_`/`n_` copies of the compared columns — churn-sized, a real
    * distributed plan (never a driver-side procedure result). The key
    * comes from the table's `key` property; compared columns default to
    * every non-key column of the upper snapshot.
    */
  private def changesTableOf(ident: Identifier,
      bounds: Option[String]): Option[Table] =
    if (ident.name != "changes" || ident.namespace.isEmpty) None
    else {
      val parent =
        Identifier.of(ident.namespace.init, ident.namespace.last)
      val dir = dirOf(parent)
      if (Versioned.latest(dir) < 0) None
      else {
        def bad(b: String): Nothing =
          sys.error(s"graft catalog: bad changes bounds '$b' — use " +
            "VERSION AS OF '<from>..<to>' (or '<from>')")
        val (v0, v1) = bounds match {
          case None =>
            // lower bound = the oldest READABLE (materialized) retained
            // version, not a hard 0: after a vacuum, v0's commit mark is
            // gone — and a surviving delta/DV commit below the oldest
            // surviving base is committed yet unresolvable
            (Versioned.oldestReadable(dir), Versioned.latest(dir))
          case Some(b) => b.split("\\.\\.", 2) match {
            case Array(a, z) =>
              (a.trim.toIntOption.getOrElse(bad(b)),
                z.trim.toIntOption.getOrElse(bad(b)))
            case Array(a) =>
              (a.trim.toIntOption.getOrElse(bad(b)), Versioned.latest(dir))
          }
        }
        val key = GraftCatalog.readProps(dir).getOrElse("key", sys.error(
          s"graft catalog: $parent.changes requires the 'key' table " +
            "property (CDC diffs by unique key)"))
        Some(new GraftChangesTable(spark, dir, ident.toString, v0, v1, key))
      }
    }

  /** The `<table>.history` METADATA TABLE (E201 — the SQL-joinable face
    * of `CALL system.history`): `SELECT * FROM g.ns.t.history` serves
    * one row per committed version — (version, kind, n_rows), counts
    * from the parquet footers. A metadata TABLE (not a procedure result)
    * composes: join it to `t.changes`, filter by kind, feed dashboards.
    */
  private def historyTableOf(ident: Identifier): Option[Table] =
    if (ident.name != "history" || ident.namespace.isEmpty) None
    else {
      val parent =
        Identifier.of(ident.namespace.init, ident.namespace.last)
      val dir = dirOf(parent)
      if (Versioned.latest(dir) < 0) None
      else Some(new GraftHistoryTable(spark, dir, ident.toString))
    }

  /** The `<table>.tags` METADATA TABLE (E200's SQL-joinable face): one
    * (name, version) row per named ref — join against `.history` to see
    * what each pin retains.
    */
  private def tagsTableOf(ident: Identifier): Option[Table] =
    if (ident.name != "tags" || ident.namespace.isEmpty) None
    else {
      val parent =
        Identifier.of(ident.namespace.init, ident.namespace.last)
      val dir = dirOf(parent)
      if (Versioned.latest(dir) < 0) None
      else Some(new GraftTagsTable(spark, dir, ident.toString))
    }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (Versioned.latest(dir) < 0)
      changesTableOf(ident, None).orElse(historyTableOf(ident))
        .orElse(tagsTableOf(ident))
        .getOrElse(throw new NoSuchTableException(ident))
    else
      new GraftTable(spark, dir, s"$catalogName.$ident",
      catalogName +: ident.namespace.toSeq :+ ident.name,
      GraftCatalog.readProps(dir))
  }

  /** SQL time travel — `SELECT ... FROM t VERSION AS OF <v>`: the table
    * pinned at committed version `v`; writes rejected (a historical
    * snapshot is read-only).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (Versioned.latest(dir) < 0)
      return changesTableOf(ident, Some(version))
        .getOrElse(throw new NoSuchTableException(ident))
    // an integer is a plain version; anything else resolves through the
    // table's named tags (E200 — `VERSION AS OF 'stable'`)
    val v = version.toIntOption
      .orElse(Versioned.tagVersion(dir, version))
      .getOrElse(sys.error(
        s"graft catalog: VERSION AS OF '$version' on $ident matches " +
          "neither an integer version nor a tag (CALL " +
          "<catalog>.system.tag to create one)"))
    require(v >= 0 && Versioned.isCommitted(dir, v),
      s"graft catalog: $ident has no committed version v$v")
    new GraftTable(spark, dir, s"$catalogName.$ident",
      catalogName +: ident.namespace.toSeq :+ ident.name,
      GraftCatalog.readProps(dir), pinnedVersion = Some(v))
  }

  /** SQL time travel — `... TIMESTAMP AS OF <ts>` (Spark hands the
    * timestamp in MICROseconds): the newest version committed at or
    * before it, via the commit marks' recorded wall-clock.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (Versioned.latest(dir) < 0) throw new NoSuchTableException(ident)
    val v = Versioned.versionAtTime(dir, timestampMicros / 1000L)
    new GraftTable(spark, dir, s"$catalogName.$ident",
      catalogName +: ident.namespace.toSeq :+ ident.name,
      GraftCatalog.readProps(dir), pinnedVersion = Some(v))
  }

  // ---- namespaces (E189) ---------------------------------------------------
  //
  // Directory-backed, like the tables: a namespace IS a directory chain
  // under the catalog root that is not itself a table. `SHOW NAMESPACES`
  // is the first discovery query a SQL user runs after configuring the
  // catalog, so namespaces created implicitly by CREATE TABLE g.ns.t
  // list exactly like ones declared with CREATE NAMESPACE; an explicit
  // CREATE NAMESPACE additionally persists its properties in a
  // `_namespace` sidecar (k=v lines, the `_props` format). Everything is
  // driver-side directory metadata — no Spark jobs anywhere.

  private def nsDir(namespace: Array[String]): String =
    (root +: namespace.map(checkPart).toSeq).mkString("/")

  private def nsPropsPath(d: String) =
    java.nio.file.Paths.get(d, "_namespace")

  /** A namespace is any non-table directory under the root (the marker
    * is only for properties — an implicitly created namespace has none).
    */
  private def isNamespace(namespace: Array[String]): Boolean = {
    val d = new java.io.File(nsDir(namespace))
    namespace.isEmpty ||
      (d.isDirectory && Versioned.latest(d.getPath) < 0)
  }

  private def listChildren(namespace: Array[String]): Array[java.io.File] = {
    if (!isNamespace(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    Option(new java.io.File(nsDir(namespace)).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] =
    listChildren(namespace)
      .filter(f => Versioned.latest(f.getPath) < 0)
      .map(f => namespace :+ f.getName).sortBy(_.mkString("."))

  override def namespaceExists(namespace: Array[String]): Boolean =
    isNamespace(namespace)

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!isNamespace(namespace) || namespace.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    import scala.jdk.CollectionConverters._
    GraftCatalog.readKv(nsPropsPath(nsDir(namespace))).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.nonEmpty, "graft catalog: empty namespace")
    val d = nsDir(namespace)
    if (isNamespace(namespace) || Versioned.latest(d) >= 0)
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    import scala.jdk.CollectionConverters._
    writeNsProps(d, metadata.asScala.toMap)
  }

  /** `owner` (auto-added by Spark) is dropped; `location` is REJECTED
    * loudly — silently storing it would let `CREATE NAMESPACE ...
    * LOCATION '/mnt/x'` report success while tables keep landing under
    * the catalog root (namespaces here ARE their directory).
    */
  private def writeNsProps(d: String, props: Map[String, String]): Unit = {
    require(!props.contains("location"),
      "graft catalog: LOCATION is not supported on namespaces — a " +
        "namespace IS its directory under the catalog root")
    GraftCatalog.writeKv(nsPropsPath(d), props - "owner")
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    import scala.jdk.CollectionConverters._
    val cur = loadNamespaceMetadata(namespace).asScala.toMap
    val next = changes.foldLeft(cur) {
      case (m, sp: NamespaceChange.SetProperty) =>
        m + (sp.property -> sp.value)
      case (m, rp: NamespaceChange.RemoveProperty) => m - rp.property
      case (_, other) => sys.error(
        s"graft catalog: unsupported ALTER NAMESPACE change $other")
    }
    writeNsProps(nsDir(namespace), next)
  }

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!isNamespace(namespace) || namespace.isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    if (!cascade && listChildren(namespace).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace)
    Versioned.rmTree(new java.io.File(nsDir(namespace)))
    true
  }

  // ---- CALL surface (see [[GraftProcedures]]) -----------------------------

  private def dirOfDotted(table: String, mustExist: Boolean): String = {
    val parts = table.split('.')
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"graft catalog: bad table identifier '$table'")
    val d = dirOf(Identifier.of(parts.init, parts.last))
    if (mustExist && Versioned.latest(d) < 0)
      throw new NoSuchTableException(parts.toSeq)
    d
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident, spark, dirOfDotted).getOrElse(
      sys.error(s"graft catalog: unknown procedure $ident — available: " +
        GraftProcedures.names.map(_.name).mkString("system.{", ", ", "}")))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || (namespace sameElements Array("system")))
      GraftProcedures.names
    else Array.empty

  /** `PARTITIONED BY (<transform>)` → the hidden-partitioning tier
    * (E193/E194): the derived key exists only as hive dir names, readers
    * never learn it, and pushed raw-column predicates prune partitions
    * driver-side (see [[HiddenPrune]]). Supported transforms map onto
    * [[Versioned.hiddenExpr]]'s vocabulary: the Iceberg time family
    * `years(col)` / `months(col)` / `days(col)`, plain identity
    * `PARTITIONED BY (col)` (core Hive DDL on the reference's delegated
    * surface, `AvroFromXmlSerde.scala:13`), `bucket(n, col)`, and
    * `truncate(w, col)`; `hours()` is rejected loudly (no rendering in
    * the transform vocabulary — partition-per-hour is `days` plus
    * in-partition sort in practice). At most ONE transform: the hidden
    * tier partitions by one derived key, and a second dimension's
    * pruning comes from the multi-column zone-map tier instead —
    * `CALL <cat>.system.zorder(t, col_a, col_b)` lays the table out for
    * conjunctive 2-D skipping without a composite directory key.
    */
  private def parseHiddenTransform(t: Transform,
      schema: StructType): (String, String) = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    val refs = t.arguments.collect { case r: NamedReference => r }
    val lits = t.arguments.collect {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value
    }
    require(refs.length == 1 && refs.head.fieldNames.length == 1,
      s"graft catalog: partition transform $t must reference exactly " +
        "one top-level column")
    val colName = refs.head.fieldNames.head
    require(schema.fieldNames.contains(colName),
      s"graft catalog: partition column '$colName' is not in the schema")
    def noLit(n: String): Unit =
      require(lits.isEmpty, s"graft catalog: $n() takes no literal")
    val spelled = t.name.toLowerCase match {
      case "months" | "month" => noLit("months"); "month"
      case "days" | "day" | "date" => noLit("days"); "day"
      case "years" | "year" => noLit("years"); "year"
      case "identity" => noLit("identity"); "identity"
      case "bucket" =>
        require(lits.length == 1, "graft catalog: bucket(n, col)")
        s"bucket:${lits.head}"
      case "truncate" =>
        require(lits.length == 1, "graft catalog: truncate(w, col)")
        s"trunc:${lits.head}"
      case other => sys.error(s"graft catalog: unsupported partition " +
        s"transform '$other' — supported: identity, years(col), " +
        "months(col), days(col), bucket(n, col), truncate(w, col)")
    }
    (spelled, colName)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val hidden = partitions.toSeq match {
      case Seq() => None
      case Seq(t) => Some(parseHiddenTransform(t, schema))
      case _ => sys.error("graft catalog: at most ONE partition " +
        "transform is supported (the hidden tier partitions by one " +
        "derived key) — for 2-D layout use CALL <catalog>.system" +
        ".zorder(table, col_a, col_b, buckets), which interleaves both " +
        "columns into the partition key and records per-partition zone " +
        "maps for conjunctive pruning")
    }
    val dir = dirOf(ident)
    if (Versioned.latest(dir) >= 0)
      throw new TableAlreadyExistsException(ident)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // v0 = an empty snapshot CARRYING the schema (parquet footers keep
    // the full schema even with zero rows), so the table is immediately
    // readable and insert-schema-checked
    Versioned.commit(
      spark.createDataFrame(new util.ArrayList[Row](), schema), dir)
    import scala.jdk.CollectionConverters._
    GraftCatalog.writeProps(dir, properties.asScala.toMap ++
      hidden.toSeq.flatMap { case (t, c) =>
        Seq("gpart.transform" -> t, "gpart.column" -> c) })
    new GraftTable(spark, dir, s"$catalogName.$ident",
      catalogName +: ident.namespace.toSeq :+ ident.name,
      GraftCatalog.readProps(dir))
  }

  /** ALTER TABLE, mapped onto the versioned evolution machinery each
    * change already has:
    *
    *  - ADD COLUMNS → an EMPTY widened append commit: the new column
    *    exists from this version on (older rows null-pad through the
    *    union-schema read; time travel below it keeps the old schema —
    *    E149's additive-evolution contract, zero data rewritten);
    *  - RENAME COLUMN → [[Versioned.renameColumn]] (a metadata-only
    *    rename version, E164);
    *  - DROP COLUMN → [[Versioned.dropColumn]] (a metadata-only drop
    *    version, E196 — the fold projects the column away at and above
    *    it, time travel below keeps it); the declared row `key` and the
    *    hidden-partition source column refuse (DV deletes would lose
    *    their identity / pruning would lose its raw column);
    *  - SET/UNSET TBLPROPERTIES → the `_props` sidecar.
    *
    * Type changes are rejected: unlike rename/drop, a type change
    * rewrites every value — there is no metadata spelling of one.
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (Versioned.latest(dir) < 0) throw new NoSuchTableException(ident)
    val (addChanges, rest) =
      changes.partition(_.isInstanceOf[TableChange.AddColumn])
    rest.foreach {
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "graft catalog: nested RENAME COLUMN is not supported")
        // ONE outer claim spans the rename commit AND the key-property
        // fix-up (withMutateClaim is re-entrant, so renameColumn's own
        // claim nests): split into two acquisitions, a concurrent DELETE
        // in the window between them reads the stale key name and fails
        // unresolved — fail-loud, but ALTER TABLE RENAME should be
        // atomic end to end.
        Versioned.withMutateClaim(dir) {
          Versioned.renameColumn(spark, dir, rn.fieldNames.head, rn.newName)
          // keep COLUMN-NAMING properties pointing at the renamed
          // column: a stale 'key' would make every later DV DELETE fail
          // unresolved while canDeleteWhere still claims the path works;
          // a stale 'gpart.column' would make every later INSERT
          // OVERWRITE / CALL compact_dv on a hidden-partitioned table
          // fail unresolved in commitPartitionedHidden
          val props = GraftCatalog.readProps(dir)
          val patched = Seq("key", "gpart.column").foldLeft(props) {
            (m, p) =>
              if (m.get(p).contains(rn.fieldNames.head))
                m + (p -> rn.newName)
              else m
          }
          if (patched != props) GraftCatalog.writeProps(dir, patched)
        }
      case sp: TableChange.SetProperty =>
        // the props file is a read-modify-write: claim-serialized so a
        // concurrent property change can't clobber it (the E180 class)
        Versioned.withMutateClaim(dir) {
          GraftCatalog.writeProps(dir,
            GraftCatalog.readProps(dir) + (sp.property -> sp.value))
        }
      case rp: TableChange.RemoveProperty =>
        Versioned.withMutateClaim(dir) {
          GraftCatalog.writeProps(dir,
            GraftCatalog.readProps(dir) - rp.property)
        }
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft catalog: nested DROP COLUMN is not supported")
        val name = del.fieldNames.head
        // one claim spans the guards and the drop commit: the guards read
        // live props/schema, and a racing key/gpart property change or
        // rename in the window would invalidate them
        Versioned.withMutateClaim(dir) {
          val props = GraftCatalog.readProps(dir)
          require(!props.get("key").contains(name),
            s"graft catalog: cannot drop '$name' — it is the declared " +
              "row key; UNSET the 'key' property first (DV deletes " +
              "identify rows by it)")
          require(!props.get("gpart.column").contains(name),
            s"graft catalog: cannot drop '$name' — it is the hidden-" +
              "partition source column (raw-column pruning reads it)")
          val exists = Versioned
            .readAtDv(spark, dir, Versioned.latest(dir))
            .columns.contains(name)
          if (exists) { Versioned.dropColumn(spark, dir, name); () }
          else if (!del.ifExists()) sys.error(
            s"graft catalog: DROP COLUMN $name — no such column")
        }
      case other =>
        sys.error(s"graft catalog: unsupported ALTER TABLE change $other " +
          "— type changes rewrite every value and have no metadata-only " +
          "spelling")
    }
    // ALL added columns land as ONE empty widened append (one commit in
    // DESCRIBE HISTORY, one chain resolution), claim-held: the widened
    // schema derives from the tip, and a racing rename in the window
    // would resurrect the retired column name as an all-null zombie
    if (addChanges.nonEmpty) Versioned.withMutateClaim(dir) {
      val newFields = addChanges.map { case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft catalog: nested ADD COLUMN is not supported")
        require(add.isNullable,
          "graft catalog: ADD COLUMNS must be nullable — existing rows " +
            "null-pad, so a NOT NULL add would be silently violated")
        require(add.position() == null,
          "graft catalog: positioned ADD COLUMNS is not supported — new " +
            "columns append last (the union-schema read's order)")
        StructField(add.fieldNames.head, add.dataType, nullable = true)
      }
      val cur = Versioned.readAtDv(spark, dir, Versioned.latest(dir))
        .schema
      Versioned.appendRows(
        spark.createDataFrame(new util.ArrayList[Row](),
          StructType(cur.fields ++ newFields)), dir)
      ()
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = new java.io.File(dirOf(ident))
    if (Versioned.latest(d.getPath) < 0) false
    else { Versioned.rmTree(d); true }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent)
    if (Versioned.latest(from) < 0) throw new NoSuchTableException(oldIdent)
    val to = dirOf(newIdent)
    if (Versioned.latest(to) >= 0)
      throw new TableAlreadyExistsException(newIdent)
    graft.MetaFiles.moveAtomic(java.nio.file.Paths.get(from),
      java.nio.file.Paths.get(to))
  }
}

private[graft] object GraftCatalog {
  /** One k=v sidecar file (sorted lines, deleted when empty) — shared by
    * the table `_props` and namespace `_namespace` property stores.
    * Replaced atomically: an in-place rewrite truncates first, so a crash
    * or a concurrent [[readKv]] mid-write would see an empty file.
    */
  private[sources] def writeKv(p: java.nio.file.Path,
      kv: Map[String, String]): Unit =
    if (kv.isEmpty) { java.nio.file.Files.deleteIfExists(p); () }
    else graft.MetaFiles.writeAtomic(p,
      kv.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("", "\n", "\n"))

  private[sources] def readKv(
      p: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala.toSeq
        .filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
    }

  /** Table properties ride in a `_props` sidecar (k=v lines) so they
    * survive the session with the table.
    */
  def writeProps(dir: String, props: Map[String, String]): Unit =
    writeKv(java.nio.file.Paths.get(dir, "_props"), props.view
      .filterKeys(k => !k.startsWith("option.") && k != "owner").toMap)

  def readProps(dir: String): Map[String, String] =
    readKv(java.nio.file.Paths.get(dir, "_props"))
}

/** One catalog-resolved versioned table, pinned to the tip version that
  * was current at load — every statement (SELECT, MERGE scan, DELETE
  * resolution) sees that one consistent snapshot, and the row-level
  * write verifies the tip is STILL that version at adoption.
  */
private[sources] class GraftTable(spark: SparkSession, dir: String,
    tableName: String, identParts: Seq[String], props: Map[String, String],
    pinnedVersion: Option[Int] = None) extends Table
    with SupportsRead with SupportsWrite with SupportsRowLevelOperations
    with SupportsDeleteV2 with SupportsMetadataColumns
    with org.apache.spark.sql.graftbridge.V1FallbackBridge {

  /** STREAMING by table identifier (E195) — `spark.readStream
    * .table("g.ns.t")` / `df.writeStream.toTable("g.ns.t")`: this table
    * declares no MICRO_BATCH_READ/STREAMING_WRITE capability, so Spark's
    * relation resolution falls back to this v1 descriptor and plans the
    * SAME `graft.versioned` streaming source/sink the path-based format
    * surface uses — one offset log, one commit protocol, and full reader-
    * option parity (`FindDataSourceTable.getStreamingRelation` merges the
    * `readStream.option(...)` map with these storage properties, so
    * `startingVersion`/`ignoreDeletes`/`maxVersionsPerTrigger` all flow).
    * The Delta posture: batch stays v2, streams ride the v1 fallback.
    * Historical snapshots refuse — a stream tails the live commit log,
    * and silently serving the unpinned table under a `VERSION AS OF`
    * identifier would be a wrong-version read.
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    pinnedVersion.foreach(v => sys.error(
      s"graft catalog: streaming $tableName VERSION AS OF $v is not " +
        "supported — a stream tails the live commit log; use " +
        "startingVersion to begin at a committed version"))
    import org.apache.spark.sql.catalyst.catalog._
    // identParts = (catalog, namespace..., table) — the REAL resolved
    // parts, never re-derived by splitting the display name (a dotted
    // name part or multi-part namespace would split wrong and stream to
    // a different table). The identifier is catalog-qualified so the
    // per-batch streaming plan resolves back through THIS catalog, not
    // the session one. TableIdentifier is structurally 3-level
    // (catalog.db.table), so deeper namespaces cannot ride the v1
    // fallback — fail loudly instead of flattening them.
    require(identParts.length == 3,
      s"graft catalog: streaming by identifier supports single-part " +
        s"namespaces only (got ${identParts.mkString(".")}) — use the " +
        "path-based graft.versioned stream surface for nested namespaces")
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        identParts(2), Some(identParts(1)), Some(identParts(0))),
      tableType = CatalogTableType.EXTERNAL,
      // the location IS the path option both fallback consumers derive
      // (readStream via generateDatasourceOptions, writeStream.toTable
      // via new Path(table.location)); it arrives URI-spelled
      // ("file:/..."), which VersionedSource normalizes
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(CatalogUtils.stringToURI(dir))),
      schema = schema,
      provider = Some("graft.versioned"))
  }

  private val tip = pinnedVersion.getOrElse(Versioned.latest(dir))

  /** Historical snapshots (`VERSION/TIMESTAMP AS OF`) are read-only. */
  private def rejectTimeTravelWrite(stmt: String): Unit =
    pinnedVersion.foreach(v => sys.error(
      s"graft catalog: $stmt on $tableName is not allowed on a " +
        s"time-traveled snapshot (VERSION AS OF $v) — target the table " +
        "without a time-travel clause"))

  /** `_version`: the committed version a row was read from (the pinned
    * tip — constant per scan, the Delta `_commit_version` posture).
    * Doubling as the row-level operations' required metadata attribute
    * keeps ReplaceData on the metadata-projecting write task, so the
    * writer receives exactly table-schema rows (Spark only applies its
    * row projection when a metadata projection is present; the default
    * `DataWriter.write(meta, row)` then drops the metadata row).
    */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(new MetadataColumn {
      override def name(): String = "_version"
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.IntegerType
      override def isNullable: Boolean = false
      override def comment(): String =
        "committed table version this row was read from"
    })

  override def name(): String = tableName
  // `gpart` is the hidden tier's reserved DERIVED key — hive partition
  // discovery surfaces it on manifest reads, but it is never part of the
  // table's logical schema (readers state predicates on the RAW column)
  override lazy val schema: StructType = StructType(
    Versioned.readAtDv(spark, dir, tip).schema
      .filterNot(_.name == "gpart"))

  /** The declared hidden-partition spec (E193), if any. */
  private lazy val hiddenProps: Option[(String, String)] =
    for { t <- props.get("gpart.transform"); c <- props.get("gpart.column") }
      yield (t, c)

  override def properties(): util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    props.asJava
  }

  override def capabilities(): util.Set[TableCapability] = {
    import scala.jdk.CollectionConverters._
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava
  }

  // ---- read --------------------------------------------------------------
  //
  // NOTE: CDC does NOT ride reader options here — a v2 table's output
  // schema is fixed by `Table.schema` at analysis, before the scan
  // builder ever sees options, so an option-driven schema change
  // (`change_type`, `o_`/`n_` columns) is structurally impossible on
  // this surface. The catalog CDC face is the `<table>.changes` metadata
  // table (see [[GraftCatalog.loadTable]]); the path-based option face
  // remains `spark.read.format("graft.versioned").option("changesFrom",…)`.

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // re-assert the stats rule on the session this table was loaded by —
    // catalog initialize() only saw whatever session was active then
    VersionedScanStats.register(spark)
    new GraftScanBuilder(spark, dir, tip, schema)
  }

  // ---- plain writes (INSERT INTO / INSERT OVERWRITE) ----------------------

  /** SQL-declared ingest gates (E192, the DLT-expectations posture):
    * `TBLPROPERTIES ('expectation.<name>' = '<SQL predicate>')` gate
    * every APPEND through this table — valid rows land as the delta
    * commit, rejects in the version's `_quarantine` sidecar tagged with
    * the violated gate names (read them back with
    * [[Versioned.quarantine]]). Only the ingest path is gated: INSERT
    * OVERWRITE/TRUNCATE replace state wholesale, and row-level COW
    * rewrites carry existing rows that must not be re-judged — the same
    * scoping as the streaming sink's `expectation.*` options.
    */
  private def expectationGates: Seq[(String, org.apache.spark.sql.Column)] =
    props.toSeq.collect {
      case (k, v) if k.toLowerCase.startsWith("expectation.") =>
        k.substring("expectation.".length) ->
          org.apache.spark.sql.functions.expr(v)
    }.sortBy(_._1)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    rejectTimeTravelWrite("INSERT")
    new GraftWriteBuilder(spark, dir, info, replaceTip = None,
      expectations = expectationGates, hidden = hiddenProps)
  }

  // ---- DELETE: metadata-only DV path when a unique key is declared --------

  /** LOSSLESS v2-expression → Column translation. Deliberately NOT
    * `PredicateUtils.toV1`, which is a PUSHDOWN translation and silently
    * drops untranslatable branches (an OR with one opaque side comes
    * back as just the other side) — lossy is fine above a re-filtering
    * scan and catastrophic for a DELETE, which would remove the wrong
    * rows. Here every node must translate or the whole predicate is
    * None and the statement falls back to the row-level COW rewrite.
    */
  private def v2ToColumn(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.Column] = e match {
    case p: V2Predicate => predicateToColumn(p)
    case f: org.apache.spark.sql.connector.expressions.NamedReference =>
      Some(col(f.fieldNames.mkString(".")))
    case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
      Some(lit(DmlBridge.literalToScala(l)))
    case _ => None // GeneralScalarExpression etc. — not lossless
  }

  private def predicateToColumn(
      p: V2Predicate): Option[org.apache.spark.sql.Column] = {
    val kids = p.children()
    def k(i: Int) = v2ToColumn(kids(i))
    def bin(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column) =
      for { a <- k(0); b <- k(1) } yield f(a, b)
    p.name() match {
      case "ALWAYS_TRUE" => Some(lit(true))
      case "ALWAYS_FALSE" => Some(lit(false))
      case "=" => bin(_ === _)
      case "<=>" => bin(_ <=> _)
      case "<>" => bin(_ =!= _)
      case "<" => bin(_ < _)
      case "<=" => bin(_ <= _)
      case ">" => bin(_ > _)
      case ">=" => bin(_ >= _)
      case "AND" => bin(_ && _)
      case "OR" => bin(_ || _)
      case "NOT" => k(0).map(!_)
      case "IS_NULL" => k(0).map(_.isNull)
      case "IS_NOT_NULL" => k(0).map(_.isNotNull)
      case "STARTS_WITH" => bin(_ startsWith _)
      case "ENDS_WITH" => bin(_ endsWith _)
      case "CONTAINS" => bin(_ contains _)
      case "IN" =>
        val vs = kids.toIndexedSeq.drop(1).map(v2ToColumn)
        if (vs.exists(_.isEmpty)) None
        else k(0).map(_.isin(vs.flatten: _*))
      case _ => None
    }
  }

  private def predicatesToColumn(ps: Array[V2Predicate]): Option[
      org.apache.spark.sql.Column] = {
    val cols = ps.map(predicateToColumn)
    if (cols.exists(_.isEmpty)) None
    else Some(cols.flatten.foldLeft(lit(true))(_ && _))
  }

  /** The declared unique row key, resolved through the rename chain when
    * stale: ALTER TABLE RENAME commits the rename version and fixes up
    * the `key` property under ONE claim, but loads read props and schema
    * claim-free, so a load interleaving the rename's seal and its
    * property fix-up could still see the retired name — and then every
    * DV DELETE would fail unresolved while [[canDeleteWhere]] claims the
    * path works. When the recorded name is absent from the pinned
    * schema, walking it forward through the committed rename versions
    * (metadata-scale driver reads) recovers the live name for ANY
    * interleaving; a name present in the schema is taken as-is (never
    * walked, so a later rename REUSING a retired name can't mis-route
    * it).
    */
  private lazy val keyProp: Option[String] = props.get("key").flatMap { k0 =>
    if (schema.fieldNames.contains(k0)) Some(k0)
    else {
      // stale-name recovery, rename-chain-VERIFIED: accept the walk only
      // when some committed rename actually consumed k0 (its `from`) and
      // the chain lands on a live column of the pinned schema. Anything
      // else — a typo'd property, a chain ending at a dead name — yields
      // None: canDeleteWhere then refuses and the DELETE falls back to
      // the COW rewrite, which resolves the user's predicate against the
      // real schema. Never guess a key for the DV path: deletion BY KEY
      // EQUALITY against a mis-resolved column would remove the wrong
      // rows. (Residual ambiguity: a typo that exactly equals a retired
      // column's pre-rename name is indistinguishable from a stale
      // property — renameColumn validated that name was live once — and
      // resolves the stale-property way, which is the benign reading.)
      val (walked, moved) = (0 to tip).foldLeft((k0, false)) {
        case ((k, m), w) if Versioned.isRenameVersion(dir, w) =>
          val (from, to) = Versioned.renameOf(dir, w)
          if (k == from) (to, true) else (k, m)
        case (acc, _) => acc
      }
      if (moved && schema.fieldNames.contains(walked)) Some(walked)
      else None
    }
  }

  override def canDeleteWhere(predicates: Array[V2Predicate]): Boolean =
    keyProp.isDefined && predicatesToColumn(predicates).isDefined

  override def deleteWhere(predicates: Array[V2Predicate]): Unit = {
    rejectTimeTravelWrite("DELETE")
    val cond = predicatesToColumn(predicates).getOrElse(sys.error(
      s"graft catalog: untranslatable DELETE predicates on $tableName"))
    Versioned.deleteWhereDv(spark, dir, cond, keyProp.getOrElse(
      sys.error(s"graft catalog: DELETE-by-DV on $tableName requires the " +
        "'key' table property")))
    ()
  }

  /** TRUNCATE TABLE: commit an EMPTY (schema-bearing) snapshot as the
    * next version — history stays time-travelable, exactly the
    * INSERT OVERWRITE posture with zero rows. Overridden because the
    * SupportsDeleteV2 default delegates to `deleteWhere(ALWAYS_TRUE)`,
    * which requires the `key` property a keyless table lacks (and a DV
    * of every key would be table-sized — a snapshot is the right shape).
    */
  override def truncateTable(): Boolean = {
    rejectTimeTravelWrite("TRUNCATE")
    // claim-serialized: a claim-free truncate racing a claim-holding COW
    // rewrite could be buried by the rewrite's adoption (its tip-unmoved
    // check passes before the truncate SEALS, yet the truncate "wins" a
    // number below it) — an outcome no serial order produces. Under the
    // claim, the rewrite's check and this commit serialize (E184).
    Versioned.withMutateClaim(dir) {
      Versioned.commit(
        spark.createDataFrame(new util.ArrayList[Row](), schema), dir)
    }
    true
  }

  // ---- UPDATE / MERGE / untranslatable DELETE: group-based COW rewrite ----

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    rejectTimeTravelWrite(info.command.toString)
    () => new GraftRowLevelOperation(spark, dir, tip, schema, info.command)
  }
}

/** The `<table>.changes` metadata table (see
  * [[GraftCatalog.loadTable]]): a read-only SQL face over
  * [[Versioned.changes]] between two committed versions. Churn-sized —
  * the plan diffs two chain-resolved snapshots with one full-outer join,
  * so it distributes like any other query (no driver-side result, unlike
  * the CALL procedures' metadata rows).
  */
private[sources] object GraftChangesTable {
  /** The CDC delegate plan. Compared columns default to the
    * INTERSECTION of both endpoints' non-key columns (schema-evolved
    * histories diff their common columns; pass `compareCols` to pin a
    * set).
    */
  def delegate(dir: String, v0: Int, v1: Int, key: String,
      compareCols: Option[Seq[String]])(s: SparkSession): DataFrame = {
    require(v0 <= v1, s"graft catalog: changes bounds v$v0..v$v1 are " +
      "reversed")
    Seq(v0, v1).foreach(v => require(Versioned.isCommitted(dir, v),
      s"graft catalog: changes endpoint v$v of $dir is not a committed " +
        "version"))
    val compare = compareCols.getOrElse {
      val lower = Versioned.readAtDv(s, dir, v0).columns.toSet
      Versioned.readAtDv(s, dir, v1).columns.toSeq
        .filter(c => c != key && lower.contains(c))
    }
    Versioned.changes(s, dir, v0, v1, key, compare)
  }
}

private[sources] class GraftChangesTable(spark: SparkSession, dir: String,
    tableName: String, v0: Int, v1: Int, key: String) extends Table
    with SupportsRead {

  // ONE delegate build in the common path: the plan is cached for the
  // loading session (driver-side readAtDv footer walks per build add up
  // on long chains — schema, scan schema, and execution would otherwise
  // each rebuild it) and only reconstructed for a different session.
  private lazy val df0 = GraftChangesTable.delegate(dir, v0, v1, key,
    None)(spark)
  private val mk: SparkSession => DataFrame = s =>
    if (s eq spark) df0
    else GraftChangesTable.delegate(dir, v0, v1, key, None)(s)

  override def name(): String = tableName
  override lazy val schema: StructType = df0.schema

  override def capabilities(): util.Set[TableCapability] = {
    import scala.jdk.CollectionConverters._
    Set(TableCapability.BATCH_READ).asJava
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    () => new GraftDelegateScan(spark,
      s"GraftChanges[$dir v$v0..v$v1]", mk)
}

/** The `<table>.history` metadata table (see
  * [[GraftCatalog.historyTableOf]]): [[Versioned.history]]'s
  * (version, kind, n_rows) rows — metadata-scale (footer counts), served
  * through the same delegate scan as the CDC feed.
  */
private[sources] class GraftHistoryTable(spark: SparkSession, dir: String,
    tableName: String) extends Table with SupportsRead {

  private lazy val df0 = Versioned.history(spark, dir)
  private val mk: SparkSession => DataFrame = s =>
    if (s eq spark) df0 else Versioned.history(s, dir)

  override def name(): String = tableName
  override lazy val schema: StructType = df0.schema

  override def capabilities(): util.Set[TableCapability] = {
    import scala.jdk.CollectionConverters._
    Set(TableCapability.BATCH_READ).asJava
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    () => new GraftDelegateScan(spark, s"GraftHistory[$dir]", mk)
}

/** The `<table>.tags` metadata table (see
  * [[GraftCatalog.tagsTableOf]]): the named refs as (name, version)
  * rows — read fresh per scan (tags move; snapshotting them at
  * load-table time would serve stale pins).
  */
private[sources] class GraftTagsTable(spark: SparkSession, dir: String,
    tableName: String) extends Table with SupportsRead {

  private def mkDf(s: SparkSession): DataFrame =
    s.createDataFrame(Versioned.tags(dir).toSeq.sorted)
      .toDF("name", "version")

  override def name(): String = tableName
  // derived from the same builder the scan uses, so analysis-time and
  // scan-time schemas can never disagree (tag CONTENT is re-read per
  // scan; the shape is constant)
  override lazy val schema: StructType = mkDf(spark).schema

  override def capabilities(): util.Set[TableCapability] = {
    import scala.jdk.CollectionConverters._
    Set(TableCapability.BATCH_READ).asJava
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    () => new GraftDelegateScan(spark, s"GraftTags[$dir]", mkDf)
}

/** A v1-fallback scan serving an arbitrary reconstructible DataFrame
  * plan (the CDC feed): no pushdown interfaces — Spark projects/filters
  * above the scan, which is the right trade for churn-sized output.
  */
private[sources] class GraftDelegateScan(spark: SparkSession,
    desc: String, mk: SparkSession => DataFrame) extends V1Scan {

  private lazy val schema0: StructType = mk(spark).schema
  override def readSchema(): StructType = schema0

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = schema0
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] =
        mk(context.sparkSession).queryExecution.toRdd
          .asInstanceOf[RDD[Row]]
    }.asInstanceOf[T]

  override def description(): String = desc
}

/** Group-based copy-on-write over the table's ONE group: the operation
  * scans the pinned tip snapshot in full, Spark computes the replacement
  * rows (ReplaceData), and the write adopts them as the next
  * materialized snapshot under the mutator claim with a tip-unmoved
  * check. Cost = a table rewrite — exactly the Delta/Iceberg COW posture
  * without file-level groups; translatable DELETEs never get here (the
  * metadata-only DV path serves them).
  */
private[sources] class GraftRowLevelOperation(spark: SparkSession,
    dir: String, tip: Int, schema: StructType,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** Temp dirs the operation's scan materialized (see
    * [[GraftV1Scan.toBatch]]) — deleted by the write's commit/abort, the
    * operation's terminal points.
    */
  private[sources] val tempScanDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def command(): RowLevelOperation.Command = cmd

  /** `_version` (see [[GraftTable.metadataColumns]]): requiring it keeps
    * the ReplaceData write on Spark's metadata-projecting task, which is
    * what projects the data row down to the table schema before it
    * reaches the parquet writer.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("_version"))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, dir, tip, schema, Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(spark, dir, info, replaceTip = Some(tip),
      owner = Some(this))
}

/** Pushdown-aware scan: translatable filters and the pruned column set
  * are baked into the chain-resolved delegate DataFrame BEFORE execution
  * (so they reach the inner parquet scans), and the plan is handed to
  * Spark through the [[V1Scan]] fallback — one physical read path shared
  * with the v1 source.
  */
private[sources] class GraftScanBuilder(spark: SparkSession, dir: String,
    tip: Int, full: StructType,
    owner: Option[GraftRowLevelOperation] = None) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // ROW-LEVEL scans (owner defined) must return the WHOLE group — the
    // copy-on-write rewrite carries unmatched rows over by writing back
    // everything it read, and this table's one group is the table, so a
    // condition pushed here is a GROUP filter only and must never drop
    // rows (a row-filtered scan would silently delete the carry-over).
    // Plain reads bake translatable filters into the delegate plan.
    if (owner.isEmpty)
      pushed = filters.filter(f =>
        VersionedSource.filterToColumn(f).isDefined)
    filters // Spark re-applies everything above the scan (best-effort push)
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GraftV1Scan(spark, dir, tip, required,
    pushed, owner, full)
}

/** Test/verification seam: records HOW the most recent catalog scan's
  * base was read — `"range:<lo>..<hi>"` / `"in:<n>"` when hidden
  * pruning engaged, `"full"` otherwise. Pinned by the E193 unit and
  * `require`d in the declared query, so a silent fallback to full scans
  * can never pass for pruning.
  */
private[graft] object GraftScanPruneProbe {
  val last = new java.util.concurrent.atomic.AtomicReference[String]("")
}

private[sources] class GraftV1Scan(spark: SparkSession,
    private[sources] val dir: String, private[sources] val tip: Int,
    required: StructType, pushed: Array[Filter],
    owner: Option[GraftRowLevelOperation],
    full: StructType = new StructType()) extends V1Scan {

  /** True for ordinary SELECT scans — the only ones
    * [[VersionedScanStats]] may reroute (row-level operation scans must
    * keep their group-scan semantics).
    */
  private[sources] def isPlainRead: Boolean = owner.isEmpty

  override def readSchema(): StructType = required

  /** The chain-resolved pinned-tip snapshot with the pushed filters and
    * the pruned column set baked in (so they reach the inner parquet
    * scans of the delegate plan). Hidden-partition pruning (E193) is
    * [[HiddenPrune]] — shared with the stats-rerouted v1 relation.
    */
  private def delegate(s: SparkSession): DataFrame = {
    // hidden-base pruning + append-link skipping (E193/E198), composed
    // in the ONE helper both v1 read paths share
    val snap0 = AddSkip.composedRead(s, dir, tip, full, pushed.toSeq)(
      Versioned.readAtDv(s, dir, tip))
    // the hidden tier's derived key never reaches the logical surface
    val snap = if (snap0.columns.contains("gpart")) snap0.drop("gpart")
      else snap0
    val filtered = pushed.flatMap(VersionedSource.filterToColumn)
      .foldLeft(snap)((df, c) => df.filter(c))
    // `_version` is the table's metadata column: constant = the pinned
    // tip (every row of this scan was read from it)
    filtered.select(required.fieldNames.toIndexedSeq.map {
      case "_version" if !snap.columns.contains("_version") =>
        org.apache.spark.sql.functions.lit(tip).as("_version")
      case f => col(f)
    }: _*)
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def needConversion: Boolean = false
      override def buildScan(): RDD[Row] =
        delegate(context.sparkSession).queryExecution.toRdd
          .asInstanceOf[RDD[Row]]
    }.asInstanceOf[T]

  /** ROW-LEVEL reads only (SELECTs always plan through the V1 wrapper —
    * Spark's row-level scan planning rule does not apply it): a real v2
    * Batch is required, and the chain-resolved delegate is an arbitrary
    * DataFrame plan, not a file set — so the pinned snapshot (already
    * filtered + pruned) is MATERIALIZED once to a hidden `.rowlevel-scan`
    * dir and served by Spark's own v2 parquet Batch over exactly the
    * `required` layout. Cost: one extra snapshot write per
    * UPDATE/MERGE/untranslatable-DELETE — bounded by the copy-on-write
    * rewrite those statements already pay; translatable DELETEs never get
    * here (the DV path serves them). The owning operation records the
    * temp dir; the write's commit/abort deletes it.
    */
  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    val tmp = s"$dir/.rowlevel-scan-${java.util.UUID.randomUUID()}"
    delegate(spark).write.mode("overwrite").parquet(tmp)
    owner.foreach(_.tempScanDirs.add(tmp))
    DmlBridge.parquetBatch(spark, tmp, required)
  }

  override def description(): String =
    s"GraftVersioned[$dir@v$tip, cols=${required.fieldNames.length}, " +
      s"pushed=${pushed.length}]"
}

/** Staged v2 write: rows land as parquet in a hidden `.staging-*` dir via
  * Spark's own executor-side parquet writer, and `commit()` adopts the
  * finished directory as the next version with one atomic rename —
  * append (delta) commit for INSERT INTO, full snapshot for
  * INSERT OVERWRITE (truncate), claim-checked snapshot for the
  * row-level REPLACE.
  */
private[sources] class GraftWriteBuilder(spark: SparkSession, dir: String,
    info: LogicalWriteInfo, replaceTip: Option[Int],
    owner: Option[GraftRowLevelOperation] = None,
    expectations: Seq[(String, org.apache.spark.sql.Column)] = Nil,
    hidden: Option[(String, String)] = None)
    extends WriteBuilder with SupportsTruncate {

  private var truncateMode = false

  override def truncate(): WriteBuilder = { truncateMode = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val staging = s"$dir/.staging-${java.util.UUID.randomUUID()}"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(staging))
      val delegate = DmlBridge.parquetBatchWrite(spark, staging, info)
      new GraftBatchWrite(spark, dir, staging, info.schema, delegate,
        truncateMode, replaceTip, owner, expectations, hidden)
    }
    override def description(): String =
      s"GraftVersionedWrite[$dir, truncate=$truncateMode, " +
        s"replaceTip=$replaceTip]"
  }
}

private[sources] class GraftBatchWrite(spark: SparkSession, dir: String,
    staging: String, schema: StructType, delegate: BatchWrite,
    truncateMode: Boolean, replaceTip: Option[Int],
    owner: Option[GraftRowLevelOperation],
    expectations: Seq[(String, org.apache.spark.sql.Column)] = Nil,
    hidden: Option[(String, String)] = None)
    extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    delegate.createBatchWriterFactory(info)

  override def useCommitCoordinator(): Boolean =
    delegate.useCommitCoordinator()

  override def onDataWriterCommit(message: WriterCommitMessage): Unit =
    delegate.onDataWriterCommit(message)

  private def stagedParquet(): Boolean =
    Option(new java.io.File(staging).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .exists(_.getName.endsWith(".parquet"))

  private def cleanup(): Unit =
    Versioned.rmTree(new java.io.File(staging))

  /** Delete the owning operation's materialized scan dirs — the scan has
    * fully executed by the time the write commits or aborts.
    */
  private def dropScanDirs(): Unit = owner.foreach { op =>
    var d = op.tempScanDirs.poll()
    while (d != null) {
      Versioned.rmTree(new java.io.File(d)); d = op.tempScanDirs.poll()
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    delegate.commit(messages) // file commit protocol → final files staged
    replaceTip match {
      case Some(expected) =>
        // ReplaceData result = the complete new table. An all-rows DELETE
        // can stage zero files — materialize the empty (schema-bearing)
        // snapshot so the table stays readable.
        if (!stagedParquet())
          spark.createDataFrame(new util.ArrayList[Row](), schema)
            .write.mode("overwrite").parquet(staging)
        try { Versioned.adoptStagedReplace(dir, staging, expected); () }
        finally dropScanDirs()
      case None if truncateMode =>
        if (!stagedParquet()) {
          spark.createDataFrame(new util.ArrayList[Row](), schema)
            .write.mode("overwrite").parquet(staging)
          // an empty overwrite (TRUNCATE) stays a flat schema-bearing
          // snapshot even on a hidden-partitioned table: an empty
          // manifest would serve nothing to stitch
          Versioned.adoptStagedSnapshot(dir, staging)
          ()
        } else hidden match {
          case Some((t, c)) =>
            // declared hidden partitioning (E193): the full-state
            // overwrite lands PARTITIONED under the transform, so raw-
            // column predicates prune again from this version on; one
            // batch-scale re-read of the staged rows — the price of the
            // layout, paid only by full-state writes
            Versioned.commitPartitionedHidden(
              spark.read.parquet(staging), dir, t, c)
            cleanup()
          case None =>
            // adoption is claim-serialized inside adoptStagedSnapshot
            // (the buried-snapshot anomaly — a claim-free seal racing a
            // claim-holding COW rewrite whose tip-unmoved check ran
            // before this seal is non-serializable)
            Versioned.adoptStagedSnapshot(dir, staging)
            ()
        }
      case None =>
        // an INSERT of zero rows appends nothing — no empty commit;
        // adoption (not the staged write) claim-serializes inside
        // adoptStagedAppend, so an unsealed claimed append can never
        // slip under a COW rewrite's tip-unmoved check and get buried.
        // Declared expectation gates (E192) judge the staged batch here;
        // only the ingest path is gated (see GraftTable.expectationGates).
        if (!stagedParquet()) cleanup()
        else if (expectations.isEmpty) {
          Versioned.adoptStagedAppend(spark, dir, staging); ()
        } else {
          Versioned.adoptStagedAppendExpect(spark, dir, staging,
            expectations)
          ()
        }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    try delegate.abort(messages)
    finally { cleanup(); dropScanDirs() }
  }
}
