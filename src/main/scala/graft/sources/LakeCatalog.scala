package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{
  Identifier, StagedTable, StagingTableCatalog, SupportsWrite, Table,
  TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{
  BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A real Spark `TableCatalog` + `ProcedureCatalog` over
  * [[SnapshotLake]] tables — the DDL and maintenance halves of the
  * SQL surface. Registered per session:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graftcat",
  *   "graft.sources.GraftLakeCatalog")
  * spark.conf.set("spark.sql.catalog.graftcat.root", "/some/base")
  * }}}
  *
  * after which the full lifecycle is pure SQL: `CREATE TABLE
  * graftcat.t ... TBLPROPERTIES (statCol 'k')`, `INSERT INTO`,
  * `UPDATE` / `MERGE INTO` / `DELETE` (the row-level surface),
  * `ALTER TABLE ... ADD|RENAME|DROP COLUMN` (routed to the lake's
  * METADATA-ONLY column-mapping verbs — zero files rewritten),
  * `SELECT ... VERSION AS OF v` time travel via the catalog's
  * versioned `loadTable`, and the maintenance verbs as SQL
  * procedures — `CALL graftcat.optimize(table => 't', target_rows
  * => N)`, `CALL graftcat.vacuum(...)`, `CALL graftcat.restore(...)`
  * — each returning its result metrics as a one-row relation.
  *
  * Layout: each table is a lake at `<root>/<namespace…>/<name>`.
  * A freshly created (never-inserted) table persists its declared
  * schema + properties in `_table.json` so it is loadable before the
  * first commit; once the chain exists, the MANIFEST is authoritative
  * for schema and stat column (`_table.json` keeps only the write
  * options). ALTER on an uncommitted table edits `_table.json`; on a
  * committed chain it publishes the corresponding metadata-only
  * schema commit.
  */
final class GraftLakeCatalog extends TableCatalog
    with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var base: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = Option(options.get("root")).getOrElse(throw
      new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.root"))
  }
  override def name(): String = catalogName

  private def dirOf(ident: Identifier): Path =
    Paths.get(base, (ident.namespace().toSeq :+ ident.name()): _*)
  private def rootOf(ident: Identifier): String = dirOf(ident).toString
  private def propsPath(ident: Identifier): Path =
    dirOf(ident).resolve("_table.json")

  // -- the uncommitted-table sidecar -----------------------------------
  // one JSON object: {"schema": <DDL json>, "props": {k: v}} — only
  // consulted while the lake has no manifest

  private def writeProps(ident: Identifier, schema: StructType,
      props: Map[String, String]): Unit = {
    val obj = new org.json4s.JsonAST.JObject(List(
      "schema" -> org.json4s.JsonAST.JString(schema.json),
      "props" -> new org.json4s.JsonAST.JObject(
        props.toList.map { case (k, v) =>
          k -> org.json4s.JsonAST.JString(v) })))
    Files.createDirectories(dirOf(ident))
    Files.write(propsPath(ident),
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(obj))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
  }

  private def readProps(ident: Identifier)
      : Option[(StructType, Map[String, String])] = {
    val p = propsPath(ident)
    if (!Files.exists(p)) None
    else {
      val ast = org.json4s.jackson.JsonMethods.parse(
        new String(Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8))
      val schema = DataType.fromJson(
        (ast \ "schema").asInstanceOf[org.json4s.JsonAST.JString].s)
        .asInstanceOf[StructType]
      val props = (ast \ "props") match {
        case o: org.json4s.JsonAST.JObject => o.obj.collect {
          case (k, org.json4s.JsonAST.JString(v)) => k -> v
        }.toMap
        case _ => Map.empty[String, String]
      }
      Some((schema, props))
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    SnapshotLake.headVersion(rootOf(ident)) >= 0 ||
      Files.exists(propsPath(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = Paths.get(base, namespace.toSeq: _*)
    if (!Files.isDirectory(dir)) Array.empty
    else Files.list(dir).iterator().asScala
      .filter(Files.isDirectory(_))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .filter(tableExists)
      .toArray
  }

  private def loadAt(ident: Identifier, asOf: Option[Int]): Table = {
    val root = rootOf(ident)
    val committed = SnapshotLake.headVersion(root) >= 0
    val sidecar = readProps(ident)
    if (!committed && sidecar.isEmpty) throw new NoSuchTableException(ident)
    val props = sidecar.map(_._2).getOrElse(Map.empty)
    val schema =
      if (committed) {
        val snap = SnapshotLake.snapshot(root, asOf)
        snap.schema.getOrElse(sidecar.map(_._1).getOrElse(
          throw new IllegalStateException(
            s"lake at $root has neither a recorded nor a declared schema")))
      } else sidecar.get._1
    // write options: the chain's stat column wins once committed
    val opts = props ++ (if (committed)
      Map("statcol" -> SnapshotLake.snapshot(root).statCol) else Map.empty)
    new LakeTable(root, asOf, schema, opts)
  }

  /** METADATA TABLES ride multipart identifiers: `<cat>.t.files`
    * arrives as Identifier(namespace=[…, t], name=files). A real
    * table at that exact path always wins — the meta namespace can
    * never shadow user data — and only an EXISTING base table grows
    * the meta suffix, so unknown names still fail with the standard
    * NoSuchTableException.
    */
  override def loadTable(ident: Identifier): Table = {
    val kind = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (!tableExists(ident) && ident.namespace().nonEmpty) {
      val baseIdent = Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last)
      def baseLive: Boolean = tableExists(baseIdent) &&
        SnapshotLake.headVersion(rootOf(baseIdent)) >= 0
      if (LakeMetaTables.Kinds(kind) && baseLive)
        return new LakeMetaTables.MetaTable(rootOf(baseIdent), kind)
      // `t.branch_<name>` / `t.tag_<name>` — ref reads in pure SQL
      // (Iceberg's branch_/tag_ identifiers): a branch read addresses
      // the branch's nested chain, a tag read pins its version
      if (kind.startsWith("branch_") && baseLive) {
        val br = SnapshotLake.branchRoot(rootOf(baseIdent),
          ident.name().substring("branch_".length))
        if (SnapshotLake.headVersion(br) >= 0) {
          val snap = SnapshotLake.snapshot(br)
          // the branch INHERITS the base table's declared properties
          // (partitioning, sortcol, dv, changefeed, constraints…):
          // a branch write must plan the SAME layout as a main write
          // or fast-forward would publish untagged/unsorted files
          // into a partitioned table, and DML must route the same
          // (delta vs group) path the table declares
          val baseProps = readProps(baseIdent)
            .map(_._2).getOrElse(Map.empty)
          return new LakeTable(br, None,
            snap.schema.getOrElse(loadAt(baseIdent, None).schema()),
            baseProps ++ Map("statcol" -> snap.statCol))
        }
      }
      if (kind.startsWith("tag_") && baseLive) {
        val name = ident.name().substring("tag_".length)
        val tagged = SnapshotLake.listTags(rootOf(baseIdent))
          .collectFirst { case (n, v) if n == name => v }
        tagged.foreach(v => return loadAt(baseIdent, Some(v)))
      }
    }
    loadAt(ident, None)
  }

  /** `VERSION AS OF v` time travel — a number pins the version
    * directly; any other string resolves as a TAG name (Iceberg's
    * ref time travel), so `SELECT ... FROM t VERSION AS OF 'rel-1'`
    * reads the pinned release.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(version.toIntOption.getOrElse(
      SnapshotLake.tagVersion(rootOf(ident), version))))

  /** `TIMESTAMP AS OF t` time travel — Spark hands MICROseconds since
    * the epoch; the manifest headers record publish millis, and the
    * greatest version at-or-before the instant wins.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadAt(ident,
      Some(SnapshotLake.versionAt(rootOf(ident), timestamp / 1000L)))

  /** TBLPROPERTIES and OPTIONS (`option.`-prefixed) normalized into
    * the lake's lowercase write-option space, engine-managed keys
    * dropped.
    */
  private def normProps(
      properties: java.util.Map[String, String]): Map[String, String] =
    properties.asScala.map { case (k, v) =>
      k.stripPrefix(TableCatalog.OPTION_PREFIX)
        .toLowerCase(java.util.Locale.ROOT) -> v
    }.toMap.filterNot { case (k, _) =>
      k == "provider" || k == "owner" || k == "location" }

  private def requireNoPartitions(partitions: Array[Transform]): Unit =
    require(partitions.isEmpty,
      "graft lake CTAS/RTAS take no PARTITIONED BY yet — CREATE the " +
        "partitioned table first, then INSERT INTO it")

  /** `PARTITIONED BY (c)` or `PARTITIONED BY (bucket(N, c))` → the
    * `partcol` (+ `partbuckets`) table properties the write path
    * plans around (clustered+sorted DSv2 write, one single-valued
    * tagged file per value run) and the read path prunes/SPJs on.
    * One transform — the lake's partition model is one spec per
    * file, evolvable between commits. Identity suits low-cardinality
    * columns; `bucket(N, c)` is the high-cardinality path (Iceberg's
    * transform): N stable hash buckets instead of one file group per
    * value, and a join of two same-bucketed tables on `c` plans with
    * zero shuffles.
    */
  private def oneTransform(t: Transform): Map[String, String] = {
    require(t.references().length == 1,
      s"PARTITIONED BY takes exactly one column per transform, got $t")
    val c = t.references()(0).fieldNames().mkString(".")
    t.name match {
      case "identity" => Map("partcol" -> c)
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Int] =>
            l.value().asInstanceOf[Int]
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform lacks an integer bucket count: $t"))
        require(n >= 2 && n <= (1 << 20),
          s"bucket count must be in [2, 2^20], got $n")
        Map("partcol" -> c, "partbuckets" -> n.toString)
      // truncate(W, col) — Iceberg's range transform: integrals floor
      // to multiples of W, strings keep their first W characters.
      // Order-preserving where bucket is not, so range predicates on
      // the column keep their locality in the layout.
      case "truncate" =>
        val w = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Int] =>
            l.value().asInstanceOf[Int]
        }.getOrElse(throw new IllegalArgumentException(
          s"truncate transform lacks an integer width: $t"))
        require(w >= 1 && w <= (1 << 20),
          s"truncate width must be in [1, 2^20], got $w")
        Map("partcol" -> c, "parttrunc" -> w.toString)
      case other => throw new IllegalArgumentException(
        "only identity, bucket(N, col), and truncate(W, col) " +
          s"PARTITIONED BY are supported, got $other")
    }
  }

  private def partColOf(partitions: Array[Transform])
      : Option[Map[String, String]] = {
    require(partitions.length <= 2,
      "graft lake tables take at most two PARTITIONED BY transforms " +
        "(identity [+ identity | bucket(N, col)])")
    if (partitions.isEmpty) None
    else if (partitions.length == 1) Some(oneTransform(partitions.head))
    else {
      // COMPOSED spec (the canonical date+bucket lakehouse layout):
      // the FIRST level must be identity (it drives partition DML,
      // SHOW PARTITIONS, and the primary prune); the second may be
      // identity or bucket
      val first = oneTransform(partitions(0))
      require(!first.contains("partbuckets") &&
          !first.contains("parttrunc"),
        "a composed PARTITIONED BY spec must lead with an identity " +
          "column (got a transform first); write " +
          "PARTITIONED BY (p, bucket(N, k))")
      val second = oneTransform(partitions(1))
      require(first("partcol").toLowerCase(java.util.Locale.ROOT) !=
          second("partcol").toLowerCase(java.util.Locale.ROOT),
        "composed PARTITIONED BY levels must use different columns")
      Some(first ++
        Map("partcol2" -> second("partcol")) ++
        second.get("partbuckets").map("partbuckets2" -> _) ++
        second.get("parttrunc").map("parttrunc2" -> _))
    }
  }

  private def requireStatCol(props: Map[String, String]): Unit =
    require(props.contains("statcol"),
      "CREATE TABLE on the graft lake catalog requires TBLPROPERTIES " +
        "('statCol' = '<column>') — the lake's pruning identity")

  /** The catalog speaks Spark's DSv2 CONSTRAINT protocol (Spark
    * 4.1): enforced CHECK constraints persist as `constraint.<name>`
    * sidecar props, surface through `Table.constraints()`, and Spark
    * itself validates every batch write against them (the analyzer's
    * ResolveTableConstraints wraps the write plan) — the engine
    * stores and serves the contract; the planner enforces it.
    * PK/FK/UNIQUE are informational-only in Spark and refused here
    * rather than silently recorded.
    */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    java.util.Set.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // GENERATED ALWAYS AS (expr): the expression stores as field
      // metadata (Spark's GENERATION_EXPRESSION key, persisted
      // through the manifest schema json), the table ENFORCES it on
      // every batch write via a synthesized CHECK constraint, and
      // the scan DERIVES partition pruning from it (a predicate on
      // the source column prunes the generated partition column's
      // tags) — the Delta generated-partition-column pattern.
      // Vanilla Spark does not compute generated columns for DSv2
      // writes, so INSERTs supply the value and the engine proves it.
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      // GENERATED ALWAYS AS IDENTITY (Delta's identity columns): the
      // spec (start/step/allowExplicitInsert) stores as the field
      // metadata keys Spark's own IdentityColumn util reads,
      // persisted through the manifest schema json; the WRITE path
      // assigns values (vanilla Spark plumbs the metadata but leaves
      // generation to the connector) — see LakeWriter's identity
      // fill: block allocation off the chain's identity high-water,
      // unique across partitions, gaps allowed (the Delta contract).
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  private def constraintProps(
      cs: Array[org.apache.spark.sql.connector.catalog.constraints.Constraint])
      : Map[String, String] =
    cs.toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.enforced(),
          "graft lake supports only ENFORCED CHECK constraints")
        s"constraint.${c.name().toLowerCase(java.util.Locale.ROOT)}" ->
          c.predicateSql()
      case other => throw new UnsupportedOperationException(
        "graft lake supports only CHECK constraints, got " +
          other.toDDL())
    }.toMap

  private def create0(ident: Identifier, schema: StructType,
      partitions: Array[Transform], props0: Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // `CLUSTER BY (x, y)` arrives as a ClusterByTransform among the
    // partition transforms: it only RECORDS the clustering intent
    // (Delta liquid-clustering economics) — `CALL <cat>.cluster(...)`
    // applies the Morton re-layout; meanwhile the second clustering
    // column doubles as the chain's dim2 stat column so every commit
    // records the boxes the 2-D prune reads.
    val (clusterT, partT) = partitions.partition(
      _.isInstanceOf[org.apache.spark.sql.connector.expressions
        .ClusterByTransform])
    val clusterProps = clusterT.headOption.map {
      case c: org.apache.spark.sql.connector.expressions
          .ClusterByTransform =>
        val cols = c.columnNames.map(_.fieldNames().mkString("."))
        require(cols.length == 2,
          "graft lake CLUSTER BY takes exactly two columns (the " +
            "Morton layout's two dimensions), got " +
            cols.mkString("(", ", ", ")"))
        cols.foreach(cc => require(
          schema.fieldNames.exists(_.equalsIgnoreCase(cc)),
          s"CLUSTER BY column '$cc' not in the table schema"))
        require(partT.isEmpty,
          "CLUSTER BY cannot combine with PARTITIONED BY")
        Map("clustercols" -> cols.mkString(","),
          "statcol2" -> cols(1))
    }.getOrElse(Map.empty)
    val props = props0 ++ clusterProps ++
      partColOf(partT).fold(Map.empty[String, String]) { ps =>
        def gate(colKey: String, bucketsKey: String,
            truncKey: String): Unit = {
          val pc = ps(colKey)
          val field = schema.fields.find(_.name.equalsIgnoreCase(pc))
            .getOrElse(throw new IllegalArgumentException(
              s"PARTITIONED BY column '$pc' not in the table schema"))
          // bucket hashes the column's JVM value: integrals widen to
          // long (XXH64.hashLong), strings hash their UTF-8 bytes —
          // both with the SQL-twin property (pmod(xxhash64(c), N))
          if (ps.contains(bucketsKey))
            require(field.dataType ==
                org.apache.spark.sql.types.LongType ||
              field.dataType == org.apache.spark.sql.types.IntegerType ||
              field.dataType == org.apache.spark.sql.types.StringType,
              s"bucket(N, $pc) requires a BIGINT, INT, or STRING " +
                s"column, got ${field.dataType.simpleString}")
          // truncate floors BIGINTs / prefixes strings; INT is
          // refused — a floor near Int.MinValue is not representable
          // as INT, so the tag and the V2 function would disagree
          if (ps.contains(truncKey))
            require(field.dataType ==
                org.apache.spark.sql.types.LongType ||
              field.dataType == org.apache.spark.sql.types.StringType,
              s"truncate(W, $pc) requires a BIGINT or STRING " +
                s"column, got ${field.dataType.simpleString}")
        }
        gate("partcol", "partbuckets", "parttrunc")
        if (ps.contains("partcol2"))
          gate("partcol2", "partbuckets2", "parttrunc2")
        ps
      }
    // sorted layout: TBLPROPERTIES('sortcol'='c') declares that every
    // partitioned write additionally orders rows WITHIN each rolled
    // file by c — gated here so a scan's outputOrdering claim can
    // never name a column the table doesn't have (and the manifest's
    // inline `so=` tag stays delimiter-safe)
    props.get("sortcol").foreach { sc =>
      require(props.contains("partcol"),
        "TBLPROPERTIES('sortcol') requires a PARTITIONED BY table — " +
          "an unpartitioned write never plans the within-file sort")
      require(schema.fieldNames.exists(_.equalsIgnoreCase(sc)),
        s"sortcol '$sc' not in the table schema")
      require(!sc.exists(ch => ch == ':' || ch == '\t' || ch == '\n'),
        s"sortcol '$sc' may not contain ':', tab, or newline")
    }
    requireStatCol(props)
    writeProps(ident, schema, props)
    loadTable(ident)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    create0(ident, schema, partitions, normProps(properties))

  /** GENERATED ALWAYS AS survives here: `generationExpression` is a
    * FIRST-CLASS property of the V2 Column, and Spark's deprecated
    * Column→StructType conversion (info.schema()) silently drops it —
    * re-attach it as the GENERATION_EXPRESSION field metadata the
    * rest of the engine (enforcement CHECK, derived partition prune,
    * rename guard) reads, persisted through the manifest schema json.
    */
  private def schemaWithGeneration(
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : StructType =
    StructType(info.schema().fields.zip(info.columns()).map {
      case (f, c) =>
        val gen = Option(c.generationExpression()).filter(_.nonEmpty)
          .fold(f) { e =>
            f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString(org.apache.spark.sql.catalyst.util
                  .GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY, e)
                .build())
          }
        // identity spec persists under the same metadata keys
        // Spark's IdentityColumn util defines, so isIdentityColumn/
        // getIdentityInfo read our schema natively. BIGINT only —
        // refused at DDL, not at first write (the generator's
        // arithmetic is 64-bit)
        Option(c.identityColumnSpec()).fold(gen) { spec =>
          require(f.dataType == org.apache.spark.sql.types.LongType,
            s"identity column '${f.name}' must be BIGINT, got " +
              f.dataType.simpleString)
          gen.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(gen.metadata)
              .putLong(org.apache.spark.sql.catalyst.util
                .IdentityColumn.IDENTITY_INFO_START, spec.getStart)
              .putLong(org.apache.spark.sql.catalyst.util
                .IdentityColumn.IDENTITY_INFO_STEP, spec.getStep)
              .putBoolean(org.apache.spark.sql.catalyst.util
                .IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT,
                spec.isAllowExplicitInsert)
              .build())
        }
    })

  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table =
    create0(ident, schemaWithGeneration(info), info.partitions(),
      normProps(info.properties()) ++ constraintProps(info.constraints()))

  // -- atomic CTAS / RTAS ----------------------------------------------
  // `CREATE TABLE ... AS SELECT` and `REPLACE TABLE ... AS SELECT`
  // route through these because the catalog is a StagingTableCatalog:
  // the SELECT's files land in `_staging/` through the normal write
  // protocol, but the BatchWrite commit is DEFERRED — nothing (no
  // manifest version, no `_table.json` sidecar) becomes visible until
  // commitStagedChanges publishes. A failed or aborted CTAS leaves no
  // table behind (the non-atomic fallback would strand an empty one),
  // and RTAS swaps contents in ONE commit — readers see the old table
  // or the new one, never an intermediate truncation, and time travel
  // keeps every pre-replace version.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    requireNoPartitions(partitions)
    val props = normProps(properties)
    requireStatCol(props)
    new StagedLakeTable(this, ident, rootOf(ident), schema, props,
      replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    requireNoPartitions(partitions)
    // statCol may be omitted: the chain's is inherited at publish
    new StagedLakeTable(this, ident, rootOf(ident), schema,
      normProps(properties), replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    requireNoPartitions(partitions)
    val props = normProps(properties)
    val exists = tableExists(ident)
    if (!exists) requireStatCol(props)
    new StagedLakeTable(this, ident, rootOf(ident), schema, props,
      replace = exists)
  }

  /** The staged commit's sidecar persist — same shape CREATE TABLE
    * writes (declared schema so an empty-result CTAS still loads;
    * write options for future appends).
    */
  private[sources] def persistSidecar(ident: Identifier,
      schema: StructType, props: Map[String, String]): Unit =
    writeProps(ident, schema, props)

  /** `ADD COLUMN` → StructField carrying Spark's default-value
    * encoding (the ResolveDefaultColumns field-metadata contract):
    * `CURRENT_DEFAULT` = the DDL's SQL text, filled into future
    * INSERTs that omit the column; `EXISTS_DEFAULT` = the
    * constant-folded value's SQL, served for every data file written
    * before the column existed. The exists SQL renders through
    * catalyst `Literal.sql` — the exact round-trip
    * `getExistenceDefaultValue` re-parses on read.
    */
  private def encodeAddColumn(add: TableChange.AddColumn)
      : org.apache.spark.sql.types.StructField = {
    var f = org.apache.spark.sql.types.StructField(
      add.fieldNames()(0), add.dataType(), add.isNullable())
    Option(add.comment()).foreach(c => f = f.withComment(c))
    Option(add.defaultValue()).foreach { d =>
      val lv = d.getValue()
      val existsSql = org.apache.spark.sql.catalyst.expressions
        .Literal(lv.value(), lv.dataType()).sql
      f = f.withCurrentDefaultValue(Option(d.getSql()).getOrElse(existsSql))
        .withExistenceDefaultValue(existsSql)
    }
    f
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val root = rootOf(ident)
    val committed = SnapshotLake.headVersion(root) >= 0
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "nested ADD COLUMN is not supported")
        require(add.position() == null,
          "column position (FIRST / AFTER) is not supported — " +
            "columns append at the end")
        val encoded = encodeAddColumn(add)
        if (committed)
          SnapshotLake.addColumn(root, encoded)
        else {
          val (sch, props) = readProps(ident).get
          writeProps(ident, StructType(sch.fields :+ encoded), props)
        }
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "nested RENAME COLUMN is not supported")
        val oldName = ren.fieldNames()(0)
        if (committed)
          SnapshotLake.renameColumn(root, oldName, ren.newName())
        else {
          val (sch, props) = readProps(ident).get
          writeProps(ident, StructType(sch.fields.map(f =>
            if (f.name.equalsIgnoreCase(oldName))
              f.copy(name = ren.newName()) else f)), props)
        }
        // sidecar properties that NAME the renamed column follow it —
        // otherwise future writes would sort/partition by whatever
        // the old name later resolves to (or fail to resolve at all).
        // statcol/bloomcol never reach here: SnapshotLake refuses to
        // rename an index column. (`so=` stamps already on disk are
        // physical names and need no touch-up.)
        readProps(ident).foreach { case (sch, props) =>
          val followed = props.map {
            case (k, v) if Set("sortcol", "partcol", "partcol2")(k) &&
                v.equalsIgnoreCase(oldName) => k -> ren.newName()
            // CLUSTER BY stores a comma list — follow per element
            case ("clustercols", v) if v.split(",")
                .exists(_.equalsIgnoreCase(oldName)) =>
              "clustercols" -> v.split(",").map(c =>
                if (c.equalsIgnoreCase(oldName)) ren.newName() else c)
                .mkString(",")
            case kv => kv
          }
          if (followed != props) writeProps(ident, sch, followed)
        }
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "nested DROP COLUMN is not supported")
        if (committed)
          SnapshotLake.dropColumn(root, del.fieldNames()(0))
        else {
          val (sch, props) = readProps(ident).get
          writeProps(ident, StructType(sch.fields.filterNot(
            _.name.equalsIgnoreCase(del.fieldNames()(0)))), props)
        }
      case upd: TableChange.UpdateColumnDefaultValue =>
        require(upd.fieldNames().length == 1,
          "nested ALTER COLUMN is not supported")
        // `DROP DEFAULT` arrives as the empty string; the change
        // governs CURRENT_DEFAULT (future inserts) only — the
        // existence default is fixed at ADD COLUMN time
        val sql = Option(upd.newDefaultValue()).filter(_.nonEmpty)
        if (committed)
          SnapshotLake.updateColumnDefault(root, upd.fieldNames()(0), sql)
        else {
          val (sch, props) = readProps(ident).get
          writeProps(ident, StructType(sch.fields.map(f =>
            if (f.name.equalsIgnoreCase(upd.fieldNames()(0)))
              sql.fold(f.clearCurrentDefaultValue())(
                f.withCurrentDefaultValue)
            else f)), props)
        }
      case set: TableChange.SetProperty =>
        val (sch, props) = readProps(ident)
          .getOrElse((loadTable(ident).schema(), Map.empty[String, String]))
        writeProps(ident, sch, props +
          (set.property().toLowerCase(java.util.Locale.ROOT) -> set.value()))
      case add: TableChange.AddConstraint =>
        val kv = constraintProps(Array(add.constraint()))
        val (sch, props) = readProps(ident)
          .getOrElse((loadTable(ident).schema(), Map.empty[String, String]))
        kv.keys.foreach(k => require(!props.contains(k),
          s"constraint already exists: ${k.stripPrefix("constraint.")}"))
        writeProps(ident, sch, props ++ kv)
      case drop: TableChange.DropConstraint =>
        val key = "constraint." +
          drop.name().toLowerCase(java.util.Locale.ROOT)
        val (sch, props) = readProps(ident)
          .getOrElse((loadTable(ident).schema(), Map.empty[String, String]))
        require(drop.ifExists() || props.contains(key),
          s"no constraint '${drop.name()}' on ${ident.name()}")
        writeProps(ident, sch, props - key)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change not supported by the graft lake: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dirOf(ident).toFile)
      true
    }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(dirOf(newIdent).getParent)
    Files.move(dirOf(oldIdent), dirOf(newIdent)): Unit
  }

  // -- maintenance verbs as SQL procedures ------------------------------
  // `CALL graftcat.optimize(table => 't', target_rows => N)` etc. —
  // the lake's OPTIMIZE / VACUUM / RESTORE with their result metrics
  // returned as a one-row relation, so maintenance is scriptable in
  // pure SQL and its effects are observable in the statement itself.

  import org.apache.spark.sql.connector.catalog.procedures.{
    BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.types.{LongType, StringType, StructField}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.unsafe.types.UTF8String

  private def procRows(procName: String, params: Seq[ProcedureParameter],
      out: StructType)(body: InternalRow => Seq[Seq[Any]])
      : UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft lake $procName"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String = s"graft lake $procName"
          override def parameters(): Array[ProcedureParameter] =
            params.toArray
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow)
              : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] =
            java.util.List.of[org.apache.spark.sql.connector.read.Scan](
              new org.apache.spark.sql.connector.read.LocalScan {
                private val all = body(input).map(_.map {
                  case s: String => UTF8String.fromString(s)
                  case other => other
                }.toArray[Any])
                override def rows(): Array[InternalRow] = all.map(vals =>
                  new org.apache.spark.sql.catalyst.expressions
                    .GenericInternalRow(vals)
                    : InternalRow).toArray
                override def readSchema(): StructType = out
              }).iterator()
        }
    }

  private def proc(procName: String, params: Seq[ProcedureParameter],
      out: StructType)(body: InternalRow => Seq[Any]): UnboundProcedure =
    procRows(procName, params, out)(in => Seq(body(in)))

  private def tableRoot(input: InternalRow): String = {
    val t = input.getUTF8String(0).toString
    val ident = Identifier.of(Array.empty, t)
    require(tableExists(ident), s"no table '$t' in catalog $catalogName")
    rootOf(ident)
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    Array("optimize", "cluster", "vacuum", "vacuum_older_than",
      "restore", "history",
      "create_branch", "fast_forward", "drop_branch", "create_tag",
      "remove_orphans", "add_files", "restore_to_timestamp")
      .map(Identifier.of(namespace, _))

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    ident.name().toLowerCase(java.util.Locale.ROOT) match {
      case "optimize" => proc("optimize",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_rows", LongType).build()),
        StructType(Seq(
          StructField("version", LongType),
          StructField("files_before", LongType),
          StructField("files_after", LongType),
          StructField("files_compacted", LongType)))) { in =>
        val r = SnapshotLake.compactLake(
          org.apache.spark.sql.SparkSession.active, tableRoot(in),
          in.getLong(1))
        Seq(r.version.toLong, r.filesBefore.toLong, r.filesAfter.toLong,
          r.filesCompacted.toLong)
      }
      case "cluster" => proc("cluster",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_rows", LongType).build()),
        StructType(Seq(
          StructField("version", LongType),
          StructField("files_before", LongType),
          StructField("files_after", LongType),
          StructField("buckets", LongType)))) { in =>
        val t = in.getUTF8String(0).toString
        val root = tableRoot(in)
        val cols = readProps(Identifier.of(Array.empty, t))
          .flatMap(_._2.get("clustercols"))
          .getOrElse(throw new IllegalArgumentException(
            s"table '$t' has no clustering columns — " +
              "CREATE TABLE ... CLUSTER BY (x, y) first"))
        val Array(x, y) = cols.split(",")
        val r = SnapshotLake.clusterLake(
          org.apache.spark.sql.SparkSession.active, root, x, y,
          in.getLong(1))
        Seq(r.version.toLong, r.filesBefore.toLong, r.filesAfter.toLong,
          r.buckets.toLong)
      }
      case "vacuum" => proc("vacuum",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keep_versions", LongType).build()),
        StructType(Seq(
          StructField("manifests_dropped", LongType),
          StructField("files_deleted", LongType)))) { in =>
        val (m, f) = SnapshotLake.vacuum(tableRoot(in), in.getLong(1).toInt)
        Seq(m.toLong, f.toLong)
      }
      // `CALL cat.vacuum_older_than(table => 't', older_than_ms =>
      // ts)`: time-based retention — Delta's RETAIN n HOURS /
      // Iceberg's expire_snapshots(older_than). Same checkpoint and
      // retention-root envelope as count-based vacuum.
      case "vacuum_older_than" => proc("vacuum_older_than",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("older_than_ms", LongType).build()),
        StructType(Seq(
          StructField("manifests_dropped", LongType),
          StructField("files_deleted", LongType)))) { in =>
        val (m, f) = SnapshotLake.vacuumOlderThan(
          tableRoot(in), in.getLong(1))
        Seq(m.toLong, f.toLong)
      }
      case "restore" => proc("restore",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", LongType).build()),
        StructType(Seq(StructField("new_version", LongType)))) { in =>
        Seq(SnapshotLake.restore(tableRoot(in), in.getLong(1).toInt).toLong)
      }
      // `CALL cat.restore_to_timestamp(table => 't', ts_ms => …)` —
      // Delta's RESTORE … TO TIMESTAMP: resolve the greatest version
      // published at or before the instant (the TIMESTAMP AS OF
      // rule), then roll data back to it as a new head commit.
      case "restore_to_timestamp" => proc("restore_to_timestamp",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("ts_ms", LongType).build()),
        StructType(Seq(
          StructField("restored_version", LongType),
          StructField("new_version", LongType)))) { in =>
        val root = tableRoot(in)
        val v = SnapshotLake.versionAt(root, in.getLong(1))
        Seq(v.toLong, SnapshotLake.restore(root, v).toLong)
      }
      // DESCRIBE HISTORY as a procedure: one row per un-vacuumed
      // version — the verb that produced it, live file/row counts,
      // and the txn record if transactional. Answered from manifest
      // headers only (KB-scale; no data file opened).
      case "history" => procRows("history",
        Seq(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(
          StructField("version", LongType),
          StructField("op", StringType),
          StructField("n_files", LongType),
          StructField("n_rows", LongType),
          StructField("txn", StringType)))) { in =>
        SnapshotLake.history(
          org.apache.spark.sql.SparkSession.active, tableRoot(in))
          .collect().toSeq.map(r =>
            Seq(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
              r.getString(4)))
      }
      // -- write-audit-publish verbs: branches + tags -------------------
      // `CALL graftcat.create_branch(table => 't', branch => 'audit')`
      // forks a zero-copy writable chain; stage through
      // `.option("branch", ...)` writes, audit it, then
      // `CALL graftcat.fast_forward(...)` publishes the branch head as
      // one metadata commit. `create_tag` pins a version as an
      // immutable retention root ([[SnapshotLake.vacuum]] keeps it).
      case "create_branch" => proc("create_branch",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("branch", StringType).build()),
        StructType(Seq(
          StructField("forked_from_version", LongType)))) { in =>
        val root = tableRoot(in)
        val name = in.getUTF8String(1).toString
        SnapshotLake.createBranch(root, name)
        Seq(SnapshotLake.listBranches(root)
          .collectFirst { case (n, v) if n == name => v.toLong }.get)
      }
      case "fast_forward" => proc("fast_forward",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("branch", StringType).build()),
        StructType(Seq(StructField("published_version", LongType)))) { in =>
        Seq(SnapshotLake.fastForward(tableRoot(in),
          in.getUTF8String(1).toString).toLong)
      }
      case "drop_branch" => proc("drop_branch",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("branch", StringType).build()),
        StructType(Seq(StructField("dropped", LongType)))) { in =>
        // distributed sweep: an unpublished branch's staged tree is
        // data-scale — list/anti-join/delete as Spark jobs
        SnapshotLake.dropBranch(tableRoot(in),
          in.getUTF8String(1).toString,
          Some(org.apache.spark.sql.SparkSession.active))
        Seq(1L)
      }
      case "create_tag" => proc("create_tag",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("tag", StringType).build(),
          ProcedureParameter.in("version", LongType).build()),
        StructType(Seq(StructField("tagged_version", LongType)))) { in =>
        val v = in.getLong(2)
        SnapshotLake.createTag(tableRoot(in),
          in.getUTF8String(1).toString, v.toInt)
        Seq(v)
      }
      // `CALL cat.remove_orphans(table => 't', grace_ms => N)`:
      // delete files under data/_dv/_staging that no retained
      // manifest references — crashed-writer residue vacuum cannot
      // see. grace_ms spares files younger than the window (in-flight
      // commits racing toward publish); it defaults to Iceberg's
      // 3-day older_than, and 0 is only safe with no concurrent
      // writers. Runs DISTRIBUTED: listing, anti-join, and deletion
      // are all Spark jobs (driver memory O(1) in file count).
      case "remove_orphans" => proc("remove_orphans",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("grace_ms", LongType)
            .defaultValue(SnapshotLake.DefaultOrphanGraceMs.toString)
            .build()),
        StructType(Seq(
          StructField("orphans_removed", LongType),
          StructField("files_referenced", LongType)))) { in =>
        val (rm, kept) = SnapshotLake.removeOrphansDistributed(
          org.apache.spark.sql.SparkSession.active,
          tableRoot(in), in.getLong(1))
        Seq(rm, kept)
      }
      // `CALL cat.add_files(table => 't', source_dir => '/path')`:
      // Iceberg's import-by-reference — register external parquet
      // into the manifest by absolute path, zero bytes moved; one
      // Spark job computes the full per-file stat envelope so every
      // prune works on imported files. Borrowed ownership: vacuum
      // never deletes them, DML rewrites copy-on-write.
      case "add_files" => proc("add_files",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("source_dir", StringType).build()),
        StructType(Seq(
          StructField("version", LongType),
          StructField("files_added", LongType),
          StructField("rows_added", LongType)))) { in =>
        val (v, nf, nr) = SnapshotLake.addFiles(
          org.apache.spark.sql.SparkSession.active,
          tableRoot(in), in.getUTF8String(1).toString)
        Seq(v.toLong, nf, nr)
      }
      case other => throw new UnsupportedOperationException(
        s"no procedure '$other' in catalog $catalogName " +
          "(have: optimize, cluster, vacuum, vacuum_older_than, " +
          "restore, restore_to_timestamp, history, " +
          "create_branch, fast_forward, drop_branch, create_tag, " +
          "remove_orphans, add_files)")
    }

  // -- catalog-shipped SQL functions ------------------------------------
  // `SELECT <cat>.cosine_sim(a, b)` etc. — the DSv2 FunctionCatalog
  // face; the function registry itself lives in
  // [[graft.functions.V2Functions]]. Functions are namespace-global
  // (no per-table functions), so the namespace is echoed, not used.

  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    graft.functions.V2Functions.names
      .map(Identifier.of(namespace, _)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    graft.functions.V2Functions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))
}

/** A CTAS/RTAS staging handle: the SELECT writes through the lake's
  * normal two-phase task protocol (uniquely-named `_staging/` files,
  * acknowledged by name), but the driver-side publish is CAPTURED
  * instead of run — `commitStagedChanges` is the single atomic point
  * where the manifest version (and, for a fresh table, the sidecar)
  * appears. Until then `tableExists` stays false for CTAS and the old
  * contents stay live for RTAS; `abortStagedChanges` discards the
  * acknowledged staged files and leaves no trace.
  */
private[sources] final class StagedLakeTable(catalog: GraftLakeCatalog,
    ident: Identifier, root: String, tschema: StructType,
    props: Map[String, String], replace: Boolean)
    extends StagedTable with SupportsWrite {

  @volatile private var pendingCommit: Option[() => Unit] = None
  @volatile private var pendingAbort: Option[() => Unit] = None

  override def name(): String =
    s"graft_lake($root, staged ${if (replace) "replace" else "create"})"
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // RTAS is an overwrite commit even when Spark hands us a plain
      // append write: replace semantics live in the publish
      private var overwrite = replace
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = {
        val opts = props ++ info.options().asCaseSensitiveMap().asScala
          .map { case (k, v) =>
            k.toLowerCase(java.util.Locale.ROOT) -> v }
        val real = new LakeBatchWrite(root, info.schema(), overwrite, opts)
        new Write {
          override def toBatch: BatchWrite = new BatchWrite {
            override def createBatchWriterFactory(p: PhysicalWriteInfo)
                : org.apache.spark.sql.connector.write.DataWriterFactory =
              real.createBatchWriterFactory(p)
            override def commit(
                msgs: Array[WriterCommitMessage]): Unit = {
              // defer: the staged files are acknowledged, publication
              // waits for commitStagedChanges
              pendingCommit = Some(() => real.commit(msgs))
              pendingAbort = Some(() => real.abort(msgs))
            }
            override def abort(msgs: Array[WriterCommitMessage]): Unit =
              real.abort(msgs)
          }
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    // publish first (the atomic point), sidecar second — a crash
    // between the two leaves a manifest-authoritative table, never a
    // sidecar-only ghost of a failed publish. An empty-result CTAS
    // publishes nothing; the sidecar alone makes the empty table load
    // with its declared schema (the CREATE TABLE shape).
    pendingCommit.foreach(_.apply())
    catalog.persistSidecar(ident, tschema, props)
    pendingCommit = None
    pendingAbort = None
  }

  override def abortStagedChanges(): Unit = {
    pendingAbort.foreach(_.apply())
    pendingCommit = None
    pendingAbort = None
  }
}

/** Judged query for the catalog's pure-SQL lifecycle. */
object LakeCatalogQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._
  import graft.Catalog.Q

  // ONE root per JVM: Spark's CatalogManager caches the catalog
  // instance by name, so the root it was initialized with must stay
  // live across re-invocations (bench runs each query four times)
  private lazy val catBase: String = Housekeeping.tempDir("q141cat")

  /** Judged SQL DDL lifecycle over [[GraftLakeCatalog]]: CREATE →
    * INSERT → metadata-only RENAME COLUMN → ADD COLUMN → evolved
    * INSERT → DROP COLUMN → VERSION AS OF 0 time travel, every step
    * pure SQL through catalog identifiers. Hash-checked: the head
    * version (exactly 5 commits: insert, rename, add, insert, drop),
    * that the three ALTERs rewrote ZERO data files, the surviving
    * column names via the aggregate's own schema, the v0 snapshot
    * still reading under its ORIGINAL column name, and the row-exact
    * aggregate over the renamed column spanning pre- and post-rename
    * files.
    */
  def q141LakeSqlDdl(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q141")
    s.sql("""
      CREATE TABLE graftcat.q141 (event_id BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'event_id')""")
    Tables.events(s, d).select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q141_events")
    s.sql("""
      INSERT INTO graftcat.q141
      SELECT event_id, cents FROM q141_events WHERE event_id % 2 = 0""")
      .collect(): Unit
    val root = s"$catBase/q141"
    val filesBefore = SnapshotLake.snapshot(root).files.size
    s.sql("ALTER TABLE graftcat.q141 RENAME COLUMN cents TO amount_cents")
    s.sql("ALTER TABLE graftcat.q141 ADD COLUMN batch BIGINT")
    s.sql("""
      INSERT INTO graftcat.q141
      SELECT event_id, cents, 2 FROM q141_events WHERE event_id % 2 = 1""")
      .collect(): Unit
    s.sql("ALTER TABLE graftcat.q141 DROP COLUMN batch")
    val filesTouchedByDdl =
      SnapshotLake.snapshot(root).files.size - filesBefore - 1 // 1 insert
    val v0 = s.sql("SELECT * FROM graftcat.q141 VERSION AS OF 0")
    val v0Cols = v0.columns.mkString(",")
    val v0Rows = v0.count()
    val df = s.table("graftcat.q141")
    df.agg(count(lit(1)).as("n_rows"),
        sum(col("amount_cents")).as("sum_cents"))
      .select(
        lit(SnapshotLake.headVersion(root).toLong).as("head_version"),
        lit(df.columns.mkString(",")).as("cols"),
        lit(v0Cols).as("v0_cols"),
        lit(v0Rows).as("v0_rows"),
        lit(filesTouchedByDdl.toLong).as("files_touched_by_ddl"),
        col("n_rows"), col("sum_cents"))
  }

  /** Judged SQL maintenance: OPTIMIZE / RESTORE / VACUUM as CALL
    * procedures through the catalog, each returning its metrics as a
    * relation. Hash-checked: optimize's exact file accounting (4
    * single-slice inserts → 1 packed file), restore's new head
    * version, vacuum's drop count against the checkpoint-retention
    * rule (the restore commit publishes a FULL manifest, so v5 is a
    * checkpoint and all five earlier manifests are droppable), and the
    * row-exact post-restore aggregate — a procedure that lies about
    * its effect, or an effect that lies about its procedure, goes
    * red either way.
    */
  def q143LakeSqlMaintenance(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q143")
    s.sql("""
      CREATE TABLE graftcat.q143 (event_id BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'event_id')""")
    Tables.events(s, d).select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q143_events")
    (0 until 4).foreach(i => s.sql(s"""
      INSERT INTO graftcat.q143
      SELECT /*+ COALESCE(1) */ event_id, cents FROM q143_events
      WHERE event_id % 4 = $i""").collect(): Unit)
    val opt = s.sql(
      "CALL graftcat.optimize(table => 'q143', target_rows => 1000000000)")
      .collect().head
    val res = s.sql("CALL graftcat.restore(table => 'q143', version => 1)")
      .collect().head
    val vac = s.sql("CALL graftcat.vacuum(table => 'q143', keep_versions => 1)")
      .collect().head
    s.table("graftcat.q143")
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(
        lit(opt.getLong(1)).as("opt_files_before"),
        lit(opt.getLong(2)).as("opt_files_after"),
        lit(opt.getLong(3)).as("opt_files_compacted"),
        lit(res.getLong(0)).as("restored_head"),
        lit(vac.getLong(0)).as("vacuum_manifests_dropped"),
        col("n_rows"), col("sum_cents"))
  }

  /** Judged catalog-shipped SCALAR functions (DSv2 FunctionCatalog):
    * `graftcat.token_count` and `graftcat.cosine_sim` called from
    * pure SQL — no session extensions, no temp function registration.
    * Both resolve through the magic-method `Invoke` path, so the
    * whole projection stays inside whole-stage codegen. Hash-checked
    * against the oracle's independent replays of the t1 tokenization
    * contract and the e1 cosine arithmetic (same index-order IEEE
    * accumulation), on a documents⋈embeddings join with the 1-row
    * query-vector side broadcast.
    */
  def q147SqlScalarFunctions(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    Tables.documents(s, d).createOrReplaceTempView("q147_docs")
    Tables.embeddings(s, d).createOrReplaceTempView("q147_emb")
    s.sql("""
      SELECT d.doc_id,
             graftcat.token_count(d.text) AS n_tokens,
             graftcat.cosine_sim(e.embedding, q.embedding) AS cos_q0
      FROM q147_docs d
      JOIN q147_emb e ON e.vec_id = d.doc_id
      CROSS JOIN (SELECT embedding FROM q147_emb WHERE vec_id = 0) q
      ORDER BY d.doc_id""")
  }

  /** Judged catalog-shipped AGGREGATE function (V2
    * `AggregateFunction`): `graftcat.sum_cents(l_extendedprice)` —
    * the engine's exact-cents money discipline callable from pure
    * SQL, planned by Spark as a partial/merge hash aggregate
    * (map-side combine; one Long of state per partition×group
    * crosses the shuffle). Hash-checked against the oracle's
    * independent `sum(CAST(round(x*100) AS BIGINT))`.
    */
  def q148SqlAggFunction(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    Tables.lineitem(s, d).createOrReplaceTempView("q148_lineitem")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             graftcat.sum_cents(l_extendedprice) AS revenue_cents,
             count(*) AS n_items
      FROM q148_lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
  }

  /** Judged PURE-SQL partitioned-table lifecycle: `CREATE TABLE …
    * PARTITIONED BY (bucket4)` → `INSERT INTO … SELECT` (the DSv2
    * write declares clustered+sorted layout via
    * RequiresDistributionAndOrdering, so Spark plans the shuffle and
    * the task writers roll one single-valued file per value run —
    * exactly 4 tagged files for 4 bucket values, independent of task
    * count) → a partition-PRUNED aggregate (one file planned) → a
    * zero-shuffle STORAGE-PARTITIONED self-join through a second
    * identically-partitioned SQL table. Every layout claim is a
    * hash-checked column: file count, tag count, tag values, files
    * planned under the prune, and the join's shuffle count.
    */
  def q152SqlPartitionedTable(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q152")
    s.sql("DROP TABLE IF EXISTS graftcat.q152b")
    Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 4).as("bucket4"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q152_events")
    for (t <- Seq("q152", "q152b")) s.sql(s"""
      CREATE TABLE graftcat.$t (
        event_id BIGINT, bucket4 BIGINT, cents BIGINT)
      PARTITIONED BY (bucket4)
      TBLPROPERTIES ('statCol' = 'event_id')""")
    s.sql("""
      INSERT INTO graftcat.q152
      SELECT event_id, bucket4, cents FROM q152_events""").collect(): Unit
    s.sql("""
      INSERT INTO graftcat.q152b
      SELECT event_id, bucket4, cents * 2 FROM q152_events""")
      .collect(): Unit
    val snap = SnapshotLake.snapshot(s"$catBase/q152")
    val nFiles = snap.files.size.toLong
    val nTagged = snap.files.count(
      _.part.exists(_._1.equalsIgnoreCase("bucket4"))).toLong
    val tagVals = snap.files.flatMap(_.part.map(_._2)).sorted
      .mkString(",")
    val pruned = s.table("graftcat.q152").where(col("bucket4") === 2L)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val prow = pruned.collect().head
    val prunedPlanned = LakeScan
      .findIn(pruned.queryExecution.executedPlan)
      .map(_.files.length.toLong).getOrElse(-1L)
    val joined = s.sql("""
      SELECT /*+ MERGE(a) */ sum(a.cents + b.cents) AS sum_c3
      FROM graftcat.q152 a JOIN graftcat.q152b b
        ON a.bucket4 = b.bucket4 AND a.event_id = b.event_id""")
    val jrow = joined.collect().head
    val nShuffles =
      LakeScan.countShuffles(joined.queryExecution.executedPlan).toLong
    import s.implicits._
    Seq((nFiles, nTagged, tagVals, prunedPlanned,
        prow.getLong(0), prow.getLong(1),
        // the final single-row aggregate contributes the plan's ONE
        // exchange; the join itself is storage-partitioned
        nShuffles, jrow.getLong(0)))
      .toDF("n_files", "n_tagged", "tag_values", "pruned_files_planned",
        "pruned_n_rows", "pruned_sum_cents", "n_shuffles_total",
        "join_sum_c3")
  }

  /** Judged BUCKET-TRANSFORM partitioning + zero-shuffle SPJ on a
    * HIGH-CARDINALITY key (the Iceberg `bucket(N, col)` pattern):
    * `CREATE TABLE … PARTITIONED BY (bucket(8, event_id))` → `INSERT
    * INTO … SELECT` (Spark clusters the write by the catalog's
    * bucket V2 function — resolved through the FunctionCatalog face —
    * so each of the 8 hash buckets lands as ONE tagged file,
    * independent of source parallelism) → a POINT lookup on the
    * bucketed key planning exactly 1 of 8 files from the manifest
    * tags alone (the literal hashes with the same function) → a
    * storage-partitioned join of two identically-bucketed tables ON
    * THE RAW KEY (millions of distinct values — identity
    * partitioning could never lay this out) with ZERO join shuffles:
    * both scans report `KeyGroupedPartitioning(bucket(8, event_id))`
    * and Spark co-locates matching buckets in place. At 100 TB this
    * is the fact-fact join killer feature: the dominant shuffle is
    * gone because the LAYOUT is the exchange. Hash-checked: file
    * count, tag count, distinct bucket ids, pruned file count, the
    * point row, total shuffle count (1 — only the final scalar
    * aggregate), both scans' bucket-keyGrouped posture, and the join
    * aggregate itself.
    */
  def q166BucketSpj(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q166a")
    s.sql("DROP TABLE IF EXISTS graftcat.q166b")
    Tables.events(s, d).select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q166_events")
    // statCol is cents, NOT the bucketed key: a hash bucket spans the
    // whole id domain, so the point-lookup gate must be answered by
    // the bucket tags, not the stat envelope
    for (t <- Seq("q166a", "q166b")) s.sql(s"""
      CREATE TABLE graftcat.$t (event_id BIGINT, cents BIGINT)
      PARTITIONED BY (bucket(8, event_id))
      TBLPROPERTIES ('statCol' = 'cents')""")
    s.sql("""
      INSERT INTO graftcat.q166a
      SELECT event_id, cents FROM q166_events""").collect(): Unit
    s.sql("""
      INSERT INTO graftcat.q166b
      SELECT event_id, cents * 2 FROM q166_events""").collect(): Unit
    val snap = SnapshotLake.snapshot(s"$catBase/q166a")
    val nFiles = snap.files.size.toLong
    val nTagged = snap.files.count(_.part.exists(
      _._1 == graft.functions.GraftBucket.tagCol(8, "event_id"))).toLong
    val nBuckets = snap.files.flatMap(_.part.map(_._2)).distinct.size.toLong
    val pruned = s.table("graftcat.q166a").where(col("event_id") === 0L)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val prow = pruned.collect().head
    val prunedPlanned = LakeScan
      .findIn(pruned.queryExecution.executedPlan)
      .map(_.files.length.toLong).getOrElse(-1L)
    val joined = s.sql("""
      SELECT /*+ MERGE(a) */ sum(a.cents + b.cents) AS sum_c3
      FROM graftcat.q166a a JOIN graftcat.q166b b
        ON a.event_id = b.event_id""")
    val jrow = joined.collect().head
    val jplan = joined.queryExecution.executedPlan
    val nShuffles = LakeScan.countShuffles(jplan).toLong
    val keyGrouped = LakeScan.collectIn(jplan).count(
      _.description().contains("keyGrouped=bucket8(event_id)")).toLong
    import s.implicits._
    Seq((nFiles, nTagged, nBuckets, prunedPlanned,
        prow.getLong(0), prow.getLong(1),
        // the final single-row aggregate contributes the plan's ONE
        // exchange; the high-cardinality join itself is
        // storage-partitioned — zero exchanges
        nShuffles, keyGrouped, jrow.getLong(0)))
      .toDF("n_files", "n_tagged", "n_buckets_distinct",
        "pruned_files_planned", "pruned_n_rows", "pruned_cents",
        "n_shuffles_total", "n_keygrouped_scans", "join_sum_c3")
  }

  /** Judged STRING-KEY bucket partitioning + zero-shuffle SPJ — the
    * layout the 100 TB dedup/curation corpus actually wants: those
    * tables key on digests and URLs (strings), and `bucket(N, doc)`
    * hashes the key's UTF-8 bytes with the same XXH64/seed-42 Spark's
    * built-in `xxhash64` computes, so the bucket id keeps the pure-SQL
    * twin `pmod(xxhash64(doc), N)` that integral keys have. Same
    * certificate shape as q166: one tagged file per bucket however
    * parallel the insert, a string point-lookup planning 1 of 8 files
    * from the manifest tags alone (the literal's bytes hash with the
    * same function), and a storage-partitioned join of two
    * identically-bucketed tables on the RAW STRING key with zero join
    * shuffles — both scans reporting
    * `KeyGroupedPartitioning(bucket(8, doc))`.
    */
  def q170BucketSpjString(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q170a")
    s.sql("DROP TABLE IF EXISTS graftcat.q170b")
    Tables.events(s, d).select(
        concat(lit("e-"), col("event_id").cast("string")).as("doc"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q170_events")
    for (t <- Seq("q170a", "q170b")) s.sql(s"""
      CREATE TABLE graftcat.$t (doc STRING, cents BIGINT)
      PARTITIONED BY (bucket(8, doc))
      TBLPROPERTIES ('statCol' = 'cents')""")
    s.sql("""
      INSERT INTO graftcat.q170a
      SELECT doc, cents FROM q170_events""").collect(): Unit
    s.sql("""
      INSERT INTO graftcat.q170b
      SELECT doc, cents * 2 FROM q170_events""").collect(): Unit
    val snap = SnapshotLake.snapshot(s"$catBase/q170a")
    val nFiles = snap.files.size.toLong
    val nTagged = snap.files.count(_.part.exists(
      _._1 == graft.functions.GraftBucket.tagCol(8, "doc"))).toLong
    val nBuckets = snap.files.flatMap(_.part.map(_._2)).distinct.size.toLong
    val pruned = s.table("graftcat.q170a").where(col("doc") === "e-0")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val prow = pruned.collect().head
    val prunedPlanned = LakeScan
      .findIn(pruned.queryExecution.executedPlan)
      .map(_.files.length.toLong).getOrElse(-1L)
    val joined = s.sql("""
      SELECT /*+ MERGE(a) */ sum(a.cents + b.cents) AS sum_c3
      FROM graftcat.q170a a JOIN graftcat.q170b b
        ON a.doc = b.doc""")
    val jrow = joined.collect().head
    val jplan = joined.queryExecution.executedPlan
    val nShuffles = LakeScan.countShuffles(jplan).toLong
    val keyGrouped = LakeScan.collectIn(jplan).count(
      _.description().contains("keyGrouped=bucket8(doc)")).toLong
    import s.implicits._
    Seq((nFiles, nTagged, nBuckets, prunedPlanned,
        prow.getLong(0), prow.getLong(1),
        nShuffles, keyGrouped, jrow.getLong(0)))
      .toDF("n_files", "n_tagged", "n_buckets_distinct",
        "pruned_files_planned", "pruned_n_rows", "pruned_cents",
        "n_shuffles_total", "n_keygrouped_scans", "join_sum_c3")
  }

  /** Judged TRUNCATE partition transform — `PARTITIONED BY
    * (truncate(2, doc))`, Iceberg's range transform: the clustered
    * write lands ONE single-valued file per prefix group (tags carry
    * the prefix itself, a meaningful value — where bucket destroys
    * order, truncate keeps it), a point predicate truncates its
    * literal with the SAME function and plans one file from tags
    * alone, and two same-truncated tables storage-partition-join
    * with ZERO join exchanges (the transform resolves through the
    * catalog's FunctionCatalog and SPJ compares both sides by the
    * bound function's type-qualified canonicalName). At 100 TB this
    * is the layout for range-local keys — dates, URL prefixes,
    * lexicographic ids — where co-location must not scramble order.
    */
  def q179TruncateTransform(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q179a")
    s.sql("DROP TABLE IF EXISTS graftcat.q179b")
    // doc = 'e<id % 8>-<id>': eight 2-char prefix groups e0..e7
    Tables.events(s, d).select(
        concat(lit("e"), (col("event_id") % 8).cast("string"),
          lit("-"), col("event_id").cast("string")).as("doc"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q179_events")
    for (t <- Seq("q179a", "q179b")) s.sql(s"""
      CREATE TABLE graftcat.$t (doc STRING, cents BIGINT)
      PARTITIONED BY (truncate(2, doc))
      TBLPROPERTIES ('statCol' = 'cents')""")
    s.sql("""
      INSERT INTO graftcat.q179a
      SELECT doc, cents FROM q179_events""").collect(): Unit
    s.sql("""
      INSERT INTO graftcat.q179b
      SELECT doc, cents * 2 FROM q179_events""").collect(): Unit
    val snap = SnapshotLake.snapshot(s"$catBase/q179a")
    val nFiles = snap.files.size.toLong
    val nTagged = snap.files.count(_.part.exists(
      _._1 == graft.functions.GraftTruncate.tagCol(2, "doc"))).toLong
    val nGroups = snap.files.flatMap(_.part.map(_._2)).distinct.size.toLong
    val pruned = s.table("graftcat.q179a").where(col("doc") === "e1-41")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val prow = pruned.collect().head
    val prunedPlanned = LakeScan
      .findIn(pruned.queryExecution.executedPlan)
      .map(_.files.length.toLong).getOrElse(-1L)
    val joined = s.sql("""
      SELECT /*+ MERGE(a) */ sum(a.cents + b.cents) AS sum_c3
      FROM graftcat.q179a a JOIN graftcat.q179b b
        ON a.doc = b.doc""")
    val jrow = joined.collect().head
    val jplan = joined.queryExecution.executedPlan
    val nShuffles = LakeScan.countShuffles(jplan).toLong
    val keyGrouped = LakeScan.collectIn(jplan).count(
      _.description().contains("keyGrouped=trunc2(doc)")).toLong
    import s.implicits._
    Seq((nFiles, nTagged, nGroups, prunedPlanned,
        prow.getLong(0), prow.getLong(1),
        nShuffles, keyGrouped, jrow.getLong(0)))
      .toDF("n_files", "n_tagged", "n_groups_distinct",
        "pruned_files_planned", "pruned_n_rows", "pruned_cents",
        "n_shuffles_total", "n_keygrouped_scans", "join_sum_c3")
  }

  /** Judged GENERATED PARTITION COLUMN — `day BIGINT GENERATED
    * ALWAYS AS (floor(ts / 100))`, identity-partitioned on `day`:
    * the generation expression stores as schema metadata, every
    * INSERT is ENFORCED against it (synthesized CHECK — a
    * disagreeing row aborts the write), and the scan DERIVES
    * partition pruning from it: a range predicate on RAW `ts` (the
    * query never mentions `day`) plans exactly the covered day
    * files. This is the Delta generated-partition-column pattern —
    * at 100 TB it lets every ad-hoc timestamp filter ride the daily
    * layout without analysts knowing the partition scheme exists.
    * File counts for the fixed ranges are hash-certified; a broken
    * derivation (wrong floor algebra, wrong tag match) either plans
    * the wrong file count or returns wrong rows — both go red.
    */
  def q180GeneratedPartition(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q180")
    Tables.events(s, d).select(col("event_id").as("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q180_events")
    s.sql("""
      CREATE TABLE graftcat.q180 (
        ts BIGINT, cents BIGINT,
        day BIGINT GENERATED ALWAYS AS (floor(ts / 100)))
      PARTITIONED BY (day)
      TBLPROPERTIES ('statCol' = 'cents')""")
    // fixed id slice: ids are dense from 0 (TESTDATA.md), so the
    // fixture is ≤ 20 day files at EVERY sf — the certificate scales
    // by formula, not by corpus size (a full-corpus insert at sf0.1
    // would mint ~1000 single-valued day files for no extra proof)
    s.sql("""
      INSERT INTO graftcat.q180
      SELECT ts, cents, CAST(floor(ts / 100) AS BIGINT)
      FROM q180_events WHERE ts < 2000""").collect(): Unit
    def planned(df: DataFrame): Long = LakeScan
      .findIn(df.queryExecution.executedPlan)
      .map(_.files.length.toLong).getOrElse(-1L)
    // range on RAW ts spanning exactly days 2 and 3
    val range = s.table("graftcat.q180")
      .where(col("ts") >= 200L && col("ts") <= 399L)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val rrow = range.collect().head
    val rangePlanned = planned(range)
    // point predicate: one file
    val point = s.table("graftcat.q180").where(col("ts") === 250L)
      .agg(sum(col("cents")).as("c"))
    val prow = point.collect().head
    val pointPlanned = planned(point)
    import s.implicits._
    s.table("graftcat.q180")
      .agg(count(lit(1)).as("total_rows"),
        sum(col("cents")).as("total_cents"))
      .select(
        lit(rangePlanned).as("range_files_planned"),
        lit(rrow.getLong(0)).as("range_rows"),
        lit(rrow.getLong(1)).as("range_cents"),
        lit(pointPlanned).as("point_files_planned"),
        lit(prow.getLong(0)).as("point_cents"),
        col("total_rows"), col("total_cents"))
  }

  /** Judged STRING truncate RANGE pruning — the canonical use of a
    * range transform on string keys: URL/path-prefix predicates ride
    * the layout. Eight 2-char prefix groups (`e0-…` … `e7-…`); a
    * two-sided range `doc >= 'e2' AND doc < 'e5'` must plan exactly
    * the three covered prefix bins (the strict upper bound fits the
    * width, so its own tag is EXCLUDED), and a lower bound LONGER
    * than the width (`doc >= 'e6-1'`) prunes by its 2-char prefix to
    * the last two bins. Both planned-file counts ride the row
    * hash-checked next to the range aggregates — a prune that went
    * wide goes slow AND red, one that went narrow loses rows and
    * goes red. At 100 TB this is "scan three prefix shards of the
    * crawl, not the crawl".
    */
  def q181TruncateStringRange(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q181")
    Tables.events(s, d).select(
        concat(lit("e"), (col("event_id") % 8).cast("string"),
          lit("-"), col("event_id").cast("string")).as("doc"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q181_events")
    s.sql("""
      CREATE TABLE graftcat.q181 (doc STRING, cents BIGINT)
      PARTITIONED BY (truncate(2, doc))
      TBLPROPERTIES ('statCol' = 'cents')""")
    s.sql("INSERT INTO graftcat.q181 SELECT doc, cents FROM q181_events")
      .collect(): Unit
    val nFiles = SnapshotLake.snapshot(s"$catBase/q181")
      .files.size.toLong
    def planned(df: DataFrame): Long = LakeScan
      .findIn(df.queryExecution.executedPlan)
      .map(_.files.length.toLong).getOrElse(-1L)
    val band = s.table("graftcat.q181")
      .where(col("doc") >= "e2" && col("doc") < "e5")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val brow = band.collect().head
    val tail = s.table("graftcat.q181").where(col("doc") >= "e6-1")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val trow = tail.collect().head
    import s.implicits._
    Seq((nFiles, planned(band), brow.getLong(0), brow.getLong(1),
        planned(tail), trow.getLong(0), trow.getLong(1)))
      .toDF("n_files", "band_files_planned", "band_rows", "band_cents",
        "tail_files_planned", "tail_rows", "tail_cents")
  }

  /** Judged IDENTITY COLUMNS (Delta's GENERATED … AS IDENTITY): the
    * table generates its own surrogate keys at write time — start +
    * step × a sparsely-allocated unit, unique without any task
    * coordination, direction-monotonic across commits (the second
    * INSERT's every id exceeds the first's), gaps allowed — exactly
    * the Delta contract, with the allocation high-water riding the
    * manifest header under a publish-time CAS. The certificate
    * derives every property from the ACTUAL table contents
    * (uniqueness, the (start, step) grid, cross-commit monotonicity,
    * exact payload aggregates); the oracle replays the payload from
    * events and pins the properties as literal TRUEs — any collision
    * or off-grid value flips a hashed boolean.
    */
  def q189IdentityColumn(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q189")
    Tables.events(s, d).select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q189_events")
    s.sql("""
      CREATE TABLE graftcat.q189 (
        id BIGINT GENERATED ALWAYS AS IDENTITY
          (START WITH 100 INCREMENT BY 3),
        k BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'k')""")
    s.sql("""INSERT INTO graftcat.q189 (k, cents)
             SELECT event_id, cents FROM q189_events
             WHERE event_id % 2 = 0""").collect(): Unit
    s.sql("""INSERT INTO graftcat.q189 (k, cents)
             SELECT event_id, cents FROM q189_events
             WHERE event_id % 2 = 1""").collect(): Unit
    s.table("graftcat.q189")
      .agg(
        count(lit(1)).as("n_rows"),
        (countDistinct(col("id")) === count(lit(1))).as("ids_unique"),
        (sum(when(col("id") < 100 ||
          pmod(col("id") - 100, lit(3)) =!= 0, 1).otherwise(0)) === 0)
          .as("on_grid"),
        (max(when(col("k") % 2 === 0, col("id"))) <
          min(when(col("k") % 2 === 1, col("id"))))
          .as("commits_monotonic"),
        sum(col("cents")).as("sum_cents"))
  }

  /** Judged MERGE … WHEN NOT MATCHED BY SOURCE (Delta's table-sync
    * idiom): ONE statement reconciles the target to a source
    * snapshot — matched rows update, source-only rows insert, and
    * target rows ABSENT from the source delete. The third clause is
    * the one plain MERGE cannot express (it never touches rows the
    * source doesn't name); at 100 TB it's how a follower table syncs
    * to an upstream extract without a full truncate-and-reload. The
    * certificate groups the post-merge table by the id bucket, so a
    * leaked target-only row (b=0 not deleted), a missed insert
    * (b=2), or an unapplied update (b=1 without +500) each flip a
    * hash-checked row.
    */
  def q187MergeBySource(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q187")
    Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 4).as("b"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q187_events")
    s.sql("""
      CREATE TABLE graftcat.q187 (event_id BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'event_id')""")
    s.sql("""INSERT INTO graftcat.q187
             SELECT event_id, cents FROM q187_events WHERE b IN (0, 1)""")
      .collect(): Unit
    s.sql("""
      MERGE INTO graftcat.q187 AS t
      USING (SELECT event_id, cents + 500 AS cents
             FROM q187_events WHERE b IN (1, 2)) AS u
      ON t.event_id = u.event_id
      WHEN MATCHED THEN UPDATE SET cents = u.cents
      WHEN NOT MATCHED THEN INSERT (event_id, cents)
        VALUES (u.event_id, u.cents)
      WHEN NOT MATCHED BY SOURCE THEN DELETE""").collect(): Unit
    s.table("graftcat.q187")
      .groupBy((col("event_id") % 4).as("b"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .orderBy(col("b"))
  }

  /** Judged IMPORT BY REFERENCE (`CALL add_files`): two external
    * parquet directories — disjoint event_id range slices — register
    * into a table that already owns a third slice; zero bytes move.
    * The certificates are the three contracts that make the verb
    * usable at 100 TB: (1) the import is metadata-only — the
    * manifest gains exactly two ABSOLUTE (borrowed) references and
    * the lake's own data/ directory stays at its pre-import file
    * count; (2) imported files join the stat envelope — a range
    * predicate covering only the first external slice PLANS exactly
    * one file, and its aggregate is row-exact; (3) borrowed
    * ownership survives DML — a CoW DELETE that touches only the
    * second external slice rewrites that reference into an owned
    * file (borrowed count drops to 1) while the external directory's
    * bytes stay intact on disk, and the post-delete totals are
    * exact. DuckDB replays every aggregate closed-form from events.
    */
  def q186AddFiles(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q186")
    val ev = Tables.events(s, d).select(col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val span = ev.agg(max(col("event_id"))).head.getLong(0) + 1
    val (s1, s2) = (span / 3, 2 * span / 3)
    val ext1 = graft.sources.Housekeeping.tempDir("q186_ext1")
    val ext2 = graft.sources.Housekeeping.tempDir("q186_ext2")
    ev.where(col("event_id") < s1).coalesce(1)
      .write.mode("overwrite").parquet(ext1)
    ev.where(col("event_id") >= s1 && col("event_id") < s2).coalesce(1)
      .write.mode("overwrite").parquet(ext2)
    ev.where(col("event_id") >= s2)
      .createOrReplaceTempView("q186_owned")
    s.sql("""
      CREATE TABLE graftcat.q186 (event_id BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'event_id')""")
    s.sql("INSERT INTO graftcat.q186 SELECT * FROM q186_owned")
      .collect(): Unit // v0, owned
    def ownedDataFiles(): Long = {
      val w = Files.walk(Paths.get(catBase, "q186", "data"))
      try w.iterator().asScala.count(p =>
        p.toString.endsWith(".parquet")).toLong
      finally w.close()
    }
    val ownedBefore = ownedDataFiles()
    s.sql(s"CALL graftcat.add_files(table => 'q186', " +
      s"source_dir => '$ext1')").collect(): Unit // v1
    s.sql(s"CALL graftcat.add_files(table => 'q186', " +
      s"source_dir => '$ext2')").collect(): Unit // v2
    val root = s"$catBase/q186"
    def borrowed(): Long =
      SnapshotLake.snapshot(root).files.count(_.name.startsWith("/"))
      .toLong
    val borrowedAfterAdds = borrowed()
    val importMetadataOnly = ownedDataFiles() == ownedBefore
    def planned(df: DataFrame): Long = LakeScan
      .findIn(df.queryExecution.executedPlan)
      .map(_.files.length.toLong).getOrElse(-1L)
    val lo = s.table("graftcat.q186").where(col("event_id") < s1)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val lrow = lo.collect().head
    // CoW DELETE confined to ext2's slice: rewrites the borrowed
    // reference into an owned file; the external bytes must survive
    val extBytes = Files.list(Paths.get(ext2)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => (p.toString, Files.size(p))).toMap
    s.sql(s"""DELETE FROM graftcat.q186
              WHERE event_id >= $s1 AND event_id < $s2
                AND event_id % 10 = 7""").collect(): Unit // v3, CoW
    val externalsIntact = extBytes.forall { case (p, sz) =>
      Files.exists(Paths.get(p)) && Files.size(Paths.get(p)) == sz
    }
    val tot = s.table("graftcat.q186")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val trow = tot.collect().head
    import s.implicits._
    Seq((SnapshotLake.headVersion(root).toLong, borrowedAfterAdds,
        importMetadataOnly, planned(lo), lrow.getLong(0),
        lrow.getLong(1), borrowed(), externalsIntact,
        trow.getLong(0), trow.getLong(1)))
      .toDF("head_version", "n_borrowed", "import_metadata_only",
        "lo_files_planned", "lo_rows", "lo_cents",
        "borrowed_after_delete", "externals_intact",
        "total_rows", "total_cents")
  }

  /** Judged UTF-8 STRING range pruning at the surrogate seam — the
    * adversary q181's ASCII corpus can't reach: a crawl whose path
    * prefixes span the full code-point range (Latin-1 'é', CJK '中',
    * high-BMP U+FFE9, supplementary U+1F600). Java's UTF-16
    * code-unit order INVERTS the last two (U+FFE9 > a surrogate
    * pair), the engine's UTF-8 byte order does not — so a prune that
    * consults Java order drops the U+FFE9 shard from the band and
    * goes red on rows AND on the planned-file count. The exact
    * one-code-point docs additionally pin '>' successor tightening
    * (width counted in CODE POINTS — `"😀".length` is 2): `doc >
    * '😀'` plans ONE file where `>=` plans two. DuckDB compares
    * strings as UTF-8 bytes, so the oracle recomputes every
    * aggregate under the identical order from `chr()` literals.
    */
  def q185Utf8RangePrune(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q185")
    val pfx = Seq("é", "中", "￩", "😀") // byte order
    val pfxCol = element_at(
      array(pfx.map(lit): _*), (col("event_id") % 4 + 1).cast("int"))
    // fixed dense-id slice [0, 1000) — SF-invariant file counts —
    // plus one EXACT one-code-point doc per prefix (its own bin
    // under truncate(2): the successor-tightening boundary)
    val docs = Tables.events(s, d).where(col("event_id") < 1000)
      .select(concat(pfxCol, lit("-"),
          col("event_id").cast("string")).as("doc"),
        round(col("value") * 100).cast("long").as("cents"))
      .union(s.range(4).select(
        element_at(array(pfx.map(lit): _*), (col("id") + 1).cast("int"))
          .as("doc"),
        (col("id") + 1001).as("cents")))
    docs.createOrReplaceTempView("q185_docs")
    s.sql("""
      CREATE TABLE graftcat.q185 (doc STRING, cents BIGINT)
      PARTITIONED BY (truncate(2, doc))
      TBLPROPERTIES ('statCol' = 'cents')""")
    s.sql("INSERT INTO graftcat.q185 SELECT doc, cents FROM q185_docs")
      .collect(): Unit
    val nFiles = SnapshotLake.snapshot(s"$catBase/q185")
      .files.size.toLong
    def planned(df: DataFrame): Long = LakeScan
      .findIn(df.queryExecution.executedPlan)
      .map(_.files.length.toLong).getOrElse(-1L)
    val band = s.table("graftcat.q185")
      .where(col("doc") >= "中" && col("doc") < "😀")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val brow = band.collect().head
    val gt = s.table("graftcat.q185")
      .where(col("doc") > "😀")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val grow = gt.collect().head
    val ge = s.table("graftcat.q185")
      .where(col("doc") >= "😀")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val gerow = ge.collect().head
    import s.implicits._
    Seq((nFiles, planned(band), brow.getLong(0), brow.getLong(1),
        planned(gt), grow.getLong(0), grow.getLong(1),
        planned(ge), gerow.getLong(0), gerow.getLong(1)))
      .toDF("n_files", "band_files_planned", "band_rows", "band_cents",
        "gt_files_planned", "gt_rows", "gt_cents",
        "ge_files_planned", "ge_rows", "ge_cents")
  }

  /** Judged PARTITION-SPEC EVOLUTION (Iceberg's signature property:
    * specs evolve, old files keep their old layout): a table starts
    * at `truncate(100, k)`, re-layouts to width 50 via
    * `ALTER TABLE … SET TBLPROPERTIES`, and appends — so the
    * snapshot MIXES trunc100 and trunc50 tags on one column. The
    * certificate is the part that used to be silently wrong: a range
    * crossing the width seam must floor its bounds with each file's
    * OWN tag width (a single derived width would prune the coarser
    * bins' tails and lose rows), and an equality prunes to exactly
    * one file on either side of the seam. File counts per width ride
    * the row as distinct-bin counts the oracle recomputes from the
    * same algebra.
    */
  def q183PartitionEvolution(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q183")
    // FIXED dense-id slice [0, 1000) — the q180 lesson: a
    // span-proportional fixture mints one file per bin (1,500 at
    // sf0.1) and the certificate pays file-count I/O instead of
    // proving the seam. 1,000 ids exist at every SF; 5 + 10 files
    // always.
    val ev = Tables.events(s, d).select(col("event_id").as("k"),
        round(col("value") * 100).cast("long").as("cents"))
      .where(col("k") < 1000)
    ev.createOrReplaceTempView("q183_events")
    val mid = 500L
    s.sql("""
      CREATE TABLE graftcat.q183 (k BIGINT, cents BIGINT)
      PARTITIONED BY (truncate(100, k))
      TBLPROPERTIES ('statCol' = 'cents')""")
    s.sql(s"""INSERT INTO graftcat.q183
              SELECT k, cents FROM q183_events WHERE k < $mid""")
      .collect(): Unit
    s.sql(
      "ALTER TABLE graftcat.q183 SET TBLPROPERTIES ('parttrunc' = '50')")
    s.sql(s"""INSERT INTO graftcat.q183
              SELECT k, cents FROM q183_events WHERE k >= $mid""")
      .collect(): Unit
    val snap = SnapshotLake.snapshot(s"$catBase/q183")
    def taggedWith(w: Int): Long = snap.files.count(_.part.exists(
      _._1 == graft.functions.GraftTruncate.tagCol(w, "k"))).toLong
    def planned(df: DataFrame): Long = LakeScan
      .findIn(df.queryExecution.executedPlan)
      .map(_.files.length.toLong).getOrElse(-1L)
    // the seam read: two w=100 bins behind the seam, two w=50 bins
    // past it — 4 files at every SF
    val seam = s.table("graftcat.q183")
      .where(col("k") >= mid - 150 && col("k") < mid + 70)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val srow = seam.collect().head
    val point = s.table("graftcat.q183").where(col("k") === mid - 50)
      .agg(sum(col("cents")).as("c"))
    val prow = point.collect().head
    import s.implicits._
    Seq((taggedWith(100), taggedWith(50), planned(seam),
        srow.getLong(0), srow.getLong(1), planned(point),
        prow.getLong(0)))
      .toDF("n_files_w100", "n_files_w50", "seam_files_planned",
        "seam_rows", "seam_cents", "point_files_planned", "point_cents")
  }

  /** Judged TIME-BASED RETENTION (`vacuum_older_than` — Delta's
    * RETAIN n HOURS, Iceberg's expire_snapshots(older_than)): a
    * 4-version timeline (append, append, OVERWRITE — a checkpoint —
    * append) expires everything at or before v1's publish timestamp.
    * The head is kept unconditionally and the cutoff snaps BACK to
    * the overwrite's checkpoint, so exactly v0 and v1 drop at every
    * SF and under every commit-timing coincidence (equal-millisecond
    * publishes included — the derivation only moves the keep-from
    * point between versions the checkpoint snap re-pins anyway).
    * Certificate: dropped count, v2 still time-travelable (the
    * surviving checkpoint), v1/v0 gone, head aggregates exact.
    */
  def q184TimeRetention(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q184")
    Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 4).as("b"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q184_events")
    s.sql("""
      CREATE TABLE graftcat.q184 (event_id BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'event_id')""")
    s.sql("""INSERT INTO graftcat.q184
             SELECT event_id, cents FROM q184_events WHERE b = 0""")
      .collect(): Unit // v0 (checkpoint: version 0)
    s.sql("""INSERT INTO graftcat.q184
             SELECT event_id, cents FROM q184_events WHERE b = 1""")
      .collect(): Unit // v1 (delta)
    s.sql("""INSERT OVERWRITE graftcat.q184
             SELECT event_id, cents FROM q184_events WHERE b = 2""")
      .collect(): Unit // v2 (overwrite ⇒ checkpoint)
    s.sql("""INSERT INTO graftcat.q184
             SELECT event_id, cents FROM q184_events WHERE b = 3""")
      .collect(): Unit // v3 (delta)
    val root = s"$catBase/q184"
    val tsV1 = SnapshotLake.describeVersion(root, 1).map(_._5)
      .getOrElse(throw new IllegalStateException("v1 was vacuumed"))
    val dropped = s.sql("CALL graftcat.vacuum_older_than(" +
      s"table => 'q184', older_than_ms => $tsV1)").head.getLong(0)
    val v2Rows = s.sql(
      "SELECT count(*) FROM graftcat.q184 VERSION AS OF 2")
      .head.getLong(0)
    def gone(v: Int): Boolean =
      scala.util.Try(s.sql(
        s"SELECT count(*) FROM graftcat.q184 VERSION AS OF $v")
        .head.getLong(0)).isFailure
    s.sql("""
      SELECT count(*) AS head_rows,
             CAST(sum(cents) AS BIGINT) AS head_cents
      FROM graftcat.q184""")
      .select(
        lit(dropped).as("n_dropped"),
        lit(v2Rows).as("v2_rows"),
        lit(gone(1)).as("v1_gone"),
        lit(gone(0)).as("v0_gone"),
        col("head_rows"), col("head_cents"))
  }

  /** Judged DISTRIBUTED ORPHAN INVENTORY — the 100 TB shape of
    * q178's verb: 64 crashed-writer directories (the residue a
    * crash-prone multi-writer ingest actually leaves), inventoried
    * through the `t.orphans` metadata table and swept by
    * `CALL remove_orphans` — and BOTH faces run as Spark jobs
    * (listing, manifest-referenced set, anti-join, executor-side
    * delete), certified by the engine's driver-walk counter riding
    * the row: if either face ever falls back to the single-threaded
    * driver `Files.walk`, `no_driver_walk` flips and the hash goes
    * red. Bytes are pinned per plant (1..64 ⇒ Σ = 2080) so the
    * inventory's size accounting is exact, not just its count.
    */
  def q182OrphanInventory(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q182")
    Tables.events(s, d).select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .where(col("event_id") % 2 === 0)
      .createOrReplaceTempView("q182_events")
    s.sql("""
      CREATE TABLE graftcat.q182 (event_id BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'event_id')""")
    s.sql("INSERT INTO graftcat.q182 SELECT * FROM q182_events")
      .collect(): Unit
    val root = s"$catBase/q182"
    (1 to 64).foreach { i =>
      val p = Paths.get(root, "data", f"b-orph-$i%02d", s"f$i.bin")
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](i)('x')): Unit
    }
    val walks0 = SnapshotLake.driverOrphanWalks.get()
    val inv = s.sql("""
      SELECT count(*) AS n, CAST(sum(bytes) AS BIGINT) AS b
      FROM graftcat.q182.orphans
      WHERE file LIKE 'data/b-orph-%'""").head
    val removed = s.sql(
      "CALL graftcat.remove_orphans(table => 'q182', grace_ms => 0)")
      .head.getLong(0)
    val after = s.sql("SELECT count(*) FROM graftcat.q182.orphans")
      .head.getLong(0)
    val noDriverWalk = SnapshotLake.driverOrphanWalks.get() == walks0
    s.sql("""
      SELECT count(*) AS head_rows,
             CAST(sum(cents) AS BIGINT) AS head_cents
      FROM graftcat.q182""")
      .select(
        lit(inv.getLong(0)).as("n_orphans"),
        lit(inv.getLong(1)).as("orphan_bytes"),
        lit(removed).as("n_removed"),
        lit(after).as("n_after"),
        lit(noDriverWalk).as("no_driver_walk"),
        col("head_rows"), col("head_cents"))
  }

  /** Judged SORTED BUCKET LAYOUT — `PARTITIONED BY (bucket(8, k))
    * TBLPROPERTIES('sortcol'='k')`: the clustered write additionally
    * orders rows WITHIN each bucket file by the key, the manifest
    * stamps `so=k` per file, and the scan reports the per-split
    * ordering through `SupportsReportOrdering` — so the merge join
    * of two such tables plans with ZERO exchanges (the SPJ report)
    * AND ZERO SortExec nodes (the ordering report). At 100 TB the
    * layout replaces both halves of a sort-merge join's cost: no
    * re-shuffle, no re-sort — read co-located buckets and merge in
    * place (the Hive/Iceberg bucketed-sorted table, as a pure DSv2
    * surface). The sort-elision claim is self-certifying: if the
    * files were NOT truly key-sorted, the sort-free merge join would
    * emit wrong rows and the hash gate goes red — correctness and
    * the plan shape are judged together.
    */
  def q175SortedSpj(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q175a")
    s.sql("DROP TABLE IF EXISTS graftcat.q175b")
    Tables.events(s, d).select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q175_events")
    for (t <- Seq("q175a", "q175b")) s.sql(s"""
      CREATE TABLE graftcat.$t (event_id BIGINT, cents BIGINT)
      PARTITIONED BY (bucket(8, event_id))
      TBLPROPERTIES ('statCol' = 'cents', 'sortcol' = 'event_id')""")
    s.sql("""
      INSERT INTO graftcat.q175a
      SELECT event_id, cents FROM q175_events""").collect(): Unit
    s.sql("""
      INSERT INTO graftcat.q175b
      SELECT event_id, cents * 2 FROM q175_events""").collect(): Unit
    val snap = SnapshotLake.snapshot(s"$catBase/q175a")
    val nFiles = snap.files.size.toLong
    val nSorted = snap.files.count(_.sorted.contains("event_id")).toLong
    val joined = s.sql("""
      SELECT /*+ MERGE(a) */ sum(a.cents + b.cents) AS sum_c3
      FROM graftcat.q175a a JOIN graftcat.q175b b
        ON a.event_id = b.event_id""")
    val jrow = joined.collect().head
    val jplan = joined.queryExecution.executedPlan
    val nShuffles = LakeScan.countShuffles(jplan).toLong
    val nSorts = LakeScan.countSorts(jplan).toLong
    val nMerge = jplan.toString.linesIterator
      .count(_.contains("SortMergeJoin")).toLong
    import s.implicits._
    Seq((nFiles, nSorted,
        // the single-row aggregate contributes the ONE exchange; the
        // join re-uses the bucketed layout (no exchange) and the
        // file order (no sort)
        nShuffles, nSorts, math.min(nMerge, 1L), jrow.getLong(0)))
      .toDF("n_files", "n_sorted_files", "n_shuffles_total",
        "n_sorts_total", "is_merge_join", "join_sum_c3")
  }

  /** Judged METADATA TABLES — `SELECT * FROM <cat>.t.files /
    * .partitions / .refs / .history`, the lake's own bookkeeping as
    * SQL relations (Iceberg's metadata-table surface): file-level
    * layout facts (rows, stat envelope, partition tags, sort stamps,
    * row-id bases), partition rollups, named refs, and the commit
    * history — all answered from manifest headers, zero data files
    * opened, planned as local scans. The certificate cross-checks
    * the META view against the DATA itself in one SQL statement
    * (sum(files.rows) must equal count(*) of the table), so a
    * manifest that lies about its files goes red. At 100 TB this is
    * the observability layer operations actually run on: layout
    * audits, small-file detection, retention planning — without
    * listing a directory.
    */
  def q177MetadataTables(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q177")
    Tables.events(s, d).select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q177_events")
    s.sql("""
      CREATE TABLE graftcat.q177 (event_id BIGINT, cents BIGINT)
      PARTITIONED BY (bucket(8, event_id))
      TBLPROPERTIES ('statCol' = 'cents', 'sortcol' = 'event_id')""")
    s.sql("""
      INSERT INTO graftcat.q177
      SELECT event_id, cents FROM q177_events""").collect(): Unit
    val root = s"$catBase/q177"
    SnapshotLake.createBranch(root, "wip")
    SnapshotLake.createTag(root, "rel-0", 0)
    // one SQL statement over THREE meta relations + the data table:
    // the meta↔data consistency equation rides the hash gate
    s.sql("""
      SELECT
        (SELECT count(*) FROM graftcat.q177.files) AS n_files,
        (SELECT count(*) FROM graftcat.q177.files
         WHERE sorted_by = 'event_id') AS n_sorted,
        (SELECT CAST(sum(rows) AS BIGINT) FROM graftcat.q177.files)
          AS files_rows,
        (SELECT count(*) FROM graftcat.q177) AS tbl_rows,
        (SELECT count(*) FROM graftcat.q177.partitions) AS n_partitions,
        (SELECT CAST(sum(n_rows) AS BIGINT)
         FROM graftcat.q177.partitions) AS part_rows,
        (SELECT count(*) FROM graftcat.q177.refs) AS n_refs,
        (SELECT count(*) FROM graftcat.q177.refs WHERE type = 'branch')
          AS n_branches,
        (SELECT CAST(max(version) AS BIGINT) FROM graftcat.q177.refs
         WHERE type = 'tag') AS tag_version,
        (SELECT count(*) FROM graftcat.q177.history) AS n_versions,
        (SELECT CAST(sum(cents) AS BIGINT) FROM graftcat.q177)
          AS sum_cents""")
  }

  /** Judged REMOVE ORPHAN FILES: two commits (the overwrite leaves
    * v0's files referenced ONLY by time travel), then the three
    * crashed-writer residues are planted — a staged task file whose
    * commit never published, an aborted job's data batch, a
    * deletion-vector stage file. The certificate: a grace-window CALL
    * removes NOTHING (in-flight-writer safety), the grace-0 CALL
    * removes exactly the three plants, every manifest-referenced file
    * is still on disk (counted from the filesystem against the union
    * of all retained manifests — so v0 stays time-travelable), and
    * the data answers are untouched. At 100 TB this is the verb that
    * keeps a crash-prone ingest's storage bounded: vacuum reclaims
    * only names its own manifests referenced; orphans are invisible
    * to it by definition.
    */
  def q178RemoveOrphans(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q178")
    Tables.events(s, d).select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q178_events")
    s.sql("""
      CREATE TABLE graftcat.q178 (
        event_id BIGINT, event_type STRING, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'cents')""")
    s.sql("INSERT INTO graftcat.q178 SELECT * FROM q178_events")
      .collect(): Unit
    s.sql("""INSERT OVERWRITE graftcat.q178
      SELECT * FROM q178_events WHERE event_type = 'click'""")
      .collect(): Unit
    val root = s"$catBase/q178"
    // plant the three orphan species
    val plants = Seq(
      Paths.get(root, "data", "b-orphan", "part-dead.parquet"),
      Paths.get(root, "_staging", "stale-task.parquet"),
      Paths.get(root, "_dv", "stage-dead.bin"))
    plants.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.write(p, "junk-bytes-never-read".getBytes): Unit
    }
    // grace window: freshly planted files are presumed in-flight
    val withGrace = s.sql("CALL graftcat.remove_orphans(" +
      "table => 'q178', grace_ms => 3600000)").head.getLong(0)
    val Array(removed, referenced) = s.sql(
      "CALL graftcat.remove_orphans(table => 'q178', grace_ms => 0)")
      .head match { case r => Array(r.getLong(0), r.getLong(1)) }
    // referenced files == the union of BOTH manifests' names, and
    // every one is still on disk
    val expected = (0 to SnapshotLake.headVersion(root))
      .flatMap(v => SnapshotLake.snapshot(root, Some(v)).files.map(_.name))
      .distinct
    val allOnDisk = expected.forall(n => Files.exists(Paths.get(root, n)))
    val plantedGone = plants.forall(p => !Files.exists(p))
    val v0Rows = s.sql(
      "SELECT count(*) FROM graftcat.q178 VERSION AS OF 0")
      .head.getLong(0)
    s.sql("""
      SELECT count(*) AS head_rows,
             CAST(sum(cents) AS BIGINT) AS head_cents
      FROM graftcat.q178""")
      .select(
        lit(withGrace).as("removed_with_grace"),
        lit(removed).as("orphans_removed"),
        lit(referenced == expected.size.toLong
          && allOnDisk).as("referenced_intact"),
        lit(plantedGone).as("planted_gone"),
        lit(v0Rows).as("v0_rows"),
        col("head_rows"), col("head_cents"))
  }

  /** Judged COMPOSED partition spec — `PARTITIONED BY (event_type,
    * bucket(4, event_id))`, the canonical identity+bucket lakehouse
    * layout: the clustered write lands ONE file per (type, bucket)
    * combination tagged at BOTH levels, the prune intersects
    * predicates on both columns (identity equality → bucket-count
    * files; point id → one file per type; both → exactly one file),
    * and the aggregates stay row-exact. At 100 TB this is the layout
    * that serves "one day, one shard" reads from manifest tags
    * alone — no listing, no footer I/O.
    */
  def q173ComposedPartition(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q173")
    Tables.events(s, d).select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q173_events")
    s.sql("""
      CREATE TABLE graftcat.q173 (
        event_type STRING, event_id BIGINT, cents BIGINT)
      PARTITIONED BY (event_type, bucket(4, event_id))
      TBLPROPERTIES ('statCol' = 'cents')""")
    s.sql("""
      INSERT INTO graftcat.q173
      SELECT event_type, event_id, cents FROM q173_events""")
      .collect(): Unit
    val snap = SnapshotLake.snapshot(s"$catBase/q173")
    val nTypes = s.sql(
      "SELECT count(DISTINCT event_type) FROM q173_events")
      .head().getLong(0)
    val bTag = graft.functions.GraftBucket.tagCol(4, "event_id")
    val nFiles = snap.files.size.toLong
    val nBoth = snap.files.count(f =>
      f.part.exists(_._1 == "event_type") &&
        f.part2.exists(_._1 == bTag)).toLong
    val nCombos = snap.files.flatMap(f =>
      for { p <- f.part; p2 <- f.part2 } yield (p._2, p2._2))
      .distinct.size.toLong
    def planned(df: DataFrame): Long = LakeScan
      .findIn(df.queryExecution.executedPlan)
      .map(_.files.length.toLong).getOrElse(-1L)
    val byType = s.table("graftcat.q173")
      .where(col("event_type") === "click")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
    val tRow = byType.collect().head
    val byId = s.table("graftcat.q173").where(col("event_id") === 41L)
      .agg(sum(col("cents")).as("c"))
    val idCents = byId.collect().head.getLong(0)
    val t41 = s.sql(
      "SELECT event_type FROM q173_events WHERE event_id = 41")
      .head().getString(0)
    val both = s.table("graftcat.q173")
      .where(col("event_type") === t41 && col("event_id") === 41L)
    val bothN = both.count()
    val agg = s.table("graftcat.q173")
      .agg(count(lit(1)), sum(col("cents"))).collect().head
    import s.implicits._
    Seq((nFiles, nBoth, nCombos, planned(byType), tRow.getLong(0),
        tRow.getLong(1), planned(byId) == nTypes, idCents,
        planned(both), bothN, agg.getLong(0), agg.getLong(1)))
      .toDF("n_files", "n_both_tagged", "n_combos", "type_planned",
        "type_rows", "type_cents", "id_planned_eq_types", "id_cents",
        "both_planned", "both_rows", "n_rows", "sum_cents")
  }

  /** Judged partition-level DML: on a fully tagged partitioned table,
    * `DELETE FROM t WHERE bucket4 = 3` is METADATA-ONLY (whole files
    * leave the manifest — hash-pinned by the after-files being a
    * strict subset of the before-files) and `INSERT OVERWRITE t
    * PARTITION (bucket4 = 2) SELECT …` swaps exactly that
    * partition's files for the new contents in ONE replace commit,
    * other partitions untouched. The final aggregate replays the
    * whole lifecycle arithmetic in DuckDB: total = buckets {0,1}
    * original + bucket 2 at 10× + bucket 3 gone.
    */
  def q153PartitionDml(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q153")
    Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 4).as("bucket4"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q153_events")
    s.sql("""
      CREATE TABLE graftcat.q153 (
        event_id BIGINT, bucket4 BIGINT, cents BIGINT)
      PARTITIONED BY (bucket4)
      TBLPROPERTIES ('statCol' = 'event_id')""")
    s.sql("""
      INSERT INTO graftcat.q153
      SELECT event_id, bucket4, cents FROM q153_events""").collect(): Unit
    val root = s"$catBase/q153"
    val v1Files = SnapshotLake.snapshot(root).files
    s.sql("DELETE FROM graftcat.q153 WHERE bucket4 = 3")
    val v2 = SnapshotLake.snapshot(root)
    val deleteMetadataOnly =
      v2.files.map(_.name).toSet.subsetOf(v1Files.map(_.name).toSet)
    s.sql("""
      INSERT OVERWRITE graftcat.q153 PARTITION (bucket4 = 2)
      SELECT event_id, cents * 10 FROM q153_events WHERE bucket4 = 2""")
      .collect(): Unit
    val v3 = SnapshotLake.snapshot(root)
    val agg = s.table("graftcat.q153")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .collect().head
    import s.implicits._
    Seq((v1Files.size.toLong, v2.files.size.toLong, deleteMetadataOnly,
        v3.files.size.toLong,
        v3.files.count(_.part.exists(_._2 == "2")).toLong,
        agg.getLong(0), agg.getLong(1)))
      .toDF("n_files_v1", "files_after_delete", "delete_metadata_only",
        "files_after_overwrite", "bucket2_files", "n_rows", "sum_cents")
  }

  /** Judged ENFORCED CHECK constraints (DSv2 constraints protocol):
    * the table declares `CHECK (cents >= 0)` at CREATE, the catalog
    * persists and SERVES it (`Table.constraints()`), and SPARK's
    * analyzer enforces it on every write — the valid bulk INSERT
    * lands, the violating INSERT throws and publishes NOTHING
    * (head version pinned unchanged), and `ALTER TABLE … ADD
    * CONSTRAINT` tightens the contract on a live table (the
    * now-too-large re-insert refused). Declarative data quality at
    * the table boundary — at 100 TB the constraint runs inside the
    * write's own codegen pass, not as a post-hoc audit query.
    */
  def q154CheckConstraints(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q154")
    Tables.events(s, d).select(col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q154_events")
    s.sql("""
      CREATE TABLE graftcat.q154 (
        event_id BIGINT, cents BIGINT,
        CONSTRAINT nonneg_cents CHECK (cents >= 0))
      TBLPROPERTIES ('statCol' = 'event_id')""")
    s.sql("""
      INSERT INTO graftcat.q154
      SELECT event_id, cents FROM q154_events""").collect(): Unit
    val root = s"$catBase/q154"
    val headAfterLoad = SnapshotLake.headVersion(root)
    val violationRefused =
      try {
        s.sql("INSERT INTO graftcat.q154 VALUES (-1, -5)").collect()
        false
      } catch { case _: Exception => true }
    val nothingPublished = SnapshotLake.headVersion(root) == headAfterLoad
    s.sql("""
      ALTER TABLE graftcat.q154
      ADD CONSTRAINT cents_cap CHECK (cents < 1000000000)""")
    val nConstraints = s.sessionState.catalogManager.catalog("graftcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(Identifier.of(Array.empty, "q154"))
      .constraints().length.toLong
    val capRefused =
      try {
        s.sql("INSERT INTO graftcat.q154 VALUES (2, 2000000000)").collect()
        false
      } catch { case _: Exception => true }
    val agg = s.table("graftcat.q154")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .collect().head
    import s.implicits._
    Seq((violationRefused, nothingPublished, capRefused, nConstraints,
        agg.getLong(0), agg.getLong(1)))
      .toDF("violation_refused", "nothing_published", "cap_refused",
        "n_constraints", "n_rows", "sum_cents")
  }

  /** Judged partition management (`SupportsPartitionManagement`):
    * `SHOW PARTITIONS` answers from the manifest's distinct tags —
    * zero data files opened — and `ALTER TABLE … DROP PARTITION`
    * routes to the metadata-only partition delete (hash-pinned: the
    * after-files are a strict subset of before). The re-listed
    * partitions and the surviving aggregate replay in DuckDB.
    */
  def q155PartitionManagement(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q155")
    Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 4).as("bucket4"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q155_events")
    s.sql("""
      CREATE TABLE graftcat.q155 (
        event_id BIGINT, bucket4 BIGINT, cents BIGINT)
      PARTITIONED BY (bucket4)
      TBLPROPERTIES ('statCol' = 'event_id')""")
    s.sql("""
      INSERT INTO graftcat.q155
      SELECT event_id, bucket4, cents FROM q155_events""").collect(): Unit
    val root = s"$catBase/q155"
    val shown = s.sql("SHOW PARTITIONS graftcat.q155")
      .collect().map(_.getString(0)).sorted.mkString(",")
    val before = SnapshotLake.snapshot(root).files
    s.sql("ALTER TABLE graftcat.q155 DROP PARTITION (bucket4 = 1)")
    val after = SnapshotLake.snapshot(root)
    val metadataOnly = after.files.map(_.name).toSet
      .subsetOf(before.map(_.name).toSet)
    val shownAfter = s.sql("SHOW PARTITIONS graftcat.q155")
      .collect().map(_.getString(0)).sorted.mkString(",")
    val agg = s.table("graftcat.q155")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .collect().head
    import s.implicits._
    Seq((shown, shownAfter, metadataOnly, after.files.size.toLong,
        agg.getLong(0), agg.getLong(1)))
      .toDF("partitions_before", "partitions_after",
        "drop_metadata_only", "n_files_after", "n_rows", "sum_cents")
  }

  /** Judged CLUSTER BY (Delta liquid-clustering economics): the DDL
    * records the two clustering columns, `CALL <cat>.cluster(...)`
    * applies the fixed-width Morton re-layout (16 buckets here), and
    * a 2-D box predicate through the DSv2 scan must READ EXACTLY the
    * 2 of 16 files whose z-prefix covers the box — the executed
    * plan's LakeScan is the certificate, hash-checked, so a broken
    * DDL→layout→prune chain goes red, not slow. Thresholds derive
    * from the same exact-integer 16-bit lattice the layout used
    * (q96's discipline), replayed independently by the oracle.
    */
  def q157ClusterBy(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q157")
    val ev = Tables.events(s, d).select(
      col("user_id"),
      expr("CAST(CAST(ts AS BIGINT) div 86400 AS BIGINT)").as("dy"),
      round(col("value") * 100).cast("long").as("cents"))
    ev.createOrReplaceTempView("q157_events")
    s.sql("""
      CREATE TABLE graftcat.q157 (user_id BIGINT, dy BIGINT, cents BIGINT)
      CLUSTER BY (user_id, dy)
      TBLPROPERTIES ('statCol' = 'user_id')""")
    s.sql("INSERT INTO graftcat.q157 SELECT * FROM q157_events")
      .collect(): Unit
    val rows = ev.count()
    val clustered = s.sql(s"""
      CALL graftcat.cluster(table => 'q157',
        target_rows => ${(rows + 15) / 16})""").collect().head
    val (nAfter, buckets) =
      (clustered.getLong(2), clustered.getLong(3))
    // query box on the layout's own 16-bit lattice (q96 thresholds:
    // top half of users × first quarter of days -> buckets {0100,0101})
    val b = ev.agg(min(col("user_id")), max(col("user_id")),
      min(col("dy")), max(col("dy"))).head()
    val (xLo, xHi, yLo, yHi) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    def ceilDiv(a: Long, q: Long): Long = (a + q - 1) / q
    val xq = xLo + ceilDiv(32768L * (xHi - xLo), 65535L)
    val yq = yLo + ceilDiv(16384L * (yHi - yLo), 65535L)
    val boxed = s.table("graftcat.q157")
      .where(col("user_id") >= xq && col("dy") < yq)
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    val agg = boxed.collect().head
    val scan = LakeScan.findIn(boxed.queryExecution.executedPlan)
      .getOrElse(throw new IllegalStateException(
        "no LakeScan in the executed q157 plan"))
    import s.implicits._
    Seq((buckets, nAfter, scan.effectiveFiles.size.toLong,
        agg.getLong(0), agg.getLong(1)))
      .toDF("n_buckets", "n_files_total", "n_files_read",
        "n_events", "sum_cents")
  }

  /** Judged column DEFAULT values (DSv2
    * SUPPORT_COLUMN_DEFAULT_VALUE): the full lifecycle — CREATE,
    * `ADD COLUMN … DEFAULT` (metadata-only, hash-pinned: zero files
    * touched), existence-default fill for pre-evolution rows, the
    * current default filling subset INSERTs, `SET DEFAULT` governing
    * only later inserts, and a CoW UPDATE materializing the exists
    * fill in rewritten files. DuckDB replays the whole timeline as a
    * CASE over the insert batches.
    */
  def q156ColumnDefaults(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q156")
    Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 4).as("b"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q156_events")
    s.sql("""
      CREATE TABLE graftcat.q156 (event_id BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'event_id')""")
    s.sql("""
      INSERT INTO graftcat.q156
      SELECT event_id, cents FROM q156_events WHERE b = 0""")
      .collect(): Unit
    val root = s"$catBase/q156"
    val before = SnapshotLake.snapshot(root)
    s.sql(
      "ALTER TABLE graftcat.q156 ADD COLUMN src STRING DEFAULT 'legacy'")
    val after = SnapshotLake.snapshot(root)
    val addMetadataOnly = after.version == before.version + 1 &&
      after.files.map(_.name) == before.files.map(_.name)
    s.sql("""
      INSERT INTO graftcat.q156
      SELECT event_id, cents, 'new' FROM q156_events WHERE b = 1""")
      .collect(): Unit
    s.sql("""
      INSERT INTO graftcat.q156 (event_id, cents)
      SELECT event_id, cents FROM q156_events WHERE b = 2""")
      .collect(): Unit
    s.sql("ALTER TABLE graftcat.q156 ALTER COLUMN src SET DEFAULT 'fresh'")
    s.sql("""
      INSERT INTO graftcat.q156 (event_id, cents)
      SELECT event_id, cents FROM q156_events WHERE b = 3""")
      .collect(): Unit
    // CoW rewrite of the pre-evolution files: the exists fill must
    // materialize as 'legacy' in every rewritten row
    s.sql("""
      UPDATE graftcat.q156 SET cents = cents + 1
      WHERE event_id % 4 = 0""").collect(): Unit
    s.table("graftcat.q156")
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .withColumn("add_metadata_only", lit(addMetadataOnly))
      .orderBy(col("src"))
  }

  /** Judged streaming CHANGE DATA FEED: a `changefeed=true` table
    * mutates through SQL (an INSERT, a MERGE emitting updates AND
    * inserts in one CoW commit, a CoW DELETE — every change class
    * the feed classifies, in three versions) and an AvailableNow
    * stream with `readChangeFeed=true`
    * drains the classified per-version change sets — inserts derived
    * from the manifest diff, rewrites replayed from the `_changes`
    * sidecars the mutations materialized. The (version, change_type)
    * counts and cents sums are the certificate: DuckDB replays the
    * whole timeline's change algebra from the events table, so a
    * wrong classification, a leaked carried-unchanged row, or a
    * missed sidecar all flip the hash. The q118 follower-replication
    * economics, now as a stream: a 100 TB follower moves only
    * changed rows, planned from KB-scale manifest metadata.
    */
  def q158StreamCdf(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q158")
    Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 4).as("b"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q158_events")
    s.sql("""
      CREATE TABLE graftcat.q158 (event_id BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'event_id', 'changefeed' = 'true')""")
    // THREE versions cover every change class the feed classifies
    // (the q159 trim, applied here): v0 manifest-diff inserts, v1 a
    // MERGE whose one CoW commit emits BOTH sidecar updates (matched
    // b=0) and inserts (unmatched b=1), v2 CoW deletes. Same
    // classification contract as the old 5-version timeline, two
    // fewer fixture DMLs per bench run.
    s.sql("""INSERT INTO graftcat.q158
             SELECT event_id, cents FROM q158_events WHERE b = 0""")
      .collect(): Unit // v0
    s.sql("""
      MERGE INTO graftcat.q158 AS t
      USING (SELECT event_id, cents + 1000 AS cents
             FROM q158_events WHERE b IN (0, 1)) AS u
      ON t.event_id = u.event_id
      WHEN MATCHED THEN UPDATE SET cents = u.cents
      WHEN NOT MATCHED THEN INSERT (event_id, cents)
        VALUES (u.event_id, u.cents)""").collect(): Unit // v1, CoW
    s.sql("""DELETE FROM graftcat.q158
             WHERE event_id % 10 = 3""").collect(): Unit // v2, CoW
    val outRoot = Housekeeping.tempDir("q158_out")
    val (sink, chk) = (s"$outRoot/data", s"$outRoot/chk")
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    val q = ss.readStream.format("graft.sources.GraftLakeSource")
      .option("path", s"$catBase/q158")
      .option("readChangeFeed", "true").load()
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    require(q.awaitTermination(180000),
      "CDF AvailableNow drain did not self-terminate")
    s.read.parquet(sink)
      .groupBy(col("_commit_version").as("commit_version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .orderBy(col("commit_version"), col("change_type"))
  }

  /** Judged streaming CDC REPLICATION — the apply side of q158's
    * change feed: a follower lake tracks the mutating source by
    * draining the CDF stream through `foreachBatch`, merging each
    * version's change set (insert/update → upsert, delete → key
    * delete) in commit order. The certificate is the replication
    * contract itself: `n_diff` counts the symmetric difference
    * between follower and source after the drain and rides the row
    * as a hash-checked 0, with the follower's row count and cents
    * sum replayed closed-form by DuckDB. At 100 TB the follower
    * moves only changed rows per version — never a table copy.
    */
  def q159CdcReplication(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q159")
    Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 4).as("b"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q159_events")
    s.sql("""
      CREATE TABLE graftcat.q159 (event_id BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'event_id', 'changefeed' = 'true')""")
    // three versions cover the full change-type surface the follower
    // must apply — the MERGE lands updates (b = 0 matches) AND
    // inserts (b = 1 is new) in one commit, so insert/update/delete
    // all replay without the two extra versions earlier rounds paid
    s.sql("""INSERT INTO graftcat.q159
             SELECT event_id, cents FROM q159_events WHERE b = 0""")
      .collect(): Unit // v0
    s.sql("""
      MERGE INTO graftcat.q159 AS t
      USING (SELECT event_id, cents + 1000 AS cents
             FROM q159_events WHERE b IN (0, 1)) AS u
      ON t.event_id = u.event_id
      WHEN MATCHED THEN UPDATE SET cents = u.cents
      WHEN NOT MATCHED THEN INSERT (event_id, cents)
        VALUES (u.event_id, u.cents)""").collect(): Unit // v1, CoW
    s.sql("""DELETE FROM graftcat.q159
             WHERE event_id % 10 = 3""").collect(): Unit // v2, CoW
    val srcRoot = s"$catBase/q159"
    val follower = Housekeeping.tempDir("q159_follower")
    val chk = Housekeeping.tempDir("q159_chk")
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    val q = ss.readStream.format("graft.sources.GraftLakeSource")
      .option("path", srcRoot).option("readChangeFeed", "true").load()
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the CDF batch is a computed diff (key-diff joins on CoW
        // versions) and the merge below takes several actions over
        // it — cache once per micro-batch or every action replays
        // the diff from the source versions
        val b = batch.persist()
        try {
          val ups = b
            .where(col("_change_type").isin("insert", "update"))
            .select(col("event_id"), col("cents"))
          val dels = b.where(col("_change_type") === "delete")
            .select(col("event_id"))
          if (SnapshotLake.headVersion(follower) < 0)
            SnapshotLake.commit(ss, follower, ups, "event_id"): Unit
          else SnapshotLake.merge(ss, follower, ups, dels): Unit
        } finally b.unpersist(): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    require(q.awaitTermination(180000),
      "CDC replication drain did not self-terminate")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    val f = SnapshotLake.read(s, follower)
      .select(col("event_id"), col("cents"))
    val src = s.table("graftcat.q159")
      .select(col("event_id"), col("cents"))
    // multiset symmetric difference in ONE shuffle round (the shared
    // replication-certificate helper)
    val nDiff = SnapshotLake.multisetDiffCount(f, src,
      Seq("event_id", "cents"))
    f.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(lit(nDiff).as("n_diff"),
        lit(batches).cast("long").as("n_batches"),
        col("n_rows"), col("sum_cents"))
  }

  /** Judged BATCH change-feed read (Delta's `startingVersion`/
    * `endingVersion` contract, both bounds inclusive): after a
    * three-version timeline, `startingVersion = 1` must replay
    * exactly v1's derived inserts plus v2's sidecar updates — v0
    * excluded by the range, nothing re-read from untouched files.
    * DuckDB replays the per-(version, type) change algebra.
    */
  def q160BatchCdf(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftcat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.graftcat.root", catBase)
    s.sql("DROP TABLE IF EXISTS graftcat.q160")
    Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 4).as("b"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("q160_events")
    s.sql("""
      CREATE TABLE graftcat.q160 (event_id BIGINT, cents BIGINT)
      TBLPROPERTIES ('statCol' = 'event_id', 'changefeed' = 'true')""")
    s.sql("""INSERT INTO graftcat.q160
             SELECT event_id, cents FROM q160_events WHERE b = 0""")
      .collect(): Unit // v0
    s.sql("""INSERT INTO graftcat.q160
             SELECT event_id, cents FROM q160_events WHERE b = 1""")
      .collect(): Unit // v1
    s.sql("""UPDATE graftcat.q160 SET cents = cents + 7
             WHERE event_id % 10 = 3""").collect(): Unit // v2, CoW
    s.read.format("graft.sources.GraftLakeSource")
      .option("path", s"$catBase/q160")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").load()
      .groupBy(col("_commit_version").as("commit_version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .orderBy(col("commit_version"), col("change_type"))
  }

  // the e1/e3 cosine replay (list ops accumulate in index order, the
  // same IEEE order the engine uses)
  private def cosOracleSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
       |      (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |       sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q166_bucket_spj", q166BucketSpj, Some("""
      WITH e AS (SELECT event_id,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(8 AS BIGINT) AS n_files,
             CAST(8 AS BIGINT) AS n_tagged,
             CAST(8 AS BIGINT) AS n_buckets_distinct,
             CAST(1 AS BIGINT) AS pruned_files_planned,
             (SELECT count(*) FROM e WHERE event_id = 0)
               AS pruned_n_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE event_id = 0) AS pruned_cents,
             CAST(1 AS BIGINT) AS n_shuffles_total,
             CAST(2 AS BIGINT) AS n_keygrouped_scans,
             (SELECT CAST(sum(3 * cents) AS BIGINT) FROM e)
               AS join_sum_c3""")),
    Q("q184_time_retention", q184TimeRetention, Some("""
      WITH e AS (SELECT event_id, event_id % 4 AS b,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(2 AS BIGINT) AS n_dropped,
             (SELECT count(*) FROM e WHERE b = 2) AS v2_rows,
             TRUE AS v1_gone,
             TRUE AS v0_gone,
             (SELECT count(*) FROM e WHERE b IN (2, 3)) AS head_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE b IN (2, 3)) AS head_cents""")),
    Q("q183_partition_evolution", q183PartitionEvolution, Some("""
      WITH e AS (SELECT event_id AS k,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events WHERE event_id < 1000)
      SELECT
        (SELECT count(DISTINCT k - k % 100) FROM e WHERE k < 500)
          AS n_files_w100,
        (SELECT count(DISTINCT k - k % 50) FROM e WHERE k >= 500)
          AS n_files_w50,
        CAST(4 AS BIGINT) AS seam_files_planned,
        (SELECT count(*) FROM e
         WHERE k >= 350 AND k < 570) AS seam_rows,
        (SELECT CAST(sum(cents) AS BIGINT) FROM e
         WHERE k >= 350 AND k < 570) AS seam_cents,
        CAST(1 AS BIGINT) AS point_files_planned,
        (SELECT CAST(sum(cents) AS BIGINT) FROM e
         WHERE k = 450) AS point_cents""")),
    Q("q182_orphan_inventory", q182OrphanInventory, Some("""
      WITH e AS (SELECT event_id,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events WHERE event_id % 2 = 0)
      SELECT CAST(64 AS BIGINT) AS n_orphans,
             CAST(2080 AS BIGINT) AS orphan_bytes,
             CAST(64 AS BIGINT) AS n_removed,
             CAST(0 AS BIGINT) AS n_after,
             TRUE AS no_driver_walk,
             (SELECT count(*) FROM e) AS head_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e) AS head_cents""")),
    Q("q189_identity_column", q189IdentityColumn, Some("""
      SELECT count(*) AS n_rows,
             TRUE AS ids_unique,
             TRUE AS on_grid,
             TRUE AS commits_monotonic,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events""")),
    Q("q187_merge_by_source", q187MergeBySource, Some("""
      WITH e AS (SELECT event_id, event_id % 4 AS b,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT b, count(*) AS n,
             CAST(sum(cents + 500) AS BIGINT) AS c
      FROM e WHERE b IN (1, 2)
      GROUP BY b ORDER BY b""")),
    Q("q186_add_files", q186AddFiles, Some("""
      WITH e AS (SELECT event_id,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      sp AS (SELECT max(event_id) + 1 AS span FROM e)
      SELECT CAST(3 AS BIGINT) AS head_version,
             CAST(2 AS BIGINT) AS n_borrowed,
             TRUE AS import_metadata_only,
             CAST(1 AS BIGINT) AS lo_files_planned,
             (SELECT count(*) FROM e, sp
              WHERE event_id < span // 3) AS lo_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e, sp
              WHERE event_id < span // 3) AS lo_cents,
             CAST(1 AS BIGINT) AS borrowed_after_delete,
             TRUE AS externals_intact,
             (SELECT count(*) FROM e, sp
              WHERE NOT (event_id >= span // 3
                         AND event_id < 2 * span // 3
                         AND event_id % 10 = 7)) AS total_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e, sp
              WHERE NOT (event_id >= span // 3
                         AND event_id < 2 * span // 3
                         AND event_id % 10 = 7)) AS total_cents""")),
    Q("q185_utf8_range_prune", q185Utf8RangePrune, Some("""
      WITH p AS (SELECT * FROM (VALUES
             (0, chr(233)), (1, chr(20013)),
             (2, chr(65513)), (3, chr(128512))) AS t(j, pfx)),
      e AS MATERIALIZED (
        SELECT pfx || '-' || CAST(event_id AS VARCHAR) AS doc,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events JOIN p ON CAST(event_id % 4 AS INTEGER) = j
        WHERE event_id < 1000
        UNION ALL
        SELECT pfx AS doc, CAST(1001 + j AS BIGINT) AS cents FROM p
      )
      SELECT CAST(8 AS BIGINT) AS n_files,
             CAST(4 AS BIGINT) AS band_files_planned,
             (SELECT count(*) FROM e
              WHERE doc >= chr(20013) AND doc < chr(128512)) AS band_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE doc >= chr(20013) AND doc < chr(128512)) AS band_cents,
             CAST(1 AS BIGINT) AS gt_files_planned,
             (SELECT count(*) FROM e WHERE doc > chr(128512)) AS gt_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE doc > chr(128512)) AS gt_cents,
             CAST(2 AS BIGINT) AS ge_files_planned,
             (SELECT count(*) FROM e WHERE doc >= chr(128512)) AS ge_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE doc >= chr(128512)) AS ge_cents""")),
    Q("q181_truncate_string_range", q181TruncateStringRange, Some("""
      WITH e AS (SELECT 'e' || CAST(event_id % 8 AS VARCHAR) || '-' ||
                        CAST(event_id AS VARCHAR) AS doc,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(8 AS BIGINT) AS n_files,
             CAST(3 AS BIGINT) AS band_files_planned,
             (SELECT count(*) FROM e
              WHERE doc >= 'e2' AND doc < 'e5') AS band_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE doc >= 'e2' AND doc < 'e5') AS band_cents,
             CAST(2 AS BIGINT) AS tail_files_planned,
             (SELECT count(*) FROM e WHERE doc >= 'e6-1') AS tail_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE doc >= 'e6-1') AS tail_cents""")),
    Q("q180_generated_partition", q180GeneratedPartition, Some("""
      WITH e AS (SELECT event_id AS ts,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(2 AS BIGINT) AS range_files_planned,
             (SELECT count(*) FROM e
              WHERE ts BETWEEN 200 AND 399) AS range_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE ts BETWEEN 200 AND 399) AS range_cents,
             CAST(1 AS BIGINT) AS point_files_planned,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE ts = 250) AS point_cents,
             (SELECT count(*) FROM e WHERE ts < 2000) AS total_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE ts < 2000) AS total_cents""")),
    Q("q179_truncate_transform", q179TruncateTransform, Some("""
      WITH e AS (SELECT concat('e', CAST(event_id % 8 AS VARCHAR),
                               '-', CAST(event_id AS VARCHAR)) AS doc,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(8 AS BIGINT) AS n_files,
             CAST(8 AS BIGINT) AS n_tagged,
             CAST(8 AS BIGINT) AS n_groups_distinct,
             CAST(1 AS BIGINT) AS pruned_files_planned,
             (SELECT count(*) FROM e WHERE doc = 'e1-41')
               AS pruned_n_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE doc = 'e1-41') AS pruned_cents,
             CAST(1 AS BIGINT) AS n_shuffles_total,
             CAST(2 AS BIGINT) AS n_keygrouped_scans,
             (SELECT CAST(sum(3 * cents) AS BIGINT) FROM e)
               AS join_sum_c3""")),
    Q("q178_remove_orphans", q178RemoveOrphans, Some("""
      WITH e AS (SELECT event_id, event_type,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(0 AS BIGINT) AS removed_with_grace,
             CAST(3 AS BIGINT) AS orphans_removed,
             TRUE AS referenced_intact,
             TRUE AS planted_gone,
             (SELECT count(*) FROM e) AS v0_rows,
             (SELECT count(*) FROM e WHERE event_type = 'click')
               AS head_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE event_type = 'click') AS head_cents""")),
    Q("q177_metadata_tables", q177MetadataTables, Some("""
      WITH e AS (SELECT event_id,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(8 AS BIGINT) AS n_files,
             CAST(8 AS BIGINT) AS n_sorted,
             (SELECT count(*) FROM e) AS files_rows,
             (SELECT count(*) FROM e) AS tbl_rows,
             CAST(8 AS BIGINT) AS n_partitions,
             (SELECT count(*) FROM e) AS part_rows,
             CAST(2 AS BIGINT) AS n_refs,
             CAST(1 AS BIGINT) AS n_branches,
             CAST(0 AS BIGINT) AS tag_version,
             CAST(1 AS BIGINT) AS n_versions,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e) AS sum_cents""")),
    Q("q175_sorted_spj", q175SortedSpj, Some("""
      WITH e AS (SELECT event_id,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(8 AS BIGINT) AS n_files,
             CAST(8 AS BIGINT) AS n_sorted_files,
             CAST(1 AS BIGINT) AS n_shuffles_total,
             CAST(0 AS BIGINT) AS n_sorts_total,
             CAST(1 AS BIGINT) AS is_merge_join,
             (SELECT CAST(sum(3 * cents) AS BIGINT) FROM e)
               AS join_sum_c3""")),
    Q("q173_composed_partition", q173ComposedPartition, Some("""
      WITH e AS (SELECT event_id, event_type,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
           t AS (SELECT count(DISTINCT event_type) AS nt FROM e)
      SELECT (SELECT nt FROM t) * 4 AS n_files,
             (SELECT nt FROM t) * 4 AS n_both_tagged,
             (SELECT nt FROM t) * 4 AS n_combos,
             CAST(4 AS BIGINT) AS type_planned,
             (SELECT count(*) FROM e WHERE event_type = 'click')
               AS type_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE event_type = 'click') AS type_cents,
             TRUE AS id_planned_eq_types,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE event_id = 41) AS id_cents,
             CAST(1 AS BIGINT) AS both_planned,
             CAST(1 AS BIGINT) AS both_rows,
             (SELECT count(*) FROM e) AS n_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e) AS sum_cents""")),
    Q("q170_bucket_spj_string", q170BucketSpjString, Some("""
      WITH e AS (SELECT concat('e-', CAST(event_id AS VARCHAR)) AS doc,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(8 AS BIGINT) AS n_files,
             CAST(8 AS BIGINT) AS n_tagged,
             CAST(8 AS BIGINT) AS n_buckets_distinct,
             CAST(1 AS BIGINT) AS pruned_files_planned,
             (SELECT count(*) FROM e WHERE doc = 'e-0')
               AS pruned_n_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE doc = 'e-0') AS pruned_cents,
             CAST(1 AS BIGINT) AS n_shuffles_total,
             CAST(2 AS BIGINT) AS n_keygrouped_scans,
             (SELECT CAST(sum(3 * cents) AS BIGINT) FROM e)
               AS join_sum_c3""")),
    Q("q160_batch_cdf", q160BatchCdf, Some("""
      WITH e AS (SELECT event_id, event_id % 4 AS b,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(1 AS BIGINT) AS commit_version, 'insert' AS change_type,
             count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
      FROM e WHERE b = 1
      UNION ALL
      SELECT 2, 'update', count(*), CAST(sum(cents + 7) AS BIGINT)
      FROM e WHERE b IN (0, 1) AND event_id % 10 = 3
      ORDER BY 1, 2""")),
    Q("q159_cdc_replication", q159CdcReplication, Some("""
      WITH e AS (SELECT event_id, event_id % 4 AS b,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      fin AS (SELECT event_id, cents FROM e
              WHERE b IN (0, 1) AND event_id % 10 <> 3)
      SELECT CAST(0 AS BIGINT) AS n_diff,
             CAST(3 AS BIGINT) AS n_batches,
             count(*) AS n_rows,
             CAST(sum(cents + 1000) AS BIGINT) AS sum_cents
      FROM fin""")),
    Q("q158_stream_cdf", q158StreamCdf, Some("""
      WITH e AS (SELECT event_id, event_id % 4 AS b,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(0 AS BIGINT) AS commit_version, 'insert' AS change_type,
             count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
      FROM e WHERE b = 0
      UNION ALL
      SELECT 1, 'insert', count(*), CAST(sum(cents + 1000) AS BIGINT)
      FROM e WHERE b = 1
      UNION ALL
      SELECT 1, 'update', count(*), CAST(sum(cents + 1000) AS BIGINT)
      FROM e WHERE b = 0
      UNION ALL
      SELECT 2, 'delete', count(*), CAST(sum(cents + 1000) AS BIGINT)
      FROM e WHERE b IN (0, 1) AND event_id % 10 = 3
      ORDER BY 1, 2""")),
    Q("q157_cluster_by", q157ClusterBy, Some("""
      WITH ev AS (SELECT user_id,
                         CAST(floor(date_part('epoch', ts)) AS BIGINT)
                           // 86400 AS dy,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events),
      b AS (SELECT min(user_id) AS xlo, max(user_id) AS xhi,
                   min(dy) AS ylo, max(dy) AS yhi FROM ev),
      q AS (SELECT xlo + (32768 * (xhi - xlo) + 65534) // 65535 AS xq,
                   ylo + (16384 * (yhi - ylo) + 65534) // 65535 AS yq
            FROM b)
      SELECT CAST(16 AS BIGINT) AS n_buckets,
             CAST(16 AS BIGINT) AS n_files_total,
             CAST(2 AS BIGINT) AS n_files_read,
             count(*) AS n_events,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM ev, q WHERE user_id >= q.xq AND dy < q.yq""")),
    Q("q156_column_defaults", q156ColumnDefaults, Some("""
      WITH e AS (SELECT event_id, event_id % 4 AS b,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CASE WHEN b = 1 THEN 'new'
                  WHEN b = 3 THEN 'fresh'
                  ELSE 'legacy' END AS src,
             count(*) AS n,
             CAST(SUM(cents + CASE WHEN b = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS c,
             TRUE AS add_metadata_only
      FROM e GROUP BY 1 ORDER BY 1""")),
    Q("q155_partition_management", q155PartitionManagement, Some("""
      WITH e AS (SELECT event_id, event_id % 4 AS bucket4,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT 'bucket4=0,bucket4=1,bucket4=2,bucket4=3'
               AS partitions_before,
             'bucket4=0,bucket4=2,bucket4=3' AS partitions_after,
             TRUE AS drop_metadata_only,
             CAST(3 AS BIGINT) AS n_files_after,
             count(*) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM e WHERE bucket4 <> 1""")),
    Q("q154_check_constraints", q154CheckConstraints, Some("""
      SELECT TRUE AS violation_refused,
             TRUE AS nothing_published,
             TRUE AS cap_refused,
             CAST(2 AS BIGINT) AS n_constraints,
             count(*) AS n_rows,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events""")),
    Q("q153_partition_dml", q153PartitionDml, Some("""
      WITH e AS (SELECT event_id, event_id % 4 AS bucket4,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(4 AS BIGINT) AS n_files_v1,
             CAST(3 AS BIGINT) AS files_after_delete,
             TRUE AS delete_metadata_only,
             CAST(3 AS BIGINT) AS files_after_overwrite,
             CAST(1 AS BIGINT) AS bucket2_files,
             (SELECT count(*) FROM e WHERE bucket4 <> 3) AS n_rows,
             (SELECT CAST(sum(CASE WHEN bucket4 = 2 THEN 10 * cents
                                   ELSE cents END) AS BIGINT)
              FROM e WHERE bucket4 <> 3) AS sum_cents""")),
    Q("q152_sql_partitioned_table", q152SqlPartitionedTable, Some("""
      WITH e AS (SELECT event_id, event_id % 4 AS bucket4,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events)
      SELECT CAST(4 AS BIGINT) AS n_files,
             CAST(4 AS BIGINT) AS n_tagged,
             '0,1,2,3' AS tag_values,
             CAST(1 AS BIGINT) AS pruned_files_planned,
             (SELECT count(*) FROM e WHERE bucket4 = 2) AS pruned_n_rows,
             (SELECT CAST(sum(cents) AS BIGINT) FROM e
              WHERE bucket4 = 2) AS pruned_sum_cents,
             CAST(1 AS BIGINT) AS n_shuffles_total,
             (SELECT CAST(sum(3 * cents) AS BIGINT) FROM e)
               AS join_sum_c3""")),
    Q("q147_sql_scalar_functions", q147SqlScalarFunctions, Some(s"""
      SELECT d.doc_id,
             CAST(len(regexp_split_to_array(trim(d.text), '\\s+'))
                  AS INTEGER) AS n_tokens,
             ${cosOracleSql("e.embedding", "q.embedding")} AS cos_q0
      FROM documents d
      JOIN embeddings e ON e.vec_id = d.doc_id
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      ORDER BY d.doc_id""")),
    Q("q148_sql_agg_function", q148SqlAggFunction, Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents,
             count(*) AS n_items
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")),
    Q("q143_lake_sql_maintenance", q143LakeSqlMaintenance, Some("""
      WITH ec AS (SELECT event_id,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events)
      SELECT CAST(4 AS BIGINT) AS opt_files_before,
             CAST(1 AS BIGINT) AS opt_files_after,
             CAST(4 AS BIGINT) AS opt_files_compacted,
             CAST(5 AS BIGINT) AS restored_head,
             CAST(5 AS BIGINT) AS vacuum_manifests_dropped,
             count(*) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM ec WHERE event_id % 4 IN (0, 1)""")),
    Q("q141_lake_sql_ddl", q141LakeSqlDdl, Some("""
      WITH ec AS (SELECT event_id,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events)
      SELECT CAST(4 AS BIGINT) AS head_version,
             'event_id,amount_cents' AS cols,
             'event_id,cents' AS v0_cols,
             (SELECT count(*) FROM ec WHERE event_id % 2 = 0) AS v0_rows,
             CAST(0 AS BIGINT) AS files_touched_by_ddl,
             count(*) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM ec""")))
}
