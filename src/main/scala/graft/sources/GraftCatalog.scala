package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Path-addressed DSv2 catalog over [[ManifestTable]] stores — the thin
  * naming layer SQL row-level statements need: `DELETE FROM` / `MERGE
  * INTO` resolve their target through a TableCatalog, never through
  * `spark.read`, so without a catalog the manifest table's delete/merge
  * commit machinery is unreachable from SQL.
  *
  * The identifier IS the filesystem path (backtick-quoted):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
  *   spark.sql("DELETE FROM graft_cat.`/data/orders_store` WHERE k IN (1, 2)")
  *   spark.sql("SELECT * FROM graft_cat.`/data/orders_store`")
  * }}}
  *
  * There is no create/drop surface here — stores are created by writing
  * through the DSv2 format (`df.write.format("graft.sources.ManifestTable")`)
  * and a table "exists" exactly when its directory holds a committed
  * manifest. A production catalog would back names with a metastore; the
  * path addressing keeps the SQL surface honest without one (Delta's
  * `delta.`/path/`` shape).
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = "graft_cat"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  /** ident namespace must be empty (the whole path is one backtick-quoted
    * name part); dotted multipart idents would ambiguously re-split paths
    * containing dots, so they are rejected rather than joined.
    */
  private def pathOf(ident: Identifier): String = {
    if (ident.namespace().nonEmpty)
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    ident.name()
  }

  override def loadTable(ident: Identifier): Table = {
    val path = pathOf(ident)
    if (!Files.isDirectory(Paths.get(path)) ||
      ManifestTable.currentManifestShallow(path).isEmpty)
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    new ManifestTbl(path, ManifestTable.readSchemaFromManifest(path),
      writeDefaults = ManifestTable.tableLayout(path))
  }

  /** SQL time travel: `SELECT … FROM graft_cat.\`path\` VERSION AS OF n`
    * resolves here — the table arrives pinned to snapshot n (the same
    * immutable manifest `.option("version", n)` reads).
    *
    * ONE schema contract for both time-travel spellings (round 16;
    * previously this surface served version n's own narrow DDL while
    * the DataFrame option served the current one — self-consistent
    * each, but a query moved between spellings changed schema): time
    * travel pins the FILE SET, the schema is always the table's
    * CURRENT DDL — pre-evolution rows null-pad the trailing columns,
    * exactly like a current-snapshot read of old files. A version
    * written before a truncating re-schema decodes under the current
    * DDL too (parquet reads by name: dropped/renamed columns read
    * null); clone the old version for schema-faithful archaeology.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    val v = try version.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft_cat VERSION AS OF takes the integer manifest version, got '$version'")
    }
    // existence check for the pinned version (vacuumed/future versions
    // must fail at resolution, not scan time)
    try ManifestTable.manifestAtRaw(path, Some(v)).getOrElse(
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq))
    catch {
      case _: IllegalArgumentException =>
        throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    }
    new ManifestTbl(path, ManifestTable.readSchemaFromManifest(path),
      pinnedVersion = Some(v))
  }

  /** `TIMESTAMP AS OF <ts>`: resolves to the newest version committed at
    * or before `ts` via the wall-time each commit stamps INSIDE its
    * atomically published manifest header
    * ([[ManifestTable.CommitMsTag]] — a durable commit attribute, unlike
    * file mtimes, and monotonic per table so resolution is unambiguous).
    * Spark hands the evaluated timestamp expression down as MICROSECONDS
    * since the epoch. A timestamp before every retained commit (or a
    * legacy store with no recorded commit times) fails loudly — never a
    * silent nearest-version guess.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = pathOf(ident)
    if (ManifestTable.currentManifestShallow(path).isEmpty)
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    val v = ManifestTable.versionAtTimestamp(path, Math.floorDiv(timestamp, 1000L))
    val (_, _, ddl) = ManifestTable.manifestAtRaw(path, Some(v)).get
    new ManifestTbl(path, StructType.fromDDL(ddl), pinnedVersion = Some(v))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  /** `CREATE TABLE graft_cat.\`/path\` (…) [PARTITIONED BY (…)]
    * [TBLPROPERTIES ('codec'='…')] [AS SELECT …]`: commits an EMPTY
    * manifest-1 carrying the declared schema — so a plain CREATE yields
    * a readable zero-row table and a CTAS's rows land as version 2
    * through the ordinary append write. PARTITIONED BY maps onto the
    * store's layouts: `(col)` → the identity-partitioned writer
    * (`@col=v:v` fields), `(bucket(n, col))` → the bucketed writer
    * (`@bucket(col,n)` fields); any other transform is rejected loudly.
    * Create-only: a path that already holds a committed manifest refuses
    * (no silent overwrite; REPLACE TABLE is deliberately unsupported,
    * like DROP).
    */
  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val path = pathOf(ident)
    if (ManifestTable.currentManifestShallow(path).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    val codec = Option(properties.get("codec"))
      .getOrElse(ManifestCodec.DefaultCodec)
    ManifestCodec.extOf(codec)
    ManifestCodec.requireWritable(codec, schema)
    // per-file string blooms declared at CREATE time persist with the
    // layout: TBLPROPERTIES('bloomCols'='url,doc_sha'[, 'bloomBits'='2048'])
    val bloomProps: Map[String, String] =
      Option(properties.get("bloomCols")).map { cs =>
        cs.split(',').map(_.trim).filter(_.nonEmpty).foreach { c =>
          val f = schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"graft_cat CREATE TABLE: bloomCols '$c' is not in the schema"))
          require(f.dataType == org.apache.spark.sql.types.StringType,
            s"graft_cat CREATE TABLE: bloomCols are for STRING columns; '$c' is ${f.dataType}")
        }
        Map("bloomCols" -> cs) ++
          Option(properties.get("bloomBits")).map("bloomBits" -> _)
      }.getOrElse(Map.empty)
    val layout: Map[String, String] = partitions.toSeq match {
      case Seq() => Map.empty
      // one bucket transform, alone
      case Seq(t) if t.name() == "bucket" =>
        import org.apache.spark.sql.connector.expressions.{Literal => VLit}
        val r = t.references().toSeq match {
          case Seq(one) => one
          case _ => throw new UnsupportedOperationException(
            s"graft_cat CREATE TABLE: bucket transform needs one column: ${t.describe()}")
        }
        val n = t.arguments().toSeq.collectFirst {
          case l: VLit[_] if l.value().isInstanceOf[Number] =>
            l.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new UnsupportedOperationException(
          s"graft_cat CREATE TABLE: bucket transform without a numBuckets literal: ${t.describe()}"))
        Map("bucketCol" -> r.fieldNames().mkString("."),
          "bucketCount" -> n.toString)
      // one or more identity columns → multi-dimension layout (a,b)
      case ts if ts.forall(t => t.name() == "identity" &&
          t.references().length == 1) =>
        Map("partitionCol" ->
          ts.map(_.references()(0).fieldNames().mkString(".")).mkString(","))
      case ts => throw new UnsupportedOperationException(
        s"graft_cat CREATE TABLE: unsupported partition spec " +
          s"${ts.map(_.describe()).mkString(", ")} — use PARTITIONED BY " +
          "(col, ...) or PARTITIONED BY (bucket(n, col))")
    }
    val defaults = layout ++ bloomProps ++ Map("codec" -> codec)
    // the layout is TABLE METADATA: persisted in the manifest header so
    // every later INSERT/append inherits it, not a per-write courtesy
    ManifestTable.createEmpty(path, schema, defaults)
    new ManifestTbl(path, schema, writeDefaults = defaults)
  }

  /** `ALTER TABLE … ADD COLUMN(S)` routes onto the store's additive
    * prefix-evolution commit ([[ManifestTable.alterAddColumns]]) —
    * trailing, nullable, top-level columns only. Everything else
    * (rename/retype/reorder/drop, nested fields, positioned adds)
    * stays loudly rejected: rows are token-positional, so any
    * non-trailing change would decode old tokens under wrong fields.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathOf(ident)
    // PARTITION-SPEC EVOLUTION via TBLPROPERTIES (round 16): `ALTER
    // TABLE … SET TBLPROPERTIES('partitionCol'='a,b')` (or UNSET)
    // re-declares the write layout for FUTURE writes — pure metadata,
    // per-file pruning already handles the mixed layouts that result
    // (ManifestTable.alterSetLayout has the contract).
    if (changes.forall(c => c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])) {
      val updates = changes.map {
        case s: TableChange.SetProperty => s.property() -> Some(s.value())
        case r: TableChange.RemoveProperty => r.property() -> None
      }.toMap
      ManifestTable.alterSetLayout(path, updates)
      return loadTable(ident)
    }
    val adds = changes.map {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft_cat ALTER TABLE: nested ADD COLUMN is not supported " +
            s"(got ${add.fieldNames().mkString(".")})")
        require(add.position() == null,
          "graft_cat ALTER TABLE: ADD COLUMN is trailing-only (rows are " +
            "token-positional) — FIRST/AFTER positions are not supported")
        require(add.isNullable,
          "graft_cat ALTER TABLE: added columns must be nullable " +
            "(existing rows have no value to backfill)")
        StructField(add.fieldNames()(0), add.dataType(), nullable = true)
      case other => throw new UnsupportedOperationException(
        "graft_cat ALTER TABLE: only trailing ADD COLUMN evolves the " +
          s"schema; rename/retype/reorder/drop are rejected (got $other)")
    }
    ManifestTable.alterAddColumns(path, adds)
    loadTable(ident)
  }

  /** DROP TABLE stays deliberately closed for tables that ever held
    * data — with ONE precise exception: a store whose whole history is
    * the empty created manifest (version 1, zero lines). That is exactly
    * the debris a failed CTAS leaves (Spark calls `dropTable` to clean
    * up when the AS-SELECT write throws), and refusing there would MASK
    * the write's real failure behind an UnsupportedOperation.
    *
    * Deletes ONLY graft-created artifacts (manifest files, staged/orphan
    * data and delete files, scratch dirs) and removes the directory only
    * if nothing else remains: CREATE TABLE never verified the target
    * directory was empty, so a create pointed at a directory that
    * already held FOREIGN files must not wipe them on drop — the drop
    * retires the table, not the directory's other tenants.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val path = pathOf(ident)
    ManifestTable.currentManifestShallow(path) match {
      case Some((1, lines, _)) if lines.isEmpty =>
        val d = Paths.get(path)
        def graftOwned(name: String): Boolean =
          name.matches("manifest-\\d+\\.json") ||
            name.startsWith("data-") || name.startsWith("delete-") ||
            name.startsWith("batch-") || name.startsWith(".merge_stage_") ||
            // commit-staging debris (a crashed commit's temp file) and
            // two-level child manifests are engine artifacts too
            name.startsWith(".manifest_stage") || name.startsWith("group-")
        val walk = Files.walk(d)
        val paths = try {
          import scala.jdk.CollectionConverters._
          walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.toList
        } finally walk.close()
        paths.filterNot(_ == d).foreach { p =>
          // ownership is decided at the TOP component under the table
          // dir: a graft scratch dir owns everything inside it, a
          // foreign subdirectory keeps everything inside it
          if (graftOwned(d.relativize(p).getName(0).toString))
            Files.deleteIfExists(p)
        }
        val left = Files.list(d)
        val foreign = try {
          import scala.jdk.CollectionConverters._
          left.iterator().asScala.nonEmpty
        } finally left.close()
        if (!foreign) Files.deleteIfExists(d)
        true
      case _ =>
        throw new UnsupportedOperationException(
          "graft_cat: stores holding data are retired by deleting their " +
            "directory; DROP TABLE is supported only for never-written " +
            "empty creates (failed-CTAS cleanup)")
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft_cat: tables are paths; rename the directory")

  /** ProcedureCatalog half — the SQL `CALL` surface for table
    * maintenance ([[GraftProcedures]]: vacuum / vacuum_older_than /
    * compact_files / compact_deletes / clone / history), each routing
    * onto the exact Scala maintenance call; an unknown name fails with
    * the full roster rather than a bare miss.
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    if (ident.namespace().isEmpty)
      GraftProcedures.all.getOrElse(ident.name(),
        throw new IllegalArgumentException(
          s"graft_cat: unknown procedure '${ident.name()}' — available: " +
            GraftProcedures.all.keys.toSeq.sorted.mkString(", ")))
    else throw new IllegalArgumentException(
      s"graft_cat: procedures live in the root namespace; got ${ident.namespace().mkString(".")}")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      GraftProcedures.all.keys.toSeq.sorted
        .map(n => Identifier.of(Array.empty, n)).toArray
    else Array.empty

  /** FunctionCatalog half: what lets Spark RESOLVE the `bucket(n, col)`
    * transform a bucketed manifest scan reports as its
    * KeyGroupedPartitioning — without a resolvable V2 function the
    * optimizer silently drops to UnknownPartitioning and every
    * bucket-SPJ join shuffles. One function, the engine-owned
    * [[GraftBucketFunction]].
    */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    else Array.empty
}

/** The engine's bucket function as a V2 `UnboundFunction` — the
  * resolution target for the `bucket(n, col)` transform bucketed manifest
  * layouts report. The math is [[ManifestTable.bucketOf]] verbatim (the
  * writer and this function MUST agree forever — a drift regroups rows
  * into the wrong files' buckets). Binds the ONE layout Spark's bucket
  * transform produces — (numBuckets, key), the literal first — and
  * `produceResult` hard-codes that order; any other layout is rejected
  * at bind time rather than silently hashing the wrong operand.
  */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): ((key mod n) + n) mod n — the graft bucketed-layout hash"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"graft bucket takes (numBuckets, key); got ${inputType.toDDL}")
    def integral(dt: DataType): Boolean = dt == LongType || dt == IntegerType
    require(inputType.fields.forall(f => integral(f.dataType)),
      s"graft bucket takes integral arguments; got ${inputType.toDDL}")
    // field 0 must be the IntegerType slot Spark's bucket transform always
    // gives its numBuckets LITERAL — a (key, numBuckets) layout would
    // otherwise silently hash the wrong operand
    require(inputType.fields(0).dataType == IntegerType,
      s"graft bucket expects (numBuckets: INT, key); got ${inputType.toDDL}")
    val types = inputType.fields.map(_.dataType)
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = types
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      private def longAt(input: InternalRow, i: Int): Long =
        if (types(i) == LongType) input.getLong(i) else input.getInt(i).toLong
      override def produceResult(input: InternalRow): Integer =
        // (numBuckets, key) — the only layout bind accepts
        ManifestTable.bucketOf(longAt(input, 1), longAt(input, 0).toInt)
    }
  }
}
