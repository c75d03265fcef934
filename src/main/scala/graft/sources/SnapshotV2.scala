package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, NullOrdering, SortDirection, Transform, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The snapshot table through Spark's DataSource V2 API — the one
  * batch read path of the table format:
  *
  *   - **Manifest pruning inside V2 scan planning**: pushed filters
  *     route through [[ManifestPruning]] (segment bounds first, then
  *     file bounds), so the `BatchScan` plans exactly the surviving
  *     files — before any parquet footer is opened. It is the only
  *     stats pruning a read gets: a pruned read is `read(...)` plus a
  *     `filter`. All filters are reported back as residual (stats prove
  *     file-level ABSENCE only), so Spark re-applies them row-wise and
  *     pruning can never change results.
  *   - **Storage-partitioned joins** (`SupportsReportPartitioning`):
  *     a table committed with `clusterBy = k` holds exactly one value
  *     of `k` per data file (recorded as min == max in the file's
  *     manifest stats — the partition value is recovered from METADATA,
  *     no directory-name parsing, no extra scan). The scan groups files
  *     by that value, reports `KeyGroupedPartitioning(identity(k))`,
  *     and a join of two tables co-clustered on the join key plans with
  *     ZERO exchange — the `rel_join_bucketed` property, upgraded from
  *     session-catalog bucketed parquet to the table format itself
  *     (Iceberg's identity-partition + SPJ shape). Requires
  *     `spark.sql.sources.v2.bucketing.enabled=true`.
  *
  * Reading is Spark's own parquet machinery end to end
  * ([[Bridge.parquetReaderFactory]] wraps `ParquetPartitionReaderFactory`):
  * vectorized/columnar batches, parquet row-group pruning from the
  * pushed filters, missing-column → NULL schema clipping (add-column
  * evolution). Options: `path`, `versionAsOf`, `timestampAsOf`. The
  * table is also writable (the transactional DSv2
  * BatchWrite/StreamingWrite in SnapshotCatalog.scala), streams
  * ([[SnapshotMicroBatchStream]]), and takes metadata-only DELETE /
  * TRUNCATE — the full four-quadrant V2 surface, usually consumed
  * through [[SnapshotCatalog]]'s SQL front. Outstanding deletion
  * vectors and position deletes apply reader-side, per file.
  */
class SnapshotV2Provider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  /** The last resolution and the options it was made from. Spark builds
    * one provider per load and asks it for [[inferSchema]] and then
    * [[getTable]], so both see the version resolved first: a commit
    * between them cannot swap the table under the schema, and the
    * manifest (and, for `timestampAsOf`, the history) is read once. */
  private var last: Option[(Map[String, String], (String, SnapshotTable.Manifest))] = None

  /** (table root, pinned manifest) for `options`, resolved once per
    * instance and options. */
  protected final def pinned(
      options: CaseInsensitiveStringMap): (String, SnapshotTable.Manifest) = synchronized {
    val key = options.asScala.toMap
    last.collect { case (k, r) if k == key => r }.getOrElse {
      val r = pinManifest(options)
      last = Some(key -> r)
      r
    }
  }

  protected def pinManifest(
      options: CaseInsensitiveStringMap): (String, SnapshotTable.Manifest) = {
    val (table, v) = SnapshotV2Provider.resolve(options)
    (table, SnapshotTable.manifest(table, v))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    pinned(options)._2.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val (table, m) = pinned(new CaseInsensitiveStringMap(properties))
    new SnapshotV2Table(table, m)
  }
}

object SnapshotV2Provider {
  /** `spark.read.format(...)` needs the provider CLASS name. */
  val format: String = classOf[SnapshotV2Provider].getName

  /** Resolve (table root, version) from read options:
    * `versionAsOf` exact (a version or a tag),
    * `timestampAsOf` = newest stamped version at or before the stamp
    * (version order authoritative), else current head (0 when nothing
    * is published). */
  private[sources] def resolve(options: CaseInsensitiveStringMap): (String, Long) = {
    val table = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "snapshot v2 read needs .option(\"path\", <table root>)"))
    require(!(options.containsKey("versionAsOf") && options.containsKey("timestampAsOf")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    // a non-numeric versionAsOf resolves as a TAG name (Iceberg refs)
    val version = Option(options.get("versionAsOf"))
      .map(SnapshotTable.resolveVersionRef(table, _)).orElse(
      Option(options.get("timestampAsOf")).map { ts =>
        SnapshotTable.versionAsOf(table, ts.toLong).fold(
          why => throw new IllegalArgumentException(why), identity)
      }).getOrElse(SnapshotTable.currentVersion(table))
    (table, version)
  }
}

/** The `graft-snapshot` streaming format —
  * `spark.readStream.format(SnapshotSourceProvider.format)
  * .option("path", root)` — an alias of [[SnapshotV2Provider]]: it
  * serves the same [[SnapshotV2Table]], so the stream is the
  * [[SnapshotMicroBatchStream]] that `readStream.table` also runs.
  * Options: `path`, `maxVersionsPerTrigger`. A query may attach before
  * the table's first commit when it gives the table's schema with
  * `.schema(...)`; on a published table a given schema must match. */
class SnapshotSourceProvider extends SnapshotV2Provider {

  override def supportsExternalMetadata(): Boolean = true

  /** Nothing published: an empty version-0 manifest, which the stream
    * follows from the first commit on under the query's given schema. */
  override protected def pinManifest(
      options: CaseInsensitiveStringMap): (String, SnapshotTable.Manifest) = {
    val (table, v) = SnapshotV2Provider.resolve(options)
    if (v > 0L) (table, SnapshotTable.manifest(table, v))
    else (table, SnapshotTable.Manifest(0L, null, Nil, Nil, Map.empty)(LocalSnapshotIO))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (table, m) = pinned(options)
    require(m.version > 0L,
      s"snapshot table $table has no published version yet — pass an explicit schema")
    m.schema
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val (table, m) = pinned(new CaseInsensitiveStringMap(properties))
    if (m.version == 0L)
      new SnapshotV2Table(table,
        SnapshotTable.Manifest(0L, schema, Nil, Nil, Map.empty)(LocalSnapshotIO))
    else {
      def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
      require(schema == null || shape(schema) == shape(m.schema),
        s"the given schema ${schema.simpleString} differs from table $table's " +
          s"${m.schema.simpleString} — drop .schema(...) and select columns instead")
      new SnapshotV2Table(table, m)
    }
  }
}

object SnapshotSourceProvider {
  /** `spark.readStream.format(...)` needs the provider CLASS name. */
  val format: String = classOf[SnapshotSourceProvider].getName
}

/** The `graft-snapshot-batch` format —
  * `spark.read.format(SnapshotRelationProvider.format).option("path",
  * root)` — an alias of [[SnapshotV2Provider]] for reads: the same
  * options (`path`, `versionAsOf`, `timestampAsOf`), the same V2 scan
  * and the same manifest pruning of pushed filters. It is also the
  * format's `df.write.format(...).mode(...).save()`, through the V1
  * write contract below. Its table advertises reads only: `save()`
  * takes Spark's V2 write path for a table with BATCH_WRITE, and that
  * path refuses ErrorIfExists and Ignore; without it `save()` falls
  * back to [[createRelation]], which honors every SaveMode. */
class SnapshotRelationProvider extends SnapshotV2Provider with CreatableRelationProvider {

  override def shortName(): String = "graft-snapshot-batch"

  /** `save()` then passes the frame's schema to [[getTable]] instead of
    * inferring the table's, so writing a table not yet published works. */
  override def supportsExternalMetadata(): Boolean = true

  /** A read-only view that resolves the pinned manifest on first use:
    * `save()` only asks it for its capabilities. */
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new Table with SupportsRead {
      private lazy val t = {
        val (table, m) = pinned(options)
        new SnapshotV2Table(table, m)
      }
      override def name(): String = t.name()
      override def schema(): StructType = t.schema()
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
        t.newScanBuilder(o)
    }
  }

  /** The WRITE path — `df.write.format(...).mode(...).save()`:
    * SaveMode.Append → transactional append commit (schema-evolution
    * rules apply), SaveMode.Overwrite → overwrite commit (history
    * intact, time travel alive), ErrorIfExists/Ignore honor the
    * table's existence the way the SaveMode contract reads. Options:
    * `statsColumns` (comma-separated) records per-file pruning stats
    * at write, exactly like the API commit. */
  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    import SaveMode._
    val table = parameters.getOrElse("path",
      throw new IllegalArgumentException("snapshot write needs .option(\"path\", <table root>)"))
    val stats = parameters.get("statsColumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val exists = SnapshotTable.currentVersion(table) > 0
    mode match {
      case ErrorIfExists if exists =>
        throw new IllegalStateException(s"snapshot table $table already exists (ErrorIfExists)")
      case Ignore if exists => // SaveMode contract: silently keep existing data
      case Append =>
        SnapshotTable.commit(data, table, append = exists, statsColumns = stats)
      case _ => // Overwrite, or first write under any mode
        SnapshotTable.commit(data, table, append = false, statsColumns = stats)
    }
    val ctx = sqlContext
    new BaseRelation { // schema only: save() reads nothing back
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }
}

object SnapshotRelationProvider {
  /** `spark.read.format(...)` needs the provider CLASS name. */
  val format: String = classOf[SnapshotRelationProvider].getName
}

private[sources] class SnapshotV2Table(
    table: String,
    m: SnapshotTable.Manifest,
    only: Option[Set[String]] = None) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def name(): String = s"graft_snapshot_${table}_v${m.version}"

  /** Iceberg-style PROVENANCE columns (`_file`, `_pos`): which data
    * file holds each row and at which position — the join key for
    * file-grade debugging ("which file produced these bad rows"),
    * dedup provenance, and DV-style row addressing, served with zero
    * extra I/O (the path is a planning-time constant per partition,
    * the position a reader-side counter). A data column that already
    * owns one of the names wins it — that metadata column is simply
    * not advertised (and the scan never hijacks the name). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    SnapshotV2.MetaColumns.filterNot(c => m.schema.fieldNames.contains(c.name))

  override def schema(): StructType = m.schema

  /** `SHOW TBLPROPERTIES` / DESCRIBE surface: the table-level
    * declarations under their TBLPROPERTIES names, plus read-only
    * engine state (current version, outstanding delete sidecars) —
    * the observability face of what ALTER TABLE SET TBLPROPERTIES
    * evolves. */
  override def properties(): java.util.Map[String, String] = {
    val p = new java.util.HashMap[String, String]()
    val statsCols = SnapshotTable.statsColumnsOf(m)
    if (statsCols.nonEmpty) p.put("statsColumns", statsCols.mkString(","))
    SnapshotTable.morKeyOf(m).foreach(p.put("morKey", _))
    SnapshotTable.maxRowsPerFileOf(m).foreach(n => p.put("maxRowsPerFile", n.toString))
    SnapshotTable.clusterKeyOf(m).foreach(p.put("layout.identity", _))
    SnapshotTable.bucketSpecOf(m).foreach { case (c, n) =>
      p.put("layout.bucket", s"$c:$n") }
    SnapshotTable.truncSpecOf(m).foreach { case (c, w) =>
      p.put("layout.truncate", s"$c:$w") }
    SnapshotTable.temporalSpecOf(m).foreach { case (c, u) =>
      p.put("layout.temporal", s"$c:$u") }
    SnapshotTable.deleteModeOf(m).foreach(p.put("deleteMode", _))
    val since = SnapshotTable.layoutSinceOf(m)
    if (since > 0) {
      p.put("layout.since", since.toString)
      p.put("layout.generations",
        (SnapshotTable.layoutHistOf(m).size + 1).toString)
    }
    p.put("version", m.version.toString)
    val dvs = SnapshotTable.dvRefs(m).size
    if (dvs > 0) p.put("outstandingDeleteVectors", dvs.toString)
    val pos = SnapshotTable.posDvRefs(m).size
    if (pos > 0) p.put("outstandingPositionDeletes", pos.toString)
    p
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)

  /** The identity-cluster or hash-bucket spec as a V2 transform — what
    * catalog-aware planners read; the SPJ decision itself rides the
    * SCAN's reported partitioning below. */
  override def partitioning(): Array[Transform] =
    SnapshotTable.clusterKeyOf(m).map(Expressions.identity).toArray ++
      SnapshotTable.temporalSpecOf(m).map { case (c, u) =>
        Expressions.apply(u, Expressions.column(c))
      } ++
      SnapshotTable.bucketSpecOf(m).map { case (c, n) => Expressions.bucket(n, c) } ++
      SnapshotTable.truncSpecOf(m).map { case (c, w) =>
        Expressions.apply(s"truncate_$w", Expressions.column(c))
      }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(table, m,
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong), only = only)

  /** DSv2 INSERT / INSERT OVERWRITE (see [[SnapshotBatchWrite]]). A
    * clustered table's write declares RequiresDistributionAndOrdering,
    * so Spark routes and sorts the rows and the rolling writer keeps
    * the one-key-per-file invariant — SQL INSERTs preserve SPJ. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SnapshotWriteBuilder(table, m, info)

  /** UPDATE / MERGE INTO / row-level DELETE. A table that DECLARES its
    * row id (TBLPROPERTIES('morKey'='k')) and is not identity-clustered
    * plans MERGE-ON-READ ([[SnapshotDeltaOperation]], SupportsDelta):
    * key-delete sidecars + appended post-images, zero data files
    * rewritten. Everything else falls to group copy-on-write
    * ([[SnapshotRowLevelOperation]]) — which CLUSTERED tables prefer
    * anyway (the rewrite maintains one-key-per-file). DELETE first
    * tries the metadata-only proof below; only unprovable predicates
    * fall through. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => SnapshotTable.morKeyOf(m) match {
      case Some(k) if SnapshotTable.declaredLayout(m).isEmpty =>
        // transform-laid-out tables (bucket/truncate/temporal) prefer
        // CoW too: the group rewrite re-routes through the stamping
        // write path, so the layout survives DML; delta post-images
        // would land unstamped and demote it
        new SnapshotDeltaOperation(table, m, info.command(), k)
      case None if SnapshotTable.deleteModeOf(m).contains("positions") &&
          SnapshotTable.declaredLayout(m).isEmpty =>
        // the morKey-LESS merge-on-read: row identity is the metadata
        // pair (_file, _pos) — Iceberg's position-delta shape. UPDATE/
        // MERGE and the non-pushable DELETEs (canDeleteWhere declines
        // them) all commit O(batch) with zero data files rewritten.
        new SnapshotPosDeltaOperation(table, m, info.command())
      case _ => new SnapshotRowLevelOperation(table, m, info.command())
    }

  // ---- metadata-only DELETE / TRUNCATE --------------------------------

  /** A file is dropped whole only when the manifest PROVES every live
    * row matches the predicate; kept whole only when it proves none
    * does. Any file in between makes the whole DELETE refuse loudly
    * (canDeleteWhere=false → Spark reports the delete unsupported)
    * rather than approximate — row-level deletes are [[SnapshotTable
    * .deleteKeys]]'s merge-on-read job. */
  private def provableWhole(filters: Array[Filter]): Boolean =
    m.files.forall(f =>
      filters.forall(ManifestPruning.provesAll(m.schema, f, _)) ||
        filters.exists(!ManifestPruning.keeps(m.schema, f, _)))

  /** Under TBLPROPERTIES('deleteMode'='positions') — the morKey-less
    * MoR DELETE — an UNPROVABLE predicate no longer falls to the
    * copy-on-write rewrite: [[deleteWhere]] routes the remainder
    * through a provenance scan + position sidecar, O(batch) with zero
    * data files rewritten, so the predicate only needs to be
    * row-expressible (every pushed Filter shape is). morKey tables keep
    * their equality-delta plan (one MoR format per declaration). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    provableWhole(filters) ||
      (SnapshotTable.deleteModeOf(m).contains("positions") &&
        SnapshotTable.morKeyOf(m).isEmpty &&
        filters.forall(SnapshotV2.filterAsColumn(_).isDefined))

  /** Metadata-only DELETE: republish the manifest with the none-match
    * files only — zero data files opened or moved, one atomic commit;
    * the Delta/Iceberg "partition drop" at file granularity. mode=
    * delete, so incremental readers refuse across it (dropped files ≠
    * appended rows). Outstanding DV state rides along — it applies to
    * the kept files; keys of dropped rows are harmless no-ops.
    *
    * deleteMode=positions extends the same commit shape to UNPROVABLE
    * predicates: provably-all-match files still drop whole, the fuzzy
    * remainder's matching rows are located by ONE provenance scan
    * (`_file`,`_pos` — raw ordinals, pushdown-disabled by the pos
    * route) and recorded as a position sidecar in the SAME atomic
    * commit. The 100 TB trickle-retention DELETE this buys: cost
    * O(matching rows) + manifest, not O(touched files) rewrite. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (provableWhole(filters)) {
      val kept = m.files.filter(f => filters.exists(!ManifestPruning.keeps(m.schema, f, _)))
      SnapshotTable.commitOn(table, m, SnapshotTable.Change("delete", kept = Some((Nil, kept))))
      return
    }
    require(SnapshotTable.deleteModeOf(m).contains("positions"),
      s"DELETE on $table is not provable file-whole from manifest stats — " +
        "use SnapshotTable.deleteKeys (merge-on-read) for row-level deletes")
    val dropped = m.files
      .filter(f => filters.forall(ManifestPruning.provesAll(m.schema, f, _)))
      .map(_.path).toSet
    val spark = SparkSession.active
    val pred = filters.map(f => SnapshotV2.filterAsColumn(f).getOrElse(
      throw new IllegalStateException(s"unexpected untranslatable filter $f")))
      .reduce(_ && _)
    // provenance scan of the CURRENT snapshot: manifest pruning skips
    // proven-none-match files, proven-all-match files are excluded here
    // (they drop whole — their rows must not also be enumerated)
    var scan = spark.read.format(SnapshotV2Provider.format)
      .option("path", table).option("versionAsOf", m.version.toString).load()
      .where(pred)
    if (dropped.nonEmpty)
      scan = scan.where(!org.apache.spark.sql.functions.col("_file")
        .isin(dropped.toSeq: _*))
    SnapshotTable.deletePositions(scan.select("_file", "_pos"), table, dropPaths = dropped)
  }
}

private[sources] class SnapshotScanBuilder(
    table: String,
    m: SnapshotTable.Manifest,
    maxVersionsPerTrigger: Option[Long] = None,
    onPlanned: (Seq[SnapshotTable.FileEntry], Boolean) => Unit = (_, _) => (),
    rowLevel: Boolean = false,
    only: Option[Set[String]] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = m.schema
  private var aggResult: Option[(StructType, InternalRow)] = None
  private var limit: Option[Int] = None
  private var topN: Option[SnapshotV2.TopN] = None

  /** The files the scan may read: all of `m`'s, or the selection
    * `only` names. Limit, TopN and aggregate proofs range over these. */
  private lazy val files: Seq[SnapshotTable.FileEntry] =
    only.fold(m.files)(paths => m.files.filter(f => paths(f.path)))

  /** Accept everything for manifest pruning, return EVERYTHING as
    * residual: min/max/null-count stats prove a file can hold no
    * matching row — never that every surviving row matches — so Spark
    * must re-evaluate each filter row-wise. The accepted set also
    * reaches the parquet reader for row-group pruning, pruning at a
    * third granularity for free. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- LIMIT / TopN pushdown: manifest-bounded file planning ----------

  /** Both pushes are PARTIAL: the scan may deliver a superset of the
    * requested rows (whole files), so Spark keeps its own Limit /
    * TakeOrdered on top and the truncation can never change results —
    * it only shrinks the planned file set. */
  override def isPartiallyPushed(): Boolean = true

  /** `SELECT ... LIMIT n` over a 100 TB table should open
    * O(n / rows-per-file) files, not all of them: with every file's
    * rowCount proven by the manifest (`n:` stats), a PREFIX of the file
    * list covering ≥ n rows is guaranteed to satisfy the limit.
    * Declines when any file lacks the proof, when filters are pushed
    * (a residual filter may reject arbitrarily many rows of the
    * prefix), or when DVs are outstanding (deleted rows would count). */
  override def pushLimit(n: Int): Boolean = {
    val provable = pushed.isEmpty && SnapshotTable.dvPaths(m).isEmpty &&
      SnapshotTable.posDvPaths(m).isEmpty &&
      files.forall(_.nstats.nonEmpty) && n >= 0
    if (provable) limit = Some(n)
    provable
  }

  /** `ORDER BY k LIMIT n`: the manifest's value bounds locate the top
    * region — files whose range cannot intersect the global top-n never
    * open. Pruning uses the FIRST sort key only (sound for any
    * tie-breaking suffix: every top-n row's first-key value still lies
    * inside the kept bound). Declines unless the first key is a plain
    * integral/string column with bounds (or an all-NULL proof) and a
    * rowCount on every file — an unproven file could hide the true
    * extremum. */
  override def pushTopN(orders: Array[V2SortOrder], n: Int): Boolean = {
    if (pushed.nonEmpty || SnapshotTable.dvPaths(m).nonEmpty ||
      SnapshotTable.posDvPaths(m).nonEmpty ||
      orders.isEmpty || n < 0) return false
    val colName = orders.head.expression match {
      case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames.head
      case _ => return false
    }
    val supported = m.schema.fields.find(_.name == colName).exists(_.dataType match {
      // timestamps/dates ride the long stats channel as exact epoch
      // micros/days — micros order IS timestamp order, so the θ-bound
      // subset algebra applies unchanged
      case ByteType | ShortType | IntegerType | LongType | StringType |
           TimestampType | DateType => true
      case _ => false
    })
    // per-FILE, per-COLUMN proof: the subset algebra consumes the sort
    // column's nullCount (topNSubset.nonNullRows), so a file whose
    // manifest entry lacks an `n:` tag for THIS column — legacy or
    // hand-migrated — must decline the push, not default to "no nulls"
    val proven = files.forall(f => f.nstats.contains(colName) &&
      (f.stats.contains(colName) || f.sstats.contains(colName) ||
        f.nstats.get(colName).exists { case (nulls, rows) => nulls == rows }))
    if (supported && proven) {
      topN = Some(SnapshotV2.TopN(colName,
        orders.head.direction == SortDirection.ASCENDING, n))
      true
    } else false
  }

  /** MANIFEST-SERVED aggregation — the Iceberg headline: COUNT(*) /
    * COUNT(col) / MIN(col) / MAX(col) with no filter and no grouping
    * answers from manifest lines alone (rowCount, nullCount, exact
    * min/max recorded at commit), so a 100 TB count costs one metadata
    * read and ZERO data files opened. Sound only when the manifest can
    * PROVE the value: every file must carry the stat (rowCount for
    * counts; a recorded range — or an all-NULL proof — for min/max on
    * exactly-cast types: integral, string, timestamp, date), filters must be absent
    * (stats cannot re-filter rows), DVs must be absent (deleted rows
    * would be counted), and COUNT must not be DISTINCT. Anything
    * unprovable declines the push and scans normally. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planAggregation(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggResult = planAggregation(agg)
    aggResult.isDefined
  }

  private def planAggregation(agg: Aggregation): Option[(StructType, InternalRow)] = {
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty ||
      SnapshotTable.dvPaths(m).nonEmpty ||
      SnapshotTable.posDvPaths(m).nonEmpty) return None
    def columnOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          m.schema.fields.find(_.name == nr.fieldNames.head)
        case _ => None
      }
    // result schema built positionally per aggregate (names cosmetic —
    // V2ScanRelationPushDown wires scan output to the aggregate's
    // attributes by position); NOT parquet's AggregatePushDownUtils
    // whitelist, which excludes strings because parquet FOOTER stats
    // truncate — these stats are exact Spark aggregates recorded at
    // commit, so string extrema are as sound as integral ones
    def fieldFor(f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
        : Option[StructField] = f match {
      case _: CountStar => Some(StructField("count(*)", LongType, nullable = false))
      case c: Count if !c.isDistinct =>
        columnOf(c.column).map(cf => StructField(s"count(${cf.name})", LongType, false))
      case mn: Min => columnOf(mn.column).map(cf => StructField(s"min(${cf.name})", cf.dataType))
      case mx: Max => columnOf(mx.column).map(cf => StructField(s"max(${cf.name})", cf.dataType))
      case _       => None
    }
    val fields = agg.aggregateExpressions.toSeq.map(fieldFor)
    if (fields.exists(_.isEmpty)) return None
    val schema = StructType(fields.map(_.get))
    def rowsOf(f: SnapshotTable.FileEntry): Option[Long] =
      f.nstats.values.headOption.map(_._2)
    def convert(v: Long, dt: DataType): Any = dt match {
      case ByteType    => v.toByte
      case ShortType   => v.toShort
      case IntegerType => v.toInt
      case DateType    => v.toInt // stats channel carries epoch days
      case _           => v // LongType; TimestampType rides as epoch micros
    }
    // min/max: every file must either record the range or PROVE the
    // column all-NULL there (nulls == rows) — a file with neither could
    // hide the true extremum. Timestamps/dates serve EXACTLY: their
    // stats are the physical epoch micros/days the commit folded.
    def minMax(e: org.apache.spark.sql.connector.expressions.Expression,
        isMin: Boolean): Option[Any] =
      columnOf(e).flatMap { f =>
        f.dataType match {
          case ByteType | ShortType | IntegerType | LongType | TimestampType |
               DateType =>
            val proven = files.forall(fe => fe.stats.contains(f.name) ||
              fe.nstats.get(f.name).exists { case (n, r) => n == r })
            if (!proven) None
            else {
              val bs = files.flatMap(_.stats.get(f.name))
              if (bs.isEmpty) Some(null) // recorded, but every row NULL
              else Some(convert(if (isMin) bs.map(_._1).min else bs.map(_._2).max, f.dataType))
            }
          case StringType =>
            val proven = files.forall(fe => fe.sstats.contains(f.name) ||
              fe.nstats.get(f.name).exists { case (n, r) => n == r })
            if (!proven) None
            else {
              val bs = files.flatMap(_.sstats.get(f.name))
              if (bs.isEmpty) Some(null)
              else Some(UTF8String.fromString(
                if (isMin) bs.map(_._1).reduce((a, b) =>
                  if (SnapshotTable.FileEntry.bytesLe(a, b)) a else b)
                else bs.map(_._2).reduce((a, b) =>
                  if (SnapshotTable.FileEntry.bytesLe(a, b)) b else a)))
            }
          // anything else (double, decimal...) was recorded through a
          // lossy long cast — never served from the manifest
          case _ => None
        }
      }
    val values = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        val rs = files.map(rowsOf)
        if (rs.exists(_.isEmpty)) None else Some(rs.flatten.sum: Any)
      case c: Count if !c.isDistinct =>
        columnOf(c.column).flatMap { f =>
          val per = files.map(_.nstats.get(f.name).map { case (n, r) => r - n })
          if (per.exists(_.isEmpty)) None else Some(per.flatten.sum: Any)
        }
      case mn: Min => minMax(mn.column, isMin = true)
      case mx: Max => minMax(mx.column, isMin = false)
      case _       => None
    }
    if (values.exists(_.isEmpty)) None
    else Some((schema, new GenericInternalRow(values.map(_.get).toArray)))
  }

  override def build(): Scan = aggResult match {
    case Some((schema, row)) => new SnapshotV2AggScan(m, schema, row)
    case None =>
      new SnapshotV2Scan(table, m, required, pushed, maxVersionsPerTrigger, onPlanned,
        rowLevel, limit, topN, only)
  }
}

/** Manifest-computed rows served as a scan partition — the whole
  * result of a manifest-served aggregation (one row, zero data files)
  * or a metadata table's listing (history/files/segments).
  * private[graft] so specs pin "metadata-served" structurally. */
private[graft] case class MetadataRowPartition(rows: Seq[InternalRow]) extends InputPartition

private[sources] class MetadataRowReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val it = p.asInstanceOf[MetadataRowPartition].rows.iterator
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        it.hasNext && { current = it.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

private[sources] class SnapshotV2AggScan(
    m: SnapshotTable.Manifest,
    aggSchema: StructType,
    row: InternalRow) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot v${m.version} (manifest-served aggregate, 0 data files)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(MetadataRowPartition(Seq(row)))
  override def createReaderFactory(): PartitionReaderFactory =
    new MetadataRowReaderFactory
}

/** One key-group of data files: a `FilePartition` (so Spark's own
  * parquet reader factory consumes it unchanged — row AND columnar
  * paths) that also exposes the group's cluster-key value for
  * storage-partitioned joins. */
private[sources] class KeyedFilePartition(
    index: Int,
    files: Array[PartitionedFile],
    key: InternalRow) extends FilePartition(index, files) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Per-partition dispatch between NAME-EPOCH parquet reader factories
  * after a metadata-only column rename: a file written before the
  * rename physically carries the old column name, so its partition
  * reads through a factory whose read schema maps each required field
  * back to that epoch's name POSITIONALLY (`InternalRow`s carry no
  * names — the translated read schema only steers the parquet column
  * resolution; the output rows align with the current projection by
  * construction). Partitions are epoch-homogeneous: while live files
  * span epochs the scan plans one file per partition. */
private[sources] class RenameDispatchReaderFactory(
    current: PartitionReaderFactory,
    byEpoch: Map[Seq[String], PartitionReaderFactory],
    epochOf: Map[String, Seq[String]],
    currentNames: Seq[String]) extends PartitionReaderFactory {
  private def pick(p: InputPartition): PartitionReaderFactory = p match {
    case fp: FilePartition if fp.files.nonEmpty =>
      def epoch(f: PartitionedFile): Seq[String] =
        epochOf.getOrElse(f.filePath.toPath.toUri.getPath, currentNames)
      val names = epoch(fp.files.head)
      require(fp.files.forall(f => epoch(f) == names),
        "mixed rename epochs in one partition — plan single files under renames")
      if (names == currentNames) current else byEpoch(names)
    case _ => current
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    pick(p).createReader(p)
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    pick(p).createColumnarReader(p)
  override def supportColumnarReads(p: InputPartition): Boolean =
    pick(p).supportColumnarReads(p)
}

/** The manifest-bounds pruning predicate of the V2 scan's pushed
  * filters — the one stats pruning a snapshot read gets — and the
  * metadata-only DELETE's proof. */
private[graft] object ManifestPruning {

  import org.apache.spark.sql.sources._
  import SnapshotTable.FileEntry.bytesLe

  /** Columns whose manifest stats ride the LONG channel: integral
    * values verbatim, timestamps as epoch micros, dates as epoch days
    * (both exactly the physical InternalRow value the writers folded
    * — one unit end to end). */
  private def isIntegral(schema: StructType, c: String): Boolean =
    schema.fields.find(_.name == c).exists(f =>
      f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == TimestampType || f.dataType == DateType)
  private def isString(schema: StructType, c: String): Boolean =
    schema.fields.find(_.name == c).exists(_.dataType == StringType)

  /** A pushed literal converted to the column's stat channel — pushed
    * timestamp/date predicates arrive as java.sql or java.time values
    * depending on spark.sql.datetime.java8API.enabled; both convert. */
  private def longOf(v: Any): Option[Long] = v match {
    case l: Long                  => Some(l)
    case i: Int                   => Some(i.toLong)
    case t: java.sql.Timestamp    =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant     =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case d: java.sql.Date         =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate   => Some(d.toEpochDay)
    case _                        => None
  }

  /** May `f` hold a row matching `filter`? false PROVES absence; stats
    * missing for a column always answers true (must read).
    *
    * Written against StatRanges, so the SAME predicate first skips
    * whole manifest segments via their aggregated bounds (a missed
    * segment's file list is never loaded), then files inside the
    * segments that survived — planning stays O(segments + hit files)
    * on a 1M-file table. */
  def keeps(schema: StructType, f: SnapshotTable.StatRanges, filter: Filter): Boolean = {
    def keep(filter: Filter): Boolean = filter match {
      case EqualTo(c, v) if isIntegral(schema, c) =>
        longOf(v).forall(l => f.stats.get(c).forall { case (mn, mx) => l >= mn && l <= mx })
      case GreaterThan(c, v) if isIntegral(schema, c) =>
        longOf(v).forall(l => f.stats.get(c).forall { case (_, mx) => mx > l })
      case GreaterThanOrEqual(c, v) if isIntegral(schema, c) =>
        longOf(v).forall(l => f.stats.get(c).forall { case (_, mx) => mx >= l })
      case LessThan(c, v) if isIntegral(schema, c) =>
        longOf(v).forall(l => f.stats.get(c).forall { case (mn, _) => mn < l })
      case LessThanOrEqual(c, v) if isIntegral(schema, c) =>
        longOf(v).forall(l => f.stats.get(c).forall { case (mn, _) => mn <= l })
      case In(c, vs) if isIntegral(schema, c) =>
        val ls = vs.flatMap(longOf)
        ls.length != vs.length ||
          f.stats.get(c).forall { case (mn, mx) => ls.exists(l => l >= mn && l <= mx) }
      // string bounds compare byte-wise over UTF-8, Spark's string order
      case EqualTo(c, v: String) if isString(schema, c) =>
        f.sstats.get(c).forall { case (mn, mx) => bytesLe(mn, v) && bytesLe(v, mx) }
      case GreaterThan(c, v: String) if isString(schema, c) =>
        f.sstats.get(c).forall { case (_, mx) => !bytesLe(mx, v) }
      case GreaterThanOrEqual(c, v: String) if isString(schema, c) =>
        f.sstats.get(c).forall { case (_, mx) => bytesLe(v, mx) }
      case LessThan(c, v: String) if isString(schema, c) =>
        f.sstats.get(c).forall { case (mn, _) => !bytesLe(v, mn) }
      case LessThanOrEqual(c, v: String) if isString(schema, c) =>
        f.sstats.get(c).forall { case (mn, _) => bytesLe(mn, v) }
      // null-count stats: Catalyst emits IsNotNull(c) beside ANY
      // predicate on c, so an all-NULL file (the add-column evolution
      // shape) is pruned for every query touching the column
      case IsNotNull(c) => f.nstats.get(c).forall { case (n, r) => n < r }
      case IsNull(c)    => f.nstats.get(c).forall { case (n, _) => n > 0 }
      case And(l, r) => keep(l) && keep(r)
      case _         => true // unsupported shapes never prune
    }
    keep(filter)
  }

  /** Does the manifest PROVE every live row of `f` matches `filter`?
    * The inverse obligation of [[keeps]], and deliberately stricter:
    * a proof needs BOTH the value bounds fully inside the predicate
    * AND (for value predicates) a zero null count — min/max say
    * nothing about NULL rows, which never match a value predicate.
    * false means "not provable", never "no row matches". What the
    * metadata-only DELETE drops whole files by. */
  def provesAll(schema: StructType, f: SnapshotTable.StatRanges, filter: Filter): Boolean = {
    def noNulls(c: String): Boolean = f.nstats.get(c).exists { case (n, _) => n == 0 }
    def all(filter: Filter): Boolean = filter match {
      case AlwaysTrue() => true
      case EqualTo(c, v) if isIntegral(schema, c) =>
        longOf(v).exists(l => noNulls(c) &&
          f.stats.get(c).exists { case (mn, mx) => mn == l && mx == l })
      case GreaterThan(c, v) if isIntegral(schema, c) =>
        longOf(v).exists(l => noNulls(c) && f.stats.get(c).exists { case (mn, _) => mn > l })
      case GreaterThanOrEqual(c, v) if isIntegral(schema, c) =>
        longOf(v).exists(l => noNulls(c) && f.stats.get(c).exists { case (mn, _) => mn >= l })
      case LessThan(c, v) if isIntegral(schema, c) =>
        longOf(v).exists(l => noNulls(c) && f.stats.get(c).exists { case (_, mx) => mx < l })
      case LessThanOrEqual(c, v) if isIntegral(schema, c) =>
        longOf(v).exists(l => noNulls(c) && f.stats.get(c).exists { case (_, mx) => mx <= l })
      case In(c, vs) if isIntegral(schema, c) =>
        val ls = vs.flatMap(longOf)
        ls.length == vs.length && noNulls(c) &&
          f.stats.get(c).exists { case (mn, mx) => mn == mx && ls.contains(mn) }
      case EqualTo(c, v: String) if isString(schema, c) =>
        noNulls(c) && f.sstats.get(c).exists { case (mn, mx) => mn == v && mx == v }
      case IsNull(c)    => f.nstats.get(c).exists { case (n, r) => n == r }
      case IsNotNull(c) => noNulls(c)
      case And(l, r)    => all(l) && all(r)
      case Or(l, r)     => all(l) || all(r) // sufficient, not necessary — conservative
      case _            => false // unprovable shapes never prove
    }
    all(filter)
  }

  /** The file entries that can hold rows matching ALL pushed filters —
    * each filter independently shrinks the candidate set through the
    * manifest bounds; files without stats for a column always survive
    * (stats prove absence, never presence). */
  def prunedEntries(
      m: SnapshotTable.Manifest,
      schema: StructType,
      filters: Array[Filter]): Seq[SnapshotTable.FileEntry] =
    m.filesMatching(f => filters.forall(keeps(schema, f, _)))
}

private[graft] class SnapshotV2Scan(
    table: String,
    m: SnapshotTable.Manifest,
    requiredSchema: StructType,
    filters: Array[Filter],
    maxVersionsPerTrigger: Option[Long] = None,
    onPlanned: (Seq[SnapshotTable.FileEntry], Boolean) => Unit = (_, _) => (),
    rowLevel: Boolean = false,
    limit: Option[Int] = None,
    topN: Option[SnapshotV2.TopN] = None,
    only: Option[Set[String]] = None)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportStatistics
    with SupportsReportOrdering with SupportsRuntimeV2Filtering {

  /** Metadata columns (`_file`/`_pos`) the projection asked for — they
    * ride [[readSchema]] verbatim but never reach the parquet reader:
    * the path is a per-partition constant, the position a counter. A
    * DATA column that happens to be named `_file`/`_pos` stays data —
    * the table's own schema always wins the name (the same precedence
    * [[SnapshotV2Table.metadataColumns]] declares). */
  private val metaFields: Set[String] =
    requiredSchema.fieldNames
      .filter(n => SnapshotV2.MetaNames(n) && !m.schema.fieldNames.contains(n))
      .toSet
  private val dataSchema: StructType =
    StructType(requiredSchema.fields.filterNot(f => metaFields(f.name)))

  override def readSchema(): StructType = requiredSchema

  // ---- runtime filtering (DPP through the V2 contract) ---------------

  /** Runtime predicates from a dynamic-pruning subquery (the DPP
    * broadcast-reuse shape): delivered AFTER static planning, applied
    * at [[planInputPartitions]] — so a join against a filtered dim
    * prunes the fact table's FILES at the manifest from the dim's
    * actual key set, the table-format analogue of partition-directory
    * DPP. */
  @volatile private var runtime: Array[Filter] = Array.empty

  /** Spec hook: the data-file count of the LAST plan — proves runtime
    * filters actually narrowed the file set (the static
    * inputPartitions on the exec node never reflects them). */
  @volatile private[graft] var lastPlanned: Int = -1

  /** Spec hook: total (data file → sidecar) attachments the last
    * [[DeleteReaderFactory]] planned, over both delete formats — the
    * "per-task cost scales with the sidecars that OVERLAP a file, not
    * the chain total" invariant as a countable: k single-file-ranged
    * sidecars over n files attach k times, not n·k. -1 until a delete
    * factory builds (a scan with no outstanding deletes never builds
    * one). [[graft.Stage.deleteAttachments]] reads it off a plan. */
  @volatile private[graft] var lastAttachments: Long = -1L

  /** Columns a runtime predicate could prune on: any column with a
    * recorded stat anywhere in the manifest that is ALSO in this scan's
    * pruned output — Spark's DPP rule resolves these references against
    * the scan relation's output attributes, so advertising a column the
    * projection dropped (or a synthetic stat like the `__bucket` stamp)
    * crashes the resolution (hit live by the compound-layout join: the
    * auto-tracked temporal key is rarely in a join's projection). */
  override def filterAttributes(): Array[NamedReference] = {
    val ranges: Seq[SnapshotTable.StatRanges] = m.segments ++ m.inline
    val names = dataSchema.fieldNames.toSet
    ranges.flatMap(r => r.stats.keySet ++ r.sstats.keySet ++ r.nstats.keySet)
      .distinct.filter(names).map(Expressions.column).toArray
  }

  override def filter(predicates: Array[Predicate]): Unit =
    runtime = Bridge.predicatesToV1(predicates)

  override def toBatch: Batch = this

  override def description(): String = {
    val c = SnapshotTable.clusterKeyOf(m).map(k => s", cluster=$k").getOrElse("")
    val l = limit.map(n => s", limit=$n").getOrElse("")
    val tn = topN.map(t =>
      s", topN=${t.n} by ${t.col} ${if (t.ascending) "ASC" else "DESC"}").getOrElse("")
    // spec evolution leaves pre-evolution files stamped under their own
    // generation: say so in the plan — the user reading .explain should
    // see WHY the join shuffled (compaction re-unifies the generations)
    val g = if (mixedLayoutGens) ", mixed layout generations (SPJ off until compaction)"
            else ""
    val rn = if (renamedEpochMixed) ", mixed rename epochs (SPJ off until compaction)"
             else ""
    s"graft-snapshot v${m.version} (${m.fileCount} files$c$l$tn$g$rn)"
  }

  /** The files a selection `only` names — a micro-batch slice. */
  private lazy val onlyFiles: Option[Seq[SnapshotTable.FileEntry]] =
    only.map(paths => m.files.filter(f => paths(f.path)))

  /** Outstanding deletion-vector sidecars — when non-empty, rows are
    * filtered READER-side, each file against the sidecars that can hit
    * it (the Iceberg equality-delete application shape, see
    * [[DeleteReaderFactory]]). Under a selection,
    * only refs that can hit one of its files: a ref kills rows of
    * files with a LOWER seq, so a clean append slice plans as a plain
    * columnar scan instead of loading every sidecar per micro-batch. */
  private lazy val dv: Seq[SnapshotTable.DvRef] = {
    val all = SnapshotTable.dvRefs(m)
    onlyFiles.fold(all) { fs =>
      val lowest = fs.map(f => math.max(f.seq, 0L)).foldLeft(Long.MaxValue)(math.min)
      all.filter(_.seq > lowest)
    }
  }

  /** Outstanding POSITION-delete sidecars (Iceberg v2's second delete
    * format): rows drop by raw file ordinal; each ref carries the path
    * range of the data files it names (what a file attaches it by).
    * Under a selection, only refs whose range covers one of its files
    * (a rangeless legacy ref may name any file and always stays). */
  private lazy val posDv: Seq[SnapshotTable.PosDvRef] = {
    val all = SnapshotTable.posDvRefs(m)
    onlyFiles.fold(all)(fs => all.filter(r => fs.exists(f => SnapshotV2.covers(r, f.path))))
  }

  /** Any delete format outstanding — the condition that opts the scan
    * out of key grouping, limit/TopN truncation, and (for positions)
    * parquet filter pushdown. */
  private def anyDv: Boolean = dv.nonEmpty || posDv.nonEmpty

  /** On a hash-bucketed table, equality/IN filters on the bucket key
    * prune by the per-file bucket stamp: only bucket(v)'s files can
    * hold `key = v` rows (the write path proves one bucket per file).
    * Sound by determinism of the hash; a file without a stamp (written
    * outside the bucketed path) can never be proven absent and is
    * kept. Conjunction-only, like all manifest pruning: an unhandled
    * filter shape simply doesn't constrain. */
  private def bucketPrune(
      es: Seq[SnapshotTable.FileEntry],
      fs: Array[Filter]): Seq[SnapshotTable.FileEntry] = {
    val since = SnapshotTable.layoutSinceOf(m)
    val cur = SnapshotTable.bucketSpecOf(m)
    if (cur.isEmpty && since == 0) return es
    // spec-evolution-aware: each file's stamp was computed under ITS
    // generation's bucket spec (identified by the file's commit seq),
    // so the allowed-id set is evaluated per (key, n) — an old
    // bucket(8) file prunes by the filter value's bucket under n=8
    // while its bucket(32) siblings prune under n=32. Same soundness
    // rule per generation: unstamped or non-bucketed-generation files
    // always survive.
    val allowedCache =
      scala.collection.mutable.Map.empty[(String, Int), Option[Set[Int]]]
    def allowedFor(key: String, n: Int): Option[Set[Int]] =
      allowedCache.getOrElseUpdate((key, n), {
        val sets: Seq[Set[Int]] = fs.toSeq.flatMap {
          case org.apache.spark.sql.sources.EqualTo(c, v) if c == key =>
            GraftBucket.ofAny(v, n).map(Set(_))
          case org.apache.spark.sql.sources.EqualNullSafe(c, v)
              if c == key && v != null =>
            GraftBucket.ofAny(v, n).map(Set(_))
          case org.apache.spark.sql.sources.In(c, vs)
              if c == key && vs.nonEmpty && vs.forall(_ != null) =>
            val bs = vs.toSeq.map(v => GraftBucket.ofAny(v, n))
            if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
          case _ => None
        }
        if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
      })
    def specFor(f: SnapshotTable.FileEntry): Option[(String, Int)] =
      if (f.seq >= since) cur
      else SnapshotTable.bucketSpecFromLayout(SnapshotTable.layoutForSeq(m, f.seq))
    es.filter { f =>
      specFor(f) match {
        case Some((key, n)) => allowedFor(key, n) match {
          case Some(live) => f.stats.get(SnapshotTable.BucketStat) match {
            case Some((lo, hi)) if lo == hi => live(lo.toInt)
            case _ => true // unstamped file: keep (absence unprovable)
          }
          case None => true
        }
        case None => true
      }
    }
  }

  /** Does any STATIC survivor predate the current layout generation?
    * Mixed-generation file sets carry stamps from DIFFERENT transforms
    * in the same stat channel (a day ordinal and an hour ordinal, a
    * bucket(8) id and a bucket(32) id), so every stamp-grouping arm
    * degrades to unknown partitioning — loudly sound; a full
    * compaction (which re-routes every row under the current spec)
    * restores SPJ. Pruning is unaffected: raw column stats are
    * generation-free and bucket pruning resolves per generation. */
  private lazy val mixedLayoutGens: Boolean = {
    val since = SnapshotTable.layoutSinceOf(m)
    since > 0 && entries.exists(_.seq < since)
  }

  /** Do the surviving files span COLUMN-RENAME epochs? Key grouping
    * and packing bundle files into one partition, and the rename
    * dispatch needs every partition epoch-homogeneous — so both switch
    * off while pre-rename files are live ([[singleFile]]); a compaction
    * (which rewrites every file under the current names) restores
    * them. Pruning is unaffected: an
    * old file's stats live under its old names, so current-name
    * lookups simply never skip it (sound). */
  private lazy val renamedEpochMixed: Boolean = {
    val rs = SnapshotTable.renamesOf(m)
    rs.nonEmpty && entries.exists(f => math.max(f.seq, 0L) < rs.map(_._1).max)
  }

  /** The file selection `only` names (all of `m`'s files when unset) —
    * a micro-batch slice plans through here, so it reads its files with
    * the same delete and rename handling as a batch scan of `m`. */
  private def selected(es: Seq[SnapshotTable.FileEntry]): Seq[SnapshotTable.FileEntry] =
    only.fold(es)(paths => es.filter(f => paths(f.path)))

  /** Manifest-pruned survivors of the STATIC filters — what the
    * reported partitioning and the CBO estimate derive from (both are
    * consumed before any runtime filter exists). */
  private lazy val entries: Seq[SnapshotTable.FileEntry] =
    selected(bucketPrune(ManifestPruning.prunedEntries(m, m.schema, filters), filters))

  /** Survivors of static AND runtime filters — what actually plans. */
  private def activeEntries: Seq[SnapshotTable.FileEntry] =
    if (runtime.isEmpty) entries
    else selected(bucketPrune(
      ManifestPruning.prunedEntries(m, m.schema, filters ++ runtime),
      filters ++ runtime))

  /** Does a reader need SINGLE-FILE partitions? `_file`/`_pos` are
    * per-file notions (a partition constant and a counter), an
    * outstanding delete scopes by the file's commit sequence (equality
    * DVs) or raw ordinals (position sidecars), and the rename dispatch
    * picks one name epoch per partition. */
  private lazy val singleFile: Boolean = metaFields.nonEmpty || anyDv || renamedEpochMixed

  /** The one partition planner's layout: the declared layout
    * ([[SnapshotTable.declaredLayout]]) as `(transform, key groups)`,
    * when the manifest PROVES it. The arms try in precedence order —
    * cluster, bucket, truncate, temporal — and the first whose stamp
    * every surviving file carries wins (the cluster column's min == max
    * value in its Catalyst type, else the arm's synthetic min == max
    * stat). One unstamped file (written outside the layout's write
    * path) degrades its arm — soundness over optimism — and the next
    * declared arm tries; temporal never reports while a bucket is
    * declared, so a compound (temporal x bucket) layout reports its join
    * dimension (periods still prune through the raw timestamp stats).
    * Spark's `groupPartitions` orders the key groups.
    *
    * Off — [[planInputPartitions]] then plans the ungrouped arm —
    * wherever a reader needs single-file partitions ([[singleFile]]),
    * under a limit/TopN file subset (reporting the full layout over a
    * subset would lie to SPJ), and across layout generations (stamps
    * from different transforms share one stat channel); a compaction
    * (every file rewritten under the current names and spec, deletes
    * applied) restores it after deletes, renames and spec evolution. */
  private lazy val layout: Option[(Transform, Seq[(Any, Seq[SnapshotTable.FileEntry])])] =
    if (singleFile || limit.isDefined || topN.isDefined || mixedLayoutGens || entries.isEmpty)
      None
    else {
      val decl = SnapshotTable.declaredLayout(m)
      def stamp(stat: String)(f: SnapshotTable.FileEntry): Option[Long] =
        f.stats.get(stat).collect { case (lo, hi) if lo == hi => lo }
      def clusterStamp(k: String)(f: SnapshotTable.FileEntry): Option[Any] =
        m.schema.fields.find(_.name == k).map(_.dataType) match {
          case Some(dt @ (ByteType | ShortType | IntegerType | LongType)) =>
            f.stats.get(k).collect { case (mn, mx) if mn == mx =>
              dt match {
                case ByteType    => mn.toByte
                case ShortType   => mn.toShort
                case IntegerType => mn.toInt
                case _           => mn
              }
            }
          case Some(StringType) =>
            f.sstats.get(k).collect { case (mn, mx) if mn == mx => UTF8String.fromString(mn) }
          case _ => None
        }
      val arms: Seq[(Transform, SnapshotTable.FileEntry => Option[Any])] = Seq(
        decl.get(SnapshotTable.ClusterK).map(k => Expressions.identity(k) -> clusterStamp(k) _),
        SnapshotTable.bucketSpecFromLayout(decl).map { case (c, n) =>
          Expressions.bucket(n, c) -> ((f: SnapshotTable.FileEntry) =>
            stamp(SnapshotTable.BucketStat)(f).map(_.toInt))
        },
        SnapshotTable.truncSpecFromLayout(decl).map { case (c, w) =>
          Expressions.apply(s"truncate_$w", Expressions.column(c)) ->
            stamp(SnapshotTable.TruncStat) _
        },
        SnapshotTable.temporalSpecFromLayout(decl)
          .filterNot(_ => decl.contains(SnapshotTable.BucketK)).map { case (c, u) =>
            Expressions.apply(u, Expressions.column(c)) -> stamp(SnapshotTable.TemporalStat) _
          }).flatten
      arms.iterator.flatMap { case (t, keyOf) =>
        val keyed = entries.map(f => keyOf(f).map(_ -> f))
        if (keyed.exists(_.isEmpty)) None
        else Some(t -> keyed.flatten.groupMap(_._1)(_._2).toSeq)
      }.nextOption()
    }

  private def partitionedFile(f: SnapshotTable.FileEntry): PartitionedFile =
    SnapshotV2.partitionedFile(f, m.io)

  /** CBO statistics from the manifest, AFTER pruning: row count from
    * the per-file (nullCount, rowCount) stats, bytes from the recorded
    * file sizes — both reported only when every surviving file proves
    * its share (an unknown must read as unknown, never as small: an
    * undercount would trick the planner into broadcasting a 100 TB
    * side). This is what lets Catalyst auto-broadcast a genuinely
    * small snapshot table without opening a single footer. */
  override def estimateStatistics(): Statistics = {
    val es = entries
    val rows =
      if (es.forall(_.nstats.nonEmpty)) {
        val n = es.map(_.nstats.values.head._2).sum
        java.util.OptionalLong.of(n)
      } else java.util.OptionalLong.empty()
    val bytes =
      if (es.forall(_.size >= 0)) java.util.OptionalLong.of(es.map(_.size).sum)
      else java.util.OptionalLong.empty()
    // COLUMN statistics for Catalyst's CBO (Spark converts these to
    // attributeStats via transformV2Stats, driving join-cardinality
    // estimation under spark.sql.cbo.enabled). These are ESTIMATION-
    // grade, not proof-grade: nullCount and min/max are exact commit
    // aggregates, but distinctCount is the SUM of per-file HLL
    // estimates — an upper bound (values repeating across files count
    // once per file), capped at the row count. The proof-grade
    // decisions (manifest pruning, broadcast sizing, metadata DELETE)
    // never read these; they keep their own exactness rules.
    val colStats = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (rows.isPresent) m.schema.fields.foreach { f =>
      val nulls =
        if (es.forall(_.nstats.contains(f.name)))
          java.util.OptionalLong.of(es.map(_.nstats(f.name)._1).sum)
        else java.util.OptionalLong.empty()
      val ndv =
        if (es.forall(_.dstats.contains(f.name)))
          java.util.OptionalLong.of(es.map(_.dstats(f.name)).sum.min(rows.getAsLong))
        else java.util.OptionalLong.empty()
      def cast(v: Long): Object = f.dataType match {
        case ByteType    => java.lang.Byte.valueOf(v.toByte)
        case ShortType   => java.lang.Short.valueOf(v.toShort)
        case IntegerType => java.lang.Integer.valueOf(v.toInt)
        case _           => java.lang.Long.valueOf(v)
      }
      // exact integral extrema when every file proves its range (or
      // all-NULL); other types stay absent — same rule as agg pushdown
      val range: Option[(Object, Object)] = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType
            if es.forall(fe => fe.stats.contains(f.name) ||
              fe.nstats.get(f.name).exists { case (n, r) => n == r }) =>
          val bs = es.flatMap(_.stats.get(f.name))
          if (bs.isEmpty) None
          else Some((cast(bs.map(_._1).min), cast(bs.map(_._2).max)))
        case _ => None
      }
      if (nulls.isPresent || ndv.isPresent || range.isDefined)
        colStats.put(Expressions.column(f.name),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong = ndv
            override def nullCount(): java.util.OptionalLong = nulls
            override def min(): java.util.Optional[Object] =
              range.map(r => java.util.Optional.of(r._1))
                .getOrElse(java.util.Optional.empty())
            override def max(): java.util.Optional[Object] =
              range.map(r => java.util.Optional.of(r._2))
                .getOrElse(java.util.Optional.empty())
          })
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = bytes
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  /** Plans the key groups of [[layout]] when it holds; otherwise one
    * file per partition where [[singleFile]] says a reader needs it,
    * else files packed into splits with Spark's own file-scan packing
    * (`maxPartitionBytes`, `openCostInBytes`; sized from the manifest's
    * recorded file sizes, never split). Packing keeps manifest order,
    * not Spark's largest-first, so rows stream in the order single-file
    * partitions give and a write fed by the read stays byte-identical.
    * Deletes and provenance compose inside a single-file partition: the
    * metadata append is 1:1 over the raw stream and assigns raw ordinals
    * BEFORE any delete filter drops rows, exactly what a stacked
    * deletePositions batch must address. */
  override def planInputPartitions(): Array[InputPartition] = {
    val (files, planned): (Seq[SnapshotTable.FileEntry], Array[InputPartition]) = layout match {
      case Some((_, groups)) =>
        // runtime filters narrow files WITHIN the static key groups
        // (they only ever remove files, so surviving keys ⊆ reported
        // keys — the alignment SPJ's pushPartValues machinery expects)
        val live =
          if (runtime.isEmpty) groups
          else {
            val keep = activeEntries.map(_.path).toSet
            groups.map { case (k, fs) => (k, fs.filter(f => keep(f.path))) }
              .filter(_._2.nonEmpty)
          }
        (live.flatMap(_._2), live.zipWithIndex.map { case ((key, fs), i) =>
          new KeyedFilePartition(i, fs.map(partitionedFile).toArray,
            new GenericInternalRow(Array[Any](key))): InputPartition
        }.toArray)
      case None =>
        // A pushed LIMIT / TopN shrinks the set to the manifest-proven
        // bound — but only on the static plan: runtime filters reject
        // rows, so a truncated prefix could under-deliver under them.
        val bounded =
          if (runtime.nonEmpty) activeEntries
          else topN.map(t => SnapshotV2.topNSubset(entries, m.schema, t))
            .orElse(limit.map(l => SnapshotV2.limitSubset(entries, l)))
            .getOrElse(entries)
        val pfs = bounded.map(partitionedFile)
        val parts =
          if (singleFile) pfs.zipWithIndex.map { case (pf, i) => FilePartition(i, Array(pf)) }
          else {
            val spark = SparkSession.active
            val open = SQLConf.get.filesOpenCostInBytes
            FilePartition.getFilePartitions(spark, pfs,
              FilePartition.maxSplitBytes(spark, pfs.map(_.length + open).sum))
          }
        (bounded, parts.toArray[InputPartition])
    }
    lastPlanned = files.size
    // a row-level operation listens here: the planned entries ARE the
    // groups its commit will replace. The flag says whether RUNTIME
    // predicates shaped this plan — BatchScanExec may touch the STATIC
    // inputPartitions for partitioning bookkeeping AFTER the
    // runtime-filtered planning, so the listener must distinguish the
    // executed (filtered) plan from bookkeeping passes.
    onPlanned(files, runtime.nonEmpty)
    planned
  }

  override def outputPartitioning(): Partitioning =
    layout.map { case (t, groups) => new KeyGroupedPartitioning(Array(t), groups.size) }
      .getOrElse(new UnknownPartitioning(entries.size))

  /** Each cluster-key group holds exactly ONE key value, so it is
    * trivially sorted by that key in every direction — reported as
    * ascending (SupportsReportOrdering), which is what a sort-merge
    * join's required child ordering asks for: two co-clustered tables
    * join with zero exchange AND zero sort. Only reported when the key
    * survives column pruning (the ordering must resolve against this
    * scan's output). */
  override def outputOrdering(): Array[V2SortOrder] = layout match {
    case Some((t, _)) if t.name == "identity" &&
        SnapshotTable.clusterKeyOf(m).exists(requiredSchema.fieldNames.contains) =>
      Array(Expressions.sort(t, SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
    case _ => Array.empty
  }

  /** The parquet reader base, RENAME-AWARE: the current-epoch factory
    * reads under the current names (pushed filters intact); each OLD
    * name epoch gets a factory whose table/read schemas carry that
    * epoch's names positionally (rows align by ordinal — names never
    * travel in InternalRows) and NO pushed filters (they reference
    * current names; the residual pass applies everything row-wise
    * anyway). A per-partition dispatch picks by the file's epoch. */
  private def parquetBase(
      readSchema: StructType, pushedF: Array[Filter]): PartitionReaderFactory = {
    val spark0 = SparkSession.active
    val cur = Bridge.parquetReaderFactory(spark0, m.schema, readSchema, pushedF)
    if (SnapshotTable.renamesOf(m).isEmpty) return cur
    val currentNames = m.schema.fieldNames.toSeq
    val epochOf: Map[String, Seq[String]] =
      entries.map(f => f.path -> SnapshotTable.namesAt(m, math.max(f.seq, 0L))).toMap
    val byEpoch: Map[Seq[String], PartitionReaderFactory] =
      epochOf.values.toSet.filterNot(_ == currentNames).map { (names: Seq[String]) =>
        val curToOld = currentNames.zip(names).toMap
        val tableT = StructType(m.schema.fields.zip(names).map {
          case (f, n) => f.copy(name = n)
        })
        val readT = StructType(readSchema.fields.map(f =>
          f.copy(name = curToOld.getOrElse(f.name, f.name))))
        names -> Bridge.parquetReaderFactory(spark0, tableT, readT, Array.empty)
      }.toMap
    new RenameDispatchReaderFactory(cur, byEpoch, epochOf, currentNames)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // row-group pruning: hand parquet only the filters over recorded
    // data columns (pruned columns still exist in the files); runtime
    // filters ride along when they arrived before the factory builds.
    //
    // ROW-LEVEL scans pass NOTHING: their pushed condition is a
    // GROUP-pruning hint (the rewrite replaces exactly the PLANNED
    // files, so every planned file must be read COMPLETELY — its
    // non-matching rows are the carried half of the copy-on-write).
    // Letting parquet row-group-prune by the condition silently
    // emptied files whose rows all survive, and the replace commit
    // then dropped them (the r13 lost-rows defect: a DELETE whose
    // condition column had no manifest stats lost every fully-
    // surviving file's rows; pinned in Round20Spec).
    // `_pos` must be the row's TRUE ordinal in its file: parquet
    // row-group skipping would silently compact the counter over the
    // surviving rows, so a _pos scan reads files unfiltered and leaves
    // all filtering to Spark's residual pass (same move as row-level
    // scans — correctness over pruning on provenance reads)
    // position deletes address RAW file ordinals: parquet row-group
    // skipping under pushed filters would shift them, so a pos-bearing
    // scan reads files unfiltered (Spark's residual pass still applies
    // every filter row-wise — same move as _pos provenance reads)
    val pushed =
      if (rowLevel || metaFields.contains("_pos") || posDv.nonEmpty)
        Array.empty[Filter]
      else {
        val names = m.schema.fieldNames.toSet
        (filters ++ runtime).filter(_.references.forall(names))
      }
    if (!anyDv) {
      val inner = parquetBase(dataSchema, pushed)
      if (metaFields.isEmpty) inner
      else new MetadataAppendReaderFactory(inner, requiredSchema, dataSchema)
    } else deleteReaderFactory(pushed)
  }

  /** MERGE-ON-READ application of both delete formats, per file and
    * task-side (the Iceberg delete-file application shape): nothing
    * loads on the driver. Each file attaches, from manifest lines alone,
    * the position sidecars whose recorded path range covers it and the
    * deletion-vector sidecars whose key range overlaps its key stats and
    * whose commit sequence exceeds its own — so a MoR commit's
    * post-images survive the DV that kills their pre-images. Memory
    * scales with the deletes that OVERLAP one file, at any chain length.
    * Row-based readers only (the filter is per row); compaction
    * materializes and re-zeros all of this, restoring columnar reads,
    * SPJ and pushdowns.
    *
    * PROVENANCE COMPOSITION: the metadata append is 1:1 over the RAW
    * parquet stream — `_pos` values are raw ordinals, exactly what a
    * stacked deletePositions batch must address — and the delete filter
    * wraps OUTSIDE it, so its position counter walks the same raw
    * stream and dropping a row never compacts `_pos`. A DV key the
    * projection dropped is force-read LAST, so the post-filter
    * projection strips it by prefix. */
  private def deleteReaderFactory(pushed: Array[Filter]): PartitionReaderFactory = {
    val spark = SparkSession.active
    val kf: Option[StructField] = if (dv.isEmpty) None else Some {
      val key = SnapshotTable.dvKeyOf(m).getOrElse(throw new IllegalStateException(
        s"$table carries deletion vectors but no recorded delete key"))
      val f = m.schema.fields.find(_.name == key).getOrElse(
        throw new IllegalStateException(s"$table: DV key $key not in schema"))
      require(DeleteReaderFactory.keyTypes(f.dataType), s"DV key $key: " +
        s"${f.dataType.simpleString} is not a supported delete-key type for the " +
        "v2 reader (integral or string)")
      f
    }
    def withKey(s: StructType): StructType =
      kf.filterNot(f => s.fieldNames.contains(f.name)).fold(s)(f => StructType(s.fields :+ f))
    val innerSchema = withKey(dataSchema)
    val target = if (metaFields.isEmpty) dataSchema else requiredSchema
    val outSchema = withKey(target)
    val parquetInner = parquetBase(innerSchema, pushed)
    val inner =
      if (metaFields.isEmpty) parquetInner
      else new MetadataAppendReaderFactory(parquetInner, outSchema, innerSchema)
    def relevant(r: SnapshotTable.DvRef, f: SnapshotTable.FileEntry): Boolean =
      r.seq > math.max(f.seq, 0L) && {
        val key = kf.get.name
        (r.rangeL, f.stats.get(key), r.rangeS, f.sstats.get(key)) match {
          case (Some((lo, hi)), Some((fmn, fmx)), _, _) =>
            hi >= fmn && lo <= fmx
          case (_, _, Some((lo, hi)), Some((fmn, fmx))) =>
            SnapshotTable.FileEntry.bytesLe(lo, fmx) &&
              SnapshotTable.FileEntry.bytesLe(fmn, hi)
          case _ => true // rangeless ref or statless file: must read
        }
      }
    val sidecar: Map[String, PartitionedFile] =
      (posDv.map(_.path) ++ dv.map(_.path)).distinct.map { p =>
        val len = m.io.size(p)
        p -> PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p), 0L, len,
          Array.empty, 0L, len)
      }.toMap
    // keyed over the STATIC survivors — runtime filters only ever
    // remove files, so every planned partition has its entry
    val byFile: Map[String, Array[DeleteReaderFactory.Attachment]] =
      entries.map { f =>
        val positions = posDv.filter(SnapshotV2.covers(_, f.path))
          .map(r => DeleteReaderFactory.Attachment(sidecar(r.path), positions = true))
        val keys = dv.filter(relevant(_, f))
          .map(r => DeleteReaderFactory.Attachment(sidecar(r.path), positions = false))
        f.path -> (positions ++ keys).toArray
      }.toMap
    lastAttachments = byFile.valuesIterator.map(_.length.toLong).sum
    def sidecarReader(schema: StructType) =
      Bridge.parquetReaderFactory(spark, schema, schema, Array.empty)
    new DeleteReaderFactory(inner, byFile,
      if (posDv.isEmpty) None else Some(sidecarReader(SnapshotV2.PosSidecarSchema)),
      kf.map(f => sidecarReader(StructType(Seq(f.copy(nullable = true))))),
      kf.fold(-1)(f => outSchema.fieldIndex(f.name)),
      kf.fold[DataType](NullType)(_.dataType),
      if (outSchema.length == target.length) None else Some(target))
  }

  /** Streaming read (`spark.readStream.table(...)`, or the
    * `SnapshotSourceProvider` format — MICRO_BATCH_READ): initial batch
    * = the full snapshot, steady state = the manifest diff per version
    * range, each slice read by this scan's own delete- and rename-aware
    * readers, with real `Trigger.AvailableNow` support. */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SnapshotMicroBatchStream(table, m, requiredSchema, filters, maxVersionsPerTrigger)
}

private[graft] object SnapshotV2 {

  /** Can position-delete ref `r` name data file `path`? Its recorded
    * path range decides; a rangeless (legacy) ref may name any file. */
  def covers(r: SnapshotTable.PosDvRef, path: String): Boolean =
    r.range.forall { case (lo, hi) =>
      SnapshotTable.FileEntry.bytesLe(lo, path) &&
        SnapshotTable.FileEntry.bytesLe(path, hi)
    }

  /** A streaming query resolves its columns against `start`, the
    * manifest at query start; a column renamed since keeps its ordinal,
    * so at `to` it goes by the name at the same position. A synthetic
    * start (version 0: a schema given before the first commit) has no
    * ordinals to trust, so its names map as given. */
  def renamedTo(start: SnapshotTable.Manifest, to: SnapshotTable.Manifest): String => String = {
    val was = start.schema.fieldNames
    val now = to.schema.fieldNames
    if (start.version == 0L) identity
    else { n =>
      val i = was.indexOf(n)
      if (i >= 0 && i < now.length) now(i) else n
    }
  }

  /** A pushed `ORDER BY col LIMIT n` (first sort key only). */
  private[graft] case class TopN(col: String, ascending: Boolean, n: Int)

  /** A V1 [[Filter]] as a Catalyst [[org.apache.spark.sql.Column]] —
    * what lets the positions-mode DELETE re-run its predicate as a
    * provenance scan. Total over every shape Spark pushes; None only
    * for shapes this build has never seen (the caller then declines
    * canDeleteWhere and Spark falls back to the rewrite plan). */
  private[sources] def filterAsColumn(
      f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(c, v)            => Some(col(c) === lit(v))
      case EqualNullSafe(c, v)      => Some(col(c) <=> lit(v))
      case GreaterThan(c, v)        => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v)           => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v)    => Some(col(c) <= lit(v))
      case In(c, vs)                => Some(col(c).isin(vs.toSeq: _*))
      case IsNull(c)                => Some(col(c).isNull)
      case IsNotNull(c)             => Some(col(c).isNotNull)
      case StringStartsWith(c, v)   => Some(col(c).startsWith(v))
      case StringEndsWith(c, v)     => Some(col(c).endsWith(v))
      case StringContains(c, v)     => Some(col(c).contains(v))
      case And(l, r) =>
        for (a <- filterAsColumn(l); b <- filterAsColumn(r)) yield a && b
      case Or(l, r) =>
        for (a <- filterAsColumn(l); b <- filterAsColumn(r)) yield a || b
      case Not(c)                   => filterAsColumn(c).map(!_)
      case _: AlwaysTrue            => Some(lit(true))
      case _: AlwaysFalse           => Some(lit(false))
      case _                        => None
    }
  }

  import org.apache.spark.sql.connector.catalog.MetadataColumn

  /** `_file` (which data file holds the row) and `_pos` (its ordinal
    * within that file) — both served without touching the parquet
    * reader. */
  private[graft] val MetaColumns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file path holding the row"
    },
    new MetadataColumn {
      override def name(): String = "_pos"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "row ordinal within its data file"
    })

  private[graft] val MetaNames: Set[String] = MetaColumns.map(_.name).toSet

  private def rowsOf(f: SnapshotTable.FileEntry): Long =
    f.nstats.values.headOption.map(_._2).getOrElse(0L)

  /** Minimal manifest-order PREFIX of the files whose proven rowCounts
    * cover the limit — or all of them when they don't. The builder
    * already proved every file carries a rowCount. */
  private[graft] def limitSubset(
      es: Seq[SnapshotTable.FileEntry], n: Int): Seq[SnapshotTable.FileEntry] = {
    val cum = es.scanLeft(0L)((acc, f) => acc + rowsOf(f)).tail
    val cut = cum.indexWhere(_ >= n)
    if (cut < 0) es else es.take(cut + 1)
  }

  /** Files that can intersect the global top-n by the first sort key.
    *
    * Bound: walk files in order of their WEAKEST value for the
    * direction (max for ascending, min for descending), accumulating
    * proven non-null rows until ≥ n — those files alone contain n rows
    * at or better than the last file's weak bound θ, so every top-n
    * row's key is at or better than θ. Keep every file whose STRONG
    * bound reaches θ, plus every file holding NULLs (sound for either
    * null ordering) and every all-NULL file. Falls back to the full
    * set when non-null rows can't cover n. The builder proved bounds
    * (or an all-NULL proof) and rowCounts on every file. */
  private[graft] def topNSubset(
      es: Seq[SnapshotTable.FileEntry],
      schema: StructType,
      t: TopN): Seq[SnapshotTable.FileEntry] = {
    val isString = schema.fields.find(_.name == t.col).exists(_.dataType == StringType)
    // raw (lo, hi) value bounds; strings compare BYTEWISE — the order
    // Spark's UTF8String sorts by, and the order the commit stats used
    def bounds(f: SnapshotTable.FileEntry): Option[(Any, Any)] =
      if (isString) f.sstats.get(t.col) else f.stats.get(t.col)
    val base: Ordering[Any] = new Ordering[Any] {
      def compare(a: Any, b: Any): Int = (a, b) match {
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: String, y: String) =>
          if (x == y) 0
          else if (SnapshotTable.FileEntry.bytesLe(x, y)) -1 else 1
        // a manifest whose bounds mix types is malformed — refuse
        // loudly rather than sort arbitrarily and mis-prune
        case _ => throw new IllegalStateException(
          s"topNSubset: unorderable bound types for column ${t.col}: " +
            s"${a.getClass.getName} vs ${b.getClass.getName}")
      }
    }
    // "a betterEq b" = a would sort at or before b in the query's order
    val dir = if (t.ascending) base else base.reverse
    def strong(b: (Any, Any)): Any = if (t.ascending) b._1 else b._2
    def weak(b: (Any, Any)): Any = if (t.ascending) b._2 else b._1
    // a file with no `n:` tag for the sort column PROVES nothing: it
    // contributes zero rows toward covering n (weakening θ is the safe
    // direction — pushTopN's guard makes this unreachable today)
    def nonNullRows(f: SnapshotTable.FileEntry): Long =
      f.nstats.get(t.col).map { case (nulls, rows) => rows - nulls }.getOrElse(0L)
    val valued = es.flatMap(f => bounds(f).map(b => (f, b)))
    val byWeak = valued.sortBy { case (_, b) => weak(b) }(dir)
    val cum = byWeak.scanLeft(0L) { case (acc, (f, _)) => acc + nonNullRows(f) }.tail
    val cut = cum.indexWhere(_ >= t.n)
    if (cut < 0) es // not enough proven non-null rows — no truncation
    else {
      val theta = weak(byWeak(cut)._2)
      es.filter { f =>
        bounds(f) match {
          case Some(b) =>
            // no `n:` tag ⇒ null presence UNKNOWN ⇒ keep (forall on
            // None); with a tag, keep only when nulls actually exist
            dir.lteq(strong(b), theta) || f.nstats.get(t.col).forall(_._1 > 0)
          case None => true // all-NULL file: keep (null ordering unknown here)
        }
      }
    }
  }

  private[sources] def partitionedFile(
      f: SnapshotTable.FileEntry, io: SnapshotIO): PartitionedFile = {
    // manifest-recorded size; one fs stat per file only for legacy
    // entries committed before sizes rode the manifest
    val len = if (f.size >= 0) f.size else io.size(f.path)
    PartitionedFile(
      InternalRow.empty, SparkPath.fromPathString(f.path), 0L, len,
      Array.empty, 0L, len)
  }

  /** The (_file, _pos) sidecar schema — shared by every position-delete
    * consumer so none of them pays parquet schema inference. */
  private[sources] val PosSidecarSchema: StructType = StructType(Seq(
    StructField("_file", StringType), StructField("_pos", LongType)))

  /** Drive the shared parquet reader factory on the CALLING thread —
    * ZERO Spark jobs — over tiny driver-side sidecar files (DV /
    * position-delete parquet, coalesce(1)-written by construction): the
    * sidecar writers count and range what they just wrote through it.
    * `spark.read.parquet(p).collect()` costs TWO jobs per load (footer
    * schema inference + the collect itself). Rows are reader-owned and
    * reused: `f` must extract fields, never retain the row. */
  private[sources] def foreachSidecarRow(
      spark: SparkSession,
      schema: StructType,
      paths: Seq[String],
      io: SnapshotIO)(f: InternalRow => Unit): Unit = {
    if (paths.isEmpty) return
    val factory = Bridge.parquetReaderFactory(spark, schema, schema, Array.empty)
    paths.foreach { p =>
      val len = io.size(p)
      val pf = PartitionedFile(InternalRow.empty,
        SparkPath.fromPathString(p), 0L, len, Array.empty, 0L, len)
      val r = factory.createReader(FilePartition(0, Array(pf)))
      try while (r.next()) f(r.get())
      finally r.close()
    }
  }
}

/** Appends the requested metadata columns (`_file`/`_pos`) around an
  * inner row reader. Partitions must hold exactly ONE data file (the
  * scan plans them that way whenever metadata columns are requested):
  * the path is then a per-partition constant and the position a plain
  * reader-side counter — zero extra I/O, zero parquet involvement.
  * Columnar reads are declined (the constant/counter columns would
  * need batch rewriting for no gain on a provenance projection). */
private[sources] class MetadataAppendReaderFactory(
    inner: PartitionReaderFactory,
    required: StructType,
    dataSchema: StructType) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[FilePartition]
    require(fp.files.length == 1,
      s"metadata-column partitions hold one file each, got ${fp.files.length}")
    val path = UTF8String.fromString(fp.files.head.filePath.toPath.toUri.getPath)
    val in = inner.createReader(p)
    val dataIdx = dataSchema.fieldNames.zipWithIndex.toMap
    val dts = dataSchema.fields.map(_.dataType)
    // per-field plan: copy from the inner row, or serve the constant/
    // counter — a DATA column named _file/_pos copies (data wins)
    val fieldPlan: Array[Int] = required.fields.map { f =>
      dataIdx.get(f.name) match {
        case Some(j)                   => j
        case None if f.name == "_file" => -1
        case None                      => -2 // _pos
      }
    }
    new PartitionReader[InternalRow] {
      private var pos = -1L
      override def next(): Boolean = {
        val has = in.next()
        if (has) pos += 1
        has
      }
      override def get(): InternalRow = {
        val r = in.get()
        val vals = new Array[Any](fieldPlan.length)
        var i = 0
        while (i < fieldPlan.length) {
          vals(i) = fieldPlan(i) match {
            case -1 => path
            case -2 => pos
            case j  => r.get(j, dts(j))
          }
          i += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = in.close()
    }
  }
}

/** Applies a file's outstanding deletes around an inner row reader.
  * Partitions hold exactly ONE data file (the scan plans them that way
  * whenever a delete format is outstanding). `byFile` maps each data
  * file's path to the sidecars attached to it, pruned driver-side from
  * manifest lines at zero I/O (see [[SnapshotV2Scan]]'s
  * `deleteReaderFactory`); the task loads only those:
  *
  *   - position sidecars (`posReader`) contribute the raw ordinals they
  *     list for THIS file — a position names its file by path, so the
  *     filter is exact and needs no sequence scoping;
  *   - deletion-vector sidecars (`keyReader`) contribute their keys — a
  *     sorted long array for integral keys (widened to Long), a hash set
  *     for strings. Sequence scoping rode the attachment (only refs with
  *     seq > the file's seq attach). NULL keys never match.
  *
  * One loop drops by raw ordinal first — the counter walks the
  * UNFILTERED stream (the scan disabled parquet filter pushdown under
  * position deletes for exactly this reason) — then by key. When the
  * scan force-read the key past column pruning, `projectTo` strips it
  * back off. */
private[sources] class DeleteReaderFactory(
    inner: PartitionReaderFactory,
    byFile: Map[String, Array[DeleteReaderFactory.Attachment]],
    posReader: Option[PartitionReaderFactory],
    keyReader: Option[PartitionReaderFactory],
    keyOrd: Int,
    keyType: DataType,
    projectTo: Option[StructType]) extends PartitionReaderFactory {

  private val isString = keyType == StringType

  /** Integral keys widened to Long — the unit every DV consumer uses. */
  private def longAt(row: InternalRow, ord: Int): Long = keyType match {
    case ByteType    => row.getByte(ord).toLong
    case ShortType   => row.getShort(ord).toLong
    case IntegerType => row.getInt(ord).toLong
    case _           => row.getLong(ord)
  }

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[FilePartition]
    require(fp.files.length == 1,
      s"delete-applying partitions hold one file each, got ${fp.files.length}")
    val path = fp.files.head.filePath.toPath.toUri.getPath
    val pathU = UTF8String.fromString(path)
    val posB = Array.newBuilder[Long]
    val longsB = Array.newBuilder[Long]
    val strings = new java.util.HashSet[UTF8String]()
    byFile.getOrElse(path, Array.empty).foreach { a =>
      val reader = if (a.positions) posReader.get else keyReader.get
      val r = reader.createReader(FilePartition(0, Array(a.file)))
      try while (r.next()) {
        val row = r.get()
        if (a.positions) {
          if (!row.isNullAt(0) && !row.isNullAt(1) && row.getUTF8String(0) == pathU)
            posB += row.getLong(1)
        } else if (!row.isNullAt(0)) {
          // the reader reuses its buffers: keep a copy of a string key
          if (isString) strings.add(row.getUTF8String(0).clone())
          else longsB += longAt(row, 0)
        }
      } finally r.close()
    }
    // dupes across stacked batches are harmless to the searches
    val dead = posB.result()
    java.util.Arrays.sort(dead)
    val longs = longsB.result()
    java.util.Arrays.sort(longs)
    val byKey = longs.nonEmpty || !strings.isEmpty
    val in = inner.createReader(p)
    if (dead.isEmpty && !byKey && projectTo.isEmpty) return in
    val proj = projectTo.map(s =>
      org.apache.spark.sql.catalyst.ProjectingInternalRow(s, 0 until s.length))
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      private var pos = -1L
      override def next(): Boolean = {
        while (in.next()) {
          pos += 1
          if (dead.isEmpty || java.util.Arrays.binarySearch(dead, pos) < 0) {
            val r = in.get()
            val killed = byKey && !r.isNullAt(keyOrd) && {
              if (isString) strings.contains(r.getUTF8String(keyOrd))
              else java.util.Arrays.binarySearch(longs, longAt(r, keyOrd)) >= 0
            }
            if (!killed) {
              cur = proj match {
                case Some(pr) => pr.project(r); pr
                case None     => r
              }
              return true
            }
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = in.close()
    }
  }
}

private[sources] object DeleteReaderFactory {

  /** One sidecar attached to a data file: a position sidecar
    * (`_file`, `_pos`) or a deletion-vector key sidecar. */
  case class Attachment(file: PartitionedFile, positions: Boolean)

  /** The delete-key types the reader applies (integral or string). */
  val keyTypes: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType, StringType)
}

/** Stream offsets are manifest VERSIONS, serialized as the bare
  * number. */
private[graft] case class VersionOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** What both snapshot streams share: offsets are manifest versions,
  * starting after `startAfter`; each trigger admits at most
  * `maxVersionsPerTrigger` versions (Delta's maxFilesPerTrigger shape
  * at version granularity: a long backlog, or the initial history,
  * drains as bounded micro-batches); and, per
  * [[org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow]],
  * the head is pinned at prepare time and the reported offset never
  * passes it, so AvailableNow drains exactly the history that existed
  * at start. Subclasses plan `(from, to]` slices. */
private[sources] abstract class VersionStream(
    table: String,
    startAfter: Long,
    maxVersionsPerTrigger: Option[Long])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit}

  @volatile private var availableNowTarget: Long = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = SnapshotTable.currentVersion(table)

  override def initialOffset(): V2Offset = VersionOffset(startAfter)

  override def deserializeOffset(json: String): V2Offset =
    VersionOffset(json.trim.toLong)

  private def latest(from: Long): V2Offset = {
    val head = math.min(SnapshotTable.currentVersion(table), availableNowTarget)
    VersionOffset(maxVersionsPerTrigger.fold(head)(n => math.min(head, from + n)))
  }

  override def latestOffset(): V2Offset = latest(startAfter)

  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset =
    latest(start.asInstanceOf[VersionOffset].version)

  /** The `(from, to]` slice's partitions; empty when `from >= to`. */
  protected def plan(from: Long, to: Long): Array[InputPartition]

  override def planInputPartitions(start: V2Offset, end: V2Offset): Array[InputPartition] =
    plan(start.asInstanceOf[VersionOffset].version, end.asInstanceOf[VersionOffset].version)

  override def stop(): Unit = ()
}

/** The snapshot table as a V2 micro-batch SOURCE: each batch is the
  * manifest difference between two versions (pure-append validated by
  * [[SnapshotTable.incrementalFiles]] — overwrite/merge/delete
  * boundaries refuse loudly; metadata-only segment and property
  * commits pass via the path-set diff), version 0 → v = the full
  * snapshot at v. Each slice plans as a [[SnapshotV2Scan]] over the end
  * version's manifest limited to the slice's files, so a stream reads
  * exactly what a batch scan of that version reads: equality deletion
  * vectors and position deletes apply per file, scoped by the file's
  * commit seq, and files written before a column rename read through
  * their name epoch. Nothing is staged, so there is nothing to reclaim
  * on commit. */
private[graft] class SnapshotMicroBatchStream(
    table: String,
    m: SnapshotTable.Manifest,
    readSchema: StructType,
    filters: Array[Filter],
    maxVersionsPerTrigger: Option[Long] = None)
    extends VersionStream(table, 0L, maxVersionsPerTrigger) {

  /** The scan of the slice planned last (also a spec hook). The engine
    * asks for a batch's partitions before its reader factory, and plans
    * batches one at a time, so the factory always pairs with the
    * partitions it reads. */
  @volatile private[graft] var slice: Option[SnapshotV2Scan] = None

  override protected def plan(from: Long, to: Long): Array[InputPartition] = {
    slice = None
    if (to == 0L || from >= to) return Array.empty
    val only =
      if (from == 0L) None
      else Some(SnapshotTable.incrementalFiles(table, from, to).toSet)
    val mTo = SnapshotTable.manifest(table, to)
    // the query resolved its columns at start: read each under its name
    // at `to`
    val at = SnapshotV2.renamedTo(m, mTo)
    val cols = StructType(readSchema.map(f => f.copy(name = at(f.name))))
    // static filter pruning is as sound on a streaming slice as on a
    // batch scan: stats prove absence, the engine re-applies residuals.
    // A filter names the query's columns; a renamed one's old name
    // matches no column at `to` (no commit may take a name the rename
    // log holds), so it prunes nothing
    val scan = new SnapshotV2Scan(table, mTo, cols, filters, only = only)
    slice = Some(scan)
    scan.planInputPartitions()
  }

  // metadata columns (`_file`/`_pos`) are a BATCH feature: Spark's
  // micro-batch planning resolves a table's metadata columns in
  // analysis but has no hook that tells the stream's scan they were
  // requested (column pruning never carries metadataOutput here), so
  // no streaming source can serve them — project provenance in batch
  override def createReaderFactory(): PartitionReaderFactory =
    slice.fold(Bridge.parquetReaderFactory(
      SparkSession.active, m.schema, readSchema, Array.empty))(_.createReaderFactory())

  override def commit(end: org.apache.spark.sql.connector.read.streaming.Offset): Unit =
    () // nothing staged, nothing to reclaim
}
