package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `graft-snapshot-cdc` streaming format —
  * `spark.readStream.format(SnapshotCdcSourceProvider.format)
  * .option("path", root).option("key", k)` — an alias serving the
  * table's [[SnapshotChangesTable]], the same change feed (and schema)
  * as `readStream.table("g.t.changes")`. */
class SnapshotCdcSourceProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot-cdc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotCdcSourceProvider.tableOf(options).schema()

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    SnapshotCdcSourceProvider.tableOf(new CaseInsensitiveStringMap(properties))
}

object SnapshotCdcSourceProvider {
  private def tableOf(options: CaseInsensitiveStringMap): SnapshotChangesTable =
    new SnapshotChangesTable(Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "snapshot CDC source needs .option(\"path\", <table root>)")))

  /** `spark.readStream.format(...)` needs the provider CLASS name. */
  val format: String = classOf[SnapshotCdcSourceProvider].getName
}

/** The CHANGES TABLE — the incremental change feed addressable through
  * the catalog (Iceberg's `cat.t.changes` / Delta's `table_changes`
  * shape, served by [[SnapshotTable.changeFeedIncremental]]):
  *
  * {{{
  *   -- batch: the row-level changes of commits (from, to]
  *   spark.read.option("fromVersion", 2).option("toVersion", 4)
  *     .table("g.t.changes")
  *   -- streaming: follow the commit chain continuously
  *   spark.readStream.option("key", "k").table("g.t.changes")
  * }}}
  *
  * Schema = `_change_type`, the data columns, `_commit_version`. The
  * diff key defaults to the table's declared row identity (morKey,
  * else the DV chain's key) and can be overridden with
  * `.option("key", col)`; when a commit in range stamps deletion
  * vectors the key MUST be that identity (changeFeedIncremental's
  * refusal). Batch requires `fromVersion` (>= 1); `toVersion` defaults
  * to head. The streaming arm's offsets are snapshot versions (the
  * checkpointed WAL carries commit-chain positions, restarts replay the
  * same immutable slice); the initial batch is the attach-time STATE as
  * `insert` rows — deletion vectors applied — and every later batch is
  * the per-commit incremental diff at O(touched files).
  *
  * The initial state batch reads straight from the table's files,
  * deletes applied, with nothing staged. Every later slice is
  * MATERIALIZED deterministically under `_cdc_staging/` (a WAL replay
  * overwrites identical content from the same immutable manifests) and
  * served as an ordinary distributed parquet scan; `commit(offset)`
  * reclaims drained staging (vacuum sweeps undrained leftovers). A REAL table
  * or metadata view named `changes` wins the name — this view only
  * resolves when nothing else does.
  */
private[sources] class SnapshotChangesTable(tablePath: String)
    extends Table with SupportsRead {

  private val head = SnapshotTable.currentVersion(tablePath)
  require(head > 0, s"snapshot table $tablePath has no published version")
  private val m = SnapshotTable.manifest(tablePath, head)

  override def name(): String = s"$tablePath.changes"

  override def schema(): StructType = SnapshotChanges.cdcSchema(m.schema)

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val key = Option(options.get("key"))
      .orElse(SnapshotTable.morKeyOf(m))
      .orElse(m.extra.get("dvkey"))
      .getOrElse(throw new IllegalArgumentException(
        s"the changes view of $tablePath needs a diff identity — declare " +
          "TBLPROPERTIES('morKey'=...) or pass .option(\"key\", <column>)"))
    require(m.schema.fieldNames.contains(key), s"no column $key in $tablePath")
    val from = Option(options.get("fromVersion")).map(_.toLong)
    val to = Option(options.get("toVersion")).map(_.toLong)
    val maxV = Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
    () => new SnapshotChangesScan(tablePath, m, key, from, to, maxV)
  }
}

private[sources] object SnapshotChanges {
  /** `_change_type`, data columns, `_commit_version`. */
  def cdcSchema(table: StructType): StructType =
    StructType(
      StructField("_change_type", StringType, nullable = true) +:
        table.fields.toSeq :+
        StructField("_commit_version", LongType, nullable = true))

  /** Materialize the deterministic change slice `(from, to]`, `from >=
    * 1`, into `staging` and list its files. The path is keyed by the
    * range, so a replay overwrites identical content (immutable
    * manifests) before reading. */
  private[sources] def materialize(
      table: String, key: String, from: Long, to: Long, staging: String): Seq[String] = {
    SnapshotTable.changeFeedIncremental(SparkSession.active, table, from, to, key)
      .write.mode("overwrite").parquet(staging)
    LocalSnapshotIO.list(staging).filter(_.endsWith(".parquet")).sorted
      .map(n => s"$staging/$n")
  }
}

private[sources] class SnapshotChangesScan(
    table: String,
    m: SnapshotTable.Manifest,
    key: String,
    fromOpt: Option[Long],
    toOpt: Option[Long],
    maxVersionsPerTrigger: Option[Long]) extends Scan {

  private val cdcSchema = SnapshotChanges.cdcSchema(m.schema)

  override def readSchema(): StructType = cdcSchema

  override def description(): String =
    s"graft-snapshot-changes $table (key=$key)"

  override def toBatch: Batch = new Batch {
    private val from = fromOpt.getOrElse(throw new IllegalArgumentException(
      "batch changes read needs .option(\"fromVersion\", <v >= 1>) — " +
        "(fromVersion, toVersion] is the commit range served"))
    private val to = toOpt.getOrElse(SnapshotTable.currentVersion(table))

    // materialize ONCE per scan instance: planInputPartitions may be
    // invoked several times (stats estimation, AQE, exec planning) and
    // a re-materialize under overwrite changes the part-file NAMES out
    // from under partitions already planned (FILE_NOT_EXIST at read)
    private lazy val files: Seq[String] = {
      require(from >= 1 && from < to,
        s"need 1 <= fromVersion < toVersion, got ($from, $to]")
      // batch slices stage OUTSIDE the table (tmpdir keyed by identity
      // — deterministic overwrite, no table-side garbage to reclaim)
      SnapshotChanges.materialize(table, key, from, to,
        graft.Stage.dir("graft_changes_", table, key, from, to).getPath)
    }

    override def planInputPartitions(): Array[InputPartition] =
      files.zipWithIndex.map { case (p, i) =>
        FilePartition(i, Array(SnapshotV2.partitionedFile(
          SnapshotTable.FileEntry(p, Map.empty), LocalSnapshotIO))): InputPartition
      }.toArray

    override def createReaderFactory(): PartitionReaderFactory =
      Bridge.parquetReaderFactory(
        SparkSession.active, cdcSchema, cdcSchema, Array.empty)
  }

  override def toMicroBatchStream(
      checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SnapshotChangesMicroBatchStream(
      table, m, key, fromOpt, maxVersionsPerTrigger)
}

/** Streaming arm: offsets are snapshot versions (same contract as
  * [[SnapshotMicroBatchStream]]); the initial state batch is a
  * [[SnapshotV2Scan]] of its end version whose rows are stamped as
  * inserts reader-side, every later batch materializes its slice
  * deterministically and serves the files; `commit` reclaims drained
  * staging. `fromVersion` (optional) starts the feed mid-chain —
  * offset fromVersion means "changes after it", so the initial batch
  * is (fromVersion, next] incremental rather than full-state inserts. */
private[sources] class SnapshotChangesMicroBatchStream(
    table: String,
    m: SnapshotTable.Manifest,
    key: String,
    startAfter: Option[Long],
    maxVersionsPerTrigger: Option[Long])
    extends VersionStream(table, startAfter.getOrElse(0L), maxVersionsPerTrigger) {

  // one materialization per range per stream instance —
  // planInputPartitions can be invoked several times for one batch
  // (planning passes), and re-materializing under overwrite renames
  // the part files out from under already-planned partitions
  private val staged =
    scala.collection.concurrent.TrieMap.empty[(Long, Long), Seq[String]]

  private val cdcSchema = SnapshotChanges.cdcSchema(m.schema)

  /** The state scan and its version, when the slice planned last was the
    * initial one (the engine plans a batch's partitions before asking
    * for its reader factory). */
  @volatile private var state: Option[(SnapshotV2Scan, Long)] = None

  override protected def plan(from: Long, to: Long): Array[InputPartition] = {
    state = None
    if (to == 0L || from >= to) return Array.empty
    if (from == 0L) {
      // the state at `to` as inserts: the batch read of that version,
      // deletes applied per file, with the query's columns under their
      // names at `to` — nothing to stage
      val mTo = SnapshotTable.manifest(table, to)
      val at = SnapshotV2.renamedTo(m, mTo)
      val scan = new SnapshotV2Scan(
        table, mTo, StructType(m.schema.map(f => f.copy(name = at(f.name)))), Array.empty)
      state = Some((scan, to))
      return scan.planInputPartitions()
    }
    // streaming slices stage under the table's _cdc_staging root, one
    // `<from>_<to>` range dir each (one CDC consumer per table — the
    // existing convention), so the stream's own commit() AND vacuum's
    // sweep reclaim them
    val files = staged.getOrElseUpdate((from, to),
      SnapshotChanges.materialize(table, key, from, to,
        s"$table/_cdc_staging/${from}_$to"))
    files.zipWithIndex.map { case (p, i) =>
      FilePartition(i, Array(SnapshotV2.partitionedFile(
        SnapshotTable.FileEntry(p, Map.empty), LocalSnapshotIO))): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = state match {
    case Some((scan, to)) => new InsertStampReaderFactory(scan.createReaderFactory(), to)
    case None => Bridge.parquetReaderFactory(
      SparkSession.active, cdcSchema, cdcSchema, Array.empty)
  }

  /** Offset `end` is durable in the WAL: every staged range it covers
    * is drained and never planned again — reclaim its files and its
    * memo entry. This bounds a long-lived stream's staging footprint
    * to the in-flight batch instead of the table's change history. */
  override def commit(end: org.apache.spark.sql.connector.read.streaming.Offset): Unit = {
    val v = end.asInstanceOf[VersionOffset].version
    SnapshotTable.purgeStaging(s"$table/_cdc_staging", v)
    staged.keys.filter(_._2 <= v).foreach(staged.remove)
  }
}

/** Serves an inner reader's data rows as change rows: `_change_type` =
  * `insert` before the data columns, `_commit_version` = `version`
  * after them. */
private[sources] class InsertStampReaderFactory(
    inner: PartitionReaderFactory,
    version: Long) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val in = inner.createReader(p)
    val changeType = InternalRow(UTF8String.fromString("insert"))
    val commitVersion = InternalRow(version)
    val data = new JoinedRow
    val row = new JoinedRow
    new PartitionReader[InternalRow] {
      override def next(): Boolean = in.next()
      override def get(): InternalRow = row(data(changeType, in.get()), commitVersion)
      override def close(): Unit = in.close()
    }
  }
}
