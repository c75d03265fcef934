package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The snapshot table through Spark's V1 batch data-source API —
  * `spark.read.format(SnapshotRelationProvider.format)`. The
  * `PrunedFilteredScan` contract hands the query's pushed-down
  * predicates to [[SnapshotRelation.buildScan]], which prunes files by
  * the manifest's per-file stats (integer AND string bounds) and then
  * reads the survivors through the one batch reader every snapshot
  * read shares: the V2 scan, which applies deletion vectors, position
  * deletes and rename epochs per file. Column pruning rides the same
  * contract. Spark re-applies every filter row-wise downstream (stats
  * prove file-level ABSENCE only), so pruning can only ever skip
  * provably-empty files, never change results.
  *
  * Options are parsed as by [[SnapshotV2Provider]]: `path` (table
  * root), `versionAsOf` (a version or tag), `timestampAsOf` (the
  * newest retained version stamped at or before it). The relation also
  * takes writes (`df.write.format(...).save()`).
  */
class SnapshotRelationProvider extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot-batch"

  /** The WRITE path — `df.write.format(...).mode(...).save()`:
    * SaveMode.Append → transactional append commit (schema-evolution
    * rules apply), SaveMode.Overwrite → overwrite commit (history
    * intact, time travel alive), ErrorIfExists/Ignore honor the
    * table's existence the way the SaveMode contract reads. Options:
    * `statsColumns` (comma-separated) records per-file pruning stats
    * at write, exactly like the API commit. */
  override def createRelation(
      sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
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
    createRelation(sqlContext, parameters)
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val (table, m) = SnapshotV2Provider.resolve(new CaseInsensitiveStringMap(parameters.asJava))
    new SnapshotRelation(sqlContext.sparkSession, table, Some(m.version))
  }
}

object SnapshotRelationProvider {
  /** `spark.read.format(...)` needs the provider CLASS name. */
  val format: String = classOf[SnapshotRelationProvider].getName
}

/** The manifest-bounds pruning predicate, shared by BOTH public scan
  * arms — the V1 `PrunedFilteredScan` relation below and the DSv2
  * [[SnapshotV2Provider]] scan — so the two paths can never drift on
  * which files a pushed filter may skip. */
private[sources] object ManifestPruning {

  import org.apache.spark.sql.types.{DateType, TimestampType}

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
      case EqualTo(c, v: String) if isString(schema, c) =>
        f.sstats.get(c).forall { case (mn, mx) =>
          SnapshotTable.FileEntry.bytesLe(mn, v) && SnapshotTable.FileEntry.bytesLe(v, mx)
        }
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

class SnapshotRelation(
    spark: SparkSession,
    table: String,
    version: Option[Long]) extends BaseRelation with PrunedFilteredScan {

  private val m = SnapshotTable.manifest(
    table, version.getOrElse(SnapshotTable.currentVersion(table)))

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType = m.schema

  /** Package-visible so the spec pins the pruning decisions without
    * driving a full scan. */
  private[graft] def prunedEntries(filters: Array[Filter]): Seq[SnapshotTable.FileEntry] =
    ManifestPruning.prunedEntries(m, schema, filters)

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val base = SnapshotTable.readFiles(spark, table, m, Some(prunedEntries(filters)))
    val projected =
      if (requiredColumns.isEmpty) base else base.select(requiredColumns.map(col).toSeq: _*)
    // needConversion = true (default): hand back external Rows
    projected.rdd
  }
}
