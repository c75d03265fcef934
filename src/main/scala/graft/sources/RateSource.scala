package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** A Kafka-SHAPED synthetic streaming source — the non-file arm of the
  * streaming surface: deterministic records fanned over `partitions`
  * logical partitions with per-partition monotone sequence numbers
  * (the consumer-visible shape of a partitioned log), admission-capped
  * by `rowsPerTrigger` like the snapshot stream's
  * maxVersionsPerTrigger (and Kafka's maxOffsetsPerTrigger): a long
  * backlog drains as bounded micro-batches, and the planned position
  * persists through [[HighWaterMark]] so a restarted source never
  * reports an offset below the committed one. The sandbox has no
  * broker; what a broker would provide — external, replayable,
  * offset-addressed records — is synthesized deterministically:
  * record g ∈ [0, totalRows) lands in partition g % P with sequence
  * g / P and value (g · 2654435761) mod 1000000007, so any slice is
  * reproducible from its offset range alone (Kafka's replayability
  * contract) and a relational oracle recomputes the whole stream.
  *
  * Offsets are the GLOBAL emitted count; each micro-batch IS the
  * arithmetic over range(start, end] — handed to Spark as a
  * streaming-flagged distributed computation (Bridge.streamingBatch,
  * the MemoryStream/KafkaSource construction), so a micro-batch costs
  * ZERO staging I/O and leaves nothing on disk to reclaim. Replay
  * idempotence is arithmetic: a WAL-replayed offset range recomputes
  * identical rows from the range alone.
  *
  * Options: `totalRows` (required — the backlog), `rowsPerTrigger`
  * (admission cap, default unbounded), `partitions` (default 4).
  */
class GraftRateSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-rate"

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty, "graft-rate derives its schema — drop .schema()")
    (shortName(), GraftRateSourceProvider.schema)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new GraftRateSource(
      sqlContext,
      parameters.getOrElse("totalRows",
        throw new IllegalArgumentException("graft-rate needs .option(\"totalRows\", n)")).toLong,
      parameters.get("rowsPerTrigger").map(_.toLong),
      parameters.getOrElse("partitions", "4").toInt,
      metadataPath)
}

object GraftRateSourceProvider {
  val schema: StructType = StructType(Seq(
    StructField("part", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("value", LongType, nullable = false)))

  /** `spark.readStream.format(...)` needs the provider CLASS name. */
  val format: String = classOf[GraftRateSourceProvider].getName

  /** Record-law constants: value = (g · 2654435761) mod 1000000007,
    * computed MODULARLY — the naive product overflows Long at
    * g ≈ 3.47e9 (a ~3.5 B-row backlog is one day of a real feed), so
    * both the driver law here and the executor Column in getBatch
    * reduce g first: ((g mod M) · (C mod M)) mod M, whose intermediate
    * maxes at ~6.5e17, safely inside Long. Identical values for every
    * g — the relational oracle (which computes in DuckDB's 128-bit
    * arithmetic) agrees at all backlog sizes. */
  private[sources] val Mod = 1000000007L
  private[sources] val MulReduced = 2654435761L % Mod // = 654435747

  /** The record law, shared with the spec: deterministic, mirrored by
    * the DuckDB oracle over range(). */
  def valueOf(g: Long): Long = ((g % Mod) * MulReduced) % Mod
}

private[graft] class GraftRateSource(
    sqlContext: SQLContext,
    totalRows: Long,
    rowsPerTrigger: Option[Long],
    partitions: Int,
    metadataPath: String = "") extends Source {

  require(totalRows >= 0 && partitions > 0, "need totalRows >= 0 and partitions > 0")

  override val schema: StructType = GraftRateSourceProvider.schema

  // persisted admission cursor (see HighWaterMark): the reported
  // offset must never fall below the committed position after a
  // recovery (empty metadataPath = in-memory only, no FS touch)
  private val hwm =
    new HighWaterMark(metadataPath, sqlContext.sparkSession.sessionState.newHadoopConf())
  @volatile private var planned = hwm.load()

  override def getOffset: Option[Offset] = {
    val capped = rowsPerTrigger match {
      case Some(n) => math.min(totalRows, planned + n)
      case None    => totalRows
    }
    if (capped == 0L) None else Some(LongOffset(capped))
  }

  /** The (from, to] slice as a BATCH frame: pure arithmetic over
    * range(from, to) — distributed, no driver-side row building, no
    * staging materialization. Package-visible so the spec collects a
    * slice's content directly (getBatch's streaming-flagged wrapper
    * refuses batch execution by design). */
  private[graft] def slice(from: Long, to: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    sqlContext.sparkSession.range(from, math.max(from, to))
      .select(
        (col("id") % partitions).as("part"),
        org.apache.spark.sql.functions.expr(s"id div $partitions").as("seq"),
        // the record law, reduced modularly (see GraftRateSourceProvider.Mod)
        ((col("id") % lit(GraftRateSourceProvider.Mod))
          * lit(GraftRateSourceProvider.MulReduced))
          .%(lit(GraftRateSourceProvider.Mod)).as("value"))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = version(end)
    planned = hwm.advance(to, planned)
    val from = start.map(version).getOrElse(0L)
    // zero-staging micro-batch: the slice executes on the executors
    // inside the streaming query; a WAL replay recomputes identical
    // rows from the offset range alone (deterministic arithmetic) — so
    // there is no per-batch directory to clobber, collide on, or reclaim
    org.apache.spark.sql.graftbridge.Bridge.streamingBatch(slice(from, to), schema)
  }

  private def version(o: Offset): Long = o match {
    case LongOffset(v)       => v
    case SerializedOffset(j) => j.trim.toLong
    case other               => other.json().trim.toLong
  }

  override def stop(): Unit = ()
}

/** The planned-offset HIGH-WATER MARK, persisted beside Spark's own
  * checkpoint state under the source's metadataPath. Why it must
  * persist: the admission cursor (`planned`) caps getOffset at
  * `planned + rowsPerTrigger`, and after a restart where the
  * last batch was already committed Spark calls getOffset BEFORE any
  * getBatch — a cursor re-seeded at 0 would report an offset BELOW the
  * committed position, MicroBatchExecution would see the offset
  * regress, and already-processed slices would be redelivered
  * as NEW batch ids (appendBatch's replay guard keys on batch id, so
  * the duplicates would land). One small file, rewritten per planned
  * batch, read once at source construction. */
private[sources] final class HighWaterMark(metadataPath: String, conf: org.apache.hadoop.conf.Configuration) {
  // an empty metadataPath (direct construction in tests / embedding)
  // means NO persistence at all — the cursor is purely in-memory and
  // the filesystem is never touched. Without this guard the write path
  // would be "/graft-highwater": the filesystem root.
  private val persistent = metadataPath.nonEmpty
  private lazy val io = new HadoopSnapshotIO(conf)
  private val path = s"$metadataPath/graft-highwater"
  /** Last persisted planned offset; 0 when nothing was persisted. A
    * truncated/garbled file (crash mid-write under a pre-atomic layout)
    * degrades to 0 with a warning rather than wedging the source at
    * construction — under-reporting `planned` only re-plans a batch,
    * which the offset WAL already dedupes. */
  def load(): Long =
    if (!persistent || !io.exists(path)) 0L
    else try io.readString(path).trim.toLong
    catch {
      case _: NumberFormatException =>
        System.err.println(
          s"[graft] WARN unparseable high-water mark at $path — treating as 0 (a batch may be re-planned)")
        0L
    }
  def advance(to: Long, current: Long): Long = {
    val n = math.max(current, to)
    if (n > current && persistent) io.writeStringAtomic(path, n.toString)
    n
  }
}
