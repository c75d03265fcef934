package org.apache.spark.sql
package graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. ExpressionUtils is private[sql], so
  * custom native expressions (graft.expressions.*) go through this
  * package-located shim — the conventional pattern for Spark extension
  * libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a catalyst Expression.
    * Function-registry builders need this: the lazy ColumnNodeExpression
    * wrapper from `expression` is only converted at the Dataset API
    * boundary, and expressions produced by a FunctionBuilder never pass
    * that boundary — they would reach codegen unconverted. */
  def expressionEager(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Analyzed logical plan of a frame (for building custom plan nodes). */
  def logicalPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Wrap a logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Checkpoint RDDs referenced by a frame's plan (LogicalRDD leaves).
    * Dataset.unpersist routes through the CacheManager, which never
    * holds localCheckpoint blocks — freeing them needs the RDD itself. */
  def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect { case l: execution.LogicalRDD => l.rdd }

  /** Wrap a DETERMINISTIC batch frame as the micro-batch a V1 streaming
    * Source hands back from getBatch: the frame's physical RDD under an
    * isStreaming=true leaf (the construction MemoryStream and the V1
    * KafkaSource use — `internalCreateDataFrame(rdd, schema,
    * isStreaming = true)`). The RDD lineage is lazy and executes on the
    * executors inside the streaming query; nothing is materialized to
    * staging storage, so a source whose slices are pure computation
    * (e.g. the rate source's arithmetic over range) pays ZERO I/O per
    * micro-batch and leaves nothing to reclaim. The caller owns
    * determinism: a WAL replay re-plans the same offset range and must
    * recompute identical rows. `schema` is the SOURCE's declared schema
    * — arithmetic plans mark division results nullable, and the
    * micro-batch must carry the schema the provider advertised (the
    * caller guarantees no actual nulls). */
  def streamingBatch(df: DataFrame, schema: types.StructType): DataFrame = {
    val ss = df.sparkSession.asInstanceOf[classic.SparkSession]
    ss.internalCreateDataFrame(df.queryExecution.toRdd, schema, isStreaming = true)
  }

  /** A serializable parquet → InternalRow reader factory for a DSv2
    * Batch, built from Spark's OWN parquet machinery
    * (ParquetPartitionReaderFactory — the exact factory behind
    * `spark.read.parquet`'s V2 scan): vectorized/columnar reads when the
    * schema supports them, parquet row-group pruning from the pushed
    * filters, missing-column → NULL schema clipping (the add-column
    * evolution shape). `SerializableConfiguration` and `sessionState`
    * are private[spark]/private[sql], hence the shim. The InputPartition
    * handed to the factory must be a
    * [[org.apache.spark.sql.execution.datasources.FilePartition]] (or a
    * subclass — e.g. one that also implements HasPartitionKey for
    * storage-partitioned joins). */
  def parquetReaderFactory(
      spark: SparkSession,
      dataSchema: types.StructType,
      readSchema: types.StructType,
      filters: Array[sources.Filter]): connector.read.PartitionReaderFactory = {
    val ss = spark.asInstanceOf[classic.SparkSession]
    val conf = ss.sessionState.conf
    // the exact hadoopConf contract ParquetScan.createReaderFactory
    // fulfills before handing the broadcast to the factory — the reader
    // resolves its ReadSupport and requested schema from these keys
    val hc = ss.sessionState.newHadoopConf()
    import execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
    hc.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hc.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readSchema.json)
    hc.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readSchema.json)
    hc.set(internal.SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    hc.setBoolean(internal.SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      conf.nestedSchemaPruningEnabled)
    hc.setBoolean(internal.SQLConf.CASE_SENSITIVE.key, conf.caseSensitiveAnalysis)
    hc.setBoolean(internal.SQLConf.PARQUET_BINARY_AS_STRING.key, conf.isParquetBinaryAsString)
    hc.setBoolean(internal.SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      conf.isParquetINT96AsTimestamp)
    hc.setBoolean(internal.SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      conf.parquetInferTimestampNTZEnabled)
    hc.setBoolean(internal.SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      conf.legacyParquetNanosAsLong)
    val bc = ss.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hc))
    execution.datasources.v2.parquet.ParquetPartitionReaderFactory(
      conf, bc, dataSchema, readSchema,
      new types.StructType(), filters, None,
      new execution.datasources.parquet.ParquetOptions(
        Map.empty[String, String], conf))
  }

  /** V2 runtime-filter Predicates → V1 source Filters (PredicateUtils
    * is private[sql]) — what a SupportsRuntimeV2Filtering scan receives
    * from a DPP subquery, rewritten into the filter vocabulary the
    * manifest pruning predicate already speaks. Untranslatable shapes
    * drop out (pruning just doesn't narrow further — sound). */
  def predicatesToV1(
      ps: Array[connector.expressions.filter.Predicate]): Array[sources.Filter] =
    internal.connector.PredicateUtils.toV1(ps)

  /** Serializable per-task parquet writer maker for a DSv2 BatchWrite:
    * wraps the OutputWriterFactory ParquetFileFormat.prepareWrite
    * returns (the exact writer behind df.write.parquet — same codec,
    * same ParquetWriteSupport row layout, so files written task-side
    * are indistinguishable from commit-path files) plus the prepared
    * job configuration, shipped via SerializableConfiguration. `open`
    * runs on the EXECUTOR: the explicit path keeps concurrent writers
    * collision-free (the synthetic attempt id is never used for
    * naming). */
  class ParquetRowWriterFactory private[graftbridge] (
      factory: execution.datasources.OutputWriterFactory,
      conf: org.apache.spark.util.SerializableConfiguration,
      schema: types.StructType) extends Serializable {
    def open(path: String): execution.datasources.OutputWriter = {
      val attemptId = new org.apache.hadoop.mapreduce.TaskAttemptID(
        new org.apache.hadoop.mapreduce.TaskID(
          new org.apache.hadoop.mapreduce.JobID("graft-write", 0),
          org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0)
      factory.newInstance(path, schema,
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf.value, attemptId))
    }

    /** Byte size of a written file, through the SAME filesystem the
      * writer used (storage-agnostic, unlike a java.io stat). */
    def sizeOf(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(conf.value).getFileStatus(p).getLen
    }
  }

  def parquetRowWriter(
      spark: SparkSession, schema: types.StructType): ParquetRowWriterFactory = {
    val ss = spark.asInstanceOf[classic.SparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(ss.sessionState.newHadoopConf())
    val factory = new execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(ss, job, Map.empty, schema)
    new ParquetRowWriterFactory(factory,
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration), schema)
  }

  // ---- Arrow inference seam (mapInArrow's shape, for JVM consumers) ---

  /** The Arrow-batched MODEL-INFERENCE seam — `mapInArrow`'s plan shape
    * without the Python worker: each partition's rows serialize into
    * Arrow IPC record batches of `maxRecordsPerBatch` rows
    * (ArrowConverters.toBatchIterator — the EXACT writer the Python/R
    * paths ship batches through), `fn` consumes and produces batch
    * bytes (a real model server's wire format: CLIP scoring, ONNX,
    * a sidecar process), and the output batches deserialize back into
    * rows of `outSchema`. Columnar hand-off, zero per-row JVM↔consumer
    * chatter; the seam is per-partition, so a 1000-executor scoring
    * pass streams batches without any driver involvement. */
  def mapArrowBatches(
      df: DataFrame,
      outSchema: types.StructType,
      maxRecordsPerBatch: Long)(
      fn: Iterator[Array[Byte]] => Iterator[Array[Byte]]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val ss = ds.sparkSession
    val tz = ss.sessionState.conf.sessionLocalTimeZone
    val inSchema = df.schema
    val rdd = ds.queryExecution.toRdd.mapPartitions { it =>
      val ctx = org.apache.spark.TaskContext.get()
      val in: Iterator[Array[Byte]] = execution.arrow.ArrowConverters
        .toBatchIterator(it, inSchema, maxRecordsPerBatch, tz, true, false, ctx)
      // the Arrow reader hands back column-view rows that mutate as the
      // batch advances — copy through an UnsafeProjection before Spark
      // operators buffer them
      val proj = catalyst.expressions.UnsafeProjection.create(outSchema)
      execution.arrow.ArrowConverters
        .fromBatchIterator(fn(in), outSchema, tz, true, false, ctx)
        .map(proj)
    }
    ss.internalCreateDataFrame(rdd, outSchema)
  }

  /** Child allocator off Spark's own root — the allocator an Arrow
    * batch consumer (the `fn` above) should live in. */
  def arrowAllocator(name: String): org.apache.arrow.memory.BufferAllocator =
    util.ArrowUtils.rootAllocator.newChildAllocator(name, 0L, Long.MaxValue)

  /** Catalyst schema → Arrow schema, the same mapping toBatchIterator
    * serialized with — what a consumer needs to build its VectorSchemaRoot. */
  def arrowSchema(
      schema: types.StructType, timeZoneId: String = "UTC")
      : org.apache.arrow.vector.types.pojo.Schema =
    util.ArrowUtils.toArrowSchema(schema, timeZoneId, true, false)

  /** Deserialize one toBatchIterator-framed record batch (the inverse
    * of [[arrowWriteBatch]] — bare IPC record-batch message bytes). */
  def arrowLoadBatch(
      bytes: Array[Byte],
      alloc: org.apache.arrow.memory.BufferAllocator)
      : org.apache.arrow.vector.ipc.message.ArrowRecordBatch =
    org.apache.arrow.vector.ipc.message.MessageSerializer
      .deserializeRecordBatch(
        new org.apache.arrow.vector.ipc.ReadChannel(java.nio.channels.Channels
          .newChannel(new java.io.ByteArrayInputStream(bytes))), alloc)

  /** Serialize a root's current contents in the SAME framing
    * fromBatchIterator consumes (bare IPC record-batch message). */
  def arrowWriteBatch(root: org.apache.arrow.vector.VectorSchemaRoot): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val wc = new org.apache.arrow.vector.ipc.WriteChannel(
      java.nio.channels.Channels.newChannel(out))
    val batch = new org.apache.arrow.vector.VectorUnloader(root).getRecordBatch
    try org.apache.arrow.vector.ipc.message.MessageSerializer.serialize(wc, batch)
    finally batch.close()
    out.toByteArray
  }

  /** Block until the async listener bus has delivered everything posted
    * so far (bounded). QueryExecutionListener callbacks ride this bus,
    * so "bus empty" == "every completed action's observed metrics have
    * reached their listeners" — the deterministic way to wait for
    * metrics instead of polling with a fixed grace period. Returns true
    * if the bus drained inside the timeout. `listenerBus` is
    * private[spark]; this shim lives under org.apache.spark so the
    * access is legal. */
  def waitListenerBusEmpty(spark: SparkSession, timeoutMillis: Long): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
