package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.GraftCache
import graft.pipeline.Pipeline
import graft.plans.GraftOps
import graft.sources.{SnapshotSourceProvider, SnapshotTable}
import graft.wikidata.{ShreddedLayout, WikidataShredder}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** One workload: how to set it up, which operations it runs, and how to
  * run one. `setup` and `run` return a checked result (a digest or a
  * version); `facts` returns per-operation measurements taken outside the
  * timed call, such as output sizes. */
trait Workload {
  /** Build what the operations need. */
  def setup(spark: SparkSession, rep: Int, t: Tracer): Unit
  /** The last set-up's checked result and facts, taken outside its timing;
    * None when set-up builds nothing. */
  def setupCheck(spark: SparkSession, t: Tracer): Option[(String, Map[String, Any])] = None
  /** Operations run once after set-up to warm the JIT. */
  def warmup: Seq[JsonNode]
  /** The measured sequence, after the warm-up operations. */
  def ops: Iterator[JsonNode]
  /** Whether the measured loop may stop before this operation: operations
    * come in rounds (query mixes, table cycles) whose first op is marked. */
  def boundary(op: JsonNode): Boolean = !op.has("start") || op.get("start").asBoolean
  def run(spark: SparkSession, op: JsonNode, t: Tracer): String
  def facts(spark: SparkSession, op: JsonNode, t: Tracer): Map[String, Any] = Map.empty
  /** Facts about the whole run, taken after the last operation. */
  def summary(spark: SparkSession): Map[String, Any] = Map.empty
}

object Workload {
  def apply(plan: JsonNode): Workload = plan.get("workload").asText match {
    case "graph_query" => new GraphQuery(plan)
    case "table_churn" => new TableChurn(plan)
    case "curate" => new Curate(plan)
  }

  def dirBytes(path: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .filterNot(_.getFileName.toString.startsWith("_"))
        .toSeq
      (files.size.toLong, files.map(java.nio.file.Files.size).sum)
    }
  }

  /** Per-table digest columns of the shredded layout; `gen.py` builds the
    * expected rows with the same columns. */
  val layoutDigestCols: Seq[(String, Seq[org.apache.spark.sql.Column])] = Seq(
    "vertex" -> Seq(col("id"), col("label")),
    "edge" -> Seq(col("src_id"), col("property_id"), col("dst_id")),
    "string" -> Seq(col("src_id"), col("property_id"), col("string")),
    "quantity" -> Seq(col("src_id"), col("property_id"),
      (col("amount") * 4).cast("long"), col("unit_id")),
    "coordinates" -> Seq(col("src_id"), col("property_id"),
      (col("latitude") * 8).cast("long"), col("globe_id")),
    "time" -> Seq(col("src_id"), col("property_id"), col("time_str")))

  def layoutDigest(spark: SparkSession, dir: String): String =
    layoutDigestCols.map { case (t, cols) =>
      s"$t=${Digest.ofFrame(ShreddedLayout.read(spark, dir, t), cols: _*)}"
    }.mkString(";")

  /** Dump -> entities -> shredded tables -> layout, cut at each layer
    * when traced. Returns the parsed entities. */
  def ingest(spark: SparkSession, dump: String, layout: String, t: Tracer): DataFrame = {
    val entities = t.span("wikidata.parse")(t.cut(WikidataShredder.parseFile(spark, dump)))
    val sh = t.span("wikidata.shred") {
      val s = WikidataShredder.shred(entities)
      if (!t.traced) s
      else graft.wikidata.Shredded(t.cut(s.vertex), t.cut(s.edge), t.cut(s.string),
        t.cut(s.quantity), t.cut(s.coordinates), t.cut(s.time))
    }
    t.span("wikidata.layout_write")(ShreddedLayout.write(sh, layout))
    entities
  }
}

/** Short queries against a layout built at set-up. */
final class GraphQuery(plan: JsonNode) extends Workload {
  private val dump = plan.get("dump").asText
  private val base = plan.get("layout").asText
  private val all = plan.get("ops").elements().asScala.toVector
  private val nWarm = plan.get("warmup").asInt
  private var layout: String = _

  private var entities: DataFrame = _

  /** Ingest the dump into a fresh layout: parse, shred, layout write. A
    * traced set-up keeps its cached frames until `setupCheck` has counted
    * the parsed entities. */
  def setup(spark: SparkSession, rep: Int, t: Tracer): Unit = {
    layout = s"$base-$rep"
    entities = Workload.ingest(spark, dump, layout, t)
    if (!t.traced) GraftCache.clear()
  }

  override def setupCheck(spark: SparkSession, t: Tracer): Option[(String, Map[String, Any])] = {
    val skipped =
      if (!t.traced) Map.empty
      else Map("skipped_lines" -> (spark.read.textFile(dump).count() - entities.count()))
    GraftCache.clear()
    t.release()
    val (files, bytes) = Workload.dirBytes(layout)
    Some((Workload.layoutDigest(spark, layout),
      Map("layout_files" -> files, "layout_bytes" -> bytes) ++ skipped))
  }

  def warmup: Seq[JsonNode] = all.take(nWarm)
  def ops: Iterator[JsonNode] = all.iterator.drop(nWarm)

  private def open(t: Tracer)(df: => DataFrame): DataFrame = t.span("wikidata.layout_open")(df)

  def run(spark: SparkSession, o: JsonNode, t: Tracer): String = {
    def l(k: String) = o.get(k).asLong
    def edge(p: Long) = open(t)(ShreddedLayout.forProperty(spark, layout, "edge", p))
    val rows: Seq[Row] = o.get("kind").asText match {
      case "lookup" =>
        edge(l("prop")).filter(col("src_id") === l("src")).select("dst_id").collect().toSeq
      case "label" =>
        open(t)(ShreddedLayout.read(spark, layout, "vertex"))
          .filter(col("id") === l("vid")).select("id", "label").collect().toSeq
      case "qty_range" =>
        open(t)(ShreddedLayout.forProperty(spark, layout, "quantity", l("prop")))
          .filter(col("amount").between(o.get("lo").asDouble, o.get("hi").asDouble))
          .select("src_id").collect().toSeq
      case "time_range" =>
        def ts(k: String) = lit(o.get(k).asText).cast("timestamp_ntz")
        open(t)(ShreddedLayout.forProperty(spark, layout, "time", l("prop")))
          .filter(col("time") >= ts("lo") && col("time") < ts("hi"))
          .select("src_id", "time_str").collect().toSeq
      case "two_hop" =>
        val a = edge(l("p1")).filter(col("src_id") === l("src")).select(col("dst_id").as("mid"))
        val b = edge(l("p2")).select(col("src_id").as("mid"), col("dst_id"))
        a.join(b, "mid").select("dst_id").distinct().collect().toSeq
      case "closure" =>
        var seen = Set.empty[Long]
        var frontier = Set(l("src"))
        var depth = 0
        while (depth < o.get("depth").asInt && frontier.nonEmpty) {
          val next = edge(l("prop")).filter(col("src_id").isin(frontier.toSeq: _*))
            .select("dst_id").distinct().collect().map(_.getLong(0)).toSet -- seen
          seen ++= next
          frontier = next
          depth += 1
        }
        seen.toSeq.map(Row(_))
      case "prop_agg" =>
        open(t)(ShreddedLayout.read(spark, layout, "edge"))
          .groupBy("property_id").count().collect().toSeq
      case "topk" =>
        val q = open(t)(ShreddedLayout.read(spark, layout, "quantity"))
        t.span("plans.topk") {
          GraftOps.topKPerGroup(q, Seq(col("property_id")), o.get("k").asInt,
            col("amount").desc, col("src_id").asc)
            .select("property_id", "src_id").collect().toSeq
        }
    }
    Digest.ofRows(rows)
  }

}

/** One writer applying a seeded op sequence to one snapshot table. */
final class TableChurn(plan: JsonNode) extends Workload {
  private val base = plan.get("table").asText
  private val checkpoints = plan.get("checkpoints").asText
  private val initial = plan.get("initial").asText
  private val all = plan.get("ops").elements().asScala.toVector
  private val width = plan.get("row_width").asLong
  private var table: String = _
  private val schema = new StructType()
    .add("k", LongType, nullable = false).add("v", LongType, nullable = false)
    .add("tag", StringType, nullable = false)
  private val stats = Seq("k")

  private def frame(spark: SparkSession, rows: JsonNode, withDelete: Boolean): DataFrame = {
    val s = if (withDelete) schema.add("_del", BooleanType, nullable = false) else schema
    val rs = rows.elements().asScala.map { r =>
      val base = Seq[Any](r.get(0).asLong, r.get(1).asLong, r.get(2).asText)
      Row.fromSeq(if (withDelete) base :+ r.get(3).asBoolean else base)
    }.toVector
    spark.createDataFrame(rs.asJava, s)
  }

  private var created = 0L

  def setup(spark: SparkSession, rep: Int, t: Tracer): Unit = {
    table = s"$base-$rep"
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(initial))
    created = SnapshotTable.commit(frame(spark, rows, withDelete = false), table, append = false,
      statsColumns = stats)
  }

  override def setupCheck(spark: SparkSession, t: Tracer): Option[(String, Map[String, Any])] =
    Some((s"v$created", Map.empty))

  private val nWarm = plan.get("warmup").asInt
  def warmup: Seq[JsonNode] = all.take(nWarm)
  def ops: Iterator[JsonNode] = all.iterator.drop(nWarm)

  private def digestOf(df: DataFrame): String = Digest.ofFrame(df, df.columns.map(col): _*)

  def run(spark: SparkSession, o: JsonNode, t: Tracer): String = o.get("kind").asText match {
    case "append" =>
      val df = frame(spark, o.get("rows"), withDelete = false)
      "v" + t.span("sources.append")(SnapshotTable.commit(df, table, append = true, statsColumns = stats))
    case "merge_cow" =>
      val df = frame(spark, o.get("rows"), withDelete = true)
      "v" + t.span("sources.merge_cow")(
        SnapshotTable.merge(df, table, "k", Some("_del"), statsColumns = stats)._3)
    case "merge_mor" =>
      val df = frame(spark, o.get("rows"), withDelete = true)
      "v" + t.span("sources.merge_mor")(SnapshotTable.mergeMoR(df, table, "k", Some("_del"))._3)
    case "delete" =>
      val keys = spark.createDataFrame(
        o.get("keys").elements().asScala.map(k => Row(k.asLong)).toVector.asJava,
        new StructType().add("k", LongType, nullable = false))
      "v" + t.span("sources.delete")(SnapshotTable.deleteKeys(keys, table, "k"))
    case "compact" =>
      "v" + t.span("sources.compact")(SnapshotTable.compactSnapshot(spark, table, statsColumns = stats)._2)
    case "incremental" =>
      t.span("sources.incremental")(digestOf(
        SnapshotTable.readIncremental(spark, table, o.get("from").asLong, o.get("to").asLong)))
    case "change_feed" =>
      t.span("sources.change_feed")(digestOf(
        SnapshotTable.changeFeed(spark, table, o.get("from").asLong, o.get("to").asLong, "k")))
    case "head_read" =>
      t.span("sources.head_read")(digestOf(SnapshotTable.read(spark, table)))
    case "stream_drain" =>
      val name = s"drain_${o.get("id").asInt}_${System.nanoTime()}"
      t.span("sources.stream_drain") {
        val q = spark.readStream.format(SnapshotSourceProvider.format).option("path", table).load()
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$checkpoints/$name")
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        try digestOf(spark.table(name)) finally spark.catalog.dropTempView(name)
      }
  }

  /** Head-snapshot facts: file count, outstanding deletion vectors, and
    * the bytes the head references per live byte. Taken after every
    * operation, outside its timing. */
  override def facts(spark: SparkSession, o: JsonNode, t: Tracer): Map[String, Any] = {
    val t0 = System.nanoTime()
    val m = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
    val manifestMs = (System.nanoTime() - t0) / 1e6
    val dvPaths = SnapshotTable.dvRefs(m).map(_.path) ++ SnapshotTable.posDvRefs(m).map(_.path)
    val dataBytes = m.files.map(f => if (f.size >= 0) f.size else java.nio.file.Files.size(
      java.nio.file.Paths.get(f.path))).sum
    val dvBytes = dvPaths.distinct.map { p =>
      val (_, b) = Workload.dirBytes(p)
      b
    }.sum
    val liveRows = o.get("live_rows").asLong
    Map("manifest_ms" -> manifestMs, "files" -> m.files.size, "dv_outstanding" -> dvPaths.distinct.size,
      "data_bytes" -> dataBytes, "head_bytes" -> (dataBytes + dvBytes), "live_bytes" -> liveRows * width)
  }

  override def summary(spark: SparkSession): Map[String, Any] = {
    Map("table_bytes" -> Workload.dirBytes(table)._2)
  }
}

/** Quality gate, exact and near-duplicate removal over a document corpus. */
final class Curate(plan: JsonNode) extends Workload {
  private val corpus = plan.get("corpus").asText
  private val base = plan.get("staged").asText
  private val out = plan.get("out").asText
  private var staged: String = _
  private val op: JsonNode = new com.fasterxml.jackson.databind.ObjectMapper()
    .createObjectNode().put("kind", "curate").put("id", 0)
  private val docSchema = new StructType()
    .add("doc_id", LongType).add("lang", StringType).add("text", StringType)

  /** Stage the JSON-lines corpus as the parquet documents relation. */
  def setup(spark: SparkSession, rep: Int, t: Tracer): Unit = {
    staged = s"$base-$rep"
    spark.read.schema(docSchema).json(corpus).write.mode("overwrite").parquet(staged)
  }

  override def setupCheck(spark: SparkSession, t: Tracer): Option[(String, Map[String, Any])] =
    Some((Digest.ofFrame(spark.read.parquet(staged), col("doc_id"), col("lang"), col("text")), Map.empty))

  /** Four runs: every run compiles fresh generated code, and runs keep
    * getting faster under the JIT; most of that drift is over by then. */
  def warmup: Seq[JsonNode] = Seq.fill(4)(op)
  def ops: Iterator[JsonNode] = Iterator.continually(op)

  private var report: Map[String, Map[String, Any]] = Map.empty
  private var nearDropped: Seq[Long] = Nil

  def run(spark: SparkSession, o: JsonNode, t: Tracer): String = {
    val docs = spark.read.parquet(staged)
    def write(df: DataFrame): Unit = df.select("doc_id", "split").write.mode("overwrite").parquet(out)
    if (!t.traced) {
      report = Pipeline.curateAndReport(docs)(write)._2
    } else {
      // Pipeline.curate cut at its stage boundaries
      val q = t.span("pipeline.quality")(t.cut(Pipeline.qualityFilter(docs)))
      val e = t.span("dedup.exact")(t.cut(Pipeline.exactDropIds(docs)))
      val (n, rep) = graft.GraftMetrics.collect(spark) {
        t.span("dedup.near_dup")(t.cut(Pipeline.nearDupDropIds(docs)))
      }
      report = rep
      nearDropped = n.collect().map(_.getLong(0)).toSeq
      t.span("pipeline.split_write")(write(Pipeline.assignSplit(
        q.join(e, Seq("doc_id"), "left_anti").join(broadcast(n), Seq("doc_id"), "left_anti"))))
    }
    "done"
  }

  override def facts(spark: SparkSession, o: JsonNode, t: Tracer): Map[String, Any] = {
    GraftCache.clear()
    t.release()
    val kept = Digest.ofFrame(spark.read.parquet(out), col("doc_id"), col("split"))
    val lsh = report.get("graft_lsh_cap").flatMap(_.get("dropped_bucket_rows")).map(_.toString.toLong)
    Map("kept" -> kept, "out_bytes" -> Workload.dirBytes(out)._2, "lsh_dropped_bucket_rows" -> lsh) ++
      (if (t.traced) Map("near_dropped" -> nearDropped) else Map.empty)
  }
}
