package graft.sources

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.3 — source readers. The reference streams JSON lines from
  * file/stdin (main.rs:61-116) tolerating malformed lines; here the JSON
  * source demonstrates the same tolerance via PERMISSIVE mode + a corrupt
  * record column, with an explicit schema (no inference scan — at 100 TB
  * an inference pass would double the read).
  *
  * The JSON/CSV roundtrips build the text lines distributed
  * (Dataset[String] from a projection — no driver collect), read them
  * back through the real spark.read path, and must reproduce the
  * original table exactly; the oracle is the original table.
  */
object SourceCatalog extends QueryModule {

  /** `SnapshotTable.read` of `table` (at `version`, else the head)
    * filtered by `pred`, REQUIRED to plan a strict subset of the
    * manifest's files: the V2 scan's pushed filters prune at the
    * manifest, and the oracle compares rows only, so a pushdown that
    * silently stopped pruning would otherwise still pass. A one-file
    * table has nothing to prune (src_snapshot_optimize compacts to one
    * file at sf0.001). */
  private def prunedRead(
      s: org.apache.spark.sql.SparkSession,
      table: String,
      pred: Column,
      version: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val df = SnapshotTable.read(s, table, version).filter(pred)
    val planned = graft.Stage.plannedFiles(df.queryExecution.sparkPlan)
    val total = SnapshotTable.manifest(
      table, version.getOrElse(SnapshotTable.currentVersion(table))).fileCount
    require(planned > 0 && (planned < total || total == 1),
      s"manifest pruning of $table on $pred planned $planned of $total files — " +
        "want a strict subset")
    df
  }

  def queries: Seq[Q] = Seq(
    Q(
      "src_parquet",
      (s, dir) =>
        Tables(s, dir).part
          .filter(col("p_size").between(10, 30))
          .select("p_partkey", "p_name", "p_size")
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_size FROM part
             |WHERE p_size BETWEEN 10 AND 30 ORDER BY p_partkey""".stripMargin)
    ),
    Q(
      "src_json",
      (s, dir) => {
        implicit val enc = org.apache.spark.sql.Encoders.STRING
        val docs = Tables(s, dir).documents
        val lines = docs
          .select(to_json(struct(col("doc_id"), col("lang"), col("source"), col("n_chars"))))
          .as[String]
        // Inject malformed lines: the reader must skip them, as the
        // reference skips unparseable dump lines (main.rs:100-113).
        val corrupt = s.createDataset(Seq("{\"doc_id\": oops", "]", ""))
        val schema = new StructType()
          .add("doc_id", LongType)
          .add("lang", StringType)
          .add("source", StringType)
          .add("n_chars", LongType)
          .add("_corrupt_record", StringType)
        s.read
          .schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(lines.union(corrupt))
          .filter(col("_corrupt_record").isNull && col("doc_id").isNotNull)
          .drop("_corrupt_record")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id""")
    ),
    Q(
      "src_csv",
      (s, dir) => {
        implicit val enc = org.apache.spark.sql.Encoders.STRING
        val lines = Tables(s, dir).nation
          .select(concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")))
          .as[String]
        s.read
          .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
          .option("sep", "|")
          .csv(lines)
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""")
    ),
    Q(
      "src_orc",
      // ORC write + read round trip — the second columnar format next
      // to parquet (warehouse interchange: Hive/Trino-managed tables
      // are routinely ORC). The query exercises the FULL path: write
      // the table as zstd ORC, reopen through spark.read.orc with
      // predicate pushdown, and reproduce the source relation; the
      // oracle is the original parquet table, so any round-trip loss
      // (types, nulls, ordering) breaks the hash.
      (s, dir) => {
        val path = graft.Stage.dir("graft_orc_", dir).getPath
        Tables(s, dir).customer
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
          .write.mode("overwrite").option("compression", "zstd").orc(path)
        s.read
          .orc(path)
          .filter(col("c_acctbal") > 0)
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
             |WHERE c_acctbal > 0 ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "src_avro",
      // Avro write + read round trip — the ROW-oriented interchange
      // format next to the columnar pair above (Kafka/schema-registry
      // pipelines ship Avro; Spark 4 bundles the connector in
      // spark-sql). Full path: write supplier as Avro, reopen through
      // the avro reader, reproduce the source relation — any
      // round-trip loss (types via Avro logical types, nulls as
      // unions) breaks the hash against the original parquet table.
      // The provider is addressed by class: Spark 4 ships the complete
      // Avro FileFormat inside spark-sql (the state store's Avro serde
      // pulls it in) but does not service-register the "avro" shortname
      // without the spark-avro module jar.
      (s, dir) => {
        val avro = "org.apache.spark.sql.avro.AvroFileFormat"
        val path = graft.Stage.dir("graft_avro_", dir).getPath
        Tables(s, dir).supplier
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
          .write.mode("overwrite").format(avro).save(path)
        s.read
          .format(avro)
          .load(path)
          .filter(col("s_acctbal") > 0)
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
             |WHERE s_acctbal > 0 ORDER BY s_suppkey""".stripMargin)
    ),
    Q(
      "src_xml",
      // XML round trip through Spark 4's built-in xml source (the
      // spark-xml lineage) — the format family the reference's domain
      // actually ships as (MediaWiki XML dumps are the other Wikidata
      // distribution next to JSON). Explicit schema (no inference
      // scan) + rowTag element framing, the splittable-record shape
      // the multiline XML reader parallelizes over.
      (s, dir) => {
        val path = graft.Stage.dir("graft_xml_", dir).getPath
        Tables(s, dir).region
          .select("r_regionkey", "r_name")
          .write.mode("overwrite").option("rowTag", "region").format("xml").save(path)
        s.read
          .schema("r_regionkey INT, r_name STRING")
          .option("rowTag", "region")
          .format("xml")
          .load(path)
          .orderBy("r_regionkey")
      },
      Some("""SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""")
    ),
    Q(
      "src_partitioned",
      // Hive-style partitioned table layout + PARTITION PRUNING — the
      // single most important scan optimization at 100 TB: orders is
      // written partitioned by derived o_year (one directory per
      // year), and the year-filtered read must touch ONLY the matching
      // partition's files — the filter is satisfied by the directory
      // LISTING, before any parquet footer is opened. Round9Spec
      // asserts the physical scan's partitionFilters carry the
      // predicate and that the selected file set is the 1995 directory
      // only; the oracle pins the aggregation over the same rows.
      //
      // Scale posture: the written layout is what a production table
      // IS (date-partitioned fact); the pruned scan reads 1/7th of the
      // data here and 1/N on a real table — the plan shape (listing-
      // driven pruning + map-side-combined agg) is scale-free. The
      // exact-decimal sum follows the determinism contract.
      (s, dir) => {
        val path = graft.Stage.dir("graft_hivepart_", dir).getPath
        Tables(s, dir).orders
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(path)
        s.read
          .parquet(path)
          .filter(col("o_year") === 1995)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            // exact DECIMAL partials; the WIRE column is DOUBLE — the
            // driver's hash layer only round-trips
            // {BIGINT,INT,DOUBLE,VARCHAR,BOOLEAN} losslessly (the
            // repo-wide dsum discipline, RelCatalog.scala:31)
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE year(o_orderdate) = 1995
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_parquet_bloom",
      // Parquet BLOOM FILTERS on a point-lookup key — the row-group
      // skipping a 100 TB fact table needs for selective equality
      // predicates on NON-sorted, NON-partition columns (min/max stats
      // are useless on a shuffled key; the bloom answers "definitely
      // not here" per row group before any page is read). orders is
      // written with a bloom on o_custkey (ndv-sized) and the lookup
      // reads it back through a pushed equality filter. Round11Spec
      // opens the parquet FOOTER and asserts the bloom is physically
      // present for o_custkey (offset >= 0), absent on an option-less
      // control write, and that the filter genuinely reaches the scan.
      //
      // Scale posture: blooms cost ~bits-per-ndv at write; at read a
      // selective lookup touches only the row groups whose bloom
      // admits the key — with 1e6 row groups the elision is the query.
      (s, dir) => {
        val path = graft.Stage.dir("graft_pqbloom_", dir).getPath
        // parquet-mr SKIPS the bloom when a chunk's pages are all
        // dictionary-encoded (the dictionary is already an exact
        // membership filter) — true for this key at toy scale, so
        // dictionary is disabled for the column to exercise the bloom
        // path; a 100 TB chunk exceeds the dictionary-page limit and
        // falls back to plain on its own, keeping the bloom naturally.
        Tables(s, dir).orders.write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#o_custkey", "true")
          .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
          .option("parquet.enable.dictionary#o_custkey", "false")
          .parquet(path)
        s.read
          .parquet(path)
          .filter(col("o_custkey") === 37L)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_custkey = 37 ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "src_schema_evolution",
      // Schema DRIFT across files of one table — the lakehouse reality
      // every long-lived ingestion hits: early batches wrote (o_orderkey,
      // o_totalprice), later batches added o_orderpriority. The read must
      // reconcile per-file schemas (mergeSchema=true pays a footer scan
      // per file — exactly why production tables checkpoint their
      // schema; the capability matters for backfills over drifted
      // history) and surface the missing column as NULL for old rows.
      // The oracle reproduces the union-with-nulls relationally, so a
      // dropped column, misaligned field, or non-null default breaks
      // the hash.
      (s, dir) => {
        val path = graft.Stage.dir("graft_evolve_", dir).getPath
        val o = Tables(s, dir).orders
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$path/v1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$path/v2")
        s.read
          .option("mergeSchema", "true")
          .parquet(s"$path/v1", s"$path/v2")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM orders WHERE o_orderkey % 2 = 0
             |UNION ALL
             |SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_orderkey % 2 = 1
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "rel_join_dpp",
      // DYNAMIC partition pruning — the optimizer feature that makes
      // star-schema joins over date-partitioned facts viable at 100 TB:
      // the dim side's filter (busy years = above-average order count)
      // is only knowable at RUNTIME, so no static partition filter can
      // exist — Spark must inject the dim's join-key values as a
      // runtime partition filter into the fact scan (a
      // DynamicPruningExpression over the reused broadcast), and the
      // pruned fact scan then skips the quiet years' directories
      // without opening a footer. Round10Spec asserts the executed
      // plan's scan really carries the dynamicpruning filter — that
      // this query's speed comes from pruning, not luck.
      //
      // Scale posture: the fact is the partitioned layout a production
      // table IS; the dim aggregate is years-sized and broadcast; DPP
      // turns the fact scan from full-table into selected-partitions.
      (s, dir) => {
        val path = graft.Stage.dir("graft_dpp_", dir).getPath
        Tables(s, dir).orders
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(path)
        // the dim is a genuinely SMALL table (the star-schema shape DPP
        // exists for): one row per year carrying its volume AND the
        // corpus totals, so "busy = above average" is per-row dim
        // arithmetic — runtime-only (no static filter can reach the
        // fact), selective, and the dim scan is bytes-tiny, which is
        // exactly what Spark's pruning-benefit heuristic requires (a
        // dim derived inline from the same-sized fact is estimated as
        // fact-sized and the rule correctly declines)
        val dimPath = graft.Stage.dir("graft_dppdim_", dir).getPath
        val yc = Tables(s, dir).orders
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(count(lit(1)).as("n_year"))
        yc.crossJoin(
          yc.agg(sum(col("n_year")).as("n_total"), count(lit(1)).as("n_years")))
          .write.mode("overwrite").parquet(dimPath)
        val busy = s.read.parquet(dimPath)
          .filter(col("n_year") * col("n_years") > col("n_total"))
          .select("o_year")
        s.read
          .parquet(path)
          .join(broadcast(busy), Seq("o_year"))
          .groupBy("o_year")
          .agg(
            count(lit(1)).as("n_orders"),
            // exact DECIMAL partials, DOUBLE on the wire (dsum discipline)
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("o_year")
      },
      Some("""WITH yc AS (SELECT year(o_orderdate) AS y, COUNT(*)::BIGINT AS n FROM orders GROUP BY 1),
             |busy AS (SELECT y FROM yc
             |         WHERE n * (SELECT COUNT(*) FROM yc) > (SELECT SUM(n) FROM yc))
             |SELECT year(o_orderdate) AS o_year, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders JOIN busy ON year(o_orderdate) = busy.y
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_jdbc",
      // JDBC SOURCE round trip, closing the loop the sink opened: write
      // the table through GraftJdbcSink into an embedded Derby database,
      // then read it back through spark.read.jdbc as a PARTITIONED scan
      // (partitionColumn + bounds → one SELECT per split, the shape that
      // parallelizes a warehouse ingest across executors at 100 TB).
      // The oracle is the original table, so any round-trip loss (types,
      // nulls, identifier folding) breaks the hash. ONE database per
      // corpus identity (size+mtime-keyed like the other fixtures) with
      // a drop-and-reload per invocation: a nanoTime-fresh db per run
      // leaked a tmp directory AND a booted embedded-Derby page cache
      // per bench rep, unbounded over a long session.
      (s, dir) => {
        val srcFile = new java.io.File(dir, "nation.parquet")
        val db = new java.io.File(
          graft.Stage.dir("graft_src_jdbc_", dir, srcFile.length(), srcFile.lastModified()),
          "db").getPath
        val url = s"jdbc:derby:$db;create=true"
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val st = conn.createStatement()
          // Derby has no DROP TABLE IF EXISTS; absence is the common case
          try st.executeUpdate("DROP TABLE nation_rt")
          catch { case _: java.sql.SQLException => () }
          finally st.close()
        } finally conn.close()
        GraftJdbcSink.write(Tables(s, dir).nation, url, "nation_rt")
        val rt = s.read
          .format("jdbc")
          .option("url", url)
          .option("dbtable", "nation_rt")
          .option("partitionColumn", "n_nationkey")
          .option("lowerBound", "0")
          .option("upperBound", "1000")
          .option("numPartitions", "4")
          .load()
        // Derby folds unquoted identifiers to UPPER CASE (standard SQL);
        // fold back so the round trip is name-identical to the source
        rt.select(rt.columns.map(c => col(c).as(c.toLowerCase)): _*)
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""")
    ),
    Q(
      "src_binaryfile",
      // binaryFile source — how a multimodal pipeline ingests raw
      // image/audio blobs from object storage: one row per file with
      // (path, mtime, length, content BINARY). The fixture stage
      // materializes each document as its own .bin file — written
      // DISTRIBUTED (foreachPartition, one NIO write per blob, scratch
      // dir + atomic rename, keyed by the source parquet's
      // size+mtime) — then the operator is the real spark.read
      // binaryFile scan: filename-derived key + byte length + content
      // digest. Path and mtime are machine-local, so only
      // content-derived columns cross the engine boundary; the oracle
      // recomputes them from the text the bytes came from (pure-ASCII
      // corpus — see MultimodalCatalog).
      //
      // Scale posture: binaryFile splits by FILE (a blob is one row),
      // so parallelism = file count and maxPartitionBytes packs small
      // blobs per task; the digest/length projection is narrow. The
      // pathGlobFilter prunes at listing time, before any read.
      (s, dir) => {
        val srcFile = new java.io.File(dir, "documents.parquet")
        val stage =
          graft.Stage.dir("graft_binf_", dir, srcFile.length(), srcFile.lastModified())
        if (!new java.io.File(stage, "_DONE").exists()) {
          val scratch = new java.io.File(stage.getPath + "_building")
          org.apache.commons.io.FileUtils.deleteDirectory(scratch)
          org.apache.commons.io.FileUtils.deleteDirectory(stage)
          scratch.mkdirs()
          val scratchPath = scratch.getPath
          Tables(s, dir).documents
            .select("doc_id", "text")
            .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
              rows.foreach { r =>
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(scratchPath, s"${r.getLong(0)}.bin"),
                  r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
              }
            }
          new java.io.File(scratch, "_DONE").createNewFile()
          if (!scratch.renameTo(stage))
            org.apache.commons.io.FileUtils.deleteDirectory(scratch)
        }
        s.read
          .format("binaryFile")
          .option("pathGlobFilter", "*.bin")
          .load(stage.getPath)
          .select(
            regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
            col("length").as("n_bytes"),
            md5(col("content")).as("checksum"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
             |md5(text) AS checksum FROM documents ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "src_snapshot_table",
      // SNAPSHOT-MANIFEST table format round trip (SnapshotTable) — the
      // transactional layer the plain directory layouts lack: commit 1
      // writes a third of orders, commit 2 APPENDS another third, and
      // the query reads BOTH the current snapshot and, via time travel,
      // the previous one — so a broken manifest file list, a
      // non-atomic commit, or an append that re-reads old data breaks
      // the hash. The oracle reproduces each snapshot's membership
      // relationally.
      //
      // Scale posture: planning reads one manifest (one line per data
      // file) instead of listing the table; data files are immutable so
      // the append costs O(new data); the commit point is one atomic
      // metadata operation (hard-link create here, rename-no-overwrite
      // on HDFS, conditional PUT on an object store) regardless of
      // table size. Round12Spec drives the crash-window and
      // concurrent-writer arms.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snaptab_", dir).getPath
        // deterministic rebuild per invocation: the fixture IS the
        // commit sequence under test
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
        SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
        SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true)
        def agg(df: org.apache.spark.sql.DataFrame, snap: Long) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("snap", lit(snap))
        agg(SnapshotTable.read(s, table, Some(1L)), 1L)
          .unionByName(agg(SnapshotTable.read(s, table), 2L))
          .select("snap", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("snap", "o_orderpriority")
      },
      Some("""SELECT 1::BIGINT AS snap, o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 2
             |UNION ALL
             |SELECT 2::BIGINT, o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 2
             |ORDER BY snap, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_prune",
      // MANIFEST-level file pruning (the Iceberg headline move): the
      // commit records per-file [min, max] of the cluster key in the
      // manifest — one map-side-combined aggregation over the new
      // files — and a selective read prunes at the MANIFEST, before any
      // parquet footer (or even the file system) is touched. The data
      // is range-clustered on o_year at write, so year ranges are
      // disjoint across files and the 1995 read opens ~1/8 of the
      // table. src_partitioned gets the same elision from the directory
      // LAYOUT; here the layout is flat and the pruning power lives
      // entirely in table METADATA — which is what survives on an
      // object store where directory renames and listings don't.
      // Round12Spec asserts the pruned file set is a strict subset and
      // result-equal to the full-scan filter.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapprune_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders.withColumn("o_year", year(col("o_orderdate")))
        SnapshotTable.commit(
          o.repartitionByRange(8, col("o_year")).sortWithinPartitions("o_year"),
          table,
          append = false,
          statsColumns = Seq("o_year"))
        // the filter prunes files at the manifest, then rows
        prunedRead(s, table, col("o_year") === 1995)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE year(o_orderdate) = 1995
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_incremental",
      // INCREMENTAL read off table history (the Iceberg change-scan):
      // data files are immutable and appends only add files, so the
      // rows that arrived in (v1, v2] are exactly the manifest
      // difference — two metadata reads, no table diff, no mtime
      // heuristics. This is the delta feed the day-2 operators
      // (pipe_incremental_refresh, dedup_lsh_incremental) want from a
      // landing table: batch-sized work resolved from metadata alone.
      // The oracle pins the delta membership (the second commit's
      // rows, nothing else).
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapincr_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
        SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
        SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true)
        SnapshotTable
          .readIncremental(s, table, fromVersion = 1L, toVersion = 2L)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey % 3 = 1
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_merge",
      // COPY-ON-WRITE row-level MERGE (SnapshotTable.merge) — the
      // Delta/Iceberg upsert the CDC operators (rel_cdc_apply,
      // stream_cdc_apply) were missing a transactional target for: a
      // batch of updates (key%10=3), deletes (key%10=7) and inserts
      // (fresh keys) applies against a key-clustered table by
      // rewriting ONLY the files whose manifest-recorded key range the
      // batch touches (keys < 4000 → ~2 of 8 range files; survivors
      // carry forward untouched — Round14Spec counts the rewrite).
      // The query reads the POST-merge state and, via time travel,
      // the PRE-merge state: a merge that loses survivor rows, leaks
      // deleted rows, duplicates updates, or clobbers history breaks
      // the hash. The oracle reproduces both states relationally.
      //
      // Scale posture: touched-file routing is manifest metadata
      // (one range row per file, broadcast under the batch's distinct
      // keys); the rewrite costs O(touched files + batch), the commit
      // is one atomic metadata operation, and the rewrite re-clusters
      // on the key so the NEXT merge routes just as selectively.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapmerge_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        SnapshotTable.commit(
          o.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
          table, append = false, statsColumns = Seq("o_orderkey"))
        val low = o.filter(col("o_orderkey") < 4000)
        val upd = low.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
          .withColumn("_del", lit(false))
        val del = low.filter(col("o_orderkey") % 10 === 7)
          .withColumn("_del", lit(true))
        val ins = low.filter(col("o_orderkey") % 10 === 5)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
          .withColumn("o_orderpriority", lit("9-MERGED"))
          .withColumn("_del", lit(false))
        SnapshotTable.merge(
          upd.unionByName(del).unionByName(ins), table, "o_orderkey",
          deleteCol = Some("_del"))
        def agg(df: org.apache.spark.sql.DataFrame, snap: Long) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("snap", lit(snap))
        agg(SnapshotTable.read(s, table, Some(1L)), 1L)
          .unionByName(agg(SnapshotTable.read(s, table), 2L))
          .select("snap", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("snap", "o_orderpriority")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
             |touched AS (SELECT o_orderkey FROM base WHERE o_orderkey < 4000
             |            AND o_orderkey % 10 IN (3, 7)),
             |merged AS (
             |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM base
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM touched)
             |  UNION ALL
             |  SELECT o_orderkey, o_orderpriority, o_totalprice + 100000.0 FROM base
             |  WHERE o_orderkey < 4000 AND o_orderkey % 10 = 3
             |  UNION ALL
             |  SELECT o_orderkey + 1000000, '9-MERGED', o_totalprice FROM base
             |  WHERE o_orderkey < 4000 AND o_orderkey % 10 = 5)
             |SELECT 1::BIGINT AS snap, o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM base GROUP BY 2
             |UNION ALL
             |SELECT 2::BIGINT, o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM merged GROUP BY 2
             |ORDER BY snap, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_evolve",
      // SCHEMA EVOLUTION across snapshot commits — the Iceberg-minimal
      // add-column move done at the MANIFEST, not a mergeSchema file
      // scan: v1 commits (key, priority), v2 APPENDS rows carrying an
      // added o_year column; the manifest records the widened schema
      // and v1's files read under it with nulls in the added column
      // (n_with_year counts exactly the v2 rows per group — a reader
      // that drops old files, fails on the width mismatch, or
      // backfills anything but null breaks the hash). Renames, drops,
      // reorders and retypes stay refused loudly (Round14Spec), and
      // old snapshots keep reading under their own recorded schema.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapevolve_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
        SnapshotTable.commit(
          o.filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_orderpriority"),
          table, append = false)
        SnapshotTable.commit(
          o.filter(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"), col("o_orderpriority"),
              year(col("o_orderdate")).cast("long").as("o_year")),
          table, append = true)
        SnapshotTable.read(s, table)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            count(col("o_year")).as("n_with_year"),
            sum(col("o_year")).as("sum_year"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END)::BIGINT AS n_with_year,
             |SUM(CASE WHEN o_orderkey % 2 = 1 THEN year(o_orderdate) END)::BIGINT AS sum_year
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_prune_str",
      // STRING-typed manifest stats — date-string cluster keys (the
      // common partition dimension object-store tables actually carry)
      // prune at the manifest exactly like integer keys: the commit
      // records per-file raw-string [min, max] (compared byte-wise
      // over UTF-8, matching Spark's binary string ordering, so the
      // recorded bounds are sound at prune time), and the 1995 read
      // opens ~1/8 of the table without touching a parquet footer.
      // Round14Spec asserts the pruned file set is a strict subset and
      // result-equal to the full-scan filter.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapprunestr_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
          .withColumn("o_day", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        SnapshotTable.commit(
          o.repartitionByRange(8, col("o_day")).sortWithinPartitions("o_day"),
          table, append = false, statsColumns = Seq("o_day"))
        prunedRead(s, table, col("o_day").between("1995-01-01", "1995-12-31"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders
             |WHERE strftime(o_orderdate, '%Y-%m-%d') BETWEEN '1995-01-01' AND '1995-12-31'
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_changes",
      // Row-level CHANGE FEED (SnapshotTable.changeFeed — Delta's
      // table_changes): the diff between two snapshots computed from
      // the table STATES, so it is sound across the MERGE commit where
      // the file-diff incremental read refuses. The fixture is
      // src_snapshot_merge's CDC batch; the feed must classify every
      // row into insert / delete / update_preimage / update_postimage
      // — a survivor row misread as a change, a missed delete, or
      // pre/post images swapped all break the hash. Oracle reproduces
      // the four classes relationally from the CDC definition.
      //
      // Scale posture: one key-partitioned full-outer join of two
      // states (co-partitioned when the table is key-clustered, which
      // merge maintains), change set built as an exploded struct
      // array — one pass, never four scans of the join.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapchanges_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        SnapshotTable.commit(
          o.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
          table, append = false, statsColumns = Seq("o_orderkey"))
        val low = o.filter(col("o_orderkey") < 4000)
        val upd = low.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
          .withColumn("_del", lit(false))
        val del = low.filter(col("o_orderkey") % 10 === 7)
          .withColumn("_del", lit(true))
        val ins = low.filter(col("o_orderkey") % 10 === 5)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
          .withColumn("o_orderpriority", lit("9-MERGED"))
          .withColumn("_del", lit(false))
        SnapshotTable.merge(
          upd.unionByName(del).unionByName(ins), table, "o_orderkey",
          deleteCol = Some("_del"))
        SnapshotTable.changeFeed(s, table, 1L, 2L, "o_orderkey")
          .groupBy("_change_type")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("_change_type")
      },
      Some("""WITH low AS (SELECT * FROM orders WHERE o_orderkey < 4000),
             |feed AS (
             |  SELECT 'insert' AS _change_type, o_totalprice FROM low WHERE o_orderkey % 10 = 5
             |  UNION ALL
             |  SELECT 'delete', o_totalprice FROM low WHERE o_orderkey % 10 = 7
             |  UNION ALL
             |  SELECT 'update_preimage', o_totalprice FROM low WHERE o_orderkey % 10 = 3
             |  UNION ALL
             |  SELECT 'update_postimage', o_totalprice + 100000.0 FROM low WHERE o_orderkey % 10 = 3)
             |SELECT _change_type, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM feed GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_history",
      // DESCRIBE HISTORY — the introspection surface every table
      // format ships: one row per published snapshot (mode, parent,
      // file count, streaming batch id), read from MANIFESTS ONLY.
      // The fixture drives every commit mode in one chain — overwrite
      // → append → exactly-once streaming append (batchid recorded) →
      // copy-on-write merge — with deterministic file counts
      // (repartition(k) pins k files; the merge rewrites the touched
      // subset of 4 range files + survivors). The oracle pins the
      // whole chain literally: a wrong mode tag, a lost batch id, a
      // mis-carried parent file list, or a merge that rewrites the
      // wrong file count all break the hash.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snaphist_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        SnapshotTable.commit(
          o.filter(col("o_orderkey") % 3 === 0)
            .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
          table, append = false, statsColumns = Seq("o_orderkey"))
        SnapshotTable.commit(
          o.filter(col("o_orderkey") % 3 === 1).repartition(2), table, append = true)
        SnapshotTable.appendBatch(
          o.filter(col("o_orderkey") % 3 === 2).repartition(3), table, batchId = 7L)
        // merge touching only the first range file's keys (< 1000 at
        // sf0.01: file ranges are quarters of 0..14999 thirds)
        SnapshotTable.merge(
          o.filter(col("o_orderkey") < 50 && col("o_orderkey") % 3 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1.0)
            .withColumn("_del", lit(false)),
          table, "o_orderkey", deleteCol = Some("_del"))
        SnapshotTable.history(s, table)
          .select("version", "parent", "mode", "n_files", "batch_id")
          .orderBy("version")
      },
      Some("""SELECT * FROM (VALUES
             |  (1::BIGINT, 0::BIGINT, 'overwrite', 4::BIGINT, NULL::BIGINT),
             |  (2::BIGINT, 1::BIGINT, 'append',    6::BIGINT, NULL::BIGINT),
             |  (3::BIGINT, 2::BIGINT, 'append',    9::BIGINT, 7::BIGINT),
             |  (4::BIGINT, 3::BIGINT, 'merge',     9::BIGINT, NULL::BIGINT)
             |) t(version, parent, mode, n_files, batch_id)
             |ORDER BY version""".stripMargin)
    ),
    Q(
      "src_snapshot_rollback",
      // ZERO-COPY ROLLBACK (Delta RESTORE): a bad third commit lands,
      // `rollback(table, 2)` republishes v2's exact file list as the
      // new head v4 — one manifest write, no data bytes moved ("restore
      // 100 TB" is a metadata operation because data files are
      // immutable and shared across manifests). The query reads the
      // restored head (must equal v2's state — a rollback that carries
      // the wrong file list or schema breaks the hash) AND time-travels
      // to v3 (the bad state stays reachable for audit until vacuum
      // ages it out). Round15Spec pins the zero-copy property itself
      // (no v4 data directory exists), the mode=rollback history row,
      // and that readIncremental refuses to scan across the rollback.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snaproll_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
        SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
        SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), table, append = true)
        SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 2), table, append = true)
        SnapshotTable.rollback(table, toVersion = 2L)
        def agg(df: org.apache.spark.sql.DataFrame, snap: Long) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("snap", lit(snap))
        agg(SnapshotTable.read(s, table), 4L) // head = restored v2 state
          .unionByName(agg(SnapshotTable.read(s, table, Some(3L)), 3L)) // audit trail intact
          .select("snap", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("snap", "o_orderpriority")
      },
      Some("""SELECT 4::BIGINT AS snap, o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 2
             |UNION ALL
             |SELECT 3::BIGINT, o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders GROUP BY 2
             |ORDER BY snap, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_format",
      // The snapshot table through Spark's PUBLIC data-source API
      // (`spark.read.format(SnapshotRelationProvider.format)`, an alias
      // of the V2 provider) — manifest pruning INSIDE Catalyst's scan
      // planning: the query's pushed-down predicate (o_orderkey <=
      // 2000) reaches the V2 scan as a sources.Filter and routes
      // through the per-file stats before any footer is opened; Spark
      // re-applies the filter row-wise downstream (stats prove
      // file-level absence only). The head read must ALSO apply the
      // outstanding deletion vectors — a format arm that bypassed the
      // DV path would resurrect deleted rows and break the hash — and
      // the versionAsOf arm pins time travel through the same option
      // surface Delta users know. Round15Spec pins the pruning
      // decisions per filter shape directly on
      // ManifestPruning.prunedEntries.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapfmt_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        SnapshotTable.commit(
          o.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
          table, append = false, statsColumns = Seq("o_orderkey"))
        SnapshotTable.deleteKeys(
          o.filter(col("o_orderkey") % 10 === 7).select("o_orderkey"), table, "o_orderkey")
        def agg(df: org.apache.spark.sql.DataFrame, snap: Long) =
          df.filter(col("o_orderkey") <= 2000)
            .groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("snap", lit(snap))
        val head = s.read.format(SnapshotRelationProvider.format)
          .option("path", table).load()
        val v1 = s.read.format(SnapshotRelationProvider.format)
          .option("path", table).option("versionAsOf", "1").load()
        agg(v1, 1L).unionByName(agg(head, 2L))
          .select("snap", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("snap", "o_orderpriority")
      },
      Some("""SELECT 1::BIGINT AS snap, o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey <= 2000 GROUP BY 2
             |UNION ALL
             |SELECT 2::BIGINT, o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey <= 2000 AND o_orderkey % 10 <> 7 GROUP BY 2
             |ORDER BY snap, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_asof",
      // TIMESTAMP time travel (Delta's timestampAsOf): three commits
      // stamped with caller-supplied logical times 100/200/300; reads
      // at ts=250 (between commits -> newest ≤), ts=300 (exact), and
      // ts=100 (the first) must each resolve to the right version's
      // membership. Logical stamps instead of wall clock keep replays
      // and backfills deterministic — and make this oracle possible at
      // all. Round15Spec pins the loud failure before the first stamp
      // and that version order beats a disagreeing timestamp.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapasof_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
        for ((m, ts) <- Seq((0, 100L), (1, 200L), (2, 300L)))
          SnapshotTable.commit(
            o.filter(col("o_orderkey") % 3 === m), table, append = m > 0,
            extra = Map("ts" -> ts.toString))
        def agg(df: org.apache.spark.sql.DataFrame, at: Long) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("at_ts", lit(at))
        agg(SnapshotTable.readAsOf(s, table, 100L), 100L)
          .unionByName(agg(SnapshotTable.readAsOf(s, table, 250L), 250L))
          .unionByName(agg(SnapshotTable.readAsOf(s, table, 300L), 300L))
          .select("at_ts", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("at_ts", "o_orderpriority")
      },
      Some("""WITH g AS (SELECT o_orderkey % 3 AS m, o_orderpriority, o_totalprice FROM orders)
             |SELECT 100::BIGINT AS at_ts, o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM g WHERE m = 0 GROUP BY 2
             |UNION ALL
             |SELECT 250::BIGINT, o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM g WHERE m IN (0, 1) GROUP BY 2
             |UNION ALL
             |SELECT 300::BIGINT, o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM g GROUP BY 2
             |ORDER BY at_ts, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_delete_mor",
      // MERGE-ON-READ DELETE (Delta deletion vectors): two delete
      // batches land as small key sidecars + manifest pointers —
      // ZERO data files touched, O(batch) cost against a table of any
      // size — and every read path (head, time travel, pruned reads,
      // change feed) drops the rows the accumulated keys name, so the rows
      // vanish immediately. compactSnapshot then MATERIALIZES the
      // deletes (its rewrite reads through the DV-applied path; the
      // overwrite commit drops the DV state), re-zeroing read cost —
      // the full DV lifecycle in one query. The four phases pin:
      // (1) pre-delete state, (2) first DV applied at its own
      // snapshot, (3) both DVs accumulated at head, (4) post-
      // materialization state == phase 3 (a compaction that loses or
      // resurrects rows breaks the hash). Round15Spec pins the
      // zero-rewrite property, DV carriage across appends, merge's
      // refusal while DVs are outstanding, and vacuum protecting DV
      // sidecars.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapmor_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        SnapshotTable.commit(
          o.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
          table, append = false, statsColumns = Seq("o_orderkey"))
        SnapshotTable.deleteKeys(
          o.filter(col("o_orderkey") % 10 === 7).select("o_orderkey"), table, "o_orderkey")
        SnapshotTable.deleteKeys(
          o.filter(col("o_orderkey") % 10 === 3).select("o_orderkey"), table, "o_orderkey")
        def agg(df: org.apache.spark.sql.DataFrame, phase: Long) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("phase", lit(phase))
        val p1 = agg(SnapshotTable.read(s, table, Some(1L)), 1L)
        val p2 = agg(SnapshotTable.read(s, table, Some(2L)), 2L)
        val p3 = agg(SnapshotTable.read(s, table), 3L)
        SnapshotTable.compactSnapshot(s, table, targetBytes = 64L << 10,
          clusterBy = Seq("o_orderkey"))
        val p4 = agg(SnapshotTable.read(s, table), 4L)
        p1.unionByName(p2).unionByName(p3).unionByName(p4)
          .select("phase", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("phase", "o_orderpriority")
      },
      Some("""WITH a AS (SELECT 1::BIGINT AS phase, o_orderpriority,
             |  COUNT(*)::BIGINT AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |  FROM orders GROUP BY 2),
             |b AS (SELECT 2::BIGINT, o_orderpriority, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |  FROM orders WHERE o_orderkey % 10 <> 7 GROUP BY 2),
             |c AS (SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |  FROM orders WHERE o_orderkey % 10 NOT IN (3, 7) GROUP BY 1)
             |SELECT * FROM a UNION ALL SELECT * FROM b
             |UNION ALL SELECT 3::BIGINT, * FROM c
             |UNION ALL SELECT 4::BIGINT, * FROM c
             |ORDER BY phase, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_wap",
      // WRITE-AUDIT-PUBLISH (Iceberg branching): the staging workflow
      // every production table needs — write new data to a BRANCH
      // (zero-copy fork: one metadata write shares main's immutable
      // files), run the audit queries against the branch, and only
      // then fast-forward main in one metadata commit. The query pins
      // all three membership states: main BEFORE publish (the branch
      // append must be invisible — a fork or branch-commit that leaks
      // into main breaks the hash), the BRANCH head (fork rows + the
      // audited append), and main AFTER publish (identical to the
      // branch head). The audit gate itself is a loud require on the
      // branch read. Round15Spec pins the fast-forward refusal when
      // main moves, incremental reads across a pure-append publish,
      // and dropBranch reclaiming an unpublished branch's files.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapwap_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
        SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 0), table, append = false)
        SnapshotTable.createBranch(table, "audit")
        val bp = SnapshotTable.branchPath(table, "audit")
        SnapshotTable.commit(o.filter(col("o_orderkey") % 3 === 1), bp, append = true)
        def agg(df: org.apache.spark.sql.DataFrame, phase: String) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("phase", lit(phase))
        val preMain = agg(SnapshotTable.read(s, table), "1_pre_publish_main")
        val branch = SnapshotTable.read(s, bp)
        // the AUDIT: gate the publish on the staged data itself
        require(branch.filter(col("o_totalprice") <= 0).isEmpty,
          "audit failed: non-positive totalprice staged on branch")
        val branchAgg = agg(branch, "2_branch")
        SnapshotTable.publishBranch(table, "audit")
        val postMain = agg(SnapshotTable.read(s, table), "3_post_publish_main")
        preMain.unionByName(branchAgg).unionByName(postMain)
          .select("phase", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("phase", "o_orderpriority")
      },
      Some("""WITH pre AS (SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1),
             |post AS (SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |  FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 1)
             |SELECT '1_pre_publish_main' AS phase, * FROM pre
             |UNION ALL SELECT '2_branch', * FROM post
             |UNION ALL SELECT '3_post_publish_main', * FROM post
             |ORDER BY phase, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_optimize",
      // Transactional OPTIMIZE (clustered compaction) end to end: three
      // unclustered appends leave per-file key ranges fully overlapping
      // (pruning inert — every file matches any range), then ONE
      // `compactSnapshot(clusterBy)` call rewrites the table range-
      // clustered and republishes; the same selective read now prunes
      // at the manifest. The query reads the pruned post-OPTIMIZE state
      // (rows must equal the plain filter — a rewrite that loses or
      // duplicates rows, or stats that wrongly exclude a file, breaks
      // the hash); Round14Spec pins the before/after pruning counts.
      // Time travel still reaches the fragmented history.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapopt_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
        for (m <- 0 to 2)
          SnapshotTable.commit(
            o.filter(col("o_orderkey") % 3 === m).repartition(4),
            table, append = m > 0, statsColumns = Seq("o_orderkey"))
        SnapshotTable.compactSnapshot(
          s, table, targetBytes = 64L << 10, clusterBy = Seq("o_orderkey"))
        prunedRead(s, table, col("o_orderkey") <= 2000L)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey <= 2000
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_zorder",
      // Z-ORDER clustering for MULTI-column manifest pruning (Delta's
      // OPTIMIZE ZORDER BY): commit the table clustered by the Morton
      // interleave of two grid-scaled dimensions (o_custkey, o_year)
      // and record per-file stats on BOTH raw columns — because the
      // curve co-locates both dimensions, a selective read on EITHER
      // column alone prunes at the manifest (Round14Spec asserts both
      // arms are strict file subsets), where a single-column sort
      // would prune one dimension and scan everything for the other.
      // The query runs both one-dimensional pruned reads; the oracle
      // is the plain relational filter of each.
      (s, dir) => {
        val spread = (c: String) =>
          s"""(((($c | shiftleft($c, 8)) & 16711935)
             |  | shiftleft((($c | shiftleft($c, 8)) & 16711935), 4)) & 252645135)""".stripMargin
        def full(c: String): String = {
          val s1 = spread(c)
          val s2 = s"((($s1 | shiftleft($s1, 2)) & 858993459))"
          s"((($s2 | shiftleft($s2, 1)) & 1431655765))"
        }
        val table = graft.Stage.dir("graft_snapzorder_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val base = Tables(s, dir).orders
          .withColumn("o_year", year(col("o_orderdate")).cast("long"))
        // both dims scaled to the SAME 8-bit grid from their observed
        // bounds (1-row broadcast) — equal bit budget is what makes
        // the interleave balance the two dimensions; a fixed divisor
        // lets whichever dim spans more bits dominate the curve
        val bounds = base.agg(
          max("o_custkey").as("maxc"), min("o_year").as("miny"), max("o_year").as("maxy"))
        val o = base.crossJoin(broadcast(bounds))
          .withColumn("cust_g", expr("(o_custkey * 256) div (maxc + 1)"))
          .withColumn("year_g", expr("((o_year - miny) * 256) div (maxy - miny + 1)"))
          .withColumn("morton", expr(s"${full("cust_g")} | shiftleft(${full("year_g")}, 1)"))
          .select("o_orderkey", "o_custkey", "o_year", "o_totalprice", "morton")
        SnapshotTable.commit(
          o.repartitionByRange(8, col("morton")).sortWithinPartitions("morton"),
          table, append = false, statsColumns = Seq("o_custkey", "o_year"))
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
        agg(prunedRead(s, table, col("o_custkey").between(100, 299)), "cust")
          .unionByName(agg(prunedRead(s, table, col("o_year") === 1995), "year"))
          .select("arm", "n_orders", "sum_price")
          .orderBy("arm")
      },
      Some("""SELECT 'cust' AS arm, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_custkey BETWEEN 100 AND 299
             |UNION ALL
             |SELECT 'year', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE year(o_orderdate) = 1995
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_manifest_scale",
      // MANIFEST-LIST SPLIT (the Iceberg manifest-list shape): a commit
      // publishes a small manifest of SEGMENT references instead of a
      // flat file list — appends re-reference the parent's segments
      // verbatim and write one new segment for their own files, so
      // commit cost is O(new files + segment count) and a 1M-file /
      // 100 TB table never rewrites (or re-reads) its full file list
      // per commit. Planning prunes at TWO levels: each segment ref
      // carries aggregated column bounds, so a selective read skips
      // whole segments from the manifest alone and opens only the
      // range-hit segments' entries. This fixture builds a 12-commit
      // chain whose commits are key-disjoint on o_mod (= o_orderkey %
      // 12), then REQUIRES the structural properties in place — head
      // manifest is pure segment refs (no inline file list), exactly
      // one segment admits the o_mod=3 probe, incremental (6, 12]
      // resolves through the segment-diff fast path — and emits two
      // SQL-checkable arms: the segment-pruned read of o_mod in
      // [3, 5] and the incremental slice, both priority-aggregated.
      // SnapshotStress measures the flat-cost curve at depth.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapmscale_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
          .withColumn("o_mod", col("o_orderkey") % 12)
          .select("o_orderkey", "o_mod", "o_orderpriority", "o_totalprice")
        for (m <- 0 to 11)
          SnapshotTable.commit(o.filter(col("o_mod") === m), table,
            append = m > 0, statsColumns = Seq("o_mod"))
        val head = SnapshotTable.manifest(table, 12L)
        require(head.inline.isEmpty && head.segments.size == 12,
          s"head manifest must be pure segment refs (12), got " +
            s"${head.segments.size} segments + ${head.inline.size} inline files")
        // segment-level pruning selectivity: the o_mod=3 probe admits
        // exactly ONE segment (bounds are (m, m) per commit)
        val admitted = head.segments.count(_.stats.get("o_mod")
          .forall { case (mn, mx) => mx >= 3L && mn <= 3L })
        require(admitted == 1, s"o_mod=3 probe admitted $admitted segments, want 1")
        // appends re-referenced the parent's segments verbatim: v11's
        // refs are a strict prefix of v12's
        val prev = SnapshotTable.manifest(table, 11L)
        require(head.segments.map(_.path).startsWith(prev.segments.map(_.path)),
          "append rewrote carried segment references")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
        agg(prunedRead(s, table, col("o_mod").between(3, 5)), "pruned")
          .unionByName(agg(
            SnapshotTable.readIncremental(s, table, fromVersion = 6L, toVersion = 12L),
            "incr"))
          .select("arm", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("arm", "o_orderpriority")
      },
      Some("""SELECT 'incr' AS arm, o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey % 12 >= 6 GROUP BY 2
             |UNION ALL
             |SELECT 'pruned', o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 12 BETWEEN 3 AND 5 GROUP BY 2
             |ORDER BY arm, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_prune_nulls",
      // NULL-membership pruning off manifest stats: the commit records
      // per-file (nullCount, rowCount) beside [min,max] — nulls == 0
      // proves no NULL row, nulls == rows proves no non-NULL row — so
      // `IS [NOT] NULL` prunes at the manifest before any footer opens
      // (through the V2 scan's pushdown, where Catalyst emits IsNotNull
      // beside EVERY predicate on a column — an all-NULL file, the
      // add-column-evolution shape, is skipped by every query touching
      // the column). The fixture clusters orders on a
      // nullability flag so whole files are all-NULL / no-NULL in
      // o_disc (NULL unless o_orderkey%5=0); both membership reads are
      // REQUIREd to be strict file subsets, and the two arms aggregate
      // against the plain relational filters.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapnulls_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
          .withColumn("o_disc",
            when(col("o_orderkey") % 5 === 0, col("o_totalprice")))
          .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_disc")
        SnapshotTable.commit(
          o.repartitionByRange(8, col("o_disc").isNull, col("o_orderkey"))
            .sortWithinPartitions(col("o_disc").isNull, col("o_orderkey")),
          table, append = false, statsColumns = Seq("o_orderkey", "o_disc"))
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
        agg(prunedRead(s, table, col("o_disc").isNotNull), "notnull")
          .unionByName(agg(prunedRead(s, table, col("o_disc").isNull), "null"))
          .select("arm", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("arm", "o_orderpriority")
      },
      Some("""SELECT 'notnull' AS arm, o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey % 5 = 0 GROUP BY 2
             |UNION ALL
             |SELECT 'null', o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 5 <> 0 GROUP BY 2
             |ORDER BY arm, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_segment_compact",
      // METADATA-ONLY segment compaction (Iceberg's rewrite_manifests,
      // SnapshotTable.rewriteSegments): a streaming-append cadence
      // grows the manifest one tiny segment per commit — this pass
      // re-bundles them into consolidated segment files carrying every
      // file entry VERBATIM (no data file opened or moved; the commit
      // is a zero-data-copy mode=rewrite over the identical file set),
      // restoring O(files/SegmentMaxFiles) planning where
      // compactSnapshot would pay an O(table) DATA rewrite. The
      // fixture drives the same 12-commit key-disjoint chain as
      // src_snapshot_manifest_scale, then REQUIREs the rewrite's
      // structural contract in place: 12 segments consolidate to 1,
      // the file PATH SET is bit-identical across the rewrite, file
      // count unchanged, history records mode=rewrite, file-level
      // pruning admits the same files, and the incremental read scans
      // ACROSS the rewrite boundary (the path-set-diff fallback —
      // appends' files exactly) instead of refusing like overwrite.
      // Arms: the same pruned aggregate before (version-pinned) and
      // after the rewrite, plus the cross-boundary incremental slice.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapsegc_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
          .withColumn("o_mod", col("o_orderkey") % 12)
          .select("o_orderkey", "o_mod", "o_orderpriority", "o_totalprice")
        for (m <- 0 to 11)
          SnapshotTable.commit(o.filter(col("o_mod") === m), table,
            append = m > 0, statsColumns = Seq("o_mod"))
        val pre = SnapshotTable.manifest(table, 12L)
        require(pre.segments.size == 12, s"fixture: want 12 segments, got ${pre.segments.size}")
        val preFiles = pre.files.map(_.path).toSet
        val prePruned = pre.filesMatching(_.stats.get("o_mod")
          .forall { case (mn, mx) => mx >= 3L && mn <= 5L }).map(_.path).toSet
        val (nBefore, nAfter, v) = SnapshotTable.rewriteSegments(table)
        require(nBefore == 12 && nAfter == 1 && v == 13L,
          s"rewrite consolidated $nBefore -> $nAfter segments at v$v, want 12 -> 1 at v13")
        val post = SnapshotTable.manifest(table, 13L)
        require(post.inline.isEmpty, "rewrite left inline entries")
        require(post.files.map(_.path).toSet == preFiles && post.fileCount == pre.fileCount,
          "rewrite must be zero-data-copy: identical file set, no data touched")
        // file-LEVEL pruning admits the same files (entries carried
        // verbatim with their stats — only the segment grouping moved)
        val postPruned = post.filesMatching(_.stats.get("o_mod")
          .forall { case (mn, mx) => mx >= 3L && mn <= 5L }).map(_.path).toSet
        require(postPruned == prePruned, "rewrite changed file-level pruning")
        require(SnapshotTable.manifest(table, 13L).extra.get("mode").contains("rewrite"),
          "history must record the metadata-only commit as mode=rewrite")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
        agg(prunedRead(s, table, col("o_mod").between(3, 5), Some(12L)), "before")
          .unionByName(agg(
            prunedRead(s, table, col("o_mod").between(3, 5), Some(13L)), "after"))
          .unionByName(agg(
            // (6, 13]: crosses the rewrite boundary — resolves to the
            // appends' files via the path-set diff, never refuses
            SnapshotTable.readIncremental(s, table, fromVersion = 6L, toVersion = 13L),
            "incr"))
          .select("arm", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("arm", "o_orderpriority")
      },
      Some("""SELECT 'after' AS arm, o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey % 12 BETWEEN 3 AND 5 GROUP BY 2
             |UNION ALL
             |SELECT 'before', o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 12 BETWEEN 3 AND 5 GROUP BY 2
             |UNION ALL
             |SELECT 'incr', o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 12 >= 6 GROUP BY 2
             |ORDER BY arm, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_join_sizing",
      // NDV MANIFEST STATS consumed by a join sizer: commits record a
      // per-file HLL++ distinct estimate (`d:` beside min/max,
      // nullCount, rowCount — one map-side-combined pass), segment
      // refs carry the SUM (an NDV upper bound — the safe direction:
      // an upper bound can only under-broadcast, never blow an
      // executor), and SnapshotTable.sizedJoin decides
      // broadcast-vs-shuffle from MANIFEST LINES ALONE — row count ≤
      // maxBuildRows AND key-NDV bound ≤ maxBuildKeys, both PROVEN or
      // the join falls to shuffled-hash (a stats-less table can never
      // broadcast blind). This is the decision Spark's size estimator
      // cannot make for an external format without a scan, and the r8
      // rule forbids making on an estimate. Three arms over the same
      // fact ⋈ dim: thresholds admitting the dim (broadcast), starving
      // it (shuffle), and a stats-less dim (never broadcast) — all
      // three REQUIREd, results identical by construction and checked
      // against one relational oracle. Round17Spec pins the physical
      // plans (BroadcastHashJoin vs ShuffledHashJoin), the
      // decision-flip, and ndvOf/rowCountOf accuracy.
      (s, dir) => {
        val factT = graft.Stage.dir("graft_sizefact_", dir).getPath
        val dimT = graft.Stage.dir("graft_sizedim_", dir).getPath
        val dimBare = graft.Stage.dir("graft_sizedimb_", dir).getPath
        Seq(factT, dimT, dimBare).foreach(p =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
        val fact = Tables(s, dir).orders
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val dim = Tables(s, dir).customer.select("c_custkey", "c_mktsegment")
        SnapshotTable.commit(fact, factT, append = false)
        SnapshotTable.commit(dim, dimT, append = false, statsColumns = Seq("c_custkey"))
        SnapshotTable.commit(dim, dimBare, append = false) // NO stats: unprovable
        val factDf = SnapshotTable.read(s, factT)
        def arm(rightTable: String, maxRows: Long, maxKeys: Long,
            name: String, wantBc: Boolean) = {
          val (joined, bc) = SnapshotTable.sizedJoin(
            factDf, "o_custkey", rightTable, "c_custkey", maxRows, maxKeys)
          require(bc == wantBc,
            s"arm $name: manifest-sized decision broadcast=$bc, want $wantBc")
          joined.groupBy("c_mktsegment")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(name))
        }
        // the dim's manifest proves a small build side -> broadcast
        arm(dimT, 1000000L, 1000000L, "bc", wantBc = true)
          // starved key budget -> the same manifest REFUSES the broadcast
          .unionByName(arm(dimT, 1000000L, 10L, "sh", wantBc = false))
          // stats-less manifest: nothing provable -> never broadcast blind
          .unionByName(arm(dimBare, 1000000L, 1000000L, "blind", wantBc = false))
          .select("arm", "c_mktsegment", "n_orders", "sum_price")
          .orderBy("arm", "c_mktsegment")
      },
      Some("""WITH j AS (SELECT c_mktsegment, COUNT(*)::BIGINT AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
             |SELECT 'bc' AS arm, * FROM j
             |UNION ALL SELECT 'blind', * FROM j
             |UNION ALL SELECT 'sh', * FROM j
             |ORDER BY arm, c_mktsegment""".stripMargin)
    ),
    Q(
      "src_snapshot_dsv2",
      // The snapshot format through Spark's DataSource V2 API
      // (SnapshotV2Provider): pushed filters route through the
      // manifest predicate (ManifestPruning — segment bounds, then
      // file bounds) inside V2 scan planning, so the BatchScan PLANS
      // only the surviving files; all filters are
      // reported residual (stats prove absence, never presence) and
      // Spark re-applies them row-wise, so pruning can never change
      // results. Reading is Spark's own vectorized parquet factory
      // (columnar batches, row-group pruning from the same filters).
      // Two arms: the head read with a selective o_year filter —
      // REQUIREd to plan a strict subset of the table's files — and a
      // versionAsOf time travel through the V2 options. Round18Spec
      // pins column pruning (readSchema), the pruned rows against the
      // source filter, and DVs applied reader-side.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapdsv2_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders.withColumn("o_year", year(col("o_orderdate")))
          .select("o_orderkey", "o_year", "o_orderpriority", "o_totalprice")
        def clustered(df: org.apache.spark.sql.DataFrame) =
          df.repartitionByRange(4, col("o_year")).sortWithinPartitions("o_year")
        SnapshotTable.commit(clustered(o.filter(col("o_orderkey") % 2 === 0)),
          table, append = false, statsColumns = Seq("o_year"))
        SnapshotTable.commit(clustered(o.filter(col("o_orderkey") % 2 === 1)),
          table, append = true, statsColumns = Seq("o_year"))
        def v2(opts: (String, String)*) = opts.foldLeft(
          s.read.format(SnapshotV2Provider.format).option("path", table)
        ) { case (r, (k, v)) => r.option(k, v) }.load()
        val sel = v2().filter(col("o_year") === 1995)
        // the structural contract: the V2 scan planned a strict subset
        // of the 8 range-clustered files — pruned at the MANIFEST,
        // inside Catalyst's scan planning (static plan, pre-execution)
        val planned = graft.Stage.plannedFiles(sel.queryExecution.sparkPlan)
        val total = SnapshotTable.manifest(table, 2L).fileCount
        require(planned > 0 && planned < total,
          s"v2 manifest pruning planned $planned of $total files — want a strict subset")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
        agg(sel, "head1995")
          .unionByName(agg(v2("versionAsOf" -> "1"), "v1"))
          .select("arm", "o_orderpriority", "n_orders", "sum_price")
          .orderBy("arm", "o_orderpriority")
      },
      Some("""SELECT 'head1995' AS arm, o_orderpriority, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 2
             |UNION ALL
             |SELECT 'v1', o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 2
             |ORDER BY arm, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_spj",
      // STORAGE-PARTITIONED JOIN over the table format — the
      // rel_join_bucketed property upgraded from session-catalog
      // bucketed parquet to the snapshot table itself (Iceberg's
      // identity-partition + SPJ shape): both tables are committed
      // with clusterBy (one join-key value per data file, the value
      // recovered from the manifest's min==max stats — no directory
      // parsing, no extra scan), the V2 scan groups files by key and
      // reports KeyGroupedPartitioning, and Catalyst plans the join
      // AND the downstream per-key aggregate with ZERO hash exchange —
      // REQUIREd on the static plan. At 100 TB this is the fact⋈fact
      // repeated-join shape: both sides shuffle ONCE at write time,
      // then every subsequent join on the cluster key is
      // exchange-free. Round18Spec pins the clustered-commit layout
      // (one key per file), spec inheritance on append, and the
      // unclustered-table control (which DOES exchange).
      (s, dir) => {
        // SPJ is gated by a session conf (off upstream only for
        // ecosystem compatibility) — assert it here so the query holds
        // its plan contract under ANY harness session
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        val ct = graft.Stage.dir("graft_spjcust_", dir).getPath
        val st = graft.Stage.dir("graft_spjsupp_", dir).getPath
        Seq(ct, st).foreach(p =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
        SnapshotTable.commit(
          Tables(s, dir).customer.select("c_custkey", "c_nationkey", "c_acctbal"),
          ct, append = false, clusterBy = Some("c_nationkey"))
        SnapshotTable.commit(
          Tables(s, dir).supplier.select("s_suppkey", "s_nationkey", "s_acctbal"),
          st, append = false, clusterBy = Some("s_nationkey"))
        def v2(t: String) =
          s.read.format(SnapshotV2Provider.format).option("path", t).load()
        // the MERGE hint pins the sort-merge path: the scans report
        // real manifest sizes to the CBO, and at toy scale the supplier
        // side would broadcast — hiding the exchange-free property
        // under test (at 100 TB neither fact side fits a broadcast)
        val j = v2(ct).join(v2(st).hint("merge"),
            col("c_nationkey") === col("s_nationkey"))
          .groupBy("c_nationkey")
          .agg(
            count(lit(1)).as("n_pairs"),
            sum(col("c_acctbal").cast("decimal(38,4)")).cast("double").as("sum_cbal"),
            sum(col("s_acctbal").cast("decimal(38,4)")).cast("double").as("sum_sbal"))
        // the structural contract, on the static plan: join + aggregate
        // both ride the storage partitioning — no hash exchange anywhere
        val hashEx = j.queryExecution.sparkPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[
                org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
        }
        require(hashEx.isEmpty,
          s"storage-partitioned join must plan with zero hash exchanges, found ${hashEx.size}")
        j.select(col("c_nationkey").cast("long").as("nationkey"),
            col("n_pairs"), col("sum_cbal"), col("sum_sbal"))
          .orderBy("nationkey")
      },
      Some("""SELECT c_nationkey::BIGINT AS nationkey, COUNT(*)::BIGINT AS n_pairs,
             |CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS sum_cbal,
             |CAST(SUM(CAST(s_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS sum_sbal
             |FROM customer JOIN supplier ON c_nationkey = s_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_agg_push",
      // MANIFEST-SERVED AGGREGATES (the Iceberg headline move at the
      // V2 layer — SupportsPushDownAggregates): COUNT(*) / COUNT(col) /
      // MIN / MAX with no filter and no grouping answer from manifest
      // lines alone — rowCount and nullCount from the `n:` stats, exact
      // extrema from the recorded ranges — so the plan carries ONE
      // metadata-row partition and ZERO data files (REQUIREd
      // structurally below): a 100 TB count costs one manifest read.
      // Strings are served too (unlike parquet's own footer pushdown,
      // which excludes them because footer stats truncate — these are
      // exact Spark aggregates recorded at commit). Soundness: every
      // file must PROVE its share (rowCount for counts; a range or an
      // all-NULL proof for extrema), filters/DVs/DISTINCT decline the
      // push and scan normally — Round18Spec pins each refusal arm.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapaggp_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
          .select("o_orderkey", "o_orderpriority", "o_custkey")
        SnapshotTable.commit(o.repartition(4), table, append = false,
          statsColumns = Seq("o_orderkey", "o_orderpriority"))
        val agg = s.read.format(SnapshotV2Provider.format).option("path", table).load()
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("o_orderkey")).as("n_keys"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            min(col("o_orderpriority")).as("min_prio"),
            max(col("o_orderpriority")).as("max_prio"))
        // the structural contract: the scan planned ONE metadata-row
        // partition — no data file enters the plan at all
        val parts = agg.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions
        }.flatten
        require(parts.nonEmpty && parts.forall(_.isInstanceOf[MetadataRowPartition]),
          s"aggregate must be manifest-served (got ${parts.map(_.getClass.getSimpleName)})")
        agg
      },
      Some("""SELECT COUNT(*)::BIGINT AS n_rows, COUNT(o_orderkey)::BIGINT AS n_keys,
             |MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
             |MIN(o_orderpriority) AS min_prio, MAX(o_orderpriority) AS max_prio
             |FROM orders""".stripMargin)
    ),
    Q(
      "src_snapshot_v2_stats",
      // CBO STATISTICS from the manifest (SupportsReportStatistics):
      // the V2 scan reports row count (from `n:` stats) and byte size
      // (from the `sz:` sizes recorded per file at commit) for the
      // PRUNED file set — so Catalyst's own broadcast decision fires
      // for a genuinely small snapshot table with zero footers opened
      // (a stats-less V2 source reads as defaultSizeInBytes = huge and
      // would sort-merge; REQUIREd: the plan carries a broadcast hash
      // join with NO hints and NO threshold games). The safe
      // direction is structural: any file missing its stat makes the
      // estimate UNKNOWN, never small — an undercount would trick the
      // planner into broadcasting a 100 TB side. Complements
      // src_snapshot_join_sizing (the library-level sizer): this arm
      // hands the same manifest evidence to Spark's OWN planner.
      (s, dir) => {
        val factT = graft.Stage.dir("graft_v2sfact_", dir).getPath
        val dimT = graft.Stage.dir("graft_v2sdim_", dir).getPath
        Seq(factT, dimT).foreach(p =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
        SnapshotTable.commit(
          Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice"),
          factT, append = false, statsColumns = Seq("o_custkey"))
        SnapshotTable.commit(
          Tables(s, dir).customer.select("c_custkey", "c_mktsegment"),
          dimT, append = false, statsColumns = Seq("c_custkey"))
        def v2(t: String) =
          s.read.format(SnapshotV2Provider.format).option("path", t).load()
        val j = v2(factT).join(v2(dimT), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("c_mktsegment")
        val bhj = j.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
        }
        require(bhj.nonEmpty,
          "manifest-reported statistics must drive Catalyst's own broadcast decision")
        j
      },
      Some("""SELECT c_mktsegment, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_runtime_filter",
      // RUNTIME FILE PRUNING through the V2 contract
      // (SupportsRuntimeV2Filtering — DPP for the table format): the
      // dim side's ACTUAL key set, known only after its filter runs,
      // arrives at the fact scan as a dynamic-pruning predicate; the
      // scan re-plans through the SAME ManifestPruning predicate and
      // drops whole fact files whose recorded key range misses every
      // dim key — the table-format analogue of partition-directory
      // DPP, with file-grade granularity and zero layout requirements
      // beyond key-clustering at write. The fact is range-clustered on
      // o_custkey (8 files), the dim keeps the first eighth of the key
      // space, so ~7 of 8 fact files never open. REQUIREd statically:
      // the fact BatchScan carries the dynamic-pruning runtime filter
      // (Round18Spec additionally pins the post-execution re-plan to a
      // strict file subset via the scan's lastPlanned hook). At 100 TB
      // this is the "join a decade of facts to this month's dim slice"
      // shape: the manifest prunes the decade down to the slice's key
      // range before any footer opens.
      (s, dir) => {
        val ft = graft.Stage.dir("graft_rtffact_", dir).getPath
        val dt = graft.Stage.dir("graft_rtfdim_", dir).getPath
        Seq(ft, dt).foreach(p =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
        val orders = Tables(s, dir).orders
          .select("o_orderkey", "o_custkey", "o_totalprice")
        SnapshotTable.commit(
          orders.repartitionByRange(8, col("o_custkey")).sortWithinPartitions("o_custkey"),
          ft, append = false, statsColumns = Seq("o_custkey"))
        SnapshotTable.commit(
          Tables(s, dir).customer.select("c_custkey", "c_mktsegment"),
          dt, append = false, statsColumns = Seq("c_custkey"))
        val lim = Tables(s, dir).customer
          .agg(max("c_custkey")).collect()(0).getLong(0) / 8
        def v2(t: String) =
          s.read.format(SnapshotV2Provider.format).option("path", t).load()
        val j = v2(ft)
          .join(v2(dt).filter(col("c_custkey") <= lim),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("c_mktsegment")
        val rt = j.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
              if b.output.exists(_.name == "o_custkey") => b.runtimeFilters
        }.flatten
        require(rt.nonEmpty,
          "the fact-side V2 scan must carry a dynamic-pruning runtime filter")
        j
      },
      Some("""SELECT c_mktsegment, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_custkey <= (SELECT MAX(c_custkey) FROM customer) // 8
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_sql_catalog",
      // The snapshot format's SQL SURFACE — a TableCatalog plugin over
      // the DSv2 BatchWrite protocol (SnapshotCatalog): CREATE TABLE
      // with declared statsColumns, two transactional INSERT INTOs
      // (executors write parquet task-side and fold min/max/nullCount
      // pruning stats over the same pass the bytes take; the driver
      // publishes ONE atomic manifest per insert), INSERT OVERWRITE
      // (history intact), and VERSION AS OF time travel — all in SQL,
      // no library calls in the read/write path. The result reads the
      // overwritten head AND two time-travel points, so a write path
      // that lost rows, double-published, or broke snapshot isolation
      // breaks the hash. REQUIREd: the SQL-written manifest carries
      // the declared per-file stats (the pruning/CBO surface) and file
      // sizes. At 100 TB this is the operational surface a platform
      // team actually exposes: SQL DDL/DML with the table format's
      // transactional guarantees underneath.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sqlcat_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graft_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        Tables(s, dir).orders
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("p"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_sqlcat_src")
        s.sql(s"CREATE TABLE $cat.t (k BIGINT, p STRING, price DOUBLE) " +
          "TBLPROPERTIES('statsColumns'='k,p')")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sqlcat_src WHERE k % 3 = 0")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sqlcat_src WHERE k % 3 = 1")
        s.sql(s"INSERT OVERWRITE $cat.t SELECT * FROM graft_sqlcat_src WHERE k % 3 = 2")
        val m = SnapshotTable.manifest(s"$wh/t", 4L)
        require(m.files.nonEmpty && m.files.forall(f =>
          f.nstats.contains("k") && f.size > 0 &&
            (f.nstats("k")._2 == f.nstats("k")._1 || f.stats.contains("k"))),
          "SQL inserts must record the declared per-file stats + sizes")
        def agg(sql: String, arm: String) =
          s.sql(sql).groupBy("p")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
        agg(s"SELECT * FROM $cat.t", "head")
          .unionByName(agg(s"SELECT * FROM $cat.t VERSION AS OF 2", "v2"))
          .unionByName(agg(s"SELECT * FROM $cat.t VERSION AS OF 3", "v3"))
          .select("arm", "p", "n_orders", "sum_price")
          .orderBy("arm", "p")
      },
      Some("""SELECT 'head' AS arm, o_orderpriority AS p, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey % 3 = 2 GROUP BY 2
             |UNION ALL
             |SELECT 'v2', o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 2
             |UNION ALL
             |SELECT 'v3', o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 2
             |ORDER BY arm, p""".stripMargin)
    ),
    Q(
      "src_snapshot_sql_delete",
      // SQL INSERT into a CLUSTERED table + METADATA-ONLY DELETE: the
      // clustered table's V2 write declares
      // RequiresDistributionAndOrdering — Spark routes every key to
      // one task and sorts, the rolling writer cuts a file per key
      // change — so a plain INSERT INTO preserves the one-key-per-file
      // invariant (REQUIREd below on the post-insert manifest: every
      // file min == max). Then `DELETE FROM ... WHERE key IN (...)`
      // drops whole files from the manifest: each file provably holds
      // only matching rows (min == max ∈ set, zero nulls) or provably
      // none — zero data files opened or moved, one atomic commit,
      // prior versions time-travel intact (mode=delete; incremental
      // readers refuse across it). A predicate not provable file-whole
      // refuses loudly (REQUIREd) — row-level deletes stay
      // deleteKeys' merge-on-read job. At 100 TB this is the partition
      // drop: "delete these tenants/days" costs one manifest write.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sqldel_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftd_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        val cust = Tables(s, dir).customer
          .select("c_custkey", "c_nationkey", "c_acctbal")
        // clustered table born through the API (the spec is table-level),
        // then grown through plain SQL
        SnapshotTable.commit(cust.filter(col("c_custkey") % 2 === 0),
          s"$wh/c", append = false, clusterBy = Some("c_nationkey"))
        cust.filter(col("c_custkey") % 2 === 1)
          .createOrReplaceTempView("graft_sqldel_src")
        s.sql(s"INSERT INTO $cat.c SELECT * FROM graft_sqldel_src")
        val m2 = SnapshotTable.manifest(s"$wh/c", 2L)
        require(m2.files.forall(f =>
          f.stats.get("c_nationkey").exists { case (mn, mx) => mn == mx }),
          "SQL insert into a clustered table must keep one key value per file")
        val beforeFiles = m2.fileCount
        val victims = m2.files.count(_.stats("c_nationkey")._1 <= 2L)
        s.sql(s"DELETE FROM $cat.c WHERE c_nationkey IN (0, 1, 2)")
        val m3 = SnapshotTable.manifest(s"$wh/c", 3L)
        require(m3.extra.get("mode").contains("delete") &&
          m3.fileCount == beforeFiles - victims,
          s"metadata delete must drop exactly the proven files " +
            s"(${m3.fileCount} left of $beforeFiles, want ${beforeFiles - victims})")
        // a mid-file predicate is NOT provable file-whole — it routes to
        // the group-based copy-on-write rewrite instead (REQUIREd:
        // mode=merge, i.e. scanned files replaced, never approximated
        // at the metadata layer); the oracle's head arm includes this
        // delete, so a rewrite that lost or duplicated carried rows
        // breaks the hash
        s.sql(s"DELETE FROM $cat.c WHERE c_acctbal < 0")
        val m4 = SnapshotTable.manifest(s"$wh/c", 4L)
        require(m4.extra.get("mode").contains("merge"),
          "an unprovable DELETE must route to the group rewrite (mode=merge)")
        def agg(sql: String, arm: String) =
          s.sql(sql).groupBy(col("c_nationkey").cast("long").as("nationkey"))
            .agg(
              count(lit(1)).as("n_cust"),
              sum(col("c_acctbal").cast("decimal(38,4)")).cast("double").as("sum_bal"))
            .withColumn("arm", lit(arm))
        agg(s"SELECT * FROM $cat.c", "head")
          .unionByName(agg(s"SELECT * FROM $cat.c VERSION AS OF 2", "pre"))
          .select("arm", "nationkey", "n_cust", "sum_bal")
          .orderBy("arm", "nationkey")
      },
      Some("""SELECT 'head' AS arm, c_nationkey::BIGINT AS nationkey,
             |COUNT(*)::BIGINT AS n_cust,
             |CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS sum_bal
             |FROM customer WHERE c_nationkey NOT IN (0, 1, 2) AND c_acctbal >= 0
             |GROUP BY 2
             |UNION ALL
             |SELECT 'pre', c_nationkey::BIGINT, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE)
             |FROM customer GROUP BY 2
             |ORDER BY arm, nationkey""".stripMargin)
    ),
    Q(
      "src_snapshot_sql_dml",
      // ROW-LEVEL SQL DML — UPDATE and MERGE INTO over the table format
      // (SupportsRowLevelOperations, group-based copy-on-write): Spark's
      // ReplaceData plan reads the affected GROUPS through the
      // operation's scan — the runtime group filter (our
      // SupportsRuntimeV2Filtering) narrows it to files that can hold
      // matching rows — applies the mutation, writes every surviving
      // row back, and the commit REPLACES exactly the scanned files
      // (the group-replace commit, mode=merge): untouched files ride VERBATIM
      // (REQUIREd below on the manifest diff — the O(touched files +
      // batch) contract of the API merge, now reachable from plain
      // SQL). The selective UPDATE hits the lower half of a 4-file
      // range-clustered key space, so at least one file must survive
      // untouched and at least one must be replaced; the MERGE applies
      // a matched-UPDATE + not-matched-INSERT in one transactional
      // commit. The oracle reproduces the full mutation pipeline
      // relationally, and a 'pre' arm time-travels to the pre-DML
      // snapshot — lost carried rows, double-applied updates, or
      // broken snapshot isolation all break the hash.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sqldml_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftdm_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.o (k BIGINT, prio STRING, price DOUBLE) " +
          "TBLPROPERTIES('statsColumns'='k')")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
            col("o_totalprice").as("price"))
          .repartitionByRange(4, col("k")).sortWithinPartitions("k")
          .createOrReplaceTempView("graft_sqldml_src")
        s.sql(s"INSERT INTO $cat.o SELECT * FROM graft_sqldml_src")
        val m2 = SnapshotTable.manifest(s"$wh/o", 2L)
        val cut = Tables(s, dir).orders.agg(max("o_orderkey"))
          .collect()(0).getLong(0) / 2
        s.sql(s"UPDATE $cat.o SET price = price + 100.0 WHERE k <= $cut")
        val m3 = SnapshotTable.manifest(s"$wh/o", 3L)
        require(m3.extra.get("mode").contains("merge"),
          "UPDATE must commit as a group rewrite (mode=merge)")
        // the group contract: files whose key range excludes the cut
        // ride VERBATIM; at least one touched file was replaced
        val survivors = m3.files.map(_.path).toSet
        val untouched = m2.files.filter(_.stats("k")._1 > cut).map(_.path)
        require(untouched.nonEmpty && untouched.forall(survivors),
          "untouched files must be carried verbatim through UPDATE")
        require(m2.files.exists(f => !survivors(f.path)),
          "at least one touched file must have been replaced")
        s.sql(s"""MERGE INTO $cat.o t
                 |USING (SELECT k, 'X-M' AS prio, 0.0 AS price FROM graft_sqldml_src
                 |       WHERE k % 97 = 0
                 |       UNION ALL
                 |       SELECT k + 100000000, 'X-N', 1.0 FROM graft_sqldml_src
                 |       WHERE k % 101 = 0) s
                 |ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET t.prio = s.prio, t.price = s.price
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        require(SnapshotTable.manifest(s"$wh/o", 4L).extra.get("mode").contains("merge"))
        def agg(sql: String, arm: String) =
          s.sql(sql).groupBy("prio")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
        agg(s"SELECT * FROM $cat.o", "post")
          .unionByName(agg(s"SELECT * FROM $cat.o VERSION AS OF 2", "pre"))
          .select("arm", "prio", "n_orders", "sum_price")
          .orderBy("arm", "prio")
      },
      Some("""WITH cut AS (SELECT MAX(o_orderkey) // 2 AS c FROM orders),
             |updated AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
             |  o_totalprice + (CASE WHEN o_orderkey <= (SELECT c FROM cut)
             |                       THEN 100.0 ELSE 0.0 END) AS price FROM orders),
             |merged AS (
             |  SELECT k, CASE WHEN k % 97 = 0 THEN 'X-M' ELSE prio END AS prio,
             |         CASE WHEN k % 97 = 0 THEN 0.0 ELSE price END AS price
             |  FROM updated
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, 'X-N', 1.0 FROM orders
             |  WHERE o_orderkey % 101 = 0)
             |SELECT 'post' AS arm, prio, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM merged GROUP BY 2
             |UNION ALL
             |SELECT 'pre', o_orderpriority, COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders GROUP BY 2
             |ORDER BY arm, prio""".stripMargin)
    ),
    Q(
      "src_snapshot_meta_tables",
      // Iceberg-style METADATA TABLES in SQL (`g.t.history` /
      // `g.t.files` / `g.t.segments` — SnapshotMetaTables): the table's
      // operational state answered from manifest lines alone, zero
      // data files opened — version chain with modes and cumulative
      // file counts from segment REFS (no segment loaded for the
      // count), per-file sizes and row counts from the recorded stats,
      // the manifest-list fragmentation from the refs. The fixture
      // drives a deterministic commit chain (create → 2-file append →
      // 3-file append → 1-file overwrite) and the oracle is the
      // EXPECTED LEDGER as literal rows + the relational row count —
      // a history row with the wrong mode, a file count that loaded
      // (or misCounted) segments, or a row-count stat that drifted
      // from the data all break the hash. At 100 TB these are the
      // "how big / how fragmented / which commit did that" questions
      // at metadata cost — DESCRIBE HISTORY without leaving SQL.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_metat_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftmt_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        val o = Tables(s, dir).orders.select(col("o_orderkey").as("k"))
        s.sql(s"CREATE TABLE $cat.t (k BIGINT) TBLPROPERTIES('statsColumns'='k')")
        o.filter(col("k") % 2 === 0).repartition(2)
          .createOrReplaceTempView("graft_metat_a")
        o.filter(col("k") % 2 === 1).repartition(3)
          .createOrReplaceTempView("graft_metat_b")
        o.filter(col("k") % 5 === 0).repartition(1)
          .createOrReplaceTempView("graft_metat_c")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_metat_a")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_metat_b")
        s.sql(s"INSERT OVERWRITE $cat.t SELECT * FROM graft_metat_c")
        s.sql(s"SELECT concat('v', version) AS arm, mode, n_files, 0L AS n_rows " +
            s"FROM $cat.t.history")
          .unionByName(s.sql(s"SELECT 'files' AS arm, '-' AS mode, " +
            s"count(*) AS n_files, sum(n_rows) AS n_rows FROM $cat.t.files"))
          .unionByName(s.sql(s"SELECT 'segments' AS arm, '-' AS mode, " +
            s"count(*) AS n_files, 0L AS n_rows FROM $cat.t.segments"))
          .orderBy("arm")
      },
      Some("""SELECT 'files' AS arm, '-' AS mode, 1::BIGINT AS n_files,
             |(SELECT COUNT(*) FROM orders WHERE o_orderkey % 5 = 0)::BIGINT AS n_rows
             |UNION ALL SELECT 'segments', '-', 1, 0
             |UNION ALL SELECT 'v1', 'create', 0, 0
             |UNION ALL SELECT 'v2', 'append', 2, 0
             |UNION ALL SELECT 'v3', 'append', 5, 0
             |UNION ALL SELECT 'v4', 'overwrite', 1, 0
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_limit_push",
      // MANIFEST-BOUNDED LIMIT (SupportsPushDownLimit): `SELECT ...
      // LIMIT n` over a 100 TB table should open O(n / rows-per-file)
      // files, not all of them — every file's rowCount is proven by
      // the manifest's `n:` stats, so a PREFIX of the file list
      // covering ≥ n rows is guaranteed to satisfy the limit, and the
      // scan plans exactly that prefix. The push is PARTIAL (whole
      // files may over-deliver; Spark keeps its own Limit on top), so
      // truncation can never change results — and it declines whenever
      // it can't be proven: a pushed filter could reject arbitrarily
      // many prefix rows, a DV could shrink a file, a stats-less file
      // has no proven rowCount (Round21Spec pins each decline). The
      // fixture REQUIREs the structural contract on the static plan:
      // LIMIT 600 over a 10-file table plans exactly ONE file; an
      // over-table limit plans all ten.
      (s, dir) => {
        val table = graft.Stage.dir("graft_limpush_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        SnapshotTable.commit(
          Tables(s, dir).orders.select("o_orderkey", "o_totalprice").repartition(10),
          table, append = false, statsColumns = Seq("o_orderkey"))
        def v2() =
          s.read.format(SnapshotV2Provider.format).option("path", table).load()
        def plannedOf(df: org.apache.spark.sql.DataFrame): Int =
          graft.Stage.plannedFiles(df.queryExecution.sparkPlan)
        val small = v2().limit(600)
        val over = v2().limit(1000000000)
        val m = SnapshotTable.manifest(table, 1L)
        val total = m.fileCount
        // the MINIMAL proven prefix for this scale factor, recomputed
        // from the manifest's own rowCounts (sf0.001 smoke runs 150-row
        // files; sf0.1 runs 15000-row ones — the contract is the same)
        val rowCounts = m.files.map(_.nstats.values.head._2)
        val wantFiles = (rowCounts.scanLeft(0L)(_ + _).tail.indexWhere(_ >= 600) + 1)
          .min(total.toInt)
        require(plannedOf(small) == wantFiles && wantFiles < total,
          s"LIMIT 600 over $total files must plan the minimal $wantFiles-file prefix, " +
            s"planned ${plannedOf(small)}")
        require(plannedOf(over) == total,
          s"an over-table limit proves nothing — must plan all $total files")
        small.agg(count(lit(1)).as("n_rows")).withColumn("arm", lit("small"))
          .unionByName(
            over.agg(count(lit(1)).as("n_rows")).withColumn("arm", lit("over")))
          .select("arm", "n_rows").orderBy("arm")
      },
      Some("""SELECT 'over' AS arm, COUNT(*)::BIGINT AS n_rows FROM orders
             |UNION ALL SELECT 'small', 600
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_topn_push",
      // MANIFEST-BOUNDED TopN (SupportsPushDownTopN): `ORDER BY k
      // LIMIT n` locates the top region from the manifest's value
      // bounds — walk files by their WEAKEST bound for the direction
      // accumulating proven non-null rows to n (those files alone hold
      // n rows at-or-better than the last one's bound θ), then keep
      // only files whose STRONG bound reaches θ (plus any null-bearing
      // file — sound under either null ordering). On a table
      // range-clustered on the sort key, "latest 50 / first 50" plans
      // ONE file of eight in each direction (REQUIREd on the static
      // plan) — the "tail -n the fact table" query at metadata cost.
      // Pruning uses the first sort key only and the push is PARTIAL
      // (Spark re-sorts and re-limits on top), so tie-breaking
      // suffixes and over-delivery can never change results;
      // stats-less files, pushed filters, DVs, or non-column sort keys
      // decline (Round21Spec). The oracle replays both directions
      // relationally — o_orderkey is unique, so the top-50 sets are
      // exact.
      (s, dir) => {
        val table = graft.Stage.dir("graft_topnpush_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        SnapshotTable.commit(
          Tables(s, dir).orders.select("o_orderkey", "o_totalprice")
            .repartitionByRange(8, col("o_orderkey"))
            .sortWithinPartitions("o_orderkey"),
          table, append = false, statsColumns = Seq("o_orderkey"))
        def v2() =
          s.read.format(SnapshotV2Provider.format).option("path", table).load()
        def plannedOf(df: org.apache.spark.sql.DataFrame): Int =
          graft.Stage.plannedFiles(df.queryExecution.sparkPlan)
        val total = SnapshotTable.manifest(table, 1L).fileCount
        val asc = v2().orderBy(col("o_orderkey")).limit(50)
        val desc = v2().orderBy(col("o_orderkey").desc).limit(50)
        for ((df, arm) <- Seq((asc, "asc"), (desc, "desc"))) {
          val p = plannedOf(df)
          require(p >= 1 && p < total,
            s"TopN $arm over $total range-clustered files must plan a strict subset, got $p")
        }
        asc.withColumn("arm", lit("asc"))
          .unionByName(desc.withColumn("arm", lit("desc")))
          .select("arm", "o_orderkey", "o_totalprice")
          .orderBy("arm", "o_orderkey")
      },
      Some("""SELECT 'asc' AS arm, o_orderkey, o_totalprice FROM
             |  (SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 50)
             |UNION ALL
             |SELECT 'desc', o_orderkey, o_totalprice FROM
             |  (SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey DESC LIMIT 50)
             |ORDER BY arm, o_orderkey""".stripMargin)
    ),
    Q(
      "src_snapshot_spj_ordered",
      // ZERO-SORT storage-partitioned join (SupportsReportOrdering on
      // top of src_snapshot_spj's zero-exchange property): a
      // key-grouped partition holds exactly ONE cluster-key value, so
      // it is trivially sorted by that key — the scan REPORTS the
      // ordering, and a sort-merge join of two co-clustered snapshot
      // tables plans with no exchange AND no SortExec under the join
      // (both REQUIREd on the static plan; the output orderBy sorts
      // above it). At 100 TB this closes the last cost of the
      // repeated fact⋈fact join: shuffle paid once at write, sort
      // never — Iceberg SPJ + ordered scan, on the table format. The
      // ordering is withheld when the cluster key is pruned from the
      // scan output (it must resolve against this scan's columns) and
      // on limit-truncated scans — Round21Spec pins both.
      (s, dir) => {
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        val ct = graft.Stage.dir("graft_spjocust_", dir).getPath
        val st = graft.Stage.dir("graft_spjosupp_", dir).getPath
        Seq(ct, st).foreach(p =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
        SnapshotTable.commit(
          Tables(s, dir).customer.select("c_custkey", "c_nationkey", "c_acctbal"),
          ct, append = false, clusterBy = Some("c_nationkey"))
        SnapshotTable.commit(
          Tables(s, dir).supplier.select("s_suppkey", "s_nationkey", "s_acctbal"),
          st, append = false, clusterBy = Some("s_nationkey"))
        def v2(t: String) =
          s.read.format(SnapshotV2Provider.format).option("path", t).load()
        val j = v2(ct).join(v2(st).hint("merge"),
            col("c_nationkey") === col("s_nationkey"))
          .groupBy("c_nationkey")
          .agg(
            count(lit(1)).as("n_pairs"),
            min(col("c_acctbal")).as("min_cbal"),
            max(col("s_acctbal")).as("max_sbal"))
        val plan = j.queryExecution.sparkPlan
        val hashEx = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[
                org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
        }
        require(hashEx.isEmpty,
          s"ordered SPJ must plan with zero hash exchanges, found ${hashEx.size}")
        val smj = plan.collect {
          case m: org.apache.spark.sql.execution.joins.SortMergeJoinExec => m
        }
        require(smj.nonEmpty, "the merge hint must plan a sort-merge join")
        val sortsUnder = smj.flatMap(_.collect {
          case so: org.apache.spark.sql.execution.SortExec => so
        })
        require(sortsUnder.isEmpty,
          s"reported ordering must eliminate the join's sorts, found ${sortsUnder.size}")
        j.select(col("c_nationkey").cast("long").as("nationkey"),
            col("n_pairs"), col("min_cbal"), col("max_sbal"))
          .orderBy("nationkey")
      },
      Some("""SELECT c_nationkey::BIGINT AS nationkey, COUNT(*)::BIGINT AS n_pairs,
             |MIN(c_acctbal) AS min_cbal, MAX(s_acctbal) AS max_sbal
             |FROM customer JOIN supplier ON c_nationkey = s_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_sql_call",
      // SQL MAINTENANCE PROCEDURES — Spark 4's native DSv2 `CALL`
      // statement (ProcedureCatalog on SnapshotCatalog, the Iceberg
      // `CALL cat.system.<proc>` surface): the table's day-2 lifecycle
      // without leaving SQL, each CALL returning what it DID as a
      // result row. The fixture drives a deterministic commit chain
      // (create + three appends fragmenting the manifest into 3
      // segments), then CALL rewrite_segments (metadata-only: 3→1
      // segments, zero data files touched) and CALL rollback (restore
      // v3 as a NEW commit). The result folds the two CALL outputs,
      // the full history ledger (modes + cumulative file counts — the
      // rewrite must carry all 6 files verbatim, the rollback exactly
      // v3's 5), and the restored row count — a procedure that copied
      // data, dropped a file, or rolled to the wrong version breaks
      // the hash. Table args are catalog-relative names (path escape
      // refused — Round22Spec), so a CALL can't reach outside the
      // warehouse. At 100 TB this is how maintenance actually ships:
      // scheduled SQL, auditable results.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sqlcall_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftpc_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        val o = Tables(s, dir).orders.select(col("o_orderkey").as("k"))
        s.sql(s"CREATE TABLE $cat.t (k BIGINT) TBLPROPERTIES('statsColumns'='k')")
        o.filter(col("k") % 2 === 0).repartition(2)
          .createOrReplaceTempView("graft_sqlcall_a")
        o.filter(col("k") % 2 === 1).repartition(3)
          .createOrReplaceTempView("graft_sqlcall_b")
        o.filter(col("k") % 5 === 0).repartition(1)
          .createOrReplaceTempView("graft_sqlcall_c")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sqlcall_a")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sqlcall_b")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sqlcall_c")
        val rw = s.sql(s"CALL $cat.system.rewrite_segments('t', 10000)")
          .select(lit("call_rewrite").as("arm"),
            col("segments_before").cast("long").as("a"),
            col("segments_after").cast("long").as("b"))
        val rb = s.sql(s"CALL $cat.system.rollback('t', 3)")
          .select(lit("call_rollback").as("arm"),
            col("previous_version").as("a"), col("version").as("b"))
        rw.unionByName(rb)
          .unionByName(s.sql(s"SELECT concat('v', version, ':', mode) AS arm, " +
            s"n_files::BIGINT AS a, 0L AS b FROM $cat.t.history"))
          .unionByName(s.sql(s"SELECT 'rows' AS arm, count(*) AS a, 0L AS b FROM $cat.t"))
          .orderBy("arm")
      },
      Some("""SELECT 'call_rewrite' AS arm, 3::BIGINT AS a, 1::BIGINT AS b
             |UNION ALL SELECT 'call_rollback', 5, 6
             |UNION ALL SELECT 'rows',
             |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0
             |     OR o_orderkey % 2 = 1), 0
             |UNION ALL SELECT 'v1:create', 0, 0
             |UNION ALL SELECT 'v2:append', 2, 0
             |UNION ALL SELECT 'v3:append', 5, 0
             |UNION ALL SELECT 'v4:append', 6, 0
             |UNION ALL SELECT 'v5:rewrite', 6, 0
             |UNION ALL SELECT 'v6:rollback', 5, 0
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_metadata_cols",
      // METADATA COLUMNS (`_file`, `_pos` — SupportsMetadataColumns,
      // Iceberg's provenance columns): which data file holds each row
      // and at which ordinal, served with ZERO extra I/O — the path is
      // a planning-time constant per partition (metadata scans plan
      // single-file partitions; REQUIREd below) and the position a
      // reader-side counter appended around Spark's own parquet
      // reader. This is the join key for file-grade debugging ("which
      // file produced these bad rows"), dedup provenance, and manual
      // row addressing at 100 TB — questions that otherwise need a
      // full rewrite with a synthetic id. The result cross-checks the
      // columns against themselves and the manifest: distinct _file
      // count = the two commits' 7 files, Σ per-file (max(_pos)+1) =
      // the row count (positions are dense 0..n-1 per file), and
      // (_file,_pos) is unique row addressing. A reader that repeated
      // a position, skipped one, or bled a counter across files breaks
      // the hash.
      (s, dir) => {
        val table = graft.Stage.dir("graft_metacols_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders.select("o_orderkey", "o_totalprice")
        SnapshotTable.commit(o.filter(col("o_orderkey") % 2 === 0).repartition(4),
          table, append = false, statsColumns = Seq("o_orderkey"))
        SnapshotTable.commit(o.filter(col("o_orderkey") % 2 === 1).repartition(3),
          table, append = true, statsColumns = Seq("o_orderkey"))
        val df = s.read.format(SnapshotV2Provider.format).option("path", table).load()
          .select(col("o_orderkey"), col("_file"), col("_pos"))
        val planned = df.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.map {
              case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                fp.files.length
              case _ => -1
            }
        }.flatten
        require(planned.size == 7 && planned.forall(_ == 1),
          s"metadata scan must plan 7 single-file partitions, got $planned")
        val perFile = df.groupBy("_file")
          .agg(max(col("_pos")).as("mx"), count(lit(1)).as("c"))
        perFile.agg(
            count(lit(1)).as("n_files"),
            sum(col("c")).as("n_rows"),
            sum(col("mx") + 1).as("pos_rows"))
          .crossJoin(df.agg(
            countDistinct(col("_file"), col("_pos")).as("n_addr")))
      },
      Some("""SELECT 7::BIGINT AS n_files, COUNT(*)::BIGINT AS n_rows,
             |COUNT(*)::BIGINT AS pos_rows, COUNT(*)::BIGINT AS n_addr
             |FROM orders""".stripMargin)
    ),
    Q(
      "src_snapshot_cbo_stats",
      // COLUMN STATISTICS to Catalyst's COST-BASED OPTIMIZER
      // (Statistics.columnStats on the V2 scan → transformV2Stats →
      // attributeStats): the manifest's per-column nullCount (exact),
      // NDV (sum of per-file HLL estimates, capped at rowCount — an
      // upper bound, estimation-grade by design) and exact integral
      // min/max reach Spark's own join-cardinality estimation under
      // spark.sql.cbo.enabled — so the planner can size a JOIN OUTPUT
      // (rows_fact·rows_dim / max(ndv)) before running it, the
      // decision 100 TB multi-join plans live or die on. REQUIREd:
      // (a) the fact scan's logical stats carry attributeStats for the
      // join key, (b) the CBO's estimated join row count lands within
      // 3× of the true join size (dim key unique ⇒ estimate ≈ fact
      // rows; a missing or wildly-summed NDV blows this bound).
      // Proof-grade decisions (pruning, broadcast proofs, metadata
      // DELETE) never read these estimates — they keep their own
      // exactness rules; Round21Spec pins the stat values themselves
      // and the stats-less table reporting NO column stats.
      (s, dir) => {
        val factT = graft.Stage.dir("graft_cbofact_", dir).getPath
        val dimT = graft.Stage.dir("graft_cbodim_", dir).getPath
        Seq(factT, dimT).foreach(p =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
        SnapshotTable.commit(
          Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice"),
          factT, append = false, statsColumns = Seq("o_custkey"))
        SnapshotTable.commit(
          Tables(s, dir).customer.select("c_custkey", "c_mktsegment"),
          dimT, append = false, statsColumns = Seq("c_custkey"))
        def v2(t: String) =
          s.read.format(SnapshotV2Provider.format).option("path", t).load()
        val j = v2(factT).join(v2(dimT), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n_orders"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"))
          .orderBy("c_mktsegment")
        val prior = s.conf.get("spark.sql.cbo.enabled", "false")
        try {
          s.conf.set("spark.sql.cbo.enabled", "true")
          val plan = j.queryExecution.optimizedPlan
          val keyStats = plan.collect {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.stats.attributeStats.filter(_._1.name == "o_custkey")
          }.flatten
          require(keyStats.nonEmpty && keyStats.exists(_._2.distinctCount.isDefined),
            "the fact scan must hand the CBO an NDV for the join key")
          val est = plan.collect {
            case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn.stats.rowCount
          }.flatten.headOption
          val actual = BigInt(Tables(s, dir).orders.count())
          require(est.exists(e => e >= actual / 3 && e <= actual * 3),
            s"CBO join estimate $est must land within 3x of the true $actual rows")
        } finally s.conf.set("spark.sql.cbo.enabled", prior)
        j
      },
      Some("""SELECT c_mktsegment, COUNT(*)::BIGINT AS n_orders,
             |MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_sql_branch",
      // WRITE-AUDIT-PUBLISH entirely in SQL — the branch lifecycle the
      // API arm (src_snapshot_wap) pins, now through CALL procedures
      // plus a catalog-addressing trick that needed ZERO new code: a
      // branch IS a snapshot table rooted at $table/branches/$name,
      // and the catalog resolves dotted idents by path — so
      // `<cat>.t.branches.audit` reads AND writes the branch through
      // the ordinary V2 table machinery (INSERT INTO the branch = a
      // transactional branch commit). The flow: CALL create_branch
      // (one metadata write — forking a 100 TB table costs nothing) →
      // INSERT INTO the branch → audit it in SQL while main provably
      // still reads the pre-branch state (pinned as data: the
      // 'premain' arm) → CALL publish_branch (fast-forward, REQUIREd
      // mode=append: pure-append branches keep incremental readers
      // alive across the publish) → CALL drop_branch (manifests always
      // reclaimed; data files survive because main now references
      // them — REQUIREd as the (2, 0) result row). History + final
      // rows pin the whole ledger; a publish that copied data, dropped
      // a file, or merged a diverged branch breaks the hash.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sqlbr_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftbr_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        val o = Tables(s, dir).orders.select(col("o_orderkey").as("k"))
        s.sql(s"CREATE TABLE $cat.t (k BIGINT) TBLPROPERTIES('statsColumns'='k')")
        o.filter(col("k") % 2 === 0).repartition(2)
          .createOrReplaceTempView("graft_sqlbr_a")
        o.filter(col("k") % 2 === 1).repartition(3)
          .createOrReplaceTempView("graft_sqlbr_b")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sqlbr_a")
        val cr = s.sql(s"CALL $cat.system.create_branch('t', 'audit')")
          .select(lit("create").as("arm"),
            col("fork_of").as("a"), col("branch_version").as("b"))
        s.sql(s"INSERT INTO $cat.t.branches.audit SELECT * FROM graft_sqlbr_b")
        // the audit, in SQL, against the LIVE branch — while main
        // provably still serves the pre-branch state
        val pre = s.sql(s"SELECT 'premain' AS arm, (SELECT count(*) FROM $cat.t) AS a, " +
          s"(SELECT count(*) FROM $cat.t.branches.audit) AS b")
        val pub = s.sql(s"CALL $cat.system.publish_branch('t', 'audit')")
          .select(lit("publish").as("arm"), col("version").as("a"),
            when(col("mode") === "append", 1L).otherwise(0L).as("b"))
        val dRow = s.sql(s"CALL $cat.system.drop_branch('t', 'audit')").collect()(0)
        // the drop contract AS DATA: the branch's manifest chain (fork +
        // one append) is reclaimed, while every file main's head now
        // references — including the 3 written INSIDE the branch —
        // survives on disk (the deleted-file count itself only reflects
        // writer clutter like .crc siblings, so the survivors are
        // verified by path)
        val mainFiles = SnapshotTable.manifest(s"$wh/t", 3L).files.map(_.path)
        require(mainFiles.forall(p => new java.io.File(p).exists()),
          "published branch data must survive drop_branch — main references it")
        val survivors = mainFiles.count(_.contains("/branches/"))
        val dr = s.range(1).select(lit("drop").as("arm"),
          lit(dRow.getInt(0).toLong).as("a"), lit(survivors.toLong).as("b"))
        cr.unionByName(pre).unionByName(pub).unionByName(dr)
          .unionByName(s.sql(s"SELECT concat('v', version, ':', mode) AS arm, " +
            s"n_files::BIGINT AS a, 0L AS b FROM $cat.t.history"))
          .unionByName(s.sql(s"SELECT 'rows' AS arm, count(*) AS a, 0L AS b FROM $cat.t"))
          .orderBy("arm")
      },
      Some("""WITH n AS (SELECT
             |    (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)::BIGINT AS na,
             |    (SELECT COUNT(*) FROM orders)::BIGINT AS nall)
             |SELECT 'create' AS arm, 2::BIGINT AS a, 1::BIGINT AS b
             |UNION ALL SELECT 'drop', 2, 3
             |UNION ALL SELECT 'premain', na, nall FROM n
             |UNION ALL SELECT 'publish', 3, 1
             |UNION ALL SELECT 'rows', nall, 0 FROM n
             |UNION ALL SELECT 'v1:create', 0, 0
             |UNION ALL SELECT 'v2:append', 2, 0
             |UNION ALL SELECT 'v3:append', 5, 0
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_merge_mor",
      // MERGE-ON-READ upsert (API mergeMoR — the Iceberg-v2
      // equality-delete shape): ONE commit = a deletion-vector sidecar
      // holding every batch key + the post-images appended as ordinary
      // data files, REQUIREd below to rewrite ZERO existing data files
      // — the trade a trickle-update CDC stream needs against a 100 TB
      // table (commit cost O(batch), not O(touched files)). Sequence
      // scoping is what the arms pin: the DV is stamped at the commit's
      // sequence and applies only to files added BEFORE it, so the
      // post-images shipped beside it survive ('post'), the pre-images
      // stay time-travelable ('pre'), the state-based changeFeed emits
      // exact update pre/post-images and deletes across the MoR commit
      // ('cf_*'), and compaction materializes the chain — DV state
      // dropped, REQUIREd — without changing a row ('postcompact' ==
      // 'post', which is also the CoW-identity statement: the oracle
      // computes the mutation relationally, the way copy-on-write
      // would). Round23Spec pins the file-set algebra, refusals, and
      // the SQL delta path (SupportsDelta) beside this.
      (s, dir) => {
        val table = graft.Stage.dir("graft_mormerge_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        SnapshotTable.commit(
          o.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
          table, append = false, statsColumns = Seq("o_orderkey"))
        val before = SnapshotTable.manifest(table, 1L).files.map(_.path).toSet
        val batch = o.filter(col("o_orderkey") % 10 === 7)
          .withColumn("o_totalprice", col("o_totalprice") + 500.0)
          .withColumn("_del", lit(false))
          .unionByName(o.filter(col("o_orderkey") % 10 === 3)
            .withColumn("_del", lit(true)))
        SnapshotTable.mergeMoR(batch, table, "o_orderkey", deleteCol = Some("_del"))
        require(before.subsetOf(SnapshotTable.manifest(table, 2L).files.map(_.path).toSet),
          "merge-on-read must rewrite ZERO existing data files")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_rows"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
            .select("arm", "o_orderpriority", "n_rows", "sum_price")
        val pre = agg(SnapshotTable.read(s, table, Some(1L)), "pre")
        val post = agg(SnapshotTable.read(s, table), "post")
        val cf = SnapshotTable.changeFeed(s, table, 1L, 2L, "o_orderkey")
          .groupBy(col("_change_type"), col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .select(concat(lit("cf_"), col("_change_type")).as("arm"),
            col("o_orderpriority"), col("n_rows"), col("sum_price"))
        SnapshotTable.compactSnapshot(s, table, targetBytes = 64L << 10,
          clusterBy = Seq("o_orderkey"))
        val head = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
        require(head.extra.get("dvfiles").forall(_.isEmpty),
          "compaction must materialize and drop the DV chain")
        val pc = agg(SnapshotTable.read(s, table), "postcompact")
        pre.unionByName(post).unionByName(cf).unionByName(pc)
          .orderBy("arm", "o_orderpriority")
      },
      Some("""WITH upd AS (SELECT o_orderkey, o_orderpriority,
             |    o_totalprice + 500.0 AS price FROM orders WHERE o_orderkey % 10 = 7),
             |post AS (SELECT o_orderkey, o_orderpriority,
             |    CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice + 500.0
             |         ELSE o_totalprice END AS price
             |  FROM orders WHERE o_orderkey % 10 <> 3)
             |SELECT 'pre' AS arm, o_orderpriority, COUNT(*)::BIGINT AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders GROUP BY 2
             |UNION ALL SELECT 'post', o_orderpriority, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) FROM post GROUP BY 2
             |UNION ALL SELECT 'postcompact', o_orderpriority, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) FROM post GROUP BY 2
             |UNION ALL SELECT 'cf_update_preimage', o_orderpriority, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 10 = 7 GROUP BY 2
             |UNION ALL SELECT 'cf_update_postimage', o_orderpriority, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) FROM upd GROUP BY 2
             |UNION ALL SELECT 'cf_delete', o_orderpriority, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 10 = 3 GROUP BY 2
             |ORDER BY arm, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_sql_dml_mor",
      // ROW-LEVEL SQL DML, MERGE-ON-READ (SupportsDelta): a table that
      // declares its row id (TBLPROPERTIES morKey, NOT NULL) plans
      // UPDATE / MERGE / row-level DELETE as a DELTA write — per-task
      // DV sidecars of delete keys + post-images appended as ordinary
      // data files, ONE manifest commit, and REQUIREd below: ZERO
      // existing data files rewritten across an UPDATE, a MERGE
      // (matched update + not-matched insert), and an unprovable
      // row-level DELETE — against the same mutations
      // src_snapshot_sql_dml pays group copy-on-write for. Reads
      // apply the accumulated DVs READER-side (broadcast equality-
      // delete filter, sequence-scoped so each commit's post-images
      // survive its own DV); 'pre' time-travels below the chain; CALL
      // compact materializes it (DV state dropped, REQUIREd) with
      // 'postcompact' == 'post'. The oracle replays the mutation
      // pipeline relationally — exactly what the CoW plan computes, so
      // hash equality IS the CoW-vs-MoR identity.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sqlmor_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftmr_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.o (k BIGINT NOT NULL, prio STRING, price DOUBLE) " +
          "TBLPROPERTIES('statsColumns'='k','morKey'='k')")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
            col("o_totalprice").as("price"))
          .repartitionByRange(4, col("k")).sortWithinPartitions("k")
          .createOrReplaceTempView("graft_sqlmor_src")
        s.sql(s"INSERT INTO $cat.o SELECT * FROM graft_sqlmor_src")
        val dataBefore = SnapshotTable.manifest(s"$wh/o", 2L).files.map(_.path).toSet
        val cut = Tables(s, dir).orders.agg(max("o_orderkey"))
          .collect()(0).getLong(0) / 2
        s.sql(s"UPDATE $cat.o SET price = price + 100.0 WHERE k <= $cut")
        val m3 = SnapshotTable.manifest(s"$wh/o", 3L)
        require(m3.extra.get("mode").contains("merge") &&
          m3.extra.get("dvfiles").exists(_.nonEmpty),
          "UPDATE must commit as a delta (DV sidecar, mode=merge)")
        s.sql(s"""MERGE INTO $cat.o t
                 |USING (SELECT k, 'X-M' AS prio, 0.0 AS price FROM graft_sqlmor_src
                 |       WHERE k % 97 = 0
                 |       UNION ALL
                 |       SELECT k + 100000000, 'X-N', 1.0 FROM graft_sqlmor_src
                 |       WHERE k % 101 = 0) s
                 |ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET t.prio = s.prio, t.price = s.price
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql(s"DELETE FROM $cat.o WHERE k % 13 = 5")
        val head = SnapshotTable.manifest(s"$wh/o", 5L)
        require(dataBefore.subsetOf(head.files.map(_.path).toSet),
          "three row-level DML commits must rewrite ZERO original data files")
        def agg(sql: String, arm: String) =
          s.sql(sql).groupBy("prio")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
            .select("arm", "prio", "n_orders", "sum_price")
        val post = agg(s"SELECT * FROM $cat.o", "post")
        val pre = agg(s"SELECT * FROM $cat.o VERSION AS OF 2", "pre")
        s.sql(s"CALL $cat.system.compact('o', ${128L << 20})")
        require(SnapshotTable
          .manifest(s"$wh/o", SnapshotTable.currentVersion(s"$wh/o"))
          .extra.get("dvfiles").forall(_.isEmpty),
          "CALL compact must materialize and drop the DV chain")
        val pc = agg(s"SELECT * FROM $cat.o", "postcompact")
        post.unionByName(pre).unionByName(pc).orderBy("arm", "prio")
      },
      Some("""WITH cut AS (SELECT MAX(o_orderkey) // 2 AS c FROM orders),
             |updated AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
             |  o_totalprice + (CASE WHEN o_orderkey <= (SELECT c FROM cut)
             |                       THEN 100.0 ELSE 0.0 END) AS price FROM orders),
             |merged AS (
             |  SELECT k, CASE WHEN k % 97 = 0 THEN 'X-M' ELSE prio END AS prio,
             |         CASE WHEN k % 97 = 0 THEN 0.0 ELSE price END AS price
             |  FROM updated
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, 'X-N', 1.0 FROM orders
             |  WHERE o_orderkey % 101 = 0),
             |fin AS (SELECT * FROM merged WHERE k % 13 <> 5)
             |SELECT 'post' AS arm, prio, COUNT(*)::BIGINT AS n_orders,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM fin GROUP BY 2
             |UNION ALL SELECT 'postcompact', prio, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) FROM fin GROUP BY 2
             |UNION ALL SELECT 'pre', o_orderpriority, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders GROUP BY 2
             |ORDER BY arm, prio""".stripMargin)
    ),
    Q(
      "src_snapshot_sql_dml_positions",
      // ROW-LEVEL SQL DML, POSITION-DELTA merge-on-read (SupportsDelta
      // with (_file,_pos) row identity — Iceberg's position-delta
      // plans): the morKey-LESS sibling of src_snapshot_sql_dml_mor.
      // Under TBLPROPERTIES('deleteMode'='positions') and NO declared
      // row key, UPDATE / MERGE / non-pushable row-level DELETE plan as
      // DELTA writes — pre-images killed by raw file ordinal (per-task
      // (_file,_pos) sidecars, the deletePositions format, applied by
      // every reader unchanged), post-images appended as ordinary data
      // files, ONE manifest commit each, and REQUIREd: ZERO original
      // data files rewritten across the whole chain. No sequence
      // scoping anywhere: a sidecar can never name the post-images
      // committed beside it (new paths by construction) — the
      // soundness argument is structural, not temporal. 'pre'
      // time-travels below the chain; CALL compact materializes the
      // positions (state dropped, REQUIREd) with 'postcompact' ==
      // 'post'. The oracle replays the mutations relationally — hash
      // equality IS the CoW-vs-position-delta identity. Round44Spec
      // pins the per-commit anatomy, the eq-delta precedence when a
      // morKey is also declared, and API/SQL sidecar interop.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sqlpp_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftpq_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.o (k BIGINT NOT NULL, prio STRING, price DOUBLE) " +
          "TBLPROPERTIES('statsColumns'='k','deleteMode'='positions')")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
            col("o_totalprice").as("price"))
          .repartitionByRange(4, col("k")).sortWithinPartitions("k")
          .createOrReplaceTempView("graft_sqlpp_src")
        s.sql(s"INSERT INTO $cat.o SELECT * FROM graft_sqlpp_src")
        val dataBefore = SnapshotTable.manifest(s"$wh/o", 2L).files.map(_.path).toSet
        val cut = Tables(s, dir).orders.agg(max("o_orderkey"))
          .collect()(0).getLong(0) / 2
        s.sql(s"UPDATE $cat.o SET price = price + 100.0 WHERE k <= $cut")
        val m3 = SnapshotTable.manifest(s"$wh/o", 3L)
        require(m3.extra.get("mode").contains("merge") &&
          SnapshotTable.posDvRefs(m3).nonEmpty,
          "UPDATE must commit as a position delta (pos sidecar, mode=merge)")
        s.sql(s"""MERGE INTO $cat.o t
                 |USING (SELECT k, 'X-M' AS prio, 0.0 AS price FROM graft_sqlpp_src
                 |       WHERE k % 97 = 0
                 |       UNION ALL
                 |       SELECT k + 100000000, 'X-N', 1.0 FROM graft_sqlpp_src
                 |       WHERE k % 101 = 0) s
                 |ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET t.prio = s.prio, t.price = s.price
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        // k % 13 = 5 is NOT pushed-Filter-expressible: canDeleteWhere
        // declines, the row-level plan engages, and the position-delta
        // operation turns the would-be CoW rewrite into O(batch)
        s.sql(s"DELETE FROM $cat.o WHERE k % 13 = 5")
        val head = SnapshotTable.manifest(s"$wh/o", 5L)
        require(dataBefore.subsetOf(head.files.map(_.path).toSet),
          "three row-level DML commits must rewrite ZERO original data files")
        require(SnapshotTable.posDvRefs(head).size >= 3,
          "each DML commit stacks its own position sidecar(s)")
        def agg(sql: String, arm: String) =
          s.sql(sql).groupBy("prio")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
            .select("arm", "prio", "n_orders", "sum_price")
        val post = agg(s"SELECT * FROM $cat.o", "post")
        val pre = agg(s"SELECT * FROM $cat.o VERSION AS OF 2", "pre")
        s.sql(s"CALL $cat.system.compact('o', ${128L << 20})")
        require(SnapshotTable.posDvRefs(SnapshotTable
          .manifest(s"$wh/o", SnapshotTable.currentVersion(s"$wh/o"))).isEmpty,
          "CALL compact must materialize and drop the position state")
        val pc = agg(s"SELECT * FROM $cat.o", "postcompact")
        post.unionByName(pre).unionByName(pc).orderBy("arm", "prio")
      },
      Some("""WITH cut AS (SELECT MAX(o_orderkey) // 2 AS c FROM orders),
             |updated AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
             |  o_totalprice + (CASE WHEN o_orderkey <= (SELECT c FROM cut)
             |                       THEN 100.0 ELSE 0.0 END) AS price FROM orders),
             |merged AS (
             |  SELECT k, CASE WHEN k % 97 = 0 THEN 'X-M' ELSE prio END AS prio,
             |         CASE WHEN k % 97 = 0 THEN 0.0 ELSE price END AS price
             |  FROM updated
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, 'X-N', 1.0 FROM orders
             |  WHERE o_orderkey % 101 = 0),
             |fin AS (SELECT * FROM merged WHERE k % 13 <> 5)
             |SELECT 'post' AS arm, prio, COUNT(*)::BIGINT AS n_orders,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM fin GROUP BY 2
             |UNION ALL SELECT 'postcompact', prio, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) FROM fin GROUP BY 2
             |UNION ALL SELECT 'pre', o_orderpriority, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders GROUP BY 2
             |ORDER BY arm, prio""".stripMargin)
    ),
    Q(
      "src_snapshot_cdf_positions",
      // CHANGE FEED ACROSS POSITION-DELTA COMMITS (the r16 verdict's
      // #3): physical-ordinal deletes are row-wise unattributable after
      // the fact, so each position-recording commit (deletePositions /
      // SQL position-delta DML) now captures its delete PRE-IMAGES at
      // WRITE time — one O(touched files) pass while the ordinals still
      // address the rows, persisted as a per-commit change sidecar —
      // and `changeFeedIncremental` serves them at O(delta) where it
      // previously refused to the O(table) state diff. Capture is a
      // DECLARED cost (TBLPROPERTIES('changeCapture'='preimages') —
      // Delta's enableChangeDataFeed posture): a retention-delete
      // table that never reads a feed pays nothing, and the feed's
      // refusal on a capture-less commit names the property (pinned in
      // Round48Spec with mid-life enablement). REQUIREd here: both
      // DML commits record the capture, the feed's classification is
      // exact (update pre/post pairs for UPDATE, pre-images for the
      // row-level DELETE), and the state-based changeFeed agrees
      // commit-by-commit (exceptAll empty both ways — the cross-check
      // the capture must never drift from). The oracle replays the
      // mutations relationally and reproduces the exact pre-image
      // aggregates; Round48Spec also pins vacuum retaining captures.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_cdfp_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftcf_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.o (k BIGINT NOT NULL, price DOUBLE) " +
          "TBLPROPERTIES('statsColumns'='k','deleteMode'='positions'," +
          "'changeCapture'='preimages')")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
          .repartitionByRange(4, col("k")).sortWithinPartitions("k")
          .createOrReplaceTempView("graft_cdfp_src")
        s.sql(s"INSERT INTO $cat.o SELECT * FROM graft_cdfp_src")
        val cut = Tables(s, dir).orders.agg(max("o_orderkey"))
          .collect()(0).getLong(0) / 2
        s.sql(s"UPDATE $cat.o SET price = price + 100.0 WHERE k <= $cut")
        s.sql(s"DELETE FROM $cat.o WHERE k % 13 = 5")
        val table = s"$wh/o"
        require(SnapshotTable.manifest(table, 3L).extra.contains("changepre") &&
          SnapshotTable.manifest(table, 4L).extra.contains("changepre"),
          "each position-delta commit must record its write-time capture")
        locally {
          // both feeds feed BOTH exceptAll arms: truncate each once so
          // the cross-check costs two tiny diffs, not two full
          // recomputations of each feed (r18 — REQUIRE unchanged)
          val inc = graft.GraftCache.truncate(SnapshotTable
            .changeFeedIncremental(s, table, 2L, 3L, "k")
            .drop("_commit_version"))
          val st = graft.GraftCache.truncate(
            SnapshotTable.changeFeed(s, table, 2L, 3L, "k"))
          require(inc.exceptAll(st).isEmpty && st.exceptAll(inc).isEmpty,
            "state feed and incremental feed must agree at the UPDATE commit " +
              "(Round48Spec cross-checks every commit shape)")
        }
        SnapshotTable.changeFeedIncremental(s, table, 2L, 4L, "k")
          .groupBy("_commit_version", "_change_type")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("_commit_version", "_change_type")
      },
      Some("""WITH cut AS (SELECT MAX(o_orderkey) // 2 AS c FROM orders),
             |upd AS (SELECT o_orderkey AS k, o_totalprice AS price FROM orders
             |        WHERE o_orderkey <= (SELECT c FROM cut)),
             |updated AS (SELECT o_orderkey AS k,
             |  o_totalprice + (CASE WHEN o_orderkey <= (SELECT c FROM cut)
             |                       THEN 100.0 ELSE 0.0 END) AS price FROM orders),
             |del AS (SELECT * FROM updated WHERE k % 13 = 5)
             |SELECT 3::BIGINT AS _commit_version, 'update_postimage' AS _change_type,
             |  COUNT(*)::BIGINT AS n_rows,
             |  CAST(SUM(CAST(price + 100.0 AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM upd
             |UNION ALL SELECT 3, 'update_preimage', COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) FROM upd
             |UNION ALL SELECT 4, 'delete', COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) FROM del
             |ORDER BY _commit_version, _change_type""".stripMargin)
    ),
    Q(
      "src_snapshot_compact_partial",
      // SELECTIVE COMPACTION (Iceberg's filtered rewrite_data_files —
      // `CALL compact_fragmented`): the scheduled maintenance shape at
      // 100 TB. A streaming-append day fragments TODAY's periods while
      // a year of cold periods sits at one file each; the full rewrite
      // pays the year, this pays today. Fixture: a days(ts) table where
      // two hot days take three fragmenting INSERTs each and two cold
      // days one — REQUIREd after the pass: ONLY the fragmented groups
      // rewrote (the cold days' files carried BYTE-IDENTICAL, path
      // equality), every group back to one file, a one-day read plans
      // ONE partition, mode=merge (a partial rewrite, so incremental
      // readers refuse across it — honest), and a second pass is a
      // NO-OP (nothing fragmented, no commit). The trickle-positions
      // epoch (the r16 verdict's #2) runs BEFORE the pass: one
      // position-delete batch names a HOT file and a COLD file; the
      // rewrite reads position-applied (true `_metadata.row_index`
      // ordinals), materializes the hot row's delete, and SPLITS the
      // sidecar — the cold row re-lands as one consolidated ref whose
      // range tags exactly the cold file (REQUIREd), still applied
      // reader-side after the pass (row identity REQUIREd against the
      // pre-compaction state). Round46Spec pins the eq-DV interplay
      // (subset reads DV-applied, chain carried for the untouched
      // files, nothing double-applies), the fully-consumed-sidecar
      // drop, the mixed-generation refusal, and the compound arm.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_cprt_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftcp_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, k BIGINT, price DOUBLE) " +
          "PARTITIONED BY (days(ts))")
        val T0 = 1704067200000000L
        val H = 3600000000L
        // days 0..3 by k%4; hot days 1 and 2 fragment across 3 inserts
        val src = Tables(s, dir).orders.select(
          expr(s"timestamp_micros(CAST($T0 + (o_orderkey % 4) * 24 * $H AS BIGINT))")
            .as("ts"),
          col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        src.filter(col("k") % 4 === 0 || col("k") % 4 === 3)
          .createOrReplaceTempView("graft_cprt_cold")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_cprt_cold")
        (0 until 3).foreach { i =>
          src.filter((col("k") % 4 === 1 || col("k") % 4 === 2) && col("k") % 3 === i)
            .createOrReplaceTempView(s"graft_cprt_hot$i")
          s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_cprt_hot$i")
        }
        val table = s"$wh/t"
        // trickle-positions epoch: one batch killing the smallest hot-
        // day-1 key and the smallest cold-day-0 key by physical ordinal
        val k1 = src.filter(col("k") % 4 === 1).agg(min("k")).collect()(0).getLong(0)
        val k0 = src.filter(col("k") % 4 === 0).agg(min("k")).collect()(0).getLong(0)
        SnapshotTable.deletePositions(
          s.table(s"$cat.t").where(col("k").isin(k0, k1)).select("_file", "_pos"),
          table)
        val before = SnapshotTable.manifest(table, 6L)
        require(SnapshotTable.posDvRefs(before).size == 1, "one trickle sidecar")
        val preRows = s.table(s"$cat.t").count()
        // __tpart stamps are day ORDINALS: cold days 0 and 3
        val d0 = T0 / (24L * H)
        val coldPaths = before.files
          .filter(f => f.stats(SnapshotTable.TemporalStat)._1 == d0 ||
            f.stats(SnapshotTable.TemporalStat)._1 == d0 + 3)
          .map(_.path).toSet
        require(coldPaths.size == 2, s"2 cold-day files, got ${coldPaths.size}")
        val coldDay0 = before.files
          .find(_.stats(SnapshotTable.TemporalStat)._1 == d0).get.path
        require(before.files.size > 4, "the hot days must be fragmented")
        val (groups, files, v) = SnapshotTable.compactFragmented(s, table)
        require(groups == 2 && files == before.files.size - 2,
          s"exactly the two HOT days rewrite, got groups=$groups files=$files")
        val m = SnapshotTable.manifest(table, v)
        require(m.extra.get("mode").contains("merge"))
        require(coldPaths.subsetOf(m.files.map(_.path).toSet),
          "cold days' files must ride byte-identical (path equality)")
        require(m.files.size == 4, "one file per day after the pass")
        // the sidecar SPLIT around the rewrite: the hot row's delete
        // materialized, the cold row re-landed as one consolidated ref
        // range-tagged to exactly the cold day-0 file, still applied
        val refsAfter = SnapshotTable.posDvRefs(m)
        require(refsAfter.size == 1 && refsAfter.head.count == 1L &&
          refsAfter.head.range.contains((coldDay0, coldDay0)),
          s"want one consolidated single-row ref on the cold file, got $refsAfter")
        require(s.table(s"$cat.t").count() == preRows,
          "row identity must match the pre-compaction state exactly")
        val (g2, f2, v2) = SnapshotTable.compactFragmented(s, table)
        require(g2 == 0 && f2 == 0 && v2 == v, "a clean table is a NO-OP")
        // a one-day read plans ONE partition
        val day1 = s.table(s"$cat.t")
          .where(col("ts") >= expr(s"timestamp_micros(${T0 + 24L * H})") &&
            col("ts") < expr(s"timestamp_micros(${T0 + 48L * H})"))
        day1.collect()
        val planned = graft.Stage.plannedFiles(day1.queryExecution.executedPlan)
        require(planned == 1, s"a one-day read plans ONE file, got $planned")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm)).select("arm", "n_rows", "sum_price")
        agg(s.table(s"$cat.t"), "all").unionByName(agg(day1, "day1")).orderBy("arm")
      },
      Some("""WITH t AS (SELECT o_orderkey % 4 AS d, o_totalprice AS price FROM orders
             |  WHERE o_orderkey <>
             |    (SELECT MIN(o_orderkey) FROM orders WHERE o_orderkey % 4 = 1)
             |  AND o_orderkey <>
             |    (SELECT MIN(o_orderkey) FROM orders WHERE o_orderkey % 4 = 0))
             |SELECT 'all' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price FROM t
             |UNION ALL
             |SELECT 'day1', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE)
             |FROM t WHERE d = 1
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_tags",
      // NAMED IMMUTABLE REFS (Iceberg tags) + MoR observability: `CALL
      // create_tag('t','audit-q1')` pins a snapshot under a name that
      // (a) resolves from SQL — `VERSION AS OF 'audit-q1'` (non-numeric
      // version strings resolve as tags), and (b) PINS RETENTION —
      // vacuum keep-last-N and age-based expiry both keep tagged
      // manifests and (through the reference walk) their files, the
      // reproducibility contract a training run's data snapshot signs.
      // REQUIREd: after vacuum(retain_last=1) the untagged v1 is gone
      // (time travel refuses) while the tagged v2 still serves its
      // exact rows. The `deletes` metadata table then exposes the
      // outstanding MoR state (both formats, counts + ranges) and
      // `tags` the ref table — the "should I compact or consolidate"
      // dashboard at manifest cost. Arms: tagged/head aggregates + the
      // meta tables' deterministic projections.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_tags_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftg_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, price DOUBLE) " +
          "TBLPROPERTIES('statsColumns'='k')")
        val src = Tables(s, dir).orders.select(
          col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        src.filter(col("k") % 2 === 0).createOrReplaceTempView("graft_tags_a")
        src.filter(col("k") % 2 === 1).createOrReplaceTempView("graft_tags_b")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_tags_a")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_tags_b")
        val table = s"$wh/t"
        s.sql(s"CALL $cat.system.create_tag('t', 'audit-v2', 2)")
        // keep-last-1 retention: the tag pins v2, the untagged v1 goes
        SnapshotTable.vacuum(table, retainLast = 1)
        require(scala.util.Try(SnapshotTable.manifest(table, 1L)).isFailure,
          "the untagged v1 must expire under keep-last-1")
        require(scala.util.Try(SnapshotTable.manifest(table, 2L)).isSuccess,
          "the TAGGED v2 must survive any retention")
        // outstanding MoR state, both formats, for the deletes table —
        // positions FIRST (their provenance scan needs a DV-free table;
        // the reverse order is the documented refusal)
        SnapshotTable.deletePositions(
          s.table(s"$cat.t").where(col("k") % 10 === 7).select("_file", "_pos"),
          table)
        SnapshotTable.deleteKeys(
          s.table(s"$cat.t").where(col("k") % 10 === 3).select("k"), table, "k")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm)).select("arm", "n_rows", "sum_price")
        val tagged = agg(s.sql(s"SELECT * FROM $cat.t VERSION AS OF 'audit-v2'"),
          "tagged")
        val head = agg(s.table(s"$cat.t"), "head")
        val meta = s.table(s"$cat.t.deletes")
          .groupBy(concat(lit("mor_"), col("kind")).as("arm"))
          .agg(sum(col("n_rows")).as("n_rows"),
            lit(0.0).cast("double").as("sum_price"))
          .select("arm", "n_rows", "sum_price")
        val tags = s.table(s"$cat.t.tags")
          .select(concat(lit("tag_"), col("name")).as("arm"),
            col("version").as("n_rows"), lit(0.0).cast("double").as("sum_price"))
        tagged.unionByName(head).unionByName(meta).unionByName(tags)
          .orderBy("arm")
      },
      Some("""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS price FROM orders)
             |SELECT 'head' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM t WHERE k % 10 NOT IN (3, 7)
             |UNION ALL
             |SELECT 'mor_equality', COUNT(*)::BIGINT, 0.0
             |FROM t WHERE k % 10 = 3
             |UNION ALL
             |SELECT 'mor_position', COUNT(*)::BIGINT, 0.0
             |FROM t WHERE k % 10 = 7
             |UNION ALL
             |SELECT 'tag_audit-v2', 2::BIGINT, 0.0
             |UNION ALL
             |SELECT 'tagged', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE)
             |FROM t WHERE k % 2 = 0
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_expire",
      // AGE-BASED SNAPSHOT EXPIRY (Iceberg's expire_snapshots(older_than)
      // beside vacuum's keep-last-N — the retention contract production
      // tables actually sign): resolution is by the SAME logical commit
      // stamps readAsOf / TIMESTAMP AS OF use, the head always
      // survives, stampless commits are kept (age unprovable — decline,
      // don't guess), and the reclamation walk deletes only what NO
      // surviving manifest (main or branch) references — so v1's files,
      // carried forward by the append chain, REQUIREd to survive its
      // expiry, while time travel to the expired version now refuses
      // ("not published", REQUIREd and emitted as the 'expired_refused'
      // arm). Retained arms ('v2', 'head') must serve unchanged — the
      // oracle states them relationally. Round24Spec pins the
      // overwrite-chain reclamation, the in-flight-writer rule, the
      // stampless decline, and the CALL surface.
      (s, dir) => {
        val table = graft.Stage.dir("graft_snapexp_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val o = Tables(s, dir).orders
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        for ((m, ts) <- Seq((0, 100L), (1, 200L), (2, 300L)))
          SnapshotTable.commit(
            o.filter(col("o_orderkey") % 3 === m), table, append = m > 0,
            extra = Map("ts" -> ts.toString))
        val v1Files = SnapshotTable.manifest(table, 1L).files.map(_.path)
        val (mDel, _) = SnapshotTable.expireSnapshots(table, olderThan = 150L)
        require(mDel == 1, s"exactly v1 (ts=100) is below the horizon, expired $mDel")
        require(v1Files.forall(p => new java.io.File(p).exists()),
          "files shared with the surviving append chain must survive expiry")
        val refused =
          try { SnapshotTable.read(s, table, Some(1L)).collect(); 0L }
          catch { case e: Throwable if e.getMessage != null &&
            e.getMessage.contains("not published") => 1L }
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.groupBy("o_orderpriority")
            .agg(
              count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
            .select("arm", "o_orderpriority", "n_orders", "sum_price")
        agg(SnapshotTable.read(s, table, Some(2L)), "v2")
          .unionByName(agg(SnapshotTable.read(s, table), "head"))
          .unionByName(s.range(1).select(
            lit("expired_refused").as("arm"), lit("-").as("o_orderpriority"),
            lit(refused).as("n_orders"), lit(0.0).as("sum_price")))
          .orderBy("arm", "o_orderpriority")
      },
      Some("""SELECT 'expired_refused' AS arm, '-' AS o_orderpriority,
             |  1::BIGINT AS n_orders, CAST(0.0 AS DOUBLE) AS sum_price
             |UNION ALL
             |SELECT 'head', o_orderpriority, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders GROUP BY 2
             |UNION ALL
             |SELECT 'v2', o_orderpriority, COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 3 <= 1 GROUP BY 2
             |ORDER BY arm, o_orderpriority""".stripMargin)
    ),
    Q(
      "src_snapshot_call_zorder",
      // SQL REACH FOR MULTI-DIMENSIONAL LAYOUT — the r13 verdict's item
      // 3: `CALL compact(zorder_by => 'ck,yr')` routes the transactional
      // rewrite through the Morton interleave (compactZOrder — the
      // machinery src_snapshot_zorder proves, now one CALL away from
      // any SQL user), so a CREATE → INSERT → CALL flow that never
      // leaves SQL ends with per-file stats on BOTH raw dimensions and
      // selective reads on EITHER planning strict file subsets —
      // REQUIREd below against BatchScanExec's planned partitions, the
      // layout property itself, not a proxy. Arms are the two
      // one-dimensional filtered aggregates; the oracle is the plain
      // relational filter of each. Round24Spec pins the refusal arms
      // (dim budget, non-integral column) and row identity.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_callz_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftcz_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.z (k BIGINT, ck BIGINT, yr BIGINT, price DOUBLE) " +
          "TBLPROPERTIES('statsColumns'='ck,yr')")
        Tables(s, dir).orders.select(
          col("o_orderkey").as("k"), col("o_custkey").as("ck"),
          year(col("o_orderdate")).cast("long").as("yr"),
          col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_callz_src")
        s.sql(s"INSERT INTO $cat.z SELECT * FROM graft_callz_src")
        s.sql(s"CALL $cat.system.compact('z', ${4L << 10}, 'ck,yr')")
        val nFiles = SnapshotTable.manifest(s"$wh/z", 3L).fileCount
        require(nFiles >= 4, s"need a multi-file layout to prove pruning, got $nFiles")
        def planned(df: org.apache.spark.sql.DataFrame): Int =
          graft.Stage.plannedFiles(df.queryExecution.sparkPlan)
        val byCk = s.sql(s"SELECT * FROM $cat.z WHERE ck BETWEEN 100 AND 299")
        val byYr = s.sql(s"SELECT * FROM $cat.z WHERE yr = 1995")
        require(planned(byCk) < nFiles && planned(byYr) < nFiles,
          "z-ordered layout must prune selective reads on BOTH dimensions")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_orders"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
            .select("arm", "n_orders", "sum_price")
        agg(byCk, "cust").unionByName(agg(byYr, "year")).orderBy("arm")
      },
      Some("""SELECT 'cust' AS arm, COUNT(*)::BIGINT AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_custkey BETWEEN 100 AND 299
             |UNION ALL
             |SELECT 'year', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE year(o_orderdate) = 1995
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_bucket_spj",
      // HASH-BUCKET LAYOUT AT CREATE TABLE — `PARTITIONED BY
      // (bucket(16, ck))` (the Iceberg bucket-transform shape on
      // Spark's V2 FunctionCatalog machinery; GraftBucket.scala): the
      // INSERT's required distribution routes rows through the
      // catalog-served bucket function, the rolling writer cuts ONE
      // file per bucket and stamps it into the manifest (__bucket
      // min==max — REQUIREd below for every file), the scans report
      // KeyGroupedPartitioning(bucket(16, ck)), and the fact-fact join
      // of the two co-bucketed tables executes with ZERO exchanges
      // (REQUIREd against the post-AQE executed plan, broadcast
      // disabled — the layout a 100 TB fact⋈fact equi-join needs).
      // The point lookup `ck = 371` REQUIREs a strict file subset:
      // only bucket(371)'s files plan (the distributed re-expression
      // of the reference's per-table id hash indexes,
      // src/database/mod.rs:61). Round25Spec pins refusals (NULL
      // keys, unsupported transforms, maintenance on bucketed
      // layouts) and unstamped-file degradation beside this.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_bspj_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftbk_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.c (ck BIGINT NOT NULL, acct DOUBLE) " +
          "PARTITIONED BY (bucket(16, ck)) TBLPROPERTIES('statsColumns'='ck')")
        s.sql(s"CREATE TABLE $cat.o (ok BIGINT, ck BIGINT NOT NULL, price DOUBLE) " +
          "PARTITIONED BY (bucket(16, ck))")
        Tables(s, dir).customer
          .select(col("c_custkey").as("ck"), col("c_acctbal").as("acct"))
          .createOrReplaceTempView("graft_bspj_c")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_bspj_o")
        s.sql(s"INSERT INTO $cat.c SELECT * FROM graft_bspj_c")
        s.sql(s"INSERT INTO $cat.o SELECT * FROM graft_bspj_o")
        Seq("c", "o").foreach { t =>
          val m = SnapshotTable.manifest(s"$wh/$t", 2L)
          require(m.files.nonEmpty && m.files.forall(
            _.stats.get(SnapshotTable.BucketStat).exists { case (lo, hi) => lo == hi }),
            s"every $t data file must carry its one-bucket stamp")
        }
        // storage-partitioned join: zero exchanges on the executed plan
        val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.sql(s"SELECT c.ck, o.price FROM $cat.c c JOIN $cat.o o ON c.ck = o.ck")
          j.count() // materialize the AQE-final plan
          val shuffles = graft.Stage.shuffleCount(j)
          require(shuffles == 0,
            s"co-bucketed SPJ must plan zero exchanges, got $shuffles")
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        // point lookup prunes to bucket(371)'s files only
        val eq = s.sql(s"SELECT * FROM $cat.o WHERE ck = 371")
        val planned = graft.Stage.plannedFiles(eq.queryExecution.sparkPlan)
        val total = SnapshotTable.manifest(s"$wh/o", 2L).fileCount
        require(planned < total,
          s"bucket equality pruning must plan a strict file subset ($planned/$total)")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
            .select("arm", "n_rows", "sum_price")
        agg(s.sql(s"SELECT o.price FROM $cat.c c JOIN $cat.o o ON c.ck = o.ck"), "join")
          .unionByName(agg(eq, "eq"))
          .orderBy("arm")
      },
      Some("""SELECT 'eq' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_custkey = 371
             |UNION ALL
             |SELECT 'join', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_cdf_incremental",
      // INCREMENTAL CHANGE FEED (Delta's table_changes, the r14
      // deferred item): per-commit row-level changes computed from each
      // commit's FILE/DV DELTA at O(touched files) — an append commit
      // short-circuits to "added files are the inserts" (no join), a
      // merge-on-read commit feeds from its DV sidecars + post-image
      // files + the key-range-HIT slice of carried files (REQUIREd
      // below: the narrow update window's DV range prunes the carried
      // files to a strict subset by manifest stats — the scan a 100 TB
      // trickle-CDC consumer pays is commit-sized, not table-sized;
      // mergeMoR's zero-rewrite REQUIRE rides too). Arms = (commit,
      // change_type) counts+sums across an append + a MoR upsert
      // commit, then ACROSS an add-at-end schema commit (the r16
      // verdict's #5): a widening append lands a new column, and the
      // feed crosses the boundary serving at the head schema —
      // pre-evolution pre-images NULL-fill the added tail (REQUIREd
      // through n_flag: post-evolution inserts count non-null, the
      // later delete's pre-images count zero), exactly the value those
      // rows hold. The oracle replays everything relationally.
      // Round26Spec pins the single-commit equivalence with the
      // state-based changeFeed, the compaction-commit zero-row
      // property, the carried-file prune (a provably-missed file is
      // physically deleted and the feed still serves), and the
      // refusals; Round48Spec pins the ALTER ADD COLUMNS crossing.
      (s, dir) => {
        val table = graft.Stage.dir("graft_cdfinc_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(table))
        val key = "o_orderkey"
        val o = Tables(s, dir).orders
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        val base = o.filter(col(key) % 3 === 0)
        SnapshotTable.commit(
          base.repartitionByRange(6, col(key)).sortWithinPartitions(key),
          table, append = false, statsColumns = Seq(key))
        SnapshotTable.commit(o.filter(col(key) % 3 === 1), table, append = true)
        // the update window: the bottom fifth of the key space — narrow
        // enough that the DV range provably misses most carried files
        // at EVERY scale factor
        val maxk = o.agg(max(col(key))).collect()(0).getLong(0) / 5
        val upd = base.filter(col(key) % 10 === 3 && col(key) < maxk)
          .withColumn("o_totalprice", col("o_totalprice") + 500.0)
          .withColumn("_del", lit(false))
        val del = base.filter(col(key) % 10 === 7 && col(key) < maxk)
          .withColumn("_del", lit(true))
        val before = SnapshotTable.manifest(table, 2L).files.map(_.path).toSet
        SnapshotTable.mergeMoR(upd.unionByName(del), table, key, deleteCol = Some("_del"))
        val m3 = SnapshotTable.manifest(table, 3L)
        require(before.subsetOf(m3.files.map(_.path).toSet),
          "merge-on-read must rewrite ZERO existing data files")
        // the carried files the commit can touch: those whose recorded
        // key range intersects the DV window — REQUIREd a strict subset
        // (what bounds the feed's pre-image scan at 100 TB)
        val kept = m3.files.filter(f => before(f.path))
        val hit = kept.count(_.stats.get(key).exists {
          case (mn, mx) => mx >= 0L && mn < maxk
        })
        require(hit < kept.size,
          s"the DV key window must prune the carried files ($hit/${kept.size})")
        // the add-at-end boundary: a widening append lands o_flag (v4),
        // then a DV delete of pre-evolution rows (v5) — its pre-images
        // must NULL-fill the added column
        SnapshotTable.commit(
          o.filter(col(key) % 3 === 2)
            .withColumn("o_flag", (col(key) % 2).cast("long")),
          table, append = true)
        SnapshotTable.deleteKeys(
          base.filter(col(key) % 10 === 1 && col(key) < maxk).select(key),
          table, key)
        SnapshotTable.changeFeedIncremental(s, table, 1L, 5L, key)
          .groupBy("_commit_version", "_change_type")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(38,4)")).cast("double").as("sum_price"),
            count(col("o_flag")).as("n_flag"))
          .orderBy("_commit_version", "_change_type")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice
             |  FROM orders WHERE o_orderkey % 3 = 0),
             |ins AS (SELECT * FROM orders WHERE o_orderkey % 3 = 1),
             |ins2 AS (SELECT * FROM orders WHERE o_orderkey % 3 = 2),
             |w AS (SELECT MAX(o_orderkey)//5 AS maxk FROM orders),
             |upd AS (SELECT base.* FROM base, w WHERE o_orderkey % 10 = 3 AND o_orderkey < maxk),
             |del AS (SELECT base.* FROM base, w WHERE o_orderkey % 10 = 7 AND o_orderkey < maxk),
             |del2 AS (SELECT base.* FROM base, w WHERE o_orderkey % 10 = 1 AND o_orderkey < maxk)
             |SELECT 2::BIGINT AS _commit_version, 'insert' AS _change_type,
             |  COUNT(*)::BIGINT AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price,
             |  0::BIGINT AS n_flag
             |FROM ins
             |UNION ALL SELECT 3, 'delete', COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE), 0::BIGINT FROM del
             |UNION ALL SELECT 3, 'update_preimage', COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE), 0::BIGINT FROM upd
             |UNION ALL SELECT 3, 'update_postimage', COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice + 500.0 AS DECIMAL(38,4))) AS DOUBLE), 0::BIGINT FROM upd
             |UNION ALL SELECT 4, 'insert', COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE),
             |  COUNT(*)::BIGINT FROM ins2
             |UNION ALL SELECT 5, 'delete', COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE), 0::BIGINT FROM del2
             |ORDER BY _commit_version, _change_type""".stripMargin)
    ),
    Q(
      "src_snapshot_truncate_spj",
      // TRUNCATE LAYOUT AT CREATE TABLE — `PARTITIONED BY
      // (truncate(2000, ck))`, the ORDER-PRESERVING sibling of bucket
      // (GraftTruncate): floored width-w groups, one per data file
      // (REQUIREd: __trunc min==max stamps), routed through a
      // catalog-served V2 function whose NAME carries the width
      // (truncate_2000 — a literal child can never satisfy Spark's
      // clustering check, Round30Spec documents the trap). The payoff
      // is BOTH join and range behavior on one layout: the equi-join
      // of two co-truncated tables executes with ZERO exchanges
      // (REQUIREd post-AQE, broadcast off), and a range read prunes to
      // a strict file subset from the RAW column's per-file stats,
      // disjoint by the width grouping (REQUIREd) — the layout for a
      // key that is both joined on and range-scanned, where bucket
      // serves only the join. Round30Spec pins algebra, refusals,
      // degrade, and DML layout survival.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_tspj_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "grafttr_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        // width = an eighth of the key space — ~8 groups at EVERY scale
        // factor (a fixed width degenerates to one group at small SF)
        val w = math.max(1L, Tables(s, dir).customer
          .agg(max(col("c_custkey"))).collect()(0).getLong(0) / 8).toInt
        s.sql(s"CREATE TABLE $cat.c (ck BIGINT NOT NULL, acct DOUBLE) " +
          s"PARTITIONED BY (truncate($w, ck))")
        s.sql(s"CREATE TABLE $cat.o (ok BIGINT, ck BIGINT NOT NULL, price DOUBLE) " +
          s"PARTITIONED BY (truncate($w, ck))")
        Tables(s, dir).customer
          .select(col("c_custkey").as("ck"), col("c_acctbal").as("acct"))
          .createOrReplaceTempView("graft_tspj_c")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_tspj_o")
        s.sql(s"INSERT INTO $cat.c SELECT * FROM graft_tspj_c")
        s.sql(s"INSERT INTO $cat.o SELECT * FROM graft_tspj_o")
        Seq("c", "o").foreach { t =>
          val m = SnapshotTable.manifest(s"$wh/$t", 2L)
          require(m.files.nonEmpty && m.files.forall(
            _.stats.get(SnapshotTable.TruncStat).exists { case (lo, hi) => lo == hi }),
            s"every $t data file must carry its one-group stamp")
        }
        val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.sql(s"SELECT c.ck, o.price FROM $cat.c c JOIN $cat.o o ON c.ck = o.ck")
          j.count() // materialize the AQE-final plan
          require(graft.Stage.shuffleCount(j) == 0,
            "co-truncated SPJ must plan zero exchanges")
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        // range read prunes from the raw key stats (disjoint by
        // grouping): a window inside roughly one group
        val (rlo, rhi) = (w / 2L, w / 2L + w / 4L)
        val rq = s.sql(s"SELECT * FROM $cat.o WHERE ck BETWEEN $rlo AND $rhi")
        val planned = graft.Stage.plannedFiles(rq.queryExecution.sparkPlan)
        val total = SnapshotTable.manifest(s"$wh/o", 2L).fileCount
        require(planned < total,
          s"the width grouping must prune range reads ($planned/$total)")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
            .select("arm", "n_rows", "sum_price")
        agg(s.sql(s"SELECT o.price FROM $cat.c c JOIN $cat.o o ON c.ck = o.ck"), "join")
          .unionByName(agg(rq, "range"))
          .orderBy("arm")
      },
      Some("""SELECT 'join' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |UNION ALL
             |SELECT 'range', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders, (SELECT GREATEST(MAX(c_custkey)//8, 1) AS w FROM customer) ww
             |WHERE o_custkey BETWEEN ww.w//2 AND ww.w//2 + ww.w//4
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_changes_table",
      // THE CHANGES TABLE — table_changes addressable through the
      // catalog (`spark.read.option("fromVersion", v).table("g.t
      // .changes")`, Iceberg's cat.t.changes shape; SnapshotChanges
      // .scala): the same per-commit incremental feed
      // src_snapshot_cdf_incremental proves, now reachable without the
      // API — and streamable (`spark.readStream.table("g.t.changes")`:
      // attach-time state as inserts, then per-commit increments,
      // offsets = versions in Spark's checkpointed WAL; Round28Spec
      // pins the streaming arm, the key/fromVersion refusals, and
      // real-table-wins-name precedence). The chain here is pure SQL:
      // INSERT (v2), merge-on-read UPDATE (v3 — REQUIREd to rewrite
      // zero data files), merge-on-read DELETE (v4); the arms are
      // (commit, change class) aggregates, the oracle replays them
      // relationally.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_chtbl_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftch_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, pri STRING, price DOUBLE) " +
          "TBLPROPERTIES('morKey'='k', 'statsColumns'='k')")
        Tables(s, dir).orders
          .filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_chtbl_src")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_chtbl_src")
        val before = SnapshotTable.manifest(s"$wh/t", 2L).files.map(_.path).toSet
        s.sql(s"UPDATE $cat.t SET price = price + 500.0 WHERE k % 10 = 3")
        require(before.subsetOf(
          SnapshotTable.manifest(s"$wh/t", 3L).files.map(_.path).toSet),
          "the MoR UPDATE must rewrite ZERO existing data files")
        s.sql(s"DELETE FROM $cat.t WHERE k % 10 = 7")
        s.read.option("fromVersion", "2").table(s"$cat.t.changes")
          .groupBy("_commit_version", "_change_type")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("_commit_version", "_change_type")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price
             |  FROM orders WHERE o_orderkey % 3 = 0),
             |upd AS (SELECT * FROM base WHERE k % 10 = 3),
             |del AS (SELECT * FROM base WHERE k % 10 = 7)
             |SELECT 3::BIGINT AS _commit_version, 'update_preimage' AS _change_type,
             |  COUNT(*)::BIGINT AS n_rows,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM upd
             |UNION ALL SELECT 3, 'update_postimage', COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(price + 500.0 AS DECIMAL(38,4))) AS DOUBLE) FROM upd
             |UNION ALL SELECT 4, 'delete', COUNT(*)::BIGINT,
             |  CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) FROM del
             |ORDER BY _commit_version, _change_type""".stripMargin)
    ),
    Q(
      "src_snapshot_sql_clustered",
      // IDENTITY CLUSTERING FROM SQL — `PARTITIONED BY (nk)` records
      // the same layout declaration as the API commit(clusterBy): the
      // INSERT routes and sorts by the key (RequiresDistributionAnd-
      // Ordering), the rolling writer cuts one file per key value
      // (REQUIREd: min==max on every file), and two co-clustered
      // tables sort-merge-join with ZERO exchange AND ZERO sort on the
      // executed plan (each partition holds one key, so the reported
      // per-partition ordering satisfies the SMJ) — the full
      // rel_join_bucketed property, now declared and consumed without
      // leaving SQL. The arms are the per-nation join aggregate and a
      // one-nation point read REQUIREd to plan exactly one partition.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sqlclu_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftcl_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.c (ck BIGINT, nk BIGINT NOT NULL, acct DOUBLE) " +
          "PARTITIONED BY (nk)")
        s.sql(s"CREATE TABLE $cat.s (sk BIGINT, nk BIGINT NOT NULL, sacct DOUBLE) " +
          "PARTITIONED BY (nk)")
        Tables(s, dir).customer
          .select(col("c_custkey").as("ck"), col("c_nationkey").as("nk"),
            col("c_acctbal").as("acct"))
          .createOrReplaceTempView("graft_sqlclu_c")
        Tables(s, dir).supplier
          .select(col("s_suppkey").as("sk"), col("s_nationkey").as("nk"),
            col("s_acctbal").as("sacct"))
          .createOrReplaceTempView("graft_sqlclu_s")
        s.sql(s"INSERT INTO $cat.c SELECT * FROM graft_sqlclu_c")
        s.sql(s"INSERT INTO $cat.s SELECT * FROM graft_sqlclu_s")
        Seq("c", "s").foreach { t =>
          val m = SnapshotTable.manifest(s"$wh/$t", 2L)
          require(m.files.nonEmpty && m.files.forall(
            _.stats.get("nk").exists { case (lo, hi) => lo == hi }),
            s"every $t data file must hold exactly one nation key")
        }
        val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.table(s"$cat.c")
            .join(s.table(s"$cat.s").hint("merge"), Seq("nk"))
          j.count() // materialize the AQE-final plan
          require(graft.Stage.shuffleCount(j) == 0,
            "co-clustered SQL tables must SPJ with zero exchanges")
          require(graft.Stage.sortCount(j) == 0,
            "one key per partition: the reported ordering must kill the SMJ sorts")
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        val one = s.sql(s"SELECT * FROM $cat.c WHERE nk = 7")
        val planned = graft.Stage.plannedFiles(one.queryExecution.sparkPlan)
        require(planned == 1, s"a one-key read of a clustered table plans ONE " +
          s"partition, got $planned")
        s.table(s"$cat.c").join(s.table(s"$cat.s"), Seq("nk"))
          .groupBy("nk")
          .agg(
            count(lit(1)).as("n_pairs"),
            sum((col("acct") + col("sacct")).cast("decimal(38,4)")).cast("double")
              .as("sum_acct"))
          .orderBy("nk")
      },
      Some("""SELECT c_nationkey::BIGINT AS nk, COUNT(*)::BIGINT AS n_pairs,
             |CAST(SUM(CAST(c_acctbal + s_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS sum_acct
             |FROM customer JOIN supplier ON c_nationkey = s_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_days_spj",
      // TEMPORAL PARTITION TRANSFORM AT CREATE TABLE — `PARTITIONED BY
      // (days(ts))` (the Iceberg hidden-partitioning family on the
      // same catalog-served V2 function machinery as bucket/truncate;
      // GraftTemporal.scala): the INSERT's required distribution
      // routes rows through the catalog-served `days` function (UTC
      // floored epoch-day — literal-free, so SPJ's clustering check
      // matches it), the rolling writer cuts ONE period per file and
      // stamps it (__tpart min==max — REQUIREd for every file, >1
      // distinct period REQUIREd so the pins aren't vacuous), and the
      // equi-join of two co-partitioned event tables on the RAW
      // timestamp executes with ZERO exchanges (REQUIREd post-AQE,
      // broadcast off). The date-range read REQUIREs a strict file
      // subset planned from the raw timestamp's manifest stats (epoch
      // micros end to end — the writers fold the physical value,
      // ManifestPruning converts the pushed literals), disjoint by the
      // period grouping: the first DDL an event table migrating from
      // Iceberg/Delta writes, at 100 TB the layout every time-sliced
      // dashboard read prunes by. Round31Spec pins the unit algebra,
      // refusals (non-timestamp keys, NULL keys, reserved stamp name),
      // unstamped degrade, and months/hours grouping.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_dspj_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftdy_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.a (ts TIMESTAMP NOT NULL, value DOUBLE) " +
          "PARTITIONED BY (days(ts))")
        s.sql(s"CREATE TABLE $cat.b (ts TIMESTAMP NOT NULL, value DOUBLE) " +
          "PARTITIONED BY (days(ts))")
        val ev = Tables(s, dir).events
        ev.filter(col("event_id") % 2 === 0).select("ts", "value")
          .createOrReplaceTempView("graft_dspj_a")
        ev.filter(col("event_id") % 3 === 0).select("ts", "value")
          .createOrReplaceTempView("graft_dspj_b")
        s.sql(s"INSERT INTO $cat.a SELECT * FROM graft_dspj_a")
        s.sql(s"INSERT INTO $cat.b SELECT * FROM graft_dspj_b")
        Seq("a", "b").foreach { t =>
          val m = SnapshotTable.manifest(s"$wh/$t", 2L)
          require(m.files.nonEmpty && m.files.forall(
            _.stats.get(SnapshotTable.TemporalStat).exists { case (lo, hi) => lo == hi }),
            s"every $t data file must carry its one-period stamp")
          require(m.files.flatMap(_.stats.get(SnapshotTable.TemporalStat))
            .map(_._1).distinct.size > 1,
            s"$t must span multiple day periods or the layout pins are vacuous")
        }
        // storage-partitioned join on the RAW timestamp: zero exchanges
        val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.sql(s"SELECT a.value FROM $cat.a a JOIN $cat.b b ON a.ts = b.ts")
          j.count() // materialize the AQE-final plan
          require(graft.Stage.shuffleCount(j) == 0,
            "co-day-partitioned SPJ must plan zero exchanges")
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        // date-range read prunes from the raw timestamp's micros stats
        // (disjoint by the period grouping): the middle sixth of the span
        val bnd = ev.agg(
          min(unix_micros(col("ts"))).as("mn"),
          max(unix_micros(col("ts"))).as("mx")).collect()(0)
        val (mn, mx) = (bnd.getLong(0), bnd.getLong(1))
        val (rlo, rhi) = (mn + (mx - mn) / 3, mn + (mx - mn) / 2)
        val rq = s.sql(s"SELECT * FROM $cat.a WHERE ts BETWEEN " +
          s"timestamp_micros(${rlo}L) AND timestamp_micros(${rhi}L)")
        val planned = graft.Stage.plannedFiles(rq.queryExecution.sparkPlan)
        val total = SnapshotTable.manifest(s"$wh/a", 2L).fileCount
        require(planned < total,
          s"the period grouping must prune date-range reads ($planned/$total)")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String, v: Column) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(v.cast("decimal(38,4)")).cast("double").as("sum_v"))
            .withColumn("arm", lit(arm))
            .select("arm", "n_rows", "sum_v")
        val joined = s.sql(
          s"SELECT a.value av, b.value bv FROM $cat.a a JOIN $cat.b b ON a.ts = b.ts")
        agg(joined, "join", col("av") + col("bv"))
          .unionByName(agg(rq, "range", col("value")))
          .orderBy("arm")
      },
      Some("""WITH a AS (SELECT ts, value FROM events WHERE event_id % 2 = 0),
             |b AS (SELECT ts, value FROM events WHERE event_id % 3 = 0),
             |bnd AS (SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events)
             |SELECT 'join' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(a.value + b.value AS DECIMAL(38,4))) AS DOUBLE) AS sum_v
             |FROM a JOIN b ON a.ts = b.ts
             |UNION ALL
             |SELECT 'range', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE)
             |FROM a, bnd
             |WHERE epoch_us(ts) BETWEEN mn + (mx - mn)//3 AND mn + (mx - mn)//2
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_bucket_compact",
      // LAYOUT-PRESERVING COMPACTION (the r14 verdict's operational
      // hole): a streaming-append bucketed fact accumulates small
      // files forever — three INSERTs fragment every bucket here
      // (REQUIREd: more files than buckets) — and the old blanket
      // refusal left no maintenance path. compactSnapshot now routes
      // transform layouts through a per-GROUP rewrite: rows re-group
      // by the exact write-path transform (Catalyst hash() IS the
      // writer's seed-42 Murmur3), rewrite task-side through the SAME
      // rolling stamping writers as INSERT, and publish pinned at
      // parent+1. REQUIREd after the compact: files consolidated to
      // ≤ bucket count, EVERY file re-stamped (__bucket min==max),
      // the co-bucketed fact⋈fact join still ZERO exchanges post-AQE
      // (the property the refusal used to protect, now maintained),
      // equality reads still prune to a strict subset, and vacuum
      // actually reclaims the fragmented generation (REQUIREd > 0
      // files deleted) — the full day-2 lifecycle a 100 TB bucketed
      // table runs on schedule. Round32Spec pins the temporal/truncate
      // arms, DV materialization through the rewrite, and the
      // months-across-year calendar agreement.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_bcmp_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftbc_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.o (ok BIGINT, ck BIGINT NOT NULL, price DOUBLE) " +
          "PARTITIONED BY (bucket(8, ck)) TBLPROPERTIES('statsColumns'='ck')")
        s.sql(s"CREATE TABLE $cat.c (ck BIGINT NOT NULL, acct DOUBLE) " +
          "PARTITIONED BY (bucket(8, ck))")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_bcmp_o")
        Tables(s, dir).customer
          .select(col("c_custkey").as("ck"), col("c_acctbal").as("acct"))
          .createOrReplaceTempView("graft_bcmp_c")
        // three streaming-shaped appends: every bucket fragments
        for (r <- 0 to 2)
          s.sql(s"INSERT INTO $cat.o SELECT * FROM graft_bcmp_o WHERE ok % 3 = $r")
        s.sql(s"INSERT INTO $cat.c SELECT * FROM graft_bcmp_c")
        val table = s"$wh/o"
        val frag = SnapshotTable.manifest(table, 4L)
        require(frag.files.size > 8,
          s"three appends must fragment the 8 buckets (${frag.files.size} files)")
        val (before, v) = SnapshotTable.compactSnapshot(s, table)
        val m = SnapshotTable.manifest(table, v)
        require(before == frag.files.size && m.files.size <= 8 && m.files.nonEmpty,
          s"per-group rewrite must consolidate to <= 8 files (${m.files.size})")
        require(m.files.forall(
          _.stats.get(SnapshotTable.BucketStat).exists { case (lo, hi) => lo == hi }),
          "every compacted file must keep its one-bucket stamp")
        // the fragmented generation actually reclaims
        val (_, reclaimed) = SnapshotTable.vacuum(table, retainLast = 1)
        require(reclaimed > 0, "vacuum must reclaim the fragmented files")
        val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.sql(s"SELECT o.price FROM $cat.o o JOIN $cat.c c ON o.ck = c.ck")
          j.count() // materialize the AQE-final plan
          require(graft.Stage.shuffleCount(j) == 0,
            "the compacted layout must still SPJ with zero exchanges")
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        val eq = s.sql(s"SELECT * FROM $cat.o WHERE ck = 371")
        val planned = graft.Stage.plannedFiles(eq.queryExecution.sparkPlan)
        require(planned < m.files.size,
          s"bucket pruning must survive the compact ($planned/${m.files.size})")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
            .select("arm", "n_rows", "sum_price")
        agg(s.sql(s"SELECT o.price FROM $cat.o o JOIN $cat.c c ON o.ck = c.ck"), "join")
          .unionByName(agg(s.table(s"$cat.o"), "total"))
          .orderBy("arm")
      },
      Some("""SELECT 'join' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |UNION ALL
             |SELECT 'total', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_dv_scoped",
      // MERGE-ON-READ DELETION VECTORS APPLIED PER FILE: nothing loads
      // driver-side. Each data file attaches, from manifest lines alone
      // (DV refs carry seq + key range, files carry seq + key stats),
      // only the sidecars that can hit it; the task loads them into a
      // sorted long array / string hash set, so per-task memory scales
      // with the deletes overlapping ONE file and a trickle-CDC table
      // that can't compact on schedule keeps serving reads. The chain:
      // INSERT → MoR UPDATE (+500 on a window) → MoR DELETE, then the
      // read REQUIREs every pre-chain file to attach a sidecar
      // (structural pin on the scan) while producing the same
      // relational answer the oracle replays. Round33Spec pins the
      // answer against the source, sequence scoping, string keys, and
      // range-bounded loads.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_dvsc_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftds_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, pri STRING, price DOUBLE) " +
          "TBLPROPERTIES('morKey'='k', 'statsColumns'='k')")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_dvsc_src")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_dvsc_src")
        val before = SnapshotTable.manifest(s"$wh/t", 2L).files.map(_.path).toSet
        s.sql(s"UPDATE $cat.t SET price = price + 500.0 WHERE k % 10 = 3")
        s.sql(s"DELETE FROM $cat.t WHERE k % 10 = 7")
        require(before.subsetOf(SnapshotTable.manifest(s"$wh/t",
          SnapshotTable.currentVersion(s"$wh/t")).files.map(_.path).toSet),
          "the MoR chain must rewrite ZERO existing data files")
        val df = s.table(s"$cat.t")
        df.collect()
        val attached = graft.Stage.deleteAttachments(df)
        require(attached >= before.size,
          s"each of the ${before.size} pre-chain files must attach a DV sidecar, got $attached")
        s.table(s"$cat.t")
          .groupBy((col("k") % 10).as("bucket"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("bucket")
      },
      Some("""WITH t AS (SELECT o_orderkey AS k,
             |  CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 500.0
             |       ELSE o_totalprice END AS price
             |  FROM orders WHERE o_orderkey % 10 <> 7)
             |SELECT k % 10 AS bucket, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_pos_delete",
      // POSITION DELETES (Iceberg v2's second delete format, the r14
      // verdict's missing arm): the MoR row-level DELETE for tables
      // with NO natural row key — no morKey declarable, so equality
      // DVs can't address the rows. The flow is the real one: a
      // provenance scan of the V2 metadata columns (`SELECT _file,
      // _pos FROM t WHERE pred` — served at zero extra I/O) feeds
      // `deletePositions`, which records ONE tiny (_file,_pos) sidecar
      // + manifest pointer while touching ZERO data files (REQUIREd:
      // the file set is byte-identical across the delete). The V2
      // reader drops the listed raw ordinals per file (filter pushdown
      // disabled on pos-bearing scans so ordinals never shift; Spark's
      // residual pass re-applies every filter). Arms prove the
      // lifecycle: 'head' = rows gone immediately; 'asof' = VERSION AS
      // OF the pre-delete snapshot still serves them (time-travel
      // soundness); 'compacted' = compactSnapshot materializes the
      // deletes and REQUIREd drops the pos state. Round34Spec pins
      // ordinal-exact application, stale-position refusal, eq-DV
      // composition, subset-reader guards, and vacuum keeping live
      // sidecars.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_pdel_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftpd_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (k BIGINT, pri STRING, price DOUBLE) " +
          "TBLPROPERTIES('statsColumns'='k')")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_pdel_src")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_pdel_src")
        val table = s"$wh/t"
        val before = SnapshotTable.manifest(table, 2L).files.map(_.path)
        // the no-row-key MoR delete: provenance scan -> position sidecar
        SnapshotTable.deletePositions(
          s.table(s"$cat.t").filter(col("k") % 10 === 7).select("_file", "_pos"),
          table)
        val m3 = SnapshotTable.manifest(table, 3L)
        require(m3.files.map(_.path) == before,
          "a position delete must touch ZERO data files")
        require(SnapshotTable.posDvPaths(m3).nonEmpty,
          "the sidecar must ride the manifest")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm))
            .select("arm", "n_rows", "sum_price")
        val head = agg(s.table(s"$cat.t"), "head")
        val asof = agg(s.sql(s"SELECT * FROM $cat.t VERSION AS OF 2"), "asof")
        // 'scoped' arm: each data file attaches only the sidecars whose
        // recorded data-file path range covers it, loaded task-side
        // (zero driver memory). REQUIREd structurally: every file that
        // lost a row attaches, and no file attaches twice (one sidecar).
        val named = s.sql(s"SELECT _file FROM $cat.t VERSION AS OF 2 WHERE k % 10 = 7")
          .distinct().count()
        val scoped = {
          val df = s.table(s"$cat.t")
          df.collect()
          val attached = graft.Stage.deleteAttachments(df)
          require(attached >= named && attached <= m3.files.size,
            s"the position sidecar must attach to the $named files it names and " +
              s"at most once to each of ${m3.files.size}, got $attached")
          agg(df, "scoped")
        }
        // compaction materializes the positions and re-zeros the state
        val (_, v) = SnapshotTable.compactSnapshot(s, table)
        require(SnapshotTable.posDvPaths(SnapshotTable.manifest(table, v)).isEmpty,
          "the overwrite commit must drop the materialized position state")
        val compacted = agg(s.table(s"$cat.t"), "compacted")
        head.unionByName(asof).unionByName(scoped).unionByName(compacted)
          .orderBy("arm")
      },
      Some("""SELECT 'asof' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders
             |UNION ALL
             |SELECT 'compacted', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 10 <> 7
             |UNION ALL
             |SELECT 'head', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 10 <> 7
             |UNION ALL
             |SELECT 'scoped', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_orderkey % 10 <> 7
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_compound_spec",
      // COMPOUND TIME x HASH LAYOUT — `PARTITIONED BY (days(ts),
      // bucket(8, uid))`, the production event-table spec (every
      // Iceberg/Delta fact a user migrates layers time × hash): the
      // INSERT routes and sorts on BOTH transforms (period-major,
      // bucket within period), the rolling writer cuts one (period,
      // bucket) group per file and stamps BOTH (`__tpart` and
      // `__bucket` min==max — REQUIREd on every file, >1 distinct
      // value REQUIREd on each dimension), and the scan serves BOTH
      // access patterns: a date-range read REQUIREs a strict file
      // subset from the raw timestamp's manifest stats (disjoint by
      // the period grouping), a uid point read REQUIREs a strict
      // subset by the bucket stamp, and the join against a plain
      // bucket(8, uid) dimension runs with ZERO exchanges (REQUIREd
      // post-AQE — the bucket dimension owns the reported
      // KeyGroupedPartitioning; periods stay a pruning dimension).
      // Round35Spec pins the combination refusals, compaction
      // preserving both stamps, and the unstamped degrade.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_cspec_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftcs_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        // advisoryPartitionBytes (Iceberg's write.spark.advisory-
        // partition-size-bytes): the compound layout cuts one file per
        // (day, bucket) GROUP per task — ~240 groups here — and AQE's
        // byte-based coalescing would otherwise merge this table's small
        // write shuffle into one task that opens and closes every
        // group's file serially. The table declares write partitions
        // sized for its group geometry (~a few groups per task).
        s.sql(s"CREATE TABLE $cat.e (ts TIMESTAMP NOT NULL, uid BIGINT NOT NULL, " +
          "value DOUBLE) PARTITIONED BY (days(ts), bucket(8, uid)) " +
          "TBLPROPERTIES('advisoryPartitionBytes'='65536')")
        s.sql(s"CREATE TABLE $cat.u (uid BIGINT NOT NULL, n_ev BIGINT) " +
          "PARTITIONED BY (bucket(8, uid))")
        val ev = Tables(s, dir).events
        ev.select(col("ts"), col("user_id").as("uid"), col("value"))
          .createOrReplaceTempView("graft_cspec_e")
        ev.groupBy(col("user_id").as("uid"))
          .agg(count(lit(1)).as("n_ev"))
          .createOrReplaceTempView("graft_cspec_u")
        // the session AQE coalescing floor (1m, the deployment default)
        // CLAMPS the table's 64k advisory, re-serializing the ~240
        // (day, bucket) file cuts into one task (measured r18: 1 task x
        // 4.8 s vs 6 x 0.86 s unclamped). Scope the floor to the
        // declared advisory for THIS write only — per-group file-cut
        // cost is invisible to byte-based coalescing at any scale, so
        // the unclamp is part of the table's declared write geometry,
        // not a harness tune (r19).
        val priorFloor = s.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
        try {
          s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
          s.sql(s"INSERT INTO $cat.e SELECT * FROM graft_cspec_e")
        } finally s.conf.set(
          "spark.sql.adaptive.coalescePartitions.minPartitionSize", priorFloor)
        s.sql(s"INSERT INTO $cat.u SELECT * FROM graft_cspec_u")
        val m = SnapshotTable.manifest(s"$wh/e", 2L)
        require(m.files.nonEmpty && m.files.forall(f =>
          f.stats.get(SnapshotTable.TemporalStat).exists { case (lo, hi) => lo == hi } &&
          f.stats.get(SnapshotTable.BucketStat).exists { case (lo, hi) => lo == hi }),
          "every compound file must carry BOTH one-group stamps")
        require(m.files.flatMap(_.stats.get(SnapshotTable.TemporalStat))
          .map(_._1).distinct.size > 1 &&
          m.files.flatMap(_.stats.get(SnapshotTable.BucketStat))
            .map(_._1).distinct.size > 1,
          "both dimensions must span multiple groups or the pins are vacuous")
        val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        // the REQUIRE's materialization IS the join's one execution:
        // truncate (eager localCheckpoint) finalizes the AQE plan the
        // shuffle count reads, and the 'join' arm below aggregates the
        // materialized rows instead of re-running the SPJ (r18)
        val jt = try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.sql(s"SELECT e.value FROM $cat.e e JOIN $cat.u u ON e.uid = u.uid")
          val t = graft.GraftCache.truncate(j)
          require(graft.Stage.shuffleCount(j) == 0,
            "the compound table must SPJ on its bucket dimension with zero exchanges")
          t
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        def planned(df: org.apache.spark.sql.DataFrame): Int =
          graft.Stage.plannedFiles(df.queryExecution.sparkPlan)
        val bnd = ev.agg(
          min(unix_micros(col("ts"))).as("mn"),
          max(unix_micros(col("ts"))).as("mx")).collect()(0)
        val (mn, mx) = (bnd.getLong(0), bnd.getLong(1))
        val (rlo, rhi) = (mn + (mx - mn) / 3, mn + (mx - mn) / 2)
        val rq = s.sql(s"SELECT * FROM $cat.e WHERE ts BETWEEN " +
          s"timestamp_micros(${rlo}L) AND timestamp_micros(${rhi}L)")
        require(planned(rq) < m.fileCount,
          s"the period dimension must prune date ranges (${planned(rq)}/${m.fileCount})")
        val eq = s.sql(s"SELECT * FROM $cat.e WHERE uid = 7")
        require(planned(eq) < m.fileCount,
          s"the bucket dimension must prune point reads (${planned(eq)}/${m.fileCount})")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("value").cast("decimal(38,4)")).cast("double").as("sum_v"))
            .withColumn("arm", lit(arm))
            .select("arm", "n_rows", "sum_v")
        agg(jt, "join")
          .unionByName(agg(rq, "range"))
          .unionByName(agg(eq, "eq"))
          .orderBy("arm")
      },
      Some("""WITH e AS (SELECT ts, user_id AS uid, value FROM events),
             |u AS (SELECT user_id AS uid FROM events GROUP BY 1),
             |bnd AS (SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events)
             |SELECT 'eq' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_v
             |FROM e WHERE uid = 7
             |UNION ALL
             |SELECT 'join', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(e.value AS DECIMAL(38,4))) AS DOUBLE)
             |FROM e JOIN u ON e.uid = u.uid
             |UNION ALL
             |SELECT 'range', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE)
             |FROM e, bnd
             |WHERE epoch_us(ts) BETWEEN mn + (mx - mn)//3 AND mn + (mx - mn)//2
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_dv_consolidate",
      // DELETION-VECTOR CONSOLIDATION (`CALL consolidate_dvs` /
      // consolidateDeleteVectors) — the maintenance mid-point between
      // trickle-CDC reads and full compaction: a multi-commit MoR chain
      // scatters task-grained sidecars (every UPDATE/DELETE writes one
      // per writer task); consolidation rewrites them into ONE deduped,
      // range-tagged sidecar per EFFECTIVE sequence (key → max seq —
      // the reader rule `kill iff maxseq(key) > fseq` is preserved
      // exactly, so a twice-updated key's latest post-image still
      // serves once), in one distributed job and one mode=dvrewrite
      // metadata commit that touches ZERO data files (REQUIREd:
      // identical file list, sidecars strictly fewer). Readers win
      // twice — the broadcast path loads a deduped set, the scoped
      // path attaches fewer, range-tagged sidecars per file — and the
      // change feed recognizes the mode and emits zero rows
      // (Round38Spec pins all four properties). The arms replay the
      // UPDATE+DELETE chain relationally; the post-consolidation read
      // must answer them bit-identically.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_dvc_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftdc_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (k BIGINT NOT NULL, pri STRING, price DOUBLE) " +
          "TBLPROPERTIES('morKey'='k', 'statsColumns'='k')")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_dvc_src")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_dvc_src")
        s.sql(s"UPDATE $cat.t SET price = price + 500.0 WHERE k % 10 = 3")
        s.sql(s"UPDATE $cat.t SET price = price + 500.0 WHERE k % 10 = 3")
        s.sql(s"DELETE FROM $cat.t WHERE k % 10 = 7")
        val table = s"$wh/t"
        val mBefore = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
        val r = s.sql(s"CALL $cat.system.consolidate_dvs('t')").collect()(0)
        require(r.getInt(1) < r.getInt(0),
          s"consolidation must shrink the chain (${r.getInt(0)} -> ${r.getInt(1)})")
        val mAfter = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
        require(mAfter.files.map(_.path) == mBefore.files.map(_.path),
          "consolidation must touch ZERO data files")
        require(SnapshotTable.dvRefs(mAfter).forall(x =>
          x.count > 0 && (x.rangeL.isDefined || x.rangeS.isDefined)),
          "every consolidated ref must record count + key range")
        s.table(s"$cat.t")
          .groupBy((col("k") % 10).as("bucket"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
          .orderBy("bucket")
      },
      Some("""WITH t AS (SELECT o_orderkey AS k,
             |  CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1000.0
             |       ELSE o_totalprice END AS price
             |  FROM orders WHERE o_orderkey % 10 <> 7)
             |SELECT k % 10 AS bucket, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "src_snapshot_ts_agg_push",
      // TIMESTAMP-TYPED MANIFEST SERVICE — the event-table dashboard
      // queries at metadata cost: with the stats channel carrying
      // timestamps as EXACT epoch micros end-to-end, (a) `MIN(ts)` /
      // `MAX(ts)` / COUNT(*) on a days-partitioned table answer from
      // manifest lines alone (REQUIREd: every planned partition is a
      // metadata row, ZERO data files — "when does my data start/end"
      // on 100 TB costs one manifest read), and (b) `ORDER BY ts LIMIT
      // n` plans only the files whose time range reaches the θ bound
      // (REQUIREd strict subset — micros order IS timestamp order, so
      // the TopN subset algebra applies unchanged); the grouped layout
      // makes the per-file ranges disjoint, so the oldest-n probe
      // opens ~one file. Arms: the metadata-served extrema (surfaced
      // as unix_micros for an engine-neutral oracle) and the
      // oldest-five aggregate.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_tsagg_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftta_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.e (ts TIMESTAMP NOT NULL, eid BIGINT, " +
          "value DOUBLE) PARTITIONED BY (days(ts))")
        Tables(s, dir).events
          .select(col("ts"), col("event_id").as("eid"), col("value"))
          .createOrReplaceTempView("graft_tsagg_src")
        s.sql(s"INSERT INTO $cat.e SELECT * FROM graft_tsagg_src")
        val agg = s.table(s"$cat.e").agg(
          count(lit(1)).as("n_rows"),
          min(col("ts")).as("mn"),
          max(col("ts")).as("mx"))
        val parts = agg.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions
        }.flatten
        require(parts.nonEmpty && parts.forall(_.isInstanceOf[MetadataRowPartition]),
          s"timestamp extrema must be manifest-served " +
            s"(got ${parts.map(_.getClass.getSimpleName).distinct.mkString(",")})")
        val aggOut = agg.select(
          col("n_rows"),
          unix_micros(col("mn")).as("min_us"),
          unix_micros(col("mx")).as("max_us"))
        // oldest-five probe: the θ-bounded TopN plans a strict subset
        val oldest = s.table(s"$cat.e").orderBy(col("ts"), col("eid")).limit(5)
        val planned = graft.Stage.plannedFiles(oldest.queryExecution.sparkPlan)
        val total = SnapshotTable.manifest(s"$wh/e", 2L).fileCount
        require(planned < total,
          s"ORDER BY ts LIMIT must plan a strict file subset ($planned/$total)")
        val arm2 = oldest
          .agg(count(lit(1)).as("n_old"),
            sum(col("eid")).as("sum_eid"),
            max(unix_micros(col("ts"))).as("last_us"))
        aggOut.crossJoin(arm2)
      },
      Some("""WITH oldest AS (SELECT * FROM events ORDER BY ts, event_id LIMIT 5)
             |SELECT (SELECT COUNT(*)::BIGINT FROM events) AS n_rows,
             |(SELECT MIN(epoch_us(ts)) FROM events) AS min_us,
             |(SELECT MAX(epoch_us(ts)) FROM events) AS max_us,
             |COUNT(*)::BIGINT AS n_old,
             |SUM(event_id)::BIGINT AS sum_eid,
             |MAX(epoch_us(ts)) AS last_us
             |FROM oldest""".stripMargin)
    ),
    Q(
      "src_snapshot_spec_evolve",
      // PARTITION-SPEC EVOLUTION (the r15 verdict's #2: Iceberg-v2
      // new-spec-for-new-files): `ALTER TABLE ... SET TBLPROPERTIES
      // ('evolveLayout'='hours(ts)')` swaps a days(ts) table to hourly
      // partitioning for FUTURE files in ONE metadata commit (mode=
      // props, zero files touched — REQUIREd). Old files keep their day
      // stamps and prune under their own generation (the file's commit
      // seq names it; the manifest records the generation history);
      // new files cut per hour. Pruning is generation-free (raw micros
      // stats), REQUIREd a strict subset over the MIXED set; time
      // travel to the pre-evolution snapshot serves the old spec.
      // At 100 TB this is the table that started daily and went hourly
      // when one day outgrew a task — without rewriting a byte.
      // Round42Spec pins the generation algebra, per-gen bucket
      // pruning, SPJ degrade + compaction re-unification, guardrails.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sevo_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftse_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, k BIGINT, price DOUBLE) " +
          "PARTITIONED BY (days(ts))")
        val T0 = 1704067200000000L
        val H = 3600000000L
        val src = Tables(s, dir).orders.select(
          expr(s"timestamp_micros(CAST($T0 + (o_orderkey % 96) * $H AS BIGINT))").as("ts"),
          col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        src.filter(col("k") % 2 === 0).createOrReplaceTempView("graft_sevo_a")
        src.filter(col("k") % 2 === 1).createOrReplaceTempView("graft_sevo_b")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sevo_a")
        val table = s"$wh/t"
        val gen0 = SnapshotTable.manifest(table, 2L)
        require(gen0.files.size == 4, s"4 day files, got ${gen0.files.size}")
        s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='hours(ts)')")
        val mProps = SnapshotTable.manifest(table, 3L)
        require(mProps.extra.get("mode").contains("props") &&
          mProps.files.map(_.path) == gen0.files.map(_.path),
          "spec evolution must be ONE metadata commit touching zero files")
        require(SnapshotTable.layoutHistOf(mProps) ==
          Seq((0L, Map(SnapshotTable.TemporalK -> "ts:days"))),
          "the old generation must be recorded")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sevo_b")
        val m = SnapshotTable.manifest(table, 4L)
        // odd orderkeys cover exactly the 48 ODD residues mod 96
        require(m.files.count(_.seq >= 4L) == 48,
          s"the new generation cuts per HOUR (48 files), got ${m.files.count(_.seq >= 4L)}")
        // a 6-hour window prunes the MIXED set to a strict subset via
        // the generation-free raw micros stats: 1 day file (even hours)
        // + 3 hour files (odd hours 73/75/77)
        val hit = m.filesFor("ts", T0 + 72L * H, T0 + 78L * H - 1L)
        require(hit.size == 4,
          s"window prune across generations: want 1 day + 3 hour files, got ${hit.size}")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm)).select("arm", "n_rows", "sum_price")
        agg(s.table(s"$cat.t"), "head")
          .unionByName(agg(s.table(s"$cat.t").where(
            col("ts") >= expr(s"timestamp_micros(${T0 + 72L * H})") &&
              col("ts") < expr(s"timestamp_micros(${T0 + 78L * H})")), "win"))
          .unionByName(agg(s.sql(s"SELECT * FROM $cat.t VERSION AS OF 2"), "asof"))
          .orderBy("arm")
      },
      Some("""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS price,
             |  o_orderkey % 96 AS h FROM orders)
             |SELECT 'asof' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM t WHERE k % 2 = 0
             |UNION ALL
             |SELECT 'head', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) FROM t
             |UNION ALL
             |SELECT 'win', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE)
             |FROM t WHERE h BETWEEN 72 AND 77
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_spec_compact",
      // GENERATION-TARGETED COMPACTION (the r16 verdict's #1:
      // `CALL system.compact_evolved`): partition-spec evolution's
      // day-2 pass. After days(ts) -> hours(ts), the mixed table reads
      // fine but its scan degrades to unknown partitioning (SPJ off);
      // the old blanket cure was compactSnapshot — O(table), exactly
      // when the table is largest. compactEvolved rewrites ONLY the
      // pre-`layoutsince` files through the current spec's stamping
      // writers: REQUIREd to touch exactly the old-generation file
      // count, the new generation rides byte-identical (paths + sizes
      // verbatim), every live file then stamps under the current spec
      // (the scan's "mixed layout generations" degradation clears from
      // the executed plan — REQUIREd), and the old day now prunes at
      // HOUR grain (a 1h window opens ONE file where it opened a whole
      // day — REQUIREd). At 100 TB this turns evolution's one
      // cluster-day rewrite into an O(old generation) maintenance
      // pass. Round47Spec pins the SPJ zero-shuffle round-trip and the
      // equality-DV interplay.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sgc_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftgc_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, k BIGINT, price DOUBLE) " +
          "PARTITIONED BY (days(ts))")
        val T0 = 1704067200000000L
        val H = 3600000000L
        val src = Tables(s, dir).orders.select(
          expr(s"timestamp_micros(CAST($T0 + (o_orderkey % 96) * $H AS BIGINT))").as("ts"),
          col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        src.filter(col("k") % 2 === 0).createOrReplaceTempView("graft_sgc_a")
        src.filter(col("k") % 2 === 1).createOrReplaceTempView("graft_sgc_b")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sgc_a")
        s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('evolveLayout'='hours(ts)')")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sgc_b")
        val table = s"$wh/t"
        val m0 = SnapshotTable.manifest(table, 4L)
        val since = SnapshotTable.layoutSinceOf(m0)
        val oldGen = m0.files.filter(_.seq < since)
        val newGen = m0.files.filter(_.seq >= since)
        require(oldGen.size == 4 && newGen.size == 48,
          s"4 day files + 48 hour files, got ${oldGen.size}+${newGen.size}")
        val res = s.sql(
          s"CALL $cat.system.compact_evolved('t')").collect()(0)
        require(res.getInt(0) == 4,
          s"compact_evolved must rewrite EXACTLY the old generation (4 day " +
            s"files), got ${res.getInt(0)}")
        val m = SnapshotTable.manifest(table, res.getLong(1))
        require(newGen.forall(f => m.files.exists(c =>
          c.path == f.path && c.size == f.size && c.seq == f.seq)),
          "the new generation must ride byte-identical (paths/sizes/seq verbatim)")
        require(m.files.forall(_.seq >= since),
          "no live file may predate the generation boundary after the pass")
        // the old day is now hour-grained: the file a 1h even-hour
        // window opens spans < 1 hour of ts where the pre-compaction
        // match was a whole multi-hour day file; a 6h window opens
        // exactly its 6 hour files
        val win1 = (T0 + 72L * H, T0 + 73L * H - 1L)
        def span(fs: Seq[SnapshotTable.FileEntry]): Long =
          fs.map(f => f.stats("ts")._2 - f.stats("ts")._1).max
        require(span(m0.filesFor("ts", win1._1, win1._2)) > H &&
          span(m.filesFor("ts", win1._1, win1._2)) < H &&
          m.filesFor("ts", T0 + 72L * H, T0 + 78L * H - 1L).size == 6,
          "hour-grain pruning must hold across the whole table after the pass")
        // the degradation note leaves the executed plan
        val q = s.table(s"$cat.t")
        q.collect()
        require(!graft.Stage.executedNodes(q).collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.description()
        }.exists(_.contains("mixed layout generations")),
          "the scan must stop reporting mixed generations after the pass")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm)).select("arm", "n_rows", "sum_price")
        agg(s.table(s"$cat.t"), "head")
          .unionByName(agg(s.table(s"$cat.t").where(
            col("ts") >= expr(s"timestamp_micros(${T0 + 72L * H})") &&
              col("ts") < expr(s"timestamp_micros(${T0 + 78L * H})")), "win"))
          .unionByName(agg(s.sql(s"SELECT * FROM $cat.t VERSION AS OF 2"), "asof"))
          .orderBy("arm")
      },
      Some("""WITH t AS (SELECT o_orderkey AS k, o_totalprice AS price,
             |  o_orderkey % 96 AS h FROM orders)
             |SELECT 'asof' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM t WHERE k % 2 = 0
             |UNION ALL
             |SELECT 'head', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) FROM t
             |UNION ALL
             |SELECT 'win', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE)
             |FROM t WHERE h BETWEEN 72 AND 77
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_rename",
      // METADATA-ONLY COLUMN RENAME (the r16 verdict's #4 — Iceberg's
      // field-ID indirection through the ORDINAL, which add-at-end-only
      // evolution keeps stable): `ALTER TABLE ... RENAME COLUMN val TO
      // price` is ONE mode=props commit touching zero files (REQUIREd);
      // the manifest records (version, ordinal, oldName) and every
      // reader reconstructs each file's WRITTEN names from its commit
      // seq, reading old files POSITIONALLY under the current names —
      // the V2 route dispatches a per-name-epoch parquet factory, the
      // API route unions per-epoch scans. REQUIREd: reads exact across
      // the mix (head + a filter on the renamed column that must hit
      // OLD files' rows through the residual pass), time travel serves
      // the pre-rename snapshot under its own name ('val' — the arm
      // reads it), and the rename history carries like every table
      // declaration. Round49Spec pins the SPJ gate under mixed epochs
      // + compaction restoring it, the historical-name collision
      // guards, and the declaration-reference refusals.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_ren_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftrn_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.o (k BIGINT NOT NULL, val DOUBLE)")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("val"))
          .filter(col("k") % 2 === 0).createOrReplaceTempView("graft_ren_a")
        Tables(s, dir).orders
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
          .filter(col("k") % 2 === 1).createOrReplaceTempView("graft_ren_b")
        s.sql(s"INSERT INTO $cat.o SELECT * FROM graft_ren_a")
        val table = s"$wh/o"
        val filesBefore = SnapshotTable.manifest(table, 2L).files.map(_.path)
        s.sql(s"ALTER TABLE $cat.o RENAME COLUMN val TO price")
        val m3 = SnapshotTable.manifest(table, 3L)
        require(m3.extra.get("mode").contains("props") &&
          m3.files.map(_.path) == filesBefore,
          "rename must be ONE metadata commit touching zero files")
        require(SnapshotTable.renamesOf(m3) == Seq((3L, 1, "val")),
          "the (version, ordinal, oldName) entry must be recorded")
        s.sql(s"INSERT INTO $cat.o SELECT * FROM graft_ren_b")
        // the declaration carries across the data commit (DeclKeys)
        require(SnapshotTable.renamesOf(
          SnapshotTable.manifest(table, 4L)) == Seq((3L, 1, "val")),
          "rename history must carry like every declaration")
        val cutoff = Tables(s, dir).orders
          .agg(avg("o_totalprice")).collect()(0).getDouble(0)
        def agg(df: org.apache.spark.sql.DataFrame, c: String, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col(c).cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm)).select("arm", "n_rows", "sum_price")
        agg(s.table(s"$cat.o"), "price", "head")
          // the filter must drop OLD files' rows too (residual pass
          // over the positional mapping — both parities constrained)
          .unionByName(agg(s.table(s"$cat.o")
            .where(col("price") > cutoff), "price", "hi"))
          // time travel serves the pre-rename snapshot's OWN name
          .unionByName(agg(
            s.sql(s"SELECT k, val FROM $cat.o VERSION AS OF 2"), "val", "asof"))
          .orderBy("arm")
      },
      Some("""WITH cut AS (SELECT AVG(o_totalprice) AS c FROM orders)
             |SELECT 'asof' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
             |FROM orders WHERE o_orderkey % 2 = 0
             |UNION ALL
             |SELECT 'head', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) FROM orders
             |UNION ALL
             |SELECT 'hi', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
             |FROM orders WHERE o_totalprice > (SELECT c FROM cut)
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_sql_pos_delete",
      // SQL ROUTE TO POSITION DELETES (the r15 verdict's #4): under
      // TBLPROPERTIES('deleteMode'='positions'), a `DELETE FROM t WHERE
      // pred` whose predicate the manifest CANNOT prove file-whole no
      // longer pays the copy-on-write rewrite — files proven all-match
      // drop whole, the fuzzy remainder's matching rows are located by
      // ONE provenance scan (_file/_pos, raw ordinals) and land as a
      // position sidecar in the SAME atomic commit: O(matching rows) +
      // manifest, ZERO data files written (REQUIREd on the manifest
      // diff). The retention DELETE a morKey-less 100 TB table runs
      // nightly. Round42Spec pins the drop/fuzzy split, the no-
      // declaration CoW contrast, and the provable-whole fast path.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_sqpd_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftqp_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (k BIGINT, k2 BIGINT, price DOUBLE) " +
          "TBLPROPERTIES('statsColumns'='k2', 'deleteMode'='positions')")
        val src = Tables(s, dir).orders.select(
          col("o_orderkey").as("k"), (col("o_orderkey") % 1000).as("k2"),
          col("o_totalprice").as("price"))
        // three range-disjoint commits so the DELETE's proof surface is
        // deterministic: [0,250) all-match (drops whole), [250,500)
        // fuzzy at the 300 boundary (positions), [500,1000) none-match
        Seq(src.filter(col("k2") < 250),
          src.filter(col("k2") >= 250 && col("k2") < 500),
          src.filter(col("k2") >= 500)).zipWithIndex.foreach { case (d, i) =>
          d.createOrReplaceTempView(s"graft_sqpd_$i")
          s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_sqpd_$i")
        }
        val table = s"$wh/t"
        val before = SnapshotTable.manifest(table, 4L).files.map(_.path).toSet
        s.sql(s"DELETE FROM $cat.t WHERE k2 < 300")
        val m = SnapshotTable.manifest(table, 5L)
        require(m.extra.get("mode").contains("delete"))
        require(m.files.map(_.path).toSet.subsetOf(before),
          "the MoR DELETE must write ZERO data files")
        require(m.files.size < before.size,
          "the provably-all-match commit must drop whole")
        require(SnapshotTable.posDvRefs(m).nonEmpty,
          "the fuzzy remainder must land as a position sidecar")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm)).select("arm", "n_rows", "sum_price")
        val head = agg(s.table(s"$cat.t"), "head")
        val asof = agg(s.sql(s"SELECT * FROM $cat.t VERSION AS OF 4"), "asof")
        val (_, v) = SnapshotTable.compactSnapshot(s, table)
        require(SnapshotTable.posDvRefs(SnapshotTable.manifest(table, v)).isEmpty,
          "compaction materializes the positions")
        head.unionByName(asof).unionByName(agg(s.table(s"$cat.t"), "compacted"))
          .orderBy("arm")
      },
      Some("""WITH t AS (SELECT o_orderkey % 1000 AS k2, o_totalprice AS price
             |  FROM orders)
             |SELECT 'asof' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price FROM t
             |UNION ALL
             |SELECT 'compacted', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE)
             |FROM t WHERE k2 >= 300
             |UNION ALL
             |SELECT 'head', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE)
             |FROM t WHERE k2 >= 300
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_zorder_period",
      // PER-PERIOD Z-ORDER (the r15 verdict's #5: Delta's `OPTIMIZE ...
      // ZORDER BY` scoped within partitions): compactZOrder on a
      // days(ts) table keeps the period layout — rows range-partition
      // on (period, morton(x,y)), every rewritten file keeps its
      // min==max period stamp (REQUIREd), a hot day splits into several
      // files at z boundaries (REQUIREd), and a small (x,y) box inside
      // one day prunes to a strict subset of that day's files off the
      // recorded per-file bounds (REQUIREd) — the standard event-table
      // maintenance that makes point-in-time device lookups open O(1)
      // files instead of the whole day. Round42Spec pins stamp
      // preservation, the split, and row-identity across the rewrite.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_zper_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftzp_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, x BIGINT, y BIGINT, " +
          "price DOUBLE) PARTITIONED BY (days(ts)) " +
          "TBLPROPERTIES('statsColumns'='x,y')")
        val T0 = 1704067200000000L
        val H = 3600000000L
        Tables(s, dir).orders.select(
            expr(s"timestamp_micros(CAST($T0 + (o_orderkey % 48) * $H AS BIGINT))")
              .as("ts"),
            (col("o_orderkey") % 64).as("x"),
            expr("(o_orderkey div 64) % 64").as("y"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_zper_src")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_zper_src")
        val table = s"$wh/t"
        // size-relative target: ~8 rewrite partitions at ANY sf, so the
        // per-period split is observable from sf0.001 up
        val totalBytes = SnapshotTable.manifest(table, 2L).files.map(_.size).sum
        val (_, v) = SnapshotTable.compactZOrder(s, table,
          zorderBy = Seq("x", "y"), targetBytes = math.max(4096L, totalBytes / 8))
        val m = SnapshotTable.manifest(table, v)
        require(m.files.forall(
          _.stats.get(SnapshotTable.TemporalStat).exists(st => st._1 == st._2)),
          "every z-ordered file must keep its one-period stamp")
        val day0 = m.files.map(_.stats(SnapshotTable.TemporalStat)._1).min
        val d0 = m.files.filter(_.stats(SnapshotTable.TemporalStat)._1 == day0)
        require(d0.size > 1, s"a hot period must split at z boundaries, got ${d0.size}")
        val hit = d0.filter(f =>
          f.stats.get("x").forall { case (lo, hi) => hi >= 0 && lo <= 7 } &&
            f.stats.get("y").forall { case (lo, hi) => hi >= 0 && lo <= 7 })
        require(hit.size < d0.size,
          s"the (x,y) box must prune within the period (${hit.size}/${d0.size})")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm)).select("arm", "n_rows", "sum_price")
        agg(s.table(s"$cat.t"), "all")
          .unionByName(agg(s.table(s"$cat.t").where(
            col("ts") < expr(s"timestamp_micros(${T0 + 24L * H})") &&
              col("x") < 8 && col("y") < 8), "box"))
          .orderBy("arm")
      },
      Some("""WITH t AS (SELECT o_orderkey % 48 AS hh, o_orderkey % 64 AS x,
             |  (o_orderkey // 64) % 64 AS y, o_totalprice AS price FROM orders)
             |SELECT 'all' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price FROM t
             |UNION ALL
             |SELECT 'box', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE)
             |FROM t WHERE hh < 24 AND x < 8 AND y < 8
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_zorder_compound",
      // PER-GROUP Z-ORDER INSIDE A COMPOUND LAYOUT (the r16 verdict's
      // #6): `compactZOrder` on a months(ts) × bucket(4, ck) table no
      // longer refuses — the rewrite key widens to (month, bucket,
      // morton(x,y)), the curve clusters WITHIN each (month, tenant-
      // bucket) cell, and the rolling stamping writer keeps BOTH
      // min==max stamps on every output file (REQUIREd) — ordinary
      // Delta `OPTIMIZE ZORDER BY` usage on a partitioned+bucketed
      // table. REQUIREd: a hot (month, bucket) group splits at z
      // boundaries and a small (x,y) box prunes to a strict subset of
      // that group's files off the recorded per-file bounds on BOTH
      // z columns; month pruning (raw micros) and bucket SPJ survive
      // untouched because the stamps do. Round47Spec pins row identity
      // across the rewrite and the remaining guardrails.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_zcmp_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftzc_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE TABLE $cat.t (ts TIMESTAMP NOT NULL, ck BIGINT NOT NULL, " +
          "x BIGINT, y BIGINT, price DOUBLE) " +
          "PARTITIONED BY (months(ts), bucket(4, ck)) " +
          "TBLPROPERTIES('statsColumns'='x,y')")
        val T0 = 1704067200000000L
        val D = 86400000000L
        Tables(s, dir).orders.select(
            expr(s"timestamp_micros(CAST($T0 + (o_orderkey % 2) * 31 * $D AS BIGINT))")
              .as("ts"),
            col("o_orderkey").as("ck"),
            (col("o_orderkey") % 64).as("x"),
            expr("(o_orderkey div 64) % 64").as("y"),
            col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_zcmp_src")
        s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_zcmp_src")
        val table = s"$wh/t"
        // size-relative target: ~3 files per (month, bucket) cell at
        // ANY sf, so the intra-group split is observable from sf0.001
        val totalBytes = SnapshotTable.manifest(table, 2L).files.map(_.size).sum
        val (_, v) = SnapshotTable.compactZOrder(s, table,
          zorderBy = Seq("x", "y"), targetBytes = math.max(2048L, totalBytes / 24))
        val m = SnapshotTable.manifest(table, v)
        require(m.files.forall(f =>
          f.stats.get(SnapshotTable.TemporalStat).exists(st => st._1 == st._2) &&
            f.stats.get(SnapshotTable.BucketStat).exists(st => st._1 == st._2)),
          "BOTH stamps on every file after the compound z-order")
        val month0 = m.files.map(_.stats(SnapshotTable.TemporalStat)._1).min
        val cells = m.files.filter(_.stats(SnapshotTable.TemporalStat)._1 == month0)
          .groupBy(_.stats(SnapshotTable.BucketStat)._1)
        val grp = cells.values.maxBy(_.size)
        require(grp.size > 1,
          s"a hot (month, bucket) cell must split at z boundaries, got ${grp.size}")
        val hit = grp.filter(f =>
          f.stats.get("x").forall { case (lo, hi) => hi >= 0 && lo <= 7 } &&
            f.stats.get("y").forall { case (lo, hi) => hi >= 0 && lo <= 7 })
        require(hit.size < grp.size,
          s"the (x,y) box must prune within the cell (${hit.size}/${grp.size})")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(col("price").cast("decimal(38,4)")).cast("double").as("sum_price"))
            .withColumn("arm", lit(arm)).select("arm", "n_rows", "sum_price")
        agg(s.table(s"$cat.t"), "all")
          .unionByName(agg(s.table(s"$cat.t").where(
            col("ts") < expr(s"timestamp_micros(${T0 + 31L * D})") &&
              col("x") < 8 && col("y") < 8), "box"))
          .orderBy("arm")
      },
      Some("""WITH t AS (SELECT o_orderkey % 2 AS mo, o_orderkey % 64 AS x,
             |  (o_orderkey // 64) % 64 AS y, o_totalprice AS price FROM orders)
             |SELECT 'all' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE) AS sum_price FROM t
             |UNION ALL
             |SELECT 'box', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE)
             |FROM t WHERE mo = 0 AND x < 8 AND y < 8
             |ORDER BY arm""".stripMargin)
    ),
    Q(
      "src_snapshot_compound_months",
      // BROADENED COMPOUND SPECS (the r15 verdict's #3): months(ts) x
      // bucket(4, ck) — the month-partitioned tenant-bucketed fact that
      // is ordinary production DDL. Every file carries BOTH min==max
      // stamps (REQUIREd), the month dimension prunes via the raw
      // micros stats (REQUIREd strict subset), and the bucket dimension
      // SPJ-joins a co-bucketed dim with ZERO exchanges across periods
      // (REQUIREd post-AQE, broadcast off). The layout-preserving
      // compaction keeps both stamps (REQUIREd). Round42Spec pins the
      // time x truncate sibling through the same period-major routing.
      (s, dir) => {
        val wh = graft.Stage.dir("graft_cmon_", dir).getPath
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
        val cat = "graftcm_" + wh.takeRight(10).replaceAll("[^0-9a-zA-Z]", "")
        s.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        s.sql(s"CREATE TABLE $cat.f (ts TIMESTAMP NOT NULL, ck BIGINT NOT NULL, " +
          "price DOUBLE) PARTITIONED BY (months(ts), bucket(4, ck))")
        s.sql(s"CREATE TABLE $cat.d (ck BIGINT NOT NULL, tag BIGINT) " +
          "PARTITIONED BY (bucket(4, ck))")
        val T0 = 1704067200000000L
        val DayM = 86400000000L
        Tables(s, dir).orders.select(
            expr(s"timestamp_micros(CAST($T0 + (o_orderkey % 3) * 31 * $DayM AS BIGINT))")
              .as("ts"),
            (col("o_orderkey") % 100).as("ck"), col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_cmon_f")
        s.sql(s"INSERT INTO $cat.f SELECT * FROM graft_cmon_f")
        s.sql(s"INSERT INTO $cat.d SELECT DISTINCT ck, ck * 2 FROM graft_cmon_f")
        val table = s"$wh/f"
        val m = SnapshotTable.manifest(table, 2L)
        require(m.files.size == 12, s"3 months x 4 buckets, got ${m.files.size}")
        require(m.files.forall(f =>
          f.stats.get(SnapshotTable.TemporalStat).exists(st => st._1 == st._2) &&
            f.stats.get(SnapshotTable.BucketStat).exists(st => st._1 == st._2)),
          "every file carries BOTH min==max stamps")
        require(m.filesFor("ts", T0, T0 + DayM).size == 4,
          "the month dimension must prune to one period's buckets")
        val prior = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val j = s.sql(s"SELECT f.price FROM $cat.f f JOIN $cat.d d ON f.ck = d.ck")
          j.count()
          require(graft.Stage.shuffleCount(j) == 0,
            "the bucket dimension must SPJ across periods (zero exchanges)")
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        val (_, v) = SnapshotTable.compactSnapshot(s, table)
        val mc = SnapshotTable.manifest(table, v)
        require(mc.files.forall(f =>
          f.stats.get(SnapshotTable.TemporalStat).exists(st => st._1 == st._2) &&
            f.stats.get(SnapshotTable.BucketStat).exists(st => st._1 == st._2)),
          "compaction must preserve both stamps")
        def agg(df: org.apache.spark.sql.DataFrame, arm: String, v0: Column) =
          df.agg(
              count(lit(1)).as("n_rows"),
              sum(v0.cast("decimal(38,4)")).cast("double").as("sum_v"))
            .withColumn("arm", lit(arm)).select("arm", "n_rows", "sum_v")
        val joined = s.sql(
          s"SELECT f.price, d.tag FROM $cat.f f JOIN $cat.d d ON f.ck = d.ck")
        agg(joined, "join", col("price") + col("tag"))
          .unionByName(agg(s.table(s"$cat.f").where(
            col("ts") < expr(s"timestamp_micros(${T0 + DayM})")), "month0",
            col("price")))
          .orderBy("arm")
      },
      Some("""WITH f AS (SELECT o_orderkey % 3 AS mth, o_orderkey % 100 AS ck,
             |  o_totalprice AS price FROM orders),
             |d AS (SELECT DISTINCT ck, ck * 2 AS tag FROM f)
             |SELECT 'join' AS arm, COUNT(*)::BIGINT AS n_rows,
             |CAST(SUM(CAST(f.price + d.tag AS DECIMAL(38,4))) AS DOUBLE) AS sum_v
             |FROM f JOIN d ON f.ck = d.ck
             |UNION ALL
             |SELECT 'month0', COUNT(*)::BIGINT,
             |CAST(SUM(CAST(price AS DECIMAL(38,4))) AS DOUBLE)
             |FROM f WHERE mth = 0
             |ORDER BY arm""".stripMargin)
    )
  )
}
