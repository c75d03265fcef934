package graft.tools

import graft.GraftSession
import graft.sources.{SnapshotTable, SnapshotV2Provider}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY §5 scale-stress for the round-13 V2 scan-planning features:
  * on a table fragmented into many files and many tiny segments (the
  * streaming-append day-2 shape), what does each planning path
  * actually open?
  *
  *   sbt "runMain graft.tools.V2PlanStress"        # 60 commits x 5 files
  *   sbt "runMain graft.tools.V2PlanStress 200 5"  # custom
  *
  * Measures, on the fragmented table and again after the metadata-only
  * rewrite_segments pass:
  *   - full-scan static planning: planned files + wall (the baseline)
  *   - LIMIT 100: planned files (manifest-bounded prefix — want 1)
  *   - ORDER BY key LIMIT 50, both directions: planned files (θ-bounded
  *     — want ~1; commits write disjoint key ranges)
  *   - COUNT(*): planned files (manifest-served — want 0) + wall
  * The point is the SHAPE: planned work for limit/TopN/agg stays O(1)
  * in the file count, and segment consolidation shrinks planning wall
  * without touching a data file.
  */
object V2PlanStress {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def planFiles(df: DataFrame): Int =
    graft.Stage.plannedFiles(df.queryExecution.sparkPlan)

  def main(args: Array[String]): Unit = {
    val commits = args.headOption.map(_.toInt).getOrElse(60)
    val filesPer = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val table = java.nio.file.Files
      .createTempDirectory("graft_v2planstress").toString + "/t"
    val batch = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice").limit(2000).cache()
    batch.count()
    (1 to commits).foreach { i =>
      // disjoint key ranges per commit: TopN's θ bound should isolate
      // one file at either end
      SnapshotTable.commit(
        batch.withColumn("o_orderkey", col("o_orderkey") + lit(i * 10000000L))
          .repartition(filesPer),
        table, append = i > 1, statsColumns = Seq("o_orderkey"))
    }
    def v2() = spark.read.format(SnapshotV2Provider.format)
      .option("path", table).load()

    def report(tag: String): Unit = {
      val m = SnapshotTable.manifest(table, SnapshotTable.currentVersion(table))
      val (full, fullS) = time(planFiles(v2()))
      val (lim, limS) = time(planFiles(v2().limit(100)))
      val (tAsc, tAscS) = time(planFiles(v2().orderBy(col("o_orderkey")).limit(50)))
      val (tDesc, tDescS) = time(planFiles(v2().orderBy(col("o_orderkey").desc).limit(50)))
      val (agg, aggS) = time(planFiles(v2().agg(count(lit(1)))))
      println(f"V2PLAN $tag files=${m.fileCount} segments=${m.segments.size} | " +
        f"full=$full (${fullS}%.2fs) limit100=$lim (${limS}%.2fs) " +
        f"topnAsc=$tAsc (${tAscS}%.2fs) topnDesc=$tDesc (${tDescS}%.2fs) " +
        f"aggFiles=$agg (${aggS}%.2fs)")
    }
    report("fragmented")
    val ((before, after, _), rwS) = time(SnapshotTable.rewriteSegments(table))
    println(f"V2PLAN rewrite_segments $before -> $after segments (${rwS}%.2fs, zero data files)")
    report("consolidated")
    spark.stop()
  }
}
