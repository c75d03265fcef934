package graft.tools

import graft.{GraftCache, GraftSession, SparkEntry}

/** Dev tool: the formatted physical plan of named catalog queries — or
  * of the internal `ordersLines` frame, a stage hidden behind the
  * `.rdd`/json conversions query-level explain cannot show — printed,
  * or written to `<outDir>/<name>_<tag>.txt`, all in one JVM.
  *   sbt "runMain graft.tools.Explain <sfDir> q1,q2,..."
  *   sbt "runMain graft.tools.Explain <sfDir> ordersLines"
  *   sbt "runMain graft.tools.Explain <sfDir> q1,q2,... <outDir> <tag>"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(dir, names) = args.take(2)
    val out = if (args.length >= 4) Some((args(2), args(3))) else None
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("WARN")
    out.foreach(o => new java.io.File(o._1).mkdirs())
    names.split(",").foreach { name =>
      try {
        val df =
          if (name == "ordersLines") graft.wikidata.SyntheticDump.ordersLines(spark, dir)
          else SparkEntry.queries(name)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        out match {
          case Some((d, tag)) =>
            java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/${name}_$tag.txt"), txt)
            println(s"EXPLAINED $name")
          case None => println(s"========== $name ==========\n$txt")
        }
      } catch {
        case e: Throwable => System.err.println(s"[explain] $name failed: $e")
      } finally GraftCache.clear()
    }
    spark.stop()
  }
}
