package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, TableProvider}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spec access to the micro-batch streams behind the snapshot stream
  * formats, driven the way MicroBatchExecution drives them. */
object SnapshotStreams {

  /** The stream a `readStream.format(provider)` query with `options` runs. */
  def of(provider: TableProvider, options: Map[String, String])
      : MicroBatchStream with SupportsTriggerAvailableNow = {
    val o = new CaseInsensitiveStringMap(options.asJava)
    provider.getTable(provider.inferSchema(o), Array.empty, options.asJava)
      .asInstanceOf[SupportsRead].newScanBuilder(o).build().toMicroBatchStream("")
      .asInstanceOf[MicroBatchStream with SupportsTriggerAvailableNow]
  }

  /** The data files a planned slice reads. */
  def files(parts: Array[InputPartition]): Set[String] =
    parts.toSeq.flatMap {
      case fp: FilePartition => fp.files.toSeq.map(_.filePath.toPath.toUri.getPath)
      case other             => sys.error(s"unexpected partition $other")
    }.toSet
}
