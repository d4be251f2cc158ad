package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}

import graft.zarr._

/**
 * Micro-batch streaming over a GROWING Zarr store:
 * `spark.readStream.format("zarr").option("group", "/meta").load(path)`.
 *
 * The reference is strictly bounded (reference: src/table_provider.rs:238
 * declares Boundedness::Bounded); SURVEY §2 C-streaming names streaming over
 * appended Zarr chunks as the natural extension. An offset is simply the
 * table row count (the min shape over child arrays — appenders extend the
 * arrays and bump `shape` in zarr.json); each micro-batch plans chunk-range
 * partitions for [start, end) with the same partition reader the batch scan
 * uses. Appenders must only grow shape; the trailing partial chunk may be
 * rewritten in place before the shape covering it is published.
 */
case class ZarrOffset(rows: Long) extends Offset {
  override def json(): String = s"""{"rows":$rows}"""
}

class ZarrMicroBatchStream(
    path: String,
    group: String,
    conf: Broadcast[SerializableHadoopConf],
    requiredColumns: Seq[String],
    targetRows: Long)
  extends MicroBatchStream {

  private def freshArrays(): Seq[ZarrArrayMeta] = {
    val found = ZarrSchema.listArrays(new ZarrStore(path, conf.value.value), group)
      .filter(a => requiredColumns.contains(a.name))
      .sortBy(a => requiredColumns.indexOf(a.name))
    // silently dropping a missing column would bind the remaining values to
    // the WRONG schema positions (rows narrower than the scan schema)
    val missing = requiredColumns.filterNot(c => found.exists(_.name == c))
    if (missing.nonEmpty)
      throw new ZarrException(
        s"zarr stream: store no longer has required column(s) " +
          s"[${missing.mkString(",")}] under '$group' at $path")
    found
  }

  override def initialOffset(): Offset = ZarrOffset(0L)

  override def latestOffset(): Offset = {
    val arrays = freshArrays()
    ZarrOffset(if (arrays.isEmpty) 0L else arrays.map(_.length).min)
  }

  override def deserializeOffset(json: String): Offset =
    ZarrOffset(ZarrMeta.parseJson(json).path("rows").asLong())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ZarrOffset].rows
    val e = end.asInstanceOf[ZarrOffset].rows
    if (e <= s) return Array.empty
    val arrays = freshArrays()
    val align = math.max(1L, arrays.map(_.chunkLength).maxOption.getOrElse(e - s))
    val step = math.max(align, (targetRows / align) * align)
    Iterator.iterate(s)(_ + step).takeWhile(_ < e).map { lo =>
      ZarrInputPartition(lo, math.min(lo + step, e)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ZarrPartitionReaderFactory(path, conf, freshArrays())

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
