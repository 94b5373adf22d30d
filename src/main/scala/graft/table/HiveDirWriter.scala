package graft.table

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{StringType, StructType}

import graft.parquet.RowParquet

/** Rows → staged parquet files in hive layout, the one writer behind
  * the streaming sink's executor tasks and the table's driver-side
  * stage. Each row routes to its partition dir (values rendered exactly
  * as Spark's batch writer renders them — [[RowParquet.partitionToken]]
  * mirrors escapePathName), the partition columns are stripped from the
  * written file, and data columns are written nullable, as Spark's file
  * writer writes them. One open file per dir, same as Spark's
  * dynamic-partition writer without sorting.
  *
  * `transformSpecs` name derived (hidden-partitioning) columns that
  * route by their committed transform over a base column, evaluated per
  * row; a frame that already carries the derived columns passes none.
  * Staged paths are relative to `stage` and come back from [[commit]]. */
final class HiveDirWriter(stage: Path, schema: StructType,
    partitionBy: Seq[String], transformSpecs: Seq[(String, String)],
    conf: Configuration, partitionId: Int, taskId: Long, codec: String) {

  // per partition column: Left(field ordinal) routes an identity
  // column by its row value; Right(transform, base ordinal) derives
  // the token per row — parse against the write schema is loud
  // when the stream projection dropped the base column
  private val routes: Array[Either[Int, (PartitionTransform, Int)]] = {
    val specs = transformSpecs.toMap
    partitionBy.map { p =>
      specs.get(p) match {
        case Some(spec) =>
          val t = PartitionTransform.parse(spec, schema)
          Right((t, schema.fieldIndex(t.base)))
        case None => Left(schema.fieldIndex(p))
      }
    }.toArray
  }
  private val partOrds: Array[Int] = routes.collect { case Left(o) => o }
  private val dataOrds: Array[Int] =
    schema.fields.indices.filterNot(partOrds.contains(_)).toArray
  private val dataSchema = org.apache.spark.sql.graftshim.DmlShim.asNullable(
    StructType(dataOrds.map(schema.fields(_))))

  private val writers = mutable.LinkedHashMap.empty[String, ParquetWriter[InternalRow]]
  private val rels = mutable.ArrayBuffer.empty[String]
  private val buf = new GenericInternalRow(dataOrds.length)

  private def fileFor(dir: String): ParquetWriter[InternalRow] =
    writers.getOrElseUpdate(dir, {
      val rel = (if (dir.isEmpty) "" else dir + "/") +
        f"part-$partitionId%05d-$taskId-${UUID.randomUUID()}.$codec.parquet"
      rels += rel
      RowParquet.writer(HadoopOutputFile.fromPath(new Path(stage, rel), conf),
        dataSchema, conf, codec)
    })

  def write(row: InternalRow): Unit = {
    val dir = {
      val sb = new StringBuilder
      var i = 0
      while (i < routes.length) {
        if (i > 0) sb.append('/')
        sb.append(partitionBy(i)).append('=')
        routes(i) match {
          case Left(ord) =>
            val dt = schema.fields(ord).dataType
            val v = if (row.isNullAt(ord)) null else row.get(ord, dt)
            sb.append(RowParquet.partitionToken(v, dt))
          case Right((t, ord)) =>
            val dt = schema.fields(ord).dataType
            val v = if (row.isNullAt(ord)) null else t.eval(row.get(ord, dt))
            sb.append(RowParquet.partitionToken(v, StringType))
        }
        i += 1
      }
      sb.toString
    }
    val w = fileFor(dir)
    var i = 0
    while (i < dataOrds.length) {
      val ord = dataOrds(i)
      val dt = dataSchema.fields(i).dataType
      buf.update(i, if (row.isNullAt(ord)) null else row.get(ord, dt))
      i += 1
    }
    w.write(buf)
  }

  /** An unpartitioned write of zero rows stages one schema-only file,
    * as Spark's writer does; a partitioned one stages nothing. */
  def writeSchemaOnly(): Unit = if (routes.isEmpty) { fileFor(""); () }

  /** Close every open file; the staged paths relative to `stage`. */
  def commit(): Seq[String] = {
    writers.values.foreach(_.close())
    writers.clear()
    rels.toSeq
  }

  /** Close quietly and delete whatever this writer staged. */
  def abort(): Unit = {
    close()
    val fs = stage.getFileSystem(conf)
    rels.foreach { rel =>
      try { fs.delete(new Path(stage, rel), false); () }
      catch { case _: Exception => }
    }
  }

  def close(): Unit = {
    writers.values.foreach(w => try w.close() catch { case _: Exception => })
    writers.clear()
  }
}
