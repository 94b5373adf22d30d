package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] answered from the commit log: the committed file list
  * of one scan group, already split into its partition directories with
  * typed values. Nothing is listed or globbed — the log is the file
  * index (the Delta/Iceberg snapshot design) — so building a read costs
  * no filesystem walk and no Spark listing job, however many files the
  * read covers.
  *
  * Partition filters prune directories here exactly as
  * `PartitioningAwareFileIndex.prunePartitions` does: Spark drops
  * partition-only predicates from the post-scan filter, so this index
  * must apply them. */
private[table] final class LogFileIndex(
    roots: Seq[Path],
    override val partitionSchema: StructType,
    partitions: Seq[(InternalRow, Seq[FileStatus])]) extends FileIndex {

  override def rootPaths: Seq[Path] = roots

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val selected =
      if (partitionFilters.isEmpty) partitions
      else {
        val pred = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform { case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        partitions.filter { case (values, _) => pred.eval(values) }
      }
    selected.map { case (values, files) => PartitionDirectory(values, files.toArray) }
  }

  override def inputFiles: Array[String] =
    partitions.iterator.flatMap(_._2).map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = partitions.iterator.flatMap(_._2).map(_.getLen).sum
}
