package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructType}

/** A [[FileIndex]] over a fixed file list taken from a commit log entry
  * ([[IndexLog]]'s `_graft_log/<seq>`): listing is a constant, so
  * constructing a read launches no Spark job — no partition discovery, no
  * parallel listing job once a read spans more than 32 directories — and a
  * case class, so two reads of the same files compare equal (plan reuse,
  * cache lookup).
  *
  * With `partitionColumn` set, each file carries the BIGINT value of its
  * `<column>=<value>/` directory, so a caller can select the column or
  * filter on it; a filter on it prunes whole partitions here, the way
  * Spark's own partition-aware index does.
  */
final case class ManifestFileIndex(
    rootPaths: Seq[Path],
    partitionColumn: Option[String],
    files: Seq[(Long, FileStatus)]
) extends FileIndex {

  override val partitionSchema: StructType =
    partitionColumn.fold(new StructType())(c => new StructType().add(c, LongType, nullable = false))

  private lazy val partitions: Seq[PartitionDirectory] =
    if (partitionColumn.isEmpty) Seq(PartitionDirectory(InternalRow.empty, files.map(_._2).toArray))
    else
      files.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, fs) =>
        PartitionDirectory(InternalRow(v), fs.map(_._2).toArray)
      }

  override def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val onPartition = partitionFilters.filter(_.references.forall(a => partitionColumn.contains(a.name)))
    if (partitionColumn.isEmpty || onPartition.isEmpty) partitions
    else {
      val keep = Predicate.createInterpreted(onPartition.reduce(And).transform {
        case _: AttributeReference => BoundReference(0, LongType, nullable = false)
      })
      partitions.filter(p => keep.eval(p.values))
    }
  }

  override def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_._2.getLen).sum
}

object ManifestFileIndex {

  /** A parquet scan of exactly `index`'s files; `dataSchema` excludes the
    * partition column.
    */
  def scan(spark: SparkSession, index: ManifestFileIndex, dataSchema: StructType): DataFrame =
    spark.baseRelationToDataFrame(
      HadoopFsRelation(
        index,
        partitionSchema = index.partitionSchema,
        dataSchema = dataSchema,
        bucketSpec = None,
        fileFormat = new ParquetFileFormat,
        options = Map.empty
      )(spark))
}
