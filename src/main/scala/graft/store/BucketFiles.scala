package graft.store

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Driver-local reads of one [[BucketCache]] unit: a bucket's parquet
  * files opened on the calling thread with Spark's own parquet reader,
  * without a Spark job. The rows are what `spark.read.schema(schema)
  * .parquet(files).collect()` returns: the same type mapping, NULL for
  * a column a file lacks, the same datetime rebase and the same
  * external types (`java.sql.Timestamp` and so on). Memory per read is
  * one bucket, which the cache holds anyway.
  *
  * The reader is built once per distinct schema and shared across
  * threads: building it copies the Hadoop configuration and broadcasts
  * it, which costs more than reading a small bucket. A
  * [[FeatureStore]] keeps one for its online table, shared by
  * `getRecord` and every [[ServingCache]] it hands out; each search
  * tier keeps its own.
  */
private[store] final class BucketFiles(spark: SparkSession) {

  private final class Reader(val read: PartitionedFile => Iterator[InternalRow],
      val toRow: Any => Any)

  private val readers = new ConcurrentHashMap[StructType, Reader]

  private def readerOf(schema: StructType): Reader =
    readers.computeIfAbsent(schema, rs =>
      SQLConf.withExistingConf(spark.sessionState.conf) {
        // a file source reads every field as nullable: a column some
        // file lacks then reads as NULL instead of failing
        val s = BucketFiles.nullable(rs).asInstanceOf[StructType]
        new Reader(new ParquetFileFormat().buildReaderWithPartitionValues(
            spark, s, new StructType(), s, Nil,
            Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
            spark.sessionState.newHadoopConf()),
          CatalystTypeConverters.createToScalaConverter(s))
      })

  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every row of `files`, read under `schema`. */
  def read(files: Seq[Path], schema: StructType): Seq[Row] =
    readStatuses(files.map(p => fs(p).getFileStatus(p)), schema)

  /** Every row of the data files directly under `dir` (names starting
    * with `_` or `.` are skipped, as Spark's file index does). A
    * missing `dir` under an existing parent is an empty bucket: the
    * index wrote nothing there. A missing parent still fails.
    */
  def readDir(dir: Path, schema: StructType): Seq[Row] = {
    val listed =
      try fs(dir).listStatus(dir).toSeq
      catch {
        case _: FileNotFoundException if fs(dir).exists(dir.getParent) => Nil
      }
    readStatuses(listed.filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")),
      schema)
  }

  private def readStatuses(files: Seq[FileStatus], schema: StructType): Seq[Row] = {
    val r = readerOf(schema)
    files.flatMap { st =>
      val it = r.read(PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(st.getPath), 0L, st.getLen, fileSize = st.getLen))
      // rows are converted one at a time: the vectorized reader reuses
      // its row object
      try it.map(row => r.toRow(row).asInstanceOf[Row]).toVector
      finally it match {
        case c: AutoCloseable => c.close()
        case _ =>
      }
    }
  }
}

private object BucketFiles {

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case o => o
  }
}
