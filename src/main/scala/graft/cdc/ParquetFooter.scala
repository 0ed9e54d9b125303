package graft.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Driver-side parquet footer reads: the schema and the row/column
  * statistics the sink would otherwise ask a Spark job for. A footer read is O(files) and runs no job, so a micro-batch's fixed
  * cost does not grow with them.
  *
  * Two costs to keep away from: `fs.listFiles`/`listLocatedStatus` on the
  * local filesystem fork one process per file to load permissions (Hadoop
  * without native libraries), so listings use `listStatus`; and
  * `ParquetFileReader.open` without read options builds a fresh Hadoop
  * `Configuration`, which re-parses the default XML resources on every call,
  * so the session's conf is passed in.
  */
private[cdc] object ParquetFooter {

  /** Spark's hidden-path rule: `_`/`.` names are metadata (`_SUCCESS`,
    * checksum files), except partition dirs (`k=v`). */
  private def visible(name: String): Boolean =
    !(name.startsWith("_") || name.startsWith(".")) || name.contains("=")

  /** The data files directly under `dir`, by name. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && visible(s.getPath.getName))
      .sortBy(_.getPath.getName)

  def footer(conf: Configuration, file: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).build())
    try r.getFooter finally r.close()
  }

  /** The schema of the parquet data under `dir` as Spark's non-merging
    * inference reads it: ONE footer (the first data file, looking one level
    * down into partition dirs), through Spark's own footer-to-schema
    * conversion. Like that inference, it answers for every file only when
    * they all share one schema — the caller's invariant. Fails loud when
    * `dir` holds no data file, as the inference does. */
  def schemaOf(spark: SparkSession, dir: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def first(d: Path, depth: Int): Option[FileStatus] = {
      val entries = fs.listStatus(d)
        .filter(s => visible(s.getPath.getName)).sortBy(_.getPath.getName)
      entries.find(_.isFile).orElse(
        if (depth == 0) None
        else entries.iterator.filter(_.isDirectory)
          .flatMap(e => first(e.getPath, depth - 1)).nextOption())
    }
    val file = first(root, 1).getOrElse(throw new IllegalStateException(
      s"no parquet data file under $dir to read a schema from"))
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer(conf, file)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def chunkOf(block: BlockMetaData, c: String): Option[ColumnChunkMetaData] =
    block.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(c)))

  /** Row count and per-column (min, max) of `files`, from their footers'
    * row-group statistics. `cols` are integral top-level columns (the
    * manifest's stat-column contract), so a footer bound is exactly
    * `min/max(cast(c as long))`; a column with no non-null value has bounds
    * (None, None). A column chunk that holds values but carries no
    * statistics fails loud: it is never read as all-null. The row count
    * is of live rows: where a file has the sink's tombstone flag
    * ([[UpsertSink.DeletedCol]], null on live rows), its null count. */
  def integralStats(conf: Configuration, files: Seq[FileStatus],
                    cols: Seq[String])
      : (Long, Map[String, (Option[Long], Option[Long])]) = {
    var rows = 0L
    val lo = scala.collection.mutable.Map.empty[String, Long]
    val hi = scala.collection.mutable.Map.empty[String, Long]
    files.foreach { f =>
      footer(conf, f).getBlocks.asScala.foreach { block =>
        rows += chunkOf(block, UpsertSink.DeletedCol).fold(block.getRowCount) { chunk =>
          val st = chunk.getStatistics
          if (!st.isNumNullsSet) throw new IllegalStateException(
            s"${f.getPath}: column '${UpsertSink.DeletedCol}' carries no null count")
          st.getNumNulls
        }
        cols.foreach { c =>
          val chunk = chunkOf(block, c)
            .getOrElse(throw new IllegalStateException(
              s"${f.getPath}: no column chunk for stat column '$c'"))
          val st = chunk.getStatistics
          if (st.hasNonNullValue) {
            val mn = st.genericGetMin.asInstanceOf[Number].longValue
            val mx = st.genericGetMax.asInstanceOf[Number].longValue
            lo(c) = lo.get(c).fold(mn)(math.min(_, mn))
            hi(c) = hi.get(c).fold(mx)(math.max(_, mx))
          } else if (!(st.isNumNullsSet && st.getNumNulls == chunk.getValueCount))
            throw new IllegalStateException(
              s"${f.getPath}: stat column '$c' holds values but its footer " +
                "carries no statistics")
        }
      }
    }
    (rows, cols.map(c => c -> ((lo.get(c), hi.get(c)))).toMap)
  }

  /** The greatest value of integral column `c` across `files`, from their
    * footers; None when no file holds a non-null value of it (or has it).
    * A chunk that holds values but carries no statistics fails loud, as in
    * [[integralStats]]. */
  def maxOf(conf: Configuration, files: Seq[FileStatus], c: String): Option[Long] =
    files.flatMap { f =>
      footer(conf, f).getBlocks.asScala.flatMap(chunkOf(_, c)).flatMap { chunk =>
        val st = chunk.getStatistics
        if (st.hasNonNullValue) Some(st.genericGetMax.asInstanceOf[Number].longValue)
        else if (st.isNumNullsSet && st.getNumNulls == chunk.getValueCount) None
        else throw new IllegalStateException(
          s"${f.getPath}: column '$c' holds values but its footer carries no statistics")
      }
    }.maxOption
}
