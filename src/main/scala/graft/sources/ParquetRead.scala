package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Plans a parquet read without launching a Spark job.
  *
  * `spark.read.parquet(p)` with no schema infers one through
  * `SchemaMergeUtils.mergeSchemasInParallel`, a whole Spark job
  * (Hadoop-conf broadcast, closure clean, task serialization) that
  * reads a single footer when schemas are not merged. This object
  * reads that same footer on the driver and plans
  * `spark.read.schema(footerSchema).parquet(...)`, so building the
  * DataFrame costs a listing and one footer read, and the first job is
  * the caller's own action. Partition columns are still discovered
  * from the directory names, typed exactly as before.
  *
  * The footer is the one Spark's non-merging inference would pick:
  * among the leaf files Spark lists (its hidden-name rule:
  * `_`/`.` names are skipped except `_common_metadata`/`_metadata*`),
  * sorted by path, the first `_common_metadata`, else the first
  * `_metadata`, else the first data file. Its schema is converted with
  * the conf switches Spark's inference reads.
  *
  * Wherever the driver cannot tell the answer Spark would give, the
  * read is handed to plain `spark.read.parquet` and every error is
  * Spark's own (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`, a corrupt
  * footer): a session that merges schemas, a glob, a missing path, no
  * leaf file, a nested directory that is not `k=v`, a footer that
  * fails to read, or a footer that also holds a partition column
  * (the two plans would order that column differently).
  */
object ParquetRead {

  /** The read of the parquet file or directory at `path`. */
  def apply(spark: SparkSession, path: String): DataFrame =
    plan(spark, spark.read, Seq(path), None)

  /** The read of several parquet files or partition directories under
    * one table root: partitions are discovered relative to `basePath`
    * (Spark's `basePath` option), as `spark.read.option("basePath",
    * basePath).parquet(paths: _*)` would.
    */
  def under(spark: SparkSession, basePath: String, paths: Seq[String]): DataFrame =
    plan(spark, spark.read.option("basePath", basePath), paths, Some(basePath))

  private def plan(spark: SparkSession, reader: DataFrameReader, paths: Seq[String],
      basePath: Option[String]): DataFrame =
    footerSchema(spark, paths, basePath).fold(reader)(s => reader.schema(s))
      .parquet(paths: _*)

  /** The data schema Spark's inference would give the read of `paths`,
    * read from one footer on the driver; None where only Spark can tell.
    */
  private[sources] def footerSchema(spark: SparkSession, paths: Seq[String],
      basePath: Option[String] = None): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (paths.isEmpty || sqlConf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val listed = paths.map(p => leaves(new Path(p), basePath, conf))
      if (listed.exists(_.isEmpty)) None
      else {
        val files = listed.flatMap(_.get.files).sortBy(_.getPath.toString)
        val partCols = listed.flatMap(_.get.partitionCols).toSet
        val chosen = files.find(_.getPath.getName == CommonMetadata)
          .orElse(files.find(_.getPath.getName == Metadata))
          .orElse(files.find(f => !SummaryNames(f.getPath.getName)))
        chosen.map { f =>
          val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, conf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS))
          ParquetFileFormat.readSchemaFromFooter(footer,
            new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
              nanosAsLong = sqlConf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation =
                sqlConf.parquetReaderRespectUnknownTypeAnnotation))
        }.filterNot(_.fieldNames.exists(n => partCols(n.toLowerCase)))
      }
    } catch { case NonFatal(_) => None }
  }

  private val CommonMetadata = "_common_metadata"
  private val Metadata = "_metadata"
  private val SummaryNames = Set(CommonMetadata, Metadata)

  /** Spark's `HadoopFSUtils.shouldFilterOutPathName`. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith(CommonMetadata) && !name.startsWith(Metadata)

  /** A root's leaf files and the lower-cased names of the `k=v`
    * directories between the partition base and those files.
    */
  private final case class Listing(files: Seq[FileStatus], partitionCols: Seq[String])

  /** The files Spark would list under `root`: the root itself when it
    * is a file, else its visible files, descending only into `k=v`
    * directories. None for a glob, a hidden root file, or any other
    * nested directory. Partitions count from `basePath`, else `root`.
    */
  private def leaves(root: Path, basePath: Option[String],
      conf: Configuration): Option[Listing] =
    if (root.toString.exists("*?[{\\".contains(_))) None
    else {
      val fs = root.getFileSystem(conf)
      val st = fs.getFileStatus(root)
      val files =
        if (st.isFile) (if (hidden(root.getName)) None else Some(Seq(st)))
        else {
          val out = ArrayBuffer.empty[FileStatus]
          def walk(dir: Path): Boolean =
            fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName)).forall { s =>
              if (s.isFile) { out += s; true }
              else s.getPath.getName.contains("=") && walk(s.getPath)
            }
          if (walk(root)) Some(out.toSeq) else None
        }
      val base = basePath.fold(fs.makeQualified(root))(b => fs.makeQualified(new Path(b)))
        .toUri.getPath.stripSuffix("/") + "/"
      files.map(fl => Listing(fl, fl.flatMap { f =>
        val dir = f.getPath.getParent.toUri.getPath + "/"
        if (!dir.startsWith(base)) Nil
        else dir.drop(base.length).split('/').toSeq.filter(_.contains("="))
          .map(_.takeWhile(_ != '=').toLowerCase)
      }.distinct))
    }
}
