package graft.sink

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 write facade over [[ParquetUpsertSink]] — the
  * connector-style API surface of the reference's Cassandra sink
  * (CassandraOutputFormat.java:84-137): a user writes
  *
  * {{{
  * df.write.format("graft-upsert")
  *   .option("keys", "id").option("version", "v")
  *   .mode("append").save(path)
  * }}}
  *
  * and gets the same keyed last-write-wins upsert the method API gives,
  * through the real V2 commit protocol:
  *
  *  - each task stages its rows (length-prefixed UnsafeRow bytes via the
  *    Hadoop FS API, so staging lands beside the target on whatever
  *    filesystem the target lives on) and reports the staged file in its
  *    commit message — nothing touches the target table while tasks run;
  *  - job `commit` replays the staged files DISTRIBUTED (one read task
  *    per staged file, no driver materialization) into the sink's merge,
  *    then drops the staging dir;
  *  - task `abort` deletes that task's staged file; job `abort` drops the
  *    whole staging dir — a failed write leaves the target byte-identical.
  *
  * Options: `keys` (comma-separated, required unless `mode=distinct`),
  * `version` (ordering column, required unless `mode=distinct`),
  * `bucket` (optional partition column — O(touched-buckets) merges),
  * `mode` = `upsert` (default) | `global` | `distinct` (set-union
  * summary-table semantics, Enrich.scala summary sink).
  */
final class GraftUpsertDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-upsert"

  // the write schema comes from the query via LogicalWriteInfo; an
  // existing table's footer schema is only a convenience for inspection
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val target = GraftUpsertDataSource.targetPath(options)
    val spark = SparkSession.active
    val p = new Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(!_.getPath.getName.startsWith("_")))
      graft.sources.ParquetRead(spark, target).schema
    else new StructType()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftUpsertTable(schema,
      new CaseInsensitiveStringMap(properties))
}

private[sink] object GraftUpsertDataSource {
  def targetPath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-upsert: 'path' is required (use save(path))"))
}

private[sink] final class GraftUpsertTable(
    writeSchema: StructType, options: CaseInsensitiveStringMap)
  extends Table with SupportsWrite {

  private val target = GraftUpsertDataSource.targetPath(options)

  override def name(): String = s"graft-upsert($target)"

  override def schema(): StructType = writeSchema

  // ACCEPT_ANY_SCHEMA: the table materializes whatever the first batch
  // defines (Cassandra-style schema-on-write); the sink's own schema
  // projection in readExisting keeps later merges consistent
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          val mode = Option(options.get("mode")).getOrElse("upsert")
          // reject unknown modes loudly: a typo like mode=globel must not
          // silently downgrade to per-bucket upsert semantics
          if (!Set("upsert", "global", "distinct").contains(mode))
            throw new IllegalArgumentException(
              s"graft-upsert: unknown mode '$mode' (expected upsert | global | distinct)")
          val keys = Option(options.get("keys"))
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Seq.empty)
          val version = Option(options.get("version"))
          if (mode != "distinct" && (keys.isEmpty || version.isEmpty))
            throw new IllegalArgumentException(
              s"graft-upsert: mode '$mode' requires 'keys' and 'version' options")
          new GraftUpsertBatchWrite(info.schema(), target,
            s"$target/_staging/${info.queryId()}", mode, keys,
            version.getOrElse(""), Option(options.get("bucket")))
        }
      }
    }
}

private[sink] final case class GraftUpsertCommit(file: String, count: Long)
  extends WriterCommitMessage

private[sink] final class GraftUpsertBatchWrite(
    schema: StructType, target: String, staging: String, mode: String,
    keys: Seq[String], versionCol: String, bucketCol: Option[String])
  extends BatchWrite {

  private def hadoopConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  private def deleteStaging(): Unit = {
    val p = new Path(staging)
    val fs = p.getFileSystem(hadoopConf)
    fs.delete(p, true)
    // drop the _staging parent too once no other query is staged under it
    val parent = p.getParent
    if (fs.exists(parent) && fs.listStatus(parent).isEmpty) fs.delete(parent, true)
    ()
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftUpsertWriterFactory(schema, staging, new SerializableWritable(hadoopConf))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect { case GraftUpsertCommit(f, n) if n > 0 => f }.toSeq
    if (files.nonEmpty) {
      val batch = GraftUpsertBatchWrite.readStaged(spark, files, schema, hadoopConf)
      val sink = new ParquetUpsertSink(spark, target, bucketCol)
      mode match {
        case "distinct" => sink.upsertDistinct(batch)
        case "global" => sink.upsertGlobal(batch, keys, versionCol)
        case _ => sink.upsert(batch, keys, versionCol)
      }
    }
    deleteStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = deleteStaging()
}

private[sink] object GraftUpsertBatchWrite {
  /** Rebuild the staged batch as a DataFrame: one read task per staged
    * file (the write's own parallelism), rows deserialized and converted
    * executor-side — the driver only ever holds the file list.
    */
  def readStaged(spark: SparkSession, files: Seq[String], schema: StructType,
      conf: Configuration): org.apache.spark.sql.DataFrame = {
    val confW = new SerializableWritable(conf)
    val nFields = schema.length
    val rdd = spark.sparkContext
      .parallelize(files, math.max(1, files.size))
      .flatMap { f =>
        val p = new Path(f)
        val in = new DataInputStream(new BufferedInputStream(
          p.getFileSystem(confW.value).open(p)))
        val conv = CatalystTypeConverters.createToScalaConverter(schema)
        new Iterator[Row] {
          private var nextLen = readLen()
          private def readLen(): Int =
            try in.readInt() catch { case _: java.io.EOFException => in.close(); -1 }
          override def hasNext: Boolean = nextLen >= 0
          override def next(): Row = {
            val bytes = new Array[Byte](nextLen)
            in.readFully(bytes)
            val u = new UnsafeRow(nFields)
            u.pointTo(bytes, nextLen)
            val row = conv(u).asInstanceOf[Row]
            nextLen = readLen()
            row
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }
}

private[sink] final class GraftUpsertWriterFactory(
    schema: StructType, staging: String, conf: SerializableWritable[Configuration])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftUpsertDataWriter(schema,
      s"$staging/rows-$partitionId-$taskId.bin", conf.value)
}

private[sink] final class GraftUpsertDataWriter(
    schema: StructType, file: String, conf: Configuration)
  extends DataWriter[InternalRow] {

  private val proj = UnsafeProjection.create(schema)
  private val path = new Path(file)
  private val fs = path.getFileSystem(conf)
  private val out = new DataOutputStream(new BufferedOutputStream(fs.create(path, true)))
  private var count = 0L

  override def write(row: InternalRow): Unit = {
    val bytes = proj(row).getBytes // copies out of the projection's reused buffer
    out.writeInt(bytes.length)
    out.write(bytes)
    count += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    GraftUpsertCommit(file, count)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    fs.delete(path, false)
    ()
  }

  override def close(): Unit = ()
}
