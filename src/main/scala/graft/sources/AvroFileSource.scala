package graft.sources

import java.nio.ByteBuffer
import java.util

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => AvroSchema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A batch-read DataSource V2 source for Avro Object Container Files,
  * built on the core `avro-1.12` jar the reference itself depends on —
  * the same wire schema family as the reference's payload decoder
  * (AvroDeserializationSchema.java:22-50), promoted from
  * per-message blobs to a splittable batch file format.
  *
  * 100 TB shape:
  *  - **splittable scans** — container files are carved at Avro sync
  *    markers into `spark.sql.files.maxPartitionBytes`-sized input
  *    partitions (the reader `sync(start)`s to the first block past its
  *    offset and stops once `pastSync(end)`, the classic
  *    Hadoop-input-format contract), so one big file parallelizes
  *    across a fleet instead of pinning one task;
  *  - **decode-level column pruning** — `SupportsPushDownRequiredColumns`
  *    builds a projected Avro READER schema, and Avro's resolving
  *    decoder then *skips* the bytes of dropped fields instead of
  *    materializing them (row-oriented pruning: less decode CPU and
  *    zero garbage for unread columns; the scan's `readSchema` shows
  *    exactly the projected fields);
  *  - rows convert straight to `InternalRow` (UTF8String/micros/Decimal
  *    never round-trip through java objects twice).
  */
final class AvroFileDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-avro"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = AvroFileDataSource.pathOf(options)
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val files = AvroFileDataSource.listAvroFiles(path, conf)
    require(files.nonEmpty, s"graft-avro: no .avro files under $path")
    val reader = new DataFileReader[GenericRecord](
      new FsInput(files.head.getPath, conf),
      new GenericDatumReader[GenericRecord]())
    try AvroSchemaBridge.toSpark(reader.getSchema)
    finally reader.close()
  }

  /** A caller may pass a READER schema (`spark.read.schema(...)`) that
    * differs from the files' writer schemas — the Avro evolution
    * contract: added nullable columns resolve to null on old files,
    * dropped columns are skipped at the byte level, and promotable
    * types (int→long, float→double) widen per file. This is how a
    * years-old 100 TB table reads uniformly after its schema grew.
    */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AvroFileTable(schema, new CaseInsensitiveStringMap(properties))
}

private[sources] object AvroFileDataSource {
  def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-avro: 'path' is required (use load(path))"))

  def listAvroFiles(path: String, conf: Configuration): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) throw new IllegalArgumentException(s"graft-avro: $path does not exist")
    val stats =
      if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
      else Seq(fs.getFileStatus(p))
    stats.filter(s => s.isFile && s.getPath.getName.endsWith(".avro"))
      .sortBy(_.getPath.getName)
  }
}

private[sources] final class AvroFileTable(
    schema: StructType, options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {

  private val path = AvroFileDataSource.pathOf(options)

  override def name(): String = s"graft-avro($path)"

  override def schema(): StructType = schema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(schema, path)
}

private[sources] final class AvroScanBuilder(fullSchema: StructType, path: String)
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty projections (count(*)) still decode the record skeleton; an
    // empty struct round-trips as a field-less reader schema
    required = requiredSchema

  override def build(): Scan = new AvroScan(required, path)
}

private[sources] final class AvroScan(required: StructType, path: String)
  extends Scan with Batch {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    AvroFileDataSource.listAvroFiles(path, conf).flatMap { st =>
      // carve each file into byte ranges; the reader rounds each range
      // to Avro sync-marker boundaries (first block at/after `start`,
      // stop once past `end`), so every block lands in exactly one range
      val len = st.getLen
      val n = math.max(1L, (len + maxBytes - 1) / maxBytes)
      (0L until n).map { i =>
        AvroInputPartition(st.getPath.toString, i * maxBytes,
          math.min(len, (i + 1) * maxBytes))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableWritable(
      SparkSession.active.sparkContext.hadoopConfiguration)
    AvroReaderFactory(required.json, conf)
  }

}

private[sources] final case class AvroInputPartition(
    file: String, start: Long, end: Long) extends InputPartition

private[sources] final case class AvroReaderFactory(
    requiredJson: String, conf: SerializableWritable[Configuration])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AvroInputPartition]
    new AvroPartitionReader(p,
      DataType.fromJson(requiredJson).asInstanceOf[StructType], conf.value)
  }
}

private[sources] final class AvroPartitionReader(
    part: AvroInputPartition, required: StructType, conf: Configuration)
  extends PartitionReader[InternalRow] {

  private val reader: DataFileReader[GenericRecord] = {
    val in = new FsInput(new Path(part.file), conf)
    val writerSchema = {
      val probe = new DataFileReader[GenericRecord](
        in, new GenericDatumReader[GenericRecord]())
      probe.getSchema // header read leaves `in` positioned; reuse below
    }
    // projected READER schema: only the required fields — the resolving
    // decoder skips the rest at the byte level
    val readerSchema = AvroSchemaBridge.project(writerSchema, required)
    val r = new DataFileReader[GenericRecord](
      new FsInput(new Path(part.file), conf),
      new GenericDatumReader[GenericRecord](null, readerSchema))
    in.close()
    r.sync(part.start)
    r
  }

  private val converters: Array[Any => Any] =
    required.fields.map(f => AvroSchemaBridge.readConverter(f.dataType))

  private var row: InternalRow = _

  override def next(): Boolean = {
    if (reader.hasNext && !reader.pastSync(part.end)) {
      val rec = reader.next()
      val out = new Array[Any](required.length)
      var i = 0
      while (i < out.length) {
        val v = rec.get(required.fields(i).name)
        out(i) = if (v == null) null else converters(i)(v)
        i += 1
      }
      row = new GenericInternalRow(out)
      true
    } else false
  }

  override def get(): InternalRow = row

  override def close(): Unit = reader.close()
}

/** StructType ⇄ Avro schema bridge + value converters — the subset a
  * relational pipeline uses: primitives, string/binary, date/timestamp
  * (micros), decimal, arrays, string-keyed maps, nested structs;
  * nullability via `union(null, T)`. Unsupported shapes fail loudly at
  * schema time, never silently at row time.
  */
object AvroSchemaBridge {

  import AvroSchema.Type

  // ---- avro → spark --------------------------------------------------

  def toSpark(s: AvroSchema): StructType = {
    require(s.getType == Type.RECORD, s"graft-avro: top level must be a record, got ${s.getType}")
    StructType(s.getFields.asScala.map { f =>
      val (dt, nullable) = toSparkType(f.schema())
      StructField(f.name(), dt, nullable)
    }.toSeq)
  }

  private def toSparkType(s: AvroSchema): (DataType, Boolean) = s.getType match {
    case Type.UNION =>
      val branches = s.getTypes.asScala
      require(branches.size == 2 && branches.exists(_.getType == Type.NULL),
        s"graft-avro: only union(null, T) is supported, got $s")
      val (dt, _) = toSparkType(branches.find(_.getType != Type.NULL).get)
      (dt, true)
    case Type.BOOLEAN => (BooleanType, false)
    case Type.INT =>
      if (s.getLogicalType.isInstanceOf[LogicalTypes.Date]) (DateType, false)
      else (IntegerType, false)
    case Type.LONG =>
      if (s.getLogicalType.isInstanceOf[LogicalTypes.TimestampMicros]) (TimestampType, false)
      else (LongType, false)
    case Type.FLOAT => (FloatType, false)
    case Type.DOUBLE => (DoubleType, false)
    case Type.STRING | Type.ENUM => (StringType, false)
    case Type.BYTES =>
      s.getLogicalType match {
        case d: LogicalTypes.Decimal => (DecimalType(d.getPrecision, d.getScale), false)
        case _ => (BinaryType, false)
      }
    case Type.FIXED => (BinaryType, false)
    case Type.ARRAY =>
      val (et, en) = toSparkType(s.getElementType)
      (ArrayType(et, containsNull = en), false)
    case Type.MAP =>
      val (vt, vn) = toSparkType(s.getValueType)
      (MapType(StringType, vt, valueContainsNull = vn), false)
    case Type.RECORD => (toSpark(s), false)
    case t => throw new IllegalArgumentException(s"graft-avro: unsupported avro type $t")
  }

  // ---- spark → avro --------------------------------------------------

  /** DataFrame schema → avro record schema (field order preserved). */
  def toAvro(schema: StructType, name: String = "graft_record"): AvroSchema = {
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      val base = toAvroType(f.dataType, s"${name}_${f.name}")
      val s = if (f.nullable)
        AvroSchema.createUnion(util.Arrays.asList(
          AvroSchema.create(Type.NULL), base))
      else base
      new AvroSchema.Field(f.name, s, null, null)
    }
    AvroSchema.createRecord(name, null, "graft.avro", false, fields.toList.asJava)
  }

  private def toAvroType(dt: DataType, nestedName: String): AvroSchema = dt match {
    case BooleanType => AvroSchema.create(Type.BOOLEAN)
    case IntegerType | ShortType | ByteType => AvroSchema.create(Type.INT)
    case LongType => AvroSchema.create(Type.LONG)
    case FloatType => AvroSchema.create(Type.FLOAT)
    case DoubleType => AvroSchema.create(Type.DOUBLE)
    case StringType => AvroSchema.create(Type.STRING)
    case BinaryType => AvroSchema.create(Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(AvroSchema.create(Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(AvroSchema.create(Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(AvroSchema.create(Type.BYTES))
    case ArrayType(et, containsNull) =>
      val e = toAvroType(et, nestedName + "_item")
      AvroSchema.createArray(
        if (containsNull)
          AvroSchema.createUnion(util.Arrays.asList(AvroSchema.create(Type.NULL), e))
        else e)
    case MapType(StringType, vt, valueContainsNull) =>
      val v = toAvroType(vt, nestedName + "_value")
      AvroSchema.createMap(
        if (valueContainsNull)
          AvroSchema.createUnion(util.Arrays.asList(AvroSchema.create(Type.NULL), v))
        else v)
    case st: StructType => toAvro(st, nestedName)
    case t => throw new IllegalArgumentException(
      s"graft-avro: unsupported spark type ${t.sql}")
  }

  /** Projected reader schema: the writer record narrowed to `required`'s
    * fields (Avro resolves reader fields by NAME, so order is free and
    * `record.get(name)` is exact). Schema evolution happens HERE, per
    * file, so a directory whose files were written under different
    * schema generations still reads uniformly:
    *  - field present with the same Spark mapping → reuse the writer
    *    field schema byte-for-byte (no resolution cost);
    *  - field present with a DIFFERENT mapping → reader schema built
    *    from the required Spark type; Avro's resolving decoder applies
    *    the spec's promotions (int→long, float→double, …) or fails
    *    loudly at schema-resolution time for non-promotable pairs;
    *  - field MISSING from the writer → nullable columns resolve to
    *    null via a union(null, T) default (the added-column case on old
    *    files); non-nullable missing columns fail loudly.
    */
  def project(writer: AvroSchema, required: StructType): AvroSchema = {
    val fields = required.fields.map { f =>
      val wf = writer.getField(f.name)
      if (wf == null) {
        require(f.nullable,
          s"graft-avro: non-nullable column '${f.name}' not in writer schema $writer")
        val branch = toAvroType(f.dataType, s"evolved_${f.name}")
        val union = AvroSchema.createUnion(util.Arrays.asList(
          AvroSchema.create(Type.NULL), branch))
        new AvroSchema.Field(f.name, union, null,
          org.apache.avro.JsonProperties.NULL_VALUE)
      } else if (toSparkType(unwrapNullable(wf.schema()))._1 == f.dataType) {
        new AvroSchema.Field(f.name, wf.schema(), null, null)
      } else {
        // promotion path: reader type from the Spark schema, writer
        // nullability preserved (a nullable writer union must stay a
        // union or resolution fails on null rows)
        val base = toAvroType(f.dataType, s"promoted_${f.name}")
        val s =
          if (wf.schema().getType == Type.UNION || f.nullable)
            AvroSchema.createUnion(util.Arrays.asList(
              AvroSchema.create(Type.NULL), base))
          else base
        new AvroSchema.Field(f.name, s, null, null)
      }
    }
    AvroSchema.createRecord(writer.getName, null, writer.getNamespace, false,
      fields.toList.asJava)
  }

  private def unwrapNullable(s: AvroSchema): AvroSchema =
    if (s.getType == Type.UNION)
      s.getTypes.asScala.find(_.getType != Type.NULL).getOrElse(s)
    else s

  // ---- value converters ----------------------------------------------

  /** avro value → catalyst value for one Spark type (null handled by the
    * caller). */
  def readConverter(dt: DataType): Any => Any = dt match {
    case StringType => {
      case u: Utf8 => UTF8String.fromBytes(util.Arrays.copyOf(u.getBytes, u.getByteLength))
      case other => UTF8String.fromString(other.toString)
    }
    case BinaryType => {
      case bb: ByteBuffer =>
        val out = new Array[Byte](bb.remaining())
        bb.duplicate().get(out)
        out
      case fixed: GenericData.Fixed => fixed.bytes().clone()
      case other => other.asInstanceOf[Array[Byte]]
    }
    case d: DecimalType => {
      case bb: ByteBuffer =>
        val out = new Array[Byte](bb.remaining())
        bb.duplicate().get(out)
        Decimal(BigDecimal(new java.math.BigInteger(out), d.scale), d.precision, d.scale)
      case other => throw new IllegalArgumentException(
        s"graft-avro: decimal column got ${other.getClass}")
    }
    case TimestampType | LongType => identity
    case DateType | IntegerType => identity
    case BooleanType | FloatType | DoubleType => identity
    case ArrayType(et, _) =>
      val conv = readConverter(et)
      (v: Any) => {
        val list = v.asInstanceOf[java.util.Collection[Any]].asScala
        new GenericArrayData(list.map(x => if (x == null) null else conv(x)).toArray)
      }
    case MapType(StringType, vt, _) =>
      val kConv = readConverter(StringType)
      val vConv = readConverter(vt)
      (v: Any) => {
        val entries = v.asInstanceOf[java.util.Map[Any, Any]].asScala.toSeq
        new ArrayBasedMapData(
          new GenericArrayData(entries.map(e => kConv(e._1)).toArray),
          new GenericArrayData(entries.map(e =>
            if (e._2 == null) null else vConv(e._2)).toArray))
      }
    case st: StructType =>
      val convs = st.fields.map(f => readConverter(f.dataType))
      (v: Any) => {
        val rec = v.asInstanceOf[GenericRecord]
        val out = new Array[Any](st.length)
        var i = 0
        while (i < out.length) {
          val x = rec.get(st.fields(i).name)
          out(i) = if (x == null) null else convs(i)(x)
          i += 1
        }
        new GenericInternalRow(out)
      }
    case t => throw new IllegalArgumentException(
      s"graft-avro: unsupported spark type ${t.sql}")
  }

  /** catalyst value (InternalRow accessor output) → avro value. */
  def writeConverter(dt: DataType): Any => Any = dt match {
    case StringType => v => v.asInstanceOf[UTF8String].toString
    case BinaryType => v => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
    case d: DecimalType =>
      v => ByteBuffer.wrap(
        v.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue().toByteArray)
    case BooleanType | IntegerType | LongType | FloatType | DoubleType
         | DateType | TimestampType => identity
    case ArrayType(et, _) =>
      val conv = writeConverter(et)
      v => {
        val arr = v.asInstanceOf[ArrayData].toObjectArray(et)
        arr.map(x => if (x == null) null else conv(x)).toList.asJava
      }
    case MapType(StringType, vt, _) =>
      val vConv = writeConverter(vt)
      v => {
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val keys = m.keyArray().toObjectArray(StringType)
        val vals = m.valueArray().toObjectArray(vt)
        val out = new util.HashMap[String, Any](keys.length)
        var i = 0
        while (i < keys.length) {
          out.put(keys(i).asInstanceOf[UTF8String].toString,
            if (vals(i) == null) null else vConv(vals(i)))
          i += 1
        }
        out
      }
    case st: StructType =>
      val avro = toAvro(st, "nested")
      val convs = st.fields.map(f => writeConverter(f.dataType))
      v => {
        val row = v.asInstanceOf[InternalRow]
        val rec = new GenericData.Record(avro)
        var i = 0
        while (i < st.length) {
          rec.put(i,
            if (row.isNullAt(i)) null
            else convs(i)(row.get(i, st.fields(i).dataType)))
          i += 1
        }
        rec
      }
    case t => throw new IllegalArgumentException(
      s"graft-avro: unsupported spark type ${t.sql}")
  }
}

/** Distributed Avro container-file writer: one `.avro` part file per
  * input partition, written executor-side through the Hadoop FS API —
  * rows never funnel through the driver, so writing scales with the
  * cluster exactly like a parquet write. `syncInterval` bounds block
  * size (and thereby read-split granularity); `deflate` enables the
  * bundled codec.
  */
object AvroFiles {

  def write(df: DataFrame, path: String, syncInterval: Int = 64 * 1024,
      deflate: Boolean = false): Unit = {
    val schema = df.schema
    val avroJson = AvroSchemaBridge.toAvro(schema).toString
    val confW = new SerializableWritable(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val out = new Path(path)
    val fs = out.getFileSystem(confW.value)
    fs.mkdirs(out)
    // overwrite semantics: a rerun with fewer partitions must not leave
    // stale part files behind to be double-read
    fs.listStatus(out).filter(_.getPath.getName.endsWith(".avro"))
      .foreach(s => fs.delete(s.getPath, false))
    val fieldTypes = schema.fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitionsWithIndex { (idx, rows) =>
      // part 0 always writes (schema must survive an empty frame);
      // other empty partitions skip their file
      if (rows.isEmpty && idx != 0) Iterator.empty
      else {
        val avroSchema = new AvroSchema.Parser().parse(avroJson)
        val convs = fieldTypes.map(AvroSchemaBridge.writeConverter)
        val file = new Path(path, f"part-$idx%05d.avro")
        val os = file.getFileSystem(confW.value).create(file, true)
        val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](avroSchema))
        w.setSyncInterval(syncInterval)
        if (deflate) w.setCodec(CodecFactory.deflateCodec(6))
        w.create(avroSchema, os)
        var n = 0L
        try {
          rows.foreach { row =>
            val rec = new GenericData.Record(avroSchema)
            var i = 0
            while (i < fieldTypes.length) {
              rec.put(i,
                if (row.isNullAt(i)) null
                else convs(i)(row.get(i, fieldTypes(i))))
              i += 1
            }
            w.append(rec)
            n += 1
          }
        } finally w.close()
        Iterator.single(n)
      }
    }.count() // action: drive the write
    // a zero-partition plan (empty LocalRelation) writes nothing above;
    // the schema must still survive, so emit one empty container file
    if (!fs.listStatus(out).exists(_.getPath.getName.endsWith(".avro"))) {
      val avroSchema = new AvroSchema.Parser().parse(avroJson)
      val os = fs.create(new Path(out, "part-00000.avro"), true)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](avroSchema))
      w.create(avroSchema, os)
      w.close()
    }
  }

  /** Read back through the V2 source. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-avro").load(path)
}
