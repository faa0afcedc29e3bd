package graft.avro

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}

import graft.model.Message

/** Avro wire codec for the 5-field message record.
  *
  * Mirrors the reference's deserializer
  * (AvroDeserializationSchema.java:35-50: GenericDatumReader + reused
  * BinaryDecoder, Utf8→String projection; lazy one-time reader init
  * :62-70); the column form is the native
  * [[graft.plans.AvroDecodeMessage]] expression built on [[decode]] —
  * `spark-avro`'s `from_avro` is not on the offline classpath, core
  * avro-1.12 is (SURVEY.md §7.4/§7.6).
  *
  * Thread-safety: decoder/reader instances are per-thread (the reference
  * could reuse one instance because Flink runs one record at a time per
  * task; Spark local mode shares the singleton object across task
  * threads).
  */
object AvroCodec extends Serializable {

  val schemaJson: String = {
    val in = getClass.getResourceAsStream("/graft/Message.avsc")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  @transient private lazy val schema: Schema =
    new Schema.Parser().parse(schemaJson)

  @transient private lazy val local =
    new ThreadLocal[(GenericDatumReader[GenericRecord], Array[BinaryDecoder])] {
      override def initialValue() =
        (new GenericDatumReader[GenericRecord](schema),
          new Array[BinaryDecoder](1))
    }

  /** byte[] → Message; throws on malformed input (fail-fast like
    * AvroDeserializationSchema.java:47-49).
    */
  def decode(bytes: Array[Byte]): Message = {
    val (reader, decHolder) = local.get()
    val dec = DecoderFactory.get().binaryDecoder(bytes, decHolder(0))
    decHolder(0) = dec
    val rec = reader.read(null, dec)
    Message(
      msgId = rec.get("msgId").toString,
      username = rec.get("username").toString,
      jid = rec.get("jid").toString,
      stanza = rec.get("stanza").toString,
      sentTime = rec.get("sentTime").asInstanceOf[Long]
    )
  }

  /** Message → wire bytes (test-side encoder; the reference's producers
    * lived outside the repo).
    */
  def encode(msg: Message): Array[Byte] = {
    val writer = new GenericDatumWriter[GenericRecord](schema)
    val out = new ByteArrayOutputStream()
    val enc: BinaryEncoder = EncoderFactory.get().binaryEncoder(out, null)
    val rec = new GenericData.Record(schema)
    rec.put("msgId", msg.msgId)
    rec.put("username", msg.username)
    rec.put("jid", msg.jid)
    rec.put("sentTime", msg.sentTime)
    rec.put("stanza", msg.stanza)
    writer.write(rec, enc)
    enc.flush()
    out.toByteArray
  }
}
