package graft.model

import org.apache.spark.sql.types._

/** Core data model of the engine.
  *
  * Mirrors the reference's wire/in-flight/output contracts
  * (reference: src/main/java/com/cansever/consumer/message/MessageObject.java:6-61,
  * src/main/resources/Message.avsc:1-11,
  * CassandraOutputFormat.java:87-95) re-expressed as Spark types.
  */
final case class Message(
    msgId: String,
    username: String,
    jid: String,
    stanza: String,
    sentTime: Long // epoch millis (CassandraOutputFormat.java:103)
)

object Schemas {
  /** Wire/in-flight schema (Message.avsc:1-11 == MessageObject fields). */
  val message: StructType = StructType(Seq(
    StructField("msgId", StringType),
    StructField("username", StringType),
    StructField("jid", StringType),
    StructField("stanza", StringType),
    StructField("sentTime", LongType)
  ))

  /** Detail output schema (CassandraOutputFormat.java:87-89,121). */
  val history: StructType = StructType(Seq(
    StructField("message_id", StringType),
    StructField("username", StringType),
    StructField("jid", StringType),
    StructField("date_partition", StringType),
    StructField("sent_time", TimestampType),
    StructField("stanza", StringType)
  ))
}

/** Message-category taxonomy (reference: message/MessageType.java:6-24).
  * 18 declared constants over 16 distinct codes; `P` and `M` each carry
  * two names — first declaration wins for code→name.
  */
object MessageTypes {
  /** (name, code) for each constant, in declaration order. */
  private val constants: Seq[(String, String)] = Seq(
    "TEXT" -> "T", "BUZZ" -> "B", "PHOTO" -> "P", "IMAGE" -> "P",
    "VIDEO" -> "V", "AUDIO" -> "A", "LOCATION" -> "L", "CONTACT" -> "C",
    "STICKER" -> "S", "GIF" -> "G", "CAPS_MEME" -> "M", "CAPS" -> "M",
    "REGISTER" -> "R", "MUCROOM_JOIN" -> "J",
    "MESSAGE_WITHOUT_PREVIEW" -> "NP", "SECRET_MESSAGE" -> "E",
    "INCOMING_CALL" -> "IC", "MISSED_CALL" -> "MC"
  )

  val nameToCode: Map[String, String] = constants.toMap

  /** code → canonical (first-declared) name. */
  val codeToName: Map[String, String] = constants.distinctBy(_._2).map(_.swap).toMap
}
