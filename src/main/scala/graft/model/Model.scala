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

  /** Summary output schema (CassandraOutputFormat.java:95). */
  val summary: StructType = StructType(Seq(
    StructField("username", StringType),
    StructField("jid", StringType),
    StructField("first_date_partition", StringType)
  ))
}

/** Message-category taxonomy (reference: message/MessageType.java:6-24).
  * 18 declared constants over 16 distinct codes; `P` and `M` each carry
  * two names — first declaration wins for code→name.
  */
object MessageTypes {
  val nameToCode: Map[String, String] = Map(
    "TEXT" -> "T", "BUZZ" -> "B", "PHOTO" -> "P", "IMAGE" -> "P",
    "VIDEO" -> "V", "AUDIO" -> "A", "LOCATION" -> "L", "CONTACT" -> "C",
    "STICKER" -> "S", "GIF" -> "G", "CAPS_MEME" -> "M", "CAPS" -> "M",
    "REGISTER" -> "R", "MUCROOM_JOIN" -> "J",
    "MESSAGE_WITHOUT_PREVIEW" -> "NP", "SECRET_MESSAGE" -> "E",
    "INCOMING_CALL" -> "IC", "MISSED_CALL" -> "MC"
  )

  /** code → canonical (first-declared) name. */
  val codeToName: Map[String, String] = Map(
    "T" -> "TEXT", "B" -> "BUZZ", "P" -> "PHOTO", "V" -> "VIDEO",
    "A" -> "AUDIO", "L" -> "LOCATION", "C" -> "CONTACT", "S" -> "STICKER",
    "G" -> "GIF", "M" -> "CAPS_MEME", "R" -> "REGISTER",
    "J" -> "MUCROOM_JOIN", "NP" -> "MESSAGE_WITHOUT_PREVIEW",
    "E" -> "SECRET_MESSAGE", "IC" -> "INCOMING_CALL", "MC" -> "MISSED_CALL"
  )
}
