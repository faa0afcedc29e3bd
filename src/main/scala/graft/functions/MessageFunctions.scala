package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.model.MessageTypes
import graft.plans.AesCbc

/** Pure-`Column` scalar layer: every scalar the reference computes,
  * re-expressed as codegen'd Spark built-ins (no UDFs on the hot path);
  * the cipher is one static call per row (graft.plans.AesCbc).
  *
  * Reference sites:
  *  - AES-CBC encrypt/decrypt: Encryptor.java:15-43 (key/IV are 16-byte
  *    ASCII strings; ciphertext is Base64 with NO IV prefix)
  *  - month bucket: CassandraOutputFormat.java:56,106 (`yyyyMM` + "M")
  *  - epoch millis → timestamp: CassandraOutputFormat.java:103
  *  - type taxonomy: message/MessageType.java:6-24
  */
object MessageFunctions {

  /** Epoch-millis long → TimestampType (CassandraOutputFormat.java:103). */
  def sentTs(millis: Column): Column = timestamp_millis(millis)

  /** Month partition key: `yyyyMM` of the timestamp + literal "M"
    * (CassandraOutputFormat.java:106). Session TZ is pinned UTC; the
    * reference used the JVM default zone (SURVEY.md §7.5.2).
    */
  def datePartition(ts: Column): Column =
    concat(date_format(ts, "yyyyMM"), lit("M"))

  // --- AES-128-CBC-PKCS5, byte-parity with Encryptor.java ---------------
  //
  // One static call per row of graft.plans.AesCbc (a cached Cipher per
  // thread); Base64 is unwrapped, as the reference emits it
  // (Encryptor.java:22). Null in, null out.

  /** Base64(AES-128-CBC-PKCS5(plaintext)) under an explicit key/IV —
    * identical bytes to Encryptor.encrypt (Encryptor.java:15-28).
    */
  def encryptStanza(plain: Column, key: String, iv: String): Column =
    AesCbc.encrypt(plain, key, iv)

  /** Inverse of [[encryptStanza]] (Encryptor.java:30-43): Base64 in (line
    * wrapping allowed), UTF-8 string out. Fails the query on input that
    * does not decrypt.
    */
  def decryptStanza(enc: Column, key: String, iv: String): Column =
    AesCbc.decrypt(enc, key, iv)

  /** Lenient variant: null (instead of error) on undecryptable input,
    * malformed Base64 included, mirroring Encryptor's catch-all → null
    * (Encryptor.java:23-27).
    */
  def tryDecryptStanza(enc: Column, key: String, iv: String): Column =
    AesCbc.tryDecrypt(enc, key, iv)

  // --- message-type taxonomy (MessageType.java:6-24) --------------------

  private def mapLit(m: Map[String, String]): Column =
    map(m.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  /** code → canonical name ("T" → "TEXT"); null for unknown codes. */
  def classifyType(code: Column): Column =
    element_at(mapLit(MessageTypes.codeToName), code)

  // --- XMPP stanza parsing (XmppPacketReader.java:308-435) --------------

  /** Default stanza projection schema: the common XMPP message shape.
    * Namespace suppression (XmppPacketReader.java:373-378) is modeled by
    * simply not projecting xmlns attributes.
    */
  val stanzaSchema: String =
    "_to STRING, _from STRING, _type STRING, _id STRING, body STRING, subject STRING"

  /** Parse a stanza XML string into a struct column (SURVEY.md §2.5 M1;
    * replaces the reference's 890-LoC pull-parser with Spark's from_xml).
    */
  def parseStanza(stanza: Column): Column =
    from_xml(stanza, lit(stanzaSchema))

  /** The reference's tolerant char policy (MXParser.java:378-382) widened
    * the legal XML range to 0x20–0xFFFD to admit emoji; as a column-level
    * validator we flag strings containing chars outside that policy
    * (plus tab/CR/LF which XML always allows).
    */
  def hasIllegalXmlChars(s: Column): Column =
    s.rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\uFFFE\\uFFFF]")
}
