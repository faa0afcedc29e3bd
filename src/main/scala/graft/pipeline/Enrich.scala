package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.MessageFunctions._

/** Engine configuration (replaces the reference's hard-coded constants at
  * CassandraOutputFormat.java:39-40). Key/IV are injected, never inlined.
  * The reference's `record.ttl` property (BackupMessageConsumer.java:46-51)
  * has no counterpart: the pipeline applies no TTL (`graft.sink.Retention`
  * is the library form).
  */
final case class GraftConfig(
    encryptionKey: String,
    initVector: String
) {
  require(encryptionKey.getBytes("UTF-8").length == 16, "AES-128 needs a 16-byte key")
  require(initVector.getBytes("UTF-8").length == 16, "CBC needs a 16-byte IV")
}

object GraftConfig {
  /** Test/dev default (same *shape* as the reference's 16-ASCII-byte
    * constants; deliberately different values — secrets are config).
    */
  val dev: GraftConfig = GraftConfig("0123456789abcdef", "fedcba9876543210")
}

/** The reference's entire hot path as one narrow Catalyst plan:
  * project → derive month partition → AES-encrypt stanza → drop
  * failed-encryption rows (writeRecord, CassandraOutputFormat.java:101-137).
  *
  * Input schema: (msgId, username, jid, stanza, sentTime epoch-millis) —
  * i.e. a decoded message stream. Output schema: Schemas.history.
  * No shuffle anywhere: at 100 TB this pipeline is a pure map stage that
  * scales linearly with executors.
  *
  * Catalyst pushes the F1 filter (`isnotnull(stanza)` on the encrypted
  * value) below the project, so the optimized plan holds the cipher call
  * twice and each row is encrypted twice: once in the filter, once in
  * the projection.
  */
object Enrich {

  def apply(messages: DataFrame, cfg: GraftConfig): DataFrame =
    plain(messages)
      .withColumn("stanza", encryptStanza(col("stanza"), cfg.encryptionKey, cfg.initVector))
      .filter(col("stanza").isNotNull) // F1: null-drop after encryption

  /** Plaintext variant (no crypto) — the SQL-expressible core used for
    * oracle verification; encryption correctness is covered by golden
    * vectors + round-trip property tests instead.
    */
  def plain(messages: DataFrame): DataFrame = {
    val ts = sentTs(col("sentTime"))
    messages.select(
      col("msgId").as("message_id"),
      col("username"),
      col("jid"),
      datePartition(ts).as("date_partition"),
      ts.as("sent_time"),
      col("stanza")
    )
  }

  /** The summary distinct set (A1, CassandraOutputFormat.java:95,108):
    * converged value of upserting (username, jid, date_partition) per
    * record. Map-side partial aggregation collapses duplicates before the
    * shuffle, so this stays cheap at scale.
    */
  def summary(history: DataFrame): DataFrame =
    history.select(col("username"), col("jid"),
      col("date_partition").as("first_date_partition")).distinct()
}
