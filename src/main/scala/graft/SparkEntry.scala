package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MessageFunctions._
import graft.operators.Intermediates
import graft.pipeline.{Enrich, GraftConfig}
import graft.queries._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * Exercises the reference's whole hot path in one plan: decode-stand-in
    * → enrich (month bucket, AES-CBC encrypt, null-drop) → month-filtered
    * read-back with decryption (the "message history for a user, by
    * month" use case, SURVEY.md §7.2).
    */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = GraftConfig.dev
    val enriched = Enrich(Tables.messages(spark, "/root/testdata/sf0.001"), cfg)
    enriched
      .filter(col("date_partition") === "202401M")
      .withColumn("stanza_plain",
        decryptStanza(col("stanza"), cfg.encryptionKey, cfg.initVector))
  }

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Lifecycle: a registry frame stays valid until the next registry
    * build in that session (each build first runs
    * [[graft.operators.Intermediates.release]]).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (MessageQueries.queries ++ RelationalQueries.queries ++ TpchQueries.queries ++
      EventQueries.queries ++ TextQueries.queries ++ DedupQueries.queries ++
      SimilarityQueries.queries ++ PipelineQueries.queries ++
      TrainingDataQueries.queries).map { case (name, build) =>
      name -> ((s: SparkSession, d: String) => { Intermediates.release(s); build(s, d) })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    MessageQueries.oracleSql ++ RelationalQueries.oracleSql ++ TpchQueries.oracleSql ++
      EventQueries.oracleSql ++ TextQueries.oracleSql ++ DedupQueries.oracleSql ++
      SimilarityQueries.oracleSql ++ PipelineQueries.oracleSql ++
      TrainingDataQueries.oracleSql
}
