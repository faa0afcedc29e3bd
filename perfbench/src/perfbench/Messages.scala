package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, YearMonth, ZoneOffset}

import scala.collection.mutable.ArrayBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One generated message, exactly as the producer sends it. */
final case class Msg(msgId: String, username: String, jid: String, sentTime: Long, stanza: String) {
  def month: String = Messages.monthOf(sentTime)
}

/** Shape of a generated message backlog. */
final case class Traffic(
    files: Int,             // wire files (one micro-batch each under catch-up)
    perFile: Int,           // records per wire file, redeliveries included
    users: Int = 4000,      // sender population (Zipf-ranked)
    zipfS: Double = 1.1,
    lateShare: Double = 0.02,
    redeliveryShare: Double = 0.01,
    spanDays: Int = 24      // sentTime range; always crosses a month boundary
)

/** Seeded message traffic, its Avro wire encoding, and the expected
  * tables derived from the generated records alone (never from program
  * code), checked with the JDK's own AES/CBC.
  */
object Messages {
  val key = "perfbench-key-16"
  val iv = "perfbench-iv-016"
  val wireSchema: StructType = StructType(Seq(StructField("value", BinaryType)))

  def monthOf(millis: Long): String = {
    val d = Instant.ofEpochMilli(millis).atZone(ZoneOffset.UTC)
    f"${d.getYear}%04d${d.getMonthValue}%02dM"
  }

  private val words = Seq("ok", "see", "you", "at", "the", "meeting", "tomorrow", "send",
    "me", "photo", "please", "thanks", "lunch", "call", "later", "where", "are", "running",
    "late", "café", "straße", "über", "naïve", "😀", "👍", "<b>", "&", "\"quoted\"", "déjà",
    "vu", "report", "deadline", "weekend", "train", "ticket", "price", "address", "link")

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** Generate the backlog: `files` groups of `perFile` records in send order. */
  def generate(seed: Long, t: Traffic): IndexedSeq[IndexedSeq[Msg]] = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val cdf = {
      val w = (1 to t.users).map(r => 1.0 / math.pow(r, t.zipfS))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sender(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(t.users - 1, if (i >= 0) i else -i - 1)
    }
    val contacts = Array.tabulate(t.users) { u =>
      val r = new java.util.SplittableRandom(seed * 31 + u)
      Array.fill(1 + r.nextInt(6))(s"u${r.nextInt(t.users)}@chat.example")
    }
    // start 12 days before a seed-chosen month boundary in 2023-2024
    val boundary = YearMonth.of(2023, 1).plusMonths(1 + (seed & 0x7fffffff) % 23)
    val start = boundary.atDay(1).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli - 12L * 86400000L
    val total = t.files.toLong * t.perFile
    val step = t.spanDays * 86400000L / total
    val seen = new java.util.HashSet[String]()
    val out = ArrayBuffer[Msg]()
    var i = 0L
    while (i < total) {
      val redeliver = out.nonEmpty && rng.nextDouble() < t.redeliveryShare
      if (redeliver) {
        // at-least-once: an identical record from the last two files' worth
        out += out(out.size - 1 - rng.nextInt(math.min(out.size, 2 * t.perFile)))
      } else {
        val u = sender()
        val now = start + i * step + rng.nextLong(step)
        val sent =
          if (rng.nextDouble() < t.lateShare) {
            val prev = YearMonth.from(Instant.ofEpochMilli(now).atZone(ZoneOffset.UTC)).minusMonths(1)
            val p0 = prev.atDay(1).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
            p0 + rng.nextLong(prev.lengthOfMonth() * 86400000L)
          } else now
        var id = f"m-${rng.nextLong()}%016x"
        while (!seen.add(id)) id = f"m-${rng.nextLong()}%016x"
        val user = s"u$u"
        val jid = contacts(u)(rng.nextInt(contacts(u).length))
        val nWords = 15 + rng.nextInt(80)
        val body = Seq.fill(nWords)(words(rng.nextInt(words.size))).mkString(" ")
        val stanza = s"""<message xmlns="jabber:client" from="$user@chat.example/m${rng.nextInt(4)}" """ +
          s"""to="$jid" type="chat" id="$id"><body>${xmlEscape(body)}</body>""" +
          s"""<thread>t${rng.nextInt(1000)}</thread></message>"""
        out += Msg(id, user, jid, sent, stanza)
      }
      i += 1
    }
    out.toIndexedSeq.grouped(t.perFile).toIndexedSeq
  }

  /** Plain Avro binary encoding against the program's `Message.avsc`. */
  final class Encoder {
    private val schema = {
      val in = getClass.getResourceAsStream("/graft/Message.avsc")
      try new Schema.Parser().parse(in) finally in.close()
    }
    private val writer = new GenericDatumWriter[GenericRecord](schema)
    private val buf = new ByteArrayOutputStream()
    private var enc: org.apache.avro.io.BinaryEncoder = null
    def apply(m: Msg): Array[Byte] = {
      val r = new GenericData.Record(schema)
      r.put("msgId", m.msgId); r.put("username", m.username); r.put("jid", m.jid)
      r.put("sentTime", m.sentTime); r.put("stanza", m.stanza)
      buf.reset()
      enc = EncoderFactory.get().binaryEncoder(buf, enc)
      writer.write(r, enc)
      enc.flush()
      buf.toByteArray
    }
  }

  private val wireParquet = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("message wire { optional binary value; }")

  /** Encode every file group into one parquet wire file each, staged as
    * `<dir>/f00000.parquet`, ... with strictly increasing modification
    * times (the file source orders new files by them). Single-threaded:
    * the load generator never competes with the pipeline for cores.
    */
  def stage(groups: IndexedSeq[IndexedSeq[Msg]], dir: String): Seq[java.io.File] = {
    val enc = new Encoder
    val base = System.currentTimeMillis() - 3600000L
    groups.zipWithIndex.map { case (g, f) =>
      val dst = new java.io.File(dir, f"f$f%05d.parquet")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.parquet.io.LocalOutputFile(dst.toPath))
        .withType(wireParquet)
        .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      val rows = new org.apache.parquet.example.data.simple.SimpleGroupFactory(wireParquet)
      try g.foreach { m =>
        w.write(rows.newGroup().append("value", org.apache.parquet.io.api.Binary.fromConstantByteArray(enc(m))))
      } finally w.close()
      dst.setLastModified(base + f * 1000L)
      dst
    }
  }

  /** Distinct records by msgId (redeliveries are identical copies). */
  def distinct(groups: Iterable[Iterable[Msg]]): Seq[Msg] = {
    val m = new java.util.LinkedHashMap[String, Msg]()
    groups.foreach(_.foreach(x => m.putIfAbsent(x.msgId, x)))
    scala.jdk.CollectionConverters.CollectionHasAsScala(m.values()).asScala.toSeq
  }

  /** Order-independent fingerprint of a row set: (rows, sum of two
    * 32-bit murmur hashes packed per row) — equal sets give equal pairs.
    */
  def rowHash(fields: String*): Long = {
    val s = fields.mkString("\u0001")
    (scala.util.hashing.MurmurHash3.stringHash(s, 7).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 11).toLong & 0xffffffffL)
  }

  def detailKey(m: Msg): Long =
    rowHash(m.msgId, m.username, m.jid, m.month, m.sentTime.toString, m.stanza)

  def summaryKey(user: String, jid: String, month: String): Long = rowHash(user, jid, month)

  def decryptJdk(b64: String): String = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key.getBytes(UTF_8), "AES"),
      new javax.crypto.spec.IvParameterSpec(iv.getBytes(UTF_8)))
    new String(c.doFinal(java.util.Base64.getDecoder.decode(b64)), UTF_8)
  }

  /** Check both tables against the generated records; returns the
    * failed checks (empty when the tables are exactly as expected).
    */
  def checkTables(spark: SparkSession, detailPath: String, summaryPath: String,
      sent: Seq[Msg]): Seq[String] = {
    val expect = distinct(Seq(sent))
    val expDetail = (expect.size.toLong, expect.map(m => BigInt(detailKey(m))).sum)
    val expSummarySet = expect.map(m => (m.username, m.jid, m.month)).toSet
    val expSummary = (expSummarySet.size.toLong,
      expSummarySet.toSeq.map { case (u, j, mo) => BigInt(summaryKey(u, j, mo)) }.sum)

    val detail = spark.read.parquet(detailPath)
      .select(col("message_id"), col("username"), col("jid"), col("date_partition"),
        expr("unix_micros(sent_time) div 1000").as("ms"), col("stanza"))
    val gotDetail = detail.rdd.mapPartitions { it =>
      var n = 0L; var s = BigInt(0)
      it.foreach { r =>
        val plain = decryptJdk(r.getString(5))
        s += rowHash(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
          r.getLong(4).toString, plain)
        n += 1
      }
      Iterator((n, s))
    }.collect().foldLeft((0L, BigInt(0))) { case ((a, b), (c, d)) => (a + c, b + d) }
    val distinctIds = detail.select("message_id").distinct().count()

    val summary = spark.read.parquet(summaryPath)
    val gotSummary = summary.rdd.mapPartitions { it =>
      var n = 0L; var s = BigInt(0)
      it.foreach { r =>
        s += summaryKey(r.getAs[String]("username"), r.getAs[String]("jid"),
          r.getAs[String]("first_date_partition"))
        n += 1
      }
      Iterator((n, s))
    }.collect().foldLeft((0L, BigInt(0))) { case ((a, b), (c, d)) => (a + c, b + d) }

    Seq(
      (gotDetail._1 == expDetail._1) -> s"detail rows ${gotDetail._1} != expected ${expDetail._1}",
      (distinctIds == gotDetail._1) -> s"detail has ${gotDetail._1 - distinctIds} duplicate message_id rows",
      (gotDetail._2 == expDetail._2) -> "detail content (id, user, jid, month, time, decrypted stanza) differs from the generated records",
      (gotSummary._1 == expSummary._1) -> s"summary rows ${gotSummary._1} != expected distinct ${expSummary._1}",
      (gotSummary._2 == expSummary._2) -> "summary (username, jid, month) set differs from the generated records"
    ).collect { case (false, why) => why }
  }
}

object Fs {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
    ()
  }

  /** (bytes, data files) under `dir`, counting parquet files only as files. */
  def usage(dir: java.io.File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), if (dir.getName.endsWith(".parquet")) 1L else 0L)
    else dir.listFiles().map(usage).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
