package graft.functions

import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks._

import graft.SparkSpec
import graft.functions.MessageFunctions._
import graft.model.MessageTypes

class MessageFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val key = "0123456789abcdef"
  private val iv = "fedcba9876543210"

  /** Independent JCE oracle with the reference's exact cipher config
    * (Encryptor.java:15-28: AES/CBC/PKCS5Padding, raw ASCII key/IV,
    * Base64 of ciphertext only).
    */
  private def jce(mode: Int, k: String, v: String): Cipher = {
    val c = Cipher.getInstance("AES/CBC/PKCS5PADDING")
    c.init(mode, new SecretKeySpec(k.getBytes("UTF-8"), "AES"),
      new IvParameterSpec(v.getBytes("UTF-8")))
    c
  }

  private def jceEncrypt(plain: String): String = jceEncrypt(plain, key, iv)

  private def jceEncrypt(plain: String, k: String, v: String): String =
    java.util.Base64.getEncoder.encodeToString(
      jce(Cipher.ENCRYPT_MODE, k, v).doFinal(plain.getBytes("UTF-8")))

  test("encryptStanza is byte-identical to the reference's JCE cipher") {
    // every length 0–48 crosses each PKCS5 block boundary
    val plains = Seq("hello", "", "çok güzel ☺", "emoji 😀 ok",
      "<message to='a@b'><body>hi</body></message>", "x" * 1000) ++
      (1 to 48).map("a" * _) ++ Seq("ü" * 17, "😀" * 9, "日本語のメッセージ 🎉")
    val got = plains.toDF("p")
      .select(encryptStanza($"p", key, iv).as("e")).as[String].collect()
    assert(got.toSeq == plains.map(jceEncrypt))
  }

  test("decrypt(encrypt(s)) == s for unicode incl. emoji") {
    val plains = Seq("a", "tab\tchar", "multi\nline", "☃ 😀🎉", "{\"k\": 1}") ++
      (0 to 48).map("b" * _) ++ Seq("y" * 1000)
    val got = plains.toDF("p")
      .select(decryptStanza(encryptStanza($"p", key, iv), key, iv).as("d"))
      .as[String].collect()
    assert(got.toSeq == plains)
  }

  test("tryDecryptStanza yields null on garbage, not an error") {
    val got = Seq("definitely-not-ciphertext!")
      .toDF("e").select(tryDecryptStanza($"e", key, iv)).collect()
    assert(got.head.isNullAt(0))
  }

  // --- the per-thread cipher (graft.plans.AesCbc) --------------------------

  /** Base64 of 16 bytes that the JCE oracle refuses under (key, iv): the
    * last block's PKCS5 padding is invalid.
    */
  private val badPadding: String = {
    val d = jce(Cipher.DECRYPT_MODE, key, iv)
    Iterator.from(0).map(i => java.util.Arrays.copyOf(s"block-$i".getBytes("UTF-8"), 16))
      .find(b => scala.util.Try(d.doFinal(b)).isFailure)
      .map(java.util.Base64.getEncoder.encodeToString).get
  }

  test("interpreted evaluation (no codegen) gives the same bytes") {
    val plains = Seq("", "a" * 15, "a" * 16, "emoji 😀 ok")
    val conf = spark.conf
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val got = plains.toDF("p").select(encryptStanza($"p", key, iv),
        decryptStanza(encryptStanza($"p", key, iv), key, iv)).as[(String, String)].collect()
      assert(got.toSeq == plains.map(p => (jceEncrypt(p), p)))
      assert(Seq(badPadding).toDF("e").select(tryDecryptStanza($"e", key, iv)).head().isNullAt(0))
    } finally {
      conf.unset("spark.sql.codegen.factoryMode")
      conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("null in gives null out for encrypt, decrypt and tryDecrypt") {
    val row = Seq(Option.empty[String]).toDF("s").select(
      encryptStanza($"s", key, iv), decryptStanza($"s", key, iv),
      tryDecryptStanza($"s", key, iv)).head()
    assert((0 until 3).forall(row.isNullAt))
  }

  test("76-column-wrapped Base64 decrypts the same as unwrapped") {
    val plain = "<message to='a@b'><body>" + "wrap me " * 40 + "</body></message>"
    val flat = jceEncrypt(plain)
    val wrapped = flat.grouped(76).mkString("\r\n")
    assert(flat.length > 152 && wrapped.contains("\r\n"))
    val got = Seq(flat, wrapped).toDF("e")
      .select(decryptStanza($"e", key, iv), tryDecryptStanza($"e", key, iv))
      .as[(String, String)].collect()
    assert(got.toSeq == Seq((plain, plain), (plain, plain)))
  }

  test("garbage: decryptStanza fails the query, tryDecryptStanza yields null") {
    for (garbage <- Seq(badPadding, "QUJD", "a===", "definitely-not-ciphertext!")) {
      val df = Seq(garbage).toDF("e")
      intercept[Exception](df.select(decryptStanza($"e", key, iv)).collect())
      assert(df.select(tryDecryptStanza($"e", key, iv)).head().isNullAt(0), garbage)
    }
  }

  test("a failed row does not poison the next rows of its task") {
    val plains = (1 to 20).map(i => s"after the failure $i")
    val rows = (badPadding +: "QUJD" +: plains.map(jceEncrypt(_))).zipWithIndex
    // one partition: the same task thread decrypts the garbage rows first
    val got = rows.toDF("e", "i").coalesce(1)
      .select($"i", tryDecryptStanza($"e", key, iv).as("d")).as[(Int, String)]
      .collect().sortBy(_._1).map(_._2).toSeq
    assert(got == Seq(null, null) ++ plains)
  }

  test("two key/IV pairs in one select: each column equals its own JCE oracle") {
    val (key2, iv2) = ("ABCDEFGHIJKLMNOP", "0000111122223333")
    val plains = (0 until 64).map(i => s"stanza $i " + "z" * (i % 33))
    val got = plains.toDF("p").repartition(4).select($"p",
      encryptStanza($"p", key, iv).as("e1"), encryptStanza($"p", key2, iv2).as("e2"),
      decryptStanza(encryptStanza($"p", key2, iv2), key2, iv2).as("d2"))
      .as[(String, String, String, String)].collect()
    assert(got.length == plains.length)
    got.foreach { case (p, e1, e2, d2) =>
      assert(e1 == jceEncrypt(p) && e2 == jceEncrypt(p, key2, iv2) && d2 == p, p)
      assert(e1 != e2)
    }
  }

  test("datePartition matches reference yyyyMM + M semantics (UTC)") {
    val cases = Table(
      ("millis", "expected"),
      (0L, "197001M"), // epoch
      (1704067199999L, "202312M"), // 2023-12-31T23:59:59.999Z
      (1704067200000L, "202401M"), // 2024-01-01T00:00:00.000Z
      (-1L, "196912M"), // pre-epoch
      (4102444800000L, "210001M") // far future
    )
    forAll(cases) { (ms, exp) =>
      val got = Seq(ms).toDF("ms")
        .select(datePartition(sentTs($"ms"))).as[String].head()
      assert(got == exp, s"for millis=$ms")
    }
  }

  test("message-type maps are total over the 18 reference constants") {
    assert(MessageTypes.nameToCode.size == 18)
    assert(MessageTypes.codeToName.size == 16) // P and M collapse
    assert(MessageTypes.nameToCode("PHOTO") == "P" && MessageTypes.nameToCode("IMAGE") == "P")
    assert(MessageTypes.codeToName("P") == "PHOTO") // first-declared wins
    assert(MessageTypes.codeToName("M") == "CAPS_MEME")
    // every declared code classifies through the Column path
    val codes = MessageTypes.codeToName.keys.toSeq
    val got = codes.toDF("c").select(classifyType($"c").as("n")).as[String].collect()
    assert(got.toSet == MessageTypes.codeToName.values.toSet)
  }

  test("classifyType yields null for unknown codes") {
    val got = Seq("ZZ").toDF("c").select(classifyType($"c")).collect()
    assert(got.head.isNullAt(0))
  }

  test("parseStanza projects XMPP message fields; xmlns suppressed by schema") {
    val xml = """<message xmlns="jabber:client" to="alice@x" from="bob@x" type="chat" id="m1"><body>hi ☺</body></message>"""
    val row = Seq(xml).toDF("s").select(parseStanza($"s").as("p")).select("p.*")
    val r = row.collect().head
    assert(r.getAs[String]("_to") == "alice@x")
    assert(r.getAs[String]("_from") == "bob@x")
    assert(r.getAs[String]("body") == "hi ☺")
  }

  test("illegal XML control chars are flagged; emoji admitted (MXParser policy)") {
    val got = Seq("ok 😀 text", "bad \u0001 char", "tab\tok")
      .toDF("s").select(hasIllegalXmlChars($"s")).as[Boolean].collect()
    assert(got.toSeq == Seq(false, true, false))
  }

  // --- MXParser edge-case parity (XmppPacketReader.java:308-435 /
  // MXParser.java:44-344): the reference's hand-written pull parser
  // handles CDATA sections, the five predefined entities, numeric char
  // refs (incl. supplementary-plane emoji), comments, and processing
  // instructions. from_xml must cover the same inputs.

  test("CDATA section bodies survive (MXParser parseCDSect parity, modulo edge trim)") {
    // documented delta vs the reference: MXParser preserves CDATA
    // verbatim; from_xml trims SURROUNDING whitespace of element text.
    // Interior markup characters — the thing CDATA exists for — survive
    // exactly, which is the semantics message bodies rely on
    val xml = """<message to="a@x"><body><![CDATA[<not> & "markup" ]]></body></message>"""
    val r = Seq(xml).toDF("s").select(parseStanza($"s").as("p")).select("p.*")
      .collect().head
    assert(r.getAs[String]("body") == """<not> & "markup"""")
  }

  test("predefined entities and numeric char refs decode (parseEntityRef parity)") {
    val xml = "<message to=\"a@x\"><body>&lt;tag&gt; &amp; &quot;q&quot; &apos;a&apos; &#128512; &#x1F600;</body></message>"
    val r = Seq(xml).toDF("s").select(parseStanza($"s").as("p")).select("p.*")
      .collect().head
    assert(r.getAs[String]("body") == "<tag> & \"q\" 'a' \uD83D\uDE00 \uD83D\uDE00")
  }

  test("comments and an XML declaration around the stanza are tolerated") {
    val xml = """<?xml version="1.0" encoding="UTF-8"?><!-- relay --><message to="a@x"><!-- mid --><body>hi</body></message>"""
    val r = Seq(xml).toDF("s").select(parseStanza($"s").as("p")).select("p.*")
      .collect().head
    assert(r.getAs[String]("_to") == "a@x")
    assert(r.getAs[String]("body") == "hi")
  }

  test("malformed stanzas parse to null fields, never throw (tolerant-reader parity)") {
    val bad = Seq("<message><body>unclosed", "not xml at all", "")
    val rows = bad.toDF("s").select(parseStanza($"s").as("p")).select("p.*")
      .collect()
    assert(rows.length == 3) // no exception; per-row nulls
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("body")) ||
      r.getAs[String]("body") == null))
  }
}
