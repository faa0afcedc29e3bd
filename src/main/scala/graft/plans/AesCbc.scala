package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's stanza cipher (Encryptor.java:15-43) as one static
  * call per row: AES/CBC/PKCS5Padding under a fixed key/IV, Base64 of
  * the ciphertext alone (no IV prefix, never line-wrapped).
  *
  * Spark's `aes_encrypt` / `aes_decrypt` run `Cipher.getInstance` +
  * `init` on every row (~10 µs, against < 1 µs of cipher work on a
  * 500-byte stanza). Here each thread keeps one initialized `Cipher` per
  * (mode, key, IV): a non-AEAD CBC cipher returns to its init IV after
  * every `doFinal`, so a reused cipher yields the same bytes as a fresh
  * one. A cipher whose call threw is dropped from its thread's cache, so
  * a failed row leaves no state behind for the next.
  *
  * The columns plan to `StaticInvoke`, the node Spark's own `aes_*`
  * plans to, and keep `returnNullable`: a null check on the result (the
  * F1 filter of [[graft.pipeline.Enrich]]) stays in the plan.
  */
object AesCbc {

  private final class Slot(val mode: Int, val key: Array[Byte], val iv: Array[Byte], val cipher: Cipher)

  /** Distinct (mode, key, IV) triples one thread keeps; the oldest goes first. */
  private val MaxSlots = 8

  private val slots = ThreadLocal.withInitial[java.util.ArrayList[Slot]](() => new java.util.ArrayList[Slot](2))

  private def cipher(mode: Int, key: Array[Byte], iv: Array[Byte]): Cipher = {
    val cached = slots.get()
    var i = 0
    while (i < cached.size) {
      val s = cached.get(i)
      if (s.mode == mode && java.util.Arrays.equals(s.key, key) && java.util.Arrays.equals(s.iv, iv))
        return s.cipher
      i += 1
    }
    val c = Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(mode, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    if (cached.size >= MaxSlots) cached.remove(0)
    cached.add(new Slot(mode, key.clone(), iv.clone(), c))
    c
  }

  private def run(mode: Int, key: Array[Byte], iv: Array[Byte], in: Array[Byte]): Array[Byte] = {
    val c = cipher(mode, key, iv)
    var ok = false
    try { val out = c.doFinal(in); ok = true; out }
    finally if (!ok) slots.get().removeIf(_.cipher eq c)
  }

  /** Base64(AES-CBC(UTF-8 bytes of `plain`)): Encryptor.encrypt. */
  def aesEncrypt(plain: UTF8String, key: Array[Byte], iv: Array[Byte]): UTF8String =
    UTF8String.fromBytes(Base64.getEncoder.encode(run(Cipher.ENCRYPT_MODE, key, iv, plain.getBytes)))

  /** Inverse of [[aesEncrypt]]. Decodes with the MIME decoder (the one
    * Spark's `unbase64` uses), so line-wrapped Base64 decodes too.
    * Throws on input that does not decrypt.
    */
  def aesDecrypt(enc: UTF8String, key: Array[Byte], iv: Array[Byte]): UTF8String =
    try UTF8String.fromBytes(run(Cipher.DECRYPT_MODE, key, iv, Base64.getMimeDecoder.decode(enc.getBytes)))
    catch {
      case NonFatal(e) =>
        throw new IllegalArgumentException(s"stanza does not decrypt under the configured key/IV: $e", e)
    }

  /** [[aesDecrypt]] that yields null on any failure, malformed Base64
    * included: Encryptor's catch-all (Encryptor.java:23-27).
    */
  def aesTryDecrypt(enc: UTF8String, key: Array[Byte], iv: Array[Byte]): UTF8String =
    try aesDecrypt(enc, key, iv) catch { case NonFatal(_) => null }

  private def call(fn: String, in: Column, key: String, iv: String): Column =
    bridge.column(StaticInvoke(AesCbc.getClass, StringType, fn,
      Seq(bridge.expression(in), Literal(key.getBytes(UTF_8)), Literal(iv.getBytes(UTF_8))),
      Seq(StringType, BinaryType, BinaryType)))

  private[graft] def encrypt(plain: Column, key: String, iv: String): Column = call("aesEncrypt", plain, key, iv)
  private[graft] def decrypt(enc: Column, key: String, iv: String): Column = call("aesDecrypt", enc, key, iv)
  private[graft] def tryDecrypt(enc: Column, key: String, iv: String): Column = call("aesTryDecrypt", enc, key, iv)
}
