package graft.avro

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.model.Message

class AvroCodecSpec extends SparkSpec {
  import spark.implicits._

  test("decode(encode(m)) == m round-trip (property)") {
    val genMsg = for {
      id <- Gen.identifier
      user <- Gen.alphaNumStr
      jid <- Gen.alphaNumStr.map(_ + "@chat")
      stanza <- Gen.oneOf(Gen.alphaNumStr, Gen.const("<m><body>😀</body></m>"))
      t <- Gen.chooseNum(0L, 4102444800000L)
    } yield Message(id, user, jid, stanza, t)
    val msgs = Gen.listOfN(300, genMsg)
      .apply(Gen.Parameters.default, Seed(42L))
      .getOrElse(fail("generator exhausted"))
    msgs.foreach { m => assert(AvroCodec.decode(AvroCodec.encode(m)) == m) }
  }

  test("decode fails fast on malformed bytes (reference parity)") {
    // AvroDeserializationSchema.java:47-49 wraps any decode error
    intercept[Exception] { AvroCodec.decode(Array[Byte](1, 2, 3)) }
  }
}
