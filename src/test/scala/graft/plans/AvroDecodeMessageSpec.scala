package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.avro.AvroCodec
import graft.model.Message

class AvroDecodeMessageSpec extends SparkSpec {
  import spark.implicits._

  private val msgs = Seq(
    Message("m1", "u1", "peer@x", "<m><body>😀</body></m>", 1704067200000L),
    Message("m2", "u2", "p@y", """{"k": 1}""", 0L))

  test("native decode matches the UDF/codec path exactly") {
    val df = msgs.map(AvroCodec.encode).toDF("value")
    val got = df.select(AvroDecodeMessage($"value").as("m"))
      .select("m.*").as[Message].collect().toSeq
    assert(got == msgs)
  }

  test("fail-fast throws on malformed bytes; lenient yields null") {
    val bad = Seq(Array[Byte](9, 9, 9)).toDF("value")
    intercept[Exception] {
      bad.select(AvroDecodeMessage($"value")).collect()
    }
    val lenient = bad.select(
      AvroDecodeMessage($"value", failFast = false).as("m")).collect()
    assert(lenient.head.isNullAt(0))
  }

  test("rejects non-binary input at analysis time") {
    intercept[Exception] {
      Seq("oops").toDF("value").select(AvroDecodeMessage($"value")).collect()
    }
  }
}
