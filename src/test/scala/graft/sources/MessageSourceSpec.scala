package graft.sources

import graft.SparkSpec
import graft.avro.AvroCodec
import graft.model.Message
import graft.pipeline.GraftConfig
import graft.streaming.MessagePipeline

/** The engine's offline message source: a parquet directory of binary
  * `value` rows (Avro-encoded messages), streamed with a fixed schema —
  * the stream shape `StreamingBench` and perfbench drive. */
class MessageSourceSpec extends SparkSpec {
  import spark.implicits._

  test("file source streams binary values end-to-end through the pipeline") {
    val msgs = (0 until 8).map(i =>
      Message(s"f$i", s"u$i", "peer@x", s"payload-$i", 1704067200000L + i))
    val inDir = tmpDir("msrc_in")
    msgs.map(AvroCodec.encode).toDF("value").write.parquet(inDir)

    val detail = tmpDir("msrc_det"); val summary = tmpDir("msrc_sum")
    val q = MessagePipeline.run(
      spark.readStream.schema("value BINARY").parquet(inDir),
      GraftConfig.dev, detail, summary, tmpDir("msrc_cp"))
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(detail).count() == 8)
  }
}
