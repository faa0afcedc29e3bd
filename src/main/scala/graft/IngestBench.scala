package graft

import org.apache.spark.sql.functions._

import graft.streaming.CorpusIngest

/** Growing-corpus ingest bench: streams the sf documents table into ONE
  * corpus dir as fixed-size micro-batches and records each batch's wall
  * clock beside its maintenance telemetry — so "per-batch cost tracks
  * the batch, not the corpus" is a MEASURED time series, not an
  * argument from the operator plan. The flat-probe/flat-maintenance
  * properties are spec-pinned at toy sizes in CorpusIngestSpec; this
  * main prices them at scale (sf10 grows the corpus 0 → 500k docs).
  *
  * Usage: `runMain graft.IngestBench [sfDir] [outFile] [nBatches] [pregrowFrac]`
  *
  * `pregrowFrac` (default 0) ingests that fraction of the table as ONE
  * untimed batch BEFORE the series starts, so the bloom's capacity
  * already dwarfs a series batch and compaction boundaries are sparse —
  * the steady-state drift statistic then rests on many no-shadow steady
  * batches per half instead of a handful (the round-13 series was 16/25
  * boundaries because capacity tracked the young corpus, leaving a
  * 3-batch half for the decomposed ratio — statistically fragile).
  *
  * Output: one JSON line, `series` = per-batch
  * {sec, rows, accepted, probed, landedFiles, indexFiles, bloomBytes,
  * deltaReads, compacted, corpusRows, fsReadBytes}. `fsReadBytes` is the
  * Hadoop filesystem-level read volume the batch drove (local[*] runs
  * tasks in-JVM, so the global "file"-scheme counter attributes it
  * exactly) — if two batches read the same bytes at different speeds,
  * the difference is page-cache state, attributed mechanically instead
  * of narratively. Compaction/rebuild batches are the amortized
  * boundaries and are expected (and labeled) spikes; every other batch
  * should cost ~the same as the corpus grows.
  */
object IngestBench {
  private def fsBytesRead(): Long = {
    val s = org.apache.hadoop.fs.FileSystem
      .getGlobalStorageStatistics.get("file")
    if (s == null) 0L
    else Option(s.getLong("bytesRead")).map(_.longValue()).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val outPath = args.lift(1).getOrElse("bench_ingest_series.json")
    val nBatches = args.lift(2).map(_.toInt).getOrElse(20)
    val pregrowFrac = args.lift(3).map(_.toDouble).getOrElse(0.0)
    val spark = GraftSession.get(GraftSession.envCpus)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val (minId, maxId) = {
      val r = docs.agg(min("doc_id"), max("doc_id")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val span = maxId - minId + 1
    val corpus = java.nio.file.Files
      .createTempDirectory("graft_ingest_bench_").toString
    val prepared = CorpusIngest.prepared(docs, 5)
    var cum = 0L
    // pre-grow: one big batch outside the series (flagged in the JSON
    // header, never a series row), so the series measures a MATURE
    // corpus's steady state rather than the young corpus's boundary-
    // dense warm-up
    val pregrowLo = minId
    val seriesLo = minId + (span * pregrowFrac).toLong
    var pregrowSec = 0.0
    if (seriesLo > pregrowLo) {
      val t0 = System.nanoTime()
      val st = CorpusIngest.ingestBatch(
        prepared.filter(col("doc_id") >= pregrowLo &&
          col("doc_id") < seriesLo), corpus, Some(0.5))
      pregrowSec = (System.nanoTime() - t0) / 1e9
      cum += st.acceptedRows
      println(s"INGEST_BENCH pregrow rows=${st.acceptedRows} " +
        s"sec=${Bench.sec3(pregrowSec)}")
    }
    val pregrowRows = cum
    val seriesSpan = minId + span - seriesLo
    val per = (seriesSpan + nBatches - 1) / nBatches
    var prevCompacted = false
    val series = (0 until nBatches).map { b =>
      val lo = seriesLo + b * per
      val hi = math.min(lo + per, minId + span)
      val batch = prepared.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val r0 = fsBytesRead()
      val t0 = System.nanoTime()
      val st = CorpusIngest.ingestBatch(batch, corpus, Some(0.5))
      val sec = (System.nanoTime() - t0) / 1e9
      val readB = fsBytesRead() - r0
      cum += st.acceptedRows
      // shadow = the first steady batch after an epoch pack, which
      // reads freshly packed buckets through whatever page cache the
      // pack's writes left behind — flagged IN the artifact so the
      // raw/decomposed steady medians are computed by tools/scale_md.py
      // from checked-in data, never by hand-maintained narrative
      val shadow = prevCompacted && !st.bloomCompacted
      prevCompacted = st.bloomCompacted
      val line = s"""{"batch":$b,"sec":${Bench.sec3(sec)}""" +
        s""","rows":${st.batchRows},"accepted":${st.acceptedRows}""" +
        s""","probed":${st.probed},"landedFiles":${st.landedFilesRead}""" +
        s""","indexFiles":${st.indexFilesRead}""" +
        s""","bloomBytes":${st.bloomBytesWritten}""" +
        s""","deltaReads":${st.deltaFilesRead}""" +
        s""","compacted":${st.bloomCompacted},"packed":${st.packedFiles}""" +
        s""","shadow":$shadow,"fsReadBytes":$readB,"corpusRows":$cum}"""
      // progress is visible batch by batch if the run is watched live
      println(s"INGEST_BENCH $line")
      line
    }
    val out = s"""{"metric":"ingest_series","sf":${Bench.jsonStr(sfDir)}""" +
      s""","batches":$nBatches,"pregrowRows":$pregrowRows""" +
      s""","pregrowSec":${Bench.sec3(pregrowSec)}""" +
      s""","series":[${series.mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      out.getBytes("UTF-8"))
    println(out)
    spark.stop()
  }
}
