package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.corpus.{CorpusMain, CorpusStreamMain, GateState, PurgeMain}

/** The corpus path: publish the corpus (text and embedding dedup,
  * normalization, and the gate's at-rest tables), gate the crawl batches
  * through the real stream, compact the gate state and resume from the
  * tables, then erase planted ids from every store. */
final class CorpusStream(data: String) extends Workload {

  def run(spark: SparkSession, work: String, seconds: Double, run: Main.Run,
      span: String => Span): Unit = {
    val (pub, streamOut, ckpt) = (s"$work/published", s"$work/stream", s"$work/ckpt")
    val (idx, sh) = ("perfbench_gate_idx", "perfbench_gate_sh")
    val t0 = System.nanoTime()
    run.op("main", "corpus.publish")(span("corpus.publish")(CorpusMain.runWith(spark,
      input = s"$data/corpus", output = pub, capacity = Some(400),
      embeddings = Some(s"$data/corpus/embeddings.parquet"), normalize = true,
      publishIndex = Some(idx), publishShingles = Some(sh))))
    run.phases("corpus_publish_s") = (System.nanoTime() - t0) / 1e9

    val corpus = spark.read.parquet(s"$pub/corpus").select("doc_id", "text")
    val state = run.op("main", "gate.build")(span("gate.build")(GateState.resume(spark,
      corpus, streamOut, baseIndex = Some(spark.table(idx)),
      baseShingles = Some(spark.table(sh))))).get
    val incoming = spark.readStream.schema(spark.read.parquet(s"$data/corpus/documents.parquet").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$data/crawl")
    val q = CorpusStreamMain.start(incoming, state, streamOut, ckpt)
    try span("gate.batch")(q.processAllAvailable()) finally q.stop()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    progress.foreach { p =>
      run.ops += Map("kind" -> "batch", "name" -> s"gate.batch.${p.batchId}",
        "secs" -> p.durationMs.get("triggerExecution").longValue / 1e3,
        "ok" -> true, "docs" -> p.numInputRows)
    }
    q.exception.foreach { e =>
      run.ops += Map("kind" -> "batch", "name" -> "gate.stream", "secs" -> 0.0, "ok" -> false)
      System.err.println(s"[perfbench] gate stream failed: $e")
    }
    run.layer("gate.absorbed_bytes") = state.absorbedStats().storedBytes.toDouble
    state.close()
    val accepted = spark.read.parquet(streamOut).select("doc_id").collect().map(_.getLong(0))
    run.facts("accepted") = accepted.toSeq
    run.layer("gate.accepted") = accepted.length.toDouble
    val offered = spark.read.parquet(s"$data/crawl").count()
    run.facts("offered") = offered
    run.layer("gate.rejected") = (offered - accepted.length).toDouble

    val folded = run.op("main", "gate.compact")(span("gate.compact")(
      GateState.compactState(spark, streamOut, idx, sh)))
    val resumed = run.op("main", "gate.resume")(span("gate.resume")(GateState.resume(spark,
      corpus, streamOut, baseIndex = Some(spark.table(idx)), baseShingles = Some(spark.table(sh)))))
    run.facts("compacted_batches") = folded.getOrElse(-1)
    run.facts("resume_refolded_rows") = resumed.map(_.absorbedStats().shingleRows).getOrElse(-1L)
    resumed.foreach(_.close())

    val ids = scala.io.Source.fromFile(s"$data/purge_ids.txt")
    val purgeIds = try ids.getLines().filter(_.nonEmpty).map(_.toLong).toList finally ids.close()
    run.facts("corpus_ids") = spark.read.parquet(s"$pub/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    run.facts("purge_present") = Map(
      "corpus" -> spark.read.parquet(s"$pub/corpus").filter(col("doc_id").isin(purgeIds: _*)).count(),
      "stream" -> accepted.count(purgeIds.toSet))
    val p0 = System.nanoTime()
    val report = run.op("main", "corpus.purge")(span("corpus.purge")(PurgeMain.runWith(spark,
      purgeIds, curation = Some(pub), indexTable = Some(idx), shinglesTable = Some(sh),
      streamOutput = Some(streamOut))))
    run.phases("purge_s") = (System.nanoTime() - p0) / 1e9
    report.foreach { r =>
      run.facts("purge_report") = r.map { case (k, (files, rows)) =>
        k -> Map("files" -> files, "rows" -> rows) }
      run.layer("corpus.purge.rows_deleted") = r.values.map(_._2).sum.toDouble
      run.layer("corpus.purge.files_rewritten") = r.values.map(_._1.toLong).sum.toDouble
    }
    // what the checks read back: every store, after the purge
    run.facts("published") = pub
    run.facts("stream") = streamOut
    run.facts("index_rows_for_purged") = spark.table(idx).filter(col("corpus_id").isin(purgeIds: _*)).count()
    run.facts("shingle_rows_for_purged") = spark.table(sh).filter(col("doc_id").isin(purgeIds: _*)).count()
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    spark.sql(s"DROP TABLE IF EXISTS $sh")
  }
}
