package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Dedup
import graft.plans.VectorExpressions
import graft.streaming.Streaming

/** The curation documents delivered as small parquet files through an
  * AvailableNow file stream, one file per micro-batch. Each micro-batch is
  * deduplicated exactly by `Streaming.dedupWithinWatermark` (stateful, so
  * AQE is off), signed with `simhash64`, probed against the signature store
  * (`Dedup.probeSignatureStore`), paired within itself
  * (`Dedup.pairsFromSignatures64`) and appended to the store
  * (`Dedup.addSignatureBatch`). Store writes sit beside the reads.
  */
final class CurateStream extends Workload {
  import CurateStream._

  val name = "curate_stream"
  private var input: File = _
  private var docs: IndexedSeq[Gen.Doc] = _
  /** Store path and pairs found by the latest repetition. */
  private var last: Option[(String, Set[(Long, Long)])] = None

  def prepare(ctx: Ctx): Map[String, Double] = {
    docs = Gen.docs(ctx.seed, Docs, ExactShare, NearShare)
    input = new File(ctx.dir, "input")
    Gen.docFiles(ctx.spark, docs, Files, input, new File(ctx.dir, "staging"))
    Map("docs" -> Docs.toDouble, "batches" -> Files.toDouble, "input_bytes" -> Gen.bytesUnder(input).toDouble,
      "exact_dup_share" -> docs.count(_.kind == Gen.ExactCopy).toDouble / Docs,
      "near_dup_share" -> docs.count(_.kind == Gen.NearCopy).toDouble / Docs)
  }

  def sampleValues(ctx: Ctx): Seq[String] = docs.take(32).map(_.text)

  private def signatures(df: DataFrame): DataFrame =
    df.select(col("id").as("doc_id"), VectorExpressions.simhash64(split(lower(col("text")), "\\s+")).as("sig"))

  def rep(ctx: Ctx, i: Int): RepResult = {
    val spark = ctx.spark
    val failures = ArrayBuffer.empty[String]
    val repDir = new File(ctx.dir, s"rep-$i")
    val store = new File(repDir, "store").getPath
    val pairs = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
    var probeS, appendS = 0.0
    var appends = 0
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val schema = spark.read.parquet(input.getPath).schema

    val (query, wallS) = ctx.timed {
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(input.getPath)
      val deduped = Streaming.dedupWithinWatermark(stream, Seq("text"), "ts", "1 day")
      val query = deduped.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          ctx.span("streaming.batch") {
            val sigs = ctx.span("plans.simhash64") { val s = signatures(batch).persist(); s.count(); s }
            def record(rows: Array[org.apache.spark.sql.Row]): Unit =
              rows.foreach(r => pairs.add((math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))))
            if (new File(store).exists()) {
              val t = System.nanoTime()
              record(ctx.span("sources.probeSignatureStore")(Dedup.probeSignatureStore(spark, store, sigs).collect()))
              probeS += Workload.ms(t) / 1e3
            }
            record(ctx.span("operators.pairsFromSignatures64")(Dedup.pairsFromSignatures64(sigs).collect()))
            val t = System.nanoTime()
            ctx.span("sources.addSignatureBatch")(Dedup.addSignatureBatch(store, sigs))
            appendS += Workload.ms(t) / 1e3
            appends += 1
            sigs.unpersist()
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", new File(repDir, "checkpoint").getPath)
        .start()
      Workload.attempt("stream", failures)(ctx.span("streaming.awaitTermination")(query.awaitTermination()))
      query
    }

    val progress = query.recentProgress.toSeq
    val batchMs = progress.map(_.durationMs.asScala.get("triggerExecution").fold(0.0)(_.toDouble))
    val overheadMs = progress.map { p =>
      val d = p.durationMs.asScala
      d.get("triggerExecution").fold(0.0)(_.toDouble) - d.get("addBatch").fold(0.0)(_.toDouble)
    }
    val state = progress.lastOption.flatMap(_.stateOperators.headOption)
    if (progress.size != Files) failures += s"stream: ${progress.size} micro-batches, expected $Files"
    val storeDir = new File(store)
    val storeFiles = Gen.filesUnder(storeDir, _.getName.endsWith(".parquet"))
    val storeBytes = Gen.bytesUnder(storeDir)
    last = Some((store, pairs.asScala.toSet))
    RepResult(wallS, Docs, batchMs, attempted = Files, failures.toSeq, Map(
      "streaming.batches" -> progress.size.toDouble,
      "streaming.trigger_overhead_ms" -> Stats.median(overheadMs),
      "streaming.state_rows" -> state.fold(0.0)(_.numRowsTotal.toDouble),
      "streaming.state_bytes" -> state.fold(0.0)(_.memoryUsedBytes.toDouble),
      "sources.append_s" -> appendS,
      "sources.probe_s" -> probeS,
      "sources.store_files" -> storeFiles.toDouble,
      "sources.files_per_append" -> storeFiles.toDouble / math.max(1, appends),
      "sources.store_bytes" -> storeBytes.toDouble,
      "store_bytes_per_doc" -> storeBytes.toDouble / Docs,
      "operators.pairs_out" -> pairs.size.toDouble))
  }

  /** The store holds one document per distinct text, and the pairs the
    * stream found (store probes plus within-batch pairs) equal
    * `Dedup.pairsFromSignatures64` over the stored documents in one batch. */
  def check(ctx: Ctx): Seq[String] = {
    val (store, got) = last.getOrElse(return Seq("check: the latest repetition produced no outputs"))
    val spark = ctx.spark
    val out = ArrayBuffer.empty[String]
    val stored = Dedup.readSignatureStore(spark, store).select("doc_id").collect().map(_.getLong(0))
    val distinctTexts = docs.map(_.text).distinct.size
    val storedTexts = stored.map(id => docs(id.toInt).text).distinct.length
    if (stored.length != distinctTexts || storedTexts != distinctTexts)
      out += s"check: store holds ${stored.length} rows with $storedTexts distinct texts, expected $distinctTexts"
    val ids = stored.toSeq
    val reference = Dedup.pairsFromSignatures64(
      signatures(spark.read.parquet(input.getPath).where(col("id").isin(ids: _*)))).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
    if (got != reference)
      out += s"check: stream found ${got.size} pairs, batch reference ${reference.size} (${(got diff reference).size} extra, ${(reference diff got).size} missed)"
    out.toSeq
  }
}

object CurateStream {
  val Docs = 180
  val Files = 3
  val ExactShare = 0.1
  val NearShare = 0.1
}
