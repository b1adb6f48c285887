package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col

import graft.functions.MaskFunctions
import graft.operators.StageConfig

/** The masking pipeline through `StageConfig.runPipeline`:
  * ParquetExtract -> MetadataTransform -> MaskDataTransform (persist) ->
  * SQL summary, over a table with three masked columns (string, date,
  * decimal) and two passthrough columns.
  *
  * `mask_distinct` (`pool = None`): every masked value is distinct, so the
  * memo never hits and the KDF dominates. `mask_skewed`: many more rows
  * drawn skewed from a small value pool, so the memo almost always hits
  * and the per-cell path (memo key digest, UDF boundary, projection,
  * persist) dominates.
  */
final class MaskWorkload(val name: String, pool: Option[Int]) extends Workload {
  import MaskWorkload._

  private val rows: Long = if (pool.isEmpty) DistinctRows else SkewedRows
  private var input: File = _

  def prepare(ctx: Ctx): Map[String, Double] = {
    input = new File(ctx.dir, "input")
    Gen.maskTable(ctx.spark, ctx.seed, rows, pool, ctx.cores).write.parquet(input.getPath)
    val shares = Gen.distinctShares(ctx.spark.read.parquet(input.getPath))
    Map("rows" -> rows.toDouble, "input_bytes" -> Gen.bytesUnder(input).toDouble,
      "value_pool" -> pool.fold(rows.toDouble)(_.toDouble)) ++
      shares.map { case (c, s) => s"distinct_share.$c" -> s }
  }

  def sampleValues(ctx: Ctx): Seq[String] =
    ctx.spark.read.parquet(input.getPath).select(col("name")).limit(32).collect().map(_.getString(0)).toSeq

  def rep(ctx: Ctx, i: Int): RepResult = {
    val failures = ArrayBuffer.empty[String]
    val conf = pipeline(input.getPath, maskName = true)
    val ((parseMs, summary, summaryS), wallS) = ctx.timed {
      val t0 = System.nanoTime()
      val parsed = ctx.span("operators.parsePipeline")(StageConfig.parsePipeline(conf))
      val parseMs = Workload.ms(t0)
      if (parsed.isLeft) failures += s"parse: ${parsed.left.toOption.get.mkString("; ")}"
      val out = Workload.attempt("runPipeline", failures) {
        ctx.span("operators.runPipeline")(StageConfig.runPipeline(ctx.spark, conf, "bench")) match {
          case Right(Some(df)) => df
          case other => throw new IllegalStateException(s"pipeline returned $other")
        }
      }
      val tSum = System.nanoTime()
      val summary = out.flatMap(df => Workload.attempt("summary", failures)(ctx.span("operators.summary")(df.collect())))
      (parseMs, summary, Workload.ms(tSum) / 1e3)
    }

    val memo = MaskFunctions.cacheSize.toDouble
    val cells = rows * 3.0
    val persisted = SparkProbe.persistBytes(ctx.spark).toDouble
    summary.foreach { s =>
      if (s.length != 1 || s(0).getLong(0) != rows) failures += s"summary: expected $rows rows, got ${s.mkString}"
    }
    val maskS = ctx.probe.fold(0.0)(_.jobSeconds(_.contains("MaskTransform")))
    RepResult(wallS, rows, Seq(wallS * 1e3), attempted = Stages, failures.toSeq, Map(
      "operators.parse_ms" -> parseMs,
      "operators.mask_stage_s" -> maskS,
      "operators.summary_s" -> summaryS,
      "codec.kdf_calls" -> memo,
      "functions.memo_entries" -> memo,
      "functions.memo_hit_ratio" -> (1.0 - memo / cells),
      "spark.persist_bytes" -> persisted))
  }

  /** The pipeline with the string column left unmasked, then the output
    * check: the self-test requires this to report failures. */
  def plantedFaultFailures(ctx: Ctx): Seq[String] = {
    StageConfig.runPipeline(ctx.spark, pipeline(input.getPath, maskName = false), "bench") match {
      case Right(Some(df)) => df.collect()
      case other => throw new IllegalStateException(s"pipeline returned $other")
    }
    check(ctx)
  }

  /** Output checks against the raw view: masked strings are 16 letters of
    * the default alphabet and differ from the input, dates move by less
    * than the 365-day range, decimals by less than 1000, passthrough
    * columns are unchanged, equal inputs mask equally, and a sample equals
    * direct `MaskFunctions` calls. */
  def check(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    // one pass over the join; f is deterministic exactly when the distinct
    // (input, output) pairs are as many as the distinct inputs
    val bad = spark.sql(
      """SELECT count(*) AS n,
        |  sum(CASE WHEN m.name IS NULL OR NOT m.name RLIKE '^[a-zA-Z]{16}$' OR m.name = r.name THEN 1 ELSE 0 END),
        |  sum(CASE WHEN m.birth IS NULL OR abs(datediff(m.birth, r.birth)) >= 365 THEN 1 ELSE 0 END),
        |  sum(CASE WHEN m.balance IS NULL OR abs(m.balance - r.balance) >= 1000 THEN 1 ELSE 0 END),
        |  sum(CASE WHEN (m.city <=> r.city) AND (m.score <=> r.score) THEN 0 ELSE 1 END),
        |  count(DISTINCT r.name, m.name) - count(DISTINCT r.name),
        |  count(DISTINCT r.birth, m.birth) - count(DISTINCT r.birth),
        |  count(DISTINCT r.balance, m.balance) - count(DISTINCT r.balance)
        |FROM masked m JOIN raw_in r ON m.id = r.id""".stripMargin).head()
    val out = ArrayBuffer.empty[String]
    if (bad.getLong(0) != rows) out += s"check: joined ${bad.getLong(0)} rows, expected $rows"
    Seq("name", "birth", "balance", "passthrough").zipWithIndex.foreach { case (c, j) =>
      val n = bad.getLong(j + 1)
      if (n != 0) out += s"check: $n rows violate the $c mask contract"
    }
    Seq("name", "birth", "balance").zipWithIndex.foreach { case (c, j) =>
      val n = bad.getLong(j + 5)
      if (n != 0) out += s"check: $n equal $c inputs masked to different outputs"
    }
    // the sample is recomputed with an empty memo: pipeline output (memo
    // served) must equal a fresh KDF evaluation
    MaskFunctions.clearCache()
    val sample = spark.sql(
      "SELECT r.name, r.birth, r.balance, m.name, m.birth, m.balance FROM masked m JOIN raw_in r ON m.id = r.id WHERE m.id < 16").collect()
    val c = ctx.codec
    val pp = ctx.passphrase
    sample.foreach { s =>
      val name = MaskFunctions.maskString(c, pp)(16, MaskFunctions.DefaultAlphabet, None, true, s.getString(0))
      val birth = MaskFunctions.maskDate(c, pp)(365, true, s.getDate(1))
      val bal = MaskFunctions.maskDecimal(c, pp)(new java.math.BigDecimal("1000.00"), true, s.getDecimal(2))
        .setScale(2, java.math.RoundingMode.HALF_UP)
      if (name != s.getString(3) || birth != s.getDate(4) || bal.compareTo(s.getDecimal(5)) != 0)
        out += s"check: pipeline output for ${s.getString(0)} differs from direct MaskFunctions calls"
    }
    out.toSeq
  }
}

object MaskWorkload {
  val DistinctRows = 700L
  val SkewedRows = 500000L
  /** Values per masked column in mask_skewed. */
  val SkewedPool = 60
  val Stages = 4

  /** The HOCON pipeline document; `maskName = false` leaves the string
    * column without a treatment (the planted fault of the self-test). */
  def pipeline(inputUri: String, maskName: Boolean): String = {
    val nameTreatment = if (maskName) "name = \"mask_string(16, true, ${value})\"" else ""
    s"""stages = [
       |  { type = ParquetExtract, name = extract, inputURI = "$inputUri", outputView = raw_in }
       |  { type = MetadataTransform, name = treatments, inputView = raw_in, outputView = typed
       |    treatments {
       |      $nameTreatment
       |      birth = "mask_date(365, true, $${value})"
       |      balance = "mask_decimal(CAST(1000.00 AS DECIMAL(6,2)), true, $${value})"
       |    }
       |  }
       |  { type = MaskDataTransform, name = mask, inputView = typed, outputView = masked, persist = true }
       |  { type = SQLTransform, name = summary, outputView = summary
       |    sql = "SELECT count(*) AS n, count(DISTINCT name) AS names, min(birth) AS lo, max(birth) AS hi, sum(balance) AS total FROM masked" }
       |]""".stripMargin
  }
}
