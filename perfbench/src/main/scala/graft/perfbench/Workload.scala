package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.codec.Codec

/** What every workload gets: the session, the pinned codec and passphrase,
  * its own scratch directory, the trace and (in traced repetitions) the
  * Spark probe. */
final class Ctx(
    val spark: SparkSession,
    val codec: Codec,
    val passphrase: Array[Byte],
    val seed: Long,
    val cores: Int,
    val dir: File,
    val trace: Trace) {
  var probe: Option[SparkProbe] = None
  def span[A](name: String)(body: => A): A = trace.span(name)(body)
  /** The timed part of a repetition, under the `bench.rep` span: (result, seconds). */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = span("bench.rep")(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One timed repetition, in cold state.
  *
  * @param wallS    timed wall of the repetition
  * @param rows     input rows (documents) processed
  * @param batchMs  latency samples: the repetition itself, or each micro-batch
  * @param attempted ops attempted: pipeline stages, curation steps or micro-batches
  * @param failures one line per failed op
  * @param layer    per-layer counters measured where the work happens
  */
final case class RepResult(
    wallS: Double,
    rows: Long,
    batchMs: Seq[Double],
    attempted: Int,
    failures: Seq[String],
    layer: Map[String, Double])

trait Workload {
  def name: String
  /** Generate inputs (not timed) and return the planted properties as measured. */
  def prepare(ctx: Ctx): Map[String, Double]
  /** Run one timed repetition. */
  def rep(ctx: Ctx, i: Int): RepResult
  /** Check the outputs of the latest repetition (not timed); one line per
    * failed check. */
  def check(ctx: Ctx): Seq[String]
  /** Some of the workload's own input values, for direct calls into the
    * codec and function layers (`codec.hash_ms`, `functions.hit_us`). */
  def sampleValues(ctx: Ctx): Seq[String]
}

object Workload {
  def all: Seq[Workload] = Seq(
    new MaskWorkload("mask_distinct", pool = None),
    new MaskWorkload("mask_skewed", pool = Some(MaskWorkload.SkewedPool)),
    new CurateBatch,
    new CurateStream)

  /** Run `body`; a thrown exception becomes a failure line. */
  def attempt[A](what: String, failures: scala.collection.mutable.Buffer[String])(body: => A): Option[A] =
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
        None
    }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
