package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{CcStar, Dedup, Similarity}

/** Batch curation over documents with planted exact and near duplicates:
  * `Dedup.exactClusters`, `Dedup.minhashPairs` -> `CcStar.connectedComponentsStar`
  * and `Similarity.knnJoin`, each collected before the next starts. No KDF:
  * shuffle- and CPU-heavy, AQE on.
  */
final class CurateBatch extends Workload {
  import CurateBatch._

  val name = "curate_batch"
  private var input: File = _
  private var docs: IndexedSeq[Gen.Doc] = _
  /** Outputs of the latest repetition: exact clusters, pairs, labels, kNN. */
  private var last: Option[(Array[Row], Array[Row], Array[Row], Array[Row])] = None

  def prepare(ctx: Ctx): Map[String, Double] = {
    docs = Gen.docs(ctx.seed, Docs, ExactShare, NearShare)
    input = new File(ctx.dir, "input")
    Gen.docFrame(ctx.spark, docs, ctx.cores).write.parquet(input.getPath)
    Map("docs" -> Docs.toDouble, "input_bytes" -> Gen.bytesUnder(input).toDouble,
      "exact_dup_share" -> docs.count(_.kind == Gen.ExactCopy).toDouble / Docs,
      "near_dup_share" -> docs.count(_.kind == Gen.NearCopy).toDouble / Docs)
  }

  def sampleValues(ctx: Ctx): Seq[String] = docs.take(32).map(_.text)

  def rep(ctx: Ctx, i: Int): RepResult = {
    val spark = ctx.spark
    val failures = ArrayBuffer.empty[String]
    def step[A](span: String)(body: => A): (Option[A], Double) = {
      val t = System.nanoTime()
      val r = Workload.attempt(span, failures)(ctx.span(span)(body))
      (r, Workload.ms(t) / 1e3)
    }
    val ((exact, exactS, pairs, minhashS, labels, ccS, knn, knnS), wallS) = ctx.timed {
      val df = spark.read.parquet(input.getPath)
      val (exact, exactS) = step("operators.exactClusters")(
        Dedup.exactClusters(df, "id", Seq("text")).where("cluster_size > 1").collect())
      val (pairs, minhashS) = step("operators.minhashPairs")(
        Dedup.minhashPairs(df, "id", "text", threshold = Threshold).collect())
      val (labels, ccS) = step("operators.connectedComponentsStar") {
        val edges = spark.createDataFrame(
          spark.sparkContext.parallelize(pairs.getOrElse(Array.empty[Row]).map(r => Row(r.getLong(0), r.getLong(1))).toSeq, ctx.cores),
          StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
        CcStar.connectedComponentsStar(edges).collect()
      }
      val (knn, knnS) = step("operators.knnJoin")(
        Similarity.knnJoin(df, "id", "emb", k = K, nLists = NLists, nProbe = NProbe).collect())
      (exact, exactS, pairs, minhashS, labels, ccS, knn, knnS)
    }

    last = for (e <- exact; p <- pairs; l <- labels; k <- knn) yield (e, p, l, k)
    RepResult(wallS, Docs, Seq(wallS * 1e3), attempted = Steps, failures.toSeq, Map(
      "operators.exact_s" -> exactS,
      "operators.minhash_s" -> minhashS,
      "operators.components_s" -> ccS,
      "operators.knn_s" -> knnS,
      "operators.pairs_out" -> pairs.fold(0.0)(_.length.toDouble)))
  }

  /** Planted duplicates found, MinHash pairs equal brute-force Jaccard on a
    * slice, planted groups share one component, planted near copies find
    * their original among the k nearest neighbours. */
  def check(ctx: Ctx): Seq[String] = {
    val (exact, pairs, labels, knn) = last.getOrElse(return Seq("check: the latest repetition produced no outputs"))
    val out = ArrayBuffer.empty[String]
    val planted = docs.filter(_.kind == Gen.ExactCopy).groupBy(_.origin).map { case (o, cs) => o -> (cs.size + 1L) }
    val found = exact.map(r => r.getAs[Long]("representative") -> r.getAs[Long]("cluster_size")).toMap
    if (found != planted) out += s"check: exact clusters ${found.size} differ from the ${planted.size} planted"

    val slice = docs.take(SliceDocs)
    val sh = slice.map(d => shingles(d.text))
    val reference = (for {
      a <- slice.indices; b <- (a + 1) until slice.size
      inter = sh(a).intersect(sh(b)).size.toDouble
      if inter / (sh(a).size + sh(b).size - inter) >= Threshold
    } yield (slice(a).id, slice(b).id)).toSet
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).filter(p => p._2 < SliceDocs).toSet
    if (got != reference)
      out += s"check: MinHash pairs on the first $SliceDocs docs: ${got.size} found, ${reference.size} by brute force, ${(got diff reference).size} extra, ${(reference diff got).size} missed"

    val label = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val split = docs.filter(_.kind != Gen.Original).count(d => label.get(d.id).isEmpty || label.get(d.id) != label.get(d.origin))
    if (split != 0) out += s"check: $split planted copies not in their original's component"

    // knnJoin probes NProbe of NLists lists, so it is approximate: every
    // reported similarity and rank must be exact, and planted near copies
    // (cosine ~0.9997 to their original) must nearly all be found
    val emb = docs.map(d => d.emb.map(_.toDouble))
    def cosPpm(a: Int, b: Int): Long = {
      val (x, y) = (emb(a), emb(b))
      val dot = x.indices.map(i => x(i) * y(i)).sum
      math.round(dot / math.max(math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum), 1e-300) * 1e6)
    }
    val wrongCos = knn.count(r => math.abs(r.getLong(3) - cosPpm(r.getLong(0).toInt, r.getLong(2).toInt)) > 1)
    if (wrongCos != 0) out += s"check: $wrongCos kNN rows report a cosine that differs from direct computation"
    val byQuery = knn.groupBy(_.getLong(0))
    val badRank = byQuery.count { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      sorted.map(_.getLong(1)).toSeq != (1L to sorted.length.toLong) || sorted.length > K ||
        sorted.map(_.getLong(3)).toSeq.sliding(2).exists(w => w.size == 2 && w(0) < w(1))
    }
    if (badRank != 0) out += s"check: $badRank kNN lists are not ranked 1..k by descending cosine"
    val near = docs.filter(_.kind == Gen.NearCopy)
    val nbrs = byQuery.map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    val recall = near.count(d => nbrs.getOrElse(d.id, Set.empty[Long]).contains(d.origin)).toDouble / math.max(1, near.size)
    if (recall < MinNearRecall) out += f"check: kNN finds the original of only $recall%.3f of planted near copies"
    out.toSeq
  }
}

object CurateBatch {
  val Docs = 600
  val ExactShare = 0.1
  val NearShare = 0.1
  val Threshold = 0.8
  val SliceDocs = 250
  val K = 5
  val NLists = 8
  val NProbe = 2
  val Steps = 4
  val MinNearRecall = 0.95

  /** Character 5-gram set, the shingles `Dedup.minhashPairs` compares. */
  def shingles(text: String, n: Int = 5): Set[String] =
    if (text.length < n) Set.empty else (0 to text.length - n).map(i => text.substring(i, i + n)).toSet
}
