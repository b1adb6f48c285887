package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same inputs; every
  * planted property is measured back from the written data and recorded.
  */
object Gen {

  /** Masking input: `id`, three masked columns (`name` string, `birth` date,
    * `balance` decimal) and two passthrough columns (`city`, `score`).
    *
    * `pool = None`: every masked value is distinct (a bijection of `id`).
    * `pool = Some(v)`: each masked column draws from `v` values with a
    * cubic skew towards the first ones, so most cells repeat a hot value.
    */
  def maskTable(spark: SparkSession, seed: Long, rows: Long, pool: Option[Int], parts: Int): DataFrame = {
    def u(tag: String) = pmod(xxhash64(col("id"), lit(seed), lit(tag)), lit(1000000L)) / 1e6
    def key(tag: String) = pool match {
      case None => col("id")
      case Some(v) => floor(pow(u(tag), 3) * v).cast("long")
    }
    spark.range(0, rows, 1, parts).select(
      col("id"),
      concat(lit(s"cust-$seed-"), key("name").cast("string"), lit("-"),
        substring(sha2(concat(lit(seed.toString), key("name").cast("string")), 256), 1, 6)).as("name"),
      // distinct for any key below 60000 (7919 is coprime with 60000)
      date_add(lit(java.sql.Date.valueOf("1900-01-01")), pmod(key("birth") * 7919 + seed, lit(60000L)).cast("int")).as("birth"),
      ((key("balance") * 1013 + pmod(lit(seed), lit(997L))) / 100).cast("decimal(14,2)").as("balance"),
      element_at(array(Seq("Oslo", "Lima", "Kyiv", "Pune", "Lyon", "Cork", "Nara", "Graz").map(lit): _*),
        (pmod(xxhash64(col("id"), lit(seed), lit("city")), lit(8L)) + 1).cast("int")).as("city"),
      pmod(xxhash64(col("id"), lit(seed), lit("score")), lit(1000L)).cast("int").as("score"))
  }

  /** Distinct share (distinct values / rows) of each masked column. */
  def distinctShares(df: DataFrame): Map[String, Double] = {
    val r = df.agg(count(lit(1)), countDistinct(col("name")), countDistinct(col("birth")),
      countDistinct(col("balance"))).head()
    val n = math.max(1L, r.getLong(0)).toDouble
    Map("name" -> r.getLong(1) / n, "birth" -> r.getLong(2) / n, "balance" -> r.getLong(3) / n)
  }

  final case class Doc(id: Long, text: String, emb: Array[Float], kind: Int, origin: Long)
  val Original = 0
  val ExactCopy = 1
  val NearCopy = 2

  /** Documents with planted duplicates: a share `exactShare` are exact
    * copies of an earlier original, a share `nearShare` are near copies
    * (one of 40 tokens replaced, embedding jittered). An original receives
    * at most two copies, so LSH buckets stay small.
    */
  def docs(seed: Long, n: Int, exactShare: Double, nearShare: Double): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = IndexedSeq.fill(3000)(Seq.fill(3 + rnd.nextInt(7))(letters(rnd.nextInt(26))).mkString)
    val dim = 16
    def unit(v: Array[Float]): Array[Float] = {
      val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / nrm)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val copies = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Doc]
    for (i <- 0 until n) {
      val r = rnd.nextDouble()
      val candidates = if (originals.isEmpty) None else {
        val o = originals(rnd.nextInt(originals.size))
        if (copies(o.id) < 2) Some(o) else None
      }
      val doc = candidates match {
        case Some(o) if r < exactShare =>
          copies(o.id) += 1
          Doc(i, o.text, o.emb, ExactCopy, o.id)
        case Some(o) if r < exactShare + nearShare =>
          copies(o.id) += 1
          val toks = o.text.split(' ')
          toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size)) + "x"
          Doc(i, toks.mkString(" "), unit(o.emb.map(x => x + (rnd.nextGaussian() * 0.02).toFloat)), NearCopy, o.id)
        case _ =>
          val d = Doc(i, Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
            unit(Array.fill(dim)(rnd.nextGaussian().toFloat)), Original, i)
          originals += d
          d
      }
      out += doc
    }
    out.toIndexedSeq
  }

  def docFrame(spark: SparkSession, docs: Seq[Doc], parts: Int): DataFrame = {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    docs.map(d => (d.id, d.text, d.emb, new java.sql.Timestamp(base + d.id * 1000L)))
      .toDF("id", "text", "emb", "ts").repartition(parts)
  }

  /** Write `docs` as `files` parquet files, one per future micro-batch, with
    * increasing modification times so a file stream reads them in order. */
  def docFiles(spark: SparkSession, docs: Seq[Doc], files: Int, dir: File, staging: File): Unit = {
    dir.mkdirs()
    val per = math.ceil(docs.size.toDouble / files).toInt
    val t0 = System.currentTimeMillis() - 3600000L
    docs.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val st = new File(staging, s"f$i")
      docFrame(spark, chunk, 1).write.parquet(st.getPath)
      val part = st.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new File(dir, f"batch-$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(bytesUnder).sum)
    else if (f.isFile) f.length() else 0L

  def filesUnder(f: File, p: File => Boolean = _ => true): Int =
    if (f.isDirectory) Option(f.listFiles()).fold(0)(_.map(filesUnder(_, p)).sum)
    else if (f.isFile && p(f)) 1 else 0

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
