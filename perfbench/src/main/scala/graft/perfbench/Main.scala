package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.codec.{Codec, Pbkdf2Codec}
import graft.functions.{MaskFunctions, MaskUdfs}

/** Runs one workload as a closed loop for a fixed time and prints one JSON
  * result line (see README.md).
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --heap-mb <mb>
  *   --selftest --work <dir> --heap-mb <mb>
  */
object Main {
  /** Session builds per run; `setup_s` is their median. */
  val Setups = 4
  /** Untimed repetitions before the timed ones, so JIT and codegen settle. */
  val WarmupReps = 2
  /** Timed repetitions per run at least (traced runs: this many of each kind). */
  val MinReps = 3

  val EndToEnd = Seq("setup_s" -> "s", "rows_per_s" -> "rows/s", "batch_p50_ms" -> "ms", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "codec.kdf_calls" -> "count", "codec.hash_ms" -> "ms",
    "functions.memo_entries" -> "count", "functions.memo_hit_ratio" -> "ratio", "functions.hit_us" -> "us",
    "operators.parse_ms" -> "ms", "operators.mask_stage_s" -> "s", "operators.summary_s" -> "s",
    "operators.exact_s" -> "s", "operators.minhash_s" -> "s", "operators.components_s" -> "s",
    "operators.knn_s" -> "s", "operators.pairs_out" -> "count",
    "streaming.batches" -> "count", "streaming.trigger_overhead_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
    "sources.append_s" -> "s", "sources.probe_s" -> "s", "sources.store_files" -> "count",
    "sources.files_per_append" -> "count", "sources.store_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.failed_tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.persist_bytes" -> "bytes", "spark.driver_gap_s" -> "s",
    "docs_per_s" -> "docs/s", "batch_tail_ms" -> "ms", "batch_tail_pct" -> "pct", "batch_samples" -> "count",
    "store_bytes_per_doc" -> "bytes", "failed_ops_ratio" -> "ratio",
    "self.bench_s" -> "s", "self.operators_s" -> "s", "self.plans_s" -> "s", "self.streaming_s" -> "s",
    "self.sources_s" -> "s", "self.spark_s" -> "s",
    "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s", "trace.overhead_s" -> "s", "trace.self_sum_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new File(opts.getOrElse("work", sys.error("--work is required")))
    val heapMb = opts.getOrElse("heap-mb", "0").toInt
    val selftest = args.contains("--selftest")
    val workload = if (selftest) "selftest" else opts.getOrElse("workload", sys.error("--workload is required"))
    val wl = if (selftest) new MaskWorkload("mask_distinct", pool = None)
      else Workload.all.find(_.name == workload).getOrElse(sys.error(s"unknown workload $workload"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "15").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val runDir = new File(work, "run")
    Gen.deleteTree(runDir)
    runDir.mkdirs()
    val codec: Codec = new Pbkdf2Codec(1024, 64)
    val passphrase = graft.Defaults.testPassphrase
    require(graft.Defaults.codec.describe == codec.describe,
      s"graft.Defaults resolves codec ${graft.Defaults.codec.describe}; the benchmark pins ${codec.describe}")

    // ---- setup: session build + Defaults.registerAll + warm-up, several times
    val setupTimes = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t = System.nanoTime()
      spark = session(cores, work)
      spark.sparkContext.setLogLevel("WARN")
      graft.Defaults.registerAll(spark)
      MaskUdfs.register(spark, codec, passphrase)
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.sql("SELECT mask_string(16, true, 'warm-up')").collect()
      setupTimes += Workload.ms(t) / 1e3
    }

    def progress(what: String): Unit = System.err.println(
      f"perfbench: ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s $what")
    progress(s"set up ${setupTimes.map(t => f"$t%.2f").mkString(", ")} s")
    val trace = new Trace(s"$workload-$seed-${ProcessHandle.current().pid()}")
    val ctx = new Ctx(spark, codec, passphrase, seed, cores, runDir, trace)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    var failedOps = 0
    def record(what: String, ops: Int, lines: Seq[String]): Unit = {
      attempted += ops
      failedOps += math.min(ops, lines.size)
      failures ++= lines.map(what + ": " + _)
    }
    var exit = 0
    try {
      val props = wl.prepare(ctx)
      progress("inputs generated")
      if (selftest) {
        cold(ctx)
        val clean = wl.rep(ctx, 0).failures ++ wl.check(ctx)
        cold(ctx)
        val planted = wl.asInstanceOf[MaskWorkload].plantedFaultFailures(ctx)
        clean.foreach(f => System.err.println(s"selftest: clean run failed: $f"))
        planted.foreach(f => System.err.println(s"selftest: planted fault detected: $f"))
        val ok = clean.isEmpty && planted.nonEmpty
        println(s"""{"selftest":${Json.str(if (ok) "pass" else "fail")},"clean_failures":${clean.size},"planted_fault_failures":${planted.size}}""")
        exit = if (ok) 0 else 1
      } else {
        // direct calls into codec and functions on the workload's own values
        val sample = wl.sampleValues(ctx)
        val hashMs = {
          val t = System.nanoTime()
          sample.foreach(v => codec.hash(v, true, passphrase))
          Workload.ms(t) / sample.size
        }
        val hitUs = {
          val f = MaskFunctions.maskString(codec, passphrase) _
          f(16, MaskFunctions.DefaultAlphabet, None, true, sample.head)
          val n = 20000
          val t = System.nanoTime()
          var i = 0
          while (i < n) { f(16, MaskFunctions.DefaultAlphabet, None, true, sample.head); i += 1 }
          Workload.ms(t) * 1e3 / n
        }

        // untimed warm-up repetitions, then the closed loop
        for (w <- 1 to WarmupReps) {
          cold(ctx)
          val warm = wl.rep(ctx, -w)
          progress(f"warm-up repetition ${warm.wallS}%.2f s")
          record("warm-up", warm.attempted, warm.failures)
        }
        val plain = ArrayBuffer.empty[RepResult]
        val withTrace = ArrayBuffer.empty[(RepResult, Map[String, Double])]
        val tStart = System.nanoTime()
        var i = 1
        def enough = (System.nanoTime() - tStart) / 1e9 >= seconds &&
          plain.size >= MinReps && (!traced || withTrace.size >= MinReps)
        while (!enough) {
          cold(ctx)
          // untraced, traced, traced, untraced, ...: JIT warm-up drift over
          // the run cancels out of the traced-minus-untraced overhead
          val traceThis = traced && (i % 4 == 2 || i % 4 == 3)
          val r = if (traceThis) {
            val since = System.nanoTime()
            ctx.probe = Some(SparkProbe.attach(spark, trace))
            trace.enabled = true
            val res = try wl.rep(ctx, i) finally {
              trace.enabled = false
              ctx.probe.foreach(p => SparkProbe.detach(spark, trace, p))
            }
            val p = ctx.probe.get
            ctx.probe = None
            withTrace += ((res, sparkLayer(trace, p, since)))
            res
          } else {
            val res = wl.rep(ctx, i)
            plain += res
            res
          }
          record(s"rep $i", r.attempted, r.failures)
          progress(f"repetition $i ${r.wallS}%.2f s${if (traceThis) " (traced)" else ""}")
          i += 1
        }
        // the outputs of the last repetition are checked: it ran after every
        // other one, so state leaking between repetitions shows there too
        val checkLines = ArrayBuffer.empty[String]
        Workload.attempt("check", checkLines)(wl.check(ctx)).foreach(checkLines ++= _)
        record("check", 1, checkLines.toSeq)
        progress("outputs checked")

        val reps = plain.toSeq
        val batchSamples = reps.flatMap(_.batchMs)
        val rowsPerS = Stats.median(reps.map(r => r.rows / r.wallS))
        val endToEnd = Map(
          "setup_s" -> Stats.median(setupTimes.toSeq),
          "rows_per_s" -> rowsPerS,
          "batch_p50_ms" -> Stats.median(batchSamples),
          "peak_rss_mb" -> Stats.peakRssMb())
        val tail = Stats.tail(batchSamples)
        val isCurate = wl.name.startsWith("curate")
        val layerMedian: Map[String, Double] = if (!traced) Map.empty else {
          val rows = withTrace.toSeq.map { case (r, s) => r.layer ++ s }
          rows.flatMap(_.keys).distinct.map(k => k -> Stats.median(rows.flatMap(_.get(k)))).toMap
        }
        val tracedWall = Stats.median(withTrace.toSeq.map(_._1.wallS))
        val untracedWall = Stats.median(reps.map(_.wallS))
        val derived = Map(
          "codec.hash_ms" -> hashMs, "functions.hit_us" -> hitUs,
          "docs_per_s" -> (if (isCurate) rowsPerS else 0.0),
          "batch_tail_ms" -> tail.fold(0.0)(_._2), "batch_tail_pct" -> tail.fold(0.0)(_._1),
          "batch_samples" -> batchSamples.size.toDouble,
          "failed_ops_ratio" -> failedOps.toDouble / math.max(1, attempted),
          "trace.wall_s" -> tracedWall, "trace.untraced_wall_s" -> untracedWall,
          "trace.overhead_s" -> (tracedWall - untracedWall))
        val perLayer = PerLayer.map { case (k, _) => k -> derived.getOrElse(k, layerMedian.getOrElse(k, 0.0)) }.toMap

        if (traced) {
          val traces = new File(work, "traces")
          traces.mkdirs()
          val f = new File(traces, s"trace-$workload-seed$seed.json")
          java.nio.file.Files.write(f.toPath, trace.toJson.getBytes("UTF-8"))
          System.err.println(s"perfbench: spans written to ${f.getPath}")
        }
        failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))

        val env = Seq(
          "codec" -> Json.str(codec.describe), "cores" -> cores.toString, "master" -> Json.str(spark.sparkContext.master),
          "heap_mb" -> heapMb.toString, "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
          "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
          "aqe" -> Json.str(spark.conf.get("spark.sql.adaptive.enabled")),
          "aqe_coalesce" -> Json.str(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")),
          "memo_cap_env" -> Json.str(sys.env.getOrElse("GRAFT_MASK_CACHE_ENTRIES", "default")),
          "timezone" -> Json.str(spark.conf.get("spark.sql.session.timeZone")),
          "spark" -> Json.str(spark.version), "java" -> Json.str(System.getProperty("java.version")))
        def nums(m: Map[String, Double]) = Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
        println(Json.obj(Seq(
          "detail" -> Json.str(workload), "seed" -> seed.toString, "traced" -> traced.toString,
          "env" -> Json.obj(env), "properties" -> nums(props),
          "setup_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
          "rep_wall_s" -> reps.map(r => Json.num(r.wallS)).mkString("[", ",", "]"),
          "traced_rep_wall_s" -> withTrace.map(r => Json.num(r._1.wallS)).mkString("[", ",", "]"),
          "batch_ms" -> batchSamples.map(Json.num).mkString("[", ",", "]"),
          "batch_tail" -> tail.fold("null")(t => Json.obj(Seq("percentile" -> Json.num(t._1),
            "value_ms" -> Json.num(t._2), "samples" -> batchSamples.size.toString))),
          "failures" -> failures.map(Json.str).mkString("[", ",", "]"))))

        val shown = if (traced) PerLayer.map { case (k, u) => (k, perLayer(k), u) }
          else EndToEnd.map { case (k, u) => (k, endToEnd(k), u) }
        val metrics = Json.obj(shown.map { case (k, v, u) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
        println(Json.obj(Seq("correct" -> failures.isEmpty.toString, "attempted" -> attempted.toString,
          "failed" -> failedOps.toString, "metrics" -> metrics)))
        exit = if (failures.isEmpty) 0 else 1
      }
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
      Gen.deleteTree(runDir)
    }
    System.exit(exit)
  }

  private def session(cores: Int, work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "tmp").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()

  /** Cold state for a repetition: empty memo, no cached frames or persisted
    * RDDs, no temp views, no running streams, no earlier repetition's files. */
  private def cold(ctx: Ctx): Unit = {
    val spark = ctx.spark
    spark.streams.active.foreach(_.stop())
    MaskFunctions.clearCache()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
    Option(ctx.dir.listFiles()).foreach(_.filter(_.getName.startsWith("rep-")).foreach(Gen.deleteTree))
    System.gc()
  }

  /** Spark-layer counters and layer self times for the timed part of one
    * traced repetition (the `bench.rep` span and everything under it). */
  private def sparkLayer(trace: Trace, p: SparkProbe, since: Long): Map[String, Double] = {
    val spans = trace.all.filter(_.start >= since)
    val inRep = trace.subtree(spans.filter(_.name == "bench.rep"), spans)
    val ids = inRep.map(_.id).toSet
    val wall = inRep.filter(_.name == "bench.rep").map(s => s.end - s.start).sum / 1e9
    val jobs = p.jobList.filter(j => ids.contains(j.parent))
    val t = p.totals(jobs)
    val self = trace.selfSecondsByLayer(inRep)
    val jobSpans = inRep.filter(_.name == "spark.job").map(s => (s.start, s.end))
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> t(0).toDouble,
      "spark.failed_tasks" -> t(1).toDouble,
      "spark.executor_run_s" -> t(2) / 1e9,
      "spark.executor_cpu_s" -> t(3) / 1e9,
      "spark.gc_s" -> t(4) / 1e3,
      "spark.shuffle_write_bytes" -> t(5).toDouble,
      "spark.shuffle_read_bytes" -> t(6).toDouble,
      "spark.spill_bytes" -> t(7).toDouble,
      "spark.driver_gap_s" -> (wall - Trace.unionNs(jobSpans) / 1e9),
      "trace.self_sum_s" -> self.values.sum) ++
      self.map { case (layer, s) => s"self.${layer}_s" -> s }
  }
}
