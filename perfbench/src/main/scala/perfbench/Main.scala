package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one workload and prints its report; the last stdout line is the
  * result JSON. Usage:
  *
  *   perfbench.Main --workload serve|ingest|curate --seed N --seconds S
  *                  --trace 0|1 --work DIR
  *   perfbench.Main --selftest
  */
object Main {
  /** Set-ups per run; setup_s is their median. The first runs in a cold
    * JVM, as a user's first set-up does. */
  val Setups = 2

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    SelfTest.run()
    if (argv.contains("--selftest")) { println("selftest ok"); return }
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work"))
    val loadStart = loadAvg()
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(4, nproc)
    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, workload, seed, seconds, trace, work, nproc, cores, loadStart)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  trace: Boolean, work: Path, nproc: Int, cores: Int, loadStart: String): Int = {
    val gen = new Gen(seed)
    val client = new Client(spark)
    val w: Workload = workload match {
      case "serve" => new Serve(spark, gen, client, n = 5000)
      case "ingest" => new Ingest(spark, gen, client, n = 3000, batch = 200, compactEvery = 2)
      case "curate" => new Curate(spark, gen, client, n = 1000)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      w.setup(Files.createDirectories(work.resolve(s"catalog-$i")))
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: JIT and codegen settle before timing; its failures still count
    w.warmUp()
    w.resetMeasures()
    client.latencies.clear()

    def loop(forSeconds: Double): Unit = {
      val until = System.nanoTime() + (forSeconds * 1e9).toLong
      do (1 to w.cycle).foreach(_ => w.step()) while (System.nanoTime() < until)
    }
    val report = mutable.LinkedHashMap.empty[String, (Double, String)]
    val lines = mutable.ArrayBuffer.empty[String]
    if (!trace) {
      loop(seconds)
      w.finalChecks()
    } else {
      // untraced then traced, on the same warm state: the difference
      // between the phases' medians is the tracing overhead
      loop(seconds / 3)
      val untraced = client.latencies.map { case (op, xs) => op -> Stats.median(xs.toSeq) }.toMap
      client.latencies.clear()
      val tracer = new Tracer(spark)
      tracer.start()
      client.tracer = Some(tracer)
      loop(seconds * 2 / 3)
      client.tracer = None
      tracer.stop()
      w.finalChecks()
      val traced = client.latencies.map { case (op, xs) => op -> Stats.median(xs.toSeq) }.toMap
      val both = traced.keySet.intersect(untraced.keySet).toSeq
      val overhead = if (both.isEmpty) 0.0
        else (both.map(traced).sum / both.map(untraced).sum - 1) * 100
      val reqs = tracer.requests.toSeq
      val layerKeys = reqs.flatMap(_.layerValues.map(_._1)).distinct
      def meanOf(rs: Seq[Traced], k: String) = Stats.mean(rs.flatMap(_.layerValues.toMap.get(k)))
      PerLayer.foreach { case (k, unit) =>
        val v = if (layerKeys.contains(k)) meanOf(reqs, k) else w.layerExtras.getOrElse(k, 0.0)
        report(k) = (v, unit)
      }
      report("trace.overhead_pct") = (overhead, "%")
      // the same layers per operation, and each curation stage's time
      reqs.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, rs) =>
        rs.flatMap(_.layerValues.map(_._1)).distinct.foreach(k =>
          lines += f"layer $op.$k ${meanOf(rs, k)}%.4f")
        StageModule.get(op).foreach(m =>
          lines += f"layer curate.$m.${op}_ms ${Stats.median(rs.map(_.wallMs))}%.4f ms")
      }
      tracer.selfTimeMs.toSeq.sortBy(-_._2).foreach { case (name, ms) =>
        lines += f"self_ms $name $ms%.3f" }
      val path = work.getParent.resolve(s"trace-$workload-$seed.jsonl")
      tracer.write(path)
      lines += s"trace_file $path"
    }
    val mem = liveHeapMb()
    val samples = w.primary
    val ok = samples.nonEmpty && client.failures.isEmpty
    if (!trace && samples.nonEmpty) {
      report("setup_s") = (Stats.median(setupS), "s")
      report("p50_ms") = (Stats.median(samples), "ms")
      report("docs_per_s") = (w.docs / (w.busyMs / 1000), "docs/s")
      report("mem_mb") = (mem, "MB")
      report("recall") = (w.recall, "ratio")
    }
    // the named metrics, per operation, with their sample counts
    lines += s"env nproc=$nproc cores=$cores load_start=$loadStart load_end=${loadAvg()}"
    lines += f"setup_s ${Stats.median(setupS)}%.4f s (runs: ${setupS.map(s => f"$s%.3f").mkString(" ")})"
    client.latencies.foreach { case (op, xs) =>
      val t = Stats.tail(xs.toSeq).fold("tail n/a")({ case (p, v) => f"tail p$p $v%.3f ms" })
      lines += f"${op}_p50_ms ${Stats.median(xs.toSeq)}%.3f ms ($t, n=${xs.size})"
    }
    if (workload == "curate" && samples.nonEmpty)
      lines += f"pass_p50_ms ${Stats.median(samples)}%.3f ms (n=${samples.size})"
    lines += s"p50_samples_ms ${samples.map(x => f"$x%.1f").mkString(" ")}"
    lines += f"failed_frac ${client.failures.size.toDouble / math.max(1, client.attempted)}%.4f ratio" +
      client.failures.groupBy(identity).map { case ((op, why), n) => s" [$op: $why x${n.size}]" }.mkString
    lines += f"mem_mb $mem%.1f MB"
    w match {
      case i: Ingest => lines += s"compactions ${i.compactionCount}"
      case _ =>
    }
    w.layerExtras.foreach { case (k, v) => lines += f"$k $v%.4f" }
    lines.foreach(println)
    val metrics = report.map { case (k, (v, unit)) => s""""$k": {"value": ${json(v)}, "unit": "$unit"}""" }
    println(s"""{"correct": $ok, "attempted": ${client.attempted}, "failed": ${client.failures.size}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    if (ok) 0 else 1
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Per-layer metrics of the traced run, means per traced request. */
  val PerLayer: Seq[(String, String)] = Seq(
    "api.construct_ms" -> "ms", "api.construct_jobs" -> "count", "plan.ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_wait_ms" -> "ms", "exec.driver_gap_ms" -> "ms", "exec.run_ms" -> "ms",
    "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.shuffle_bytes" -> "B", "exec.spill_bytes" -> "B",
    "exec.rows_read" -> "count", "exec.rows_read_per_result" -> "ratio",
    "catalog.bytes_written" -> "B", "catalog.files_written" -> "count",
    "catalog.write_amp" -> "ratio", "catalog.segments" -> "count",
    "catalog.compaction_rate" -> "ratio", "catalog.bytes_per_user_byte" -> "ratio")

  /** The graft module behind each curation stage. */
  val StageModule: Map[String, String] = Map("quality" -> "text", "exact_dedup" -> "dedup",
    "minhash" -> "dedup", "lm" -> "text", "dsir" -> "ops", "semdedup" -> "dedup",
    "training_set" -> "ops")

  /** Live heap after a full collection: what the run's state retains.
    * Spark frees cached blocks and broadcasts from a cleaner thread once
    * a collection finds them unreachable, so it collects a few times and
    * keeps the smallest heap the collections left. */
  private def liveHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.{ManagementFactory, MemoryType}
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(200)
      heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }.min
  }

  private def loadAvg(): String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ").take(3)
      .mkString("/")).getOrElse("n/a")
}
