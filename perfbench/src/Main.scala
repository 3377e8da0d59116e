package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** End-to-end correction benchmark. One process, one `local[nproc]`
  * session, one workload per invocation; jobs run back to back (closed
  * loop) until `--seconds` have passed. See perfbench/README.md. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, pins: Option[Path])

  /** One job's outcome. `layer` holds the per-layer metrics of a traced
    * job (empty otherwise). */
  final case class JobResult(seconds: Double, heapMb: Double,
      failures: Seq[String], layer: Map[String, Double])

  val Preparations = 3 // input and model preparations per run; setup_s takes the median
  val WarmUpJobs = 3   // untimed jobs between set-up and the first timed job

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable =>
        System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        1
      }
    System.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      kv.get("pins").map(Paths.get(_)))
  }

  private def run(a: Args): Unit = {
    val lines = a.workload match {
      case "correct_zipf"    => "zipf"
      case "correct_diverse" => "diverse"
      case other => sys.error(s"unknown workload $other")
    }
    val tSession = System.nanoTime()
    // one core is left to the driver's scheduler, JIT and GC threads:
    // with a task thread on every core those queue behind the tasks
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      // a small status store, as in a fresh spark-submit; by default it
      // grows with every job, and heap_retained_mb with it
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val stats = if (a.trace) Some(StageStats.install(spark.sparkContext)) else None
    val w = new CorrectionWorkload(spark, a, cores, lines, tracer, stats)
    println(s"perfbench workload=${a.workload} seed=${a.seed} cores=$cores " +
      s"seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")

    // set-up: inputs and model are prepared several times (the median
    // counts; the last preparation is the one the jobs use), then
    // untimed warm-up jobs pay JIT and lazy initialisation
    val preps = (0 until Preparations).map { i =>
      val t0 = System.nanoTime()
      w.prepare(a.work.resolve(s"setup-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    val tWarm = System.nanoTime()
    for (_ <- 0 until WarmUpJobs) {
      val warm = w.job(0, traced = false)
      if (warm.failures.nonEmpty)
        sys.error("warm-up job failed: " + warm.failures.mkString("; "))
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + median(preps) + warmS
    w.describe().foreach(println)

    // closed loop; in a traced run traced and untraced jobs alternate,
    // which gives the tracing overhead from one process, and at least
    // two traced jobs run, which the cold-cache check compares
    val results = mutable.ArrayBuffer.empty[(Boolean, JobResult)]
    var firstMisses: Option[Double] = None
    val t0 = System.nanoTime()
    var rep = 1
    while (rep <= (if (a.trace) 3 else 1) ||
        (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val traced = a.trace && rep % 2 == 1
      tracer.job = rep
      var r =
        try w.job(rep, traced)
        catch { case e: Exception =>
          JobResult(0, 0, Seq(s"job threw ${e.getClass.getName}: ${e.getMessage}"), Map.empty)
        }
      // cold-cache proof: every traced job computes the same windows
      for (m <- r.layer.get("cache.misses")) {
        if (firstMisses.isEmpty) firstMisses = Some(m)
        if (firstMisses.get != m) r = r.copy(failures = r.failures :+
          s"cache.misses $m differs from the first traced job's ${firstMisses.get}")
      }
      r.failures.foreach(f => println(s"FAILED job $rep: $f"))
      results += ((traced, r))
      rep += 1
    }

    val ok = results.toSeq.filter(_._2.failures.isEmpty)
    val untraced = ok.filterNot(_._1).map(_._2)
    val tracedOk = ok.filter(_._1).map(_._2)
    val failed = results.count(_._2.failures.nonEmpty)
    val jobS = untraced.map(_.seconds)
    if (jobS.isEmpty) sys.error("no untraced job completed")
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("job_s", median(jobS), "s"),
      ("spans_per_s", w.textSpans / median(jobS), "1/s"),
      ("heap_retained_mb", median(untraced.map(_.heapMb)), "MB"))
    println(f"setup_s: session $sessionS%.3f s + median of preparations " +
      preps.map(x => f"$x%.3f").mkString("[", ", ", "]") + f" s + warm-up $warmS%.3f s")
    println(f"job_s: median ${median(jobS)}%.4f s, p100 ${jobS.max}%.4f s (n=${jobS.size}; " +
      jobS.map(x => f"$x%.3f").mkString("series ", " ", ")"))
    println("heap_retained_mb: series " + untraced.map(r => f"${r.heapMb}%.1f").mkString(" "))
    println(s"fail_ratio: $failed/${results.size}")
    if (a.trace) println("cache per traced job (hits/misses): " + tracedOk.map(r =>
      f"${r.layer.getOrElse("cache.hits", 0.0)}%.0f/${r.layer.getOrElse("cache.misses", 0.0)}%.0f").mkString(" "))

    val metrics =
      if (!a.trace) e2e
      else {
        val layer = LayerNames.all.map { case (n, unit) =>
          val vs = tracedOk.flatMap(r => (w.setupLayer ++ r.layer).get(n))
          (n, if (vs.isEmpty) 0.0 else median(vs), unit)
        }
        val tJob = if (tracedOk.isEmpty) 0.0 else median(tracedOk.map(_.seconds))
        layer ++ Seq(("trace.job_s", tJob, "s"),
          ("trace.untraced_job_s", median(jobS), "s"),
          ("trace.overhead_s", tJob - median(jobS), "s"),
          ("trace.overhead_ratio", tJob / median(jobS) - 1, "ratio"))
      }
    metrics.foreach { case (n, v, u) => println(s"  $n = $v $u") }

    if (a.trace) writeTrace(a, tracer, w.sparkJobs)
    spark.stop()
    deleteTree(a.work)

    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${results.size}, "failed": $failed, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Writes the run's spans and Spark jobs, one JSON object per line. */
  private def writeTrace(a: Args, tracer: Tracer, jobs: Seq[JobRec]): Unit = {
    val dir = a.work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val out = dir.resolve(s"${a.workload}-seed${a.seed}.jsonl")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = tracer.spans.map { s =>
      s"""{"id": ${s.id}, "name": "${esc(s.name)}", "parent": ${s.parent}, "job": ${s.job}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    } ++ jobs.map { j =>
      s"""{"spark_job": ${j.jobId}, "phase": "${esc(j.phase)}", "parent": ${j.span}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}}"""
    }
    Files.write(out, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"trace: ${tracer.spans.size} spans and ${jobs.size} Spark jobs in " +
      s".bench_work/traces/${out.getFileName}")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}

/** Names and units of the per-layer metrics, in output order. */
object LayerNames {
  val all: Seq[(String, String)] = Seq(
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.cpu_util" -> "ratio", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.tasks" -> "count", "spark.task_skew" -> "ratio",
    "correct.lines" -> "count", "correct.windows" -> "count",
    "correct.tokenize_s" -> "s", "correct.lattice_s" -> "s",
    "correct.viterbi_s" -> "s", "correct.alts_mean" -> "count",
    "correct.alts_max" -> "count",
    "cache.hits" -> "count", "cache.misses" -> "count",
    "cache.hit_ratio" -> "ratio", "cache.miss_compute_s" -> "s",
    "cache.bytes_inserted" -> "bytes", "cache.dup_computes" -> "count",
    "wfst.windows" -> "count", "wfst.error_compose_s" -> "s",
    "wfst.rmeps_s" -> "s", "wfst.lexicon_compose_s" -> "s",
    "wfst.enumerate_s" -> "s", "wfst.product_states" -> "count",
    "wfst.product_arcs" -> "count", "wfst.eps_fallbacks" -> "count",
    "pipeline.load_model_s" -> "s", "pipeline.broadcast_s" -> "s",
    "pipeline.model_bytes" -> "bytes", "pipeline.model_error_arcs" -> "count",
    "pipeline.model_lexicon_arcs" -> "count", "pipeline.salt_shuffle_mb" -> "MB",
    "tableio.write_s" -> "s", "tableio.commit_s" -> "s",
    "tableio.bytes_written" -> "bytes", "tableio.files" -> "count",
    "tableio.read_s" -> "s",
    "align.eval_s" -> "s", "align.pairs" -> "count",
    "train.count_job_s" -> "s", "train.compile_s" -> "s",
    "train.agg_records" -> "count", "train.error_arcs" -> "count",
    "train.window_arcs" -> "count", "train.save_s" -> "s")
}
