package graft.perfbench

import graft.align.Distance
import graft.correct.{CompiledModel, Corrector, SharedWindowCache}
import graft.pipeline.{CorrectionJob, Doc, Metrics, Span, TableIO}
import graft.sources.ModelIO
import graft.tokenize.Tokenizer
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A correction job as a user runs it: load the model → broadcast →
  * `CorrectionJob.correctDocs` (salted) → `TableIO.writeDocs` →
  * `TableIO.readDocs` → CER against GT. `lines` picks the workload:
  * "zipf" (`correct_zipf`) or "diverse" (`correct_diverse`). */
final class CorrectionWorkload(spark: SparkSession, a: Main.Args, cores: Int,
    lines: String, tracer: Tracer, stats: Option[StageStats]) {
  import CorrectionWorkload._
  import spark.implicits._

  private val nDocs = if (lines == "zipf") ZipfDocs else DiverseDocs
  private val partitions = cores * 4 // salting: four tasks per core smooth stragglers
  private val buckets = cores
  private val acc = LayerAcc(spark.sparkContext)

  private var dir: Path = _
  private var corpus: Inputs.Corpus = _
  private var byId: Map[String, Doc] = Map.empty
  private var reference: (Long, Long, Double, Long) = _ // docs, checksum, distance, GT length
  private var modelInfo: (Long, Long, Long, Long) = _ // error, lexicon, window arcs; bytes
  private var gt: Broadcast[Map[String, String]] = _ // "doc_id@offset" -> GT line
  private val prepLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val jobsSeen = mutable.ArrayBuffer.empty[JobRec]

  def textSpans: Int = corpus.textSpans
  def sparkJobs: Seq[JobRec] = jobsSeen.toSeq

  /** Per-layer metrics of the set-up's training (median over the
    * preparations); empty when not tracing. */
  def setupLayer: Map[String, Double] =
    prepLayers.flatMap(_.keys).distinct
      .map(k => k -> Main.median(prepLayers.flatMap(_.get(k)))).toMap

  private def inputPath = dir.resolve("input").toString
  private def modelPath = dir.resolve("model.bin").toString

  /** One preparation under `d`: generate the docs from the seed, write
    * them to Parquet and broadcast their GT, train the model with
    * `trainSpark` from generated pairs, and save it with `ModelIO`. The pairs come from a
    * fixed seed, so every run corrects with the same model, as a
    * deployed model would; the run's seed varies the documents. */
  def prepare(d: Path): Unit = {
    dir = d
    corpus = Inputs.corpus(lines, nDocs, ZipfPool, megaDocs = lines == "zipf", a.seed)
    byId = corpus.docs.iterator.map(x => x.doc_id -> x).toMap
    spark.createDataset(corpus.docs.toSeq).repartition(cores).write.parquet(inputPath)
    if (gt != null) gt.destroy()
    gt = spark.sparkContext.broadcast(
      corpus.gt.iterator.map { case (id, off, g) => s"$id@$off" -> g }.toMap)
    drainStats()
    val pairs = spark.createDataset(Inputs.trainPairs(ModelPairs, ModelSeed).toSeq)
    val model = tracer.span("train")(CompiledModel.trainSpark(spark, pairs))
    tracer.span("save")(ModelIO.saveModel(model, modelPath))
    modelInfo = (model.errorFst.map(_.numArcs.toLong).getOrElse(0L),
      model.lexiconFst.map(_.numArcs.toLong).getOrElse(0L),
      model.windowFst.numArcs.toLong, Files.size(Paths.get(modelPath)))
    reference = null
    if (tracer.enabled) {
      val (jobs, tasks) = drainStats()
      val trainJobs = jobs.filter(_.phase == "train")
      val countS = trainJobs.map(_.seconds).sum
      val ids = trainJobs.map(_.jobId).toSet
      prepLayers += Map(
        "train.count_job_s" -> countS,
        "train.compile_s" -> (tracer.last("train") - countS),
        "train.agg_records" -> tasks.filter(t => ids(t.jobId)).map(_.shuffleRecordsRead).sum.toDouble,
        "train.error_arcs" -> modelInfo._1.toDouble,
        "train.window_arcs" -> modelInfo._3.toDouble,
        "train.save_s" -> tracer.last("save"))
    }
  }

  def describe(): Seq[String] = {
    val (docs, _, dist, len) = reference
    Seq(s"inputs: docs=$docs text_spans=${corpus.textSpans} " +
        s"media_spans=${corpus.docs.map(_.spans.size).sum - corpus.textSpans} " +
        s"lines=$lines model_pairs=$ModelPairs",
      s"model: error_arcs=${modelInfo._1} lexicon_arcs=${modelInfo._2} " +
        s"window_arcs=${modelInfo._3} artifact_bytes=${modelInfo._4}",
      s"cer_corrected: ${dist / len} ($dist / $len, the same in every job)")
  }

  def job(rep: Int, traced: Boolean): Main.JobResult = {
    val table = dir.resolve(s"table-$rep").toString
    acc.reset()
    drainStats()
    val t0 = System.nanoTime()
    var model: CompiledModel = null
    var bc: Broadcast[CompiledModel] = null
    val (manifests, (readBack, eval)) = tracer.span("job") {
      model = tracer.span("load_model")(ModelIO.loadModel(modelPath))
      bc = tracer.span("broadcast")(CorrectionJob.broadcastModel(spark, model))
      val docs = spark.read.parquet(inputPath).as[Doc]
      val metrics = Metrics(spark)
      val manifests =
        if (!traced) {
          val corrected = CorrectionJob.correctDocs(docs, bc, Some(metrics),
            saltPartitions = Some(partitions))
          TableIO.writeDocs(corrected, table, buckets, metrics = Some(metrics))
        } else {
          val corrected = tracer.span("correct") {
            val c = TracedCorrection.correctDocs(docs, bc, metrics, partitions, acc)
              .persist(StorageLevel.MEMORY_AND_DISK)
            c.foreachPartition((it: Iterator[Doc]) => it.foreach(_ => ()))
            c
          }
          val m = tracer.span("write")(
            TableIO.writeDocs(corrected, table, buckets, metrics = Some(metrics)))
          corrected.unpersist(blocking = true)
          m
        }
      (manifests, tracer.span("read")(readAndEvaluate(table)))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val heapMb = if (rep > 0) heapAfterGc() else 0.0 // warm-up jobs (rep 0) report none

    val failures = check(table, model, manifests, readBack, eval, rep)
    val layer =
      if (traced) layerMetrics(seconds, model, manifests, eval)
      else Map.empty[String, Double]
    bc.destroy()
    Main.deleteTree(Paths.get(table))
    Main.JobResult(seconds, heapMb, failures, layer)
  }

  /** One pass over the committed table: (doc count, checksum) as the
    * manifests record them, and the CER against GT as (distance, GT
    * length, pairs, aligner nanoseconds summed over tasks). */
  private def readAndEvaluate(table: String): ((Long, Long), (Double, Long, Long, Long)) = {
    val truth = gt
    val parts = TableIO.readDocs(spark, table)
      .select($"doc_id", $"spans", xxhash64($"doc_id", to_json($"spans")))
      .as[(String, Seq[Span], Long)]
      .mapPartitions { it =>
        val g = truth.value
        var docs = 0L; var sum = 0L; var d = 0.0; var n = 0L; var k = 0L; var ns = 0L
        it.foreach { case (id, spans, h) =>
          docs += 1; sum ^= h
          spans.foreach { s =>
            if (s.kind == "text") g.get(s"$id@${s.offset}").foreach { want =>
              val t0 = System.nanoTime()
              val (dd, nn) = Distance.adjustedDistance(s.text, want)
              ns += System.nanoTime() - t0
              d += dd; n += nn; k += 1
            }
          }
        }
        Iterator((docs, sum, d, n, k, ns))
      }
      .collect()
    ((parts.map(_._1).sum, parts.map(_._2).foldLeft(0L)(_ ^ _)),
      (parts.map(_._3).sum, parts.map(_._4).sum, parts.map(_._5).sum, parts.map(_._6).sum))
  }

  private def check(table: String, model: CompiledModel,
      manifests: Seq[TableIO.BucketManifest], readBack: (Long, Long),
      eval: (Double, Long, Long, Long), rep: Int): Seq[String] = {
    val f = Seq.newBuilder[String]
    val mDocs = manifests.map(_.numDocs).sum
    val mSum = manifests.map(_.checksum).foldLeft(0L)(_ ^ _)
    if (mDocs != nDocs) f += s"committed $mDocs docs, input has $nDocs"
    if (readBack != ((mDocs, mSum)))
      f += s"read-back (docs, checksum) $readBack != committed ($mDocs, $mSum)"
    if (eval._3 != corpus.textSpans)
      f += s"evaluated ${eval._3} text spans, input has ${corpus.textSpans}"

    // span-sequence equality against the input
    val out = TableIO.readDocs(spark, table).collect()
    if (out.map(_.doc_id).toSet != byId.keySet) f += "doc_id set differs from input"
    val outById = out.iterator.map(d => d.doc_id -> d).toMap
    val bad = byId.valuesIterator.count { in =>
      outById.get(in.doc_id).forall { o =>
        o.spans.size != in.spans.size || o.spans.zip(in.spans).exists { case (x, y) =>
          x.kind != y.kind || x.media_ref != y.media_ref || x.offset != y.offset ||
            (y.kind != "text" && x.text != y.text)
        }
      }
    }
    if (bad > 0) f += s"$bad docs break span-sequence equality"

    // a seeded sample re-corrected without any cache
    val rnd = new SplittableRandom(a.seed * 1000003L + rep)
    val texts = corpus.docs.flatMap(d => d.spans.filter(_.kind == "text").map(s => (d.doc_id, s)))
    (0 until CheckLines).foreach { _ =>
      val (id, s) = texts(rnd.nextInt(texts.length))
      val want = Corrector.correctLine(s.text, model, cache = null)
      val got = outById.get(id).flatMap(_.spans.find(_.offset == s.offset)).map(_.text)
      if (!got.contains(want))
        f += s"$id@${s.offset}: job wrote $got, cache-free correction gives '$want'"
    }

    // output and CER are pinned: by the first warm-up job of this run, and
    // by pins.json where it lists this seed
    val now = (mDocs, mSum, eval._1, eval._2)
    if (reference == null) reference = now
    else if (now != reference) f += s"output $now differs from the first job's $reference"
    Pins.cer(a.pins, a.workload, a.seed).foreach { case (d, n) =>
      if ((eval._1, eval._2) != ((d, n)))
        f += s"cer_corrected ${eval._1}/${eval._2} != pinned $d/$n"
    }
    f.result()
  }

  private def layerMetrics(seconds: Double, model: CompiledModel,
      manifests: Seq[TableIO.BucketManifest],
      eval: (Double, Long, Long, Long)): Map[String, Double] = {
    val (jobs, tasks) = drainStats()
    val computed = acc.computed.value.asScala.toSeq
    val distinct = computed.groupMapReduce(_._1)(_._2)((x, _) => x)
    val misses = distinct.size.toLong
    val windows = acc.windows.value
    val sample = distinct.keys.toSeq
      .sortBy(k => (scala.util.hashing.MurmurHash3.stringHash(k), k))
      .take(ReplayWindows)
    val rp = Replay.run(sample, model)
    if (rp.mismatches.nonEmpty)
      sys.error(s"window replay differs from windowAlternatives on " +
        s"${rp.mismatches.size} windows, e.g. '${rp.mismatches.head}'")
    val perWindow = if (rp.windows == 0) 0.0 else misses.toDouble / rp.windows
    def perReplayed(x: Long) = if (rp.windows == 0) 0.0 else x.toDouble / rp.windows
    def ratio(x: Long, y: Long) = if (y == 0) 0.0 else x.toDouble / y
    val correctJobs = jobs.filter(_.phase == "correct").map(_.jobId).toSet
    val files = manifests.flatMap(_.files)
    val writeS = tracer.last("write")
    sparkLayer(jobs, tasks, seconds) ++ Map(
      "correct.lines" -> acc.lines.value.toDouble,
      "correct.windows" -> windows.toDouble,
      "correct.tokenize_s" -> acc.tokenizeNs.value / 1e9,
      "correct.lattice_s" -> acc.latticeNs.value / 1e9,
      "correct.viterbi_s" -> acc.viterbiNs.value / 1e9,
      "correct.alts_mean" -> ratio(acc.alts.value, windows),
      "correct.alts_max" -> acc.altsMax.value.toDouble,
      "cache.hits" -> (windows - misses).toDouble,
      "cache.misses" -> misses.toDouble,
      "cache.hit_ratio" -> ratio(windows - misses, windows),
      "cache.miss_compute_s" -> acc.missNs.value / 1e9,
      "cache.bytes_inserted" -> distinct.values.sum.toDouble,
      "cache.dup_computes" -> (computed.size - misses).toDouble,
      "wfst.windows" -> rp.windows.toDouble,
      "wfst.error_compose_s" -> rp.errorComposeNs * perWindow / 1e9,
      "wfst.rmeps_s" -> rp.rmepsNs * perWindow / 1e9,
      "wfst.lexicon_compose_s" -> rp.lexiconComposeNs * perWindow / 1e9,
      "wfst.enumerate_s" -> rp.enumerateNs * perWindow / 1e9,
      "wfst.product_states" -> perReplayed(rp.productStates),
      "wfst.product_arcs" -> perReplayed(rp.productArcs),
      "wfst.eps_fallbacks" -> rp.epsFallbacks.toDouble,
      "pipeline.load_model_s" -> tracer.last("load_model"),
      "pipeline.broadcast_s" -> tracer.last("broadcast"),
      "pipeline.model_bytes" -> modelInfo._4.toDouble,
      "pipeline.model_error_arcs" -> modelInfo._1.toDouble,
      "pipeline.model_lexicon_arcs" -> modelInfo._2.toDouble,
      "pipeline.salt_shuffle_mb" ->
        tasks.filter(t => correctJobs(t.jobId)).map(_.shuffleWrite).sum / Mb,
      "tableio.write_s" -> writeS,
      "tableio.commit_s" -> (writeS - jobs.filter(_.phase == "write").map(_.seconds).sum),
      "tableio.bytes_written" ->
        files.map(p => Files.size(Paths.get(new java.net.URI(p)))).sum.toDouble,
      "tableio.files" -> files.size.toDouble,
      "tableio.read_s" -> tracer.last("read"),
      "align.eval_s" -> eval._4 / 1e9,
      "align.pairs" -> eval._3.toDouble)
  }

  /** Spark metrics over one job's tasks; `task_skew` is taken over the
    * heaviest stage of the correction phase. */
  private def sparkLayer(jobs: Seq[JobRec], tasks: Seq[TaskRec],
      jobSeconds: Double): Map[String, Double] = {
    val cpuS = tasks.map(_.cpuNs).sum / 1e9
    val correctJobs = jobs.filter(_.phase == "correct").map(_.jobId).toSet
    val heaviest = tasks.filter(t => correctJobs(t.jobId)).groupBy(_.stageId)
      .values.toSeq.sortBy(ts => -ts.map(_.runMs).sum).headOption.getOrElse(Nil)
    val skew =
      if (heaviest.isEmpty) 0.0
      else heaviest.map(_.runMs).max / math.max(Main.median(heaviest.map(_.runMs.toDouble)), 1.0)
    Map("spark.executor_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> cpuS,
      "spark.cpu_util" -> cpuS / (jobSeconds * cores),
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / Mb,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / Mb,
      "spark.spill_mb" -> tasks.map(_.spill).sum / Mb,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_skew" -> skew)
  }

  /** Spark jobs and tasks since the last call (none when not tracing). */
  private def drainStats(): (Seq[JobRec], Seq[TaskRec]) = stats match {
    case Some(s) =>
      val r = s.drain(spark.sparkContext)
      jobsSeen ++= r._1
      r
    case None => (Nil, Nil)
  }

  /** Heap in use after a full GC, in MB. Objects that only pending
    * finalizers still reach are freed by a second GC. */
  private def heapAfterGc(): Double = {
    System.gc()
    System.runFinalization()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / Mb
  }
}

object CorrectionWorkload {
  // Input sizes: one job takes a few seconds on a 4-core box.
  val ModelPairs = 1000   // training pairs of the correction model
  val ModelSeed = 1L      // seed of those pairs
  val ZipfDocs = 500      // correct_zipf docs per job
  val ZipfPool = 3000     // distinct perturbed lines the Zipf draws use
  val DiverseDocs = 80    // correct_diverse docs per job
  val CheckLines = 6      // lines re-corrected without cache per job
  val ReplayWindows = 150 // missed windows replayed per traced job
  val Mb = 1048576.0
}

/** The same map as `CorrectionJob.correctDocs` (salted repartition, then
  * `Corrector.correctLine`'s steps per text span), with the window cache
  * wrapped in a [[CountingCache]] and each layer call timed. Used only by
  * traced jobs; its output must equal the untraced job's. */
object TracedCorrection {
  def correctDocs(docs: Dataset[Doc], bc: Broadcast[CompiledModel],
      metrics: Metrics, partitions: Int, acc: LayerAcc): Dataset[Doc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.repartition(partitions, xxhash64($"doc_id")).mapPartitions { it =>
      val m = bc.value
      val cache = new CountingCache(SharedWindowCache.forModel(m), acc)
      it.map { d =>
        metrics.docs.add(1)
        Doc(d.doc_id, d.spans.map { s =>
          if (s.kind == "text") {
            metrics.textSpans.add(1); metrics.chars.add(s.text.length.toLong)
            val c = correctLine(s.text, m, cache, acc)
            if (c != s.text) metrics.spansChanged.add(1)
            Span(s.kind, c, s.media_ref, s.offset)
          } else { metrics.mediaSpans.add(1); s }
        })
      }
    }
  }

  private def correctLine(line: String, m: CompiledModel, cache: CountingCache,
      acc: LayerAcc): String = {
    acc.lines.add(1)
    val t0 = System.nanoTime()
    val empty = Tokenizer.splitInputString(line).isEmpty
    val t1 = System.nanoTime()
    acc.tokenizeNs.add(t1 - t0)
    if (empty) line
    else {
      val lattice = Corrector.latticeFromString(line, m, cache)
      val t2 = System.nanoTime()
      acc.latticeNs.add(t2 - t1)
      val out = Corrector.viterbi(lattice).getOrElse(line)
      acc.viterbiNs.add(System.nanoTime() - t2)
      out
    }
  }
}

/** Pinned CER values: pins.json maps workload → seed → [distance, GT length]. */
object Pins {
  def cer(path: Option[Path], workload: String, seed: Long): Option[(Double, Long)] =
    path.filter(Files.exists(_)).flatMap { p =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
      Option(root.get(workload)).flatMap(w => Option(w.get(seed.toString)))
        .map(v => (v.get(0).asDouble(), v.get(1).asLong()))
    }
}
