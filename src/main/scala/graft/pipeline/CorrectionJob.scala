package graft.pipeline

import graft.correct.{AltCache, CompiledModel, Corrector, SharedWindowCache}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Pipeline metrics via accumulators (the north rule's per-partition
  * metrics; exported into snapshot manifests by TableIO). */
final case class Metrics(
    docs: LongAccumulator,
    textSpans: LongAccumulator,
    mediaSpans: LongAccumulator,
    spansChanged: LongAccumulator,
    chars: LongAccumulator)

object Metrics {
  def apply(spark: SparkSession): Metrics = {
    val sc = spark.sparkContext
    Metrics(sc.longAccumulator("graft.docs"),
      sc.longAccumulator("graft.textSpans"),
      sc.longAccumulator("graft.mediaSpans"),
      sc.longAccumulator("graft.spansChanged"),
      sc.longAccumulator("graft.chars"))
  }
}

/** The flagship correction job (SURVEY.md §3.1): driver compiles +
  * broadcasts the model once; executors run the whole per-line FST
  * cascade inside `mapPartitions` — the Spark-native analogue of the
  * reference's COW fork pool (scripts/process.py:14,55-70). The inference
  * path has NO shuffle except the optional salting exchange.
  *
  * Every caller that corrects text (the Doc job, the CLI, the battery
  * queries) goes through `mapCorrected`, so the executor side — one
  * broadcast read per partition, the executor's shared window cache, the
  * span counters — exists once.
  *
  * Scale design (100 TB / 1000 executors):
  *  - model is broadcast once per executor (torrent broadcast), NOT
  *    serialized per task;
  *  - docs are value-independent rows → embarrassingly parallel map;
  *  - long-document skew is broken by uniform re-hashing on doc_id
  *    (`saltPartitions`).
  */
object CorrectionJob {

  def broadcastModel(spark: SparkSession, model: CompiledModel): Broadcast[CompiledModel] =
    spark.sparkContext.broadcast(model)

  /** Per-partition set-up shared by every correction map: the model is
    * read from the broadcast once per partition, and the window cache is
    * the executor-wide memo for that model (none when `useCache` is
    * false — the bench's controlled miss-path measurement, the
    * 10^12-doc regime where window diversity dwarfs any cache). */
  private def mapWithModel[T, U: Encoder](ds: Dataset[T],
      bc: Broadcast[CompiledModel], useCache: Boolean)(
      f: (CompiledModel, AltCache) => T => U): Dataset[U] =
    ds.mapPartitions { it =>
      val m = bc.value
      val cache = if (useCache) SharedWindowCache.forModel(m) else null
      it.map(f(m, cache))
    }

  /** The executor-side correction step: `f` receives each row and a line
    * corrector that counts text spans, chars and changed spans into
    * `metrics`. A null line passes through unchanged (a text span with
    * 0 chars) instead of failing the job. */
  def mapCorrected[T, U: Encoder](ds: Dataset[T], bc: Broadcast[CompiledModel],
      metrics: Option[Metrics] = None, useCache: Boolean = true)(
      f: (T, String => String) => U): Dataset[U] =
    mapWithModel(ds, bc, useCache) { (m, cache) =>
      val correct: String => String = { line =>
        metrics.foreach(_.textSpans.add(1))
        if (line == null) line
        else {
          metrics.foreach(_.chars.add(line.length.toLong))
          val corrected = Corrector.correctLine(line, m, cache)
          if (corrected != line) metrics.foreach(_.spansChanged.add(1))
          corrected
        }
      }
      row => f(row, correct)
    }

  /** Uniform doc spread: re-hash on doc_id into `saltPartitions`. */
  private def salted(docs: Dataset[Doc],
      saltPartitions: Option[Int]): Dataset[Doc] =
    saltPartitions.fold(docs)(p => docs.repartition(p, xxhash64(col("doc_id"))))

  /** Default path: optional salted repartition (uniform doc spread),
    * then a pure map over docs. */
  def correctDocs(docs: Dataset[Doc], bc: Broadcast[CompiledModel],
      metrics: Option[Metrics] = None,
      saltPartitions: Option[Int] = None,
      useCache: Boolean = true): Dataset[Doc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    mapCorrected(salted(docs, saltPartitions), bc, metrics, useCache) {
      (d, correct) =>
        metrics.foreach(_.docs.add(1))
        Doc(d.doc_id, d.spans.map { s =>
          if (s.kind == "text") s.copy(text = correct(s.text))
          else { metrics.foreach(_.mediaSpans.add(1)); s }
        })
    }
  }

  /** LM-rescored path (G7): each doc is a sequential fold — lines share
    * LM state in offset order — while docs stay embarrassingly parallel
    * (the wrapper's page-at-a-time traceback threading, SURVEY.md §3.3).
    */
  def correctDocsLm(docs: Dataset[Doc], bc: Broadcast[CompiledModel],
      bcLm: Broadcast[graft.correct.LmScorer],
      lmWeight: Double = 0.5, beamWidth: Int = 100,
      metrics: Option[Metrics] = None,
      saltPartitions: Option[Int] = None): Dataset[Doc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    mapWithModel(salted(docs, saltPartitions), bc, useCache = true) {
      (m, cache) =>
        val lm = bcLm.value
        d => {
          metrics.foreach(_.docs.add(1))
          graft.correct.LmDecoder.correctDocLm(d, m, lm, lmWeight, beamWidth, cache)
        }
    }
  }
}
