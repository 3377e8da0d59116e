package graft.perfbench

import graft.correct.{Alt, AltCache}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.{AccumulatorV2, CollectionAccumulator, LongAccumulator}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. `job` is the benchmark job (rep) it belongs to,
  * `parent` the id of the enclosing span (0 = none). */
final case class TraceSpan(id: Int, name: String, parent: Int, job: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Driver-side span recorder. Spans stay in memory and are written out
  * once, when the run ends. The innermost open span's id rides the
  * Spark local property `perfbench.span`, so the stage listener can
  * attach each Spark job to the span that started it. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[TraceSpan]
  private var stack = List.empty[(Int, String)]
  private var nextId = 1
  var job = 0

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack ::= ((id, name))
      setCurrent()
      val t0 = System.nanoTime()
      try f
      finally {
        done += TraceSpan(id, name, parent, job, t0, System.nanoTime())
        stack = stack.tail
        setCurrent()
      }
    }

  private def setCurrent(): Unit = {
    sc.setLocalProperty("perfbench.span", stack.headOption.map(_._1.toString).orNull)
    sc.setLocalProperty("perfbench.phase", stack.headOption.map(_._2).orNull)
  }

  /** Seconds of the last closed span called `name` in the current job. */
  def last(name: String): Double =
    done.reverseIterator.find(s => s.name == name && s.job == job)
      .map(_.seconds).getOrElse(0.0)

  def spans: Seq[TraceSpan] = done.toSeq
}

/** Per-task Spark metrics, recorded by [[StageStats]]. */
final case class TaskRec(stageId: Int, jobId: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, shuffleRecordsRead: Long,
    spill: Long)

/** A Spark job as the listener saw it: the benchmark phase (span name)
  * and span id that were current when it was submitted. */
final case class JobRec(jobId: Int, phase: String, span: Int, startMs: Long,
    endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Listener that keeps every task's metrics and every job's interval.
  * Registered at most once per SparkContext via [[StageStats.install]]. */
final class StageStats extends SparkListener {
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val phase = p.flatMap(x => Option(x.getProperty("perfbench.phase"))).getOrElse("")
    val span = p.flatMap(x => Option(x.getProperty("perfbench.span")))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, phase, span, e.time, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId,
      stageJob.getOrDefault(e.stageId, -1), m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Waits for the listener bus, then returns and forgets everything
    * recorded since the last call. */
  def drain(sc: SparkContext): (Seq[JobRec], Seq[TaskRec]) = {
    org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)
    val js = jobs.values.asScala.toSeq.sortBy(_.jobId)
    js.foreach(j => jobs.remove(j.jobId))
    val ts = Iterator.continually(tasks.poll()).takeWhile(_ != null).toSeq
    (js, ts)
  }
}

object StageStats {
  private val installed = new java.util.WeakHashMap[SparkContext, StageStats]()

  /** Idempotent: a second call on the same context returns the listener
    * the first call registered. */
  def install(sc: SparkContext): StageStats = installed.synchronized {
    var l = installed.get(sc)
    if (l == null) {
      l = new StageStats
      sc.addSparkListener(l)
      installed.put(sc, l)
    }
    l
  }
}

/** Max-of-longs accumulator. */
final class MaxAcc extends AccumulatorV2[Long, Long] {
  private var v = 0L
  def isZero: Boolean = v == 0L
  def copy(): MaxAcc = { val c = new MaxAcc; c.v = v; c }
  def reset(): Unit = v = 0L
  def add(x: Long): Unit = if (x > v) v = x
  def merge(o: AccumulatorV2[Long, Long]): Unit = add(o.value)
  def value: Long = v
}

/** Executor-side counters of the correction layers, read on the driver
  * after each traced job. `computed` records (window, payload bytes)
  * every time the cache ran its by-name compute. */
final case class LayerAcc(lines: LongAccumulator, windows: LongAccumulator,
    tokenizeNs: LongAccumulator, latticeNs: LongAccumulator,
    viterbiNs: LongAccumulator, missNs: LongAccumulator,
    alts: LongAccumulator, altsMax: MaxAcc,
    computed: CollectionAccumulator[(String, Long)]) {
  def reset(): Unit = Seq(lines, windows, tokenizeNs, latticeNs, viterbiNs,
    missNs, alts, altsMax, computed).foreach(_.reset())
}

object LayerAcc {
  def apply(sc: SparkContext): LayerAcc = {
    val max = new MaxAcc
    sc.register(max, "perfbench.altsMax")
    LayerAcc(sc.longAccumulator("perfbench.lines"),
      sc.longAccumulator("perfbench.windows"),
      sc.longAccumulator("perfbench.tokenizeNs"),
      sc.longAccumulator("perfbench.latticeNs"),
      sc.longAccumulator("perfbench.viterbiNs"),
      sc.longAccumulator("perfbench.missNs"), sc.longAccumulator("perfbench.alts"),
      max, sc.collectionAccumulator[(String, Long)]("perfbench.computed"))
  }
}

/** Wraps the program's window cache and counts, per lookup, whether its
  * by-name compute ran. */
final class CountingCache(inner: AltCache, acc: LayerAcc) extends AltCache {
  def getOrCompute(key: String)(f: => Seq[Alt]): Seq[Alt] = {
    var ran = false
    val r = inner.getOrCompute(key) {
      ran = true
      val t0 = System.nanoTime()
      val v = f
      acc.missNs.add(System.nanoTime() - t0)
      v
    }
    if (ran) acc.computed.add((key, CountingCache.payloadBytes(key, r)))
    acc.windows.add(1)
    acc.alts.add(r.length)
    acc.altsMax.add(r.length)
    r
  }
}

object CountingCache {
  /** UTF-16 bytes of the key and alternative strings plus 8 bytes per
    * weight: the payload a cache entry keeps, object headers excluded. */
  def payloadBytes(key: String, alts: Seq[Alt]): Long =
    2L * key.length + alts.iterator.map(a => 2L * a.text.length + 8L).sum
}
