package graft.perfbench

import graft.streaming.{KeySet, StateStore}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond steps, comparable
  * with the millisecond timestamps Spark puts on its listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length covered by the intervals, overlaps counted once. */
  def union(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def clip(xs: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }
}

final case class Span(id: Int, name: String, parent: Int, key: String,
    startMs: Double, endMs: Double)

/** Spans kept in memory and written out once, when the run ends. A span
  * names the public call it wraps, its parent span (0 for a root) and the
  * identifier it shares with its siblings: a batch id or a query name. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  def newId(): Int = ids.incrementAndGet()

  def add(id: Int, name: String, parent: Int, key: String, startMs: Double, endMs: Double): Unit =
    synchronized { buf += Span(id, name, parent, key, startMs, endMs); () }

  /** Runs `body` inside a new span; the body receives the span id so that
    * it can parent its own spans. */
  def around[A](name: String, parent: Int = 0, key: String = "")(body: Int => A): A = {
    val id = newId()
    val start = Clock.nowMs
    try body(id)
    finally add(id, name, parent, key, start, Clock.nowMs)
  }

  def all: Vector[Span] = synchronized(buf.toVector)

  def durationS(name: String): Double = all.filter(_.name == name).map(s => s.endMs - s.startMs).sum / 1000

  /** One JSON object per span, with its self time: its duration minus the
    * union of the intervals its child spans cover. */
  def write(path: String): Unit = {
    val spans = all.sortBy(_.startMs)
    val kids = spans.groupBy(_.parent)
    val out = new java.io.File(path)
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try spans.foreach { s =>
      val covered = Stats.union(Stats.clip(
        kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs))
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""key":"${s.key}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""self_ms":${s.endMs - s.startMs - covered}}""")
    } finally w.close()
  }
}

/** Per-job counters from the Spark listener bus. */
final class JobRec(val id: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var gcMs = 0L
  var outBytes = 0L
  var outRows = 0L
  var shuffleBytes = 0L
  var inBytes = 0L
}

/** Spark-side recorder: jobs, stages and task metrics (SparkListener),
  * Catalyst analysis/optimisation/planning time per query execution
  * (QueryExecutionListener, from `qe.tracker`) and streaming progress. */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val plans = mutable.ArrayBuffer.empty[(Double, Double)] // (start ms, plan s)
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      SparkRecorder.this.synchronized { progress += e.progress; () }
  }

  def attach(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
    this
  }

  def drain(spark: SparkSession): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.gcMs += m.jvmGCTime
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRows += m.outputMetrics.recordsWritten
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.inBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private def addPlan(qe: QueryExecution): Unit = {
    val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
    if (phases.nonEmpty) synchronized {
      plans += ((phases.map(_.startTimeMs).min.toDouble,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0))
      ()
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = addPlan(qe)

  /** Jobs submitted inside [lo, hi]. */
  def jobsIn(lo: Double, hi: Double): Vector[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= lo && j.startMs <= hi).toVector
  }
  def planSecondsIn(lo: Double, hi: Double): Double = synchronized {
    plans.filter { case (s, _) => s >= lo && s <= hi }.map(_._2).sum
  }
  def progresses: Vector[StreamingQueryProgress] = synchronized(progress.toVector)
}

/** Eager store calls timed from outside: only the outermost call on a
  * thread is recorded (a `mergeReplace` delegates to
  * `mergeReplaceReturning`). Reads are lazy, so their cost lands in the
  * merge or write that consumes them. */
final class StoreCalls {
  final case class Call(kind: String, table: String, startMs: Double, endMs: Double)
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  private val buf = mutable.ArrayBuffer.empty[Call]

  def time[A](kind: String, table: String)(body: => A): A = {
    val d = depth.get
    depth.set(d + 1)
    val start = Clock.nowMs
    try body
    finally {
      depth.set(d)
      if (d == 0) synchronized { buf += Call(kind, table, start, Clock.nowMs); () }
    }
  }

  def in(lo: Double, hi: Double): Vector[Call] = synchronized {
    buf.filter(c => c.startMs >= lo && c.startMs <= hi).toVector
  }
}

/** The production store with every eager call timed; passed wherever the
  * API takes a store (`Incremental.seed`, `CatchUp.startQuery`). */
final class TimingStore(spark: SparkSession, root: String, calls: StoreCalls)
    extends StateStore(spark, root) {

  override def mergeReplace(table: String, keyCol: String,
      touchedKeys: DataFrame, replacement: DataFrame): Unit =
    calls.time("merge", table)(super.mergeReplace(table, keyCol, touchedKeys, replacement))

  override def mergeReplace(table: String, keyCol: String, keys: KeySet,
      replacement: DataFrame, coversKeys: Boolean, bucketSrcCol: Option[String],
      extraBucketVals: Option[KeySet]): Unit =
    calls.time("merge", table)(super.mergeReplace(table, keyCol, keys, replacement,
      coversKeys, bucketSrcCol, extraBucketVals))

  override def mergeReplaceReturning(table: String, keyCol: String, keys: KeySet,
      replacement: DataFrame, coversKeys: Boolean, bucketSrcCol: Option[String],
      extraBucketVals: Option[KeySet]): Option[DataFrame] =
    calls.time("merge", table)(super.mergeReplaceReturning(table, keyCol, keys, replacement,
      coversKeys, bucketSrcCol, extraBucketVals))

  override def writeBucketed(table: String, bucketCol: String, df: DataFrame): Unit =
    calls.time("write", table)(super.writeBucketed(table, bucketCol, df))

  override def writeSmall(table: String, df: DataFrame): Unit =
    calls.time("write", table)(super.writeSmall(table, df))
}

object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  /** Sum of the heap pools' peak usage since the last reset. */
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Run-level Spark totals over a window, for the `spark.*` metrics. */
object SparkTotals {
  def apply(rec: SparkRecorder, lo: Double, hi: Double): Seq[(String, Double)] = {
    val js = rec.jobsIn(lo, hi)
    Seq(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.plan_s" -> rec.planSecondsIn(lo, hi),
      "spark.task_gc_s" -> js.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
      "spark.input_bytes" -> js.map(_.inBytes).sum.toDouble)
  }
}
