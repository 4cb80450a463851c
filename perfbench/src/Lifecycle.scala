package graft.perfbench

import graft.projector.{Backfill, Derivations, EventLog, LogSynth}
import graft.sinks.JdbcSink
import graft.streaming.{CatchUp, Incremental, StateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import java.io.File
import java.nio.file.Files

/** `lifecycle_dense`: the reference's lifecycle on a `LogSynth.events`
  * log. Cold start: `Backfill.run` with a state dir over the log's prefix
  * (8 tables written, catch-up store seeded). Catch-up: the rest of the log
  * sits in the events dir as chunk files of [[ChunkEvents]] events and the
  * real catch-up stream drains them with `Trigger.AvailableNow`, one file
  * per trigger — a closed loop with one client. The first folded batch
  * carries the stream's start-up and is the warm-up; the rest are timed.
  *
  * A traced run splits the cold start into its parts instead of running
  * it whole: `Backfill.run` without a state dir, then each table written
  * on its own, then `Incremental.seed` into a [[TimingStore]] that the
  * catch-up stream then uses. */
object Lifecycle {
  val Sites = 1000
  val ChunkEvents = 2000
  /** One timed chunk per this many seconds of `--seconds`, at least 2. */
  val SecondsPerChunk = 5

  private def decode(spark: SparkSession, paths: String): DataFrame =
    EventLog.decode(spark.read.schema(EventLog.envelopeSchema).parquet(paths.split(","): _*))

  def run(cfg: Config): Result = {
    val spark = Sessions.engine(cfg)
    val evts = LogSynth.events(Sites, cfg.seed)
    val timedChunks = math.max(2, math.ceil(cfg.seconds.toDouble / SecondsPerChunk).toInt)
    val chunks = 1 + timedChunks
    val (prefix, tail) = evts.splitAt(evts.size - chunks * ChunkEvents)
    // the prefix lies outside the stream's dir: the store's high water
    // already covers it, as after a cold start the stream only sees the tail
    val prefixDir = s"${cfg.work}/prefix"
    val eventsDir = s"${cfg.work}/events"
    writeChunks(spark, s"${cfg.work}/stage", prefix +: tail.grouped(ChunkEvents).toSeq,
      i => if (i == 0) s"$prefixDir/prefix.parquet" else f"$eventsDir/chunk-$i%03d.parquet")
    val prefixFile = s"$prefixDir/prefix.parquet"
    val outDir = s"${cfg.work}/backfill"
    val stateDir = s"${cfg.work}/state"
    val setupS = Main.sinceJvmStartS
    Main.phase("set-up done")

    val spans = new Spans
    val root = spans.newId()
    val rec = if (cfg.trace) Some(new SparkRecorder().attach(spark)) else None
    val calls = new StoreCalls
    Heap.reset()
    val w0 = Clock.nowMs
    var coldFailed = false
    var coldstartS = 0.0
    val store: StateStore =
      if (!cfg.trace) {
        val t0 = Clock.nowMs
        try { Backfill.run(spark, prefixFile, outDir, Some(stateDir)); () }
        catch { case e: Exception => coldFailed = true; e.printStackTrace() }
        coldstartS = (Clock.nowMs - t0) / 1000
        new StateStore(spark, stateDir)
      } else {
        spans.around("projector.tables", root) { _ => Backfill.run(spark, prefixFile, outDir, None) }
        spans.around("projector.tables_split", root) { parent =>
          val ev = decode(spark, prefixFile).cache()
          val (tables, release) = Derivations.deriveAllCached(ev)
          try tables.foreach { case (t, df) =>
            spans.around(s"projector.table.$t", parent) { _ =>
              JdbcSink.writeParquet(Map(t -> df), s"${cfg.work}/split")
            }
          } finally { release(); ev.unpersist(); () }
        }
        val ts = new TimingStore(spark, stateDir, calls)
        spans.around("streaming.seed", root) { _ => Incremental.seed(ts, decode(spark, prefixFile)) }
        ts
      }

    Main.phase("cold start done")
    // catch-up: batch time runs from one onBatch call to the next
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val c0 = Clock.nowMs
    var streamFailed = false
    val catchUp = spans.newId()
    if (!coldFailed) {
      try {
        val q = CatchUp.startQuery(spark, eventsDir, store, trigger = Trigger.AvailableNow(),
          onBatch = id => { ends.add((id, Clock.nowMs)); () }, maxFilesPerTrigger = Some(1))
        q.awaitTermination()
      } catch { case e: Exception => streamFailed = true; e.printStackTrace() }
    }
    val w1 = Clock.nowMs
    spans.add(catchUp, "streaming.catchup", root, "", c0, w1)
    spans.add(root, "lifecycle_dense", 0, cfg.seed.toString, w0, w1)
    import scala.jdk.CollectionConverters._
    val folded = ends.asScala.toVector.sortBy(_._2)
    val batchS = folded.map(_._2).zip(c0 +: folded.map(_._2)).map { case (e, s) => (e - s) / 1000 }
    val timed = batchS.drop(1)

    Main.phase("catch-up done")
    // output check, outside the timed window
    if (cfg.corrupt) dropOneRow(spark, s"$outDir/installation")
    val reader = new StateStore(spark, stateDir)
    val (coldOk, storeOk) =
      if (coldFailed) (false, false)
      else {
        val (b, s) = check(
          t => spark.read.parquet(s"$outDir/$t"), decode(spark, prefixFile),
          t => reader.readAll(t, Incremental.outputSchema(t)), decode(spark, s"$prefixDir,$eventsDir"))
        (b, s && !streamFailed && folded.size == chunks)
      }
    Main.phase("check done")
    val attempted = 1L + chunks
    val failed = (if (coldOk) 0L else 1L) + (if (storeOk) 0L else chunks.toLong)

    val endToEnd = Map("setup_s" -> setupS, "coldstart_s" -> coldstartS,
      "op_p50_s" -> Stats.median(timed))
    val perLayer = rec.map { r =>
      r.drain(spark)
      val layers = layerMetrics(r, spans, calls, catchUp, folded.drop(1).map(_._1).toSet,
        w0, w1, stateDir)
      spans.write(s"${cfg.traces}/lifecycle_dense-${cfg.seed}.spans.jsonl")
      layers ++ Map("trace.op_p50_s" -> Stats.median(timed), "jvm.heap_peak_mb" -> Heap.peakMb)
    }.getOrElse(Map.empty)
    spark.stop()
    Result(attempted, failed, endToEnd, perLayer, timed)
  }

  /** Whether the cold start's tables equal `Derivations.deriveAll` over
    * the prefix, and the store's tables after catch-up equal it over the
    * whole log, ignoring row order. All fingerprints come from one job. */
  private def check(coldTable: String => DataFrame, prefix: DataFrame,
      storeTable: String => DataFrame, full: DataFrame): (Boolean, Boolean) =
    try {
      val logs = Seq(prefix.cache(), full.cache())
      val (coldWant, releaseCold) = Derivations.deriveAllCached(logs(0))
      val (storeWant, releaseStore) = Derivations.deriveAllCached(logs(1))
      val sides = Seq("cold" -> (coldTable, coldWant), "store" -> (storeTable, storeWant))
      val fps = try Fingerprint.ofTables(sides.flatMap { case (side, (actual, expected)) =>
        Main.Tables.flatMap(t => Seq(s"$side/$t/expected" -> expected(t),
          s"$side/$t/actual" -> Fingerprint.aligned(expected(t), actual(t))))
      }.toMap) finally { releaseCold(); releaseStore(); logs.foreach(_.unpersist()) }
      def ok(side: String) = Main.Tables.forall { t =>
        val (want, got) = (fps(s"$side/$t/expected"), fps(s"$side/$t/actual"))
        if (want != got) System.err.println(s"perfbench: $side table $t is $got, deriveAll gives $want")
        want == got
      }
      (ok("cold"), ok("store"))
    } catch { case e: Exception => e.printStackTrace(); (false, false) }

  /** Writes each group of events as one flat parquet file at `path(i)`,
    * in one Spark job, with modification times in group order: the file
    * source hands files to the stream in that order. */
  private def writeChunks(spark: SparkSession, stage: String,
      groups: Seq[Seq[(Long, String, String)]], path: Int => String): Unit = {
    val rows = groups.zipWithIndex.flatMap { case (g, i) => g.map { case (s, t, p) => (i, s, t, p) } }
    import spark.implicits._
    rows.toDF("chunk", "seq", "event_type", "payload")
      .repartition(groups.size, $"chunk").sortWithinPartitions("seq")
      .write.partitionBy("chunk").parquet(stage)
    val t0 = System.currentTimeMillis() - 1000L * groups.size
    groups.indices.foreach { i =>
      val part = new File(s"$stage/chunk=$i").listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"chunk $i was written as ${part.length} files")
      val dst = new File(path(i))
      dst.getParentFile.mkdirs()
      Files.move(part.head.toPath, dst.toPath)
      dst.setLastModified(t0 + 1000L * i)
    }
    graft.util.Scratch.deleteRecursively(stage)
  }

  private def dropOneRow(spark: SparkSession, dir: String): Unit = {
    val df = spark.read.parquet(dir)
    val n = df.count()
    df.limit((n - 1).toInt).write.parquet(s"$dir.corrupt")
    graft.util.Scratch.deleteRecursively(dir)
    Files.move(new File(s"$dir.corrupt").toPath, new File(dir).toPath)
    ()
  }

  /** Per-layer metrics of a traced run. Also adds a span per batch (from
    * the streaming progress, keyed by batch id) and a span per eager store
    * call, parented by the batch or seed span it ran in. */
  private def layerMetrics(r: SparkRecorder, spans: Spans, calls: StoreCalls, catchUp: Int,
      timedIds: Set[Long], w0: Double, w1: Double, stateDir: String): Map[String, Double] = {
    val seedSpan = spans.all.find(_.name == "streaming.seed").get
    calls.in(seedSpan.startMs, seedSpan.endMs).foreach(c =>
      spans.add(spans.newId(), s"store.${c.kind}", seedSpan.id, c.table, c.startMs, c.endMs))
    // each folded batch's window: its trigger interval from the streaming progress
    val windows = r.progresses.filter(_.numInputRows > 0).map { p =>
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      (p.batchId, start, ms("triggerExecution"), ms("addBatch"))
    }
    windows.foreach { case (batchId, start, trigger, _) =>
      val id = spans.newId()
      spans.add(id, "batch", catchUp, batchId.toString, start, start + trigger)
      calls.in(start, start + trigger).foreach(c =>
        spans.add(spans.newId(), s"store.${c.kind}", id, c.table, c.startMs, c.endMs))
    }
    def callCounts(name: String): (Double, Double) = {
      val s = spans.all.find(_.name == name).get
      val js = r.jobsIn(s.startMs, s.endMs)
      (js.size.toDouble, js.map(_.tasks).sum.toDouble)
    }
    val (tablesJobs, tablesTasks) = callCounts("projector.tables")
    val (seedJobs, seedTasks) = callCounts("streaming.seed")
    val batches = windows.filter(w => timedIds.contains(w._1)).map { case (_, start, trigger, add) =>
      val end = start + trigger
      val js = r.jobsIn(start, end)
      val cs = calls.in(start, end)
      def callS(kind: String) = Stats.union(cs.filter(_.kind == kind).map(c => (c.startMs, c.endMs))) / 1000
      val jobBusy = Stats.union(Stats.clip(js.map(j => (j.startMs, j.endMs)), start, end))
      Map(
        "streaming.step_s" -> add / 1000,
        "streaming.catchup_overhead_s" -> (trigger - add) / 1000,
        "streaming.store_merge_s" -> callS("merge"),
        "streaming.store_write_s" -> callS("write"),
        "streaming.store_calls_per_batch" -> cs.size.toDouble,
        "streaming.store_bytes_written_per_batch" -> js.map(_.outBytes).sum.toDouble,
        "streaming.store_rows_written_per_batch" -> js.map(_.outRows).sum.toDouble,
        "spark.jobs_per_batch" -> js.size.toDouble,
        "spark.stages_per_batch" -> js.map(_.stages).sum.toDouble,
        "spark.tasks_per_batch" -> js.map(_.tasks).sum.toDouble,
        "spark.plan_s_per_batch" -> r.planSecondsIn(start, end),
        "spark.driver_gap_s_per_batch" -> (trigger - jobBusy) / 1000)
    }
    val perBatch = if (batches.isEmpty) Map.empty[String, Double]
      else batches.head.keys.map(k => k -> Stats.median(batches.map(_(k)))).toMap
    Map("projector.tables_s" -> spans.durationS("projector.tables"),
      "projector.tables_jobs" -> tablesJobs, "projector.tables_tasks" -> tablesTasks,
      "streaming.seed_s" -> spans.durationS("streaming.seed"),
      "streaming.seed_jobs" -> seedJobs, "streaming.seed_tasks" -> seedTasks,
      "streaming.state_bytes" -> dirBytes(new File(stateDir)).toDouble) ++
      Main.Tables.map(t => s"projector.table.${t}_s" -> spans.durationS(s"projector.table.$t")) ++
      perBatch ++ SparkTotals(r, w0, w1)
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}
