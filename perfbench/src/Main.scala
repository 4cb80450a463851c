package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: String, work: String, traces: String, corrupt: Boolean, recordHashes: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors
}

/** One run's outcome. `perLayer` is filled only by a traced run. */
final case class Result(attempted: Long, failed: Long, endToEnd: Map[String, Double],
    perLayer: Map[String, Double], opSeconds: Seq[Double])

/** Entry point: `--workload <lifecycle_dense|query_suite> --seed n
  * --seconds n --trace 0|1 --root <repo> --work <scratch dir> --traces <dir>
  * --corrupt 0|1 --record-hashes 0|1`. Prints a detail line and the result
  * line that perfbench/run.py relays. */
object Main {

  /** End-to-end metrics, printed by every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "coldstart_s" -> "s", "op_p50_s" -> "s")

  val Tables: Seq[String] = Seq("conduit_slack", "installation", "node_container",
    "rel_fiber_cable_to_route_element", "rel_interest_to_route_element",
    "service_termination", "span_equipment", "work_task")

  val PipelineFamilies: Seq[String] =
    Seq("ann", "contamination", "dedup", "emb", "mm", "pack", "pipeline", "samp", "text")

  /** Per-layer metrics, printed by every traced run; a layer a workload
    * does not run reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "projector.tables_s" -> "s", "projector.tables_jobs" -> "count",
    "projector.tables_tasks" -> "count") ++
    Tables.map(t => s"projector.table.${t}_s" -> "s") ++ Seq(
    "streaming.seed_s" -> "s", "streaming.seed_jobs" -> "count",
    "streaming.seed_tasks" -> "count",
    "streaming.step_s" -> "s", "streaming.catchup_overhead_s" -> "s",
    "streaming.store_merge_s" -> "s", "streaming.store_write_s" -> "s",
    "streaming.store_calls_per_batch" -> "count",
    "streaming.store_bytes_written_per_batch" -> "bytes",
    "streaming.store_rows_written_per_batch" -> "count",
    "streaming.state_bytes" -> "bytes",
    "spark.jobs_per_batch" -> "count", "spark.stages_per_batch" -> "count",
    "spark.tasks_per_batch" -> "count", "spark.plan_s_per_batch" -> "s",
    "spark.driver_gap_s_per_batch" -> "s",
    "spark.task_gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.plan_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "queries.relational_s" -> "s", "queries.eventfold_s" -> "s",
    "queries.sketches_s" -> "s", "queries.graphs_s" -> "s") ++
    PipelineFamilies.map(f => s"queries.pipeline.${f}_s" -> "s") ++ Seq(
    "trace.coldstart_s" -> "s", "trace.op_p50_s" -> "s")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cfg = Config(o("workload"), o("seed").toLong, o("seconds").toInt, o("trace") == "1",
      o("root"), o("work"), o("traces"), o("corrupt") == "1", o("record-hashes") == "1")
    val r = cfg.workload match {
      case "lifecycle_dense" => Lifecycle.run(cfg)
      case "query_suite" => QuerySuite.run(cfg)
      case w => sys.error(s"unknown workload $w")
    }
    val catalog = if (cfg.trace) PerLayer else EndToEnd
    val values = if (cfg.trace) r.perLayer else r.endToEnd
    val metrics = catalog.map { case (name, unit) =>
      val v = values.getOrElse(name, 0.0)
      s""""$name":{"value":${num(v)},"unit":"$unit"}"""
    }.mkString("{", ",", "}")
    println("PERFBENCH_DETAIL " +
      s"""{"workload":"${cfg.workload}","seed":${cfg.seed},"trace":${cfg.trace},""" +
      s""""op_seconds":${r.opSeconds.map(num).mkString("[", ",", "]")}}""")
    println("PERFBENCH_RESULT " +
      s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":$metrics}""")
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  /** Marks a phase boundary in the run's log. */
  def phase(name: String): Unit = System.err.println(f"perfbench: $name at $sinceJvmStartS%.2f s")

  /** Seconds since the JVM started: set-up time includes JVM and session start. */
  def sinceJvmStartS: Double =
    (Clock.nowMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000
}

object Sessions {
  private def base(cfg: Config, app: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")

  /** The settings of `CatchUp.main`'s session. */
  def engine(cfg: Config): SparkSession = {
    val s = base(cfg, "perfbench-engine")
      .config("spark.sql.limit.initialNumPartitions", cfg.cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.codegen.wholeStage", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The settings of `Bench.main`'s session. */
  def queries(cfg: Config): SparkSession = {
    val s = base(cfg, "perfbench-queries")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Order-independent content fingerprint: row count and the sum of a
  * 64-bit hash of every row (columns taken in name order). */
object Fingerprint {
  private def agg(df: DataFrame): DataFrame = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    df.select(count(lit(1)).as("n"), sum(xxhash64(cols.toSeq: _*).cast("decimal(38,0)")).as("h"))
  }

  private def value(row: org.apache.spark.sql.Row): (Long, String) =
    (row.getLong(0), if (row.isNullAt(1)) "0" else row.getDecimal(1).toPlainString)

  def of(df: DataFrame): (Long, String) = value(agg(df).head())

  /** Fingerprints of several frames, collected in one job. */
  def ofTables(dfs: Map[String, DataFrame]): Map[String, (Long, String)] =
    dfs.map { case (t, df) => agg(df).withColumn("t", lit(t)) }.reduce(_ unionByName _)
      .collect().map(r => r.getString(2) -> value(r)).toMap

  /** `actual`'s columns in `expected`'s names and types, so the two
    * fingerprints compare by column name. */
  def aligned(expected: DataFrame, actual: DataFrame): DataFrame =
    actual.select(expected.schema.fields.toSeq.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
}
