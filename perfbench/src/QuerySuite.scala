package graft.perfbench

import graft.{Bench, SparkEntry}
import graft.queries.{EventFold, Graphs, Relational, Sketches}

import java.io.File
import scala.collection.mutable

/** `query_suite`: five entries of `SparkEntry.queries`, one from each
  * query module and one from the dedup family, in name order, in one
  * session with `Bench.main`'s settings over the sf0.001 tables in
  * perfbench/data. Each query runs through `Bench.runQuery`, a noop write of
  * every output column.
  *
  * The cold pass runs every query once in the fresh session. Then each
  * query's output is checked against its fingerprint in
  * perfbench/query_hashes.txt (a query with no oracle SQL only for a
  * non-empty result); the check, and one untimed pass after it, warm the
  * JIT. Then warm passes repeat until `--seconds` have passed, at least
  * [[MinWarmPasses]] of them. A query's time is its median over the warm
  * passes. The seed has no effect: the tables are fixed. */
object QuerySuite {
  val Queries: Seq[String] = Seq("dedup_exact", "evt_lww_state",
    "graph_degree_hist", "q1_pricing_summary", "sketch_cms").sorted
  val MinWarmPasses = 2

  def run(cfg: Config): Result = {
    val spark = Sessions.queries(cfg)
    val sf = s"${cfg.root}/perfbench/data/sf0.001"
    val hashFile = new File(s"${cfg.root}/perfbench/query_hashes.txt")
    val fns = SparkEntry.queries
    Queries.foreach(q => require(fns.contains(q), s"query $q is not in SparkEntry.queries"))
    // start Spark's job machinery, so that the cold pass times the queries
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    val setupS = Main.sinceJvmStartS

    val spans = new Spans
    val root = spans.newId()
    val rec = if (cfg.trace) Some(new SparkRecorder().attach(spark)) else None
    val errors = mutable.Set.empty[String]
    var attempted = 0L
    var failed = 0L
    def pass(name: String): Map[String, Double] = spans.around(name, root) { parent =>
      Queries.map { q =>
        spark.catalog.clearCache()
        attempted += 1
        val t0 = Clock.nowMs
        try spans.around("query", parent, q) { _ => Bench.runQuery(fns(q)(spark, sf)) }
        catch { case e: Exception => failed += 1; errors += q; e.printStackTrace() }
        q -> (Clock.nowMs - t0) / 1000
      }.toMap
    }

    Heap.reset()
    val w0 = Clock.nowMs
    val cold = pass("cold_pass")
    // output check, outside every timed pass
    val fps = Queries.map { q =>
      q -> (try Some(Fingerprint.of(fns(q)(spark, sf)))
        catch { case e: Exception => e.printStackTrace(); None })
    }
    pass("untimed_pass") // C2 is still compiling through the first noop pass
    val warm0 = Clock.nowMs
    val warm = mutable.ArrayBuffer.empty[Map[String, Double]]
    while (warm.size < MinWarmPasses || Clock.nowMs - warm0 < cfg.seconds * 1000.0) {
      System.gc()
      warm += pass("warm_pass")
    }
    val w1 = Clock.nowMs
    spans.add(root, "query_suite", 0, cfg.seed.toString, w0, w1)
    val perQuery = Queries.map(q => q -> Stats.median(warm.map(_(q)).toSeq)).toMap
    Queries.foreach(q =>
      System.err.println(f"perfbench: $q%-24s cold ${cold(q)}%.3f s, warm ${perQuery(q)}%.3f s"))
    Main.phase(s"${warm.size} warm passes done")

    if (cfg.recordHashes) {
      val w = new java.io.PrintWriter(hashFile, "UTF-8")
      try fps.foreach { case (q, fp) => fp.foreach { case (n, h) => w.println(s"$q $n $h") } }
      finally w.close()
    }
    val expected = scala.io.Source.fromFile(hashFile, "UTF-8").getLines()
      .map(_.trim.split("\\s+")).collect { case Array(q, n, h) => q -> (n.toLong, h) }.toMap
    fps.foreach { case (q, fp) =>
      val ok = fp.exists { case (n, h) =>
        if (SparkEntry.oracleSql.contains(q)) expected.get(q).contains((n, h)) else n > 0
      }
      if (!ok && !errors(q)) {
        System.err.println(s"perfbench: $q result $fp, expected ${expected.get(q)}")
        failed += 1
      }
    }

    val endToEnd = Map("setup_s" -> setupS, "coldstart_s" -> cold.values.sum,
      "op_p50_s" -> Stats.median(Queries.map(perQuery)))
    val perLayer = rec.map { r =>
      r.drain(spark)
      spans.write(s"${cfg.traces}/query_suite-${cfg.seed}.spans.jsonl")
      def sumOf(keys: String => Boolean) = Queries.filter(keys).map(perQuery).sum
      Map("queries.relational_s" -> sumOf(Relational.queries.contains),
        "queries.eventfold_s" -> sumOf(EventFold.queries.contains),
        "queries.sketches_s" -> sumOf(Sketches.queries.contains),
        "queries.graphs_s" -> sumOf(Graphs.queries.contains)) ++
        Main.PipelineFamilies.map(f => s"queries.pipeline.${f}_s" -> sumOf(_.startsWith(s"${f}_"))) ++
        SparkTotals(r, w0, w1) ++
        Map("jvm.heap_peak_mb" -> Heap.peakMb, "trace.coldstart_s" -> cold.values.sum,
          "trace.op_p50_s" -> endToEnd("op_p50_s"))
    }.getOrElse(Map.empty)
    spark.stop()
    Result(attempted, failed, endToEnd, perLayer, warm.map(_.values.sum).toSeq)
  }
}
