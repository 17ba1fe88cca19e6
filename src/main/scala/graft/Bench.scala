package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerDrain

import graft.core.Tables

/** Timing run of `SparkEntry.queries`: one JSON line on stdout,
  * a `[bench-seq]` line per key and pass on stderr and in the trace
  * file.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    println(run(spark, sfDir, KeyRunner.selected(),
      sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt,
      sys.env.getOrElse("SPARK_GRAFT_TRACE_OUT", "BENCH_TRACE.txt")))
    spark.stop()
  }

  /** Times `keys` over `passes` full passes, writes the `[bench-seq]`
    * trace to `traceOut` and returns the summary JSON line.
    */
  def run(spark: SparkSession, sfDir: String, keys: Seq[(String, KeyRunner.Key)],
          passes: Int, traceOut: String): String = {
    // untimed warmup: JIT, codegen compiler, parquet reader, shuffle
    // machinery — so per-key timings measure the keys. Every table is
    // touched once too: file listing and footer reads are one-time
    // costs that otherwise land on whichever key scans that table first
    // (measured: +1.5 s on the first documents-table key, 0.4 s after).
    // events goes through Tables.events for the nanos conversion.
    def untimed(f: => Any): Unit = try f catch { case _: Throwable => () }
    untimed(SparkEntry.entry(spark).count())
    for (t <- Tables.All if t != "events") untimed(Tables.load(spark, sfDir, t).count())
    untimed(Tables.events(spark, sfDir).count())
    // SPARK_GRAFT_EXPLAIN=1: print each key's formatted plan to
    // stderr before running (plan-audit aid; off in driver runs)
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val jobs, stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        { stages.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the warmup's queued events must not land on the first key
      ListenerDrain(spark.sparkContext)
      val trace = new StringBuilder
      val errors = collection.mutable.LinkedHashMap.empty[String, String]
      val best = collection.mutable.LinkedHashMap.empty[String, Double]
      val loadSnaps = collection.mutable.ArrayBuffer.empty[(String, String)]
      def snapLoad(label: String): Unit = {
        val s = loadSnapshot()
        loadSnaps += ((label, s))
        System.err.println(s"[bench-load] $label $s")
      }
      var idx = 0
      def runOne(name: String, fn: KeyRunner.Key, pass: String): Unit = {
        val (j0, s0) = (jobs.get, stages.get)
        val t0 = System.nanoTime()
        KeyRunner.attempt("bench", name, errors) {
          val df = fn(spark, sfDir)
          if (explain) {
            System.err.println(s"[bench-explain] ===== $name =====")
            df.explain("formatted")
          }
          // evaluates the key's OWN physical plan to the last row.
          // df.count() wraps the plan in Aggregate(count) before
          // optimizing, which let Catalyst prune final projections and
          // whole subtrees behind cardinality-preserving joins
          // (pipeline_decontam read 0.67 s at sf10 for a computation
          // whose parquet write costs ~8 s). toRdd.count() runs the plan
          // a consumer of the result pays, without shipping rows to the
          // driver.
          df.queryExecution.toRdd.count()
        }
        // the stopwatch stops before the release step: timing it charged
        // every key ~0.25 s of the previous key's cleanup and faked a
        // 63.5→96.4 s sf0.1 cross-round regression
        val sec = (System.nanoTime() - t0) / 1e9
        best(name) = best.get(name).fold(sec)(math.min(_, sec))
        ListenerDrain(spark.sparkContext)
        KeyRunner.release(spark)
        idx += 1
        // execution-order trace: position-dependent slowdowns (cleaner
        // backlog, GC pressure, a co-running process) are invisible in
        // the final sorted map but obvious across passes
        val rt = Runtime.getRuntime
        val line = f"[bench-seq] $idx%3d $pass%-6s $sec%7.2f s heap=${
          (rt.totalMemory - rt.freeMemory) / (1 << 20)}%5d MB $name" +
          s" jobs=${jobs.get - j0} stages=${stages.get - s0}"
        System.err.println(line)
        trace.append(line).append('\n')
      }
      // Run `passes` full passes and keep the min per key: a transient
      // co-running process (a DuckDB oracle compare inflated
      // dedup_exact 1.5 s -> 26.9 s in history/BENCH_r06.json) can slow
      // any one reading but cannot fake a low one, so the per-key min is
      // the honest estimator of what the plan costs on this machine.
      // Re-timing only the slowest keys left the others' possibly
      // contended first readings in the artifact (history/BENCH_r07.json
      // read 100.62 s where the same code measured 63.52 s quiet).
      snapLoad("start")
      for (p <- 1 to passes) {
        for ((name, fn) <- keys) runOne(name, fn, s"pass$p")
        snapLoad(s"after_pass$p")
      }
      // a key that failed in any pass is reported only as an error
      val results = best.toSeq.filterNot { case (n, _) => errors.contains(n) }
      val total = results.map(_._2).sum
      // full per-key map for humans (stderr — not part of the contract)
      System.err.println(results.sortBy(-_._2)
        .map { case (k, v) => f"$v%7.2f  $k" }.mkString("[bench]\n", "\n", ""))
      if (errors.nonEmpty)
        System.err.println(errors.map { case (k, v) => s"  $k: $v" }
          .mkString(s"[bench] ${errors.size} QUERIES FAILED:\n", "\n", ""))
      try {
        val w = new java.io.PrintWriter(traceOut)
        try w.print(trace.toString) finally w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] trace write failed: ${e.getMessage}")
      }
      summary(sfDir, keys.size, total, results, errors.toSeq, loadSnaps.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The consumer of `runMain graft.Bench` keeps only the last 2000
    * chars of output and parses the JSON line out of that window; sbt
    * appends "[success] Total time…" (~80 chars) after it. A 100-key
    * map is ~2.4 KB and pushed its own head out of the window, so the
    * line reports the total plus the slowest keys that fit the budget
    * left after the error and load fields (the fast tail adds no perf
    * signal; the full map is on stderr and in the trace).
    */
  private def summary(sfDir: String, nKeys: Int, total: Double,
                      results: Seq[(String, Double)], errors: Seq[(String, String)],
                      loadSnaps: Seq[(String, String)]): String = {
    import KeyRunner.json
    def fit(entries: Seq[String], budget: Int): List[String] =
      entries.foldLeft(List.empty[String]) { (acc, e) =>
        if (acc.map(_.length + 1).sum + e.length <= budget) e :: acc else acc
      }.reverse
    // failed keys are first-class: a count that is always present, plus
    // (bounded) the failing names with their first error message
    val errJson = fit(errors.map { case (k, v) => s"${json(k)}:${json(v.take(160))}" }, 600)
      .mkString("{", ",", "}")
    val loadJson = loadSnaps.map { case (l, s) => s"${json(l)}:${json(s)}" }
      .mkString("{", ",", "}")
    val budget = math.max(600, 1650 - errJson.length - loadJson.length)
    val kept = fit(results.sortBy(-_._2).map { case (k, v) => f""""$k":$v%.2f""" }, budget)
    f"""{"metric":"total","value":$total%.2f,"unit":"sec","n_queries":$nKeys,"reported":${kept.size},"errors":${errors.size},"err_queries":$errJson,"load":$loadJson,"queries":${kept.mkString("{", ",", "}")},"sf":"$sfDir"}"""
  }

  /** Contention sentinel: /proc/loadavg plus a count of sibling
    * java/python/duckdb processes, enough for a reader to spot a
    * co-running oracle (DuckDB beside a bench inflated keys 3-10x)
    * without a re-run.
    */
  private def loadSnapshot(): String = {
    val la =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      catch { case _: Throwable => "?" }
    val self = ProcessHandle.current().pid.toString
    val sibs =
      try new java.io.File("/proc").listFiles()
        .filter(f => f.getName.forall(_.isDigit) && f.getName != self)
        .count { f =>
          try {
            val comm = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"/proc/${f.getName}/comm"))).trim
            comm == "java" || comm.startsWith("python") || comm.contains("duckdb")
          } catch { case _: Throwable => false }
        }
      catch { case _: Throwable => -1 }
    s"$la sibs=$sibs"
  }
}
