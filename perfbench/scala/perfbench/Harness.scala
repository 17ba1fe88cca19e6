package perfbench

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: an untimed warm pass, run during set-up,
  * and the timed measurement that follows it.
  */
trait Workload {
  /** The tables the workload reads, touched during set-up. */
  def tables: Seq[String]
  def warm(spark: SparkSession): Unit
  def measure(spark: SparkSession): Unit
}

/** JVM side of the benchmark, started by `perfbench/run.py`.
  *
  * It sets up (SparkSession, table touch, warm pass), runs the workload, and writes every measurement as JSON lines to
  * `--out`. It computes no metric and judges no result: `run.py` does
  * both from the records.
  */
object Harness {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        out: String, spawnNs: Long, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"), m("spawn-ns").toLong,
      m("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Records(a.out)
    val listener = new JobListener
    var spark: SparkSession = null
    val status =
      try {
        val load: Workload = a.workload match {
          case "batch" => new BatchKeys(a, rec)
          case "eventlog" => new EventLogLoad(a, rec)
          case "ingest" => new IngestLoad(a, rec)
        }
        spark = Trace.span("session", "core") { graft.core.GraftSession.local(a.cpus) }
        if (a.trace) {
          spark.sparkContext.addSparkListener(listener)
          Trace.attach(spark.sparkContext)
        }
        val s = spark
        Trace.span("table_touch", "core")(touchTables(s, a.data, load.tables))
        Trace.span("warm", "harness")(load.warm(s))
        rec.write("setup", "start" -> a.spawnNs, "end" -> Trace.now())
        Trace.span("measure", "harness")(load.measure(s))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          rec.write("fatal", "error" -> String.valueOf(e))
          1
      }
    try {
      rec.write("rss", "peak_mb" -> peakRssMb())
      if (spark != null) org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      Trace.spans.foreach { s =>
        rec.write("span", "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "parent" -> s.parent, "start" -> s.start, "end" -> s.end)
      }
      import scala.jdk.CollectionConverters._
      listener.jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
        rec.write("job", "id" -> j.jobId, "span" -> j.span,
          "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks,
          "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
          "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes)
      }
    } finally {
      rec.close()
      if (spark != null) spark.stop()
    }
    sys.exit(status)
  }

  /** File listing and parquet footers are one-time costs; paying them here
    * keeps them off whichever timed operation would scan a table first.
    */
  def touchTables(spark: SparkSession, data: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      if (t == "events") graft.core.Tables.events(spark, data).count()
      else graft.core.Tables.load(spark, data, t).count()
    }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Between operations every pinned relation is dead by construction:
    * drop them all and hint a GC, so the next operation starts clean.
    * Returns the number of RDDs that were still persisted.
    */
  def cleanup(spark: SparkSession): Int = {
    val leaked = spark.sparkContext.getPersistentRDDs.size
    Trace.span("cleanup", "harness") {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    leaked
  }
}
