package perfbench

import org.apache.spark.sql.SparkSession

/** The `batch` workload: whole passes over a fixed set of
  * `SparkEntry.queries` keys, each pass in a seed-shuffled order, until
  * `--seconds` have passed, and at least four (the last pass always
  * completes, so every key has the same number of timed runs). A timed run is the key's own
  * physical plan evaluated to its last row (`toRdd.count()`), the action
  * the repository's Bench times; the housekeeping after it is timed as
  * `harness.cleanup`, outside the key.
  *
  * The warm passes run every key twice more and record its row count and
  * checksum, which `run.py` compares with the expected values.
  */
final class BatchKeys(a: Harness.Args, rec: Records) extends Workload {
  import BatchKeys._
  private val MinPasses = 4
  private val queries = graft.SparkEntry.queries

  /** The tables the keys read. */
  def tables: Seq[String] = Seq("events", "documents", "embeddings")

  private def order(salt: Long): Seq[(String, String)] =
    new scala.util.Random(a.seed * 1000003L + salt).shuffle(Keys)

  /** Two untimed passes: after one, the next passes still ran about a
    * quarter faster each time (JIT), which spread the runs.
    */
  def warm(spark: SparkSession): Unit =
    for (salt <- Seq(-1L, -2L); (key, _) <- order(salt)) {
      val (rows, sum, err) =
        try {
          val (n, s) = Trace.span(key, "warm")(Checksum.of(queries(key)(spark, a.data)))
          (n, s, null)
        } catch { case e: Throwable => (-1L, null, String.valueOf(e).take(300)) }
      Harness.cleanup(spark)
      rec.write("check", "key" -> key, "rows" -> rows,
        "checksum" -> sum, "error" -> err)
    }

  def measure(spark: SparkSession): Unit = {
    val t0 = Trace.now()
    var pass = 0
    while (pass < MinPasses || Trace.now() - t0 < (a.seconds * 1e9).toLong) {
      Trace.span(s"pass$pass", "harness") {
        order(pass).foreach { case (key, module) => runKey(spark, key, module, pass) }
      }
      pass += 1
    }
  }

  private def runKey(spark: SparkSession, key: String, module: String, pass: Int): Unit = {
    val start = Trace.now()
    val (rows, err) =
      try (Trace.span(key, module)(queries(key)(spark, a.data).queryExecution.toRdd.count()), null)
      catch { case e: Throwable => (-1L, String.valueOf(e).take(300)) }
    val end = Trace.now()
    val leaked = Harness.cleanup(spark)
    rec.write("op", "key" -> key, "module" -> module, "pass" -> pass,
      "start" -> start, "end" -> end, "rows" -> rows, "error" -> err,
      "leaked_rdds" -> leaked)
  }
}

object BatchKeys {
  /** The keys a pass runs, each with the graft module (the package under
    * `src/main/scala/graft`) of the function `SparkEntry.queries` maps it
    * to. One key per module, `graph_components` looping to a fixpoint, and
    * one `pipeline_*` key, `pipeline_chunk` (in `Analytics`).
    */
  val Keys: Seq[(String, String)] = Seq(
    "evt_anomaly" -> "operators",
    "dedup_simhash" -> "dedup",
    "sim_lsh_ann" -> "similarity",
    "graph_components" -> "graph",
    "txt_dsir_weights" -> "text",
    "mm_chunk_dedup" -> "multimodal",
    "pipeline_chunk" -> "operators")
}
