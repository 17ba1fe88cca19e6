package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** The `ingest` workload: the five Structured Streaming ingests in the
  * protocol of `graft.tools.StreamBench`. Each source splits into a seed
  * corpus and `Slices` equal slices; the store is seeded, then the slices
  * move into the live source directory one micro-batch at a time (in a
  * seed-shuffled order) while the store grows. Slices are staged to
  * parquet before the timing starts, so a timed batch covers source
  * discovery, the `foreachBatch` body and the store append only.
  *
  * After the last batch the store's partition of each batch is measured
  * (untimed): `run.py` checks it against the slice's expected growth.
  */
final class IngestLoad(a: Harness.Args, rec: Records) extends Workload {
  import IngestLoad._

  private final case class Ingest(
    name: String, stream: DataFrame, sliceOf: String,
    seed: (DataFrame, String) => Unit,
    start: (DataFrame, String, String) => StreamingQuery,
    growth: (SparkSession, String) => Map[Long, Long], seedCorpus: DataFrame)

  private def ingests(spark: SparkSession): Seq[Ingest] = {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, a.data).select($"doc_id", $"lang", $"text")
    val events = graft.core.Tables.events(spark, a.data)
      .select($"event_id", $"user_id", $"event_type", $"ts", $"value")
    val vecs = graft.core.Tables.embeddings(spark, a.data)
      .withColumn("v", col("embedding").cast("array<double>")).select($"vec_id", $"label", $"v")
    // store growth per micro-batch: the measure of each ingest_batch partition
    def perBatch(df: DataFrame, measure: org.apache.spark.sql.Column) =
      df.filter(col("ingest_batch") >= 0).groupBy("ingest_batch").agg(measure).collect()
        .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
    def sumOf(c: String)(s: SparkSession, root: String) =
      perBatch(s.read.parquet(s"$root/store"), sum(col(c)))
    Seq(
      Ingest("dedup", docs.filter($"doc_id" % 4 === 0).select($"doc_id", $"text"),
        s"(doc_id div 4) % $Slices",
        (c, store) => graft.streaming.DedupIngest.seedIndex(c, store),
        (s, root, ckpt) => graft.streaming.DedupIngest.start(s, s"$root/store", s"$root/decisions", ckpt),
        (s, root) => perBatch(s.read.parquet(s"$root/decisions"), count(lit(1))),
        docs.filter($"doc_id" % 4 =!= 0).select($"doc_id", $"text")),
      Ingest("ann", vecs.filter($"vec_id" % 2 === 1), s"(vec_id div 2) % $Slices",
        (c, store) => graft.similarity.AnnIndex.seed(c, store),
        (s, root, ckpt) => graft.streaming.AnnIngest.start(s, s"$root/store", ckpt),
        (s, root) => perBatch(graft.similarity.AnnIndex.readCodes(s, s"$root/store"),
          countDistinct(col("vec_id"))),
        vecs.filter($"vec_id" % 2 === 0)),
      Ingest("mv", events.filter($"event_id" % 2 === 1).select($"event_id", $"event_type", $"ts", $"value"),
        s"(event_id div 2) % $Slices",
        (c, store) => graft.streaming.MvIngest.seed(c, store),
        (s, root, ckpt) => graft.streaming.MvIngest.start(s, s"$root/store", ckpt),
        sumOf("n_events"), events.filter($"event_id" % 2 === 0)),
      Ingest("cdc", events.filter($"event_id" % 2 === 1), s"(event_id div 2) % $Slices",
        (c, store) => graft.streaming.CdcIngest.seed(c, store),
        (s, root, ckpt) => graft.streaming.CdcIngest.start(s, s"$root/store", ckpt),
        sumOf("n_ops"), events.filter($"event_id" % 2 === 0)),
      Ingest("dsir", docs.filter($"doc_id" % 4 === 0), s"(doc_id div 4) % $Slices",
        (c, store) => graft.streaming.DsirIngest.seed(c, store),
        (s, root, ckpt) => graft.streaming.DsirIngest.start(s, s"$root/store", ckpt),
        sumOf("c_src"), docs.filter($"doc_id" % 4 =!= 0)))
  }

  /** One ingest end to end: stage, seed, then `slices` micro-batches. */
  private def drive(spark: SparkSession, in: Ingest, root: String, slices: Seq[Int]): Unit = {
    val layer = s"ingest.${in.name}"
    val staging = s"$root/staging"
    in.stream.withColumn("_slice", expr(in.sliceOf)).write.partitionBy("_slice").parquet(staging)
    val schema = spark.read.parquet(s"$staging/_slice=0").schema
    val seedStart = Trace.now()
    Trace.span("seed", layer)(in.seed(in.seedCorpus, s"$root/store"))
    rec.write("seed", "ingest" -> in.name, "start" -> seedStart, "end" -> Trace.now())
    Files.createDirectories(Paths.get(s"$root/in"))
    val q = Trace.span("start", layer)(
      in.start(spark.readStream.schema(schema).parquet(s"$root/in"), root, s"$root/ckpt"))
    val batches = Vector.newBuilder[(Int, Long, Long, Seq[StreamingQueryProgress])]
    try slices.foreach { slice =>
      moveSliceIn(slice, Paths.get(s"$staging/_slice=$slice"), Paths.get(s"$root/in"))
      val seen = q.recentProgress.length
      val start = Trace.now()
      Trace.span("batch", layer)(q.processAllAvailable())
      val end = Trace.now()
      batches += ((slice, start, end, q.recentProgress.drop(seen).filter(_.numInputRows > 0).toSeq))
    } finally q.stop()
    val growth = in.growth(spark, root)
    batches.result().foreach { case (slice, start, end, progress) =>
      val batchId = progress.headOption.map(_.batchId).getOrElse(-1L)
      val durations = progress.flatMap(_.durationMs.asScala.toSeq)
        .groupBy(_._1).map { case (k, es) => k -> es.map(_._2.longValue).sum }
      rec.write("batch", "ingest" -> in.name, "slice" -> slice, "batch_id" -> batchId,
        "progress_batches" -> progress.length, "start" -> start, "end" -> end,
        "growth" -> growth.getOrElse(batchId, 0L), "duration_ms" -> durations)
    }
    spark.catalog.clearCache()
  }

  /** Renames only, so no staging cost lands inside the timed batch. The
    * slice id prefixes each name: the staged slices share one job's file
    * names.
    */
  private def moveSliceIn(slice: Int, staging: Path, in: Path): Unit = {
    val s = Files.list(staging)
    val parts = try s.iterator().asScala.toVector finally s.close()
    parts.filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.move(p, in.resolve(s"slice$slice-${p.getFileName}")))
  }

  /** None: staging the slices reads every source table before the timing. */
  def tables: Seq[String] = Nil

  /** Seeds a DedupIngest store: the costliest code of the five of its own,
    * and the first parquet writes. The first streaming query's one-time
    * cost still lands on the first timed micro-batch (DedupIngest's, the
    * slowest quarter of the samples either way).
    */
  def warm(spark: SparkSession): Unit =
    ingests(spark).filter(_.name == "dedup").foreach(in =>
      in.seed(in.seedCorpus, s"${a.work}/warm/dedup/store"))

  def measure(spark: SparkSession): Unit = {
    val order = new scala.util.Random(a.seed).shuffle((0 until Slices).toVector)
    ingests(spark).foreach(in => drive(spark, in, s"${a.work}/${in.name}", order))
  }
}

object IngestLoad {
  val Slices = 4
}
