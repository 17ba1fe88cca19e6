package graft.tools

import org.apache.spark.sql.functions._

/** Throwaway stage-by-stage profiler for dedup_recall_eval's sf10
  * tail (r18 verdict item 3; not part of the library surface).
  * Times the query's stages via the factored production builders:
  * exact truth, the (pruned) band/chunk catch branches, full query.
  */
object ProbeRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/bench-data/sf10")
    val spark = graft.core.GraftSession.local(32)
    import spark.implicits._
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[rcprobe] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $tag")
      r
    }
    def run(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    for (pass <- 1 to 2) {
      val (truth, mhCaught, shCaught, packed) =
        graft.dedup.Dedup.recallBranches(spark, sfDir)
      val nTruth = time(s"p$pass truth (ngramPairs .7 slice)")(truth.count())
      val nDocs = time(s"p$pass truth doc ids")(
        truth.select($"doc_id_1".as("d")).union(truth.select($"doc_id_2"))
          .distinct().count())
      val nSample = graft.dedup.Dedup.recallAuditSample(spark, sfDir).count()
      println(s"[rcprobe] truth pairs=$nTruth truthDocs=$nDocs sample=$nSample")
      time(s"p$pass mhCaught (pruned bands)")(run(mhCaught))
      time(s"p$pass shCaught (pruned chunks)")(run(shCaught))
      if (pass == 1) {
        println("[rcprobe] ===== mhCaught branch plan (pre-checkpoint) =====")
        mhCaught.explain("formatted")
      }
      (truth +: packed).foreach(_.unpersist())
      time(s"p$pass FULL dedup_recall_eval")(
        run(graft.dedup.Dedup.dedupRecallEval(spark, sfDir)))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }
    spark.stop()
  }
}
