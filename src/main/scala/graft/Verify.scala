package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    dump(spark, sfDir, outDir, KeyRunner.selected())
    spark.stop()
  }

  /** Writes each key's result to `<outDir>/<key>/` as one parquet file,
    * then `oracle_sql.json` and `errors.json`. A failed key gets an
    * `_ERROR` marker holding its message in its directory and an entry
    * in `errors.json`, so the oracle compare reports it as an error
    * instead of dropping it (a dump that skipped failures once lost 25
    * keys from the correctness JSON without a trace).
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           keys: Seq[(String, KeyRunner.Key)]): Unit = {
    import KeyRunner.json
    new java.io.File(outDir).mkdirs()
    val failed = collection.mutable.LinkedHashMap.empty[String, String]
    for ((name, fn) <- keys) {
      val ok = KeyRunner.attempt("verify", name, failed) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      if (!ok)
        try {
          val dir = Paths.get(s"$outDir/$name")
          Files.createDirectories(dir)
          Files.writeString(dir.resolve("_ERROR"), failed(name))
        } catch { case m: Throwable =>
          System.err.println(s"[verify] $name marker write failed: ${m.getMessage}")
        }
      KeyRunner.release(spark)
    }
    if (failed.nonEmpty)
      System.err.println(failed.map { case (k, v) => s"  $k: $v" }
        .mkString(s"[verify] ${failed.size} QUERIES FAILED:\n", "\n", ""))
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), obj(failed))
  }
}
