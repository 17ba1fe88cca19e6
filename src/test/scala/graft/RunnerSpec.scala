package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

/** Bench and Verify drive keys through one runner: a key that throws is
  * an error in both artifacts (never a timing, never a missing entry),
  * every key's jobs are counted in the Bench trace, and nothing a key
  * pinned outlives the run.
  */
class RunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf
  val mapper = new ObjectMapper

  // dedup_simhash returns with a persisted RDD, so the release step
  // has something to drop
  val good = Seq("dedup_simhash", "q1_pricing_summary")
  val broken = "zz_broken"
  def keys: Seq[(String, KeyRunner.Key)] =
    good.map(k => k -> SparkEntry.queries(k)) :+
      (broken -> ((s: SparkSession, _: String) =>
        s.range(3).select(raise_error(lit("injected failure")).as("x"))))

  test("Verify.dump writes each good key's parquet and an error marker for the failing one") {
    val out = Files.createTempDirectory("runner-verify").toString
    Verify.dump(spark, sf, out, keys)
    for (k <- good) {
      val dir = Paths.get(s"$out/$k")
      assert(Files.exists(dir.resolve("_SUCCESS")), k)
      assert(Files.list(dir).iterator.asScala.exists(_.toString.endsWith(".parquet")), k)
      assert(!Files.exists(dir.resolve("_ERROR")), k)
    }
    assert(Files.readString(Paths.get(s"$out/$broken/_ERROR")).contains("injected failure"))
    val errs = mapper.readTree(Paths.get(s"$out/errors.json").toFile)
    assert(errs.fieldNames.asScala.toSeq == Seq(broken))
    assert(errs.get(broken).asText.contains("injected failure"))
    assert(mapper.readTree(Paths.get(s"$out/oracle_sql.json").toFile).size ==
      SparkEntry.oracleSql.size)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("Bench.run reports a failing key only as an error and traces each key's jobs") {
    val trace = Files.createTempFile("runner-trace", ".txt")
    val j = mapper.readTree(Bench.run(spark, sf, keys, 2, trace.toString))
    assert(j.fieldNames.asScala.toSeq == Seq("metric", "value", "unit", "n_queries",
      "reported", "errors", "err_queries", "load", "queries", "sf"))
    assert(j.get("n_queries").asInt == 3)
    assert(j.get("errors").asInt == 1)
    assert(j.get("err_queries").get(broken).asText.contains("injected failure"))
    val qs = j.get("queries")
    assert(qs.fieldNames.asScala.toSet == good.toSet)
    // each printed value is rounded to 0.01
    assert(math.abs(j.get("value").asDouble - good.map(qs.get(_).asDouble).sum) <= 0.015 + 1e-9)
    // the pattern tools/mergescaling.py parses: extra fields follow the name
    val seq = """\[bench-seq\]\s+\d+\s+(\w+)\s+([0-9.]+) s\s+heap=\s*\d+ MB (\S+)""".r
    val lines = Files.readAllLines(trace).asScala.toSeq
    assert(lines.size == 6)
    for (k <- good) {
      val mine = lines.filter(l => seq.findFirstMatchIn(l).exists(_.group(3) == k))
      assert(mine.size == 2, k)
      for (l <- mine) {
        val Seq(jobs, stages) = """ (jobs|stages)=(\d+)""".r.findAllMatchIn(l).map(_.group(2).toInt).toSeq
        assert(jobs >= 1 && stages >= 1, l)
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
