package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The scale-up generator underpins the round's empirical linearity
  * claims (history/BENCH_SCALING_r06.json), so its invariants are locked
  * here: clean N× cardinality, disjoint key spaces, preserved
  * within-copy near-dup structure, no cross-copy near-dups, and
  * norm-preserving embedding rotation.
  */
class GenScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  lazy val outDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("genscale").toString
    graft.tools.GenScale.generate(spark, sf, dir, 2)
    dir
  }

  test("every table scales to exactly copies x rows except fixed dims") {
    for (t <- graft.core.Tables.All) {
      val base =
        if (t == "events") graft.core.Tables.events(spark, sf).count()
        else graft.core.Tables.load(spark, sf, t).count()
      val scaled =
        if (t == "events") graft.core.Tables.events(spark, outDir).count()
        else graft.core.Tables.load(spark, outDir, t).count()
      val want = if (t == "region" || t == "nation") base else 2 * base
      assert(scaled == want, s"$t: $scaled != $want")
    }
  }

  test("entity keys stay unique — copies land in disjoint key spaces") {
    import spark.implicits._
    for ((t, k) <- Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
                       "documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val df = graft.core.Tables.load(spark, outDir, t)
      assert(df.select(col(k)).distinct().count() == df.count(),
        s"$t.$k collides across copies")
    }
  }

  test("near-dup structure: within-copy pairs preserved, none across copies") {
    import spark.implicits._
    val basePairs = graft.dedup.Dedup.dedupNgram(spark, sf).count()
    val scaled = graft.dedup.Dedup.dedupNgram(spark, outDir)
    // word suffixing keeps within-copy Jaccard identical and makes
    // cross-copy word sets disjoint: pair count must exactly double
    assert(scaled.count() == 2 * basePairs)
    val docS = graft.core.Tables.load(spark, sf, "documents")
      .agg(max($"doc_id")).head.getLong(0) + 1
    val cross = scaled
      .filter(($"doc_id_1" < docS) =!= ($"doc_id_2" < docS)).count()
    assert(cross == 0, s"$cross cross-copy near-dup pairs")
  }

  test("embedding rotation preserves norms and within-copy geometry") {
    import spark.implicits._
    val norm = (c: String) => expr(
      s"aggregate($c, cast(0.0 as double), (a, x) -> a + cast(x as double) * cast(x as double))")
    val base = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", norm("embedding").as("n0"))
    val vecS = base.agg(max($"vec_id")).head.getLong(0) + 1
    val scaled = graft.core.Tables.embeddings(spark, outDir)
      .select($"vec_id", norm("embedding").as("n1"))
    // copy 1's vector vec_id + vecS is a rotation of vec_id's: same norm
    val joined = base
      .join(scaled.select(($"vec_id" - vecS).as("vec_id"), $"n1"), Seq("vec_id"))
    assert(joined.filter(abs($"n0" - $"n1") > 1e-6).count() == 0)
    // labels are remapped per copy: cell count doubles, sizes constant
    val cells0 = graft.core.Tables.embeddings(spark, sf)
      .select($"label").distinct().count()
    val cells1 = graft.core.Tables.embeddings(spark, outDir)
      .select($"label").distinct().count()
    assert(cells1 == 2 * cells0)
  }
}
