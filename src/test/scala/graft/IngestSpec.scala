package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.streaming.DedupIngest

/** Streaming incremental dedup (round-6 verdict item 2): a document
  * stream deduplicated per micro-batch against a stored, growing
  * corpus band index, asserted equal to the batch
  * `dedup_incremental` decision join run with the same sequential
  * corpus states.
  */
class IngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  private def decisionCols(df: DataFrame) =
    df.select("doc_id", "n_corpus_matches", "is_exact_dup", "decision")

  private def assertSameDecisions(got: DataFrame, want: DataFrame,
                                  clue: String): Unit = {
    assert(got.count() == want.count(), s"$clue: row counts differ")
    assert(decisionCols(got).exceptAll(decisionCols(want)).count() == 0 &&
           decisionCols(want).exceptAll(decisionCols(got)).count() == 0,
      s"$clue: decision sets differ")
  }

  test("streamed batch decisions == batch dedup oracle; index grows across micro-batches") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 4 =!= 0)
    val b1 = docs.filter($"doc_id" % 8 === 0)
    val b2 = docs.filter($"doc_id" % 4 === 0 && $"doc_id" % 8 =!= 0)
    assert(b1.count() > 0 && b2.count() > 0)

    val root = Files.createTempDirectory("graft-ingest").toString
    val (inDir, idxDir, decDir, ckpt) =
      (s"$root/in", s"$root/index", s"$root/decisions", s"$root/ckpt")
    DedupIngest.seedIndex(corpus, idxDir)
    val seedRows = DedupIngest.readIndex(spark, idxDir).count()
    assert(seedRows == corpus.count() * 8) // 8 band rows per doc

    // micro-batch 1 on disk before the stream starts; batch 2 appended
    // between processAllAvailable calls → two distinct micro-batches
    b1.coalesce(1).write.parquet(inDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(inDir).schema).parquet(inDir)
    val q = DedupIngest.start(stream, idxDir, decDir, ckpt)
    try {
      q.processAllAvailable()
      val afterB1 = DedupIngest.readIndex(spark, idxDir).count()
      assert(afterB1 == seedRows + b1.count() * 8, "index did not grow after batch 1")
      b2.coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val afterB2 = DedupIngest.readIndex(spark, idxDir).count()
      assert(afterB2 == afterB1 + b2.count() * 8, "index did not grow after batch 2")
    } finally q.stop()

    val decisions = spark.read.parquet(decDir)
    assert(decisions.select($"ingest_batch").distinct().count() == 2,
      "expected exactly two micro-batches of decisions")

    // batch twin, same sequential corpus states: batch 1 vs the seed
    // corpus, batch 2 vs corpus ∪ batch 1
    val want1 = Dedup.incrementalDecisions(
      Dedup.contentBands(b1), Dedup.contentBands(corpus))
    val want2 = Dedup.incrementalDecisions(
      Dedup.contentBands(b2), Dedup.contentBands(corpus.union(b1)))
    assertSameDecisions(decisions.filter($"ingest_batch" === 0), want1, "batch 1")
    assertSameDecisions(decisions.filter($"ingest_batch" === 1), want2, "batch 2")

    // batch 1 saw exactly the corpus the dedup_incremental operator
    // uses, so its streamed decisions must match the oracle-green
    // operator's output restricted to batch-1 docs
    val oracle = Dedup.dedupIncremental(spark, sf).filter($"doc_id" % 8 === 0)
    assertSameDecisions(decisions.filter($"ingest_batch" === 0), oracle,
      "batch 1 vs dedup_incremental")
  }

  test("index compaction folds batch partitions, preserves rows, decisions unchanged") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 4 =!= 0)
    val b1 = docs.filter($"doc_id" % 8 === 0)
    val b2 = docs.filter($"doc_id" % 4 === 0 && $"doc_id" % 8 =!= 0)

    val root = Files.createTempDirectory("graft-ingest-compact").toString
    val (inDir, idxDir, decDir, ckpt) =
      (s"$root/in", s"$root/index", s"$root/decisions", s"$root/ckpt")
    DedupIngest.seedIndex(corpus, idxDir)
    b1.coalesce(1).write.parquet(inDir)
    val q = DedupIngest.start(
      spark.readStream.schema(spark.read.parquet(inDir).schema).parquet(inDir),
      idxDir, decDir, ckpt)
    try q.processAllAvailable() finally q.stop()

    val before = DedupIngest.readIndex(spark, idxDir)
    val beforeRows = before
      .select("doc_id", "content_hash", "sig_class", "band_idx", "band_hash")
      .as[(Long, String, Long, Int, Long)].collect().toSet
    assert(before.select($"ingest_batch").distinct().count() == 2)

    DedupIngest.compactIndex(spark, idxDir)
    val after = DedupIngest.readIndex(spark, idxDir)
    // every band row survives, all under the seed partition now
    assert(after.select("doc_id", "content_hash", "sig_class", "band_idx", "band_hash")
      .as[(Long, String, Long, Int, Long)].collect().toSet == beforeRows)
    assert(after.select($"ingest_batch").distinct()
      .as[Long].collect().toSeq == Seq(-1L))
    // the NEXT batch's decisions are identical against the compacted
    // index (decision join never reads ingest_batch)
    val wantB2 = Dedup.incrementalDecisions(
      Dedup.contentBands(b2), Dedup.contentBands(corpus.union(b1)))
    val gotB2 = Dedup.incrementalDecisions(
      Dedup.contentBands(b2),
      after.select("doc_id", "content_hash", "sig_class", "band_idx", "band_hash"))
    assertSameDecisions(gotB2, wantB2, "post-compaction decisions")
  }

  test("a replayed micro-batch rewrites its partition instead of double-appending") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 4 =!= 0)
    val b1 = docs.filter($"doc_id" % 8 === 0)

    val root = Files.createTempDirectory("graft-ingest-replay").toString
    val (inDir, idxDir, decDir) =
      (s"$root/in", s"$root/index", s"$root/decisions")
    DedupIngest.seedIndex(corpus, idxDir)
    b1.coalesce(1).write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema

    // run batch 1 twice with DIFFERENT checkpoints: the second run
    // replays batchId 0 exactly as a post-crash recovery would (the
    // sink committed, the checkpoint didn't)
    for (i <- 1 to 2) {
      val q = DedupIngest.start(
        spark.readStream.schema(schema).parquet(inDir),
        idxDir, decDir, s"$root/ckpt$i")
      try q.processAllAvailable() finally q.stop()
    }
    assert(spark.read.parquet(decDir).count() == b1.count(),
      "replay double-appended decisions")
    assert(DedupIngest.readIndex(spark, idxDir).count() ==
      (corpus.count() + b1.count()) * 8,
      "replay double-appended index bands")
    // the replay ran with batch 1's bands ALREADY in the index (the
    // half-committed crash: sink committed, checkpoint didn't) — the
    // decision VALUES must still equal the batch oracle, not flip to
    // exact_dup from each doc matching its own stored bands
    val want = Dedup.incrementalDecisions(
      Dedup.contentBands(b1), Dedup.contentBands(corpus))
    assertSameDecisions(spark.read.parquet(decDir), want,
      "replayed decisions (batch must not match its own bands)")
    assert(want.filter($"decision" === "keep").count() > 0,
      "vacuous replay oracle: no keep rows to distinguish a self-match flip")
  }

  test("readIndex self-heals a compaction crash mid-swap (.old IS the index)") {
    import spark.implicits._
    import java.nio.file.Paths
    val corpus = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text").filter($"doc_id" % 4 =!= 0)
    val root = Files.createTempDirectory("graft-ingest-heal").toString
    val idxDir = s"$root/index"
    DedupIngest.seedIndex(corpus, idxDir)
    val seedRows = corpus.count() * 8
    // the compactIndex crash window: the live BANDS dir (the r13
    // layout's heal target) moved aside, replacement not yet moved
    // in — a restarted ingest must read through this state
    Files.move(Paths.get(s"$idxDir/bands"), Paths.get(s"$idxDir/bands.old"))
    assert(DedupIngest.readIndex(spark, idxDir).count() == seedRows,
      "readIndex did not restore the moved-aside index")
    assert(Files.exists(Paths.get(s"$idxDir/bands")) &&
           !Files.exists(Paths.get(s"$idxDir/bands.old")),
      "restore did not move .old back to the live path")
  }

  test("compaction rerun heals a crash mid-swap on a CLASS dir, not just bands") {
    import spark.implicits._
    import java.nio.file.Paths
    // regression for the r13 advisor's medium finding: the four-way
    // swap could crash between move(d, d.old) and move(d.compacting,
    // d) on classbands/classsizes/hashes, and the rerun then rmTree'd
    // the .old copy (the SOLE surviving data) before throwing on the
    // absent live dir — only a full reseed recovered. The rerun must
    // now restore every relation first and complete normally.
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 4 =!= 0)
    val root = Files.createTempDirectory("graft-ingest-heal4").toString
    val idxDir = s"$root/index"
    DedupIngest.seedIndex(corpus, idxDir)
    val wantSizes = spark.read.parquet(s"$idxDir/classsizes")
      .drop("ingest_batch").collect().toSet
    for (d <- Seq("classsizes", "hashes")) {
      Files.move(Paths.get(s"$idxDir/$d"), Paths.get(s"$idxDir/$d.old"))
      DedupIngest.compactIndex(spark, idxDir)
      assert(Files.exists(Paths.get(s"$idxDir/$d")) &&
             !Files.exists(Paths.get(s"$idxDir/$d.old")) &&
             !Files.exists(Paths.get(s"$idxDir/$d.compacting")),
        s"compaction rerun did not heal the $d crash window")
    }
    assert(spark.read.parquet(s"$idxDir/classsizes")
      .drop("ingest_batch").collect().toSet == wantSizes,
      "class sizes lost or changed through the healed compactions")
    // decisions still work against the healed index
    val b1 = docs.filter($"doc_id" % 8 === 0)
    val got = Dedup.incrementalDecisionsPreCollapsed(
      Dedup.contentBands(b1),
      spark.read.parquet(s"$idxDir/classbands"),
      spark.read.parquet(s"$idxDir/classsizes"),
      spark.read.parquet(s"$idxDir/hashes"))
    val want = Dedup.incrementalDecisions(
      Dedup.contentBands(b1), Dedup.contentBands(corpus))
    assertSameDecisions(got, want, "decisions after healed compaction")
  }

  test("MV ingest: streamed view == single-pass recompute at every prefix; replay-safe") {
    import spark.implicits._
    import graft.streaming.MvIngest
    val ev = graft.core.Tables.events(spark, sf)
    val history = ev.filter($"event_id" % 3 === 0)
    val b1 = ev.filter($"event_id" % 3 === 1)
    val b2 = ev.filter($"event_id" % 3 === 2)
    assert(b1.count() > 0 && b2.count() > 0)
    val root = Files.createTempDirectory("graft-mv").toString
    val (inDir, mvDir, ckpt) = (s"$root/in", s"$root/mv", s"$root/ckpt")

    // the single-pass recompute the merged view must equal exactly
    def recompute(d: DataFrame) = MvIngest.partials(d)
      .withColumn("avg_cents", expr("total_cents div n_events"))
    def assertSameView(clue: String, want: DataFrame): Unit = {
      val got = MvIngest.read(spark, mvDir)
      assert(got.count() == want.count(), s"$clue: view sizes differ")
      assert(got.exceptAll(want).count() == 0 &&
             want.exceptAll(got).count() == 0, s"$clue: view values differ")
    }

    MvIngest.seed(history, mvDir)
    assertSameView("seeded view", recompute(history))

    b1.coalesce(1).write.parquet(inDir)
    val q = MvIngest.start(
      spark.readStream.schema(spark.read.parquet(inDir).schema)
        .parquet(inDir), mvDir, ckpt)
    try {
      q.processAllAvailable()
      assertSameView("after batch 1", recompute(history.union(b1)))
      b2.coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      assertSameView("after batch 2", recompute(history.union(b1).union(b2)))
    } finally q.stop()

    // crash-replay idempotence: re-writing batch 0's partials under
    // the same id must leave the merged view unchanged (dynamic
    // overwrite replaces the partition, never double-counts)
    MvIngest.partials(b1).withColumn("ingest_batch", lit(0L))
      .write.partitionBy("ingest_batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(mvDir)
    assertSameView("after batch-0 replay",
      recompute(history.union(b1).union(b2)))

    // the merge input is partial-sized: 3 partial rows max per
    // (day, type) — seed + two batches — never event-sized
    val partialRows = spark.read.parquet(mvDir).count()
    val viewRows = MvIngest.read(spark, mvDir).count()
    assert(partialRows <= 3 * viewRows,
      s"stored partials ($partialRows) exceed 3x view size ($viewRows)")
    assert(partialRows < ev.count(),
      "partials are event-sized - the aggregate never reduced")

    // the oracle-checked batch twin (3 simulated shards merged in one
    // pass) equals the same single-pass recompute
    val twin = graft.operators.Events.evtMvMerge(spark, sf)
    val wantAll = recompute(ev)
    assert(twin.exceptAll(wantAll).count() == 0 &&
           wantAll.exceptAll(twin).count() == 0,
      "evt_mv_merge diverges from the single-pass recompute")
  }

  test("CDC ingest: streamed table == batch apply at every prefix; tombstones mask across batches") {
    import spark.implicits._
    import graft.streaming.CdcIngest
    val ev = graft.core.Tables.events(spark, sf)
    val history = ev.filter($"event_id" % 3 === 0)
    val b1 = ev.filter($"event_id" % 3 === 1)
    val b2 = ev.filter($"event_id" % 3 === 2)
    assert(b1.count() > 0 && b2.count() > 0)
    val root = Files.createTempDirectory("graft-cdc").toString
    val (inDir, tblDir, ckpt) = (s"$root/in", s"$root/tbl", s"$root/ckpt")

    def assertSameTable(clue: String, want: DataFrame): Unit = {
      val got = CdcIngest.read(spark, tblDir)
      assert(got.exceptAll(want).count() == 0 &&
             want.exceptAll(got).count() == 0, s"$clue: table state differs")
    }

    CdcIngest.seed(history, tblDir)
    assertSameTable("seeded table",
      graft.operators.Events.cdcApply(history))
    // non-vacuity: the prefix splits must actually exercise the
    // cross-batch merge — some user must change state batch to batch
    val afterB1 = graft.operators.Events.cdcApply(history.union(b1))

    b1.coalesce(1).write.parquet(inDir)
    val q = CdcIngest.start(
      spark.readStream.schema(spark.read.parquet(inDir).schema)
        .parquet(inDir), tblDir, ckpt)
    try {
      q.processAllAvailable()
      assertSameTable("after batch 1", afterB1)
      b2.coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      assertSameTable("after batch 2",
        graft.operators.Events.cdcApply(history.union(b1).union(b2)))
    } finally q.stop()

    // a tombstone arriving in a LATER batch must mask an image seeded
    // earlier: find a user whose final op in the full log is a delete
    // but who had a live image in the history prefix — the corpus has
    // such users (else this assert flags the fixture, not the code)
    val live0 = graft.operators.Events.cdcApply(history)
      .select($"user_id").as[Long].collect().toSet
    val liveAll = graft.operators.Events
      .cdcApply(history.union(b1).union(b2))
      .select($"user_id").as[Long].collect().toSet
    assert((live0 -- liveAll).nonEmpty,
      "fixture never exercises cross-batch tombstone masking")

    // crash-replay idempotence: re-writing batch 0's images under the
    // same id leaves the merged table unchanged
    CdcIngest.partials(b1).withColumn("ingest_batch", lit(0L))
      .write.partitionBy("ingest_batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(tblDir)
    assertSameTable("after batch-0 replay",
      graft.operators.Events.cdcApply(history.union(b1).union(b2)))

    // the store is key-sized, never event-sized: ≤ one image per key
    // per partition (seed + two batches + the replay rewrite)
    val stored = spark.read.parquet(tblDir).count()
    val keys = ev.select($"user_id").distinct().count()
    assert(stored <= 3 * keys,
      s"stored images ($stored) exceed 3x key count ($keys)")
    assert(stored < ev.count(), "images are event-sized — never reduced")
  }

  test("readIndex rejects legacy index formats loudly") {
    import spark.implicits._
    // a pre-r13 index: band rows at the directory ROOT (no bands/
    // subdir, no stored class relations)
    val dir = java.nio.file.Files.createTempDirectory("legacyidx").toString
    graft.dedup.Dedup.contentBands(
        Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"))
      .withColumn("ingest_batch", org.apache.spark.sql.functions.lit(-1L))
      .write.partitionBy("ingest_batch").mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.DedupIngest.readIndex(spark, dir)
    }
    assert(e.getMessage.contains("r13 layout"))
    // a pre-r12 band relation (no sig_class) under the r13 layout
    val dir2 = java.nio.file.Files.createTempDirectory("legacyidx2").toString
    graft.dedup.Dedup.contentBands(
        Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"))
      .drop("sig_class")
      .withColumn("ingest_batch", org.apache.spark.sql.functions.lit(-1L))
      .write.partitionBy("ingest_batch").mode("overwrite")
      .parquet(s"$dir2/bands")
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.DedupIngest.readIndex(spark, dir2)
    }
    assert(e2.getMessage.contains("sig_class"))
  }

  test("case-variant twin is an exact dup even when its bands differ") {
    import spark.implicits._
    // content_hash normalizes (lower/trim) but the minhash word set
    // does not, so these two share the hash and NOT the band set —
    // the pre-r12 band-gated flag silently missed them
    val batch  = Seq((4L, "Alpha Beta Gamma Delta Epsilon")).toDF("doc_id", "text")
    val corpus = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val d = graft.dedup.Dedup.incrementalDecisions(
        graft.dedup.Dedup.contentBands(batch),
        graft.dedup.Dedup.contentBands(corpus))
      .select("doc_id", "is_exact_dup", "decision")
      .as[(Long, Boolean, String)].collect()
    assert(d.toSeq == Seq((4L, true, "exact_dup")))
  }

  test("a doc delivered twice in one batch still emits one decision row") {
    import spark.implicits._
    val batch = Seq((4L, "some words here"), (4L, "some words here"))
      .toDF("doc_id", "text")
    val corpus = Seq((1L, "other text entirely")).toDF("doc_id", "text")
    val d = graft.dedup.Dedup.incrementalDecisions(
      graft.dedup.Dedup.contentBands(batch),
      graft.dedup.Dedup.contentBands(corpus))
    assert(d.count() == 1)
  }

  test("content stored in two index partitions still gives a batch doc one decision row") {
    import spark.implicits._
    val text = "the very same words in every copy of this document"
    val root = Files.createTempDirectory("graft-ingest-twohash").toString
    val (inDir, idxDir, decDir, ckpt) =
      (s"$root/in", s"$root/index", s"$root/decisions", s"$root/ckpt")
    DedupIngest.seedIndex(Seq((1L, text)).toDF("doc_id", "text"), idxDir)
    // batch 0 stores the hash a second time (partition 0 beside the
    // seed's -1); batch 1's copy then matches both partitions
    Seq((2L, text)).toDF("doc_id", "text").write.parquet(inDir)
    val q = DedupIngest.start(
      spark.readStream.schema(spark.read.parquet(inDir).schema).parquet(inDir),
      idxDir, decDir, ckpt)
    try {
      q.processAllAvailable()
      Seq((3L, text)).toDF("doc_id", "text").write.mode("append").parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(decDir)
      .select($"doc_id", $"decision", $"ingest_batch".cast("long"))
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(got == Seq((2L, "exact_dup", 0L), (3L, "exact_dup", 1L)))
  }

  test("a DedupIngest micro-batch starts a pinned number of Spark jobs") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    val root = Files.createTempDirectory("graft-ingest-jobs").toString
    val (inDir, idxDir, decDir, ckpt) =
      (s"$root/in", s"$root/index", s"$root/decisions", s"$root/ckpt")
    DedupIngest.seedIndex(docs.filter($"doc_id" % 4 =!= 0), idxDir)
    docs.filter($"doc_id" % 8 === 0).coalesce(1).write.parquet(inDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(inDir).schema).parquet(inDir)
    // jobs per micro-batch, keyed by the batch id the stream thread
    // carries in its local properties; a marker job submitted at the
    // end bounds the wait (the listener bus delivers in order)
    val sc = spark.sparkContext
    val perBatch = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => perBatch.merge(b, 1, (x: Integer, y: Integer) => x + y))
        if (props.exists(_.getProperty("spark.jobGroup.id") == "ingest-jobs-end"))
          marker.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      val q = DedupIngest.start(stream, idxDir, decDir, ckpt)
      try {
        q.processAllAvailable()
        docs.filter($"doc_id" % 4 === 0 && $"doc_id" % 8 =!= 0)
          .coalesce(1).write.mode("append").parquet(inDir)
        q.processAllAvailable()
      } finally q.stop()
      sc.setJobGroup("ingest-jobs-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
    } finally sc.removeSparkListener(listener)
    // measured 22 for the second micro-batch: the three stored class
    // relations are read with their known schemas, so none adds a
    // schema-inference job (25 when each did)
    val jobs = perBatch.getOrDefault("1", 0).intValue
    assert(jobs > 0 && jobs <= 22, s"micro-batch 1 started $jobs jobs (bound 22)")
  }

  test("DSIR ingest: streamed model == batch twin at every prefix; replay-safe; partials metadata-sized") {
    import spark.implicits._
    import graft.streaming.DsirIngest
    import graft.text.TextAnalysis
    val docs = graft.core.Tables.documents(spark, sf)
    val history = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1)
    val b2 = docs.filter($"doc_id" % 3 === 2)
    assert(b1.count() > 0 && b2.count() > 0)
    val root = Files.createTempDirectory("graft-dsir").toString
    val (inDir, mdlDir, ckpt) = (s"$root/in", s"$root/mdl", s"$root/ckpt")

    // the batch twin: score a corpus under its own single-pass model
    def batchScores(d: DataFrame): DataFrame = {
      val bg = TextAnalysis.dsirHashedBigrams(d)
      TextAnalysis.dsirScoreWith(bg, TextAnalysis.dsirBucketCounts(bg))
    }
    def assertSameScores(clue: String, prefix: DataFrame): Unit = {
      val got = DsirIngest.score(spark, mdlDir, prefix)
      val want = batchScores(prefix)
      assert(got.exceptAll(want).count() == 0 &&
             want.exceptAll(got).count() == 0, s"$clue: scores differ")
    }

    DsirIngest.seed(history, mdlDir)
    assertSameScores("seeded model", history)

    b1.coalesce(1).write.parquet(inDir)
    val q = DsirIngest.start(
      spark.readStream.schema(spark.read.parquet(inDir).schema)
        .parquet(inDir), mdlDir, ckpt)
    try {
      q.processAllAvailable()
      assertSameScores("after batch 1", history.union(b1))
      // non-vacuity: the grown model must actually MOVE the history
      // docs' scores (else the prefix equality never exercises the
      // cross-batch merge)
      val rescored = DsirIngest.score(spark, mdlDir, history)
      assert(rescored.exceptAll(batchScores(history)).count() > 0,
        "fixture never exercises cross-batch model growth")
      b2.coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      assertSameScores("after batch 2", history.union(b1).union(b2))
    } finally q.stop()

    // crash-replay idempotence: re-writing batch 0's partial under
    // the same id leaves the merged model unchanged
    DsirIngest.partials(b1).withColumn("ingest_batch", lit(0L))
      .write.partitionBy("ingest_batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(mdlDir)
    assertSameScores("after batch-0 replay",
      history.union(b1).union(b2))

    // every stored partial is bucket-sized, never corpus-sized:
    // 3 partitions (seed + two batches) of ≤ 8192 rows each
    val stored = spark.read.parquet(mdlDir).count()
    assert(stored <= 3 * 8192L,
      s"stored partials ($stored) exceed 3x bucket count")
    val bigrams = TextAnalysis
      .dsirHashedBigrams(docs).count()
    assert(stored < bigrams, "partials are corpus-sized — never reduced")
  }

  test("pre-collapsed decision plan never re-aggregates the stored corpus") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val docs = graft.core.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    val root = Files.createTempDirectory("graft-precollapsed").toString
    val idx = s"$root/index"
    DedupIngest.seedIndex(docs.filter($"doc_id" % 4 =!= 0), idx)
    val bands = Dedup.contentBands(docs.filter($"doc_id" % 4 === 0))
    val dec = Dedup.incrementalDecisionsPreCollapsed(bands,
      spark.read.parquet(s"$idx/classbands"),
      spark.read.parquet(s"$idx/classsizes"),
      spark.read.parquet(s"$idx/hashes"))
    // correctness first: identical decisions to the derive-on-the-fly
    // batch operator against the equivalent doc-level corpus
    val want = Dedup.incrementalDecisions(bands,
      spark.read.parquet(s"$idx/bands")
        .select("doc_id", "content_hash", "sig_class", "band_idx",
                "band_hash"))
    assertSameDecisions(dec, want, "pre-collapsed vs derived")
    // the r12 verdict's plan contract: every Aggregate must sit ABOVE
    // the join with the batch side — an Aggregate whose leaves are
    // ALL stored-index relations is a per-increment corpus-sized
    // collapse, exactly what the stored class relations eliminate
    def corpusLeaf(p: LogicalPlan): Seq[Boolean] = p.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains("/index/"))
        case _ => false
      }
      case _ => false
    }
    val aggs = dec.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a }
    assert(aggs.nonEmpty)
    aggs.foreach { a =>
      val leaves = corpusLeaf(a)
      assert(!(leaves.nonEmpty && leaves.forall(identity)),
        s"corpus-only aggregate in the per-increment plan:\n$a")
    }
    // the derived path NECESSARILY has such aggregates (the on-the-fly
    // collapse) — the assertion above is discriminating, not vacuous
    val derivedAggs = want.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a }
    assert(derivedAggs.exists { a =>
      val leaves = corpusLeaf(a); leaves.nonEmpty && leaves.forall(identity)
    }, "expected the derive-on-the-fly path to collapse the corpus")
  }
}
