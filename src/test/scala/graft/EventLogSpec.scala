package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.EventLog
import graft.SparkTestSession.jobsOf
import java.nio.file.Files

/** The reference demo end-to-end on the Spark-native topic: produce
  * 1000 keyed "#i" messages (`jc/DemoApplication.java:100-111`),
  * consume them back, check partition/offset bookkeeping and replay.
  */
class EventLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("produce 1000 keyed messages, consume with contiguous offsets") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-topic").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 8)
    val msgs = spark.range(0, 1000)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload"))
    log.produce(msgs)

    val consumed = log.consume(spark)
    assert(consumed.count() == 1000)
    // offsets are contiguous 0..n-1 within every partition
    val bad = consumed.groupBy($"partition")
      .agg(min($"offset").as("lo"), max($"offset").as("hi"), count(lit(1)).as("n"))
      .filter($"lo" =!= 0 || $"hi" =!= $"n" - 1)
      .count()
    assert(bad == 0)
    // every message landed on the partition the keyed partitioner says
    val misplaced = consumed
      .filter(pmod(xxhash64($"key"), lit(8)).cast("int") =!= $"partition")
      .count()
    assert(misplaced == 0)
  }

  test("committed offsets: second produce appends, consumer resumes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-topic2").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    def batch(from: Int, until: Int) = spark.range(from, until)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload"))

    log.produce(batch(0, 100))
    val committed = log.highWaterMarks(spark)
    log.produce(batch(100, 250))

    val resumed = log.consume(spark, committed)
    assert(resumed.count() == 150)
    assert(log.consume(spark).count() == 250)
    // replayed messages are exactly the second batch
    val keys = resumed.select($"key".cast("long")).as[Long].collect().sorted
    assert(keys.head == 100 && keys.last == 249 && keys.length == 150)
  }

  test("streaming consume sees produced messages") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-topic3").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 2)
    log.produce(spark.range(0, 64)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    val q = log.readStream(spark)
      .groupBy($"partition").count()
      .writeStream.outputMode("complete")
      .format("memory").queryName("topic_stream").start()
    try q.processAllAvailable() finally q.stop()
    import spark.implicits._
    val total = spark.table("topic_stream")
      .agg(sum($"count")).as[Long].head()
    assert(total == 64)
  }

  test("compact merges per-batch small files, preserves every message") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-compact").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    def batch(from: Int, until: Int) = spark.range(from, until)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload"))
    (0 until 5).foreach(i => log.produce(batch(i * 100, (i + 1) * 100)))

    def dataFiles() = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val before = log.consume(spark)
      .select($"partition", $"offset", $"key", $"payload").collect().toSet
    val filesBefore = dataFiles()
    assert(filesBefore >= 20, s"expected >=5 files per partition, got $filesBefore")

    log.compact(spark)
    assert(dataFiles() <= 4, s"compaction left ${dataFiles()} files")
    val after = log.consume(spark)
      .select($"partition", $"offset", $"key", $"payload").collect().toSet
    assert(after == before)
    // offsets still contiguous → further produces continue correctly
    log.produce(batch(500, 600))
    assert(log.consume(spark).count() == 600)
  }

  test("consumer groups: independent committed positions, at-least-once poll") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-groups").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    def batch(from: Int, until: Int) = spark.range(from, until)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload"))

    // pre-produce: the topic consumes as empty instead of failing
    assert(log.consume(spark).count() == 0)
    assert(log.poll(spark, "groupA")(_ => fail("empty poll ran handler")) == 0)

    log.produce(batch(0, 100))
    var seenA = 0L
    assert(log.poll(spark, "groupA")(b => seenA = b.count()) == 100)
    assert(seenA == 100)
    // groupA is caught up; groupB starts from earliest independently
    assert(log.poll(spark, "groupA")(_ => fail("empty poll ran handler")) == 0)
    assert(log.poll(spark, "groupB")(_ => ()) == 100)

    // new messages: each group sees exactly the delta
    log.produce(batch(100, 150))
    var deltaA = Set.empty[Long]
    log.poll(spark, "groupA") { b =>
      deltaA = b.select($"key".cast("long")).as[Long].collect().toSet
    }
    assert(deltaA == (100L until 150L).toSet)
    assert(log.committed("groupA") == log.highWaterMarks(spark))
  }

  test("crash between handler and commit: replay, then idempotent re-commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-crash").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    log.produce(spark.range(0, 100)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))

    // the handler is a sink with effects (at-least-once delivery):
    // record everything it ever received, across crash and replay
    val delivered = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    def sinkInto(b: org.apache.spark.sql.DataFrame): Unit =
      delivered ++= b.select($"partition", $"offset")
        .as[(Int, Long)].collect()

    // poll 1: handler runs, then the consumer dies BEFORE the commit
    val boom = intercept[RuntimeException] {
      log.poll(spark, "g") { b => sinkInto(b); throw new RuntimeException("crash") }
    }
    assert(boom.getMessage == "crash")
    assert(log.committed("g").isEmpty,
      "a crash before commit must leave the group position untouched")
    assert(delivered.size == 100)

    // poll 2 (post-restart): the SAME batch replays in full and the
    // commit lands this time
    assert(log.poll(spark, "g")(sinkInto) == 100)
    assert(log.committed("g") == log.highWaterMarks(spark))
    // at-least-once: the sink saw each message exactly twice...
    assert(delivered.size == 200)
    // ...and (partition, offset) is the dedup key that makes the
    // effective delivery exactly-once: distinct == one per message
    assert(delivered.toSet.size == 100)

    // poll 3: nothing replays after a successful commit (idempotent —
    // re-polling commits nothing new and delivers nothing)
    assert(log.poll(spark, "g")(_ => fail("post-commit poll ran handler")) == 0)
    assert(log.committed("g") == log.highWaterMarks(spark))
  }

  test("consumer group: range assignor splits partitions disjointly, rebalances on join/leave") {
    val dir = Files.createTempDirectory("graft-assign").toString + "/t"
    val log = new EventLog(dir, numPartitions = 8)
    val a1 = log.join("g", "c1")
    assert(a1 == (0 until 8), s"sole member owns everything: $a1")
    val g1 = log.generation("g")
    val a2 = log.join("g", "c2")
    // two members: contiguous 4+4 ranges, disjoint, covering all
    assert(log.assignment("g", "c1") == (0 until 4))
    assert(a2 == (4 until 8))
    assert(log.generation("g") > g1, "join must bump the generation")
    // third join → 3/3/2 (first P mod n members take one extra)
    val a3 = log.join("g", "c3")
    assert(log.assignment("g", "c1") == (0 until 3))
    assert(log.assignment("g", "c2") == (3 until 6))
    assert(a3 == (6 until 8))
    // leave → survivors re-split 4/4; the departed member is fenced
    log.leave("g", "c2")
    assert(log.members("g") == Seq("c1", "c3"))
    assert(log.assignment("g", "c1") == (0 until 4))
    assert(log.assignment("g", "c3") == (4 until 8))
    intercept[IllegalArgumentException](log.assignment("g", "c2"))
  }

  test("consumer group: offset handoff across a rebalance — nothing lost, nothing double-committed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-handoff").toString + "/t"
    val log = new EventLog(dir, numPartitions = 8)
    def produce(from: Int, until: Int): Unit =
      log.produce(spark.range(from, until)
        .select($"id".cast("string").as("key"),
                concat(lit("#"), $"id").as("payload")))
    // each consumer records every (partition, offset) it processed
    val seen = scala.collection.mutable.Map[String,
      scala.collection.mutable.Set[(Int, Long)]]()
    def handler(c: String)(b: org.apache.spark.sql.DataFrame): Unit = {
      val s = seen.getOrElseUpdate(c, scala.collection.mutable.Set())
      b.select("partition", "offset").collect()
        .foreach(r => s += ((r.getInt(0), r.getLong(1))))
    }
    produce(0, 100)
    log.join("g", "c1"); log.join("g", "c2")
    val n1 = log.pollAssigned(spark, "g", "c1")(handler("c1"))
    val n2 = log.pollAssigned(spark, "g", "c2")(handler("c2"))
    assert(n1 + n2 == 100, s"two members drain the whole topic: $n1 + $n2")
    // rebalance: c3 joins, partitions 6-7 move from c2; new backlog
    produce(100, 200)
    log.join("g", "c3")
    val m = Seq("c1", "c2", "c3")
      .map(c => log.pollAssigned(spark, "g", c)(handler(c)))
    assert(m.sum == 100, s"the new generation drains the new backlog: $m")
    // nothing lost: every produced (partition, offset) was processed
    val all = log.consume(spark).select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    val processed = seen.values.flatten.toSet
    assert(processed == all,
      s"missing=${(all -- processed).take(5)} extra=${(processed -- all).take(5)}")
    // nothing double-committed / double-processed in this orchestration:
    // partitions that moved to c3 resume from the PREVIOUS owner's
    // committed offset, so per-consumer sets are pairwise disjoint
    val counts = seen.values.map(_.size).sum
    assert(counts == all.size, s"some offset processed twice: $counts vs ${all.size}")
    // and the group's committed map equals the topic's high-water-marks
    assert(log.committed("g") == log.highWaterMarks(spark))
  }

  test("consumer group: a rebalance during the handler fences the commit (no stale-owner commit)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fence").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4)
    log.produce(spark.range(0, 40)
      .select($"id".cast("string").as("key"),
              concat(lit("#"), $"id").as("payload")))
    log.join("g", "c1")
    val before = log.committed("g")
    intercept[IllegalStateException] {
      log.pollAssigned(spark, "g", "c1") { _ =>
        log.join("g", "c2") // zombie window: membership changes mid-poll
      }
    }
    // the fence aborted the commit: position unchanged, so the batch
    // replays under the new assignment (at-least-once, nothing lost)
    assert(log.committed("g") == before)
    val n1 = log.pollAssigned(spark, "g", "c1")(_ => ())
    val n2 = log.pollAssigned(spark, "g", "c2")(_ => ())
    assert(n1 + n2 == 40)
    assert(log.committed("g") == log.highWaterMarks(spark))
  }

  test("commit compaction folds the history into one file, position unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ccompact").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4)
    log.produce(spark.range(0, 40)
      .select($"id".cast("string").as("key"),
              concat(lit("#"), $"id").as("payload")))
    // two group members accumulate per-owner partial commits
    log.join("g", "c1"); log.join("g", "c2")
    log.pollAssigned(spark, "g", "c1")(_ => ())
    log.pollAssigned(spark, "g", "c2")(_ => ())
    log.commit("g", Map(0 -> 100L)) // a later manual override survives
    val before = log.committed("g")
    def nFiles = new java.io.File(s"$dir.groups/g").listFiles()
      .count(_.getName.matches("commit-\\d+\\.json"))
    assert(nFiles >= 3, s"expected a multi-file history, got $nFiles")
    log.compactCommits("g")
    assert(nFiles == 1, "history not folded into one file")
    assert(log.committed("g") == before, "compaction changed the position")
    // and the group keeps committing normally afterwards
    log.commit("g", Map(1 -> 200L))
    assert(log.committed("g") == before + (1 -> 200L))
  }

  test("a torn commit temp file never becomes the group's position") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-torn").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 2)
    log.produce(spark.range(0, 10)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    log.commit("g", Map(0 -> 3L, 1 -> 4L))
    // simulate a crash mid-write of the NEXT commit: a half-written
    // .tmp file (even with garbage) must be invisible to readers and
    // must not block subsequent commits
    val groupDir = java.nio.file.Paths.get(s"$dir.groups/g")
    java.nio.file.Files.write(groupDir.resolve("commit-000000000001.json.tmp"),
      "{\"0\":99".getBytes("UTF-8"))
    assert(log.committed("g") == Map(0 -> 3L, 1 -> 4L))
    log.commit("g", Map(0 -> 7L, 1 -> 8L))
    assert(log.committed("g") == Map(0 -> 7L, 1 -> 8L))
  }

  test("null keys produce to a real partition and survive the round trip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nullkey").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4)
    log.produce(spark.range(0, 60)
      .select(when($"id" % 3 === 0, lit(null)).otherwise($"id".cast("string")).as("key"),
              concat(lit("#"), $"id").as("payload")))
    val consumed = log.consume(spark)
    assert(consumed.count() == 60)
    assert(consumed.filter($"partition".isNull || $"partition" < 0 ||
                           $"partition" >= 4).count() == 0)
    // all null-key messages landed on ONE deterministic partition
    // (hash of the empty string), like a keyed message would
    assert(consumed.filter($"key".isNull)
      .select($"partition").distinct().count() == 1)
  }

  test("producer compression knob: zstd-coded batches read back intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-zstd").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4, compression = "zstd")
    log.produce(spark.range(0, 200)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    // codec actually applied: parquet part files carry the zstd marker
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet"))
      .toArray.map(_.toString)
    assert(files.nonEmpty && files.forall(_.contains(".zstd.")),
      s"expected zstd part files, got ${files.take(3).mkString(",")}")
    assert(log.consume(spark).count() == 200)
  }

  test("pollMany: one batch spans topics with a topic column, per-topic commits") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-multi").toString
    val logs = Map(
      "alpha" -> new EventLog(base + "/alpha", numPartitions = 4),
      "beta"  -> new EventLog(base + "/beta", numPartitions = 4))
    logs("alpha").produce(spark.range(0, 100)
      .select($"id".cast("string").as("key"), concat(lit("a#"), $"id").as("payload")))
    logs("beta").produce(spark.range(0, 40)
      .select($"id".cast("string").as("key"), concat(lit("b#"), $"id").as("payload")))

    // the reference handler's Map<topic, List<payload>> shape: group
    // the one polled frame by its topic column
    var perTopic = Map.empty[String, Long]
    val n = EventLog.pollMany(spark, logs, "g1") { batch =>
      perTopic = batch.groupBy($"topic").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(n == 140)
    assert(perTopic == Map("alpha" -> 100L, "beta" -> 40L))
    // both topics' positions committed for the group
    assert(logs("alpha").committed("g1") == logs("alpha").highWaterMarks(spark))
    assert(logs("beta").committed("g1") == logs("beta").highWaterMarks(spark))

    // nothing new → empty poll, handler not invoked
    var called = false
    val n2 = EventLog.pollMany(spark, logs, "g1") { _ => called = true }
    assert(n2 == 0 && !called)

    // produce into ONE topic only: the next poll sees just that delta
    logs("beta").produce(spark.range(40, 60)
      .select($"id".cast("string").as("key"), concat(lit("b#"), $"id").as("payload")))
    var delta = Map.empty[String, Long]
    val n3 = EventLog.pollMany(spark, logs, "g1") { batch =>
      delta = batch.groupBy($"topic").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(n3 == 20 && delta == Map("beta" -> 20L))
  }

  test("topic-to-topic streaming relay preserves messages and offsets") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-relay").toString
    val src = new EventLog(base + "/src", numPartitions = 4)
    val dst = new EventLog(base + "/dst", numPartitions = 4)
    src.produce(spark.range(0, 300)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    val q = dst.writeStream(src.readStream(spark), base + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val relayed = dst.consume(spark)
    assert(relayed.count() == 300)
    val bad = relayed.groupBy($"partition")
      .agg(min($"offset").as("lo"), max($"offset").as("hi"), count(lit(1)).as("n"))
      .filter($"lo" =!= 0 || $"hi" =!= $"n" - 1).count()
    assert(bad == 0, "relayed offsets not contiguous")
  }

  test("bounded poll drains a backlog in maxMessages-sized contiguous steps") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bounded").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    log.produce(spark.range(0, 500)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    var polls = 0
    var seen = Vector.empty[Long]
    var n = -1L
    while (n != 0L) {
      n = log.poll(spark, "g-bounded", maxMessages = 150) { batch =>
        seen = seen ++ batch.select($"key".cast("long")).as[Long].collect()
      }
      assert(n <= 150, s"poll exceeded the bound: $n")
      if (n != 0) polls += 1
      assert(polls <= 10, "bounded poll is not draining")
    }
    // the outage drains in ceil(500/150)=4 bounded steps, each message
    // exactly once, nothing lost
    assert(polls == 4, s"expected 4 bounded polls, got $polls")
    assert(seen.sorted == (0L until 500L).toVector, "lost or duplicated messages")
    // offsets committed as contiguous prefixes: after draining, the
    // group's position is the full high-water-mark
    assert(log.committed("g-bounded") == log.highWaterMarks(spark))
  }

  test("bounded poll drains a compacted log with offset gaps (no stall)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bounded-gap").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    // 3 generations of the same 100 keys: compaction keeps only the
    // last generation, so every partition's surviving offsets START
    // ~2/3 of the way up its range — a gap far wider than the poll
    // allocation. The old `committed + k` arithmetic filtered such a
    // batch to empty, committed nothing, and every retry was
    // identical: a permanent silent stall with backlog remaining.
    (0 until 3).foreach { g =>
      log.produce(spark.range(0, 100)
        .select($"id".cast("string").as("key"),
                concat(lit(s"$g:"), $"id").as("payload")))
    }
    log.compactByKey(spark)
    var polls = 0
    var seen = Vector.empty[String]
    var n = -1L
    while (n != 0L) {
      n = log.poll(spark, "g-gap", maxMessages = 30) { batch =>
        seen = seen ++ batch.select($"payload").as[String].collect()
      }
      assert(n <= 30, s"poll exceeded the bound: $n")
      if (n != 0) polls += 1
      assert(polls <= 10, "bounded poll stalled on an offset gap")
    }
    // all 100 surviving records (latest generation), exactly once
    assert(seen.sorted == (0 until 100).map(i => s"2:$i").sorted.toVector,
      s"lost or duplicated messages across gaps: ${seen.size}")
    assert(polls == 4, s"expected ceil(100/30)=4 bounded polls, got $polls")
    assert(log.committed("g-gap") == log.highWaterMarks(spark))
  }

  test("produce and bounded poll start a pinned number of Spark jobs, none for schema inference") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-jobs").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    def batch(from: Int, until: Int) = spark.range(from, until)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload"))
    log.produce(batch(0, 100))
    val (_, produceJobs) = jobsOf(log.produce(batch(100, 200)))
    val (n, pollJobs) = jobsOf(log.poll(spark, "g", maxMessages = 50)(_.collect()))
    assert(n == 50)
    // produce: the write, a shuffle stage plus its result (the
    // high-water marks come from the footers); poll: the handler's one
    // action (the cutoffs come from the footers too)
    for ((op, jobs, bound) <- Seq(("produce", produceJobs, 2), ("poll", pollJobs, 1))) {
      assert(jobs.nonEmpty && jobs.size <= bound, s"$op started ${jobs.size} jobs (bound $bound)")
      // schema inference runs while the DataFrame is built, outside any
      // SQL execution; every job of a query carries its execution id
      assert(jobs.forall(_.getProperty("spark.sql.execution.id") != null),
        s"$op started a job outside any query (a parquet schema inference)")
    }
    // with no backlog left, a bounded poll starts no job and skips its handler
    assert(log.poll(spark, "g", maxMessages = 1000)(_ => ()) == 150)
    val (none, emptyJobs) =
      jobsOf(log.poll(spark, "g", maxMessages = 50)(_ => fail("empty poll ran handler")))
    assert(none == 0 && emptyJobs.isEmpty, s"empty poll started ${emptyJobs.size} jobs")
  }

  /** Each partition's max offset as a Spark aggregate over the topic. */
  private def scannedMarks(log: EventLog): Map[Int, Long] =
    log.consume(spark).groupBy("partition").agg(max("offset"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("high-water marks from the footers equal the scanned max offsets, with no Spark job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hwm").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    def batch(from: Int, until: Int, gen: Int) = spark.range(from, until)
      .select($"id".cast("string").as("key"), concat(lit(s"$gen:"), $"id").as("payload"))
    assert(log.highWaterMarks(spark).isEmpty)
    (0 until 3).foreach(g => log.produce(batch(0, 100, g)))
    log.produce(batch(100, 130, 3))
    val produced = scannedMarks(log)
    assert(produced.size == 4)
    val (marks, jobs) = jobsOf(log.highWaterMarks(spark))
    assert(marks == produced)
    assert(jobs.size == 0, s"highWaterMarks started ${jobs.size} Spark jobs")
    log.compact(spark)
    assert(log.highWaterMarks(spark) == produced)
    // keyed compaction keeps each key's latest record: the surviving
    // offsets have gaps, and a partition's max is its newest survivor
    log.produce(batch(0, 50, 4))
    log.compactByKey(spark)
    val compacted = scannedMarks(log)
    assert(log.consume(spark).count() == 130)
    assert(log.highWaterMarks(spark) == compacted)
  }

  test("a topic file without offset statistics falls back to the scan, marks unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hwm-nostats").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    log.produce(spark.range(0, 100)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    // partition 0 gains offsets 1000..1009 in a file whose footer
    // carries no column statistics
    spark.range(1000, 1010)
      .select(lit(0).as("partition"), $"id".as("offset"), $"id".cast("string").as("key"),
        lit("#").as("payload"), current_timestamp().as("produced_at"))
      .write.mode("append").option("parquet.column.statistics.enabled", "false")
      .partitionBy("partition").parquet(dir)
    val want = scannedMarks(log)
    assert(want(0) == 1009L)
    val (marks, jobs) = jobsOf(log.highWaterMarks(spark))
    assert(marks == want)
    assert(jobs.nonEmpty, "a statistics-less file must take the Spark fallback")
  }

  test("footer-planned bounded polls equal the sizing query; gaps, overlaps and missing statistics fall back") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-plan").toString
    def batch(from: Int, until: Int, gen: Int = 0) = spark.range(from, until)
      .select($"id".cast("string").as("key"), concat(lit(s"$gen:"), $"id").as("payload"))
    // polling with a handler that runs no action: every job is the sizing query's
    def fallbackJobs(log: EventLog, group: String, maxMessages: Long) =
      jobsOf(log.poll(spark, group, maxMessages)(_ => ()))._2

    val log = new EventLog(s"$root/dense", numPartitions = 4)
    log.produce(batch(0, 60))
    val first = log.highWaterMarks(spark)
    log.produce(batch(60, 85))
    log.produce(batch(85, 225))
    val marks = log.highWaterMarks(spark)
    assert(first.size == 4 && first.values.forall(_ >= 4), first)
    // uneven positions: partition 0 committed in the middle of its first
    // file, 1 at the end of its first file, 2 fully, 3 not at all
    val bases = Seq(Map.empty[Int, Long],
      Map(0 -> first(0) / 2, 1 -> first(1), 2 -> marks(2)))
    def agree(): Unit = for (base <- bases) {
      val backlog = marks.map { case (p, h) => h - base.getOrElse(p, -1L) }.sum
      for (m <- Seq(1L, 7L, 33L, backlog, backlog + 9)) {
        val sized = log.sizingPlan(spark, base, m)
        assert(sized._2 == math.min(m, backlog))
        assert(log.footerPlan(base, m) == Some(sized), s"base=$base maxMessages=$m")
      }
    }
    agree()
    // the planner path starts no job of its own
    assert(fallbackJobs(log, "planned", 33).isEmpty)
    // compaction rewrites each partition into one dense file
    log.compact(spark)
    agree()

    // the same file copied in under a new name: partition 0's offsets
    // overlap, so any poll that reads them falls back
    val p0 = java.nio.file.Paths.get(log.dir, "partition=0")
    val f0 = Files.list(p0).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(f0, p0.resolve("copy-" + f0.getFileName))
    assert(log.footerPlan(Map.empty, 10).isEmpty)
    assert(fallbackJobs(log, "overlap", 10).nonEmpty, "overlapping files must take the sizing query")
    // once partition 0 is committed past both copies, the footers plan again
    val past0 = Map(0 -> marks(0))
    assert(log.footerPlan(past0, 10) == Some(log.sizingPlan(spark, past0, 10)))

    // a file without offset statistics
    val nostats = new EventLog(s"$root/nostats", numPartitions = 4)
    nostats.produce(batch(0, 100))
    spark.range(1000, 1010)
      .select(lit(0).as("partition"), $"id".as("offset"), $"id".cast("string").as("key"),
        lit("#").as("payload"), current_timestamp().as("produced_at"))
      .write.mode("append").option("parquet.column.statistics.enabled", "false")
      .partitionBy("partition").parquet(nostats.dir)
    assert(nostats.footerPlan(Map.empty, 10).isEmpty)
    assert(fallbackJobs(nostats, "g", 10).nonEmpty, "a statistics-less file must take the sizing query")

    // keyed compaction where one generation survives whole (the
    // compacted-gap spec's layout): the gap lies below each partition's
    // first survivor, the file is dense and the footers plan it
    val leading = new EventLog(s"$root/leading", numPartitions = 4)
    (0 until 3).foreach(g => leading.produce(batch(0, 100, g)))
    leading.compactByKey(spark)
    for (m <- Seq(1L, 30L, 100L, 130L))
      assert(leading.footerPlan(Map.empty, m) == Some(leading.sizingPlan(spark, Map.empty, m)))
    // updating every other key leaves gaps inside each compacted file:
    // not dense, so the sizing query plans
    val gaps = new EventLog(s"$root/gaps", numPartitions = 4)
    gaps.produce(batch(0, 100))
    gaps.produce(batch(0, 100, 1).filter(($"key".cast("int") % 2) === 0))
    gaps.compactByKey(spark)
    assert(gaps.footerPlan(Map.empty, 30).isEmpty)
    assert(fallbackJobs(gaps, "g", 30).nonEmpty, "a compactByKey gap must take the sizing query")
    var drained = 0L
    var n = -1L
    while (n != 0) { n = gaps.poll(spark, "g", maxMessages = 30)(_ => ()); drained += n }
    assert(drained == 70 && gaps.lag(spark, "g").values.forall(_ == 0))
  }

  test("bounded polls racing a producer deliver each offset once, contiguous from 0, up to the commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-race").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    def batch(from: Int, until: Int) = spark.range(from, until)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload"))
    log.produce(batch(0, 40))
    val produced = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var producerError: Throwable = null
    val producer = new Thread(() =>
      try (1 until 8).foreach(i => log.produce(batch(i * 40, (i + 1) * 40)))
      catch { case e: Throwable => producerError = e }
      finally produced.set(true))
    producer.start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val deadline = System.nanoTime() + 180L * 1000000000L
    var drained = false
    try while (!drained) {
      assert(System.nanoTime() < deadline, "the group did not drain")
      val last = produced.get()
      val n = log.poll(spark, "g", maxMessages = 25) { b =>
        seen ++= b.select("partition", "offset").as[(Int, Long)].collect()
      }
      drained = last && log.lag(spark, "g").values.forall(_ == 0)
      if (n == 0 && !drained) Thread.sleep(5)
    } finally producer.join()
    assert(producerError == null, s"producer failed: $producerError")
    val byPartition = seen.groupMap(_._1)(_._2).map { case (p, o) => p -> o.sorted }
    for ((p, offsets) <- byPartition)
      assert(offsets == (0L until offsets.size.toLong),
        s"partition $p: missing ${(0L to offsets.last).diff(offsets).take(5)}, " +
          s"repeated ${offsets.diff(offsets.distinct).take(5)}")
    assert(seen.size == 320)
    assert(log.committed("g") == byPartition.map { case (p, o) => p -> o.last })
  }

  test("lag across a rebalance is N_p - M_p per partition; the surviving member drains it to 0") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-rebalance-lag").toString + "/t"
    val log = new EventLog(dir, numPartitions = 8)
    def produce(from: Int, until: Int): Unit =
      log.produce(spark.range(from, until)
        .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    val taken = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    def handler(b: org.apache.spark.sql.DataFrame): Unit =
      b.groupBy("partition").count().as[(Int, Long)].collect()
        .foreach { case (p, n) => taken(p) += n }
    log.join("g", "c1"); log.join("g", "c2") // range: c1 owns 0-3, c2 owns 4-7
    produce(0, 160)
    log.pollAssigned(spark, "g", "c1")(handler)
    produce(160, 240)
    log.pollAssigned(spark, "g", "c2")(handler)
    produce(240, 300)
    log.leave("g", "c2")
    val produced = log.consume(spark).groupBy("partition").count().as[(Int, Long)].collect().toMap
    assert(produced.size == 8)
    val lag = log.lag(spark, "g")
    assert(lag == produced.map { case (p, n) => p -> (n - taken(p)) })
    // each half kept the backlog produced after its owner's last poll
    assert((0 until 4).forall(p => lag(p) > 0 && taken(p) > 0), lag)
    assert((4 until 8).forall(p => lag(p) > 0 && taken(p) > 0), lag)
    assert(log.assignment("g", "c1") == (0 until 8))
    assert(log.pollAssigned(spark, "g", "c1")(handler) == lag.values.sum)
    assert(log.lag(spark, "g").values.forall(_ == 0))
    assert(taken == produced)
  }

  test("a topic dir holding only _temporary (first produce in flight) reads as empty") {
    val dir = Files.createTempDirectory("graft-inflight").toString + "/event-stream"
    val attempt = java.nio.file.Paths.get(dir, "_temporary", "0", "_temporary",
      "attempt_0", "partition=0")
    Files.createDirectories(attempt)
    Files.createFile(attempt.resolve("part-00000.snappy.parquet"))
    val log = new EventLog(dir, numPartitions = 4)
    assert(log.highWaterMarks(spark).isEmpty)
    assert(log.consume(spark).count() == 0)
    assert(log.poll(spark, "g", maxMessages = 10)(_ => fail("empty poll ran handler")) == 0)
    assert(log.poll(spark, "g")(_ => fail("empty poll ran handler")) == 0)
    assert(log.committed("g").isEmpty)
  }

  test("lag is the high-water mark minus the committed offset, uncommitted counted from -1") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lag").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    assert(log.lag(spark, "g").isEmpty)
    log.produce(spark.range(0, 200)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    val produced = log.consume(spark).groupBy($"partition").count()
      .as[(Int, Long)].collect().toMap
    assert(produced.size == 4 && produced.values.forall(_ > 10), produced)
    assert(log.lag(spark, "g") == produced)
    // partitions 0 and 1 commit their first 10 offsets (0..9)
    log.commit("g", Map(0 -> 9L, 1 -> 9L))
    assert(log.lag(spark, "g") ==
      produced.map { case (p, n) => p -> (if (p <= 1) n - 10 else n) })
    log.poll(spark, "g")(_ => ())
    assert(log.lag(spark, "g") == produced.map { case (p, _) => p -> 0L })
  }

  test("readStream maxFilesPerTrigger bounds each micro-batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mfpt").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 2)
    def batch(from: Int, until: Int) = spark.range(from, until)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload"))
    (0 until 4).foreach(i => log.produce(batch(i * 50, (i + 1) * 50)))
    // each produce writes ≤2 files (2 partitions): cap of 2 files per
    // trigger ≈ one produce batch per micro-batch
    var batchSizes = Vector.empty[Long]
    val q = log.readStream(spark, maxFilesPerTrigger = Some(2))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        batchSizes = batchSizes :+ b.count(); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batchSizes.sum == 200, s"lost messages: $batchSizes")
    assert(batchSizes.length >= 4, s"backlog not split: $batchSizes")
    assert(batchSizes.forall(_ <= 50), s"a micro-batch exceeded the cap: $batchSizes")
  }

  test("compactByKey keeps the latest record per key, honors tombstones") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-kcompact").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 4)
    // 3 generations of 100 keys; generation g writes payload "g:<key>"
    (0 until 3).foreach { g =>
      log.produce(spark.range(0, 100)
        .select($"id".cast("string").as("key"),
                concat(lit(s"$g:"), $"id").as("payload")))
    }
    // tombstone keys 0..9: null payload deletes the key
    log.produce(spark.range(0, 10)
      .select($"id".cast("string").as("key"),
              lit(null).cast("string").as("payload")))
    // a consumer group mid-log: its committed position must stay
    // valid across compaction (offsets are preserved, like Kafka)
    val before = log.consume(spark)
      .filter($"payload".isNotNull)
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"key").orderBy($"offset".desc)))
      .filter($"_rn" === 1).drop("_rn")
      .filter(!$"key".cast("long").between(0, 9))
      .select($"partition", $"offset", $"key", $"payload")
      .as[(Int, Long, String, String)].collect().toSet

    log.compactByKey(spark)
    val after = log.consume(spark)
    // exactly the latest generation of the 90 surviving keys, with
    // original (partition, offset) intact
    assert(after.count() == 90)
    assert(after.select($"partition", $"offset", $"key", $"payload")
      .as[(Int, Long, String, String)].collect().toSet == before,
      "compacted log is not the latest-per-key of the original")
    assert(after.filter(!$"payload".startsWith("2:")).count() == 0,
      "a stale generation survived keyed compaction")
    // committed positions beyond retained offsets still consume cleanly
    val mid = after.groupBy($"partition")
      .agg(max($"offset").as("hwm")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(log.consume(spark, mid).count() == 0,
      "fully-consumed group sees phantom messages after compaction")
  }

  test("sticky assignor moves the minimum on rebalance; round-robin interleaves; both cover disjointly") {
    val dir = Files.createTempDirectory("graft-sticky").toString + "/t"
    val log = new EventLog(dir, numPartitions = 8)
    def all = log.stickyAssignments("g")
    log.join("g", "c1")
    assert(all("c1") == (0 until 8).toVector, s"sole member owns all: $all")
    log.join("g", "c2")
    // c1 keeps its LOWEST 4, only the excess moved to c2
    assert(all("c1") == Vector(0, 1, 2, 3) && all("c2") == Vector(4, 5, 6, 7), s"$all")
    log.join("g", "c3")
    // targets 3/3/2: c1 releases {3}, c2 releases {7}, c3 gets both —
    // exactly 2 partitions move (RANGE would also reshuffle c2's set)
    val a3 = all
    assert(a3("c1") == Vector(0, 1, 2) && a3("c2") == Vector(4, 5, 6) &&
           a3("c3") == Vector(3, 7), s"$a3")
    log.leave("g", "c2")
    // survivors keep EVERYTHING they owned; only the departed's
    // partitions move (offset handoff stays per-partition)
    val a4 = all
    assert(a3("c1").forall(a4("c1").contains) &&
           a3("c3").forall(a4("c3").contains),
      s"a survivor lost a partition it owned: $a3 -> $a4")
    assert(a4.values.flatten.toSeq.sorted == (0 until 8),
      s"not a disjoint cover: $a4")
    // deterministic from the log alone: a fresh instance over the
    // same directory folds the identical map (no coordinator state)
    assert(new EventLog(dir, numPartitions = 8).stickyAssignments("g") == a4)
    assert(log.assignmentSticky("g", "c1") == a4("c1"))
    intercept[IllegalArgumentException] { log.assignmentSticky("g", "c2") }
    // round-robin: partition p -> member p mod n, disjoint cover
    val rr = Seq("c1", "c3").map(c => c -> log.assignmentRoundRobin("g", c)).toMap
    assert(rr("c1") == Vector(0, 2, 4, 6) && rr("c3") == Vector(1, 3, 5, 7), s"$rr")
  }

  test("sticky-assignor group polls across a rebalance: nothing lost, handoff intact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stickypoll").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4)
    def batch(from: Int, until: Int) = spark.range(from, until)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload"))
    log.produce(batch(0, 60))
    log.join("g", "c1"); log.join("g", "c2")
    var seen = 0L
    def poll(c: String) =
      log.pollAssigned(spark, "g", c, assignor = "sticky")(b => seen += b.count())
    assert(poll("c1") + poll("c2") == 60, "group did not drain the backlog")
    assert(seen == 60)
    assert(log.committed("g") == log.highWaterMarks(spark))
    // rebalance: c3 joins, new backlog drains under the sticky split —
    // survivors kept their partitions, c3 resumes from the group map
    // (offset handoff); every message lands exactly once here because
    // each drain completed before the next membership change
    log.join("g", "c3")
    log.produce(batch(60, 120))
    seen = 0
    val n = Seq("c1", "c2", "c3").map(poll).sum
    assert(n == 60 && seen == 60, s"rebalanced drain lost messages: $n/$seen")
    assert(log.committed("g") == log.highWaterMarks(spark))
    intercept[IllegalArgumentException] {
      log.pollAssigned(spark, "g", "c1", assignor = "nope")(_ => ())
    }
  }

  test("concurrent owners' commits never erase each other (claim-based sequences, 100 rounds)") {
    // the r15 race: two same-generation owners of DISJOINT partitions
    // (the normal 2-consumer case) commit concurrently; under
    // max(existing)+1 allocation both could draw the same sequence
    // and the loser's ATOMIC_MOVE (which REPLACES on POSIX) silently
    // erased the winner's file, regressing that partition's offsets.
    // The claim-file allocation makes the collision explicit — after
    // EVERY round both owners' positions must survive.
    val dir = Files.createTempDirectory("graft-crace").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (round <- 0 until 100) {
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val r = round.toLong
        val f1 = pool.submit(new Runnable { def run(): Unit = {
          barrier.await(); log.commit("g", Map(0 -> r, 1 -> r)) } })
        val f2 = pool.submit(new Runnable { def run(): Unit = {
          barrier.await(); log.commit("g", Map(2 -> r, 3 -> r)) } })
        f1.get(); f2.get()
        val pos = log.committed("g")
        assert(pos == Map(0 -> r, 1 -> r, 2 -> r, 3 -> r),
          s"round $round lost a commit: $pos")
      }
    } finally pool.shutdown()
    // the claimed history compacts away cleanly (claims swept too)
    log.compactCommits("g")
    val files = new java.io.File(s"$dir.groups/g").listFiles().map(_.getName)
    assert(files.count(_.matches("commit-\\d+\\.json")) == 1,
      s"history not folded: ${files.toSeq}")
    assert(!files.exists(_.endsWith(".json.claim")),
      s"compaction left stale claims: ${files.toSeq}")
    assert(log.committed("g") == Map(0 -> 99L, 1 -> 99L, 2 -> 99L, 3 -> 99L))
    // and commits keep working on the compacted dir
    log.commit("g", Map(0 -> 200L))
    assert(log.committed("g")(0) == 200L)
  }

  test("membership log is a total order: concurrent distinct-id events draw distinct sequences") {
    // two DIFFERENT consumer ids racing used to be able to land the
    // same sequence (the op-file name only collided for the SAME id),
    // so generation() counted two concurrent changes as one bump; the
    // neutral event-<seq>.lock reservation forces a collision
    val dir = Files.createTempDirectory("graft-mrace").toString + "/t"
    val log = new EventLog(dir, numPartitions = 8)
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      for (round <- 0 until 25) {
        val join = new java.util.concurrent.CyclicBarrier(n)
        (0 until n).map { i => pool.submit(new Runnable { def run(): Unit = {
          join.await(); log.join("g", s"r$round-c$i") } }) }.foreach(_.get())
        val leave = new java.util.concurrent.CyclicBarrier(n)
        (0 until n).map { i => pool.submit(new Runnable { def run(): Unit = {
          leave.await(); log.leave("g", s"r$round-c$i") } }) }.foreach(_.get())
      }
    } finally pool.shutdown()
    val events = new java.io.File(s"$dir.groups/g/members").listFiles()
      .map(_.getName).filter(_.matches("event-\\d+-(join|leave)-.+"))
    val seqs = events.map(_.split("-")(1).toLong)
    assert(events.length == 25 * n * 2, s"lost events: ${events.length}")
    assert(seqs.distinct.length == seqs.length,
      s"duplicate membership sequences: ${seqs.groupBy(identity).filter(_._2.length > 1).keys.toSeq.sorted}")
    // every change bumped the generation at least once: the final
    // generation covers all 400 events (burned lock slots may push it
    // higher, never lower)
    assert(log.generation("g") >= 25L * n * 2, s"generation ${log.generation("g")}")
    assert(log.members("g").isEmpty, s"live set not empty: ${log.members("g")}")
  }

  test("assignor is pinned group-wide on first poll; a mismatched member fails loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pin").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4)
    log.produce(spark.range(0, 20)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    log.join("g", "c1"); log.join("g", "c2")
    log.pollAssigned(spark, "g", "c1", assignor = "sticky")(_ => ())
    // same assignor: fine; different assignor: rejected BEFORE it can
    // co-own partitions — and the marker it did NOT write leaves the
    // healthy members polling
    log.pollAssigned(spark, "g", "c2", assignor = "sticky")(_ => ())
    val e = intercept[IllegalStateException] {
      log.pollAssigned(spark, "g", "c2", assignor = "range")(_ => ())
    }
    assert(e.getMessage.contains("pinned to assignor sticky"), e.getMessage)
    log.produce(spark.range(20, 40)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    log.pollAssigned(spark, "g", "c1", assignor = "sticky")(_ => ()) // still healthy
    // an unrelated group pins independently
    log.join("g2", "c1")
    log.pollAssigned(spark, "g2", "c1", assignor = "range")(_ => ())
  }

  test("compactCommits sweeps stale claims even with a single commit file") {
    // the crash window: a prior compaction deleted its folded files
    // but died before the claim sweep — one commit file plus stale
    // claims remain, and the old files.size>1-gated sweep never ran
    // again, so every commit() rescanned the claims forever
    val dir = Files.createTempDirectory("graft-claims").toString + "/t"
    val log = new EventLog(dir, numPartitions = 2)
    log.commit("g", Map(0 -> 5L, 1 -> 7L)) // lands commit-0 + its claim
    val d = java.nio.file.Paths.get(s"$dir.groups/g")
    assert(Files.list(d).count() >= 2) // file + claim present
    log.compactCommits("g") // single file: no fold, but sweep runs
    val names = new java.io.File(d.toString).listFiles().map(_.getName)
    assert(!names.exists(_.endsWith(".json.claim")),
      s"stale claim survived a single-file compaction: ${names.toSeq}")
    assert(log.committed("g") == Map(0 -> 5L, 1 -> 7L))
    log.commit("g", Map(0 -> 9L)) // allocation still monotonic
    assert(log.committed("g") == Map(0 -> 9L, 1 -> 7L))
  }

  test("membership compaction: snapshot fold == full-log fold, generation-neutral, dir bounded") {
    val dir = Files.createTempDirectory("graft-msnap").toString + "/t"
    val log = new EventLog(dir, numPartitions = 8)
    val ctl = new EventLog(Files.createTempDirectory("graft-msnapctl").toString + "/t",
      numPartitions = 8)
    // identical event history on both groups; only `log` compacts
    def drive(l: EventLog, ops: Seq[(String, String)]): Unit =
      ops.foreach { case ("join", id) => l.join("g", id)
                    case (_, id) => l.leave("g", id) }
    val prefix = Seq("join" -> "c1", "join" -> "c2", "join" -> "c3",
      "leave" -> "c2", "join" -> "c4")
    drive(log, prefix); drive(ctl, prefix)
    val genBefore = log.generation("g")
    log.compactMembership("g")
    // fold-equivalence at the snapshot point
    assert(log.members("g") == ctl.members("g"))
    assert(log.stickyAssignments("g") == ctl.stickyAssignments("g"))
    assert(log.generation("g") == genBefore, "compaction bumped the generation")
    // the folded prefix is swept: one snapshot, no event/lock files
    val files = new java.io.File(s"$dir.groups/g/members").listFiles().map(_.getName)
    assert(files.count(_.startsWith("snapshot-")) == 1 &&
           !files.exists(_.startsWith("event-")), s"${files.toSeq}")
    // post-snapshot events fold identically to the uncompacted control
    val tail = Seq("join" -> "c5", "leave" -> "c1", "join" -> "c2")
    for ((op, id) <- tail) {
      drive(log, Seq(op -> id)); drive(ctl, Seq(op -> id))
      assert(log.members("g") == ctl.members("g"), s"after $op $id")
      assert(log.stickyAssignments("g") == ctl.stickyAssignments("g"),
        s"sticky fold diverged after $op $id")
    }
    assert(log.generation("g") > genBefore)
    // a second compaction folds snapshot + tail; a fresh instance
    // over the directory reads the same state (no JVM-local cache)
    log.compactMembership("g")
    val fresh = new EventLog(dir, numPartitions = 8)
    assert(fresh.stickyAssignments("g") == ctl.stickyAssignments("g"))
    assert(fresh.members("g") == ctl.members("g"))
    // generation is opaque-monotonic, not numerically tied to the
    // control: each snapshot burns one sequence slot (same as a
    // crashed lock), so the compacted log may run AHEAD — never behind
    assert(fresh.generation("g") == log.generation("g") &&
           fresh.generation("g") >= ctl.generation("g"))
  }

  test("membership compaction crash windows: burned lock and stale pre-snapshot files are both harmless") {
    val dir = Files.createTempDirectory("graft-msnapcrash").toString + "/t"
    val log = new EventLog(dir, numPartitions = 8)
    log.join("g", "c1"); log.join("g", "c2"); log.join("g", "c3")
    val before = (log.members("g"), log.generation("g"),
      log.stickyAssignments("g"))
    val d = java.nio.file.Paths.get(s"$dir.groups/g/members")
    // window 1: compaction claimed its lock, crashed before the
    // snapshot landed — the slot is burned, every fold unchanged,
    // and the next event sequences past it
    Files.createFile(d.resolve(f"event-${3L}%012d.lock"))
    assert((log.members("g"), log.generation("g"),
      log.stickyAssignments("g")) == before, "burned lock changed a fold")
    log.join("g", "c4")
    assert(log.members("g") == Seq("c1", "c2", "c3", "c4"))
    assert(log.generation("g") == 5, // seq 3 burned, join landed at 4
      s"join did not sequence past the burned lock: ${log.generation("g")}")
    // window 2: compaction landed its snapshot but crashed mid-sweep —
    // stale pre-snapshot event files remain; folds must filter them
    // by sequence, and the next compaction sweeps them
    log.compactMembership("g")
    val afterSnap = (log.members("g"), log.generation("g"),
      log.stickyAssignments("g"))
    // resurrect a stale pre-snapshot event file (what a crashed sweep
    // leaves): an old leave for a member the snapshot still holds
    Files.createFile(d.resolve(f"event-${1L}%012d-leave-c2"))
    assert((log.members("g"), log.generation("g"),
      log.stickyAssignments("g")) == afterSnap,
      "stale pre-snapshot event leaked into the fold")
    log.compactMembership("g")
    import scala.jdk.CollectionConverters._
    val names = Files.list(d).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(!names.exists(_.contains("-leave-c2")),
      s"recompaction did not sweep the stale file: $names")
    assert(names.count(_.startsWith("snapshot-")) == 1, s"$names")
    assert((log.members("g"), log.generation("g"),
      log.stickyAssignments("g")) == afterSnap)
  }

  test("two sticky members pollAssigned concurrently across a mid-run join: no double-commit, nothing skipped (100 rounds)") {
    import spark.implicits._
    // the full stack under contention: claim-allocated commit
    // sequences, the rebalance fence, and the sticky ownership fold
    // exercised together — two members poll CONCURRENTLY every
    // round, a third joins mid-run while polls are in flight
    val dir = Files.createTempDirectory("graft-stickyrace").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4)
    log.join("g", "c1"); log.join("g", "c2")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Long)]()
    def pollOnce(c: String): Boolean = // true = fenced (commit aborted)
      try {
        log.pollAssigned(spark, "g", c, assignor = "sticky") { b =>
          b.select("partition", "offset").collect()
            .foreach(r => seen.add(r.getInt(0) -> r.getLong(1)))
        }
        false
      } catch { case _: IllegalStateException => true }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      var consumers = Vector("c1", "c2")
      val perRound = 20
      for (round <- 0 until 100) {
        log.produce(spark.range(round * perRound, (round + 1) * perRound)
          .select($"id".cast("string").as("key"),
                  concat(lit("#"), $"id").as("payload")))
        val joiner = if (round == 50)
          Some(pool.submit(new Runnable { def run(): Unit = log.join("g", "c3") }))
        else None
        val barrier = new java.util.concurrent.CyclicBarrier(consumers.size)
        val polls = consumers.map { c =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = { barrier.await(); pollOnce(c) } })
        }
        val fenced = polls.map(_.get()).exists(identity)
        joiner.foreach { j => j.get(); consumers = Vector("c1", "c2", "c3") }
        // drain sequentially after a fence or an ownership change so
        // every round ends with the group's positions at the topic's
        // high-water-marks — a lost (erased) commit would break this
        if (fenced || round == 50)
          consumers.foreach(c => assert(!pollOnce(c), "fence fired without a rebalance"))
        if (round % 10 == 9 || round == 50) {
          val pos = log.committed("g")
          val hwm = log.highWaterMarks(spark)
          assert(pos == hwm, s"round $round: positions $pos != HWMs $hwm — a commit was lost")
        }
      }
    } finally pool.shutdown()
    // nothing skipped: every produced (partition, offset) was handled
    // at least once (the set absorbs fence replays)
    assert(seen.size == 100 * 20, s"processed ${seen.size}/2000 distinct messages")
    assert(log.committed("g") == log.highWaterMarks(spark))
    // and the commit history compacts away cleanly, claims included
    log.compactCommits("g")
    val files = new java.io.File(s"$dir.groups/g").listFiles().map(_.getName)
    assert(files.count(_.matches("commit-\\d+\\.json")) == 1 &&
           !files.exists(_.endsWith(".json.claim")), s"${files.toSeq}")
  }

  test("membership compaction is marker-exclusive: concurrent compaction and stale-marker appends fail loudly") {
    val dir = Files.createTempDirectory("graft-mmarker").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4)
    log.join("g", "c1"); log.join("g", "c2")
    val d = java.nio.file.Paths.get(s"$dir.groups/g/members")
    // a held marker = compaction in flight: a second compaction must
    // refuse rather than double-fold
    Files.createFile(d.resolve("compacting"))
    val e1 = intercept[IllegalStateException](log.compactMembership("g"))
    assert(e1.getMessage.contains("compactMembership"), e1.getMessage)
    // a crashed compaction leaves the marker: joins must not wedge
    // silently — bounded wait, then a loud heal instruction
    sys.props("spark.graft.membershipCompactionWaitMs") = "200"
    try {
      val e2 = intercept[IllegalStateException](log.join("g", "c3"))
      assert(e2.getMessage.contains("delete the marker"), e2.getMessage)
    } finally sys.props.remove("spark.graft.membershipCompactionWaitMs")
    // deleting the marker heals the group: both paths work again
    Files.delete(d.resolve("compacting"))
    log.join("g", "c3")
    assert(log.members("g") == Seq("c1", "c2", "c3"))
    log.compactMembership("g")
    assert(log.members("g") == Seq("c1", "c2", "c3"))
  }

  test("join/leave racing a live compactor never loses an op (200 rounds, concurrent)") {
    // the r17 verdict's named gap: a join racing compactMembership's
    // fold+sweep could land its event file after the fold listed and
    // get swept (or sequence-filtered) — silently absent from every
    // later fold. The append-then-settle loop makes the op durable:
    // after join()/leave() RETURNS, the fold must reflect it, no
    // matter how the compactor interleaved; and once reflected, every
    // later fold preserves it (the fold is Markovian in the snapshot).
    val dir = Files.createTempDirectory("graft-mrace").toString + "/t"
    val log = new EventLog(dir, numPartitions = 8)
    log.join("g", "anchor") // the group is never empty
    @volatile var stop = false
    val compactor = new Thread(() => {
      while (!stop) {
        try log.compactMembership("g")
        catch { case _: IllegalStateException => () } // none expected (single compactor)
      }
    })
    compactor.start()
    try {
      for (i <- 0 until 200) {
        log.join("g", s"m$i")
        assert(log.members("g").contains(s"m$i"),
          s"round $i: join settled but the fold lost it")
        assert(log.stickyAssignments("g").contains(s"m$i"),
          s"round $i: sticky fold lost the settled join")
        log.leave("g", s"m$i")
        assert(!log.members("g").contains(s"m$i"),
          s"round $i: leave settled but the fold still lists the member")
      }
    } finally { stop = true; compactor.join() }
    assert(log.members("g") == Seq("anchor"))
    assert(log.stickyAssignments("g")("anchor") == (0 until 8).toVector)
  }

  test("a crashed compaction's orphan snapshot tmp is swept by the next compaction") {
    val dir = Files.createTempDirectory("graft-mtmp").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4)
    log.join("g", "c1"); log.join("g", "c2")
    val d = java.nio.file.Paths.get(s"$dir.groups/g/members")
    // crash window: snapshot tmp written, ATOMIC_MOVE never ran (the
    // burned lock of that crashed compaction keeps sequences monotonic
    // — modeled by the tmp's low sequence being below any new one)
    java.nio.file.Files.write(d.resolve(f"snapshot-${0L}%012d.tmp"),
      "generation=99\nghost=0,1,2,3".getBytes("UTF-8"))
    // the tmp must not leak into any fold (full-match regexes)
    assert(log.members("g") == Seq("c1", "c2"))
    assert(log.generation("g") != 99)
    log.compactMembership("g")
    import scala.jdk.CollectionConverters._
    val names = java.nio.file.Files.list(d).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(!names.exists(_.endsWith(".tmp")),
      s"orphan snapshot tmp survived the sweep: $names")
    assert(log.members("g") == Seq("c1", "c2"))
  }

  test("snapshot parsing is total: last-'=' split handles ids containing '='") {
    // the API rejects such ids at join time ([A-Za-z0-9._-]+), so this
    // guards the PARSER against hand-written or foreign snapshots: one
    // bad line must not permanently break every fold for the group
    val dir = Files.createTempDirectory("graft-mparse").toString + "/t"
    val log = new EventLog(dir, numPartitions = 4)
    val d = java.nio.file.Paths.get(s"$dir.groups/g/members")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.write(d.resolve(f"snapshot-${0L}%012d"),
      "generation=3\nempty=\nplain=2,3\nweird=id=0,1".getBytes("UTF-8"))
    assert(log.members("g") == Seq("empty", "plain", "weird=id"))
    assert(log.generation("g") == 3)
    assert(log.stickyAssignments("g") ==
      Map("empty" -> Vector(), "plain" -> Vector(2, 3),
          "weird=id" -> Vector(0, 1)))
  }

  test("consume self-heals a compaction crash mid-swap (.old IS the log)") {
    import spark.implicits._
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft-heal").toString + "/event-stream"
    val log = new EventLog(dir, numPartitions = 2)
    log.produce(spark.range(0, 40)
      .select($"id".cast("string").as("key"), concat(lit("#"), $"id").as("payload")))
    // the swap crash window: live moved aside, replacement not yet in
    Files.move(Paths.get(dir), Paths.get(dir + ".old"))
    assert(log.consume(spark).count() == 40,
      "consume did not restore the moved-aside log")
    assert(java.nio.file.Files.exists(Paths.get(dir)) &&
           !java.nio.file.Files.exists(Paths.get(dir + ".old")))
  }
}
