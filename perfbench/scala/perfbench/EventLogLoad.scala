package perfbench

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.EventLog

/** The `eventlog` workload: the reference producer/consumer flow on one
  * 8-partition topic.
  *
  *  - Messages arrive at an even rate, and a producer thread appends the
  *    ones that arrived every `IntervalMs`, on a fixed (open-loop)
  *    schedule. Keys are seeded and skewed; each payload carries the
  *    message id and its arrival time, from which delivery is timed.
  *  - Group `myGroup` polls in a closed loop with a bounded `poll` and
  *    commits, until the producer is done and the group has no lag.
  *    Once the producer is done, the lag is sampled after every poll
  *    through `highWaterMarks` and `committed`. Before that the loop is
  *    polls alone, so an append waits at most one empty poll: a lag sample
  *    (two scans of the topic) after every poll made the loop about as
  *    long as the producer's interval.
  *  - Three new groups then replay the whole topic from earliest in
  *    bounded polls, one after another (the replay time is their median).
  *
  * The topic is created (its first batch produced) before the consumer
  * starts: polling a topic directory that exists but holds no committed
  * file fails with UNABLE_TO_INFER_SCHEMA.
  */
final class EventLogLoad(a: Harness.Args, rec: Records) extends Workload {
  import EventLogLoad._

  /** The `n` messages appended at `dueNs`, which arrived evenly over the
    * interval before it. Spreading the arrivals means the median delivery
    * time averages over every batch's wait for the consumer's next poll,
    * rather than resting on one batch.
    */
  private def batch(spark: SparkSession, rng: scala.util.Random, first: Long,
                    n: Int, dueNs: Long): DataFrame = {
    import spark.implicits._
    (0 until n).map { j =>
      val u = rng.nextDouble()
      val arrival = dueNs - (n - 1 - j) * IntervalMs * 1000000L / n
      (f"k${(Keys * u * u * u).toInt}%04d", s"${first + j}|$arrival")
    }.toDF("key", "payload")
  }

  def tables: Seq[String] = Nil

  /** Two rounds of the consumer's loop on a topic of its own: the first
    * produce creates the topic, the second takes the path every later
    * produce takes (the high-water-mark scan). With one round, the first
    * timed produce on an existing topic ran that path cold, and its
    * messages waited about half a second longer than the later ones.
    */
  def warm(spark: SparkSession): Unit = {
    val topic = new EventLog(s"${a.work}/warm/topic", Partitions)
    val rng = new scala.util.Random(-a.seed)
    for (i <- 0 until 2) {
      Trace.span("produce", "eventlog")(
        topic.produce(batch(spark, rng, i * 100L, 100, Trace.now())))
      Trace.span("poll", "eventlog")(topic.poll(spark, "warm", MaxMessages)(_.collect()))
      Trace.span("hwm", "eventlog")(topic.highWaterMarks(spark))
      Trace.span("committed", "eventlog")(topic.committed("warm"))
    }
  }

  def measure(spark: SparkSession): Unit = {
    val topic = new EventLog(s"${a.work}/topic", Partitions)
    val batches = math.max(2, math.round(a.seconds * 1000 / IntervalMs).toInt)
    val rng = new scala.util.Random(a.seed)
    val delivered = new java.io.PrintWriter(s"${a.work}/delivered.csv")
    val t0 = Trace.now() + IntervalMs * 1000000L
    val producerDone = new AtomicBoolean(false)
    @volatile var producerError: Throwable = null

    def produce(i: Int): Unit = {
      val due = t0 + i * IntervalMs * 1000000L
      val df = batch(spark, rng, i.toLong * BatchMessages, BatchMessages, due)
      val wait = (due - Trace.now()) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      val start = Trace.now()
      Trace.span("produce", "eventlog")(topic.produce(df))
      rec.write("produce", "batch" -> i, "due" -> due, "start" -> start,
        "end" -> Trace.now(), "first" -> i.toLong * BatchMessages, "n" -> BatchMessages)
    }

    produce(0) // creates the topic before any poll
    val parent = Trace.current() // the producer's spans belong to `measure` too
    val producer = new Thread(() =>
      try Trace.within(parent)((1 until batches).foreach(produce))
      catch { case e: Throwable => producerError = e }
      finally producerDone.set(true), "perfbench-producer")
    producer.start()

    def drain(group: String, live: Boolean): Long = {
      var polls = 0L
      var finished = false
      val deadline = Trace.now() + (a.seconds + 90) * 1000000000L
      while (!finished) {
        if (Trace.now() > deadline) throw new IllegalStateException(s"$group did not drain")
        val doneBefore = !live || producerDone.get()
        val n = Trace.span("poll", "eventlog") {
          topic.poll(spark, group, MaxMessages) { df =>
            val rows = df.select("partition", "offset", "payload").collect()
            val recv = Trace.now()
            rows.foreach { r =>
              val Array(id, arrival) = r.getString(2).split('|')
              delivered.println(s"$group,${r.getInt(0)},${r.getLong(1)},$id,$arrival,$recv")
            }
          }
        }
        polls += 1
        rec.write("poll", "group" -> group, "n" -> n, "at" -> Trace.now())
        if (doneBefore) {
          val hwm = Trace.span("hwm", "eventlog")(topic.highWaterMarks(spark))
          val done = Trace.span("committed", "eventlog")(topic.committed(group))
          val lag = hwm.map { case (p, h) => h - done.getOrElse(p, -1L) }.sum
          finished = lag == 0
        }
        if (producerError != null) throw producerError
        if (n == 0 && !finished) Thread.sleep(5)
      }
      polls
    }

    try {
      drain("myGroup", live = true)
      producer.join()
      ReplayGroups.foreach { g =>
        val start = Trace.now()
        val polls = Trace.span("replay", "eventlog")(drain(g, live = false))
        rec.write("replay", "group" -> g, "start" -> start, "end" -> Trace.now(), "polls" -> polls)
      }
    } finally {
      producer.join()
      delivered.close()
    }
    val hwm = topic.highWaterMarks(spark)
    rec.write("topic", "files" -> countFiles(topic.dir),
      "hwm" -> hwm.map { case (p, h) => p.toString -> h },
      "committed" -> ("myGroup" +: ReplayGroups).map(g =>
        g -> topic.committed(g).map { case (p, h) => p.toString -> h }).toMap)
  }

  private def countFiles(dir: String): Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.filter(_.toString.endsWith(".parquet")).count() finally walk.close()
  }
}

object EventLogLoad {
  val Partitions = 8
  val IntervalMs = 1500L
  val BatchMessages = 150
  val MaxMessages = 400L
  val Keys = 1000
  val ReplayGroups = Seq("replay0", "replay1", "replay2")
}
