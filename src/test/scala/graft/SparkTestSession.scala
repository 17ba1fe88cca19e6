package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (sbt forks a single test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .withExtensions(new GraftExtensions)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** Runs `op` and returns its result with the properties of every
    * Spark job it started. A marker job submitted afterwards bounds the
    * wait: the listener bus delivers events in order, so once the
    * marker's start arrives, every start of `op` has arrived too.
    */
  def jobsOf[T](op: => T): (T, Seq[java.util.Properties]) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"measured-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(e.properties)
          case Some(g) if g == s"$group-end" => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured operation")
      val r = try op finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      if (!marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("marker job never seen")
      (r, jobs.asScala.toVector)
    } finally sc.removeSparkListener(listener)
  }
}
