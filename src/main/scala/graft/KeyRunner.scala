package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The key-running path that [[Bench]] and [[Verify]] share: which
  * `SparkEntry.queries` keys run and in what order, how a key's failure
  * is recorded, what is released between keys, and how strings are
  * written into their JSON artifacts.
  */
object KeyRunner {
  type Key = (SparkSession, String) => DataFrame

  /** The keys named in `SPARK_GRAFT_QUERIES` (comma-separated; all keys
    * when unset), sorted by name. A fixed order keeps position-dependent
    * costs (first-key residue, cleaner backlog) on the same keys from
    * one run to the next; the hash-map order reshuffled whenever a key
    * was added.
    */
  def selected(): Seq[(String, Key)] = {
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.filter { case (n, _) => only.forall(_(n)) }.sortBy(_._1)
  }

  /** Runs `body` for key `name` and says whether it completed. A throw
    * is logged to stderr under `tag` and its message is recorded in
    * `errors` unless the key already has one (the first failure is the
    * one reported): a failed key must surface as an error in the
    * artifacts, never as a timing or a missing entry.
    */
  def attempt(tag: String, name: String,
              errors: collection.mutable.Map[String, String])(body: => Any): Boolean =
    try { body; true }
    catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      System.err.println(s"[$tag] $name FAILED: $msg")
      errors.getOrElseUpdate(name, msg)
      false
    }

  /** Drops everything a finished key pinned. `clearCache` alone is not
    * enough: `localCheckpoint` blocks (the fixpoint loops' lineage cuts)
    * are pinned RDDs outside the catalog cache that die only when the
    * driver collects the RDD object, which under a large heap can be
    * never (an sf10 run measured later heavy keys inflated ~5× by that
    * residue). Once a key's action has completed every block is dead by
    * construction, so all of them go, and a GC hint lets the next key
    * start clean.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** JSON string literal: backslash, quote and every control character
    * (< 0x20) escaped, so a tab or CR in a message or in oracle SQL
    * cannot break the consumer's `json.load`.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
