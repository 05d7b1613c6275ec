package graft

import org.apache.spark.sql.SparkSession

/** The one definition of the Spark session graft's mains, `Bench`'s
  * levels and the test base run in: `local[cores]`, UI off, UTC session
  * time zone, `max(cores, 8)` shuffle partitions, WARN logging, and a
  * codegen class cache that holds a whole flagship pass. Callers that need
  * settings of their own pass them as `conf`; they override the defaults
  * (a `spark.master` entry replaces `local[cores]`).
  */
object Sessions {

  /** `spark.sql.codegen.cache.maxEntries`. Spark keeps compiled classes in
    * one JVM-wide LRU cache of this many entries (default 100). One
    * flagship pass over 6,000 synthetic pages compiles 234 distinct
    * classes, so at 100 the LRU evicts each class before its reuse and
    * every warm pass recompiles about 237; at 2,000 warm passes compile
    * 0–4. The first pass of the 26 queries (sf0.001, then sf0.1) plus one
    * flagship pass compile 527 distinct classes in one JVM; 2,000 leaves
    * headroom. The setting is static: it is read once per JVM, when the
    * first query compiles, so the first session in a JVM fixes it. */
  val CodegenCacheEntries = 2000

  def local(cores: Int, app: String, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Stops `spark` and clears the active and default sessions, so the
    * next `local` builds a fresh one. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
