package graft.examples
import graft.Sessions
/** Replicates the driver's smoke check: SparkEntry.entry(spark).count > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4, "graft-entry-smoke")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"ENTRY-ROWS=$n")
    Sessions.stop(spark)
  }
}
