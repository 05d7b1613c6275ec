package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  private var current: SparkSession = _

  /** The shared session, rebuilt when a spec that stops sessions (see
    * `BenchSpec`) has stopped it. */
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped)
      current = Sessions.local(4, "graft-test")
    current
  }
}
