package graft

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s record and session handling, without timing anything:
  * the summary of fixed samples, the rendered bench.json's key set, and
  * the session helper's stop on a failed block. */
class BenchSpec extends AnyFunSuite {
  import Bench._

  private val docs = 120000L
  private def small(wall: Double, at: Double) = RunSample(small = true, docs, wall, 0.0, at)
  private def big(wall: Double, at: Double, spill: Double = 0.0) =
    RunSample(small = false, docs, wall, spill, at)

  test("summary: min, median and spread per level; efficiency from the min walls") {
    val runs = Seq(small(80, 10), big(40, 100, spill = 5), big(30, 150, spill = 7), small(90, 200))
    val s = summarize(runs)
    assert(s.small === Some(LevelStats(min = 80, median = 85, spread = 10, spill = 0)))
    // the spill is the min-wall run's
    assert(s.big === Some(LevelStats(min = 30, median = 35, spread = 10, spill = 7)))
    assert(s.timedPairs === 2)
    assert(s.efficiency === 80.0 / 30.0 / 4)
  }

  test("summary: the guard skipped B2 — one pair, a one-sample big level") {
    val s = summarize(Seq(small(80, 10), big(40, 100), small(70, 200)))
    assert(s.small === Some(LevelStats(70, 75, 10, 0)))
    assert(s.big === Some(LevelStats(40, 40, 0, 0)))
    assert(s.timedPairs === 1)
    assert(s.efficiency === 70.0 / 40.0 / 4)
  }

  test("summary: a level with no sample has no efficiency") {
    val s = summarize(Seq(small(80, 10)))
    assert(s.big === None && s.timedPairs === 0 && s.efficiency === -1.0)
    assert(summarize(Nil) === Summary(None, None, 0, -1.0))
  }

  private def keyPaths(n: JsonNode, prefix: String = ""): Set[String] =
    n.fieldNames().asScala.toSet.flatMap { (k: String) =>
      val p = prefix + k
      keyPaths(n.get(k), p + ".") + p
    }

  test("rendered bench.json has the committed bench.json's key set, nested keys included") {
    val mapper = new ObjectMapper
    val committed = mapper.readTree(new File("bench.json"))
    val queries = committed.get("queries").fieldNames().asScala.toSeq.map(_ -> 0.5)
    val runDocs = committed.get("scaling").get("pipeline_docs").asLong
    val runs = Seq(small(80, 10), big(40, 100), big(30, 150), small(90, 200))
      .map(_.copy(docs = runDocs))
    val rec = Record("/data/sf0.1", 4, queries, 20.0, runDocs, runs, "cluster", 8192,
      400.0, 60.0, StageKeys.map { case (_, k) => (k, 2.0, 1.0) })
    val rendered = mapper.readTree(rec.json)
    assert(keyPaths(rendered) === keyPaths(committed))
    assert(rendered.get("scaling").get("scaling_efficiency").asDouble === 0.667)
    assert(rendered.get("scaling").get("timed_pairs").asInt === 2)
  }

  test("withSession: a body that throws leaves no session; the next one has its own width") {
    // start from no session, so the one opened below is the helper's own
    SparkSession.getDefaultSession.foreach(Sessions.stop)
    intercept[IllegalStateException] {
      withSession(Sessions.local(1, "bench-spec-failed-block")) { s =>
        assert(s.sparkContext.master === "local[1]")
        throw new IllegalStateException("failed block")
      }
    }
    assert(SparkSession.getActiveSession.isEmpty)
    assert(SparkSession.getDefaultSession.isEmpty)
    val next = Sessions.local(2, "bench-spec-next-block")
    try assert(next.sparkContext.master === "local[2]")
    finally Sessions.stop(next)
  }
}
