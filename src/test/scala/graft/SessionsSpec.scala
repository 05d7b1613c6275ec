package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.dedup.{DedupConfig, DedupPipeline}
import graft.io.SyntheticCorpus

class SessionsSpec extends SparkSpec {

  test("warm flagship pass hits the codegen cache: the second run compiles at most 5 classes") {
    val pages = SyntheticCorpus.pages(spark, 400)
    val cfg = DedupConfig(allowedLangs = Some(Set("en")))
    // JVM-wide counter: one per class compiled. The forked test JVM runs
    // suites one at a time, so the delta is this run's own.
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val before = compiles()
      val r = DedupPipeline.run(pages, cfg)
      Seq(r.flagged, r.deduped, r.duplicates, r.clusters, r.nearMisses, r.rejects, r.metrics)
        .foreach(_.write.format("noop").mode("overwrite").save())
      r.cleanup()
      compiles() - before
    }
    val first = pass()
    val second = pass()
    info(s"codegen compiles: first run $first, second run $second")
    assert(second <= 5, s"second run compiled $second classes (first $first)")
  }
}
