package graft.examples

import graft.Sessions
import graft.dedup.{DedupConfig, ResumableDedupPipeline}
import graft.io.{StageStore, SyntheticCorpus}

/** Example / verification driver for the staged (resumable) pipeline.
  * Usage: sbt 'runMain graft.examples.ResumableDemo <storeDir> [nDocs]'
  * Run twice with the same storeDir: the second run reloads committed
  * stages (watch the RESUME lines).
  */
object ResumableDemo {
  def main(args: Array[String]): Unit = {
    val storeDir = args(0)
    val n = if (args.length > 1) args(1).toLong else 2000L
    val spark = Sessions.local(8, "graft-resumable-demo")

    val store = new StageStore(spark, storeDir)
    Seq("signatures", "scored", "substr_edges", "assign", "flags").foreach { s =>
      println(s"RESUME $s committed=${store.isCommitted(s)}")
    }
    val res = ResumableDedupPipeline.run(
      SyntheticCorpus.pages(spark, n),
      DedupConfig(allowedLangs = Some(Set("en"))), store)
    println(s"deduped=${res.deduped.count()} duplicates=${res.duplicates.count()} " +
      s"rejects=${res.rejects.count()}")
    println("lineage:")
    store.lineage().groupBy("stage").sum("row_count").orderBy("stage")
      .show(10, truncate = false)
    println("RESUMABLE-DEMO-DONE")
    Sessions.stop(spark)
  }
}
