package graft.examples

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.Sessions
import graft.streaming.StreamingDedup

/** Example / verification driver: file-source streaming dedup.
  * Drops JSON doc files into a watched directory, runs the watermarked
  * dedup stream, prints survivors per micro-batch.
  * Usage: sbt 'runMain graft.examples.StreamingDemo <workDir>'
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft-stream-demo")
    val in = s"$work/in"
    Files.createDirectories(Paths.get(in))
    val spark = Sessions.local(4, "graft-streaming-demo")

    val schema = StructType(Seq(
      StructField("url", StringType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    val docs = spark.readStream.schema(schema).json(in)
    val q = StreamingDedup.dedupStream(docs, "ts", "10 minutes")
      .select("url")
      .writeStream.format("memory").queryName("demo_out")
      .outputMode("append").start()

    def drop(name: String, rows: String*): Unit = {
      Files.writeString(Paths.get(s"$in/$name.json"), rows.mkString("\n"))
      q.processAllAvailable()
      val kept = spark.table("demo_out").collect().map(_.getString(0)).sorted
      println(s"AFTER $name kept=${kept.mkString(",")}")
    }

    drop("b1",
      """{"url":"u1","text":"alpha bravo charlie","ts":"2024-01-01T00:00:00Z"}""",
      """{"url":"u2","text":"delta echo foxtrot","ts":"2024-01-01T00:01:00Z"}""")
    drop("b2",
      """{"url":"u3","text":"ALPHA   bravo charlie","ts":"2024-01-01T00:02:00Z"}""", // normalized dup of u1
      """{"url":"u4","text":"golf hotel india","ts":"2024-01-01T00:03:00Z"}""")
    q.stop()

    // keyed near-dup stream on a second watched directory: ids-only
    // bucket state + doc_id-keyed signature joins, cross-band dedup
    // chained (one emission per pair), the correctness-check escape
    // hatch scoped to THIS query start and restored after
    val in2 = s"$work/in2"
    Files.createDirectories(Paths.get(in2))
    val docs2 = spark.readStream.schema(schema).json(in2)
    val cfg = graft.dedup.DedupConfig(allowedLangs = None)
    val q2 = StreamingDedup.withStatefulCheckDisabled(spark) {
      StreamingDedup.distinctPairs(
        StreamingDedup.nearDupPairsStreamKeyed(docs2, "ts", "30 minutes", cfg))
        .writeStream.format("memory").queryName("near_demo_out")
        .outputMode("append").start()
    }
    def page(id: Long): graft.io.SyntheticPage = graft.io.SyntheticCorpus.pageAt(42L, id)
    def dropNear(name: String, ids: (Long, String)*): Unit = {
      val rows = ids.map { case (id, ts) =>
        val p = page(id)
        s"""{"url":"${p.url}","text":"${p.text.replace("\"", "")}","ts":"$ts"}"""
      }
      Files.writeString(Paths.get(s"$in2/$name.json"), rows.mkString("\n"))
      q2.processAllAvailable()
      println(s"NEAR-AFTER $name pairs=${spark.table("near_demo_out").count()}")
    }
    dropNear("n1", 11L -> "2024-01-01T00:00:00Z", 13L -> "2024-01-01T00:01:00Z")
    dropNear("n2", 16L -> "2024-01-01T00:03:00Z", 14L -> "2024-01-01T00:04:00Z")
    q2.stop()
    // distinctPairs folded the cross-band dedup into the query: emission
    // count IS the pair count
    val nearPairs = spark.table("near_demo_out").count()
    println(s"NEAR-PAIRS-FOUND=$nearPairs (expect 2: 11~16 near, 13~14 exact)")

    // probe: the same operator on a BATCH frame must fail loudly, not
    // silently no-op
    try {
      StreamingDedup.dedupStream(
        spark.read.schema(schema).json(in), "ts", "10 minutes").count()
      println("BATCH-PROBE: no error (unexpected)")
    } catch {
      case e: Exception => println("BATCH-PROBE-ERR: " + e.getMessage.takeWhile(_ != '\n'))
    }
    println("STREAMING-DEMO-DONE")
    Sessions.stop(spark)
  }
}
