package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{functions => F}

class GraftFunctionsSpec extends SparkSpec {

  test("SQL-registered expressions match the Column API") {
    GraftFunctions.register(spark)
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text").createOrReplaceTempView("t")
    val viaSql = spark.sql(
      """SELECT minhash_signature(shingle_hashes(text, 3), 32) AS mh,
        |       simhash64(shingle_hashes(text, 3)) AS sh,
        |       size(winnowed_fingerprints(text, 12, 8)) AS nfp
        |FROM t""".stripMargin).head()
    val viaCol = spark.table("t").select(
      minhash(shingles(F.col("text"), 3), 32).as("mh"),
      simhash(shingles(F.col("text"), 3)).as("sh"),
      F.size(winnowedFingerprints(F.col("text"), 12, 8)).as("nfp")).head()
    assert(viaSql.getSeq[Long](0) === viaCol.getSeq[Long](0))
    assert(viaSql.getLong(1) === viaCol.getLong(1))
    assert(viaSql.getInt(2) === viaCol.getInt(2))
  }

  test("1-arg winnowed_fingerprints uses the pipeline's winnow sizes") {
    GraftFunctions.register(spark)
    val spark2 = spark
    import spark2.implicits._
    // long enough that windows of 64 and of 96 grams sample differently
    val text = (1 to 200).map(i => s"w${i * 7919 % 1000}").mkString(" ")
    Seq(text).toDF("text").createOrReplaceTempView("long_t")
    val cfg = graft.dedup.DedupConfig()
    val viaSql = spark.sql("SELECT winnowed_fingerprints(text) FROM long_t").head()
    val viaCol = spark.table("long_t").select(
      winnowedFingerprints(F.col("text"), cfg.winnowW, cfg.winnowWin, cfg.seed)).head()
    assert(viaSql.getSeq[Long](0).nonEmpty)
    assert(viaSql.getSeq[Long](0) === viaCol.getSeq[Long](0))
  }

  test("bad SQL arity / non-literal args fail with clear messages") {
    GraftFunctions.register(spark)
    val e1 = intercept[Exception](spark.sql("SELECT shingle_hashes()").collect())
    assert(e1.getMessage.contains("shingle_hashes"))
    val e2 = intercept[Exception](
      spark.sql("SELECT minhash_signature(array(1L), id) FROM range(1)").collect())
    assert(e2.getMessage.toLowerCase.contains("literal"))
  }
}
