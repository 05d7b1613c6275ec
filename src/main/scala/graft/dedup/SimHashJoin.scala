package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import graft.functions.hammingDistance

/** Scalable SimHash near-duplicate join: all pairs with
  * popcount(sim_a ^ sim_b) ≤ maxHamming.
  *
  * Pigeonhole multi-index (the standard Manku/Jain/Sarma WWW'07 layout):
  * split the 64-bit fingerprint into `maxHamming + 1` chunks — any pair
  * within the Hamming budget must agree EXACTLY on at least one chunk, so
  * grouping by (chunk index, chunk value) finds every qualifying pair
  * with zero probability of a miss; `bit_count(xor)` then verifies
  * exactly. The chunk keys go through the engine's one hot-key form
  * ([[Lsh.cappedGroups]], capped at `maxChunkPostings`): sizes counted
  * map-side first, then each key of 2..cap postings collected into one
  * member list and expanded into pairs by [[Lsh.memberPairs]] — no
  * self-join, and a boilerplate fingerprint's chunk never co-locates.
  *
  * This is the web-scale form of the reference's Hamming-distance-ladder
  * tolerant match (reference/dupliganger/dedup.py:230-269): there, 96
  * whitelist UMIs allowed a brute-force scan per record; 10^12 documents
  * do not.
  */
object SimHashJoin {

  /** @param sigs DataFrame with (idCol: long, simCol: long)
    * @return (id_a, id_b, hamming) with id_a < id_b, hamming ≤ maxHamming */
  def nearPairs(sigs: DataFrame, maxHamming: Int,
                idCol: String = "doc_id", simCol: String = "sim",
                maxChunkPostings: Long = 100000L): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15, s"maxHamming in [0,15], got $maxHamming")
    val chunks = maxHamming + 1
    val width = 64 / chunks
    val chunked = sigs.where(F.col(simCol).isNotNull).select(
      F.col(idCol).as("id"), F.col(simCol).as("sim"),
      F.posexplode(F.array((0 until chunks).map { c =>
        // chunk c = bits [c*width, (c+1)*width) (last chunk takes the rest)
        val lo = c * width
        val w = if (c == chunks - 1) 64 - lo else width
        F.shiftrightunsigned(F.col(simCol), lo)
          .bitwiseAND(F.lit(if (w == 64) -1L else (1L << w) - 1L))
      }: _*)).as(Seq("chunk_idx", "chunk_val")))
    val (groups, _) = Lsh.cappedGroups(chunked, Seq("chunk_idx", "chunk_val"),
      F.struct(F.col("id"), F.col("sim")), maxChunkPostings)
    Lsh.memberPairs(groups)
      .where(F.col("x.id") < F.col("y.id"))
      .select(F.col("x.id").as("id_a"), F.col("y.id").as("id_b"),
        hammingDistance(F.col("x.sim"), F.col("y.sim")).as("hamming"))
      .where(F.col("hamming") <= maxHamming)
      .distinct()
  }
}
