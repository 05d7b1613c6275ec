package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** The window and salted hot-key formulations that the engine shipped
  * beside [[Lsh.cappedGroups]] before that became its one form, kept as
  * test references with the same contract: (groups, overflow), where
  * groups holds `key` and `members` (the collected `member` values) for
  * every key held by 2..cap rows, and overflow is one row
  * (overflow_buckets, overflow_rows) counting the keys over the cap and
  * their rows.
  *
  *  - window: a window count over `key` tags every row with its key's
  *    size; the 2..cap filter, the overflow count and the collect_list
  *    all read that tag.
  *  - salted: sizes counted per (key, salt) first and rolled up per key;
  *    the eligible keys are joined back with a shuffle-hash hint. */
object HotKeyForms {

  type Form = (DataFrame, String, Column, Int) => (DataFrame, DataFrame)

  private def overflowOf(sizes: DataFrame, n: String): DataFrame =
    sizes.agg(
      F.coalesce(F.count(F.lit(1)), F.lit(0L)).as("overflow_buckets"),
      F.coalesce(F.sum(n), F.lit(0L)).as("overflow_rows"))

  val window: Form = (rows, key, member, cap) => {
    val tagged = rows.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy(key)))
    val overflow = overflowOf(
      tagged.where(F.col("n") > cap).groupBy(key).agg(F.first("n").as("n")), "n")
    val groups = tagged.where(F.col("n").between(2, cap))
      .groupBy(key).agg(F.collect_list(member).as("members"))
    (groups, overflow)
  }

  val salted: Form = (rows, key, member, cap) => {
    val sizes = rows.withColumn("salt", F.pmod(F.xxhash64(member), F.lit(64)))
      .groupBy(key, "salt").count()
      .groupBy(key).agg(F.sum("count").as("n"))
    val overflow = overflowOf(sizes.where(F.col("n") > cap), "n")
    val eligible = sizes.where(F.col("n").between(2, cap)).select(key)
    val groups = rows.join(eligible.hint("shuffle_hash"), Seq(key))
      .groupBy(key).agg(F.collect_list(member).as("members"))
    (groups, overflow)
  }
}
