package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** N-gram Jaccard pair scoring, two physical forms with identical output:
  *
  *  - [[pairwise]]: blocked all-pairs join + `array_intersect` per pair —
  *    simple, exact, right when blocks are small; the parity reference
  *    `NgramJaccardSpec` checks [[indexed]] against.
  *  - [[indexed]]: inverted-index form (the oracle-checked
  *    `q_ngram_jaccard_pairs` uses this form) — explode n-grams to postings,
  *    count shared grams per pair with one aggregation, left-join the
  *    counts back onto the (small) pair frame. At 10^12 docs this is the
  *    only viable shape: per-pair set intersection touches every n-gram
  *    of both documents per comparison (O(pairs × doc_len)), while the
  *    posting aggregation touches each n-gram occurrence once
  *    (O(corpus_len + shared_occurrences)). The pair frame itself is
  *    still all-pairs-per-block (quadratic in block size) — [[indexed]]
  *    is for blocked SCORING, and callers own keeping blocks bounded
  *    (thousands, not millions, of docs per block); unblocked near-dup
  *    detection at corpus scale is the LSH pipeline's job, not this.
  *
  * Both emit (doc_a, doc_b, inter_size, union_size) for every intra-block
  * pair, doc_a < doc_b, integers only.
  */
object NgramJaccard {

  /** Distinct word n-gram set of a text column (space tokenizer,
    * empty-token safe; mirrors the DuckDB oracle exactly). Round 6: one
    * codegen'd pass (graft.functions.WordNgrams) — the old higher-order
    * transform/concat_ws/array_distinct chain was CodegenFallback and
    * cost 4.6-6.8 s alone on q_ngram_jaccard_pairs' single sf0.1 scan
    * task (round-6 stage attribution, OPTIMIZATION_r06.md §1); identical
    * output incl. first-occurrence order and the "null text → empty
    * array" coalesce the `when` form had (parity-tested in
    * TextWindowExpressionsSpec). */
  def ngrams(text: Column, n: Int): Column =
    F.coalesce(graft.functions.wordNgrams(text, n),
      F.array().cast("array<string>"))

  private def prepared(docs: DataFrame, blockCol: String, n: Int): DataFrame =
    docs.select(F.col("doc_id"), F.col(blockCol).as("blk"),
      ngrams(F.col("text"), n).as("g"))
      .withColumn("ng", F.size(F.col("g")).cast("long"))

  /** All-pairs within block, per-pair set intersection. */
  def pairwise(docs: DataFrame, blockCol: String, n: Int): DataFrame = {
    val d = prepared(docs, blockCol, n)
    d.as("x").join(d.as("y"),
      F.col("x.blk") === F.col("y.blk") && F.col("x.doc_id") < F.col("y.doc_id"))
      .select(
        F.col("x.doc_id").as("doc_a"), F.col("y.doc_id").as("doc_b"),
        F.size(F.array_intersect(F.col("x.g"), F.col("y.g"))).cast("long").as("inter_size"),
        (F.col("x.ng") + F.col("y.ng")
          - F.size(F.array_intersect(F.col("x.g"), F.col("y.g")))).as("union_size"))
  }

  /** Inverted-index form: postings → per-gram member lists → pair counts
    * → join back onto the pair frame (pairs with zero overlap included
    * via left join).
    *
    * Round 6 (guide §2.3/§2.4): shared-gram pairs come from ONE
    * aggregation of the postings into per-(block, gram) doc-id lists plus
    * the engine's one pair expansion ([[graft.dedup.Lsh.memberPairs]]) — the
    * round-5 form SELF-JOINED the exploded postings on (blk, gram
    * string), which ran the n-gram explode twice and moved every gram
    * string through two join sides; now each posting crosses exactly one
    * exchange and the gram string ships once. Member lists are bounded by
    * block size — same block-bound caveat as the pair frame itself (this
    * operator scores CALLER-BOUNDED blocks; corpus-scale candidate
    * generation is the LSH pipeline's job). */
  def indexed(docs: DataFrame, blockCol: String, n: Int): DataFrame = {
    // consumed twice (postings + sizes); lineage-truncating checkpoint,
    // not a columnar persist (round 6) — the payload is gram STRING
    // arrays, the most expensive column shape the columnar cache can
    // encode; the checkpoint writes UnsafeRows once (memcpy) and both
    // consumers scan it. Eager: it is filled by its own job before the
    // two branches of the query's plan read it, not first-touched by
    // both of them at once.
    val d = prepared(docs, blockCol, n).localCheckpoint(true)
    val postings = d.select(F.col("blk"), F.col("doc_id"), F.explode(F.col("g")).as("t"))
    val groups = postings.groupBy("blk", "t")
      .agg(F.collect_list(F.col("doc_id")).as("members"))
      .where(F.size(F.col("members")) >= 2)
    val shared = graft.dedup.Lsh.memberPairs(groups, "a", "b")
      .where(F.col("a") < F.col("b"))
      .groupBy(F.col("a").as("doc_a"), F.col("b").as("doc_b"))
      .agg(F.count(F.lit(1)).as("inter_size"))
    val sizes = d.select("blk", "doc_id", "ng")
    val allPairs = sizes.as("x").join(sizes.as("y"),
      F.col("x.blk") === F.col("y.blk") && F.col("x.doc_id") < F.col("y.doc_id"))
      .select(F.col("x.doc_id").as("doc_a"), F.col("y.doc_id").as("doc_b"),
        F.col("x.ng").as("na"), F.col("y.ng").as("nb"))
    allPairs.join(shared, Seq("doc_a", "doc_b"), "left")
      .withColumn("inter_size", F.coalesce(F.col("inter_size"), F.lit(0L)))
      .select(F.col("doc_a"), F.col("doc_b"), F.col("inter_size"),
        (F.col("na") + F.col("nb") - F.col("inter_size")).as("union_size"))
  }
}
