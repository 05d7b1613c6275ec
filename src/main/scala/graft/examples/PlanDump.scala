package graft.examples

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.{Sessions, SparkEntry}

/** Dump formatted physical plans for the audit-relevant queries into
  * PLANS.md — the reviewable record of pushdown / pruning / broadcast /
  * partial-agg behavior (asserted mechanically in PlanAuditSpec).
  * Usage: sbt 'runMain graft.examples.PlanDump [sfDir]'
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(4, "graft-plan-dump")

    // All 26 queries, each with a one-line "why this is the right plan"
    // (round-5 verdict ask #2). Round-6 shape changes are marked [r6].
    val audited = Seq(
      "q1_agg" -> "filter pushdown to parquet (PushedFilters) + column pruning (ReadSchema: 5 of 11 cols)",
      "q_join_agg" -> "small dimension broadcast (BroadcastHashJoin) + partial/final HashAggregate",
      "q_anti_join" -> "left_anti join — the reference's final-emission semantics (dedup.py:779-797)",
      "q_semi_join" -> "left_semi join — the dup-only emission dual; no subquery re-scan",
      "q_sessionize" -> "lag + running-sum windows share ONE (user_id) sort/Exchange — no second shuffle",
      "q_events_agg" -> "partial/final HashAggregate; count(distinct) planned as the standard two-phase expand",
      "q_exact_dedup_groups" -> "map-side partial aggregation before the hash shuffle",
      "q_exact_dedup_kept" -> "same partial-agg shape keyed by text; winner = min(doc_id), ids-only output",
      "q_minhash_lsh_dedup" -> "[r6] codegen BandBuckets explode → bucket-size counts → 2..cap eligibility join (AQE broadcasts the small eligible set; no window sort, no eager probe job) → STACKED single-join verify, hash table built from the narrow pair frame (3 exchanges, was 7) → 2-exchange CC rounds; signature frame lineage-checkpointed, not columnar-persisted",
      "q_simhash_dup_pairs" -> "per-row Md5NgramSimHash signature (no gram explode, no per-bit aggregates) → eagerly checkpointed narrow (doc_id, sim) → pigeonhole chunk keys through Lsh.cappedGroups (map-side counts, 2..cap join back, collected chunk groups) → two-explode pair expansion + hamming filter + distinct; no chunk self-join",
      "q_ngram_jaccard_pairs" -> "[r6] codegen WordNgrams + postings groupBy into per-gram member lists + two-explode pair expansion — postings cross ONE exchange (was a postings self-join shipping gram strings twice); prepared gram table eagerly lineage-checkpointed, not columnar-persisted",
      "q_embedding_dedup" -> "[r6] codegen RhpBucket, bucketed members CACHED (was 4 full recomputes), broadcast eligibility, exact cosine verify via codegen DoubleDot",
      "q_embedding_top1" -> "[r6] blocked exact kNN: no LocalTableScan (no driver collect); blocks relation cached (q- and c-sides shared), cells cross-joined in mapPartitions",
      "q_ann_lsh_top1" -> "[r6] codegen RhpBucket buckets, members cached, broadcast count-filter cap, equi-join on (rep, bucket), codegen LongDot ranking, window top-k",
      "q_ann_ivf_top1" -> "[r6] IVF: broadcast codebook, narrow (vec_id,nd,cid) rank rows, broadcast cell eligibility, codegen LongDot scoring, window top-k",
      "q_cc_chain" -> "[r6] chain edges via one (source) window; CC rounds = large-star window + small-star groupBy/collect_set — 2 exchanges/round (was 3), multiset-sum convergence fingerprint",
      "q_token_stats" -> "pure projection: single scan, zero Exchange",
      "q_quality" -> "pure projection: single scan, zero Exchange (regexp + HOF quality metrics per row)",
      "q_window_quality" -> "[r6] per-row WindowedMinQuality expression: zero-Exchange projection (was posexplode + doc_id window shuffle + re-aggregation)",
      "q_langid" -> "pure projection: per-language regexp hit counts + argmax, zero Exchange",
      "q_fingerprint" -> "pure projection: md5 of normalized text, zero Exchange",
      "q_multimodal_meta" -> "mapPartitions batch decode shape (DeserializeToObject/MapPartitions/SerializeFromObject), single scan",
      "q_frame_sample" -> "mapPartitions frame slicing, one output row per 4 KiB chunk, single scan",
      "q_winnow_fingerprints" -> "[r6] per-row Md5WinnowedFingerprints + explode: zero-Exchange projection (was gram-position explode + doc_id windowed-min shuffle + distinct exchange)",
      "q_winnow_production" -> "production WinnowedFingerprints expression: zero-Exchange projection+explode over the pruned (doc_id, text) scan",
      "q_simhash_production" -> "production ShingleHashes→SimHash64 expression chain: zero-Exchange projection over the pruned scan")

    val md = new StringBuilder("# PLANS — formatted physical plans (audited)\n\n")
    md.append("Mechanical assertions over these properties live in " +
      "`src/test/scala/graft/PlanAuditSpec.scala`.\n")
    audited.foreach { case (name, why) =>
      val p = SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      md.append(s"\n## $name\n\n*audit: $why*\n\n```\n$p```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), md.toString)
    println(s"PLANS.md written (${audited.size} plans)")
    Sessions.stop(spark)
  }
}
