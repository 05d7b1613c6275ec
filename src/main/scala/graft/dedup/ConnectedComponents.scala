package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.{functions => F}

/** Distributed union-find: connected components over an undirected edge
  * list. A union-find per partition contracts the edges first; the
  * alternating large-star / small-star rounds (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14) then run only on what
  * the contraction left, and not at all when one partition saw every
  * edge.
  *
  * This is the engine's re-expression of the reference's `put_dup_groups`
  * group-merging kernel (reference/dupliganger/dedup.py:483-522). There, a
  * record belongs to exactly one signature bucket, so a merge across
  * existing groups is an error path; here a document lands in MANY LSH
  * band buckets, so cross-bucket merging is the norm and needs a real
  * union-find at shuffle scale.
  *
  * Scale design:
  *  - Contraction: after the canonical-orientation `distinct`, every
  *    partition runs an in-memory union-find over its edges (Dataset
  *    `mapPartitions`) and emits (node, min id of its local component) for
  *    every node it saw. A task's union-find state is bounded by the
  *    distinct nodes of one partition of the `distinct`'s exchange: AQE
  *    coalesces the hash partitions only up to its advisory partition
  *    size, so the state is one AQE-sized partition's worth, and a larger
  *    graph needs more `spark.sql.shuffle.partitions`, like every other
  *    shuffle in the engine. Local trees link the larger root under the
  *    smaller (so a root is its tree's min id) and `find` halves paths,
  *    which keeps finds amortized O(log n) in a skewed, hub-heavy
  *    component too — the balanced-tree concern of BTS (ICDE 2024,
  *    load-balanced distributed union-find).
  *  - One partition: AQE coalesces a small edge set into one partition,
  *    so one union-find saw every edge and the contraction is already the
  *    exact answer. It is returned with no star round, no node `distinct`
  *    and no final join: two Spark jobs (the `distinct`'s exchange and
  *    the checkpoint fill) whatever the graph's depth.
  *  - More than one partition: the contracted edges (child -> local root)
  *    go through star rounds. Every round is TWO shuffles on the node id
  *    (the large-star window + the small-star groupBy) — no driver-side
  *    state, no collect. A node has at most one contracted edge per
  *    partition that saw it.
  *  - `localCheckpoint` after the contraction and after every round
  *    truncates lineage, otherwise the iterative plan grows exponentially
  *    and the optimizer chokes.
  *  - Convergence test = count + order-independent decimal-sum multiset
  *    fingerprint of the round's emitted edges (one cheap job per round
  *    that doubles as the round's materializing action), not DataFrame
  *    equality.
  *  - Star-skew note (honest bound): BOTH star halves co-locate each
  *    hub's incident rows in one task — the large-star unbounded window
  *    buffers the hub's partition frame, and the small-star collect_set
  *    holds the hub's distinct small-neighbor set. That is the canonical
  *    MapReduce formulation's reduce-side bound (Kiveris et al. ship each
  *    node's neighborhood to one reducer), not a regression vs it: a
  *    mega-component's star round serializes its hub either way. A
  *    groupBy+join-back alternative would co-locate identically for the
  *    aggregation and could only shed the join-back via AQE skew-join
  *    splitting — which never applies to the aggregation itself (AQE
  *    splits joins, not aggregates/windows), so it buys one split join at
  *    the price of a third full-volume exchange per round.
  */
object ConnectedComponents {

  /** @param edges DataFrame with two LongType columns (src, dst) — column
    *              names are positional; self-loops and duplicates are fine.
    * @param maxIterations cap on star rounds (≥ 1). The round signature is
    *              seeded with the contraction's own, so a contraction that
    *              is already a star forest is confirmed by one round.
    * @return DataFrame (id: long, component: long) — every node that
    *         appears in `edges`, component = min node id of its component.
    */
  def run(edges: DataFrame, maxIterations: Int = 50): DataFrame = {
    require(maxIterations >= 1, s"maxIterations must be >= 1, got $maxIterations")
    val contracted = contract(edges)
    if (contracted.rdd.getNumPartitions > 1) starRounds(contracted, maxIterations)
    else {
      // One union-find saw every edge: the contraction is the exact
      // answer. One job fills its checkpoint, so callers get a
      // materialized frame either way.
      contracted.foreachPartition((rows: Iterator[Row]) => rows.foreach(_ => ()))
      contracted.toDF("id", "component")
    }
  }

  /** Large-star / small-star rounds over a [[contract]]ion whose edges
    * were spread over more than one partition, then every node's
    * component. */
  private def starRounds(contracted: DataFrame, maxIterations: Int): DataFrame = {
    val spark = contracted.sparkSession
    import spark.implicits._

    // Star rounds on the contracted edges. Convergence signature:
    // (count, Σ xxhash64(u,v) as DECIMAL(38,0)) over each round's EMITTED
    // edge stream — a MULTISET fingerprint (decimal sum: exact,
    // order-independent, and immune to the ANSI overflow that a wrapping
    // BIGINT sum would throw). A round is a deterministic function of its
    // input multiset, so an output equal to the input is a fixpoint. The
    // seed is the contraction's own signature, taken by the job that
    // materializes its checkpoint, so a contraction that is already a
    // star forest is confirmed after ONE round; each later signature is
    // likewise the action that materializes its round's checkpoint, so a
    // round costs one driver round-trip (checking every round beat
    // batching rounds between checks in the round-5 history: extra full
    // star rounds past the fixpoint cost ~2× the saved round-trips).
    //
    // Round shape: the lazy localCheckpoint sits on the GROUPED
    // small-star frame (hub → distinct small-neighbor set), not on the
    // exploded edge list; the edge list the next large-star consumes is a
    // narrow explode over it (recomputed from the checkpoint per
    // reference, no shuffle). The exploded stream may carry cross-hub
    // duplicate (v, m) rows — and the contraction may carry the same
    // (child, root) edge from two partitions — both stars tolerate
    // duplicate input rows (large-star windows over them; small-star's
    // collect_set re-dedupes map-side). At the star fixpoint the emitted
    // stream has no duplicates — every child is one hub with a
    // single-element set, and no root has an outgoing edge.
    var cur = contracted.where($"u" =!= $"v")
    var lastSig = signatureOfEdges(cur) // materializes the contraction
    var curCp: Option[DataFrame] = None // the frame holding the round's persist handle
    var converged = lastSig._1 == 0L // no edge left: every node is its own root
    var iter = 0
    while (!converged && iter < maxIterations) {
      val grouped = smallStarGrouped(largeStar(cur)).localCheckpoint(false)
      cur = emitEdges(grouped)
      val sig = signatureOfEdges(cur) // materializes the checkpoint
      curCp.foreach(_.unpersist(false))
      curCp = Some(grouped)
      converged = sig == lastSig || sig._1 == 0L // unchanged multiset, or no edges
      lastSig = sig
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIterations rounds")

    // At fixpoint every edge is (child -> root). Nodes absent from the edge
    // list (roots, and nodes seen only in self-loops) map to themselves.
    val assign = cur.select($"u".as("id"), $"v".as("component"))
    contracted.select($"u".as("id")).distinct()
      .join(assign, Seq("id"), "left")
      .select($"id", F.coalesce($"component", $"id").as("component"))
      .localCheckpoint(true)
  }

  /** The contraction: (node, local root) for every node in `edges`,
    * lazily localCheckpointed. Canonical edge orientation (big, small),
    * then `distinct`, then one union-find per partition. Self-loops stay,
    * so a node seen only in a self-loop still reaches a union-find and
    * the output. Creating the lazy checkpoint runs the distinct's
    * exchange (AQE plans the final stage), which fixes the partition
    * count; the rows materialize on the first action over the frame. */
  private[dedup] def contract(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.toDF("u", "v").where($"u".isNotNull && $"v".isNotNull)
      .select(F.greatest($"u", $"v").as("u"), F.least($"u", $"v").as("v"))
      .distinct()
      .as[(Long, Long)].mapPartitions(localRoots)
      .toDF("u", "v")
      .localCheckpoint(false)
  }

  /** Union-find over one partition's edges: (node, min id of its local
    * component) for every node the partition saw. The larger root links
    * under the smaller, so every root is its tree's min id; `find` halves
    * paths as it walks. */
  private def localRoots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var c = x
      var p = parent(c)
      while (p != c) {
        val g = parent(p)
        parent(c) = g
        c = g
        p = parent(c)
      }
      c
    }
    edges.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    // keys snapshotted first: find rewrites the map while rows stream out
    parent.keysIterator.toArray.iterator.map(x => (x, find(x)))
  }

  /** GraphX connected components — the one place BASELINE.json permits an
    * RDD ("no RDD fallback except where union-find iteration forces it").
    * Same contract as [[run]], and GraphX's component id is the min vertex
    * id too, so the two outputs are directly comparable. Nothing on the
    * engine's path calls it; it stays as the independent parity reference
    * for [[run]] (LshSpec, FlagshipDemo). */
  def runGraphX(edges: DataFrame): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    val spark = edges.sparkSession
    import spark.implicits._
    val in = edges.toDF("u", "v").where($"u".isNotNull && $"v".isNotNull)
    val edgeRdd = in.as[(Long, Long)].rdd.map { case (u, v) => Edge(u, v, ()) }
    val graph = Graph.fromEdges(edgeRdd, ())
    val cc = org.apache.spark.graphx.lib.ConnectedComponents.run(graph)
    cc.vertices.toDF("id", "component")
  }

  /** large-star: for every node u, connect every strictly-larger neighbor
    * to the minimum of u's neighborhood (including u itself).
    *
    * Window form, not groupBy(min)+join-back: the join would reshuffle
    * the symmetric edge list on u anyway — co-locating every hub's rows
    * in one task exactly like the window does — so the separate min
    * aggregation bought no skew protection, only a second full-volume
    * exchange and a join. One unbounded window min per round halves the
    * round's exchanges (the serial-floor term of the CC loop at small
    * edge volumes, and a full shuffle of the edge set saved per round at
    * 10^12 edges). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
    val sym = edges.select($"u", $"v")
      .union(edges.select($"v".as("u"), $"u".as("v")))
    sym.withColumn("m", F.least($"u", F.min($"v").over(w)))
      .where($"v" > $"u")
      .select($"v".as("u"), $"m".as("v"))
      .where($"u" =!= $"v")
    // no distinct here: duplicates are tolerated by small-star and removed
    // by its distinct — saves one shuffle per round
  }

  /** small-star, grouped form: orient edges big->small, aggregate each
    * hub's DISTINCT small neighbors into one set row
    * (u, vs, m = min(vs)). One exchange, and the groupBy's map-side
    * partial collect_set dedupes before the shuffle — the old window +
    * explode + distinct form paid a second full exchange just to
    * de-duplicate its output. Large-star output is always oriented
    * big->small already (m ≤ hub < emitted node), so the greatest/least
    * projection is a no-op there — kept for arbitrary first-round
    * inputs. */
  private def smallStarGrouped(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(F.greatest($"u", $"v").as("u"), F.least($"u", $"v").as("v"))
      .groupBy($"u").agg(F.collect_set($"v").as("vs"))
      .select($"u", $"vs", F.array_min($"vs").as("m"))
  }

  /** The small-star edges of a [[smallStarGrouped]] frame: every neighbor
    * (and the hub) connects to the neighborhood min — (x, m) for
    * x ∈ {u} ∪ vs, self-loops dropped. Narrow explode over the round's
    * checkpoint; may carry cross-hub duplicate rows (two hubs emitting
    * the same (v, m)) — tolerated by both stars, re-deduped by the next
    * round's collect_set. */
  private def emitEdges(grouped: DataFrame): DataFrame = {
    val spark = grouped.sparkSession
    import spark.implicits._
    grouped.select(F.explode(F.concat(F.array($"u"), $"vs")).as("x"), $"m")
      .where($"x" =!= $"m")
      .select($"x".as("u"), $"m".as("v"))
  }

  /** Order-independent MULTISET fingerprint of an edge stream:
    * (count, Σ xxhash64(u, v) as DECIMAL(38,0)) — the decimal sum cannot
    * overflow below ~5·10^18 rows and is exempt from ANSI integral
    * overflow checking; duplicates shift the sum instead of cancelling
    * the way xor pairs would. One cheap codegen'd job that doubles as the
    * round checkpoint's materializing action. */
  private def signatureOfEdges(edges: DataFrame): (Long, java.math.BigDecimal) = {
    val zero = F.lit(0).cast("decimal(38,0)")
    val row = edges
      .select(F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)").as("h"))
      .agg(F.count(F.lit(1)).as("c"), F.coalesce(F.sum(F.col("h")), zero).as("s"))
      .head()
    (row.getLong(0), row.getDecimal(1))
  }
}
