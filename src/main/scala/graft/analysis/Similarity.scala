package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** Embedding similarity search over `array<float>` columns, three layouts:
  *
  *  - [[bruteForceTopK]] / [[nearDupPairs]]: collect+broadcast exact scan —
  *    the SPEC ORACLE only (driver-side collect caps it at what one
  *    executor holds); production queries must not route through these.
  *  - [[blockedTopK]]: exact top-k with both sides blocked — the
  *    distributed exact layout. No collect, no full broadcast; shuffle
  *    volume O(numBlocks · n) and per-task memory O(n / numBlocks).
  *  - [[lshTopK]] / [[nearDupPairsBucketed]]: random-hyperplane bucketed —
  *    the 10^12-row path. Buckets come from INTEGER arithmetic (Lehmer LCG
  *    signs × quantized components), so a bucket id is bit-identically
  *    replayable in any SQL engine — that is what makes the ANN queries
  *    oracle-checkable in DuckDB. Hot buckets are counted and dropped
  *    BEFORE any member list or join materializes (same count-filter-join
  *    discipline as graft.dedup.Lsh), so a degenerate embedding cluster
  *    (boilerplate pages, near-zero vectors) costs a counter, not a
  *    quadratic task. Multi-probe = union over `probes` independent plane
  *    sets, lifting recall at linear cost.
  *
  * All scoring math uses built-in higher-order functions or tight
  * primitive loops inside mapPartitions — no UDF objects in the hot path.
  */
object Similarity {

  /** Dot product of two array<float|double> columns (double). Codegen'd
    * primitive loop (graft.functions.DoubleDot) — the previous
    * `aggregate(zip_with(...))` higher-order form is CodegenFallback,
    * i.e. interpreted per row, and dominated the ANN scoring joins;
    * bit-identical fold order (parity: VectorExpressionsSpec). */
  def dot(a: Column, b: Column): Column = graft.functions.doubleDot(a, b)

  def norm(a: Column): Column = F.sqrt(dot(a, a))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Normalize input: vec_id, emb (array<double>), nrm. */
  def prepared(embeddings: DataFrame, idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame = {
    val emb = F.transform(F.col(embCol), _.cast("double"))
    embeddings.select(F.col(idCol), emb.as("emb"))
      .withColumn("nrm", norm(F.col("emb")))
      .where(F.col("nrm") > 0)
  }

  /** Exact brute-force top-k nearest neighbors by cosine.
    * Output: vec_id, rank (1..k), nn_id. Ties broken by cos desc, nn_id
    * ascending — fully deterministic.
    *
    * SPEC ORACLE ONLY: the candidate side is collected to the driver and
    * broadcast as one dense primitive matrix (envelope: n·dim·8 bytes on
    * one host). The production exact layout is [[blockedTopK]]; the
    * production approximate layout is [[lshTopK]]. */
  def bruteForceTopK(embeddings: DataFrame, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = prepared(embeddings)
      .select(F.col("vec_id"),
        F.transform(F.col("emb"), x => x / F.col("nrm")).as("unit"))
      .as[(Long, Array[Double])]
    val all = e.collectAsList() // candidate side; see scale envelope above
    val ids = new Array[Long](all.size)
    val mat = new Array[Array[Double]](all.size)
    var i = 0
    while (i < all.size) { ids(i) = all.get(i)._1; mat(i) = all.get(i)._2; i += 1 }
    val bcIds = spark.sparkContext.broadcast(ids)
    val bcMat = spark.sparkContext.broadcast(mat)

    e.mapPartitions { it =>
      val cids = bcIds.value; val cmat = bcMat.value
      val n = cids.length
      it.flatMap { case (qid, q) =>
        val (topCos, topId, found) = topKScan(q, qid, cids, cmat, k)
        (0 until found).iterator.map(r => (qid, (r + 1).toLong, topId(r)))
      }
    }.toDF("vec_id", "rank", "nn_id")
  }

  /** Running top-k selection scan of `q` against a candidate block
    * (insertion into a length-k ladder; ties broken by smaller id).
    * Returns (cos ladder, id ladder, slots filled). */
  private def topKScan(q: Array[Double], qid: Long,
                       cids: Array[Long], cmat: Array[Array[Double]],
                       k: Int): (Array[Double], Array[Long], Int) = {
    val topCos = Array.fill(k)(Double.NegativeInfinity)
    val topId = new Array[Long](k)
    var found = 0
    var j = 0
    val n = cids.length
    while (j < n) {
      if (cids(j) != qid) {
        val row = cmat(j)
        var d = 0.0
        var t = 0
        while (t < row.length) { d += q(t) * row(t); t += 1 }
        if (d > topCos(k - 1) ||
          (d == topCos(k - 1) && (found < k || cids(j) < topId(k - 1)))) {
          var pos = math.min(found, k - 1)
          while (pos > 0 && (d > topCos(pos - 1) ||
            (d == topCos(pos - 1) && cids(j) < topId(pos - 1)))) {
            topCos(pos) = topCos(pos - 1); topId(pos) = topId(pos - 1); pos -= 1
          }
          topCos(pos) = d; topId(pos) = cids(j)
          if (found < k) found += 1
        }
      }
      j += 1
    }
    (topCos, topId, found)
  }

  /** Exact distributed top-k: both sides split into `numBlocks` hash
    * blocks; every (query block × candidate block) cell is one task
    * scanning two primitive arrays; per-query candidates (k per cell) are
    * merged by a window. Identical output to [[bruteForceTopK]] (same
    * dot-product fold order, same tie rule), but no driver collect and no
    * whole-set broadcast: shuffle volume O(numBlocks · n · dim), per-task
    * memory O(n / numBlocks · dim) — pick numBlocks so a block fits a
    * task. The LAYOUT is corpus-size-safe, but exact kNN is inherently
    * O(n²·dim) total work: it stays viable only until the numBlocks²
    * cell scans dominate the cluster; past that, [[lshTopK]] / [[ivfTopK]]
    * are the scale answers and this is their recall oracle. */
  def blockedTopK(embeddings: DataFrame, k: Int, numBlocks: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val unit = prepared(embeddings)
      .select(F.col("vec_id"),
        F.transform(F.col("emb"), x => x / F.col("nrm")).as("unit"))
      .withColumn("blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(numBlocks)))
    // cached: the query and candidate sides of the cell cross-join are the
    // SAME numBlocks-row relation — uncached, the scan + unit projection +
    // collect_list aggregation ran twice (round-6 fix; guide §2.4)
    val blocks = graft.Caches.truncate(unit.groupBy("blk")
      .agg(F.collect_list(F.struct(F.col("vec_id"), F.col("unit"))).as("rows")))
    val qSide = blocks.select(F.col("rows").as("qrows"))
    val cSide = blocks.select(F.col("rows").as("crows"))
    val cells = qSide.crossJoin(cSide)
      .as[(Seq[(Long, Array[Double])], Seq[(Long, Array[Double])])]
    val partial = cells.flatMap { case (qs, cs) =>
      val cids = new Array[Long](cs.size)
      val cmat = new Array[Array[Double]](cs.size)
      var i = 0
      cs.foreach { c => cids(i) = c._1; cmat(i) = c._2; i += 1 }
      qs.iterator.flatMap { case (qid, q) =>
        val (topCos, topId, found) = topKScan(q, qid, cids, cmat, k)
        (0 until found).iterator.map(r => (qid, topId(r), topCos(r)))
      }
    }.toDF("vec_id", "nn_id", "cos")
    val w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc, F.col("nn_id"))
    partial.withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= k)
      .select(F.col("vec_id"), F.col("rank").cast("long").as("rank"), F.col("nn_id"))
  }

  // ------------------------------------------------- integer RHP bucketing
  //
  // Round 6: the per-plane hashSign/aggregate column stacks moved into
  // codegen'd Catalyst expressions (graft.functions.RhpBucket /
  // QuantizedVec / QuantizedUnitVec / LongDot — same 31-bit-lane
  // arithmetic, same IEEE quantization, parity-tested bit-for-bit in
  // VectorExpressionsSpec). The HOF stacks were CodegenFallback:
  // every component of every row walked an interpreted expression tree,
  // and on the candidate-scoring joins that interpretation — not the
  // shuffles — was the dominant cost. The SQL-oracle replays are
  // unchanged (identical arithmetic, identical values).

  /** Components quantized to integer micro-units: floor(x·10^6 + 0.5) is
    * the same IEEE expression in every engine, so the quantized vector —
    * and everything derived from it — is bit-identical cross-engine. */
  private def quantized(emb: Column): Column = graft.functions.quantizedVec(emb)

  /** Unit vector quantized to integer micro-units — the ANN ranking key
    * basis. Ranking by the INTEGER dot of quantized units (instead of a
    * float cosine) makes the approximate operators' candidate ORDER — not
    * just their candidate SET — bit-identically replayable in SQL: a
    * float cosine near-tie within ~1 ulp can flip top-k under different
    * rounding paths (Spark folds unit dots, DuckDB fuses
    * list_cosine_similarity) and nondeterministically fail an otherwise
    * exact oracle. Relative quantization error is ~1e-6·√dim — far below
    * any meaningful similarity resolution, so recall is unaffected. */
  private def quantizedUnit(emb: Column, nrm: Column): Column =
    graft.functions.quantizedUnitVec(emb, nrm)

  /** Integer dot product of two array<long> columns (micro-unit scale:
    * ≤1e12 per component product — overflow-free up to ~9e6 dims even in
    * overflow-checked engines). */
  private def intDot(a: Column, b: Column): Column = graft.functions.longDot(a, b)

  /** Random-hyperplane LSH bucket id (`numPlanes` sign bits packed), all
    * integer arithmetic: bit_p = sign of Σ_i quant(emb[i]) · hashSign(p,i).
    * `rep` selects an independent plane set for multi-probe. */
  def rhpBucket(emb: Column, numPlanes: Int, rep: Int = 0): Column =
    graft.functions.rhpBucketOf(emb, numPlanes, rep)

  /** Eligible bucket members for probe reps 0..probes-1, hot buckets
    * dropped: sizes are aggregated first (partial-agg counts — a
    * degenerate bucket costs a counter per task) and only buckets with
    * 2..maxBucket members are joined back. No bucket's member set ever
    * co-locates before this filter.
    *
    * Round 6 (guide §2.4/§3.1): the bucketed relation is CACHED — the
    * eligibility counts, and the a- and b-sides of every downstream
    * self-join, previously re-ran the whole scan + signature computation
    * once each (4 full evaluations visible in the round-5 plan); now they
    * read one cached narrow relation (`payload` keeps it as narrow as the
    * caller's scoring needs). The eligibility table is BROADCAST, not
    * shuffle-hashed: it is bounded by 2^numPlanes·probes rows (two longs
    * each), so exchanging the n-row member table against it was a wasted
    * full shuffle — same fix the round-5 PLANS audit made for IVF's cell
    * filter. For plane counts past 20 the bound stops being small, so the
    * hint degrades to AQE's runtime choice. This bounded, broadcast key
    * set is why the cap is written here and not through
    * `graft.dedup.Lsh.cappedGroups`, the engine's form for unbounded key
    * spaces (count, keep 2..cap, join back with AQE's choice of join). */
  private def eligibleMembers(e: DataFrame, numPlanes: Int, probes: Int,
                              maxBucket: Int, payload: Seq[Column]): DataFrame = {
    val bucketed = graft.Caches.truncate((0 until probes)
      .map(r => e.select(F.lit(r).as("rep") +:
        rhpBucket(F.col("emb"), numPlanes, r).as("bucket") +: payload: _*))
      .reduce(_ unionByName _))
    val eligible = bucketed.groupBy("rep", "bucket").count()
      .where(F.col("count").between(2, maxBucket))
      .select("rep", "bucket")
    val hinted =
      if (numPlanes <= 20) F.broadcast(eligible) else eligible
    bucketed.join(hinted, Seq("rep", "bucket"))
  }

  /** Approximate top-k: candidates restricted to the same RHP bucket in
    * any of `probes` plane sets — the 10^12-row pattern (bucket sizes
    * ~ n/2^planes; the candidate join shuffles on (rep, bucket)).
    * Same output columns and tie rule as [[bruteForceTopK]]; recall < 1 by
    * design, raised by `probes`. Integer bucket ids keep the whole
    * candidate-set definition SQL-replayable (the q_ann_lsh_top1 oracle). */
  def lshTopK(embeddings: DataFrame, k: Int, numPlanes: Int = 8,
              probes: Int = 1, maxBucket: Int = 10000): DataFrame = {
    // payload = the quantized-unit ranking key only: the cached member
    // relation (and hence the candidate self-join below) carries no raw
    // embedding bytes
    val members = eligibleMembers(prepared(embeddings), numPlanes, probes, maxBucket,
      payload = Seq(F.col("vec_id"),
        quantizedUnit(F.col("emb"), F.col("nrm")).as("qu")))
    val a = members.select(F.col("rep"), F.col("bucket"), F.col("vec_id"),
      F.col("qu").as("qa"))
    val b = members.select(F.col("rep"), F.col("bucket"), F.col("vec_id").as("nn_id"),
      F.col("qu").as("qb"))
    val scored = a.join(b, Seq("rep", "bucket"))
      .where(F.col("vec_id") =!= F.col("nn_id"))
      .select(F.col("vec_id"), F.col("nn_id"),
        intDot(F.col("qa"), F.col("qb")).as("cos"))
      .distinct() // same candidate through several probes scores identically
    val w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc, F.col("nn_id"))
    scored.withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= k)
      .select(F.col("vec_id"), F.col("rank").cast("long").as("rank"), F.col("nn_id"))
  }

  /** Near-duplicate vector pairs, RHP-bucketed — the production dedup
    * path: candidates from shared buckets (any probe), exact cosine verify
    * ≥ threshold. Emitted pairs carry NO approximation (the verify is
    * exact); bucketing only bounds which pairs are examined. Identical
    * vectors agree on every plane projection, so exact duplicates are
    * always candidates — recall loss applies only to near-(not exact-)
    * duplicates, shrinking exponentially in `probes`. */
  def nearDupPairsBucketed(embeddings: DataFrame, threshold: Double,
                           numPlanes: Int = 8, probes: Int = 2,
                           maxBucket: Int = 10000): DataFrame = {
    // payload keeps emb+nrm: the verify is an EXACT cosine, so the raw
    // vector must reach the candidate join (unlike lshTopK's integer key)
    val members = eligibleMembers(prepared(embeddings), numPlanes, probes, maxBucket,
      payload = Seq(F.col("vec_id"), F.col("emb"), F.col("nrm")))
    val a = members.select(F.col("rep"), F.col("bucket"),
      F.col("vec_id").as("vec_a"), F.col("emb").as("ea"), F.col("nrm").as("na"))
    val b = members.select(F.col("rep"), F.col("bucket"),
      F.col("vec_id").as("vec_b"), F.col("emb").as("eb"), F.col("nrm").as("nb"))
    a.join(b, Seq("rep", "bucket"))
      .where(F.col("vec_a") < F.col("vec_b"))
      .where(cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")) >= threshold)
      .select("vec_a", "vec_b")
      .distinct()
  }

  // ------------------------------------------------------------------- IVF

  /** Deterministic centroid selection rank, SQL-replayable: the md5 of the
    * decimal vec_id string, first 15 hex digits as a long. (xxhash64 has
    * no DuckDB twin; md5 does.) */
  private def md5Rank(id: Column): Column =
    F.conv(F.substring(F.md5(F.encode(id.cast("string"), "UTF-8")), 1, 15), 16, 10)
      .cast("long")

  /** IVF (inverted-file) approximate top-k — the codebook-based scale
    * path, complementing the hash-based [[lshTopK]]:
    *
    *  1. CENTROIDS: the `numCentroids` vectors with the smallest
    *     [[md5Rank]] — a deterministic pseudo-random sample (no Lloyd
    *     iterations, so the whole layout stays SQL-replayable for the
    *     oracle). Codebooks are small by construction: collecting and
    *     broadcasting C·dim floats is how IVF ships on any engine, and is
    *     independent of corpus size.
    *  2. ASSIGN: every vector to its best centroid by INTEGER dot product
    *     (micro-unit-quantized vector × micro-unit-quantized unit
    *     centroid; ties → smaller centroid id) — a broadcast scan, no
    *     shuffle. Integer scoring makes the assignment — like the RHP
    *     buckets — bit-identically replayable in SQL; only the final
    *     candidate scoring is floating cosine.
    *  3. PROBE: each query scans the vectors of its own `nProbe` nearest
    *     cells — a cell-id equi-join (shuffles on cell id, cells average
    *     n/C members; a count-filter cap guards degenerate cells). The
    *     cap is its own code, not `graft.dedup.Lsh.cappedGroups`: its
    *     key set (at most C cells) is bounded and broadcast, and it keeps
    *     singleton cells (1..maxCell), which a 2..cap pair cap drops.
    *
    * Output columns and tie rule match [[bruteForceTopK]]; recall < 1 by
    * design and rises with `nProbe`. */
  def ivfTopK(embeddings: DataFrame, k: Int, numCentroids: Int = 16,
              nProbe: Int = 2, maxCell: Int = 1000000): DataFrame = {
    val e = prepared(embeddings)
    val spark = e.sparkSession
    import spark.implicits._
    // codebook: C·dim quantized unit centroids — corpus-size-independent
    val cents = e.select(F.col("vec_id"), F.col("emb"), F.col("nrm"))
      .withColumn("rk", md5Rank(F.col("vec_id")))
      .orderBy("rk", "vec_id").limit(numCentroids)
      .select(F.col("vec_id"),
        F.transform(F.col("emb"), x => F.floor(x / F.col("nrm") * 1000000.0d + 0.5d)).as("qc"))
      .as[(Long, Array[Long])].collect().sortBy(_._1)

    // The codebook joins as broadcast DATA, not as inlined expression
    // literals: C typedLit'd centroid arrays generate O(C·dim) of code
    // text per consumer (at a realistic C = 4096 that is megabytes of
    // janino input — unplannable), whereas a broadcast cross join scores
    // n·C NARROW rows — (vec_id, nd, cid), no array payload — with one
    // small codegen'd projection and scales to any codebook a driver can
    // hold. Cell ranks come from a (vec_id) window over those narrow
    // rows; the qu payload is attached once, by a vec_id join onto the
    // ≤ nProbe surviving rows per vector. Sort key (-dot, cid) keeps the
    // tie rule (dot desc, cid asc) bit-identical to the oracle's replay.
    val centDF = cents.toSeq.toDF("cid", "qc")
    val unit = graft.Caches.truncate(e.select(F.col("vec_id"),
      quantized(F.col("emb")).as("qv"),
      quantizedUnit(F.col("emb"), F.col("nrm")).as("qu")))
    val ranked = graft.Caches.truncate(unit.select(F.col("vec_id"), F.col("qv"))
      .crossJoin(F.broadcast(centDF))
      .select(F.col("vec_id"),
        (-intDot(F.col("qv"), F.col("qc"))).as("nd"), F.col("cid"))
      .withColumn("cr", F.row_number().over(
        Window.partitionBy("vec_id").orderBy("nd", "cid")))
      .where(F.col("cr") <= nProbe)
      .select(F.col("vec_id"), F.col("cid").as("cell"), F.col("cr"))
      .join(unit.select(F.col("vec_id"), F.col("qu")), Seq("vec_id")))
    val assigned = ranked.where(F.col("cr") <= 1)
      .select("vec_id", "qu", "cell")
    val capped = {
      val ok = assigned.groupBy("cell").count()
        .where(F.col("count").between(1, maxCell)).select("cell")
      // broadcast, not shuffle_hash: `ok` has at most C rows (cells ARE
      // centroid ids, and the codebook is driver-held by construction),
      // so the eligibility filter never justifies exchanging the n-row
      // assignment table — one less full shuffle at any corpus size
      assigned.join(F.broadcast(ok), Seq("cell"))
    }
    val probes = ranked.where(F.col("cr") <= nProbe)
      .select(F.col("vec_id"), F.col("qu").as("qq"), F.col("cell"))
    val cand = probes.join(
      capped.select(F.col("cell"), F.col("vec_id").as("nn_id"), F.col("qu").as("qc")),
      Seq("cell"))
      .where(F.col("vec_id") =!= F.col("nn_id"))
      .select(F.col("vec_id"), F.col("nn_id"),
        intDot(F.col("qq"), F.col("qc")).as("cos"))
      .distinct() // a candidate reached via several probe cells
    val w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc, F.col("nn_id"))
    cand.withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= k)
      .select(F.col("vec_id"), F.col("rank").cast("long").as("rank"), F.col("nn_id"))
  }

  /** Near-duplicate vector pairs: cosine ≥ threshold, vec_a < vec_b.
    * SPEC ORACLE ONLY — same collect+broadcast layout as
    * [[bruteForceTopK]]; production queries use [[nearDupPairsBucketed]]. */
  def nearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = prepared(embeddings)
      .select(F.col("vec_id"),
        F.transform(F.col("emb"), x => x / F.col("nrm")).as("unit"))
      .as[(Long, Array[Double])]
    val all = e.collectAsList()
    val ids = new Array[Long](all.size)
    val mat = new Array[Array[Double]](all.size)
    var i = 0
    while (i < all.size) { ids(i) = all.get(i)._1; mat(i) = all.get(i)._2; i += 1 }
    val bcIds = spark.sparkContext.broadcast(ids)
    val bcMat = spark.sparkContext.broadcast(mat)

    e.mapPartitions { it =>
      val cids = bcIds.value; val cmat = bcMat.value
      val n = cids.length
      it.flatMap { case (qid, q) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var j = 0
        while (j < n) {
          if (cids(j) > qid) {
            val row = cmat(j)
            var d = 0.0
            var t = 0
            while (t < row.length) { d += q(t) * row(t); t += 1 }
            if (d >= threshold) out += ((qid, cids(j)))
          }
          j += 1
        }
        out.iterator
      }
    }.toDF("vec_a", "vec_b")
  }
}
