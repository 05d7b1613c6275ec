package perfbench

import org.apache.spark.sql.DataFrame

/** What one run's `clusters` output says, judged against the planted truth.
  * `problems` lists every failed output check; a run with any is failed. */
final case class Outcome(digest: String, pairRecall: Double, clusterPurity: Double,
                         problems: Seq[String])

object Checks {

  /** Collects `clusters` (url, doc_id, cluster_id, is_canonical) and checks
    * it: one row per admitted page, exactly one canonical page per cluster,
    * multi-doc clusters pure (the generators plant disjoint groups, so a
    * mixed cluster is a false merge), and the same clustering as
    * `reference` when one is given. */
  def clusters(clusters: DataFrame, truth: Truth, reference: Option[String]): Outcome = {
    val rows = clusters.select("url", "cluster_id", "is_canonical").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val problems = Seq.newBuilder[String]
    val clusterOf = rows.iterator.map(r => r._1 -> r._2).toMap
    if (clusterOf.size != rows.length) problems += s"${rows.length - clusterOf.size} urls emitted twice"
    if (rows.length != truth.admitted)
      problems += s"${rows.length} pages clustered, ${truth.admitted} admitted"
    val byCluster = rows.groupBy(_._2)
    val badCanon = byCluster.count { case (_, ms) => ms.count(_._3) != 1 }
    if (badCanon > 0) problems += s"$badCanon clusters without exactly one canonical page"

    val recall = truth.pairs.count { case (d, u) =>
      clusterOf.get(d).exists(c => clusterOf.get(u).contains(c))
    }.toDouble / truth.pairs.length
    val multi = byCluster.values.filter(_.length > 1)
    val pure = multi.count(ms => ms.map(m => truth.groupOf(m._1)).distinct.length == 1)
    val purity = if (multi.isEmpty) 1.0 else pure.toDouble / multi.size
    if (purity < 1.0) problems += s"${multi.size - pure} of ${multi.size} clusters mix planted groups"

    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sortBy(_._1).foreach { case (u, c, canon) =>
      md.update(s"$u\t$c\t$canon\n".getBytes("UTF-8"))
    }
    val digest = md.digest().map(b => f"$b%02x").mkString
    reference.filter(_ != digest).foreach(_ => problems += "clusters differ from the first run")
    Outcome(digest, recall, purity, problems.result())
  }
}
