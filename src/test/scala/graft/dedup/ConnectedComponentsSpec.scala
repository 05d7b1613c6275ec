package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Every case runs on both paths of [[ConnectedComponents.run]]: as is,
  * where AQE coalesces these small edge sets into one partition and the
  * one union-find is the answer, and with partition coalescing off, where
  * the contraction spans several partitions and the star rounds merge
  * the local roots. */
class ConnectedComponentsSpec extends SparkSpec {

  /** In-memory union-find oracle. */
  private def oracle(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def frame(edges: Seq[(Long, Long)]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    edges.toDF("u", "v")
  }

  private def collect(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Runs CC and checks that the contraction took the path under test. */
  private def runCC(edges: Seq[(Long, Long)], multi: Boolean): Map[Long, Long] = {
    val parts = ConnectedComponents.contract(frame(edges)).rdd.getNumPartitions
    if (edges.nonEmpty) assert((parts > 1) === multi, s"contraction partitions: $parts")
    collect(ConnectedComponents.run(frame(edges)))
  }

  /** Registers `body` twice: once as is (one partition) and once with
    * AQE partition coalescing off (several partitions, star rounds). */
  private def bothPaths(name: String)(body: Boolean => Unit): Unit = {
    test(name)(body(false))
    test(s"$name [multi-partition contraction]") {
      val key = "spark.sql.adaptive.coalescePartitions.enabled"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try body(true)
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  bothPaths("long path graph (worst case for label propagation)") { multi =>
    val n = 500L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val got = runCC(edges, multi)
    assert(got.size === n)
    assert(got.values.toSet === Set(0L))
  }

  bothPaths("mixed graph: stars, cliques, isolated-by-self-loop, two paths") { multi =>
    val star = (1L to 50L).map(i => (1000L, 1000L + i))
    val clique = for (i <- 0L to 9L; j <- (i + 1) to 9L) yield (2000L + i, 2000L + j)
    val path1 = (0L until 20L).map(i => (3000L + i, 3001L + i))
    val selfLoop = Seq((4000L, 4000L))
    val edges = star ++ clique ++ path1 ++ selfLoop
    val got = runCC(edges, multi)
    val want = oracle(edges.filter { case (a, b) => a != b }) ++ Map(4000L -> 4000L)
    assert(got === want)
  }

  bothPaths("random graphs match union-find oracle") { multi =>
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 200
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = runCC(edges, multi)
      assert(got === oracle(edges), s"trial $trial")
    }
  }

  bothPaths("deterministic across input partitioning") { _ =>
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter { case (a, b) => a != b }
    val a = collect(ConnectedComponents.run(frame(edges).repartition(1)))
    val b = collect(ConnectedComponents.run(frame(edges).repartition(13)))
    assert(a === b)
    assert(a === oracle(edges))
  }

  bothPaths("empty edge set") { _ =>
    assert(ConnectedComponents.run(frame(Seq.empty)).count() === 0)
  }

  bothPaths("one long path spread over every partition: star rounds merge local roots") { multi =>
    val n = 2000L
    // shuffled so no input partition holds a contiguous run of the path
    val edges = new scala.util.Random(3).shuffle((0L until n - 1).map(i => (i, i + 1)))
    if (multi) {
      val roots = ConnectedComponents.contract(frame(edges)).select("v").distinct().count()
      assert(roots > 1, "the contraction left one root: no star round to test")
    }
    val got = runCC(edges, multi)
    assert(got.size === n)
    assert(got.values.toSet === Set(0L))
  }
}
