package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import scala.collection.mutable.LongMap
import graft.runtime.Hybrid

/** Iterative connected components — the alternating large-star /
  * small-star algorithm of Kiveris et al., "Connected Components in
  * MapReduce and Beyond" (SoCC 2014); "Finding connected components in
  * map-reduce in logarithmic rounds" (ICDE 2013, PAPERS.md), which
  * analyses Hash-to-Min, is background. Replaces the reference's
  * in-memory BFS flood fill
  * (/root/reference/src/graph/undirected_graph.rs:346-380) with an
  * O(log² n)-round shuffle algorithm that survives planet-scale inputs.
  *
  * Each round (large-star then small-star) is ONE Spark job of three
  * shuffles over RDD pairs on one shared [[Flow.loopPartitioner]]: the
  * symmetric edges keyed by node, large-star's output keyed by its `src`,
  * and the `distinct` of small-star's output. Each star reads its
  * shuffled partition twice (`zipPartitions` with itself): once into a
  * per-partition `LongMap` of neighbourhood minima, once to re-point the
  * edges — no per-key value buffers, although a converged root's
  * neighbourhood is its whole component. RDDs, not DataFrames: AQE
  * submits every exchange as its own job, ~10 per DataFrame round.
  *
  * Lineage is truncated with `localCheckpoint` every round (or durable
  * checkpoints via [[graft.runtime.IterationCheckpointer]] for
  * resumability, one `(src, dst)` frame per round). The fixpoint test is
  * an order-independent count + XOR fingerprint of the edge set, and that
  * same action materialises the round's checkpoint.
  *
  * Output label = **min nid of the component**, matching the reference's
  * BTreeMap-first `root_nodeid` (/root/reference/src/way_group.rs:27-36).
  * Deterministic: rounds and labels are identical at any parallelism.
  */
object ConnectedComponents {

  final case class Result(labels: DataFrame, rounds: Int)

  /** @param edges DataFrame with two Long columns `src`, `dst` (undirected,
    *              self-loops/duplicates tolerated).
    * @param maxRounds star rounds allowed before the run fails loudly.
    * @param checkpointer optional durable per-round checkpoint hook
    *                     (round, edges) => possibly-reloaded frame.
    * @param localMaxEdges edge sets up to this size run [[localLabels]],
    *                      one union-find task, instead of the star loop
    *                      (see [[graft.runtime.Hybrid]]; 0 forces the loop —
    *                      specs pin local ≡ iterative labels).
    * @return labels (nid, comp) covering every nid present in `edges`.
    */
  def run(
      edges: DataFrame,
      maxRounds: Int = 50,
      checkpointer: Option[(Int, DataFrame) => DataFrame] = None,
      assumeDistinct: Boolean = false,
      localMaxEdges: Long = Hybrid.CcLocalMax): Result = {
    val spark = edges.sparkSession
    import spark.implicits._

    // assumeDistinct: callers holding an already-canonical edge set (the
    // memoised distinct frames, contraction outputs) skip the redundant
    // full-shuffle distinct. Every checkpoint below is lazy: the
    // fingerprint touches every partition, so it materialises the
    // checkpoint in the same job.
    val e0 = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .as[(Long, Long)].rdd
    var e = (if (assumeDistinct) e0 else e0.distinct()).localCheckpoint()

    var prev = fingerprint(e)
    // the fingerprint already counted the edge set (no extra job).
    // Durable checkpointers stay iterative (their resume contract is the
    // loop).
    if (checkpointer.isEmpty && Hybrid.local("cc", localMaxEdges)(prev._1))
      return Result(localLabels(e.toDF("src", "dst")), 0)

    val part = Flow.loopPartitioner(spark, prev._1)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val ss = starRound(e, part)
      val next = checkpointer match {
        case Some(cp) => cp(rounds, ss.toDF("src", "dst")).as[(Long, Long)].rdd
        case None     => ss.localCheckpoint()
      }
      val fp = fingerprint(next)
      e.unpersist(blocking = false) // `next` no longer reads it
      done = fp == prev
      prev = fp
      e = next
      rounds += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"connected components did not converge in $rounds rounds " +
          s"(${prev._1} edges left) — raise maxRounds")

    // Converged edge set is a star forest: (child, root) with root = min.
    val labels = e
      .flatMap { case (s, d) => Iterator((s, d), (d, d)) }
      .reduceByKey(part, (a, b) => math.min(a, b))
      .toDF("nid", "comp")
    Result(labels, rounds)
  }

  /** Convenience: labels for every node in `edges`, singletons included
    * when a `nodes` frame (single `nid` column) is supplied.
    */
  def labelsWithSingletons(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val r = run(edges)
    nodes
      .select(col("nid"))
      .distinct()
      .join(r.labels.withColumnRenamed("nid", "lnid"),
        col("nid") === col("lnid"), "left")
      .select(col("nid"), coalesce(col("comp"), col("nid")).as("comp"))
  }

  /** One large-star + small-star round: three shuffles, no action. */
  private def starRound(e: RDD[(Long, Long)], part: HashPartitioner): RDD[(Long, Long)] = {
    // large-star: every strictly-larger neighbour of u re-points at the
    // minimum of u's closed neighbourhood; the output is oriented (src > dst)
    val sym = e.flatMap { case (s, d) => Iterator((s, d), (d, s)) }.partitionBy(part)
    val large = sym.zipPartitions(sym) { (scan, edges) =>
      val m = closedMins(scan)
      edges.collect { case (u, v) if v > u => (v, m(u)) }
    }.partitionBy(part)
    // small-star: every smaller neighbour of u, and u itself, re-points at
    // the minimum of u's smaller neighbourhood
    large.zipPartitions(large) { (scan, edges) =>
      val m = closedMins(scan)
      edges.collect { case (u, v) if v != m(u) => (v, m(u)) } ++ m.iterator
    }.distinct(part.numPartitions)
  }

  /** Per-key minimum of the key and its values, over one partition. */
  private def closedMins(it: Iterator[(Long, Long)]): LongMap[Long] = {
    val m = LongMap.empty[Long]
    it.foreach { case (u, v) => m(u) = math.min(m.getOrElse(u, u), v) }
    m
  }

  /** Single-task min-label union-find over a (checkpointed) small edge
    * set — the small-input path of [[run]]. Pointing the larger
    * root at the smaller keeps every tree's root = the component minimum,
    * so labels are bit-identical to the star loop's min-nid fixpoint and
    * independent of row order (pure function of the edge SET). Lazily
    * checkpointed: consumers re-read one tiny RDD instead of re-running
    * the pass per join branch.
    */
  private def localLabels(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("src"), col("dst")).as[(Long, Long)]
      .coalesce(1) // narrow (no exchange): the one-task gate is the point
      .mapPartitions { it =>
        val parent = LongMap.empty[Long]
        def find(x0: Long): Long = {
          var r = x0
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var y = x0
          while (y != r) { val n = parent(y); parent(y) = r; y = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        // snapshot keys first: find()'s path compression updates values
        // (never keys), but don't iterate a map while mutating it
        val ks = parent.keysIterator.toArray
        ks.iterator.map(n => (n, find(n)))
      }
      .toDF("nid", "comp")
      .localCheckpoint(false)
  }

  /** Order-independent fingerprint of an edge set: (count, xor of the
    * rows' `xxhash64(src, dst)`). One fold; no sort, no except, and no
    * `reduce`, which throws on an empty set.
    */
  private def fingerprint(e: RDD[(Long, Long)]): (Long, Long) =
    e.aggregate((0L, 0L))(
      { case ((c, x), (s, d)) => (c + 1L, x ^ XXH64.hashLong(d, XXH64.hashLong(s, 42L))) },
      { case ((c1, x1), (c2, x2)) => (c1 + c2, x1 ^ x2) })
}
