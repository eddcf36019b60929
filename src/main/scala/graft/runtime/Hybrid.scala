package graft.runtime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The one owner of the small/distributed decision (SURVEY §7.5.3): an
  * input — or each component of it — small enough for one task runs the
  * exact single-task port; only giant ones pay the distributed rounds.
  * Both sides produce identical outputs, so a gate only ever moves cost.
  *
  * Sentinel rule, every gate: `max <= 0` forces the distributed path;
  * otherwise an input (or a key) runs local iff its size `<= max`. Specs
  * pin each distributed path by passing `0` or `-1`; q119/q120 pass `1`,
  * which keeps single-edge components local.
  *
  * Defaults, each sized for one task on any executor:
  *  - [[CcLocalMax]] 500k canonical edges: one union-find task over
  *    ≤ ~8 MB of long pairs replaces 10-25 star rounds of driver latency;
  *    every at-scale input (the 4M-16M evidence fixtures, real planet
  *    data) sits far above it.
  *  - [[LinkGraphLocalMax]] 500k nodes and edges: the link-graph loops
  *    (k-core, LPA, BFS, HyperBall) hold the same order of state as CC.
  *  - [[FlowLocalMax]] 1M edges per weak component: the upstream Kahn
  *    walk and the biggest-end DP hold the component's edges plus a few
  *    per-node maps; river basins are almost always far below.
  *  - [[ComponentLocalMax]] 2M edges per component: compress + peel,
  *    `num_nodes` and the longest source→mouth flood. A 2M-edge group
  *    costs hundreds of MB of boxed `(Long, Long, Seq)` tuples plus the
  *    `TreeSet` adjacency of `Local.compress` in ONE task, so several
  *    such groups landing on one executor at once need executor memory
  *    for each of them (size `spark.executor.memory` / cores accordingly).
  *  - [[MaxLocalGroupRows]] 20M rows: the loud cap of `Local.boundedSeq`,
  *    also the split point of the operators whose scale path exists only
  *    where the single-task port would hit that cap (frames, betweenness,
  *    tag-group CC, grouped waterways) — ~20M rows ≈ a few GB of boxed
  *    tuples, a loud failure comfortably before the executor OOM-kills.
  *
  * Two settings, both read here only:
  *  - env `SPARK_GRAFT_CC_LOCAL_MAX` overrides [[CcLocalMax]] (the lump
  *    benchmark lowers it so the distributed star rounds run);
  *  - JVM property `graft.maxLocalGroupRows` overrides
  *    [[MaxLocalGroupRows]] (`spark.executor.extraJavaOptions` on a
  *    cluster) — the executor-memory deployment setting.
  *
  * Every decision logs one INFO line (gate, measured size or big-key
  * count, threshold, path).
  */
object Hybrid {
  val CcLocalMax: Long =
    sys.env.get("SPARK_GRAFT_CC_LOCAL_MAX").map(_.toLong).getOrElse(500000L)
  val LinkGraphLocalMax: Long = 500000L
  val FlowLocalMax: Long = 1000000L
  val ComponentLocalMax: Long = 2000000L
  lazy val MaxLocalGroupRows: Long =
    sys.props.get("graft.maxLocalGroupRows").map(_.toLong).getOrElse(20000000L)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def decided(gate: String, measured: String, max: Long, path: String): Unit =
    log.info(s"hybrid gate=$gate $measured max=$max path=$path")

  /** Whole-input gate: true iff the input runs local. `size` is only
    * measured when `max > 0`. */
  def local(gate: String, max: Long)(size: => Long): Boolean = {
    if (max <= 0) {
      decided(gate, "size=unmeasured", max, "distributed")
      false
    } else {
      val n = size
      val ok = n <= max
      decided(gate, s"size=$n", max, if (ok) "local" else "distributed")
      ok
    }
  }

  /** Per-key gate: keys of `counted` with more than `max` rows are big.
    * One Spark job counts the rows per key and materialises the (locally
    * checkpointed) big-key set; every later [[Split.small]] /
    * [[Split.big]] reads that set instead of re-counting. */
  def split(gate: String, counted: DataFrame, key: String, max: Long): Split = {
    val keys = counted.select(col(key)).rdd
      .map(r => (r.get(0), 1L))
      .reduceByKey(_ + _)
      .collect { case (k, n) if n > max => Row(k) }
    keys.localCheckpoint()
    val nBig = keys.count()
    decided(gate, s"bigKeys=$nBig", max, if (nBig == 0) "local" else "split")
    new Split(key, if (nBig == 0) None else Some(counted.sparkSession
      .createDataFrame(keys, StructType(Seq(counted.schema(key))))))
  }

  /** The outcome of [[split]]. With no big key, `small` is the identity
    * and no distributed work is ever planned. */
  final class Split private[Hybrid] (key: String, val keys: Option[DataFrame]) {
    def hasBig: Boolean = keys.isDefined

    /** Rows of `df` whose key is not big. */
    def small(df: DataFrame): DataFrame =
      keys.fold(df)(k => df.join(k, Seq(key), "left_anti"))

    /** Rows of `df` whose key is big. */
    def big(df: DataFrame): DataFrame =
      keys.fold(df.limit(0))(k => df.join(k, Seq(key), "left_semi"))

    /** `local`, plus `distributed` (by column name) when some key is big. */
    def union(local: DataFrame)(distributed: => DataFrame): DataFrame =
      if (hasBig) local.unionByName(distributed) else local
  }
}
