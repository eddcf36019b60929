package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry
import graft.queries._

/** The query suite: a fixed subset of `SparkEntry.queries` that covers
  * every Queries module, each forced with `.count()` in `Bench` order,
  * with the cross-query memos cleared before every pass (as `Bench`
  * does). Inputs are the fixed seed-42 sf0.001 tables in `--data`.
  */
final class Suite(a: Main.Args) extends Workload {
  import Suite._

  private val dir = a.data

  /** One pass that digests every result, then a warm pass: the measured
    * passes are slow and erratic until the JIT has seen each query twice. */
  def setup(spark: SparkSession): Map[String, Any] = {
    val digests = selected.map { name =>
      val r = Main.op(name) {
        val (rows, digest) = Suite.digest(SparkEntry.queries(name)(spark, dir))
        Map("rows" -> rows, "digest" -> digest)
      }
      name -> (r.check ++ r.error.map("error" -> _))
    }.toMap
    pass(spark)
    digests
  }

  def pass(spark: SparkSession): Seq[Main.Op] = {
    clearMemos()
    selected.map { name =>
      Main.op(name)(Map("rows" -> SparkEntry.queries(name)(spark, dir).count()))
    }
  }

  def traced(spark: SparkSession, cores: Int): Map[String, Any] =
    if (cores == 1) Map.empty
    else {
      val spans = new Spans(spark.sparkContext)
      try {
        clearMemos()
        val t0 = System.nanoTime()
        val (_, edgesS) = spans.timed("derived.edges")(Derived.edgesDF(spark, dir))
        val (_, nodesS) = spans.timed("derived.nodes")(Derived.nodesDF(spark, dir))
        val walls = selected.map { name =>
          name -> spans.timed(name)(
            scala.util.Try(SparkEntry.queries(name)(spark, dir).count()))
        }
        val passS = (System.nanoTime() - t0) / 1e9
        spans.drain(Seq("derived.edges", "derived.nodes") ++ selected)
        val perQuery = walls.map { case (n, (_, s)) => n -> spans.cost(n, s) }.toMap
        val derived = Seq("derived.edges" -> edgesS, "derived.nodes" -> nodesS)
          .map { case (n, s) => n -> spans.cost(n, s) }.toMap
        val byModule = modules.map { case (m, qs) =>
          m -> selected.filter(qs.contains).map(perQuery).foldLeft(Cost.zero)(_ + _)
        }.toMap
        Map(
          "pass_s" -> passS,
          "errors" -> walls.collect { case (n, (util.Failure(e), _)) => s"$n: $e" },
          "spans" -> (derived ++ byModule.map { case (m, c) => s"module.$m" -> c })
            .map { case (n, c) => n -> c.fields.toMap },
          "queries" -> perQuery.map { case (n, c) => n -> c.fields.toMap })
      } finally spans.close()
    }
}

object Suite {
  /** Queries module name → its query map (the `SparkEntry.queries` parts). */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> QueriesRelational.queries,
    "graph"      -> QueriesGraph.queries,
    "down"       -> QueriesDown.queries,
    "extras"     -> QueriesExtras.queries,
    "rivers"     -> QueriesRivers.queries,
    "spatial"    -> QueriesSpatial.queries,
    "text"       -> QueriesText.queries,
    "web"        -> QueriesWeb.queries,
    "media"      -> QueriesMedia.queries,
    "stream"     -> QueriesStream.queries,
    "temporal"   -> QueriesTemporal.queries,
    "pack"       -> QueriesPack.queries)

  /** One query per Queries module (two for graph, the paper's core),
    * about a tenth of the full suite's warm time at sf0.001; see
    * perfbench/README.md for the choice. */
  val selected: Seq[String] = Seq(
    "q02_join_agg", "q13_cc_labels", "q18_upstream", "q40_tag_group_cc",
    "q44_frames", "q47_grouped_waterways", "q20_cell_index",
    "q26_dedup_exact", "q76_pagerank", "q51_media_meta",
    "q34_stream_window", "q77_asof_join", "q81_seq_pack").sorted

  require(selected.forall(SparkEntry.queries.contains),
    s"unknown queries: ${selected.filterNot(SparkEntry.queries.contains)}")

  def clearMemos(): Unit = {
    Derived.clearMemo()
    QueriesGraph.clearMemo()
  }

  /** (row count, order-independent digest) of a collected result: the
    * wrapping sum of a 64-bit hash per row, with floating values
    * rendered to 9 significant digits and map entries sorted. */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    val sum = rows.foldLeft(0L)((acc, r) => acc + hash64(render(r)))
    (rows.length.toLong, f"$sum%016x")
  }

  def hash64(s: String): Long =
    java.nio.ByteBuffer.wrap(
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))).getLong

  private def render(v: Any): String = v match {
    case null                 => "null"
    case d: Double            => real(d)
    case f: Float             => real(f.toDouble)
    case r: Row               => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte]       => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other                => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.9g", java.lang.Double.valueOf(d))
}
