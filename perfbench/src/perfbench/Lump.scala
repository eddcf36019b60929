package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cli.{Cli, LumpWaysMain}
import graft.fixtures.Synthetic
import graft.graph.{ConnectedComponents, GraphBuild}
import graft.outputs.Writers
import graft.pipeline.LumpWays
import graft.tagfilter.TagFilterCompiler

/** The `osm-lump-ways` CLI path (`LumpWaysMain.run`, `-f waterway
  * -g waterway`, GeoJSONSeq out) on `ways` synthetic river ways. The
  * seed orders the rows of the input parquet, so every seed presents the
  * same network in a different order and the expected output is the same.
  */
final class Lump(a: Main.Args, ways: Long, buckets: Long) extends Workload {
  private val input = s"${a.work}/lump-in"
  private val output = s"${a.work}/lump-out.geojsons"

  private def fixture(spark: SparkSession): Unit = {
    Synthetic.ways(spark, ways, buckets = buckets)
      .orderBy(xxhash64(col("wid"), lit(a.seed)))
      .write.mode("overwrite").parquet(s"$input/ways.parquet")
    Synthetic.nodesFor(spark.read.parquet(s"$input/ways.parquet"))
      .write.mode("overwrite").parquet(s"$input/nodes.parquet")
  }

  private def cliArgs(in: String): Cli.LumpArgs =
    Cli.parseLump(Seq("-i", in, "-o", output, "--overwrite",
      "-f", "waterway", "-g", "waterway"))
      .fold(e => throw new IllegalArgumentException(e), identity)

  /** The seeded fixture, then one warm-up job on it. */
  def setup(spark: SparkSession): Map[String, Any] = {
    fixture(spark)
    LumpWaysMain.run(cliArgs(input), spark)
    Map.empty
  }

  def pass(spark: SparkSession): Seq[Main.Op] = {
    val o = Main.op("lump") { LumpWaysMain.run(cliArgs(input), spark); Map.empty }
    if (o.error.nonEmpty) Seq(o)
    else Seq(scala.util.Try(outputCheck()).fold(
      e => o.copy(error = Some(s"output check: $e")), c => o.copy(check = c)))
  }

  /** Feature count, a hash of each feature's (root node, node count, tag
    * groups) summed over features, and total `length_m` of the output. */
  private def outputCheck(): Map[String, Any] = {
    val Root = "\"root_nodeid\":(\\d+)".r.unanchored
    val Nodes = "\"num_nodes\":(\\d+)".r.unanchored
    val Groups = "\"tag_groups\":(\\[[^\\]]*\\])".r.unanchored
    val Len = "\"length_m\":([-0-9.eE+]+)".r.unanchored
    val lines = Files.readAllLines(Paths.get(output), StandardCharsets.UTF_8).asScala
    var features = 0L
    var hash = 0L
    var total = 0.0
    lines.foreach { l =>
      (l, l, l, l) match {
        case (Root(r), Nodes(n), Groups(g), Len(len)) =>
          features += 1
          hash += Suite.hash64(s"$r|$n|$g")
          total += len.toDouble
        case _ =>
      }
    }
    Map("lines" -> lines.size.toLong, "features" -> features,
      "hash" -> f"$hash%016x", "length_m" -> total)
  }

  /** The CLI job again, split into its four public stages; at more than
    * one core also the graph layers standalone on the same filtered ways,
    * as `graft.Scaling` calls them. */
  def traced(spark: SparkSession, cores: Int): Map[String, Any] = {
    val spans = new Spans(spark.sparkContext)
    try {
      val cfg = cliArgs(input).config
      val w = spark.read.parquet(s"$input/ways.parquet")
      val nodes = spark.read.parquet(s"$input/nodes.parquet")
      val t0 = System.nanoTime()
      val (stages, preludeS) = spans.timed("lump.prelude")(
        LumpWays.preludeStages(w, nodes, cfg, spark))
      val (feats, geometryS) = spans.timed("lump.geometry")(
        LumpWays.geometryStage(stages, nodes, cfg, spark).localCheckpoint(true))
      val (lines, serializeS) = spans.timed("lump.serialize") {
        val l = LumpWays.featureJson(feats).localCheckpoint(true)
        l.count()
        l
      }
      val (_, writeS) = spans.timed("lump.write")(
        Writers.writeGeoJsonSeq(lines, output, overwrite = true))
      val totalS = (System.nanoTime() - t0) / 1e9
      val lump = Map(
        "total_s" -> totalS,
        "check" -> outputCheck())
      val lumpWalls = Seq("lump.prelude" -> preludeS, "lump.geometry" -> geometryS,
        "lump.serialize" -> serializeS, "lump.write" -> writeS)
      val (graph, graphWalls) = if (cores == 1) (Map.empty, Nil) else tracedGraph(spark, spans, w)
      val walls = lumpWalls ++ graphWalls
      spans.drain(walls.map(_._1))
      lump ++ graph ++ Map(
        "spans" -> walls.map { case (n, s) => n -> spans.cost(n, s).fields.toMap }.toMap)
    } finally spans.close()
  }

  private def tracedGraph(spark: SparkSession, spans: Spans, w: DataFrame)
      : (Map[String, Any], Seq[(String, Double)]) = {
    val cfg = cliArgs(input).config
    val filtered = w.filter(
      TagFilterCompiler.passFilters(cfg.tagFilters, cfg.tagFilterFunc, col("tags")))
      .localCheckpoint(true)
    val (edges, contractS) = spans.timed("graph.contract")(
      GraphBuild.canonicalUndirected(GraphBuild.contractedEdges(filtered, spark))
        .toDF().select("src", "dst").localCheckpoint(true))
    val ((labels, rounds), ccS) = spans.timed("graph.cc") {
      val r = ConnectedComponents.run(edges)
      (r.labels.localCheckpoint(true), r.rounds)
    }
    val structure = edges
      .join(labels.withColumnRenamed("nid", "src"), Seq("src"))
      .groupBy("comp").agg(count(lit(1)).as("n_edges"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(comp, n_edges))"), lit(0L)))
      .head()
    (Map("cc_rounds" -> rounds,
      "graph_check" -> Map("components" -> structure.getLong(0),
        "hash" -> f"${structure.getLong(1)}%016x")),
      Seq("graph.contract" -> contractS, "graph.cc" -> ccS))
  }
}
