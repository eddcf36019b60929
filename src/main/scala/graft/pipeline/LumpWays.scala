package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.graph.{ConnectedComponents, GraphBuild, Local}
import graft.geo.Geo
import graft.outputs.GeoJson
import graft.runtime.Hybrid
import graft.tagfilter.{TagFilter, TagFilterCompiler, TagFilterFunc}

/** The flagship undirected "lump" pipeline (SURVEY.md §3.1, §7.3):
  * tag-filtered ways → degree census → contracted edges → per-group
  * iterative CC → lengths → min/max-length filters → top-N → rank props →
  * per-component line peeling → GeoJSON features.
  *
  * Reference: /root/reference/src/bin/osm-lump-ways/main.rs:64-868.
  *
  * Scale shape: everything before geometry assembly is joins/aggregates;
  * geometry is `flatMapGroups` per (group, component) — components after
  * pillar contraction are small relative to the cluster; skewed
  * mega-components are the documented residual risk (SURVEY §7.5.4).
  */
object LumpWays {

  /** `--min-length-m` modes (/root/reference/src/way_group.rs:205-245). */
  sealed trait MinLengthFilter
  object MinLengthFilter {
    final case class Length(m: Double) extends MinLengthFilter
    final case class PercentLongest(frac: Double) extends MinLengthFilter
    final case class IncludeTotalPercentage(frac: Double) extends MinLengthFilter
    final case class PercentTotal(frac: Double) extends MinLengthFilter

    def parse(raw: String): Either[String, MinLengthFilter] = {
      val s = raw.toLowerCase
      def num(x: String) = scala.util.Try(x.toDouble).toOption
      num(s).map(Length(_): MinLengthFilter)
        .orElse(s.stripSuffix("km") match {
          case km if s.endsWith("km") => num(km).map(v => Length(v * 1000.0))
          case _ => None
        })
        .orElse(s.stripSuffix("m") match {
          case m if s.endsWith("m") && !s.endsWith("km") => num(m).map(Length(_))
          case _ => None
        })
        .orElse(if (s.endsWith("%longest"))
          num(s.stripSuffix("%longest")).map(p => PercentLongest(p / 100.0)) else None)
        .orElse(if (s.startsWith("incl") && s.endsWith("%total"))
          num(s.stripPrefix("incl").stripSuffix("%total"))
            .map(p => IncludeTotalPercentage(p / 100.0)) else None)
        .orElse(if (s.endsWith("%total"))
          num(s.stripSuffix("%total")).map(p => PercentTotal(p / 100.0)) else None)
        .toRight("Cannot parse")
    }
  }

  final case class Config(
      tagFilters: Seq[TagFilter] = Nil,
      tagFilterFunc: Option[TagFilterFunc] = None,
      groupKeys: Seq[Seq[String]] = Nil, // one entry per -g flag
      inclUnsetGroup: Boolean = false,
      minLength: Option[MinLengthFilter] = None,
      maxLengthM: Option[Double] = None,
      topN: Option[Int] = None,
      onlyNodeids: Seq[Long] = Nil, // C6 --only-these-way-groups-nodeid
      splitIntoSinglePaths: Boolean = false, // P2 (as-crow-flies only)
      onlyLongestNSplittedPaths: Option[Int] = None,
      inclWayIds: Boolean = false, // --incl-wayids (main.rs:650-653)
      // components with more contracted edges than this peel SHARDED
      // (DistPeel: per-cell chunk peel + endpoint stitch, one LineString
      // feature row per segment) instead of in one task — the
      // mega-component memory cliff (SURVEY §7.5.4). The default keeps
      // every sane component on the exact single-task path; the peel
      // decomposition is within the reference's contract either way (its
      // into_lines_random walk is unseeded-RNG).
      shardThresholdEdges: Long = Hybrid.ComponentLocalMax)

  /** Composite (group id, node id) packed into one Long for the CC key —
    * group graphs are independent (SURVEY C1: a node can sit in different
    * components per group tuple).
    */
  private val NidBits = 40
  private val NidMask = (1L << NidBits) - 1

  final case class Feature(
      comp: Long,
      tagGroups: Seq[String],
      lengthM: Double,
      numNodes: Long,
      rootNodeid: Long,
      lines: Seq[Seq[Long]], // peeled walks, pillar nids
      coords: Seq[Seq[(Double, Double)]]) // (lon, lat) per line

  /** The threshold-independent prefix of [[features]] (steps 1-7): every
    * frame here is a pure function of (ways, nodes, tag filters, group
    * keys, length filters, top-N) — `shardThresholdEdges` and the P2
    * split switches only steer the geometry stage. Callers running the
    * SAME input at several shard thresholds (the q35/q119 gate pair)
    * reuse one Stages instead of re-deriving census + contraction + CC +
    * ranks per threshold (guide §2.4: shared work computed once).
    * The heavy members are localCheckpoint'd inside, so reuse is free.
    */
  final case class Stages(
      withGroup: DataFrame,  // filtered ways + grp array (inclWayIds path)
      withRanks: DataFrame,  // kept components + lengths + rank props
      keptEdges: DataFrame)  // (comp, src, dst, inter) checkpointed

  /** Run up to the per-component feature list (pre-sink). */
  def features(ways: DataFrame, nodes: DataFrame, cfg: Config, spark: SparkSession): DataFrame =
    geometryStage(preludeStages(ways, nodes, cfg, spark), nodes, cfg, spark)

  /** Steps 1-7: tag filter → groups → census+contraction → composite CC →
    * lengths → length filters → top-N → rank props (+ the kept-component
    * contracted edge set the geometry stage peels).
    */
  def preludeStages(ways: DataFrame, nodes: DataFrame, cfg: Config, spark: SparkSession): Stages = {

    // 1. tag filter + group keys
    val filtered = ways.filter(
      TagFilterCompiler.passFilters(cfg.tagFilters, cfg.tagFilterFunc, col("tags")))
    val withGroup =
      if (cfg.groupKeys.isEmpty) filtered.withColumn("grp", array())
      else {
        val g = array(cfg.groupKeys.map(ks =>
          TagFilterCompiler.groupValue(ks, col("tags"))): _*)
        val base = filtered.withColumn("grp", g)
        if (cfg.inclUnsetGroup) base
        else base.filter(!exists(col("grp"), _.isNull)) // main.rs:339
      }

    // deterministic dense group ids (few distinct groups — tiny frame)
    val groups = graft.runtime.Ranks.tinyDenseId(
      withGroup.select(col("grp")).distinct(), Seq(col("grp")), "gid")
    // checkpointed: contractedEdgesKeyed reads its ways input three
    // times (degree census, pillar hits, final regroup join) — without
    // this the parquet scan + tag filter + group join ran 3×
    val wg = withGroup.join(groups, Seq("grp"))
      .select("wid", "nids", "gid").localCheckpoint(true)

    // 2-3. census + contraction per group (nids must fit 40 bits for the
    // composite CC key; OSM ids are < 2^40 for the foreseeable future)
    val edges = GraphBuild.canonicalUndirectedKeyed(
      GraphBuild.contractedEdgesKeyed(wg, spark))

    // 4. CC on composite ids
    val composite = edges
      .withColumn("csrc", shiftleft(col("gid"), NidBits).bitwiseOR(col("src")))
      .withColumn("cdst", shiftleft(col("gid"), NidBits).bitwiseOR(col("dst")))
    val labels = ConnectedComponents.run(
      composite.select(col("csrc").as("src"), col("cdst").as("dst")),
      // canonical dedup guarantees one row per (gid, src, dst): the
      // packed composite pairs are already distinct
      assumeDistinct = true).labels

    // 5. lengths on contracted endpoints (way_group.rs:38-44 — intermediates
    //    NOT expanded for length)
    val n1 = nodes.select(col("nid").as("src"), col("lat").as("lat1"), col("lon").as("lon1"))
    val n2 = nodes.select(col("nid").as("dst"), col("lat").as("lat2"), col("lon").as("lon2"))
    val withLen = composite
      .join(labels.withColumnRenamed("nid", "csrc"), Seq("csrc"))
      .join(n1, Seq("src")).join(n2, Seq("dst"))
      .withColumn("hv", Geo.haversineM(col("lat1"), col("lon1"), col("lat2"), col("lon2")))

    val compLen = withLen.groupBy("comp").agg(sum("hv").as("length_m"))

    val lens0 = compLen
      .withColumn("root_nodeid", col("comp").bitwiseAND(lit(NidMask)))
      .withColumn("gid", shiftright(col("comp"), NidBits))
      .join(groups, Seq("gid"))
    // C6 — keep only components containing a wanted nid (main.rs:523-536)
    val lens = (if (cfg.onlyNodeids.isEmpty) lens0
      else {
        val wanted = labels
          .filter(col("nid").bitwiseAND(lit(NidMask))
            .isin(cfg.onlyNodeids: _*))
          .select("comp").distinct()
        lens0.join(wanted, Seq("comp"), "left_semi")
      }).localCheckpoint(true)

    // 6. min/max length filters (C7/C8)
    val afterMin: DataFrame = cfg.minLength match {
      case None => lens
      case Some(MinLengthFilter.Length(m)) => lens.filter(col("length_m") >= m)
      case Some(MinLengthFilter.PercentLongest(f)) =>
        val longest = lens.agg(max("length_m")).head().getDouble(0)
        lens.filter(col("length_m") >= f * longest)
      case Some(MinLengthFilter.PercentTotal(f)) =>
        val total = lens.agg(sum("length_m")).head().getDouble(0)
        lens.filter(col("length_m") >= f * total)
      case Some(MinLengthFilter.IncludeTotalPercentage(f)) =>
        val total = lens.agg(sum("length_m")).head().getDouble(0)
        val thresh = graft.runtime.Ranks.withGlobalCumsum(lens,
            Seq(col("length_m").desc, col("comp").asc), col("length_m"), "cum")
          .filter(col("cum") >= f * total)
          .agg(max("length_m")).head().getDouble(0)
        lens.filter(col("length_m") >= thresh)
    }
    val afterMax = cfg.maxLengthM
      .map(m => afterMin.filter(col("length_m") <= m)).getOrElse(afterMin)

    // 7. top-N truncation (C12), then ranks/fractions POST-truncation
    //    (main.rs:656-657,744-752)
    val trunc = cfg.topN match {
      case Some(n) => afterMax.orderBy(col("length_m").desc, col("comp").asc).limit(n)
      case None    => afterMax
    }
    val kept = trunc.localCheckpoint(true)

    val totals = kept.agg(
      sum("length_m").as("tot"), max("length_m").as("longest"),
      count(lit(1)).as("n")).head()
    val (tot, longest, nGroups) = (totals.getDouble(0), totals.getDouble(1), totals.getLong(2))
    val withRanks = graft.runtime.Ranks.withGlobalRowNumber(kept,
        Seq(col("length_m").desc, col("comp").asc), "length_desc_rank",
        startAt = 0L)
      .withColumn("length_asc_rank", lit(nGroups) - col("length_desc_rank"))
      .withColumn("length_desc_rank_perc",
        Geo.roundHalfAway(col("length_desc_rank") / nGroups.toDouble, 4))
      .withColumn("length_asc_rank_perc",
        Geo.roundHalfAway(col("length_asc_rank") / nGroups.toDouble, 4))
      .withColumn("length_m_fraction_total", Geo.roundHalfAway(col("length_m") / tot, 4))
      .withColumn("length_m_fraction_longest",
        Geo.roundHalfAway(col("length_m") / longest, 4))

    val keptEdges = composite
      .join(labels.withColumnRenamed("nid", "csrc"), Seq("csrc"))
      .join(withRanks.select("comp"), Seq("comp"))
      .select(col("comp"), col("src"), col("dst"), col("inter"))
      .localCheckpoint(true)
    Stages(withGroup, withRanks, keptEdges)
  }

  /** Step 8: expand each kept component's edges + positions, peel.
    * Components above `shardThresholdEdges` contracted edges take the
    * sharded path (DistPeel): no task ever materializes them whole.
    */
  def geometryStage(
      stages: Stages, nodes: DataFrame, cfg: Config, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val Stages(withGroup, withRanks, keptEdges) = stages
    // P2 split mode is a global farthest-pair + A* walk — inherently
    // unshardable, so it always takes the single-task path
    val shardAt =
      if (cfg.splitIntoSinglePaths) Long.MaxValue else cfg.shardThresholdEdges
    val split = Hybrid.split("lump.geometry", keptEdges, "comp", shardAt)
    val chain = split.small(keptEdges)
      .withColumn("chain", concat(array(col("src")), col("inter"), array(col("dst"))))
      .select(col("comp"), col("src"), col("dst"), posexplode(col("chain")).as(Seq("pos", "nid")))
      .join(nodes, Seq("nid"))
    val geomsSmall = chain
      .select(col("comp"), col("src"), col("dst"), col("pos"), col("nid"),
        col("lat"), col("lon"))
      .as[(Long, Long, Long, Int, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (comp, rows) =>
        val byEdge = Local.boundedSeq(rows, s"P1 geometry (component $comp)")
          .groupBy(r => (r._2, r._3))
        val edges = byEdge.toSeq.map { case ((s, d), pts) =>
          val ordered = pts.sortBy(_._4)
          (s, d, ordered.map(_._5), ordered.map(p => (p._5, p._6, p._7)))
        }
        val pos: Map[Long, (Double, Double)] = edges.flatMap(_._4)
          .map(p => (p._1, (p._2, p._3))).toMap
        // local compress (C9) then peel (P1)
        val interMap = scala.collection.mutable.HashMap.empty[(Long, Long), Seq[Long]]
        edges.foreach { case (s, d, chainN, _) =>
          val inter = chainN.slice(1, chainN.length - 1)
          val (k, iv) = if (s <= d) ((s, d), inter) else ((d, s), inter.reverse)
          if (!interMap.contains(k)) interMap(k) = iv
        }
        val compressed = Local.compress(
          interMap.toSeq.map { case ((a, b), iv) => (a, b, iv) }, _ => false)
        val cMap = compressed.map { case (a, b, iv) => ((a, b), iv) }.toMap
        // num_nodes = vertex count AFTER degree-2 compression
        // (main.rs:611-632 runs before json_props at :652)
        val vertices = compressed.flatMap(e => Seq(e._1, e._2)).distinct
        val numNodes = vertices.size.toLong
        // P2: as-crow-flies single paths (main.rs:761-770, discovery
        // order, `.take(N)`); default: random peel (P1)
        val walks =
          if (cfg.splitIntoSinglePaths)
            graft.graph.LocalPaths
              .linesAsCrowFlies(compressed.map(e => (e._1, e._2)), pos)
              .take(cfg.onlyLongestNSplittedPaths.getOrElse(Int.MaxValue))
          else Local.peelLines(compressed.map(e => (e._1, e._2)))
        val expanded = walks.map { walk =>
          walk.head +: walk.sliding(2).flatMap {
            case Seq(a, b) =>
              val iv = if (a <= b) cMap((a, b)) else cMap((b, a)).reverse
              iv :+ b
            case _ => Nil
          }.toSeq
        }
        val coords = expanded.map(_.map(n =>
          (pos(n)._2, pos(n)._1))) // (lon, lat) GeoJSON order
        if (cfg.splitIntoSinglePaths)
          // one row per path — each serializes to its own feature with
          // dist_ends props (main.rs:788-797)
          expanded.indices.iterator.map { i =>
            (comp, Seq(expanded(i)), Seq(coords(i)), numNodes, i, vertices)
          }
        else Iterator((comp, expanded, coords, numNodes, -1, vertices))
      }
      .toDF("comp", "lines", "coords", "num_nodes", "path_idx", "vertices")
      .withColumn("line_idx", lit(-1L))
      .withColumn("seg_idx", lit(-1L))

    // sharded geometry for oversize components: one row PER SEGMENT of a
    // stitched line (each ≤ threshold edges), serialized as its own
    // LineString feature carrying the group props — the documented scale
    // deviation from the one-MultiLineString-per-group shape (whose
    // single row is itself O(component))
    val geoms = split.union(geomsSmall) {
      val bigEdges = split.big(keptEdges)
      val perEdge = bigEdges
        .withColumn("chain", concat(array(col("src")), col("inter"), array(col("dst"))))
        .select(col("comp"), col("src"), col("dst"),
          posexplode(col("chain")).as(Seq("pos", "nid")))
        .join(nodes, Seq("nid"))
        .groupBy("comp", "src", "dst")
        .agg(sort_array(collect_list(struct(col("pos"), col("nid"),
          col("lat"), col("lon")))).as("pts"))
        .select(col("comp"), col("src"), col("dst"),
          transform(col("pts"), p => p.getField("nid")).as("nids"),
          transform(col("pts"), p => p.getField("lat")).as("lats"),
          transform(col("pts"), p => p.getField("lon")).as("lons"),
          element_at(col("pts"), 1).getField("lat").as("lat1"),
          element_at(col("pts"), 1).getField("lon").as("lon1"))
      val segs = graft.graph.DistPeel.peelSegments(
        graft.graph.DistPeel.withChunk(perEdge, shardAt), spark)
      val numNodesBig = graft.graph.GraphBuild.compressedNumNodes(
        bigEdges.select("comp", "src", "dst"))
      segs
        .join(numNodesBig, Seq("comp"))
        .select(col("comp"),
          array(col("nids")).as("lines"),
          array(transform(arrays_zip(col("lons"), col("lats")),
            x => struct(x.getField("lons").as("_1"),
              x.getField("lats").as("_2")))).as("coords"),
          col("num_nodes"),
          lit(-1).as("path_idx"),
          array().cast("array<bigint>").as("vertices"),
          col("line_idx"), col("seg_idx"))
    }

    val joined = withRanks.join(geoms, Seq("comp"))
    if (!cfg.inclWayIds) joined.drop("vertices")
    else {
      // all_wayids (main.rs:46-62, 650-653): "w{id}" for every FILTERED
      // way touching a POST-compress vertex of the group graph, sorted by
      // id, deduped. The node→wayids index is global across groups, like
      // the reference's NodeIdWayIds. Sharded components contribute their
      // PILLAR vertexes through a distributed frame (no per-row vertex
      // arrays); the rare merge-order leftover vertexes of
      // parallel-chain/pure-cycle anomalies are excluded there —
      // documented deviation on the sharded path only.
      val nidWays = withGroup.select(col("wid"), explode(col("nids")).as("nid"))
        .distinct()
      val smallVerts = geoms
        .select(col("comp"), explode(col("vertices")).as("nid"))
      val wayIds = split.union(smallVerts) {
        val be = split.big(keptEdges)
        be.select(col("comp"), col("src").as("nid"))
          .union(be.select(col("comp"), col("dst").as("nid")))
          .groupBy("comp", "nid").agg(count(lit(1)).as("d"))
          .filter(col("d") =!= 2).select("comp", "nid")
      }.distinct()
        .join(nidWays, Seq("nid"))
        .groupBy("comp")
        .agg(sort_array(collect_set(col("wid"))).as("all_wayids"))
      joined.drop("vertices").join(wayIds, Seq("comp"), "left")
    }
  }

  /** Per-row feature serialization — runs ON EXECUTORS (the round-1 CLI
    * collected every feature to the driver first). Returns a
    * single-column frame of feature JSON ordered length-desc
    * (main.rs:661,742 — output ordering is part of parity); stream it
    * through `Writers.writeGeoJsonSeq`'s bounded `toLocalIterator`.
    */
  def featureJson(features: DataFrame): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    features
      // line_idx/seg_idx order the sharded components' segment rows
      // deterministically (−1 on the exact path)
      .orderBy(col("length_m").desc, col("comp").asc,
        col("line_idx").asc, col("seg_idx").asc)
      .map(serializeFeature)
      .toDF("feature")
  }

  /** The way-group `json_props` key/value pairs — the FULL reference set
    * (main.rs:634-655 base props + update_length_m_fraction_total
    * :1156-1172 + update_length_ranks :1174-1210), shared by the main
    * features, the frames output and the betweenness output (each carries
    * `wg.json_props`). Rendered through [[GeoJson.propsJson]] for
    * serde_json's BTreeMap-alphabetical key order.
    */
  def groupPropsKvs(r: org.apache.spark.sql.Row): Seq[(String, String)] = {
    val lengthM = r.getAs[Double]("length_m")
    val grp = r.getAs[collection.Seq[String]]("grp")
    def jstr(g: String) = if (g == null) "null" else GeoJson.jsonStr(g)
    Seq(
      "root_nodeid" -> r.getAs[Long]("root_nodeid").toString,
      "root_nodeid_120" -> (r.getAs[Long]("root_nodeid") % 120).toString,
      "length_m" -> GeoJson.numJson(Geo.roundHalfAway(lengthM, 1)),
      "length_m_int" -> math.round(lengthM).toString,
      "length_km" -> GeoJson.numJson(Geo.roundHalfAway(lengthM / 1000.0, 2)),
      "length_km_int" -> math.round(lengthM / 1000.0).toString,
      "tag_groups" -> grp.map(jstr).mkString("[", ",", "]"),
      "num_nodes" -> r.getAs[Long]("num_nodes").toString,
      "length_m_fraction_total" ->
        GeoJson.numJson(r.getAs[Double]("length_m_fraction_total")),
      "length_m_fraction_longest" ->
        GeoJson.numJson(r.getAs[Double]("length_m_fraction_longest")),
      "length_desc_rank" -> r.getAs[Long]("length_desc_rank").toString,
      "length_desc_rank_perc" ->
        GeoJson.numJson(r.getAs[Double]("length_desc_rank_perc")),
      "length_asc_rank" -> r.getAs[Long]("length_asc_rank").toString,
      "length_asc_rank_perc" ->
        GeoJson.numJson(r.getAs[Double]("length_asc_rank_perc"))) ++
      grp.zipWithIndex.map { case (g, i) => s"tag_group_$i" -> jstr(g) } ++
      (if (r.schema.fieldNames.contains("all_wayids"))
        Seq("all_wayids" ->
          Option(r.getAs[collection.Seq[Long]]("all_wayids")).getOrElse(Nil)
            .map(w => GeoJson.jsonStr(s"w$w")).mkString("[", ",", "]"))
      else Nil)
  }

  private def serializeFeature(r: org.apache.spark.sql.Row): String = {
    val coords = r.getAs[collection.Seq[collection.Seq[org.apache.spark.sql.Row]]]("coords")
      .map(_.map(p => (p.getDouble(0), p.getDouble(1))).toSeq).toSeq
    // P2 split mode: per-path dist_ends props (main.rs:788-797)
    val distKvs =
      if (r.getAs[Int]("path_idx") >= 0 && coords.nonEmpty && coords.head.nonEmpty) {
        val c = coords.head
        val distEnds = Geo.haversineM(c.head._2, c.head._1, c.last._2, c.last._1)
        Seq(
          "dist_ends_m" -> GeoJson.numJson(distEnds),
          "dist_ends_m_int" -> math.round(distEnds).toString,
          "dist_ends_km" -> GeoJson.numJson(distEnds / 1000.0),
          "dist_ends_km_int" -> math.round(distEnds / 1000.0).toString)
      } else Nil
    val geom =
      if (coords.length == 1) GeoJson.lineString(coords.head)
      else GeoJson.multiLineString(coords)
    GeoJson.feature(GeoJson.propsJson(groupPropsKvs(r) ++ distKvs), geom)
  }

  /** Collected GeoJSONSeq strings (test/fixture convenience; the CLI
    * streams [[featureJson]] instead).
    */
  def toGeoJsonSeq(features: DataFrame): Seq[String] =
    featureJson(features).collect().map(r => GeoJson.seqFrame(r.getString(0))).toSeq

  /** P6 CLI output — `--output-frames` (main.rs:871-975): per kept way
    * group (length ≥ `--frames-group-min-length-m`), the frame lines as
    * one MultiLineString feature carrying the GROUP's props (or one
    * LineString feature per line under `--save-as-linestrings`).
    * Executor-side like [[featureJson]].
    */
  def framesFeatureJson(
      features: DataFrame,
      minLengthM: Option[Double],
      saveAsLinestrings: Boolean): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    val base = minLengthM
      .map(m => features.filter(col("length_m") >= m)).getOrElse(features)
    base
      .orderBy(col("length_m").desc, col("comp").asc)
      .flatMap { r =>
        val lines = r.getAs[collection.Seq[collection.Seq[Long]]]("lines")
        val coords = r.getAs[collection.Seq[collection.Seq[org.apache.spark.sql.Row]]]("coords")
        val pos: Map[Long, (Double, Double)] = lines.zip(coords).flatMap {
          case (ns, cs) => ns.zip(cs).map { case (n, c) =>
            n -> (c.getDouble(1), c.getDouble(0)) // (lat, lon)
          }
        }.toMap
        val edges = lines.flatMap(_.sliding(2).collect {
          case scala.collection.Seq(a, b) => (a, b)
        }).toSeq
        val frames = graft.graph.LocalPaths.frames(edges, pos)
        val frameCoords = frames.map(_.map(n => (pos(n)._2, pos(n)._1)))
        val props = GeoJson.propsJson(groupPropsKvs(r))
        if (saveAsLinestrings)
          frameCoords.iterator.map(c =>
            GeoJson.feature(props, GeoJson.lineString(c)))
        else
          Iterator(GeoJson.feature(props, GeoJson.multiLineString(frameCoords)))
      }
      .toDF("feature")
  }
}
