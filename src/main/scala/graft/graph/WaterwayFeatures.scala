package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.geo.Geo
import graft.outputs.GeoJson
import graft.runtime.Hybrid

/** D16 — grouped-waterways GeoJSON features with the FULL nested
  * relationship JSON (down/main.rs:1908-2229): per tag group a
  * MultiLineString feature carrying stream levels, upstream stats,
  * through-path length, and the tributaries / distributaries /
  * side-channel / parent-river arrays with per-confluence inflow/outflow
  * objects, sorted as the reference sorts them. Property keys are emitted
  * in serde_json's (BTreeMap) alphabetical order for byte parity.
  *
  * Scale shape: relationship metadata is GROUP-count-sized (named rivers
  * + their junction-incident edges — the reference itself holds all
  * `TagGroupInfo` in memory), so it is aggregated with DataFrame ops and
  * collected/broadcast; the geometry walk over every member edge stays
  * distributed per group (`flatMapGroups`).
  */
object WaterwayFeatures {

  final case class GMeta(
      gkey: String,
      tag: Option[String],
      gid: Long,            // deterministic dense internal_groupid
      minNid: Long,
      upstreamM: Double,    // Σ flow over the group's end segments
      hasSinks: Boolean)

  /** Group-count-sized metadata bundle shared by the grouped-waterways
    * features, the upstreams file, and longest-source-mouth follow rules.
    */
  final case class GroupBundle(
      metas: Array[GMeta],
      byKey: Map[String, GMeta],
      levels: Map[Long, (Int, Seq[Int])], // gid → (stream level, code)
      sideChannelGroups: Set[String])     // gkeys with a parent channel

  private def num(v: Double, dp: Int): String =
    GeoJson.numJson(Geo.roundHalfAway(v, dp))

  /** Normalised edge frame: (gkey, tag, src, dst, len, flow). */
  def edgesWithMeta(
      tagGrouped: DataFrame, lens: DataFrame, flows: DataFrame): DataFrame =
    tagGrouped
      .withColumn("gkey", RiverRel.gkeyCol)
      .join(lens, Seq("src", "dst"))
      .join(flows, Seq("src", "dst"), "left")
      .select(col("gkey"), col("tag"), col("src"), col("dst"),
        col("len").cast("double"),
        coalesce(col("flow_m"), lit(0.0)).cast("double").as("flow"))
      .localCheckpoint(true)

  /** Build the group metadata. DRIVER memory is O(#groups): only the
    * per-group scalar rows (metas), the group-adjacency pairs feeding the
    * stream-level BFS (inherently sequential-global, as in the reference)
    * and the side-channel gkey set are collected. The junction-incident
    * edge set, the D13 relationship table and every per-confluence JSON
    * object are computed DISTRIBUTED and returned as the `relProps`
    * frame — one row per group holding its six relationship JSON arrays
    * (round-2 collected all junction-incident edges with positions to the
    * driver: O(junction-incident edges), 10⁷–10⁸ rows at 100× scale).
    *
    * @return (e, bundle, relProps(gkey, tributaries, branching,
    *         terminal, parents, side_channels, sea))
    */
  def groupBundle(
      tagGrouped: DataFrame, lens: DataFrame, flows: DataFrame,
      nodes: DataFrame): (DataFrame, GroupBundle, DataFrame) = {
    val spark = tagGrouped.sparkSession
    import spark.implicits._
    val e = edgesWithMeta(tagGrouped, lens, flows)

    // end segments (tag_group.rs:112-134): edges with no same-TAG-value
    // out-edge at dst; group upstream = Σ their flows (tag_group.rs:240-248)
    val endSegs = e.as("a").join(e.as("b"),
      col("b.src") === col("a.dst") && col("b.tag") <=> col("a.tag"),
      "left_anti")
    val upstreamPerG = endSegs.groupBy("gkey").agg(sum("flow").as("up"))
    // per-group sink NODES (global out-degree 0) — kept as a frame
    val sinksF = e.select(col("gkey"), col("dst").as("nid")).distinct()
      .join(e.select(col("src").as("nid")).distinct(), Seq("nid"), "left_anti")
      .localCheckpoint(true)
    val sinkCount = sinksF.groupBy("gkey").agg(count(lit(1)).as("n_sinks"))
    val confl = RiverRel.confluencesOf(e)
      .select("gkey", "nid").localCheckpoint(true)
    val metaRows = e.groupBy("gkey")
      .agg(first("tag").as("tag"), least(min("src"), min("dst")).as("min_nid"))
      .join(upstreamPerG, Seq("gkey"), "left")
      .join(sinkCount, Seq("gkey"), "left")
      .collect()
    val metas0 = metaRows.map { r =>
      GMeta(r.getAs[String]("gkey"), Option(r.getAs[String]("tag")),
        0L, r.getAs[Long]("min_nid"),
        Option(r.get(r.fieldIndex("up"))).map(_.asInstanceOf[Double]).getOrElse(0.0),
        Option(r.get(r.fieldIndex("n_sinks"))).exists(_.asInstanceOf[Long] > 0L))
    }.sortBy(m => (m.tag.isDefined, m.tag.getOrElse(""), m.minNid))
    val metas = metas0.zipWithIndex.map { case (m, i) => m.copy(gid = i.toLong) }
    val byKey = metas.map(m => m.gkey -> m).toMap

    // junction/sink-incident edges with positions — DISTRIBUTED frame
    val wanted = confl.select("nid").union(sinksF.select("nid")).distinct()
    val n1 = nodes.select(col("nid").as("src"), col("lat").as("slat"), col("lon").as("slon"))
    val n2 = nodes.select(col("nid").as("dst"), col("lat").as("dlat"), col("lon").as("dlon"))
    val ce = e.join(wanted.withColumnRenamed("nid", "src"), Seq("src"), "left_semi")
      .select(e.columns.map(col): _*)
      .union(e.join(wanted.withColumnRenamed("nid", "dst"), Seq("dst"), "left_semi")
        .select(e.columns.map(col): _*))
      .dropDuplicates("gkey", "src", "dst")
      .join(n1, Seq("src")).join(n2, Seq("dst"))
      .select("gkey", "src", "dst", "flow", "len", "slat", "slon", "dlat", "dlon")
      .localCheckpoint(true)
    // exploded by endpoint, for equi-joins against shared-node frames
    val cex = ce
      .withColumn("nid", explode(array(col("src"), col("dst"))))
      .localCheckpoint(true)

    // relationships (D13) — DISTRIBUTED
    val relsF = RiverRel.classifyPairs(tagGrouped, lens)
      .localCheckpoint(true)
    val sideChannelGroups = relsF
      .filter(col("rel") === RiverRel.ASideChannelB)
      .select("group_a").distinct().collect().map(_.getString(0)).toSet

    // stream levels (D14, tag_group.rs:468-536): group adjacency =
    // (parent with confluence at nid) × (child flowing IN at nid),
    // computed distributed; only the gkey pairs reach the driver (the
    // BFS itself is sequential-global, as in the reference).
    val inAt = cex.filter(col("nid") === col("dst"))
      .select(col("gkey").as("child"), col("nid")).distinct()
    val parentChild = confl.select(col("gkey").as("parent"), col("nid"))
      .join(inAt, Seq("nid"))
      .filter(col("parent") =!= col("child"))
      .select("parent", "child").distinct().collect()
      .map(r => (byKey(r.getString(0)).gid, byKey(r.getString(1)).gid))
    val levels = DownOps.streamLevels(
      parentChild.toSeq.distinct,
      metas.map(m => m.gid -> m.upstreamM).toMap,
      metas.filter(_.hasSinks).map(_.gid).toSeq)

    // ---- per-group relationship JSON arrays, DISTRIBUTED --------------
    // peer meta lookup is O(#groups) — broadcast
    val bPeer = spark.sparkContext.broadcast(
      metas.map(m => m.gkey ->
        (m.minNid, m.gid, m.tag, levels.get(m.gid).map(_._2))).toMap)

    // shared confluence nodes per ordered group pair (both directions)
    val cpair = confl.as("x").join(confl.as("y"),
        col("x.nid") === col("y.nid") && col("x.gkey") =!= col("y.gkey"))
      .select(col("x.gkey").as("owner"), col("y.gkey").as("peer"),
        col("x.nid").as("nid"))

    // relationship rows → (kind, owner, peer, edgesOf)
    def needOf(rel: String, kind: String) = relsF.filter(col("rel") === rel)
      .select(lit(kind).as("kind"), col("group_b").as("owner"),
        col("group_a").as("peer"), col("group_a").as("edgesOf"))
    val needDf = needOf(RiverRel.ATributaryB, "trib")
      .union(needOf(RiverRel.ABranchingDistributaryB, "branch"))
      .union(needOf(RiverRel.ATerminalDistributaryB, "term"))
      .union(relsF.filter(col("rel").isin(
          RiverRel.ATributaryB, RiverRel.ABranchingDistributaryB,
          RiverRel.ATerminalDistributaryB))
        .select(lit("parent").as("kind"), col("group_a").as("owner"),
          col("group_b").as("peer"), col("group_a").as("edgesOf")))

    // per (kind, owner, peer): the peer-entry JSON object + its total
    val hits = needDf
      .join(cpair, Seq("owner", "peer"))
      .join(cex.withColumnRenamed("gkey", "edgesOf"), Seq("edgesOf", "nid"))
      .dropDuplicates("kind", "owner", "peer", "src", "dst")
      .select(col("kind"), col("owner"), col("peer"), col("src"), col("dst"),
        col("flow"), col("len"), col("slat"), col("slon"),
        col("dlat"), col("dlon"))
    val entries = hits
      .as[(String, String, String, Long, Long, Double, Double,
        Double, Double, Double, Double)]
      .groupByKey(r => (r._1, r._2, r._3))
      .mapGroups { (key, it) =>
        val (kind, owner, peer) = key
        val atDst = kind == "trib"
        val inclLen = kind == "trib"
        val confs = it.toSeq.sortBy(r => (r._4, r._5)).map { r =>
          val (nid, plat, plon) =
            if (atDst) (r._5, r._10, r._11) else (r._4, r._8, r._9)
          val up = r._6 + (if (inclLen) r._7 else 0.0)
          (GeoJson.propsJson(Seq(
            "lat" -> num(plat, 7), "lon" -> num(plon, 7),
            "nid" -> nid.toString, "upstream_m" -> num(up, 1))), up)
        }
        val total = confs.map(_._2).sum
        val (minNid, gid, tag, code) = bPeer.value(peer)
        val kvs = Seq(
          "confluences" -> confs.map(_._1).mkString("[", ",", "]"),
          "min_nid" -> minNid.toString,
          "stream_level_code" ->
            code.map(_.mkString("[", ",", "]")).getOrElse("[]"),
          "tag_group_value" ->
            tag.map(GeoJson.jsonStr).getOrElse("null")) ++
          (kind match {
            case "trib" => Seq("inflow_m" -> num(total, 1))
            case "branch" | "term" =>
              Seq("outflow_m" -> num(total, 1), "dist_tg_idx" -> gid.toString)
            case _ => Nil
          })
        (owner, kind, GeoJson.propsJson(kvs), total, gid)
      }

    // distributaries_sea: the owner's own in-edges of its sink nodes
    val seaEntries = cex
      .join(sinksF, Seq("gkey", "nid"), "left_semi")
      .dropDuplicates("gkey", "src", "dst")
      .select("gkey", "src", "dst", "flow", "len", "dlat", "dlon")
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (gkey, it) =>
        val objs = it.toSeq.sortBy(r => (r._2, r._3)).map { r =>
          val up = r._4 + r._5
          (GeoJson.propsJson(Seq(
            "lat" -> num(r._6, 7), "lon" -> num(r._7, 7),
            "nid" -> r._3.toString, "upstream_m" -> num(up, 1))), up, r._2, r._3)
        }
        val arr = objs.sortBy(o => (-o._2, o._3, o._4)).map(_._1)
          .mkString("[", ",", "]")
        (gkey, arr)
      }.toDF("gkey", "sea")

    // side_channels: peer gid arrays per owner
    val sideArr = relsF.filter(col("rel") === RiverRel.ASideChannelB)
      .select(col("group_b").as("gkey"), col("group_a").as("peer"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroups { (gkey, it) =>
        val gids = it.map(x => bPeer.value(x._2)._2).toSeq.distinct.sorted
        (gkey, gids.mkString("[", ",", "]"))
      }.toDF("gkey", "side_channels")

    // per-owner arrays: trib/branch/term sorted flow-desc (stable over
    // gid order = (-total, gid)), parents in gid order
    val relArrays = entries
      .groupByKey(_._1)
      .mapGroups { (gkey, it) =>
        val es = it.toSeq
        def arr(kind: String, byFlow: Boolean) = {
          val ks = es.filter(_._2 == kind)
          val sorted =
            if (byFlow) ks.sortBy(x => (-x._4, x._5)) else ks.sortBy(_._5)
          sorted.map(_._3).mkString("[", ",", "]")
        }
        (gkey, arr("trib", byFlow = true), arr("branch", byFlow = true),
          arr("term", byFlow = true), arr("parent", byFlow = false))
      }.toDF("gkey", "tributaries", "branching", "terminal", "parents")

    val relProps = spark.createDataFrame(
        spark.sparkContext.parallelize(metas.toSeq.map(m => Tuple1(m.gkey))))
      .toDF("gkey")
      .join(relArrays, Seq("gkey"), "left")
      .join(sideArr, Seq("gkey"), "left")
      .join(seaEntries, Seq("gkey"), "left")
      .select(col("gkey"),
        coalesce(col("tributaries"), lit("[]")).as("tributaries"),
        coalesce(col("branching"), lit("[]")).as("branching"),
        coalesce(col("terminal"), lit("[]")).as("terminal"),
        coalesce(col("parents"), lit("[]")).as("parents"),
        coalesce(col("side_channels"), lit("[]")).as("side_channels"),
        coalesce(col("sea"), lit("[]")).as("sea"))
      .localCheckpoint(true)

    (e, GroupBundle(metas, byKey, levels, sideChannelGroups), relProps)
  }

  /** @param tagGrouped (src, dst, tag nullable, tag_group_nid)
    * @param lens (src, dst, len)
    * @param flows (src, dst, flow_m) — per-edge upstream
    * @param nodes (nid, lat, lon)
    * @param sizeThreshold groups up to this many edges run the exact
    *        single-task walk ([[graft.runtime.Hybrid]]; byte parity with
    *        the pinned fixtures); bigger groups take the scale path —
    *        directed chain contraction ([[DistContractDir]]) → pillar
    *        replay of the line walk (decisions only happen at junctions,
    *        so the replay visits constituent edges in the identical
    *        order) → distributed chain expansion and per-line rendering.
    *        On the scale path the group task holds O(pillar graph) +
    *        O(feature string bytes) — the string is the output row
    *        itself, the irreducible floor for a one-feature-per-group
    *        sink — instead of O(edges) of boxed tuples, hash maps and
    *        walk state. Scalar stats move from
    *        seq-order to shuffle-order summation (fp associativity only;
    *        rounded at 0.1 m — D16AtScaleSpec pins byte parity).
    * @return (gkey, feature) one pre-serialized Feature per tag group,
    *         minus groups dropped by `minLengthM`
    */
  def groupedWaterwayFeatures(
      tagGrouped: DataFrame,
      lens: DataFrame,
      flows: DataFrame,
      nodes: DataFrame,
      minLengthM: Option[Double] = None,
      precomputed: Option[(DataFrame, GroupBundle, DataFrame)] = None,
      sizeThreshold: Long = Hybrid.MaxLocalGroupRows)
      : DataFrame = {
    val spark = tagGrouped.sparkSession
    import spark.implicits._
    val (e, bundle, relProps) =
      precomputed.getOrElse(groupBundle(tagGrouped, lens, flows, nodes))
    val metas = bundle.metas
    val levels = bundle.levels
    val n1 = nodes.select(col("nid").as("src"), col("lat").as("slat"), col("lon").as("slon"))
    val n2 = nodes.select(col("nid").as("dst"), col("lat").as("dlat"), col("lon").as("dlon"))

    // relationship arrays were computed DISTRIBUTED in groupBundle; only
    // the finished group-level JSON strings reach the driver (O(#groups))
    val relByKey: Map[String, (String, String, String, String, String, String)] =
      relProps.collect().map { r =>
        r.getString(0) -> (r.getString(1), r.getString(2), r.getString(3),
          r.getString(4), r.getString(5), r.getString(6))
      }.toMap
    val empty = ("[]", "[]", "[]", "[]", "[]", "[]")

    val propsByKey: Map[String, Map[String, String]] = metas.map { m =>
      val (tribs, branching, terminal, parents, side, sea) =
        relByKey.getOrElse(m.gkey, empty)
      val base = Seq(
        "internal_groupid" -> m.gid.toString,
        "min_nid" -> m.minNid.toString,
        "tag_group_value" -> m.tag.map(GeoJson.jsonStr).getOrElse("null"),
        "tributaries" -> tribs,
        "branching_distributaries" -> branching,
        "terminal_distributaries" -> terminal,
        "parent_rivers" -> parents,
        "side_channels" -> side,
        "distributaries_sea" -> sea) ++
        levels.get(m.gid).toSeq.flatMap { case (lvl, code) => Seq(
          "stream_level" -> lvl.toString,
          "stream_level_code" -> code.mkString("[", ",", "]"),
          "stream_level_code_str" ->
            GeoJson.jsonStr(DownOps.streamLevelCodeStr(code)))
        }
      m.gkey -> base.toMap
    }.toMap
    val bProps = spark.sparkContext.broadcast(propsByKey)
    val minLen = minLengthM

    val split = Hybrid.split("grouped_waterways", e, "gkey", sizeThreshold)

    // ---- distributed per-group geometry + local stats ------------------
    val localRes = split.small(e).join(n1, Seq("src")).join(n2, Seq("dst"))
      .select(col("gkey"), col("src"), col("dst"), col("flow"), col("len"),
        col("slat"), col("slon"), col("dlat"), col("dlon"))
      .as[(String, Long, Long, Double, Double, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (gkey, it) =>
        val es = Local.boundedSeq(it, s"D16 grouped-waterways walk ($gkey)")
        val pos = (es.map(r => (r._2, (r._6, r._7))) ++
          es.map(r => (r._3, (r._8, r._9)))).toMap
        val cum = es.map(_._5).sum
        if (minLen.exists(cum < _)) Iterator.empty
        else {
          // line walk (main.rs:1964-2004): start at end segments (no
          // same-group out-edge at dst), follow unused in-edges of the
          // same group; branches queue as new line starts. Deterministic
          // in-edge pick: (flow desc, src asc).
          val srcSet = es.map(_._2).toSet
          val used = scala.collection.mutable.HashSet.empty[(Long, Long)]
          val byDst = es.groupBy(_._3)
          val ends = es.filterNot(x => srcSet.contains(x._3))
            .map(x => (x._2, x._3)).sortBy(identity)
          val stack = scala.collection.mutable.Stack
            .empty[(Long, Long)]
          stack.pushAll(ends.reverse)
          val lines = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
          while (stack.nonEmpty) {
            var seg = stack.pop()
            if (!used(seg)) {
              val line = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
              var continue = true
              while (continue) {
                if (used(seg)) continue = false
                else {
                  line += seg
                  used += seg
                  val ins = byDst.getOrElse(seg._1, Nil)
                    .map(x => (x._2, x._3, x._4))
                    .filterNot(x => used((x._1, x._2)))
                    .sortBy(x => (-x._3, x._1))
                  if (ins.isEmpty) continue = false
                  else {
                    stack.pushAll(ins.drop(1).map(x => (x._1, x._2)).reverse)
                    seg = (ins.head._1, ins.head._2)
                  }
                }
              }
              if (line.nonEmpty) lines += (line.last._1 +: line.reverse.map(_._2).toSeq)
            }
          }
          // any edges unreachable from an end segment (pure cycles —
          // contracted earlier, but be safe): one 2-point line each
          es.filterNot(x => used((x._2, x._3))).sortBy(x => (x._2, x._3))
            .foreach(x => lines += Seq(x._2, x._3))

          val flowsMap = es.map(x => ((x._2, x._3), x._4)).toMap
          val lensMap = es.map(x => ((x._2, x._3), x._5)).toMap
          val ups = es.map(_._4)
          // through-path: max over sources of shortest dist to a sink
          // (floods from the smaller endpoint side). Set membership, not
          // es.exists — the linear scan per node is O(V·E) on big groups.
          val dstSet = es.iterator.map(_._3).toSet
          val srcs = es.map(_._2).distinct.filterNot(dstSet.contains)
          val sinks = es.map(_._3).distinct.filterNot(srcSet.contains)
          val through = DownOps.throughPathLength(
            es.map(x => (x._2, x._3, x._5)), srcs, sinks)
          if (minLen.exists(through < _)) Iterator.empty
          else {
            val stats = Seq(
              "cum_length_m" -> num(cum, 1),
              "length_m" -> num(through, 1),
              "min_upstream_m" -> num(if (ups.isEmpty) 0.0 else ups.min, 1),
              "max_upstream_m" -> num(if (ups.isEmpty) 0.0 else ups.max, 1),
              "mean_upstream_m" ->
                num(if (ups.isEmpty) 0.0 else ups.sum / ups.length, 1))
            val props = bProps.value.getOrElse(gkey, Map.empty) ++ stats
            val coords = lines.toSeq.map(_.map(n => (pos(n)._2, pos(n)._1)))
            Iterator((gkey, GeoJson.feature(
              GeoJson.propsJson(props), GeoJson.multiLineString(coords))))
          }
        }
      }
      .toDF("gkey", "feature")

    split.union(localRes)(groupedFeaturesAtScale(
      split.big(e).select("gkey", "src", "dst", "len", "flow"),
      nodes, bProps, minLen, spark))
  }

  /** One macro edge of the contracted pillar multigraph, as the replay
    * walk sees it: `lastFlow`/`lastSrc` are the chain's final constituent
    * edge's attributes — the only ones the walk's junction decisions read.
    */
  private final case class PillarEdge(
      id: Int, src: Long, dst: Long, len: Double,
      lastFlow: Double, lastSrc: Long, cyc: Boolean)

  /** D16 scale path for groups above the hybrid gate: directed chain
    * contraction → per-group pillar replay of the reference's line walk
    * (identical constituent-edge order: interior chain nodes have exactly
    * one in-edge, so every decision happens at a pillar) → distributed
    * chain expansion, per-line coordinate rendering, and one final
    * concat per group whose task memory is the feature string itself.
    *
    * @param bigE (gkey, src, dst, len, flow) — edges of the big groups
    */
  private[graft] def groupedFeaturesAtScale(
      bigE: DataFrame,
      nodes: DataFrame,
      bProps: org.apache.spark.broadcast.Broadcast[Map[String, Map[String, String]]],
      minLen: Option[Double],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    // dense long id per big group — only groups above the cap land here,
    // so this driver set is tiny by construction
    val gkeys = bigE.select("gkey").distinct()
      .collect().map(_.getString(0)).sorted
    val gidF = gkeys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toSeq.toDF("gkey", "g")
    val bRev = spark.sparkContext.broadcast(
      gkeys.zipWithIndex.map { case (k, i) => i.toLong -> k }.toMap)

    val e = bigE.join(broadcast(gidF), Seq("gkey"))
      .select(col("g"), col("src"), col("dst"), col("len"), col("flow"))
      .localCheckpoint(true)

    // per-group scalar stats, distributed (fp: shuffle-order sums)
    val stats = e.groupBy("g").agg(
      sum("len").as("cum"), min("flow").as("mnf"), max("flow").as("mxf"),
      sum("flow").as("sf"), count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val passCum = minLen.map(m => stats.filter(col("cum") >= m)).getOrElse(stats)
    val eKept = e.join(passCum.select("g"), Seq("g"), "left_semi")

    val contracted = DistContractDir.contract(eKept, spark, "D16 contraction")
      .localCheckpoint(true)

    // pillar replay per group: the walk + through-path over macro edges
    // only — NO `inter` arrays in this task
    val rep = contracted
      .select(col("g"), col("src"), col("dst"), col("len"),
        col("last_flow"), col("last_src"), col("is_cycle"))
      .as[(Long, Long, Long, Double, Double, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val ms = Local.boundedSeq(it, s"D16 pillar replay (group $g)")
          .zipWithIndex
          .map { case ((_, s, d, l, f, ls, cyc), i) =>
            PillarEdge(i, s, d, l, f, ls, cyc) }
        val walkable = ms.filterNot(_.cyc)
        val srcSet = walkable.map(_.src).toSet
        val byDst = walkable.groupBy(_.dst)
        val used = scala.collection.mutable.HashSet.empty[Int]
        val stack = scala.collection.mutable.Stack.empty[PillarEdge]
        // end segments = macros whose dst has no out-edge, by the flat
        // walk's (edge src, edge dst) = (lastSrc, dst) sort
        stack.pushAll(walkable.filterNot(m => srcSet.contains(m.dst))
          .sortBy(m => (m.lastSrc, m.dst)).reverse)
        val lines = scala.collection.mutable.ArrayBuffer.empty[Seq[PillarEdge]]
        while (stack.nonEmpty) {
          var seg = stack.pop()
          if (!used(seg.id)) {
            val line = scala.collection.mutable.ArrayBuffer.empty[PillarEdge]
            var continue = true
            while (continue) {
              if (used(seg.id)) continue = false
              else {
                line += seg
                used += seg.id
                val ins = byDst.getOrElse(seg.src, Seq.empty)
                  .filterNot(m => used(m.id))
                  .sortBy(m => (-m.lastFlow, m.lastSrc))
                if (ins.isEmpty) continue = false
                else {
                  stack.pushAll(ins.drop(1).reverse)
                  seg = ins.head
                }
              }
            }
            if (line.nonEmpty) lines += line.reverse.toSeq
          }
        }
        val leftovers = ms.filter(m => m.cyc || !used(m.id))
        val dstSet = ms.map(_.dst).toSet
        val allSrc = ms.map(_.src).toSet
        val msrcs = ms.map(_.src).distinct.filterNot(dstSet)
        val msinks = ms.map(_.dst).distinct.filterNot(allSrc)
        val through = DownOps.throughPathLength(
          ms.map(m => (m.src, m.dst, m.len)), msrcs, msinks)
        lines.iterator.zipWithIndex.flatMap { case (line, li) =>
          line.iterator.zipWithIndex.map { case (m, si) =>
            (g, 0, li.toLong, si, m.lastSrc, m.dst, 0.0) }
        } ++
          leftovers.iterator.map(m => (g, 1, 0L, 0, m.lastSrc, m.dst, 0.0)) ++
          Iterator((g, 2, lines.length.toLong, 0, 0L, 0L, through))
      }
      .toDF("g", "kind", "li", "si", "lsrc", "mdst", "thr")
      .localCheckpoint(true)

    val passThr0 = rep.filter(col("kind") === 2)
      .select(col("g"), col("li").as("nwalk"), col("thr"))
    val passThr = minLen.map(m => passThr0.filter(col("thr") >= m))
      .getOrElse(passThr0)
      .join(stats, Seq("g"))
      .localCheckpoint(true)

    // macro lookup keyed by the chain's FINAL constituent edge — a real
    // graph edge owned by exactly one macro, hence a unique content key
    val macroF = contracted.select(col("g"), col("last_src").as("lsrc"),
      col("dst").as("mdst"), col("src").as("msrc"), col("inter"))

    // walk lines → per-macro nid slices, exploded (tasks hold one row)
    val walkNids = rep.filter(col("kind") === 0)
      .join(passThr.select("g"), Seq("g"), "left_semi")
      .join(macroF, Seq("g", "lsrc", "mdst"))
      .withColumn("nids", when(col("si") === 0,
          concat(array(col("msrc")), col("inter"), array(col("mdst"))))
        .otherwise(concat(col("inter"), array(col("mdst")))))
      .select(col("g"), col("li"), col("si"),
        posexplode(col("nids")).as(Seq("k", "nid")))

    // leftover (cycle-fallback) macros expand to constituent edges; flat
    // parity: one 2-point line per edge, per-group (src, dst) order,
    // line indexes after the walk lines
    val loEdges = rep.filter(col("kind") === 1)
      .join(passThr.select("g", "nwalk"), Seq("g"))
      .join(macroF, Seq("g", "lsrc", "mdst"))
      .withColumn("path",
        concat(array(col("msrc")), col("inter"), array(col("mdst"))))
      .withColumn("p", explode(expr(
        "transform(sequence(1, size(path) - 1), " +
          "i -> struct(element_at(path, i) as esrc, element_at(path, i + 1) as edst))")))
      .select(col("g"), col("nwalk"), col("p.esrc"), col("p.edst"))
    val loNids = loEdges
      .withColumn("li", col("nwalk") +
        row_number().over(Window.partitionBy("g").orderBy("esrc", "edst")) - 1)
      .withColumn("kn", explode(array(
        struct(lit(0).as("k"), col("esrc").as("nid")),
        struct(lit(1).as("k"), col("edst").as("nid")))))
      .select(col("g"), col("li"), lit(0).as("si"),
        col("kn.k").as("k"), col("kn.nid").as("nid"))

    // per-line coordinate rendering: task memory O(line)
    val lineJson = walkNids.unionByName(loNids)
      .join(nodes.select("nid", "lat", "lon"), Seq("nid"))
      .select(col("g"), col("li").cast("long"), col("si").cast("int"),
        col("k").cast("int"), col("lon"), col("lat"))
      .as[(Long, Long, Int, Int, Double, Double)]
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (key, it) =>
        val pts = it.toSeq.sortBy(r => (r._3, r._4))
        (key._1, key._2,
          pts.map(p => GeoJson.fmtCoord(p._5, p._6)).mkString("[", ",", "]"))
      }

    // feature assembly: one concat per group — memory is the output
    // string itself, the floor for a one-feature-per-group sink
    val featStr = lineJson
      .groupByKey(_._1)
      .mapGroups { (g, it) =>
        (g, it.toSeq.sortBy(_._2).map(_._3).mkString(","))
      }
      .toDF("g", "coords")

    featStr.join(passThr, Seq("g"))
      .select(col("g"), col("coords"), col("thr"), col("cum"),
        col("mnf"), col("mxf"), col("sf"), col("cnt"))
      .as[(Long, String, Double, Double, Double, Double, Double, Long)]
      .map { case (g, coords, thr, cum, mnf, mxf, sf, cnt) =>
        val gkey = bRev.value(g)
        val statsProps = Seq(
          "cum_length_m" -> num(cum, 1),
          "length_m" -> num(thr, 1),
          "min_upstream_m" -> num(mnf, 1),
          "max_upstream_m" -> num(mxf, 1),
          "mean_upstream_m" -> num(sf / cnt, 1))
        val props = bProps.value.getOrElse(gkey, Map.empty) ++ statsProps
        (gkey, GeoJson.feature(GeoJson.propsJson(props),
          s"""{"coordinates":[$coords],"type":"MultiLineString"}"""))
      }
      .toDF("gkey", "feature")
  }

  /** Upstreams-file features (down/main.rs:1810-1860): one 2-point
    * LineString per flow segment with `nids`, `from_upstream_m`,
    * `to_upstream_m`, optional `from_upstream_m_<N>` multiples,
    * `flow_tag_group` / `tag_group_value` / `stream_level*` from the
    * edge's tag group, and the assigned end's nid / upstream / tags.
    * Keys in serde alphabetical order.
    *
    * @param e (gkey, tag, src, dst, len, flow) from [[edgesWithMeta]]
    * @param assignment (nid, end_nid)
    * @param endMeta (end_nid, end_upstream_m, tag_<key>…)
    */
  def upstreamFeatures(
      e: DataFrame,
      assignment: DataFrame,
      endMeta: DataFrame,
      nodes: DataFrame,
      bundle: GroupBundle,
      endTagKeys: Seq[String],
      minUpstreamM: Option[Double] = None,
      fromUpstreamMultiples: Seq[Double] = Nil): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // dense flow_tag_group id per distinct tag value (reference: tagid)
    val tagIds = bundle.metas.flatMap(_.tag).distinct.sorted.zipWithIndex.toMap
    val info = bundle.metas.map { m =>
      m.gkey -> (m.tag, bundle.levels.get(m.gid))
    }.toMap
    val bInfo = spark.sparkContext.broadcast((tagIds, info))
    val n1 = nodes.select(col("nid").as("src"), col("lat").as("slat"), col("lon").as("slon"))
    val n2 = nodes.select(col("nid").as("dst"), col("lat").as("dlat"), col("lon").as("dlon"))
    val tagCols = endTagKeys.map(k => s"tag_$k")
    val meta = endMeta.select(
      (col("end_nid") +: col("end_upstream_m").cast("double") +:
        tagCols.map(col)): _*)
    val base = e
      .filter(minUpstreamM
        .map(m => col("flow") >= m || (col("flow") + col("len")) >= m)
        .getOrElse(lit(true)))
      .join(assignment.select(col("nid").as("dst"), col("end_nid")), Seq("dst"), "left")
      .join(meta, Seq("end_nid"), "left")
      .join(n1, Seq("src")).join(n2, Seq("dst"))
    base.select((Seq(col("gkey"), col("src"), col("dst"), col("flow"),
        col("len"), col("slat"), col("slon"), col("dlat"), col("dlon"),
        col("end_nid"), col("end_upstream_m")) ++ tagCols.map(col)): _*)
      .map { r =>
        val (tagIdsV, infoV) = bInfo.value
        val gkey = r.getString(0)
        val (src, dst) = (r.getLong(1), r.getLong(2))
        val (flow, len) = (r.getDouble(3), r.getDouble(4))
        val to = flow + len
        val (tag, lvl) = infoV.getOrElse(gkey, (None, None))
        val props = Seq(
          "nids" -> GeoJson.jsonStr(s"$src,$dst"),
          "from_upstream_m" -> num(flow, 1),
          "to_upstream_m" -> num(to, 1),
          "flow_tag_group" ->
            tag.flatMap(tagIdsV.get).map(_.toString).getOrElse("null"),
          "tag_group_value" -> tag.map(GeoJson.jsonStr).getOrElse("null"),
          "stream_level" -> lvl.map(_._1.toString).getOrElse("null"),
          "stream_level_code" ->
            lvl.map(_._2.mkString("[", ",", "]")).getOrElse("null"),
          "stream_level_code_str" -> lvl
            .map(l => GeoJson.jsonStr(DownOps.streamLevelCodeStr(l._2)))
            .getOrElse("null"),
          "end_nid" ->
            (if (r.isNullAt(9)) "null" else r.getLong(9).toString),
          "end_upstream_m" ->
            (if (r.isNullAt(10)) "null" else num(r.getDouble(10), 1))) ++
          // key uses Rust Display of the multiple ("100", not "100.0");
          // value is the rounded multiple, serde-serialized
          fromUpstreamMultiples.map(m =>
            s"from_upstream_m_${graft.outputs.Writers.rustNum(m)}"
              -> GeoJson.numJson(Geo.roundMult(flow, m))) ++
          endTagKeys.zipWithIndex.collect {
            case (k, i) if !r.isNullAt(11 + i) =>
              s"end_tag:$k" -> GeoJson.jsonStr(r.getString(11 + i))
          }
        val coords = Seq((r.getDouble(6), r.getDouble(5)),
          (r.getDouble(8), r.getDouble(7)))
        (src, dst, flow,
          GeoJson.feature(GeoJson.propsJson(props), GeoJson.lineString(coords)))
      }
      .toDF("src", "dst", "from_upstream_m", "feature")
  }
}
