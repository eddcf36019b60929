package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.geo.Geo
import graft.runtime.Hybrid

/** Remaining directed-flow ("osm-lump-ways-down") operators:
  * D6 expanded edge lengths, D2 loop output, S8/S10 loop stats sinks,
  * S9 ends ranking, D11 upstreams mini-segments, D12 tag-group CC.
  */
object DownOps {

  /** D6 — per contracted edge: Σ haversine over the expanded chain
    * (src ++ inter ++ dst), down/main.rs:795-803. One explode + position
    * join + regroup, then a codegen'd `aggregate()` higher-order function
    * sums consecutive haversines inside the row — no per-edge window
    * (the round-2 plan paid an extra exchange + sort for a lag() window
    * keyed by eid before re-aggregating).
    * @param edges (src, dst, inter: array<long>) + any other columns
    * @param nodes (nid, lat, lon)
    */
  def edgeLengths(edges: DataFrame, nodes: DataFrame): DataFrame = {
    edges
      // content key, NOT monotonically_increasing_id: stable if the frame
      // is re-evaluated across actions without a checkpoint. Duplicate
      // (src, dst, inter) rows collapse — upstream edge sets are already
      // deduplicated per (src, dst, tag)
      .withColumn("eid", xxhash64(col("inter")))
      .withColumn("chain", concat(array(col("src")), col("inter"), array(col("dst"))))
      .select(col("eid"), col("src"), col("dst"),
        posexplode(col("chain")).as(Seq("pos", "nid")))
      .join(nodes, Seq("nid"))
      .groupBy("eid", "src", "dst")
      .agg(sort_array(collect_list(struct(col("pos"), col("lat"), col("lon"))))
        .as("pts"))
      // native one-pass chain sum (graft.functions.ChainHaversineM):
      // bit-equal to the aggregate() HOF fold it replaced (GeoExprsSpec),
      // including the <2-point → 0.0 guard, without the interpreted
      // per-point element_at + trig tree walk
      .withColumn("len",
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.ChainHaversineM(
            org.apache.spark.sql.GraftColumnBridge.expression(col("pts")))))
      .select("src", "dst", "len")
  }

  /** D2 — loops output: one row per non-singleton SCC with
    * `root_nid` (min expanded nid), `num_nodes` = the count of EXPANDED
    * intra-SCC 2-point segments (the reference's `cycle.len()` after
    * `expand_directed`, down/main.rs:517-529,582 — NOT the member-node
    * count; they diverge on chorded/figure-eight SCCs), `length_m`
    * (Σ intra-SCC segment lengths, 1 dp), sorted distinct expanded-node
    * `nodes` string (down/main.rs:544-663). Areas come from a PIP join
    * done by the caller on the loop geocode point.
    */
  def loops(
      edges: DataFrame, nodes: DataFrame,
      sccOpt: Option[DataFrame] = None): DataFrame = {
    val scc = sccOpt.getOrElse(
      Scc.run(edges.select("src", "dst")).localCheckpoint(true))
    val intra0 = edges
      .join(scc.withColumnRenamed("nid", "src").withColumnRenamed("scc", "s1"), Seq("src"))
      .join(scc.withColumnRenamed("nid", "dst").withColumnRenamed("scc", "s2"), Seq("dst"))
      .filter(col("s1") === col("s2"))
    val intra = (if (intra0.columns.contains("inter")) intra0
      else intra0.withColumn("inter", array().cast("array<long>")))
      .withColumn("chain",
        concat(array(col("src")), col("inter"), array(col("dst"))))
    val withLen = if (intra0.columns.contains("inter")) {
      edgeLengths(intra0.select("src", "dst", "inter"), nodes)
        .join(intra0.select("src", "dst", "s1"), Seq("src", "dst"))
    } else {
      intra0
        .join(nodes.select(col("nid").as("src"), col("lat").as("lat1"),
          col("lon").as("lon1")), Seq("src"))
        .join(nodes.select(col("nid").as("dst"), col("lat").as("lat2"),
          col("lon").as("lon2")), Seq("dst"))
        .withColumn("len",
          Geo.haversineM(col("lat1"), col("lon1"), col("lat2"), col("lon2")))
        .select("src", "dst", "len", "s1")
    }
    val segCounts = intra
      .groupBy(col("s1").as("scc"))
      .agg(sum(size(col("chain")) - 1).as("num_nodes"))
    val members = intra
      .select(col("s1").as("scc"), explode(col("chain")).as("nid"))
      .distinct()
      .groupBy("scc").agg(
        min("nid").as("root_nid"),
        concat_ws(",", transform(sort_array(collect_list(col("nid"))),
          n => concat(lit("n"), n.cast("string")))).as("nodes"))
      .join(segCounts, Seq("scc"))
    withLen
      .groupBy(col("s1").as("scc"))
      .agg(Geo.roundHalfAway(sum("len"), 1).as("length_m"),
        sum("len").as("length_m_raw"))
      .join(members, Seq("scc"))
      .join(nodes.select(col("nid").as("root_nid"),
        col("lat").as("root_lat"), col("lon").as("root_lon")), Seq("root_nid"))
      .select("scc", "root_nid", "num_nodes", "length_m", "length_m_raw",
        "nodes", "root_lat", "root_lon")
  }

  /** D2 — loops GeoJSON features (down/main.rs:568-604): props
    * `root_nid`, `num_nodes`, `length_m` (1 dp), optional `nodes` string,
    * `area_<i>` / `areas` / `areas_s` (areas sorted longest-code-first,
    * `unknown_area` when none) — serde-alphabetical key order; geometry =
    * the loop's intra-SCC edges peeled into merged lines.
    *
    * @param loopAreas (scc, area) from a PIP join; may be empty
    * @return (scc, length_m_raw, areas, feature)
    */
  /** Loop geometry per SCC: peeled walks as a MultiLineString, plus the
    * FIRST line's FIRST coordinate — the reference's loop geocode point
    * (down/main.rs:573-576 `coords[0][0]`), used for the area PIP join.
    * @return (scc, geom, first_lat, first_lon)
    */
  def loopGeometry(
      edges: DataFrame, // (src, dst)
      nodes: DataFrame,
      scc: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    import graft.outputs.GeoJson
    val intra = edges
      .join(scc.withColumnRenamed("nid", "src").withColumnRenamed("scc", "s1"), Seq("src"))
      .join(scc.withColumnRenamed("nid", "dst").withColumnRenamed("scc", "s2"), Seq("dst"))
      .filter(col("s1") === col("s2"))
      .join(nodes.select(col("nid").as("src"), col("lat").as("slat"),
        col("lon").as("slon")), Seq("src"))
      .join(nodes.select(col("nid").as("dst"), col("lat").as("dlat"),
        col("lon").as("dlon")), Seq("dst"))
    intra
      .select(col("s1").as("scc"), col("src"), col("dst"),
        col("slat"), col("slon"), col("dlat"), col("dlon"))
      .as[(Long, Long, Long, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (sccId, it) =>
        val es = it.toSeq
        val pos = (es.map(x => (x._2, (x._4, x._5))) ++
          es.map(x => (x._3, (x._6, x._7)))).toMap
        val walks = Local.peelLines(es.map(x => (x._2, x._3)).sorted)
        val coords = walks.map(_.map(n => (pos(n)._2, pos(n)._1)))
        val first = pos(walks.head.head)
        (sccId, GeoJson.multiLineString(coords), first._1, first._2)
      }
      .toDF("scc", "geom", "first_lat", "first_lon")
  }

  def loopFeatures(
      edges: DataFrame, // (src, dst)
      nodes: DataFrame,
      scc: DataFrame,
      loopsDf: DataFrame, // from [[loops]]
      loopAreas: DataFrame, // (scc, area)
      inclNids: Boolean,
      geomOpt: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    import graft.outputs.GeoJson
    val geom = geomOpt.getOrElse(loopGeometry(edges, nodes, scc))
      .select("scc", "geom")
    val areasAgg = loopAreas.groupBy("scc")
      .agg(collect_list("area").as("areas"))
    loopsDf.join(areasAgg, Seq("scc"), "left").join(geom, Seq("scc"))
      .select(col("scc"), col("root_nid"), col("num_nodes"), col("length_m"),
        col("length_m_raw"), col("nodes"), col("areas"), col("geom"))
      .map { r =>
        val areas0 = Option(r.getAs[collection.Seq[String]]("areas"))
          .map(_.toSeq).getOrElse(Nil)
        // longest-code-first, then alpha, matching sort_by_key(-len)
        val areas = (if (areas0.isEmpty) Seq("unknown_area") else areas0)
          .sortBy(a => (-a.length, a))
        val props = Seq(
          "root_nid" -> r.getAs[Long]("root_nid").toString,
          "num_nodes" -> r.getAs[Long]("num_nodes").toString,
          "length_m" -> GeoJson.numJson(r.getAs[Double]("length_m")),
          "areas_s" -> GeoJson.jsonStr(areas.mkString(",", ",", ",")),
          "areas" -> areas.map(GeoJson.jsonStr).mkString("[", ",", "]")) ++
          areas.zipWithIndex.map { case (a, i) =>
            s"area_$i" -> GeoJson.jsonStr(a)
          } ++
          (if (inclNids) Seq("nodes" -> GeoJson.jsonStr(r.getAs[String]("nodes")))
           else Nil)
        (r.getAs[Long]("scc"), r.getAs[Double]("length_m_raw"),
          areas,
          GeoJson.feature(GeoJson.propsJson(props), r.getAs[String]("geom")))
      }
      .toDF("scc", "length_m_raw", "areas", "feature")
  }

  /** S8 — per-area loop stats: (area, loops_count, loops_length_m)
    * (loops_csv_stats.rs:8-47). `loopAreas` = (scc, area) from a PIP join.
    */
  def loopStats(loops: DataFrame, loopAreas: DataFrame): DataFrame =
    loops.join(loopAreas, Seq("scc"), "left")
      .groupBy(coalesce(col("area"), lit("unknown_area")).as("area"))
      .agg(count(lit(1)).as("loops_count"),
        Geo.roundHalfAway(sum("length_m"), 1).as("loops_length_m"))

  /** S10 — OpenMetrics rendering of [[loopStats]]
    * (openmetrics.rs:8-44: `waterwaymap_loops_{count,length_m}{area=…} v ts`).
    */
  def openMetrics(stats: Seq[(String, Long, Double)], epochSec: Long): String = {
    val sb = new StringBuilder
    sb.append("# TYPE waterwaymap_loops_count gauge\n")
    stats.sortBy(_._1).foreach { case (area, n, _) =>
      sb.append(s"""waterwaymap_loops_count{area="$area"} $n $epochSec\n""")
    }
    sb.append("# TYPE waterwaymap_loops_length_m gauge\n")
    stats.sortBy(_._1).foreach { case (area, _, len) =>
      sb.append(s"""waterwaymap_loops_length_m{area="$area"} $len $epochSec\n""")
    }
    sb.append("# EOF\n")
    sb.toString
  }

  /** S9 — ends CSV rows: rank ends by upstream desc (1-based), keep
    * `upstream_m > 1.0` (ends_csv.rs:76), optional min-upstream / top-N;
    * lat/lng rounded to 7 dp (ends_csv.rs:92-93).
    */
  def endsRanked(
      endUpstream: DataFrame, // (nid, upstream_m)
      nodes: DataFrame,
      minUpstreamM: Option[Double] = None,
      topN: Option[Int] = None): DataFrame = {
    val base = endUpstream
      .filter(col("upstream_m") > 1.0)
      .filter(minUpstreamM.map(m => col("upstream_m") >= m).getOrElse(lit(true)))
    val ranked = graft.runtime.Ranks.withGlobalRowNumber(base,
        Seq(col("upstream_m").desc, col("nid").asc), "upstream_m_rank")
      .join(nodes, Seq("nid"))
      .select(col("nid"),
        Geo.roundHalfAway(col("upstream_m"), 1).as("upstream_m"),
        col("upstream_m_rank"),
        Geo.roundHalfAway(col("lat"), 7).as("lat"),
        Geo.roundHalfAway(col("lon"), 7).as("lng"))
    topN.map(n => ranked.filter(col("upstream_m_rank") <= n)).getOrElse(ranked)
  }

  /** Column-level JSON string escaping, byte-identical to
    * [[graft.outputs.GeoJson.jsonStr]] (and serde_json): backslash first,
    * then quote, the short escapes, and `\u00xx` for every remaining
    * control char < 0x20 — tag values go into feature JSON raw otherwise.
    */
  private def jsonEscapeCol(c: Column): Column = {
    val base = regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")
    (0 until 0x20).foldLeft(base) { (acc, i) =>
      val rep = i.toChar match {
        case '\b' => "\\\\b"
        case '\t' => "\\\\t"
        case '\n' => "\\\\n"
        case '\f' => "\\\\f"
        case '\r' => "\\\\r"
        case _    => f"\\\\u$i%04x"
      }
      regexp_replace(acc,
        java.util.regex.Pattern.quote(i.toChar.toString), rep)
    }
  }

  /** S9 — ends CSV with the exact reference columns (ends_csv.rs:22-31,
    * 85-99): `timestamp,iso_datetime,upstream_m,upstream_m_rank,nid,lat,
    * lng[,<ends-tag values>…]`; filters `upstream_m > 1.0`,
    * `--ends-csv-min-length-m`, `--ends-csv-only-tagged` (any end tag
    * set), sort upstream desc (tie → nid asc, deterministic where the
    * reference is input-order-stable), `--ends-csv-only-largest-n`
    * truncation, 1-based rank AFTER truncation. Values use Rust
    * `Display` number formatting. Streamed via toLocalIterator — a
    * single ordered CSV sink, bounded driver memory.
    *
    * @param meta (nid, tag_<key> …) from [[Rescans.endsMembership]]
    * @return (header, rows)
    */
  def endsCsv(
      endUpstream: DataFrame, // (nid, upstream_m)
      nodes: DataFrame,       // (nid, lat, lon)
      meta: DataFrame,        // (nid, tag_<key>…) — may have no tag cols
      endTagKeys: Seq[String],
      latestTimestamp: Long,
      onlyTagged: Boolean = false,
      minLengthM: Option[Double] = None,
      onlyLargestN: Option[Long] = None): (Seq[String], Iterator[Seq[String]]) = {
    import scala.jdk.CollectionConverters._
    import graft.outputs.Writers.rustNum
    val iso = java.time.Instant.ofEpochSecond(latestTimestamp).toString
    val tagCols = endTagKeys.map(k => s"tag_$k")
    val base0 = endUpstream
      .filter(col("upstream_m") > 1.0)
      .filter(minLengthM.map(m => col("upstream_m") >= m).getOrElse(lit(true)))
      .join(meta, Seq("nid"), "left")
    val base = if (onlyTagged && tagCols.nonEmpty)
      base0.filter(tagCols.map(c => col(c).isNotNull).reduce(_ || _))
    else base0
    val sorted = base.join(nodes, Seq("nid"))
      .orderBy(col("upstream_m").desc, col("nid").asc)
    val header = Seq("timestamp", "iso_datetime", "upstream_m",
      "upstream_m_rank", "nid", "lat", "lng") ++ endTagKeys
    val it = sorted.toLocalIterator().asScala
    val limited = onlyLargestN.map(n => it.take(n.toInt)).getOrElse(it)
    val rows = limited.zipWithIndex.map { case (r, i) =>
      Seq(latestTimestamp.toString, iso,
        rustNum(Geo.roundHalfAway(r.getAs[Double]("upstream_m"), 1)),
        (i + 1).toString,
        r.getAs[Long]("nid").toString,
        rustNum(Geo.roundHalfAway(r.getAs[Double]("lat"), 7)),
        rustNum(Geo.roundHalfAway(r.getAs[Double]("lon"), 7))) ++
        tagCols.map(c => Option(r.getAs[String](c)).getOrElse(""))
    }
    (header, rows)
  }

  /** D8 — ends GeoJSON features (down/main.rs:1067-1108): one Point
    * feature per end with `upstream_m` (1 dp), `nid`,
    * `is_in:<filter-display>` booleans + numeric `is_in_count`, and
    * `tag:<key>` values (omitted when unset); `--min-upstream-m` gate.
    * Property keys render in serde_json's alphabetical order.
    * Returns a single-column DF of pre-serialized feature JSON, ordered
    * by nid (stream through Writers for the RS-framed file).
    */
  def endsGeoJson(
      endUpstream: DataFrame, // (nid, upstream_m)
      nodes: DataFrame,
      membership: DataFrame, // from Rescans.endsMembership (may be empty cols)
      minUpstreamM: Option[Double] = None,
      membershipFilters: Seq[graft.tagfilter.TagFilter] = Nil,
      endTagKeys: Seq[String] = Nil): DataFrame = {
    import graft.outputs.GeoJson
    val base = endUpstream
      .filter(minUpstreamM.map(m => col("upstream_m") >= m).getOrElse(lit(true)))
      .join(nodes, Seq("nid"))
      .join(membership, Seq("nid"), "left")
      .orderBy("nid")
    // (key → fragment) pairs; fragment is "" when the prop is omitted
    val frags: Seq[(String, Column)] =
      Seq(
        "upstream_m" -> concat(lit("\"upstream_m\":"),
          format_string("%.1f", Geo.roundHalfAway(col("upstream_m"), 1))),
        "nid" -> concat(lit("\"nid\":"), col("nid").cast("string"))) ++
        membershipFilters.zipWithIndex.map { case (f, i) =>
          val key = s"is_in:${f.display}"
          key -> concat(lit(GeoJson.jsonStr(key) + ":"),
            coalesce(col(s"is_in_$i").cast("string"), lit("false")))
        } ++
        (if (membershipFilters.nonEmpty)
          Seq("is_in_count" -> concat(lit("\"is_in_count\":"),
            coalesce(col("is_in_count").cast("string"), lit("0"))))
        else Nil) ++
        endTagKeys.map { k =>
          val key = s"tag:$k"
          key -> when(col(s"tag_$k").isNull, lit(""))
            .otherwise(concat(lit(GeoJson.jsonStr(key) + ":\""),
              jsonEscapeCol(col(s"tag_$k")), lit("\"")))
        }
    val propCols = frags.sortBy(_._1).map(_._2)
    base.select(
      concat(
        lit("""{"properties":{"""),
        concat_ws(",", filter(array(propCols: _*), f => f =!= "")),
        lit("""},"geometry":{"coordinates":["""),
        format_string("%.6f", col("lon")), lit(", "),
        format_string("%.6f", col("lat")),
        lit("""],"type":"Point"},"type":"Feature"}""")).as("feature"))
  }

  /** D11 — upstreams output: expand each contracted edge's chain into
    * 2-point mini-segments with running upstream values
    * (down/main.rs:1716-1888): segment i carries
    * from_upstream = edge_flow + Σ seg lengths before i, rounded 1 dp.
    * @param edgeFlows (src, dst, inter, flow_m)
    */
  def upstreamSegments(edgeFlows: DataFrame, nodes: DataFrame): DataFrame = {
    // content key, NOT monotonically_increasing_id: stable if the frame
    // is re-evaluated across actions (same reasoning as edgeLengths)
    val chain = edgeFlows
      .withColumn("ihash", xxhash64(col("src"), col("dst"), col("inter")))
      .withColumn("chain", concat(array(col("src")), col("inter"), array(col("dst"))))
      .select(col("ihash"), col("src"), col("dst"), col("flow_m"),
        posexplode(col("chain")).as(Seq("pos", "nid")))
      .join(nodes, Seq("nid"))
    val w = Window.partitionBy("src", "dst", "ihash").orderBy("pos")
    val segs = chain
      .withColumn("plat", lag("lat", 1).over(w))
      .withColumn("plon", lag("lon", 1).over(w))
      .withColumn("pnid", lag("nid", 1).over(w))
      .filter(col("plat").isNotNull)
      .withColumn("seg_len",
        Geo.haversineM(col("plat"), col("plon"), col("lat"), col("lon")))
      .withColumn("cum_before",
        coalesce(sum("seg_len").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0.0)))
    segs.select(
      col("src"), col("dst"),
      col("pnid").as("seg_from_nid"), col("nid").as("seg_to_nid"),
      Geo.roundHalfAway(col("flow_m") + col("cum_before"), 1).as("from_upstream_m"),
      Geo.roundHalfAway(col("flow_m") + col("cum_before") + col("seg_len"), 1)
        .as("to_upstream_m"),
      col("plat").as("from_lat"), col("plon").as("from_lon"),
      col("lat").as("to_lat"), col("lon").as("to_lon"))
  }

  /** D12 — tag-group connected components: edges grouped by connectivity
    * AND same tag value (tag_group.rs:96-280). Runs min-label CC on the
    * same-tag adjacency via composite (dense tag id << 40 | nid) keys.
    * @return (src, dst, tag, tag_group_nid) per edge, where
    *         tag_group_nid = min nid within the same-tag component, plus
    *         the dense group key (tag, tag_group_nid).
    */
  def tagGroupCC(
      edges: DataFrame,
      weakLabels: Option[DataFrame] = None,
      sizeThreshold: Long = Hybrid.MaxLocalGroupRows): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Same-tag components never span an undirected weak component, so
    // callers holding the weak-CC labels of this edge set (memoised
    // elsewhere) split by weak component: a per-component union-find
    // replaces the iterative composite-key CC's driver rounds, with
    // identical min-nid labels (the label is a pure function of the
    // component partition).
    weakLabels match {
      case None => tagGroupCCDistributed(edges)
      case Some(wl) =>
        val keyed = edges.select(col("src"), col("dst"), col("tag"))
          .join(wl.withColumnRenamed("nid", "src"), Seq("src"))
          .select("comp", "src", "dst", "tag")
        val split = Hybrid.split("tag_group_cc", keyed, "comp", sizeThreshold)
        val localRes = split.small(keyed)
          .as[(Long, Long, Long, Option[String])]
          .groupByKey(_._1)
          .flatMapGroups { (_, rows) =>
            val es = rows.map(r => (r._2, r._3, r._4)).toSeq
            // min-nid union-find per (tag, node); the control-char
            // sentinel mirrors the distributed path's null-tag key
            val sent = "\u0001"
            val parent =
              scala.collection.mutable.HashMap.empty[(String, Long), (String, Long)]
            def find(x: (String, Long)): (String, Long) = {
              var r = x
              while (parent.getOrElse(r, r) != r) r = parent(r)
              var c = x
              while (parent.getOrElse(c, c) != c) {
                val n = parent(c); parent(c) = r; c = n
              }
              r
            }
            es.foreach { case (s0, d0, t) =>
              val tk = t.getOrElse(sent)
              val ra = find((tk, s0)); val rb = find((tk, d0))
              if (ra != rb) {
                if (ra._2 <= rb._2) parent(rb) = ra else parent(ra) = rb
              }
            }
            es.iterator.map { case (s0, d0, t) =>
              (s0, d0, t, find((t.getOrElse(sent), s0))._2)
            }
          }
          .toDF("src", "dst", "tag", "tag_group_nid")
        split.union(localRes)(tagGroupCCDistributed(
          split.big(keyed).select("src", "dst", "tag")))
    }
  }

  private def tagGroupCCDistributed(edges: DataFrame): DataFrame = {
    // null-safe tag key: the equal-split mode runs with tag = NULL, which
    // a plain equi-join would drop; the control-char sentinel keeps a
    // genuine empty-string tag VALUE distinct from a missing tag
    val keyed = edges.withColumn("__tagc", coalesce(col("tag"), lit("\u0001")))
    val tags = graft.runtime.Ranks.tinyDenseId(
      keyed.select("__tagc").distinct(), Seq(col("__tagc")), "tid")
    val e = keyed.join(tags, Seq("__tagc")).drop("__tagc")
      .withColumn("csrc", shiftleft(col("tid"), 40).bitwiseOR(col("src")))
      .withColumn("cdst", shiftleft(col("tid"), 40).bitwiseOR(col("dst")))
    val labels = ConnectedComponents.run(
      e.select(col("csrc").as("src"), col("cdst").as("dst")),
      // one row per (src, dst, tag) input edge ⇒ packed pairs distinct;
      // CC tolerates duplicates anyway (smallStar distincts round 1)
      assumeDistinct = true).labels
    e.join(labels.withColumnRenamed("nid", "csrc"), Seq("csrc"))
      .withColumn("tag_group_nid",
        col("comp").bitwiseAND(lit((1L << 40) - 1)))
      .select("src", "dst", "tag", "tag_group_nid")
  }

  /** D14 — stream level + code (tag_group.rs:468-536): BFS over the
    * group-level DAG from sink groups ordered by upstream desc. Level-0
    * groups get codes "1".."n"; children (in-flowing unvisited groups,
    * upstream-desc order) get parentCode + childIdx. Group graph is small
    * (#groups ≪ #edges) — runs on the driver for determinism, exactly as
    * the survey recommends.
    *
    * @param groupFlows (parent_group, child_group) — child flows INTO
    *                   parent at a confluence
    * @param groupUpstream (group, upstream_m)
    * @param sinkGroups groups that end at a final sink
    */
  def streamLevels(
      groupFlows: Seq[(Long, Long)],
      groupUpstream: Map[Long, Double],
      sinkGroups: Seq[Long]): Map[Long, (Int, Seq[Int])] = {
    val childrenOf = groupFlows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val out = scala.collection.mutable.LinkedHashMap.empty[Long, (Int, Seq[Int])]
    val roots = sinkGroups.distinct
      .sortBy(g => (-groupUpstream.getOrElse(g, 0.0), g))
    roots.zipWithIndex.foreach { case (g, i) => out(g) = (0, Seq(i + 1)) }
    var frontier = roots
    var level = 0
    while (frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (parent <- frontier) {
        val (pl, pcode) = out(parent)
        val kids = childrenOf.getOrElse(parent, Nil)
          .filterNot(out.contains)
          .sortBy(k => (-groupUpstream.getOrElse(k, 0.0), k))
        kids.zipWithIndex.foreach { case (k, i) =>
          out(k) = (pl + 1, pcode :+ (i + 1))
          next += k
        }
      }
      frontier = next.toSeq
      level += 1
    }
    out.toMap
  }

  /** `stream_level_code_str` (tag_group.rs:55-60): code parts joined ".". */
  def streamLevelCodeStr(code: Seq[Int]): String = code.mkString(".")

  /** D15 — confluence distances (tag_group.rs:716-806): within one group,
    * Dijkstra flood DOWNSTREAM from each marked node (confluence / source
    * / sink) → pairwise distance map.
    */
  def confluenceDistances(
      edges: Seq[(Long, Long, Double)],
      marked: Seq[Long]): Map[(Long, Long), Double] = {
    val adj = edges.groupBy(_._1).view
      .mapValues(_.map(e => (e._2, e._3)).sortBy(x => (x._2, x._1))).toMap
    val out = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    for (m <- marked.distinct.sorted) {
      val (dist, _) = Local.dijkstra(adj, m)
      for (t <- marked if t != m; d <- dist.get(t)) out((m, t)) = d
    }
    out.toMap
  }

  /** D10 — grouped-ends line assembly (down/main.rs:1427-1714): within
    * one end's basin, walk upstream from the end repeatedly taking the
    * unused in-edge with the largest upstream flow (:1579-1587); when the
    * main stem is exhausted, start the next line at the downstream node
    * of the largest-flow unused edge. Lines never cross basin boundaries
    * (the caller passes only this basin's edges). Returned lines run
    * downstream (source → end).
    */
  def groupedEndLines(
      edges: Seq[(Long, Long, Double)], // (src, dst, flow)
      end: Long,
      pos: Map[Long, (Double, Double)] = Map.empty, // (lat, lon), for splits
      maxDistanceM: Option[Double] = None): Seq[Seq[Long]] = {
    val used = scala.collection.mutable.HashSet.empty[Int]
    val byDst = edges.zipWithIndex.groupBy(_._1._2)
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    // max straight-line split (down/main.rs:1522-1544): when the haversine
    // distance from the line's start to the current tip exceeds the max,
    // the line is cut there and a new one starts at the tip
    def tooFar(a: Long, b: Long): Boolean =
      maxDistanceM.exists { max =>
        (pos.get(a), pos.get(b)) match {
          case (Some((la1, lo1)), Some((la2, lo2))) =>
            Geo.haversineM(la1, lo1, la2, lo2) > max
          case _ => false
        }
      }
    def walkUp(start: Long): Int = {
      val before = used.size
      var line = scala.collection.mutable.ArrayBuffer(start)
      var cur = start
      var continue = true
      while (continue) {
        val candidates = byDst.getOrElse(cur, Nil).filterNot(x => used(x._2))
        if (candidates.isEmpty) continue = false
        else {
          val (e, i) = candidates.maxBy { case ((s, _, f), _) => (f, -s) }
          used += i
          line += e._1
          cur = e._1
          if (line.length >= 2 && tooFar(line.head, cur)) {
            out += line.reverse.toSeq
            line = scala.collection.mutable.ArrayBuffer(cur)
          }
        }
      }
      if (line.length > 1) out += line.reverse.toSeq
      used.size - before
    }
    walkUp(end)
    var remaining = edges.zipWithIndex.filterNot(x => used(x._2))
    while (remaining.nonEmpty) {
      val ((_, d, _), _) = remaining.maxBy { case ((s, _, f), _) => (f, -s) }
      if (walkUp(d) == 0)
        used ++= remaining.filter(_._1._2 == d).map(_._2) // safety: consume
      remaining = edges.zipWithIndex.filterNot(x => used(x._2))
    }
    out.toSeq
  }

  /** D10 distributed: edges bucketed by their dst's assigned end (lines
    * cut at basin boundaries because cross-basin edges land in the dst
    * basin only), one local walk per basin.
    * @param edgeFlows (src, dst, flow_m)
    * @param assignment (nid, end_nid) from [[Flow.biggestEndAssignment]]
    */
  def groupedEnds(edgeFlows: DataFrame, assignment: DataFrame): DataFrame = {
    val spark = edgeFlows.sparkSession
    import spark.implicits._
    edgeFlows
      .join(assignment.select(col("nid").as("dst"), col("end_nid")), Seq("dst"))
      .select("end_nid", "src", "dst", "flow_m")
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (end, rows) =>
        // one edge per (src, dst): in --flow-follows-tag mode the
        // contracted graph dedups per (src, dst, TAG), so two tagged
        // edges can share a node pair — the reference's graph is
        // one-edge-per-pair; total flow = Σ per-tag flows
        val es = rows.map(r => (r._2, r._3, r._4)).toSeq
          .groupBy(e => (e._1, e._2)).view
          .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toSeq
        groupedEndLines(es, end).zipWithIndex.map { case (line, i) =>
          (end, i, line)
        }
      }
      .toDF("end_nid", "line_idx", "line")
  }

  /** D10 — grouped-ends FEATURES (down/main.rs:1646-1688): per walked
    * line, a LineString feature with props `avg_upstream_m` (midpoint of
    * from/to), `end_nid`, `end_upstream_m`, `from_upstream_m` (flow of the
    * line's first edge), `to_upstream_m` (flow of the last edge + its
    * length), and `end_tag:<key>` values — keys emitted in serde_json's
    * alphabetical order. Distributed per basin like [[groupedEnds]].
    *
    * @param edgeFlows (src, dst, flow_m, len)
    * @param assignment (nid, end_nid)
    * @param endMeta (end_nid, end_upstream_m, tag_<key>… — may be empty)
    */
  def groupedEndFeatures(
      edgeFlows: DataFrame,
      assignment: DataFrame,
      endMeta: DataFrame,
      nodes: DataFrame,
      endTagKeys: Seq[String],
      maxDistanceM: Option[Double] = None): DataFrame = {
    val spark = edgeFlows.sparkSession
    import spark.implicits._
    import graft.outputs.GeoJson
    val n1 = nodes.select(col("nid").as("src"), col("lat").as("slat"), col("lon").as("slon"))
    val n2 = nodes.select(col("nid").as("dst"), col("lat").as("dlat"), col("lon").as("dlon"))
    val tagCols = endTagKeys.map(k => s"tag_$k")
    val meta = endMeta.select(
      (col("end_nid") +: col("end_upstream_m").cast("double") +:
        tagCols.map(col)): _*)
    val rows = edgeFlows
      .join(assignment.select(col("nid").as("dst"), col("end_nid")), Seq("dst"))
      .join(n1, Seq("src")).join(n2, Seq("dst"))
      .join(meta, Seq("end_nid"), "left")
      .select((Seq(col("end_nid"), col("src"), col("dst"),
        col("flow_m").cast("double"), col("len").cast("double"),
        col("slat"), col("slon"), col("dlat"), col("dlon"),
        coalesce(col("end_upstream_m"), lit(0.0)).as("end_up")) ++
        tagCols.map(col)): _*)
    rows
      .groupByKey(r => r.getLong(0))
      .flatMapGroups { (end, it) =>
        val es = it.toSeq
        // one edge per (src, dst) — see [[groupedEnds]]: sum per-tag
        // flows, keep min len (parallel tagged rows of one pair)
        val edges = es.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
          .groupBy(e => (e._1, e._2)).view
          .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toSeq
        val lens = es.map(r => ((r.getLong(1), r.getLong(2)), r.getDouble(4)))
          .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
        val flows = edges.map(e => ((e._1, e._2), e._3)).toMap
        val pos = (es.map(r => (r.getLong(1), (r.getDouble(5), r.getDouble(6)))) ++
          es.map(r => (r.getLong(2), (r.getDouble(7), r.getDouble(8))))).toMap
        val endUp = es.head.getDouble(9)
        val tagVals = endTagKeys.zipWithIndex.map { case (k, i) =>
          (k, Option(es.head.getString(10 + i)))
        }
        val lines = groupedEndLines(edges, end, pos, maxDistanceM)
        lines.zipWithIndex.map { case (line, idx) =>
          val from = flows((line(0), line(1)))
          val lastE = (line(line.length - 2), line.last)
          val to = flows(lastE) + lens(lastE)
          val props =
            Seq(
              "avg_upstream_m" -> GeoJson.numJson(Geo.roundHalfAway((from + to) / 2.0, 1)),
              "end_nid" -> end.toString,
              "end_upstream_m" -> GeoJson.numJson(Geo.roundHalfAway(endUp, 1)),
              "from_upstream_m" -> GeoJson.numJson(Geo.roundHalfAway(from, 1)),
              "to_upstream_m" -> GeoJson.numJson(Geo.roundHalfAway(to, 1))) ++
              tagVals.collect { case (k, Some(v)) =>
                s"end_tag:$k" -> GeoJson.jsonStr(v)
              }
          val coords = line.map(n => (pos(n)._2, pos(n)._1)) // (lon, lat)
          (end, idx,
            GeoJson.feature(GeoJson.propsJson(props), GeoJson.lineString(coords)))
        }
      }
      .toDF("end_nid", "line_idx", "feature")
  }

  /** D16 — grouped waterways summary (down/main.rs:1908-2229): per tag
    * group: cum_length_m (Σ member edges), length_m = longest
    * through-path (max over sources of shortest distance to a sink —
    * calc_through_path_length semantics), min/max/mean upstream flow,
    * source/sink counts.
    * @param tagGrouped (src, dst, tag, tag_group_nid)
    * @param lens (src, dst, len)
    * @param flows (src, dst, flow_m)
    */
  def groupedWaterways(
      tagGrouped: DataFrame, lens: DataFrame, flows: DataFrame): DataFrame = {
    val spark = tagGrouped.sparkSession
    import spark.implicits._
    tagGrouped
      .join(lens, Seq("src", "dst"))
      .join(flows, Seq("src", "dst"), "left")
      .select(col("tag"), col("tag_group_nid"), col("src"), col("dst"),
        col("len"), coalesce(col("flow_m"), lit(0.0)).as("flow_m"))
      .as[(String, Long, Long, Long, Double, Double)]
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (String, Long), rows: Iterator[(String, Long, Long, Long, Double, Double)]) =>
        val (tag, gnid) = key
        val es = rows.toSeq
        val cum = es.map(_._5).sum
        val ups = es.map(_._6)
        // set membership, not es.exists — the linear scan per node is
        // O(V·E) on big groups
        val srcSet = es.iterator.map(_._3).toSet
        val dstSet = es.iterator.map(_._4).toSet
        val srcs = es.map(_._3).distinct.filterNot(dstSet.contains)
        val sinks = es.map(_._4).distinct.filterNot(srcSet.contains)
        // longest through-path: max over (source, sink) of the shortest
        // path (down/main.rs:2231-2263). One Dijkstra per endpoint on the
        // SMALLER side (flooding reversed edges from sinks is equivalent
        // by symmetry) — rivers typically have many sources, few mouths.
        val through = throughPathLength(
          es.map(e => (e._3, e._4, e._5)), srcs, sinks)
        (tag, gnid, es.length.toLong,
          Geo.roundHalfAway(cum, 1), Geo.roundHalfAway(through, 1),
          srcs.length.toLong, sinks.length.toLong,
          Geo.roundHalfAway(if (ups.isEmpty) 0.0 else ups.min, 1),
          Geo.roundHalfAway(if (ups.isEmpty) 0.0 else ups.max, 1),
          Geo.roundHalfAway(if (ups.isEmpty) 0.0 else ups.sum / ups.length, 1))
      }
      .toDF("tag", "tag_group_nid", "n_edges", "cum_length_m", "length_m",
        "n_sources", "n_sinks", "min_upstream_m", "max_upstream_m",
        "mean_upstream_m")
  }

  /** Longest through-path = max over sources of the shortest distance to
    * a sink. Floods from whichever side is smaller (reversed adjacency
    * from sinks when |sinks| < |sources| — symmetric, same result).
    */
  def throughPathLength(
      edges: Seq[(Long, Long, Double)],
      srcs: Seq[Long], sinks: Seq[Long]): Double = {
    val (starts, targets, adj) =
      if (sinks.length < srcs.length)
        (sinks, srcs, edges.groupBy(_._2).view
          .mapValues(_.map(e => (e._1, e._3)).sortBy(x => (x._2, x._1))).toMap)
      else
        (srcs, sinks, edges.groupBy(_._1).view
          .mapValues(_.map(e => (e._2, e._3)).sortBy(x => (x._2, x._1))).toMap)
    val tgt = targets.toSet
    (for {
      s <- starts
      (dist, _) = Local.dijkstra(adj, s)
      (n, d) <- dist if tgt.contains(n)
    } yield d) match {
      case Nil => 0.0
      case ds  => ds.max
    }
  }

  /** D12 summary — per tag group: length, member/edge counts, sources,
    * sinks (tag_group.rs:241-280).
    */
  def tagGroupSummary(tagGrouped: DataFrame, lens: DataFrame): DataFrame = {
    val withLen = tagGrouped.join(lens, Seq("src", "dst"))
    val srcs = tagGrouped.select(col("tag"), col("tag_group_nid"), col("src").as("nid"))
    val dsts = tagGrouped.select(col("tag"), col("tag_group_nid"), col("dst").as("nid"))
    val sources = srcs.except(dsts)
      .groupBy("tag", "tag_group_nid").agg(count(lit(1)).as("n_sources"))
    val sinks = dsts.except(srcs)
      .groupBy("tag", "tag_group_nid").agg(count(lit(1)).as("n_sinks"))
    withLen
      .groupBy("tag", "tag_group_nid")
      .agg(count(lit(1)).as("n_edges"),
        Geo.roundHalfAway(sum("len"), 1).as("length_m"))
      .join(sources, Seq("tag", "tag_group_nid"), "left")
      .join(sinks, Seq("tag", "tag_group_nid"), "left")
      .na.fill(0L, Seq("n_sources", "n_sinks"))
  }
}
