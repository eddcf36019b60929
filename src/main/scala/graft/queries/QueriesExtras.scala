package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Extras
import Derived._

/** Frames / betweenness / longest-source-mouth query entries.
  *
  * q44 (frames = convex-hull + A*-route union) and q45 (Brandes
  * betweenness) cannot be replayed verbatim in SQL (recursive CTEs can
  * enumerate shortest distances but not Brandes' σ/δ accumulation or the
  * A*-path geometry), so each carries an INVARIANT oracle instead
  * (pattern proven by q48's conservation oracle):
  *
  *  - q44 projects ONE ROW PER HULL VERTEX: the component's strict-hull
  *    positions are independently recomputed in SQL (point-in-convex-
  *    closure test on the exact integer grid the positions derive from)
  *    and mapped back to their min-nid representative — the engine must
  *    produce exactly that (comp, hull_nid) set, and for each such nid a
  *    `covered` flag (this hull nid lies on a frame line AND all frame
  *    edges ⊆ component edges) that the oracle pins to 1. A double-
  *    arithmetic hull divergence or a frame missing a hull vertex now
  *    fails as a row/hash mismatch on a specific nid instead of being
  *    self-certified behind an aggregate count.
  *  - q45 projects one row per COMPRESSED edge for EVERY component class
  *    the oracle can replay: tree components via the exact closed form
  *    a·(n−a) (each unordered pair once, undirected_graph.rs:584) over
  *    SQL-recomputed chain contraction + subtree sizes, non-tree
  *    components via a full SQL shortest-path replay (σ-weighted pair
  *    dependencies over the contracted graph). Only merge-order-dependent
  *    contractions (duplicate-edge/self-loop skips) are excluded and stay
  *    pinned by LocalPathsSpec fixtures — see the q45 entry comment.
  *
  * The longest source→mouth (q46) gets a recursive-CTE oracle.
  */
object QueriesExtras {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P6 frames per component: one row per hull VERTEX (see above)
    "q44_frames" -> ((s, d) => {
      import s.implicits._
      import graft.graph.{Local, LocalPaths}
      val labels = QueriesGraph.ccLabels(s, d)
      edgesDF(s, d)
        .join(labels.withColumnRenamed("nid", "src"), Seq("src"))
        .join(nodesDF(s, d).select(col("nid").as("src"), col("lat").as("lat1"),
          col("lon").as("lon1")), Seq("src"))
        .join(nodesDF(s, d).select(col("nid").as("dst"), col("lat").as("lat2"),
          col("lon").as("lon2")), Seq("dst"))
        .select("comp", "src", "dst", "lat1", "lon1", "lat2", "lon2")
        .as[(Long, Long, Long, Double, Double, Double, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (comp, rows) =>
          val es = rows.toSeq
          val pos: LocalPaths.Pos =
            (es.map(e => e._2 -> (e._4, e._5)) ++ es.map(e => e._3 -> (e._6, e._7))).toMap
          val verts = (es.map(_._2) ++ es.map(_._3)).distinct
          // hull vertexes on the EXACT integer grid the positions are
          // derived from (lat = i/1e4 − 85): double cross products of
          // near-collinear triples round differently across engines
          // (DuckDB fuses a·b − c·d), integers cannot. Distinct integer
          // points ⟺ distinct double positions (grid spacing 1e-4 ≫ ulp),
          // so the min-nid representative per point matches the one
          // frames() picks on double positions.
          val ipos: Long => (Double, Double) = n =>
            (((n * 2654435761L) % 1700000L).toDouble,
              ((n * 2246822519L) % 3600000L).toDouble)
          val byIPoint = verts.groupBy(ipos)
          val hullPts = Local.convexHull(verts.map(ipos).distinct)
          val lines = LocalPaths.frames(es.map(e => (e._2, e._3)), pos)
          val frameNodes = lines.flatten.toSet
          val compEdges = es.map(e =>
            (math.min(e._2, e._3), math.max(e._2, e._3))).toSet
          val frameEdges = lines.flatMap(_.sliding(2).collect {
            case scala.collection.Seq(a, b) => (math.min(a, b), math.max(a, b))
          })
          val edgesOk = frameEdges.forall(compEdges.contains) &&
            (es.isEmpty || lines.nonEmpty)
          hullPts.iterator.map { p =>
            val nid = byIPoint(p).min
            (comp, nid,
              if (edgesOk && frameNodes.contains(nid)) 1L else 0L)
          }
        }
        .toDF("comp", "hull_nid", "covered")
    }),

    // P8 betweenness over EVERY component class the oracle can replay:
    // tree components get the closed form a·(n−a); non-tree components
    // get a full SQL shortest-path replay (σ-weighted pair dependencies
    // over the contracted graph with chain-length weights). Excluded —
    // and left to LocalPathsSpec fixtures — are only components whose
    // contraction is merge-order-dependent: those where `Local.compress`
    // had to SKIP a degree-2 merge (duplicate-edge / self-loop guard,
    // e.g. pure cycles or parallel arcs between one pillar pair). Those
    // are recognisable from the ENGINE output alone: the skip leaves a
    // degree-2 vertex in the compressed graph, which a clean contraction
    // never has.
    "q45_betweenness" -> ((s, d) =>
      betweennessReplayable(s, d, graft.runtime.Hybrid.MaxLocalGroupRows)),

    // D17 longest source→mouth per basin (weak CC of the DAG orientation
    // ≡ the canonical undirected CC — reuse the memoised labels)
    "q46_longest_source_mouth" -> ((s, d) =>
      Extras.longestSourceMouth(dagEdgesDF(s, d), s,
          labels = Some(QueriesGraph.ccLabels(s, d)))
        .select(col("mouth"), col("source"),
          expr("CAST(FLOOR(dist_m * 10 + 0.5) AS BIGINT)").as("dist_dm"))),

    // P8 betweenness through the SCALE path (DistContract + simplify +
    // distributed chain weights), DuckDB-gated with q45's own oracle:
    // sizeThreshold=1 routes every multi-edge component through
    // betweennessAtScale. On every component q45's oracle replays (clean
    // contractions), the scale path is BIT-identical to the local port —
    // same topology (DistContract ≡ Local.compress off-conflict), same
    // weights (ChainHaversineM accumulates in the sliding-sum op order),
    // same samples — and on conflicting components the midpoint split
    // leaves degree-2 vertexes, so the same orderDependent detector
    // excludes them on both sides. Oracle = q45's verbatim.
    "q120_betweenness_at_scale" -> ((s, d) => betweennessReplayable(s, d, 1L)))

  /** q45/q120 shared body: betweenness at a given hybrid threshold,
    * projected to the oracle-replayable component classes (see the q45
    * entry comment).
    */
  private def betweennessReplayable(
      s: SparkSession, d: String, sizeThreshold: Long): DataFrame = {
      val labels = QueriesGraph.ccLabels(s, d)
      // posOk is threshold-independent — q45 and q120 share one copy
      val posOk = FrameCache(s, s"posok:$d") {
        labels.join(nodesDF(s, d), Seq("nid"))
          .groupBy("comp").agg(
            count(lit(1)).as("n_nodes"),
            countDistinct(col("lat"), col("lon")).as("n_pos"))
          .filter(col("n_pos") === col("n_nodes")).select("comp")
          .localCheckpoint(true)
      }
      val bres = Extras.betweenness(edgesDF(s, d), nodesDF(s, d), s,
          sizeThreshold = sizeThreshold,
          labels = Some(labels))
        .localCheckpoint(true)
      val orderDependent = bres
        .select(col("comp"), explode(array(col("src"), col("dst"))).as("nid"))
        .groupBy("comp", "nid").agg(count(lit(1)).as("cd"))
        .filter(col("cd") === 2).select("comp").distinct()
      bres
        .join(posOk, Seq("comp"), "left_semi")
        .join(orderDependent, Seq("comp"), "left_anti")
        .select(col("comp"), col("src"), col("dst"),
          expr("CAST(FLOOR(value * 1000 + 0.5) AS BIGINT)").as("value_e3"))
  }

  /** cross(a, b, p) over (lat, lon) treated as (x, y) — sign is all that
    * matters, and the expression is the same IEEE tree in both engines.
    */
  private def crossSql(ax: String, ay: String, bx: String, by: String,
      px: String, py: String): String =
    s"(($bx - $ax) * ($py - $ay) - ($by - $ay) * ($px - $ax))"

  private val ccCteLocal =
    s"""sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |r AS (
       |  SELECT src AS nid, src AS label FROM sym
       |  UNION
       |  SELECT s.dst AS nid, r.label FROM r JOIN sym s ON s.src = r.nid
       |  WHERE r.label < s.dst
       |),
       |cc AS MATERIALIZED (SELECT nid, MIN(label) AS comp FROM r GROUP BY nid)""".stripMargin

  /** q120 = the q45 oracle verbatim: the scale path must reproduce the
    * local port bit-for-bit on every replayable component class. */
  lazy val oracles: Map[String, String] =
    oracles0 + ("q120_betweenness_at_scale" -> oracles0("q45_betweenness"))

  private lazy val oracles0: Map[String, String] = Map(
    // Strict-hull vertexes: position p is a hull vertex iff p is NOT in
    // the convex closure of the component's other positions —
    // Carathéodory: inside/on a non-degenerate triangle, or on a segment.
    // Each surviving hull position maps back to its min-nid
    // representative; the engine must emit exactly these (comp, nid)
    // rows, each with covered = 1.
    "q44_frames" -> {
      val d1 = crossSql("a.lat", "a.lon", "b.lat", "b.lon", "p.lat", "p.lon")
      val d2 = crossSql("b.lat", "b.lon", "c.lat", "c.lon", "p.lat", "p.lon")
      val d3 = crossSql("c.lat", "c.lon", "a.lat", "a.lon", "p.lat", "p.lon")
      val tri = crossSql("a.lat", "a.lon", "b.lat", "b.lon", "c.lat", "c.lon")
      val segCross = crossSql("a.lat", "a.lon", "b.lat", "b.lon", "p.lat", "p.lon")
      s"""WITH RECURSIVE $oracleWaysCte, $ccCteLocal,
         |pos AS MATERIALIZED (
         |  SELECT DISTINCT c.comp,
         |    (c.nid * 2654435761) % 1700000 AS lat,
         |    (c.nid * 2246822519) % 3600000 AS lon
         |  FROM cc c),
         |notvert AS MATERIALIZED (
         |  SELECT DISTINCT comp, lat, lon FROM (
         |  SELECT p.comp, p.lat, p.lon
         |  FROM pos p
         |  JOIN pos a ON a.comp = p.comp AND (a.lat <> p.lat OR a.lon <> p.lon)
         |  JOIN pos b ON b.comp = p.comp AND (b.lat <> p.lat OR b.lon <> p.lon)
         |  JOIN pos c ON c.comp = p.comp AND (c.lat <> p.lat OR c.lon <> p.lon)
         |  WHERE $tri <> 0
         |    AND NOT ((($d1) < 0 OR ($d2) < 0 OR ($d3) < 0)
         |         AND (($d1) > 0 OR ($d2) > 0 OR ($d3) > 0))
         |  UNION ALL
         |  SELECT p.comp, p.lat, p.lon
         |  FROM pos p
         |  JOIN pos a ON a.comp = p.comp AND (a.lat <> p.lat OR a.lon <> p.lon)
         |  JOIN pos b ON b.comp = p.comp AND (b.lat <> p.lat OR b.lon <> p.lon)
         |  WHERE (a.lat <> b.lat OR a.lon <> b.lon)
         |    AND $segCross = 0
         |    AND p.lat BETWEEN LEAST(a.lat, b.lat) AND GREATEST(a.lat, b.lat)
         |    AND p.lon BETWEEN LEAST(a.lon, b.lon) AND GREATEST(a.lon, b.lon))),
         |hull AS (
         |  SELECT p.comp, p.lat, p.lon FROM pos p
         |  LEFT JOIN notvert nv
         |    ON nv.comp = p.comp AND nv.lat = p.lat AND nv.lon = p.lon
         |  WHERE nv.comp IS NULL),
         |nidmap AS (
         |  SELECT c.comp,
         |    (c.nid * 2654435761) % 1700000 AS lat,
         |    (c.nid * 2246822519) % 3600000 AS lon,
         |    MIN(c.nid) AS hull_nid
         |  FROM cc c GROUP BY 1, 2, 3)
         |SELECT h.comp, m.hull_nid, CAST(1 AS BIGINT) AS covered
         |FROM hull h JOIN nidmap m
         |  ON m.comp = h.comp AND m.lat = h.lat AND m.lon = h.lon""".stripMargin
    },

    // Betweenness over BOTH component classes the engine projects:
    //  - tree components: closed form over the compressed tree
    //    (compressed vertexes = degree≠2 nodes; compressed edges =
    //    interior chains between pillar pairs + direct pillar-pillar
    //    edges; rooted walk from the min pillar, subtree sizes via
    //    ancestor counting, value = sz(child)·(n_pillars − sz(child)) —
    //    each unordered pair once);
    //  - non-tree components with a clean contraction: FULL replay —
    //    contract interior chains (weight = Σ haversine over member
    //    edges, exactly the engine's chain-length weights), enumerate
    //    every simple path between compressed-vertex pairs, keep paths
    //    within the engine's 1e-9 tie window of the per-pair minimum,
    //    and accumulate σ-weighted pair dependencies per edge; edges on
    //    no shortest path get 0 (the engine's bc_res zero-seeding).
    //    Components whose contraction is merge-order-dependent (parallel
    //    arcs / pure cycles → duplicate or self-loop contracted edges)
    //    are excluded on both sides.
    "q45_betweenness" ->
      s"""WITH RECURSIVE $oracleWaysCte, $ccCteLocal,
         |ce AS MATERIALIZED (
         |  SELECT c.comp, e.src, e.dst FROM edges e JOIN cc c ON c.nid = e.src),
         |npos AS (
         |  SELECT c.comp, COUNT(*) AS n_nodes,
         |    COUNT(DISTINCT (n.lat, n.lon)) AS n_pos
         |  FROM cc c JOIN nodes n ON n.nid = c.nid GROUP BY c.comp),
         |tc AS MATERIALIZED (
         |  SELECT np.comp FROM npos np
         |  JOIN (SELECT comp, COUNT(*) AS n_edges FROM ce GROUP BY comp) ec
         |    USING (comp)
         |  WHERE ec.n_edges = np.n_nodes - 1 AND np.n_pos = np.n_nodes),
         |te AS MATERIALIZED (
         |  SELECT e.comp, e.src, e.dst FROM ce e JOIN tc ON tc.comp = e.comp),
         |deg AS MATERIALIZED (
         |  SELECT comp, nid, COUNT(*) AS d FROM (
         |    SELECT comp, src AS nid FROM te
         |    UNION ALL SELECT comp, dst FROM te) GROUP BY comp, nid),
         |pil AS MATERIALIZED (SELECT comp, nid FROM deg WHERE d <> 2),
         |intn AS MATERIALIZED (SELECT comp, nid FROM deg WHERE d = 2),
         |inte AS (SELECT e.comp, e.src, e.dst FROM te e
         |  JOIN intn i1 ON i1.comp = e.comp AND i1.nid = e.src
         |  JOIN intn i2 ON i2.comp = e.comp AND i2.nid = e.dst),
         |isym AS (SELECT comp, src, dst FROM inte
         |  UNION SELECT comp, dst AS src, src AS dst FROM inte),
         |ir AS (
         |  SELECT comp, nid, nid AS label FROM intn
         |  UNION
         |  SELECT s.comp, s.dst, ir.label FROM ir
         |    JOIN isym s ON s.comp = ir.comp AND s.src = ir.nid
         |  WHERE ir.label < s.dst),
         |icc AS MATERIALIZED (
         |  SELECT comp, nid, MIN(label) AS ic FROM ir GROUP BY comp, nid),
         |att AS (
         |  SELECT i.comp, i.ic, e.dst AS pillar FROM te e
         |    JOIN icc i ON i.comp = e.comp AND i.nid = e.src
         |    JOIN pil p ON p.comp = e.comp AND p.nid = e.dst
         |  UNION ALL
         |  SELECT i.comp, i.ic, e.src FROM te e
         |    JOIN icc i ON i.comp = e.comp AND i.nid = e.dst
         |    JOIN pil p ON p.comp = e.comp AND p.nid = e.src),
         |cedges AS MATERIALIZED (
         |  SELECT comp, LEAST(p1, p2) AS src, GREATEST(p1, p2) AS dst FROM (
         |    SELECT comp, ic, MIN(pillar) AS p1, MAX(pillar) AS p2
         |    FROM att GROUP BY comp, ic)
         |  UNION ALL
         |  SELECT e.comp, e.src, e.dst FROM te e
         |    JOIN pil pa ON pa.comp = e.comp AND pa.nid = e.src
         |    JOIN pil pb ON pb.comp = e.comp AND pb.nid = e.dst),
         |pcount AS (SELECT comp, COUNT(*) AS n FROM pil GROUP BY comp),
         |roots AS (SELECT comp, MIN(nid) AS root FROM pil GROUP BY comp),
         |csym AS MATERIALIZED (
         |  SELECT comp, src, dst FROM cedges
         |  UNION ALL SELECT comp, dst AS src, src AS dst FROM cedges),
         |walk AS (
         |  SELECT comp, root AS nid, CAST(NULL AS BIGINT) AS parent FROM roots
         |  UNION ALL
         |  SELECT w.comp, s.dst, w.nid FROM walk w
         |    JOIN csym s ON s.comp = w.comp AND s.src = w.nid
         |  WHERE w.parent IS NULL OR s.dst <> w.parent),
         |anc AS (
         |  SELECT comp, nid, nid AS a FROM walk
         |  UNION ALL
         |  SELECT an.comp, an.nid, w.parent FROM anc an
         |    JOIN walk w ON w.comp = an.comp AND w.nid = an.a
         |  WHERE w.parent IS NOT NULL),
         |sub AS (SELECT comp, a AS nid, COUNT(*) AS sz FROM anc GROUP BY comp, a),
         |ntc AS MATERIALIZED (
         |  SELECT np.comp FROM npos np
         |  JOIN (SELECT comp, COUNT(*) AS n_edges FROM ce GROUP BY comp) ec
         |    USING (comp)
         |  WHERE ec.n_edges <> np.n_nodes - 1 AND np.n_pos = np.n_nodes),
         |ne AS MATERIALIZED (
         |  SELECT e.comp, e.src, e.dst FROM ce e JOIN ntc ON ntc.comp = e.comp),
         |ntdeg AS MATERIALIZED (
         |  SELECT comp, nid, COUNT(*) AS dg FROM (
         |    SELECT comp, src AS nid FROM ne
         |    UNION ALL SELECT comp, dst FROM ne) GROUP BY comp, nid),
         |ntpil AS (SELECT comp, nid FROM ntdeg WHERE dg <> 2),
         |ntint AS (SELECT comp, nid FROM ntdeg WHERE dg = 2),
         |ntinte AS (SELECT e.comp, e.src, e.dst FROM ne e
         |  JOIN ntint i1 ON i1.comp = e.comp AND i1.nid = e.src
         |  JOIN ntint i2 ON i2.comp = e.comp AND i2.nid = e.dst),
         |ntisym AS (SELECT comp, src, dst FROM ntinte
         |  UNION SELECT comp, dst AS src, src AS dst FROM ntinte),
         |ntir AS (
         |  SELECT comp, nid, nid AS label FROM ntint
         |  UNION
         |  SELECT s.comp, s.dst, ntir.label FROM ntir
         |    JOIN ntisym s ON s.comp = ntir.comp AND s.src = ntir.nid
         |  WHERE ntir.label < s.dst),
         |nticc AS MATERIALIZED (
         |  SELECT comp, nid, MIN(label) AS ic FROM ntir GROUP BY comp, nid),
         |ntmem AS (
         |  SELECT DISTINCT i.comp, i.ic, e.src, e.dst FROM ne e
         |    JOIN nticc i ON i.comp = e.comp AND (i.nid = e.src OR i.nid = e.dst)),
         |nticw AS MATERIALIZED (
         |  SELECT m.comp, m.ic,
         |    SUM(${haversineSql("a.lat", "a.lon", "b.lat", "b.lon")}) AS w
         |  FROM ntmem m JOIN nodes a ON a.nid = m.src
         |    JOIN nodes b ON b.nid = m.dst
         |  GROUP BY m.comp, m.ic),
         |ntatt AS (
         |  SELECT i.comp, i.ic, e.dst AS pillar FROM ne e
         |    JOIN nticc i ON i.comp = e.comp AND i.nid = e.src
         |    JOIN ntpil p ON p.comp = e.comp AND p.nid = e.dst
         |  UNION ALL
         |  SELECT i.comp, i.ic, e.src FROM ne e
         |    JOIN nticc i ON i.comp = e.comp AND i.nid = e.dst
         |    JOIN ntpil p ON p.comp = e.comp AND p.nid = e.src),
         |ntcedges AS MATERIALIZED (
         |  SELECT g.comp, LEAST(g.p1, g.p2) AS src, GREATEST(g.p1, g.p2) AS dst,
         |    w.w FROM (
         |    SELECT comp, ic, MIN(pillar) AS p1, MAX(pillar) AS p2
         |    FROM ntatt GROUP BY comp, ic) g
         |  JOIN nticw w ON w.comp = g.comp AND w.ic = g.ic
         |  UNION ALL
         |  SELECT e.comp, e.src, e.dst,
         |    ${haversineSql("a.lat", "a.lon", "b.lat", "b.lon")} FROM ne e
         |    JOIN ntpil pa ON pa.comp = e.comp AND pa.nid = e.src
         |    JOIN ntpil pb ON pb.comp = e.comp AND pb.nid = e.dst
         |    JOIN nodes a ON a.nid = e.src JOIN nodes b ON b.nid = e.dst),
         |ntbad AS (
         |  SELECT DISTINCT comp FROM (
         |    SELECT comp FROM ntcedges GROUP BY comp, src, dst HAVING COUNT(*) > 1
         |    UNION ALL SELECT comp FROM ntcedges WHERE src = dst
         |    UNION ALL SELECT comp FROM ntc
         |      WHERE comp NOT IN (SELECT comp FROM ntpil))),
         |ntce AS MATERIALIZED (
         |  SELECT c.* FROM ntcedges c LEFT JOIN ntbad b ON b.comp = c.comp
         |  WHERE b.comp IS NULL),
         |ntsym AS MATERIALIZED (
         |  SELECT comp, src, dst, w FROM ntce
         |  UNION ALL SELECT comp, dst AS src, src AS dst, w FROM ntce),
         |npaths AS (
         |  SELECT comp, src AS s, dst AS cur, w AS d, [src, dst] AS vl FROM ntsym
         |  UNION ALL
         |  SELECT p.comp, p.s, e.dst, p.d + e.w, list_append(p.vl, e.dst)
         |  FROM npaths p JOIN ntsym e ON e.comp = p.comp AND e.src = p.cur
         |  WHERE NOT list_contains(p.vl, e.dst)),
         |npst AS MATERIALIZED (
         |  SELECT comp, s, cur AS t, d, vl FROM npaths WHERE s < cur),
         |nmind AS (SELECT comp, s, t, MIN(d) AS md FROM npst GROUP BY comp, s, t),
         |nsp AS MATERIALIZED (
         |  SELECT p.comp, p.s, p.t, p.vl FROM npst p
         |  JOIN nmind m ON m.comp = p.comp AND m.s = p.s AND m.t = p.t
         |  WHERE p.d <= m.md + 1e-9),
         |nsig AS (SELECT comp, s, t, COUNT(*) AS sigma FROM nsp GROUP BY comp, s, t),
         |nspe AS (
         |  SELECT comp, s, t, vl, unnest(range(1, len(vl))) AS i FROM nsp),
         |ntres AS (
         |  SELECT v.comp, v.es AS src, v.ed AS dst, SUM(1.0 / g.sigma) AS val
         |  FROM (
         |    SELECT comp, s, t,
         |      LEAST(vl[i], vl[i + 1]) AS es, GREATEST(vl[i], vl[i + 1]) AS ed
         |    FROM nspe) v
         |  JOIN nsig g ON g.comp = v.comp AND g.s = v.s AND g.t = v.t
         |  GROUP BY v.comp, v.es, v.ed)
         |SELECT e.comp, e.src, e.dst,
         |  CAST(s1.sz * (pc.n - s1.sz) * 1000 AS BIGINT) AS value_e3
         |FROM cedges e
         |JOIN walk w ON w.comp = e.comp AND
         |  ((w.nid = e.src AND w.parent = e.dst) OR
         |   (w.nid = e.dst AND w.parent = e.src))
         |JOIN sub s1 ON s1.comp = e.comp AND s1.nid = w.nid
         |JOIN pcount pc ON pc.comp = e.comp
         |UNION ALL
         |SELECT e.comp, e.src, e.dst,
         |  CAST(FLOOR(COALESCE(r.val, 0.0) * 1000 + 0.5) AS BIGINT) AS value_e3
         |FROM ntce e LEFT JOIN ntres r
         |  ON r.comp = e.comp AND r.src = e.src AND r.dst = e.dst""".stripMargin,

    "q46_longest_source_mouth" ->
      s"""WITH RECURSIVE $oracleWaysCte,
         |de AS (SELECT src, dst, $edgeLenSql AS len FROM edges),
         |mouths AS (SELECT DISTINCT dst AS nid FROM de
         |           WHERE dst NOT IN (SELECT src FROM de)),
         |srcs AS (SELECT DISTINCT src AS nid FROM de
         |         WHERE src NOT IN (SELECT dst FROM de)),
         |walks AS (
         |  SELECT e.src AS nid, e.dst AS mouth, e.len AS d
         |  FROM de e JOIN mouths m ON m.nid = e.dst
         |  UNION ALL
         |  SELECT e.src, w.mouth, e.len + w.d
         |  FROM walks w JOIN de e ON e.dst = w.nid),
         |short AS (
         |  SELECT nid, mouth, MIN(d) AS d FROM walks GROUP BY nid, mouth),
         |cand AS (
         |  SELECT s.mouth, s.nid AS source, s.d,
         |    ROW_NUMBER() OVER (PARTITION BY s.mouth
         |      ORDER BY s.d DESC, s.nid ASC) AS rn
         |  FROM short s JOIN srcs ON srcs.nid = s.nid)
         |SELECT mouth, source, CAST(FLOOR(d * 10 + 0.5) AS BIGINT) AS dist_dm
         |FROM cand WHERE rn = 1""".stripMargin)
}
