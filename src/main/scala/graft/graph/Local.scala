package graft.graph

import scala.collection.mutable
import graft.runtime.Hybrid

/** Per-component local graph algorithms (SURVEY.md §2.5) — pure Scala,
  * executed inside `groupByKey(comp).flatMapGroups` so components run in
  * parallel across the cluster while each walk stays sequential (the
  * algorithms are inherently order-dependent).
  */
object Local {

  /** Materialize a per-group iterator with a LOUD size guard (SURVEY
    * §7.5.4): a mega-component crossing
    * [[graft.runtime.Hybrid.MaxLocalGroupRows]] fails with sizing
    * guidance instead of grinding into spill/OOM death. The undirected
    * geometry path shards instead ([[DistPeel]]); the operators calling
    * this have whole-group semantics (a single feature's props/geometry
    * depend on every edge), matching the reference's own in-RAM bound.
    */
  def boundedSeq[T](rows: Iterator[T], what: String): Seq[T] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[T]
    rows.foreach { r =>
      buf += r
      if (buf.length > Hybrid.MaxLocalGroupRows)
        throw new IllegalStateException(
          s"$what: group exceeds ${Hybrid.MaxLocalGroupRows} rows — one task " +
            "cannot hold it; raise executor memory and " +
            "-Dgraft.maxLocalGroupRows, or split the group upstream")
    }
    buf.toSeq
  }

  /** Sorted undirected adjacency (BTreeMap-order parity: the reference
    * iterates neighbours in sorted order, which fixes MultiLineString part
    * order — /root/reference/src/graph/undirected_graph.rs:186-190).
    */
  def sortedAdjacency(edges: Seq[(Long, Long)]): mutable.SortedMap[Long, mutable.TreeSet[Long]] = {
    val adj = mutable.SortedMap.empty[Long, mutable.TreeSet[Long]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.TreeSet.empty) += b
        adj.getOrElseUpdate(b, mutable.TreeSet.empty) += a
      }
    }
    adj
  }

  /** P1 — `into_lines_random`
    * (/root/reference/src/graph/undirected_graph.rs:382-426): repeatedly
    * peel maximal non-repeating walks. Start preference: a degree-1 vertex
    * among the first 100 vertexes, else the first vertex; extend to the
    * first (sorted-order) neighbour, consuming edges, until stuck.
    */
  def peelLines(edges: Seq[(Long, Long)]): Seq[Seq[Long]] = {
    val adj = sortedAdjacency(edges)
    val out = mutable.ArrayBuffer.empty[Seq[Long]]
    while (adj.nonEmpty) {
      val first100 = adj.keysIterator.take(100).toSeq
      val start = first100
        .find(v => adj(v).size == 1)
        .getOrElse(adj.firstKey)
      val line = mutable.ArrayBuffer(start)
      var cur = start
      var stuck = false
      while (!stuck) {
        adj.get(cur).flatMap(_.headOption) match {
          case Some(nxt) =>
            adj(cur) -= nxt
            if (adj(cur).isEmpty) adj.remove(cur)
            adj(nxt) -= cur
            if (adj(nxt).isEmpty) adj.remove(nxt)
            line += nxt
            cur = nxt
          case None => stuck = true
        }
      }
      out += line.toSeq
    }
    out.toSeq
  }

  /** P3 — Dijkstra single-source over non-negative double weights.
    * The reference rounds to integer centimetres for its radix heap
    * (undirected_graph.rs:570); we keep doubles with a binary heap —
    * identical shortest paths for our deterministic fixtures.
    * Returns (dist, parent) maps for all reachable vertexes.
    */
  def dijkstra(
      adj: Map[Long, Seq[(Long, Double)]],
      source: Long): (Map[Long, Double], Map[Long, Long]) = {
    val dist = mutable.HashMap[Long, Double](source -> 0.0)
    val parent = mutable.HashMap.empty[Long, Long]
    val visited = mutable.HashSet.empty[Long]
    val pq = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](x => (-x._1, -x._2)))
    pq.enqueue((0.0, source))
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (!visited(v)) {
        visited += v
        for ((w, len) <- adj.getOrElse(v, Nil) if !visited(w)) {
          val nd = d + len
          if (nd < dist.getOrElse(w, Double.PositiveInfinity)) {
            dist(w) = nd
            parent(w) = v
            pq.enqueue((nd, w))
          }
        }
      }
    }
    (dist.toMap, parent.toMap)
  }

  /** Reconstruct the path source→target from Dijkstra parents. */
  def pathTo(parent: Map[Long, Long], source: Long, target: Long): Option[Seq[Long]] = {
    if (source == target) return Some(Seq(source))
    if (!parent.contains(target)) return None
    val path = mutable.ArrayBuffer(target)
    var cur = target
    while (cur != source) {
      cur = parent(cur)
      path += cur
    }
    Some(path.reverse.toSeq)
  }

  /** P10 — convex hull (Andrew monotone chain, exact on doubles; the
    * reference uses geo::quick_hull — same hull set). Input (x, y) points;
    * output hull in counter-clockwise order without repeating the first.
    */
  def convexHull(points: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val pts = points.distinct.sorted
    if (pts.length <= 2) return pts
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)) =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val lower = mutable.ArrayBuffer.empty[(Double, Double)]
    for (p <- pts) {
      while (lower.length >= 2 && cross(lower(lower.length - 2), lower.last, p) <= 0)
        lower.remove(lower.length - 1)
      lower += p
    }
    val upper = mutable.ArrayBuffer.empty[(Double, Double)]
    for (p <- pts.reverse) {
      while (upper.length >= 2 && cross(upper(upper.length - 2), upper.last, p) <= 0)
        upper.remove(upper.length - 1)
      upper += p
    }
    (lower.dropRight(1) ++ upper.dropRight(1)).toSeq
  }

  /** C10 — spike removal: iteratively drop degree-1 vertexes (and their
    * edge) until none remain, except `keep` vertexes
    * (/root/reference/src/graph/undirected_graph.rs:718-754 — the
    * betweenness pre-pass).
    */
  def removeSpikes(
      edges: Seq[(Long, Long)],
      keep: Long => Boolean = _ => false): Seq[(Long, Long)] = {
    var es = edges.filter(e => e._1 != e._2)
    var changed = true
    while (changed) {
      val deg = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
      es.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
      val spikes = deg.collect { case (v, 1) if !keep(v) => v }.toSet
      val next = es.filterNot(e => spikes(e._1) || spikes(e._2))
      changed = next.length != es.length
      es = next
    }
    es
  }

  /** C9 — degree-2 compression on a local edge list with intermediate
    * chains: iteratively merge the two edges of every degree-2 vertex not
    * in `neverRemove`, concatenating intermediates
    * (/root/reference/src/graph/undirected_graph.rs:640-716). Skips the
    * merge if it would duplicate an existing edge or form a self loop.
    *
    * Merge ORDER is semantic (it decides which vertexes survive a
    * duplicate/self-loop skip) and is preserved exactly from the original
    * pass-based form: always merge the smallest eligible degree-2 vertex
    * first, then re-evaluate. The old implementation recomputed degrees
    * and rescanned every edge per merge — O(V·E) on chain-heavy
    * components, a compute cliff long before the memory one; this one
    * maintains an adjacency index and an ordered candidate set for the
    * identical sequence in O(E log E). (A merge changes no degree except
    * the removed vertex's, so the recomputed per-pass candidate list of
    * the old form equals this maintained set; a skipped candidate can
    * only become mergeable after some other merge succeeds, which is
    * exactly when the scan restarts from the smallest.)
    */
  def compress(
      edges: Seq[(Long, Long, Seq[Long])],
      neverRemove: Long => Boolean): Seq[(Long, Long, Seq[Long])] = {
    val es = mutable.LinkedHashMap.empty[(Long, Long), Seq[Long]]
    def canon(a: Long, b: Long, inter: Seq[Long]): ((Long, Long), Seq[Long]) =
      if (a <= b) ((a, b), inter) else ((b, a), inter.reverse)
    edges.foreach { case (a, b, inter) =>
      val (k, iv) = canon(a, b, inter)
      if (!es.contains(k)) es(k) = iv
    }
    val adj = mutable.HashMap.empty[Long, mutable.TreeSet[Long]]
    es.keys.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.TreeSet.empty) += b
      adj.getOrElseUpdate(b, mutable.TreeSet.empty) += a
    }
    // degree counts parallel edges; after canonical dedup there are none,
    // so degree == |adj(v)| (self loops cannot arise: merges that would
    // create one are skipped, and input self loops keep degree ≠ 2 shape
    // only through canon dedup — mirror the old per-pass census exactly
    // by counting incident edge keys)
    val deg = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    es.keys.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    val candidates = mutable.TreeSet.empty[Long]
    deg.foreach { case (v, d) => if (d == 2 && !neverRemove(v)) candidates += v }
    // skipped candidates wait here until the next successful merge, when
    // the old form's pass restart makes them eligible again
    val parked = mutable.ArrayBuffer.empty[Long]
    while (candidates.nonEmpty) {
      val v = candidates.head
      candidates -= v
      val ns = adj.getOrElse(v, mutable.TreeSet.empty[Long]).toSeq
      if (deg(v) == 2 && ns.length == 2 && ns.head != ns.last) {
        val Seq(n1, n2) = ns
        val e1 = (math.min(v, n1), math.max(v, n1))
        val e2 = (math.min(v, n2), math.max(v, n2))
        val (o1, o2) = (n1, n2)
        val (k, _) = canon(o1, o2, Nil)
        if (!es.contains(k)) {
          val i1 = if (e1._1 == o1) es(e1) else es(e1).reverse
          val i2 = if (e2._1 == v) es(e2) else es(e2).reverse
          val merged = i1 ++ Seq(v) ++ i2
          es.remove(e1); es.remove(e2)
          val (kk, iv) = canon(o1, o2, merged)
          es(kk) = iv
          adj(o1) -= v; adj(o2) -= v; adj.remove(v)
          adj(o1) += o2; adj(o2) += o1
          deg(v) = 0
          // degrees of o1/o2 are unchanged (two incident edges replaced
          // by one merged edge each); un-park every skipped candidate —
          // the old form restarts its ascending pass after each merge
          parked.foreach(candidates += _)
          parked.clear()
        } else parked += v
      }
      // degenerate candidates (parallel-edge degree vs adjacency mismatch
      // or self-neighbour) simply drop out, as in the old per-pass form
    }
    es.iterator.map { case ((a, b), inter) => (a, b, inter) }.toSeq
  }
}
