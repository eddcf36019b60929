package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The connected-components size gate at its force-distributed edge. */
class CcGateSpec extends AnyFunSuite with SparkTestBase {

  test("localMaxEdges = 0 runs the star loop even on an empty edge set") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val r = ConnectedComponents.run(empty, localMaxEdges = 0L)
    assert(r.rounds === 1)
    assert(r.labels.count() === 0L)
    assert(ConnectedComponents.run(empty).rounds === 0)
  }
}
