package graft.graph

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.runtime.IterationCheckpointer

/** The distributed star loop of [[ConnectedComponents.run]]: one Spark
  * job per round, min-nid labels on adversarial shapes, results independent
  * of the partition count, and loud failure when it does not converge.
  */
class CcRoundsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def path(from: Long, n: Int): Seq[(Long, Long)] =
    (0 until n - 1).map(i => (from + i, from + i + 1))

  /** Spark jobs started by `body`, counted by a listener; a sentinel job
    * marks the point where every earlier event has been delivered. */
  private def jobsOf[T](tag: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, tag)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(s"$tag-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      (out, groups.asScala.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }

  test("the forced star loop runs at most rounds + 2 Spark jobs") {
    val edges = (path(1L, 200) ++ path(1000L, 50) ++ Seq((7L, 1010L))).toDF("src", "dst")
    val ((r, labels), jobs) = jobsOf("cc-rounds") {
      val r = ConnectedComponents.run(edges, localMaxEdges = 0L)
      (r, labelMap(r.labels))
    }
    assert(r.rounds > 2)
    assert(jobs <= r.rounds + 2, s"$jobs jobs for ${r.rounds} rounds")
    assert(labels.size === 250)
    assert(labels.values.toSet === Set(1L))
  }

  test("a 50k-spoke hub with a path tail gets the union-find labels") {
    val hub = 60000L
    val spokes = (1L to 50000L).map(s => (hub, s))
    val es = (spokes ++ path(hub, 200) ++ path(100000L, 50)).toDF("src", "dst")
    val star = ConnectedComponents.run(es, localMaxEdges = 0L)
    val unionFind = ConnectedComponents.run(es)
    assert(unionFind.rounds === 0)
    val got = labelMap(star.labels)
    assert(got === labelMap(unionFind.labels))
    assert(got.size === 50000 + 200 + 50)
    assert(got.count(_._2 == 1L) === 50000 + 200)
    assert(got.count(_._2 == 100000L) === 50)
  }

  test("labels and rounds are identical at 1 and 4 shuffle partitions") {
    // ~210k edges: the loop partitioner takes 1 partition at 1 and 3 at 4
    val n = 300000L
    val edges = spark.range(210000L)
      .select(col("id").as("src"), pmod(xxhash64(col("id"), lit(7)), lit(n)).as("dst"))
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def at(parts: Int): (Int, Map[Long, Long]) = {
      spark.conf.set(key, parts.toString)
      try {
        val r = ConnectedComponents.run(edges, localMaxEdges = 0L)
        (r.rounds, labelMap(r.labels))
      } finally spark.conf.set(key, saved)
    }
    val (rounds1, labels1) = at(1)
    val (rounds4, labels4) = at(4)
    assert(rounds1 === rounds4)
    assert(labels1 === labels4)
    assert(labels1 === labelMap(ConnectedComponents.run(edges).labels))
  }

  test("an empty edge set under the durable checkpointer does not throw") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val cp = new IterationCheckpointer(spark, Files.createTempDirectory("ccempty").toString)
    val r = ConnectedComponents.run(empty, checkpointer = Some(cp.hook))
    assert(r.rounds === 1)
    assert(r.labels.count() === 0L)
  }

  test("a loop that hits maxRounds throws with the round and edge counts") {
    val edges = path(0L, 64).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.run(edges, maxRounds = 1, localMaxEdges = 0L)
    }
    assert(e.getMessage.contains("1 rounds"), e.getMessage)
    assert(e.getMessage.contains("edges"), e.getMessage)
    // enough rounds: the same input converges to one component
    val r = ConnectedComponents.run(edges, localMaxEdges = 0L)
    assert(labelMap(r.labels).values.toSet === Set(0L))
  }
}
