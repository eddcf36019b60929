package graft.runtime

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** [[Hybrid]]: both gates at their edges (0, −1, exactly at the
  * threshold) and the cost of one per-key split. */
class HybridSpec extends AnyFunSuite with SparkTestBase {
  import SparkTestBase.spark.implicits._

  /** comp 1 has 3 rows, comp 2 has 4 rows. */
  private def rows = Seq((1L, 10L), (1L, 11L), (1L, 12L),
    (2L, 20L), (2L, 21L), (2L, 22L), (2L, 23L))
    .toDF("comp", "v").localCheckpoint(true)

  private def comps(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("comp").as[Long].collect().toSet

  test("split: a key with exactly max rows is small, max + 1 rows is big") {
    val df = rows
    val s = Hybrid.split("spec", df, "comp", 3L)
    assert(s.hasBig)
    assert(comps(s.small(df)) === Set(1L))
    assert(comps(s.big(df)) === Set(2L))
    assert(s.small(df).count() === 3L && s.big(df).count() === 4L)
    assert(comps(s.union(s.small(df))(s.big(df))) === Set(1L, 2L))
  }

  test("split: max = 0 and max = -1 send every key distributed") {
    val df = rows
    for (max <- Seq(0L, -1L)) {
      val s = Hybrid.split("spec", df, "comp", max)
      assert(s.small(df).count() === 0L, s"max=$max")
      assert(s.big(df).count() === 7L, s"max=$max")
    }
  }

  test("split: with nothing big, small is the input and no distributed work") {
    val df = rows
    val s = Hybrid.split("spec", df, "comp", 4L)
    assert(!s.hasBig)
    assert(s.small(df) eq df)
    assert(!s.small(df).queryExecution.optimizedPlan.toString.contains("LeftAnti"))
    var called = false
    val out = s.union(df) { called = true; df }
    assert(!called)
    assert(out eq df)
  }

  test("split keeps string keys and the key column type") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("gkey", "v")
    val s = Hybrid.split("spec", df, "gkey", 1L)
    assert(s.big(df).select("gkey").as[String].collect().toSet === Set("a"))
    assert(s.small(df).select("gkey").as[String].collect().toSet === Set("b"))
    assert(s.keys.get.schema === df.select("gkey").schema)
  }

  test("local: max <= 0 forces distributed without measuring; <= max is local") {
    var measured = 0
    def size(n: Long): Long = { measured += 1; n }
    assert(!Hybrid.local("spec", 0L)(size(0L)))
    assert(!Hybrid.local("spec", -1L)(size(0L)))
    assert(measured === 0)
    assert(Hybrid.local("spec", 5L)(size(5L)))
    assert(!Hybrid.local("spec", 5L)(size(6L)))
    assert(Hybrid.local("spec", 5L)(size(0L)))
    assert(measured === 3)
  }

  test("split runs exactly one Spark job") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val df = rows
    sc.addSparkListener(listener)
    try {
      for (max <- Seq(3L, 10L)) {
        groups.clear()
        sc.setJobGroup(s"hybrid-split-$max", "split")
        try Hybrid.split("spec", df, "comp", max)
        finally sc.clearJobGroup()
        // the bus delivers events in order: once the sentinel job's start
        // is seen, every job the split started has been counted
        sc.setJobGroup(s"sentinel-$max", "sentinel")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30000000000L
        while (!groups.contains(s"sentinel-$max") && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(groups.asScala.count(_ == s"hybrid-split-$max") === 1, s"max=$max")
      }
    } finally sc.removeSparkListener(listener)
  }
}
