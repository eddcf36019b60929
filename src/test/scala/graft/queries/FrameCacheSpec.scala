package graft.queries

import java.nio.file.{Files, LinkOption, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestBase}

/** [[FrameCache]]: nested builds, one build per key, session scoping and
  * the temp dirs it (and the stream queries) must not leave behind. */
class FrameCacheSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("200 nested builds of distinct keys all succeed, each built once") {
    FrameCache.release()
    val runs = new Array[Int](200)
    // key i's build needs key i+1: a 200-deep chain of nested builds
    def depth(i: Int): Int = FrameCache(spark, s"nest:$i") {
      runs(i) += 1
      if (i == 199) 1 else depth(i + 1) + 1
    }
    assert(depth(0) === 200)
    assert((0 until 200).map(depth) === (0 until 200).map(200 - _))
    assert(runs.forall(_ == 1), runs.mkString(","))
    FrameCache.release()
  }

  test("a new session never receives a frame of the old session") {
    val s2 = spark.newSession()
    try {
      val a = Derived.edgesDF(spark, dir)
      assert(a.sparkSession eq spark)
      val b = Derived.edgesDF(s2, dir)
      assert(b.sparkSession eq s2)
      assert(QueriesGraph.ccLabels(s2, dir).sparkSession eq s2)
      val c = Derived.edgesDF(spark, dir)
      assert(c.sparkSession eq spark)
      assert(a.count() === b.count() && b.count() === c.count())
    } finally FrameCache.release()
  }

  test("release deletes the owned dirs, not link targets, and runs twice") {
    val outside = Files.createTempFile("framecache_target", ".txt")
    try {
      val owned = FrameCache.tempDir("framecache_probe")
      Files.createDirectories(owned.resolve("sub"))
      Files.write(owned.resolve("sub/f.bin"), Array[Byte](1, 2, 3))
      Files.createSymbolicLink(owned.resolve("link"), outside)
      FrameCache.release()
      assert(!Files.exists(owned, LinkOption.NOFOLLOW_LINKS))
      assert(Files.exists(outside))
      FrameCache.release()
    } finally Files.delete(outside)
  }

  test("q34 and q79 leave no checkpoint, link, staging dir or sink view") {
    val roots = Seq(Paths.get(System.getProperty("java.io.tmpdir")),
      Paths.get("/dev/shm")).filter(Files.isDirectory(_))
    def leftovers(): Set[Path] = roots.flatMap { r =>
      val ls = Files.list(r)
      try ls.toArray.toSeq.map(_.asInstanceOf[Path]) finally ls.close()
    }.filter { p =>
      val n = p.getFileName.toString
      n.contains("_ckpt") || n.startsWith("q34_events") || n.startsWith("sharedq_")
    }.toSet
    def sinkViews(): Set[String] = spark.catalog.listTables().collect()
      .map(_.name).filter(_.matches("q\\d+_sink_\\d+")).toSet
    val (before, viewsBefore) = (leftovers(), sinkViews())
    for (q <- Seq("q34_stream_window", "q79_stream_join"))
      assert(SparkEntry.queries(q)(spark, dir).count() > 0, q)
    Derived.clearMemo()
    assert(leftovers() -- before === Set.empty)
    assert(sinkViews() -- viewsBefore === Set.empty)
  }
}
