package graft.queries

import java.nio.file.{Files, LinkOption, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestBase}

/** Cached queries must not depend on the spelling of the input path.
  * Building one cached frame inside another's `ConcurrentHashMap` bin
  * threw `IllegalStateException: Recursive update` whenever the two keys
  * landed in the same bin — a property of the path string alone.
  */
class CachePathSpec extends AnyFunSuite with SparkTestBase {

  private val data = Paths.get("/root/testdata/sf0.001")

  /** `ConcurrentHashMap`'s bin index for `key` in a table of up to 1024
    * bins (its spread hash, low 10 bits). */
  private def bin(key: String): Int = {
    val h = key.hashCode
    (h ^ (h >>> 16)) & 0x3ff
  }

  /** A fresh symlink to the test tables under java.io.tmpdir whose name
    * puts q32's nested keys into one bin at every table size ≤ 1024. */
  private def collidingAlias(): Path = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val pid = ProcessHandle.current.pid
    val alias = Iterator.from(0).map(i => tmp.resolve(s"graft_alias_${pid}_$i"))
      .find(p => !Files.exists(p, LinkOption.NOFOLLOW_LINKS) &&
        bin(s"minhashcand:$p") == bin(s"shinglesets:$p"))
      .get
    Files.createSymbolicLink(alias, data)
  }

  test("q32 and q13 through a path whose nested cache keys share a bin") {
    val alias = collidingAlias()
    try {
      for (q <- Seq("q32_minhash_lsh", "q13_cc_labels")) {
        Derived.clearMemo()
        val viaAlias = SparkEntry.queries(q)(spark, alias.toString).count()
        Derived.clearMemo()
        val plain = SparkEntry.queries(q)(spark, data.toString).count()
        assert(viaAlias === plain, q)
        assert(plain > 0, q)
      }
    } finally Files.delete(alias)
  }
}
