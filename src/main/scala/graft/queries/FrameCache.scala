package graft.queries

import java.nio.file.{Files, LinkOption, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The values the queries share per input dir — memoised frames, the
  * lump [[graft.pipeline.LumpWays.Stages]], the staged stream quartiles —
  * each built once and reused until [[release]] (Verify/Bench run every
  * query against the same dir; Bench releases between reps).
  *
  * Builds run OUTSIDE the map's lock: the map only stores a holder whose
  * lazy value the caller forces afterwards, so a builder may use any other
  * cached key. (`computeIfAbsent` must not touch the map from inside its
  * mapping function: it throws `Recursive update` when the nested key
  * lands in the outer key's bin, which depends on the input path.)
  *
  * The cache serves one SparkSession at a time: a call from another
  * session releases everything first, and so does the end of the
  * SparkContext. Releasing also deletes the temp dirs made by [[tempDir]].
  */
object FrameCache {
  private final class Entry(build: => Any) { lazy val value: Any = build }

  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val owned = collection.mutable.ArrayBuffer.empty[Path]
  private var session: SparkSession = _
  private var listening: SparkContext = _

  /** The value cached under `key`, built by `build` on first use. */
  def apply[A](s: SparkSession, key: String)(build: => A): A = {
    bind(s)
    entries.computeIfAbsent(key, _ => new Entry(build)).value.asInstanceOf[A]
  }

  private def bind(s: SparkSession): Unit = synchronized {
    if (session ne s) {
      release()
      session = s
      if (listening ne s.sparkContext) {
        listening = s.sparkContext
        listening.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = release()
        })
      }
    }
  }

  /** A new temp dir that lives until the next [[release]]. */
  private[queries] def tempDir(prefix: String): Path = synchronized {
    owned += Files.createTempDirectory(prefix)
    owned.last
  }

  /** Drop every cached value and delete every dir from [[tempDir]]. */
  def release(): Unit = synchronized {
    entries.clear()
    session = null
    owned.foreach(deleteTree)
    owned.clear()
  }

  /** Delete `root` and everything under it; symlinks are deleted, never
    * followed. Best effort: a temp file that cannot be deleted is left
    * behind rather than failing the query that made it. */
  private[graft] def deleteTree(root: Path): Unit = try {
    if (Files.isDirectory(root, LinkOption.NOFOLLOW_LINKS)) {
      val ls = Files.list(root)
      try ls.forEach(p => deleteTree(p)) finally ls.close()
    }
    Files.deleteIfExists(root)
  } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
}
