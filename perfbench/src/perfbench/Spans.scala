package perfbench

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark cost of one span, summed from listener events. */
final case class Cost(
    wallS: Double, jobs: Int, taskS: Double, shuffleMb: Double,
    spillMb: Double, gcS: Double, idleS: Double) {
  def +(o: Cost): Cost = Cost(wallS + o.wallS, jobs + o.jobs,
    taskS + o.taskS, shuffleMb + o.shuffleMb, spillMb + o.spillMb,
    gcS + o.gcS, idleS + o.idleS)

  def fields: Seq[(String, Double)] = Seq(
    "wall_s" -> wallS, "jobs" -> jobs.toDouble, "task_s" -> taskS,
    "shuffle_mb" -> shuffleMb, "spill_mb" -> spillMb, "gc_s" -> gcS,
    "idle_s" -> idleS)
}

object Cost {
  val zero: Cost = Cost(0, 0, 0, 0, 0, 0, 0)
}

/** Attributes Spark jobs to benchmark spans from the outside.
  *
  * [[Spans.timed]] sets a job group named after the span around a call
  * into the program. A job carrying one of these groups belongs to that
  * span; a job started by another thread (a streaming query's
  * micro-batch thread sets its own group) belongs to the span that was
  * open when the job was submitted. Before totals are read, [[drain]]
  * waits until the listener has seen `onJobEnd` for every job the status
  * tracker lists under the span's group, then for a sentinel job run
  * last — the bus delivers events in order, so no event of an earlier job
  * is still queued after that. Totals are therefore exact, not sampled.
  */
final class Spans(sc: SparkContext) extends SparkListener {
  private val Prefix = "perfbench:"

  private final class Tally {
    var jobs = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private final case class Window(name: String, startMs: Long, var endMs: Long)

  private val tallies = new ConcurrentHashMap[String, Tally]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val endedJobs = ConcurrentHashMap.newKeySet[Int]()
  private val windows = mutable.ArrayBuffer.empty[Window]

  sc.addSparkListener(this)

  private def tally(span: String): Tally =
    tallies.computeIfAbsent(span, _ => new Tally)

  private def spanAt(timeMs: Long): Option[String] = windows.synchronized {
    windows.reverseIterator
      .find(w => w.startMs <= timeMs && (w.endMs < 0 || timeMs <= w.endMs))
      .map(_.name)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix))
    group.orElse(spanAt(e.time)).foreach { span =>
      tally(span).jobs += 1
      e.stageIds.foreach(stageSpan.put(_, span))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val t = tally(span)
      val m = e.taskMetrics
      if (m != null) {
        t.taskMs += m.executorRunTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.gcMs += m.jvmGCTime
      }
      t.busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.add(e.jobId)

  /** Run `f` as span `name`; returns its result and wall seconds. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val w = Window(name, System.currentTimeMillis(), -1L)
    windows.synchronized(windows += w)
    sc.setJobGroup(Prefix + name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      sc.clearJobGroup()
      windows.synchronized(w.endMs = System.currentTimeMillis())
    }
  }

  private def awaitJobs(ids: Iterable[Int]): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!ids.forall(endedJobs.contains)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"listener did not see the end of jobs ${ids.filterNot(endedJobs.contains)}")
      Thread.sleep(5)
    }
  }

  /** Wait until every listener event of the given spans' jobs is in. */
  def drain(names: Iterable[String]): Unit = {
    names.foreach(n => awaitJobs(sc.statusTracker.getJobIdsForGroup(Prefix + n)))
    timed("drain")(sc.parallelize(Seq(1), 1).count())
    awaitJobs(sc.statusTracker.getJobIdsForGroup(Prefix + "drain"))
  }

  /** Cost of span `name` whose wall time was `wallS`; call after [[drain]]. */
  def cost(name: String, wallS: Double): Cost = {
    val t = Option(tallies.get(name)).getOrElse(new Tally)
    val w = windows.synchronized(windows.filter(_.name == name).toList)
    val busyMs = w.map(win => coveredMs(t.busy.toSeq, win.startMs, win.endMs)).sum
    val idle = math.max(0.0, wallS - busyMs / 1000.0)
    Cost(wallS, t.jobs, t.taskMs / 1000.0, t.shuffleBytes / 1e6,
      t.spillBytes / 1e6, t.gcMs / 1000.0, idle)
  }

  /** Milliseconds of [lo, hi] during which at least one task ran. */
  private def coveredMs(busy: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = busy.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  def close(): Unit = sc.removeSparkListener(this)
}
