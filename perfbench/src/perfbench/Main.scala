package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up, then measure the closed loop
  * at `local[Cores]` for `--seconds`. A traced run then traces one more
  * operation, and repeats one pass and the traced operation at `local[1]`.
  * Writes raw records (no verdicts) as one JSON object to `--result`;
  * `run.py` checks them against the expected outputs and turns them into
  * metrics.
  *
  *   perfbench.Main --workload suite|lump --seed N
  *     --seconds S --trace 0|1 --data DIR --work DIR --result FILE
  */
object Main {
  /** Parallelism of the measured loop: this host's core count. */
  val Cores = 4

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, result: String)

  /** One timed operation; `error` set when it threw. */
  final case class Op(name: String, seconds: Double, check: Map[String, Any],
      error: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("work"), kv("result"))
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Run `f` as one operation, recording a throw instead of a timing. */
  def op(name: String)(f: => Map[String, Any]): Op = {
    val t0 = System.nanoTime()
    try {
      val check = f
      Op(name, (System.nanoTime() - t0) / 1e9, check, None)
    } catch {
      case e: Exception =>
        Op(name, (System.nanoTime() - t0) / 1e9, Map.empty,
          Some(s"${e.getClass.getName}: ${e.getMessage}".take(300)))
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** `spark.range` aggregation seconds — the machine's own scaling. */
  def hostProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, 8)
        .select(sum(xxhash64(col("id")) % 1000L)).head()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).sorted.apply(1)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val workload: Workload = a.workload match {
      case "suite"      => new Suite(a)
      case "lump"       => new Lump(a, ways = 16000L, buckets = 64L)
      case other        => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap.empty[String, Any]
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    var spark = session(Cores)
    out("cores") = Cores
    out("setup_check") = workload.setup(spark)
    out("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    out("passes") = measure(workload, spark, a.seconds)

    if (a.trace) {
      out("trace") = workload.traced(spark, Cores)
      out("host_s") = hostProbe(spark)
    }

    stop(spark)
    if (a.trace) {
      spark = session(1)
      out("passes_1core") = Seq(workload.pass(spark).map(opJson))
      out("trace_1core") = workload.traced(spark, 1)
      out("host_1core_s") = hostProbe(spark)
      stop(spark)
    }

    out("peak_rss_mb") = peakRssMb()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(a.result), json.writeValueAsBytes(out))
  }

  /** Closed loop: passes back to back until `seconds` have elapsed. */
  def measure(w: Workload, spark: SparkSession, seconds: Double): Seq[Seq[Map[String, Any]]] = {
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Seq[Op]]
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      passes += w.pass(spark)
    passes.map(_.map(opJson)).toSeq
  }

  def opJson(o: Op): Map[String, Any] =
    Map("name" -> o.name, "s" -> o.seconds, "check" -> o.check) ++
      o.error.map("error" -> _)
}

/** A workload: set-up once, then closed-loop passes of operations. */
trait Workload {
  /** Set up; returns output fingerprints to check once per run. */
  def setup(spark: SparkSession): Map[String, Any]
  def pass(spark: SparkSession): Seq[Main.Op]
  /** One more operation under spans: per-span costs and checks. */
  def traced(spark: SparkSession, cores: Int): Map[String, Any]
}
