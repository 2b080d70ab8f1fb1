package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Bridge

/** One benchmark run: one workload, one seed, in this process.
  *
  * Usage (normally through `run.py`, which builds the classpath):
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --cores C --work DIR --out DIR --bench-dir DIR
  * }}}
  * Prints a human-readable summary and, as its last stdout line, the
  * result object `{"correct", "attempted", "failed", "metrics"}`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val cores = opt("cores").toInt
    val c = Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", Paths.get(opt("work")), Paths.get(opt("out")),
      Paths.get(opt("bench-dir")), session(cores, Paths.get(opt("work"))))
    val result = try c.workload match {
      case "validate" => Validate.run(c)
      case "query_suite" => QuerySuite.run(c)
      case w => sys.error(s"unknown workload $w")
    } finally c.spark.stop()
    println(result.json)
  }

  /** `local[cores]` with as many shuffle partitions, and the session
    * settings `graft.Bench` runs the suite under.
    * Status-store retention is kept small so that heap readings do not
    * grow with the number of operations a run manages to fit in.
    */
  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.windowGroupLimitThreshold",
        graft.sim.BucketBudget.DefaultCap.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Everything a workload needs from the command line and the session. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, out: Path, benchDir: Path, spark: SparkSession) {
  val heap = new HeapProbe(spark)

  /** Epoch ms at which this JVM started: set-up time counts from here. */
  val startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def prefix: String = s"$workload-seed$seed-trace${if (trace) 1 else 0}"

  private val marks = scala.collection.mutable.ArrayBuffer("jvm+session" -> System.currentTimeMillis())

  /** Close the current stage of the run and name it, for the report. */
  def mark(stage: String): Unit = marks += stage -> System.currentTimeMillis()

  /** Seconds from JVM start to the last [[mark]]. */
  def sinceStart: Double = (marks.last._2 - startMs) / 1000.0

  /** How long each marked stage took. */
  def stages: String = ((("start", startMs) +: marks.toSeq).sliding(2).map {
    case Seq((_, a), (stage, b)) => f"$stage=${(b - a) / 1000.0}%.1fs"
  }).mkString(" ")

  /** Write the spans of the traced operations, one JSON object a line. */
  def writeSpans(traces: Seq[OpTrace]): Unit = {
    Files.createDirectories(out)
    Files.write(out.resolve(s"$prefix.spans.jsonl"),
      traces.flatMap(_.spans).map(Tracer.json).asJava)
  }

  /** Write the full layer report, including metrics that only some
    * workloads have, next to the spans.
    */
  def writeReport(lines: Seq[String]): Unit = {
    Files.createDirectories(out)
    Files.write(out.resolve(s"$prefix.report.txt"), lines.asJava)
    lines.foreach(println)
  }
}

/** Live heap: heap in use right after full collections. */
final class HeapProbe(spark: SparkSession) {
  private def used: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** Wait (up to 5 s) for released cache blocks to leave the block
    * manager, deliver pending listener events, and collect: run after
    * every operation, so that each starts from the same state.
    */
  def settle(): Unit = {
    val until = System.nanoTime() + 5000000000L
    while (Bridge.rddBlocks(spark.sparkContext) > 0 && System.nanoTime() < until)
      Thread.sleep(10)
    Bridge.drainListenerBus(spark.sparkContext)
    System.gc()
  }

  /** MB of heap the run retains: [[settle]], then the smallest of five
    * readings, each right after a full collection 200 ms after the one
    * before. Spark's own threads hold about 35 MB for part of a second
    * after some operations (a class histogram taken a second later shows
    * the same live objects whatever the reading), so a single reading
    * lands on it in about one run in three; the smallest of readings
    * spread over a second does not.
    */
  def liveMb(): Double = {
    settle()
    Seq.fill(5) { Thread.sleep(200); System.gc(); used }.min / 1048576.0
  }
}

/** One metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** The per-layer metrics a traced run reports, with their units: the
  * same set for every workload, as `BENCHMARK.json` lists them. A layer
  * a workload does not pass through reads 0 (the validate workloads
  * build no `SparkEntry` query; `query_suite` has no validate phases).
  */
object Layers {
  val Units: Seq[(String, String)] =
    Validate.Phases.map(p => s"${p}_s" -> "s") ++
    Seq("validate.run_s" -> "s", "validate.resume_s" -> "s", "validate.driver_s" -> "s", "entry.build_s" -> "s", "entry.build_jobs" -> "count",
      "catalyst.plan_s" -> "s", "spark.exec_s" -> "s", "spark.jobs" -> "count",
      "spark.stages" -> "count", "spark.tasks" -> "count", "spark.input_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.task_skew" -> "ratio",
      "validate.scan_amplification" -> "ratio", "validate.cache_peak_bytes" -> "bytes",
      "validate.output_bytes" -> "bytes") ++
    QuerySuite.Families.map(f => s"family.${f._1}.s" -> "s") ++
    Seq("op", "action", "job", "stage").map(k => s"self.${k}_s" -> "s") :+
    ("trace.overhead_ratio" -> "ratio")

  /** The listed metrics, in list order, from those a workload measured. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    Units.map { case (n, u) =>
      val m = byName.getOrElse(n, Metric(n, 0.0, u))
      require(m.unit == u, s"$n is measured in ${m.unit}, listed in $u")
      m
    }
  }
}

/** The result object the benchmark prints as its last line. */
final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"metric is not a finite number: $d")
    else java.lang.Double.toString(d)
}

/** Order statistics over samples. */
object Stat {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
