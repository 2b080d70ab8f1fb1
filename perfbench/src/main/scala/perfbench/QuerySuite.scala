package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, expr, xxhash64}

import graft.SparkEntry

/** `query_suite`: [[Subset]], a fixed set of `SparkEntry.queries`
  * entries that covers every module family, over the driver tables
  * shipped in `perfbench/data/sf0.01`, in a seed-shuffled order, pass
  * after pass.
  *
  * Each execution is timed from the `SparkEntry.queries` call to the end
  * of its forced collect. The force is `graft.Bench.force`'s expression,
  * `bit_xor(xxhash64(all columns))`, built here because `Bench.force`
  * discards the hash the output check needs, and because the traced
  * run times its planning (`queryExecution.executedPlan`) apart from its
  * execution. As in `graft.Bench`, the cache is cleared after every
  * execution, outside the timed region.
  */
object QuerySuite {

  /** Module family of a query, by name prefix. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "runner" -> Seq("verdicts", "violations", "fused_", "v_"),
    "sim" -> Seq("sim_", "emb_"),
    "dedup" -> Seq("dedup_", "dup_"),
    "digest" -> Seq("digest"),
    "stats" -> Seq("m_", "drift_"),
    "agg" -> Seq("agg_", "conf_"),
    "io" -> Seq("f_", "fmt_"),
    "mutate" -> Seq("mut_"),
    "query" -> Seq("q", "s_", "ri_"),
    "text" -> Seq("t_"),
    "mm" -> Seq("mm_"))

  def family(q: String): String =
    Families.find(_._2.exists(q.startsWith)).map(_._1).getOrElse("other")

  /** The queries a pass runs: one per family, the family's
    * cheapest on the shipped tables (so mostly the per-query floor of
    * build and plan), except for `agg`, whose `agg_merge` is the
    * aggregation the operator work targets. A pass takes about 3 s
    * warm on a 4-core host.
    */
  val Subset: Seq[String] = Seq(
    "violations", "sim_minhash_sig", "dup_report", "digest", "m_len_hist", "agg_merge",
    "f_append_compat", "mut_update", "q_topk", "t_tokens", "mm_features")

  /** Hashes recorded for the dataset whose fingerprint heads the file. */
  private def expected(benchDir: Path): (String, Map[String, String]) = {
    val lines = Files.readAllLines(benchDir.resolve("expected_hashes.tsv")).asScala.toSeq
    val data = lines.collectFirst { case l if l.startsWith("# data ") => l.drop(7).trim }
      .getOrElse(sys.error("expected_hashes.tsv has no '# data' line"))
    data -> lines.filterNot(_.startsWith("#")).map(_.split("\t")).map(a => a(0) -> a(1)).toMap
  }

  /** Names and sizes of the parquet files in a data directory, hashed. */
  def fingerprint(dir: String): String = {
    val s = Files.walk(Paths.get(dir))
    val files = try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    val text = files.map(f => s"${Paths.get(dir).relativize(f)} ${Files.size(f)}").sorted.mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  final case class Exec(name: String, ms: Double, hash: String, trace: Option[OpTrace])

  def run(c: Ctx): Result = {
    val spark = c.spark
    val dir = c.benchDir.resolve("data").resolve("sf0.01").toString
    val (dataPrint, want) = expected(c.benchDir)
    require(fingerprint(dir) == dataPrint, s"expected_hashes.tsv was recorded for other data than $dir")
    require(Subset.forall(SparkEntry.queries.contains), "unknown query in the subset")
    // documents a pass puts through: every query reads the documents
    // table or a table of the same scale
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    val rnd = new scala.util.Random(c.seed)
    val tracer = new Tracer(spark, (_, _, _) => "")

    def one(name: String, traceId: Option[Int]): Exec = {
      val tr = traceId.map { id => tracer.begin(id, name); tracer }
      def sp[A](kind: String)(f: => A): A = tr.fold(f)(_.span(kind, name)(f))
      val t0 = System.nanoTime()
      val hash = try {
        val df = sp("build")(SparkEntry.queries(name)(spark, dir))
        val forced = df.select(xxhash64(df.columns.map(col): _*).as("__h"))
          .agg(expr("bit_xor(__h)"))
        sp("plan")(forced.queryExecution.executedPlan)
        String.valueOf(sp("exec")(forced.collect()).head.get(0))
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e"); "failed"
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val trace = tr.map(_.end())
      spark.catalog.clearCache()
      Exec(name, ms, hash, trace)
    }
    var passes = 0
    def pass(traced: Boolean): Seq[Exec] = {
      val order = rnd.shuffle(Subset)
      val out = order.zipWithIndex.map { case (n, i) =>
        one(n, if (traced) Some(passes * 1000 + i) else None)
      }
      passes += 1
      out
    }
    def total(p: Seq[Exec]) = p.map(_.ms).sum / 1000.0

    c.mark("inputs")
    val warm = Measure.warmUp(c, WarmMax)(total(pass(traced = false)))
    c.mark("warm-up")
    val setupS = c.sinceStart
    val timed = Measure.timed(c, MinPasses)((_, traced) => traced -> pass(traced))
    c.mark("timed")
    val heapMb = c.heap.liveMb()

    // every execution must reproduce the hash recorded for its query,
    // which also makes the hashes equal across passes
    val execs = timed.flatMap(_._2)
    val bad = execs.filterNot(e => want.get(e.name).contains(e.hash))
    bad.map(_.name).distinct.sorted.foreach(n => System.err.println(
      s"[perfbench] $n: hash ${execs.filter(_.name == n).map(_.hash).distinct.mkString(",")}" +
        s" differs from the recorded ${want.getOrElse(n, "(none)")}"))
    val plain = timed.filterNot(_._1).map(_._2)
    val traced = timed.filter(_._1).map(_._2)
    val plainMs = plain.flatten.map(_.ms)
    val layers = if (c.trace) layerMetrics(traced, plain) else Nil
    val metrics =
      if (!c.trace) Seq(
        Metric("docs_per_s", Stat.median(plain.map(p => docs * p.size / total(p))), "1/s"),
        Metric("op_ms_p50", Stat.quantile(plainMs, 0.5), "ms"),
        Metric("op_ms_p90", Stat.quantile(plainMs, 0.9), "ms"),
        Metric("setup_s", setupS, "s"),
        Metric("live_heap_peak_mb", heapMb, "MB"),
        Metric("op_ok_ratio", (execs.size - bad.size).toDouble / execs.size, "ratio"))
      else Layers.complete(layers)
    val perQuery = plain.flatten.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, es) =>
      f"[perfbench]   $n%-24s ${Stat.median(es.map(_.ms))}%9.1f ms"
    }
    if (c.trace) c.writeSpans(traced.flatten.flatMap(_.trace))
    c.writeReport(Seq(
      f"[perfbench] query_suite seed=${c.seed} queries=${Subset.size} docs=$docs " +
        f"warm-up=${warm.map(w => f"$w%.2f").mkString(",")}s passes=${timed.size} " +
        f"executions=${execs.size} failed=${bad.size}",
      f"[perfbench] pass seconds: ${timed.map(p => f"${total(p._2)}%.2f").mkString(" ")}",
      f"[perfbench] suite_s ${Stat.median(plain.map(total))}%.4f s",
      s"[perfbench] stages: ${c.stages}") ++
      layers.map(m => f"[perfbench]   ${m.name}%-28s ${m.value}%14.4f ${m.unit}") ++
      perQuery ++
      timed.zipWithIndex.map { case ((_, p), i) =>
        s"[perfbench] pass $i: " + p.map(e => f"${e.name}=${e.ms}%.1f").mkString(" ")
      } ++
      timed.head._2.sortBy(_.name).map(e => s"hash\t${e.name}\t${e.hash}"))
    Result(bad.isEmpty, execs.size, bad.size, metrics)
  }

  /** Warm-up passes at most, and fewest timed passes. Passes still got
    * faster after a third warm-up pass (README, query_suite), so four.
    */
  private val WarmMax = 4
  private val MinPasses = 2

  /** Per-pass sums over the traced passes, as medians across them. The
    * build, plan and collect spans of a query cover its whole timed
    * region, so their sums account for the pass time up to the tracing
    * overhead.
    */
  private def layerMetrics(traced: Seq[Seq[Exec]], plain: Seq[Seq[Exec]]): Seq[Metric] = {
    def med(f: Seq[OpTrace] => Double) = Stat.median(traced.map(p => f(p.flatMap(_.trace))))
    def spanS(kind: String)(ts: Seq[OpTrace]) =
      ts.flatMap(_.spans).filter(_.kind == kind).map(_.durNs).sum / 1e9
    def counter(k: String)(ts: Seq[OpTrace]) = ts.map(_.counters(k)).sum
    Seq(
      Metric("entry.build_s", med(spanS("build")), "s"),
      Metric("entry.build_jobs", med(_.map(_.countUnder("job", "build")).sum.toDouble), "count"),
      Metric("catalyst.plan_s", med(spanS("plan")), "s"),
      Metric("exec.collect_s", med(spanS("exec")), "s"),
      Metric("spark.exec_s", med(counter("exec_ns")(_) / 1e9), "s"),
      Metric("spark.jobs", med(counter("jobs")), "count"),
      Metric("spark.stages", med(counter("stages")), "count"),
      Metric("spark.tasks", med(counter("tasks")), "count"),
      Metric("spark.input_bytes", med(counter("input_bytes")), "bytes"),
      Metric("spark.shuffle_write_bytes", med(counter("shuffle_write_bytes")), "bytes"),
      Metric("spark.spill_bytes", med(counter("spill_bytes")), "bytes"),
      Metric("spark.cpu_s", med(counter("cpu_ns")(_) / 1e9), "s"),
      Metric("spark.gc_s", med(counter("gc_ms")(_) / 1000.0), "s"),
      Metric("spark.task_skew", med(_.map(_.stageSkew).max), "ratio")) ++
      Families.map(_._1).map(f => Metric(s"family.$f.s",
        Stat.median(traced.map(_.filter(e => family(e.name) == f).map(_.ms).sum / 1000.0)), "s")) ++
      Seq("op", "build", "plan", "exec", "action", "job", "stage").map(k =>
        Metric(s"self.${k}_s", med(_.map(_.selfNs.getOrElse(k, 0L)).sum / 1e9), "s")) :+
      Metric("trace.overhead_ratio",
        Measure.overhead(traced.map(_.map(_.ms).sum), plain.map(_.map(_.ms).sum)), "ratio")
  }
}
