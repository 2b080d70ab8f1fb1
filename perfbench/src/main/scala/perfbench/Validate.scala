package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.checks.DatasetChecks
import graft.constraints.Constraints
import graft.gen.WebGen
import graft.io.Tables
import graft.runner.{Profile, ValidationRun}

/** `validate`: the shipped validation path, both ways it is run, over
  * one seeded `WebGen.pages` corpus.
  *
  * Each operation is a pair of calls:
  *  - fresh: `ValidationRun.run` into an empty root over the corpus
  *    written as part-partitioned parquet. Every runner, constraint,
  *    stats and append phase does real work and the digest store starts
  *    empty.
  *  - resume: `ValidationRun.runBucketed` over the corpus written as a
  *    url-bucketed table beside a url-bucketed lineage table. Set-up
  *    validates `part < ResumeFrom`; the call restores that state and
  *    resumes the rest, so it reads the checkpoint, compares against a
  *    half-full digest store, runs the url checks, and appends to
  *    existing tables.
  * Both calls share one JVM, one corpus and one warm-up, which is what
  * lets a run of both fit the time a benchmark run is given.
  */
object Validate {

  /** One timed run call: wall time, whether its report checked out, its
    * trace when traced, and the bytes of output it wrote.
    */
  final case class Sample(seconds: Double, ok: Boolean, trace: Option[OpTrace],
                          outBytes: Long)

  /** One operation: a fresh call, then a resume call. */
  final case class Pair(fresh: Sample, resume: Sample) {
    def seconds: Double = fresh.seconds + resume.seconds
    def ok: Boolean = fresh.ok && resume.ok
    def traces: Seq[OpTrace] = fresh.trace.toSeq ++ resume.trace
  }

  /** Corpus size and layout. A run (set-up, warm-up, two timed pairs,
    * output checks) takes about 90 s on a 4-core host, most of it the
    * fixed cost of each Spark job; the README's Sizes section has the
    * measurements this was chosen from.
    */
  val Pages: Long = 20000L
  val Parts: Int = 16
  val ResumeFrom: Int = Parts / 2
  val Buckets = 8

  /** Warm-up fresh calls at most, and fewest timed pairs. The resume
    * path's warm-up is the set-up call, which runs it cold; whole pairs
    * as warm-up do not fit the run's budget (README, Sizes).
    */
  private val WarmMax = 3
  private val MinPairs = 2

  private val suite = Constraints.webtextSuite
  private val statsCols = Seq("url", "lang")
  private val urlChecks = Seq("url_unique", "url_lineage")

  /** Per-layer phases, in the order a run performs them. */
  val Phases: Seq[String] = Seq("ckpt.read", "runner.violations", "checks.url_checks",
    "runner.verdicts", "stats.metrics", "stats.len_hist", "checks.digests",
    "runner.count", "ckpt.lineage", "ckpt.commit")

  def run(c: Ctx): Result = {
    val spark = c.spark
    val corpus = WebGen.pages(spark, Pages, Parts, c.seed)
    val input = c.work.resolve("pages")
    Tables.writePartitioned(corpus, input.toString)
    val pages = Tables.read(spark, input.toString)
    c.mark("corpus")
    val (pagesT, lineageT) = ("perfbench_pages_b", "perfbench_lineage_b")
    Seq(pagesT, lineageT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // bucketed from the written copy, so the corpus is generated once
    Tables.writeBucketed(pages, pagesT, c.work.resolve("pages_b").toString, "url", Buckets)
    val pb = spark.table(pagesT)
    // about one valid url in six has no fetch record, so the lineage
    // check finds dangling rows in every part
    Tables.writeBucketed(
      pb.filter(Constraints.validUrl).filter(pmod(xxhash64(col("url")), lit(6)) =!= 5)
        .select("url"),
      lineageT, c.work.resolve("lineage_b").toString, "url", Buckets)
    val lb = spark.table(lineageT)
    c.mark("bucketed")
    val inBytes = dirBytes(input) + dirBytes(c.work.resolve("pages_b"))
    val freshRows = pages.count()
    val resumeRows = pb.filter(col("part") >= ResumeFrom).count()
    c.mark("inputs")

    val roots = c.work.resolve("fresh")
    val root = c.work.resolve("resume")
    val snap = c.work.resolve("resume-setup")
    val digests = ValidationRun.digestTableName(root.toString)
    val t0 = System.nanoTime()
    ValidationRun.runBucketed(spark, pb.filter(col("part") < ResumeFrom), lb, suite,
      root.toString, "setup", buckets = Buckets)
    val setupCallS = (System.nanoTime() - t0) / 1e9
    copyTree(root, snap)
    val setupBytes = dirBytes(snap)
    c.mark("state")

    val tracer = new Tracer(spark, phaseOf)
    var n = 0 // calls so far: names roots, run ids and traces
    var lastFresh = roots
    def fresh(traced: Boolean): Sample = {
      n += 1
      deleteTree(roots) // keep only the latest root, for the output checks
      val r = roots.resolve(s"r$n")
      lastFresh = r
      val s = timeRun(n, "fresh", freshRows, Parts, traced, tracer) {
        ValidationRun.run(spark, pages, suite, r.toString, s"rep$n")
      }
      s.copy(outBytes = dirBytes(r))
    }
    def resume(traced: Boolean): Sample = {
      n += 1
      deleteTree(root)
      copyTree(snap, root)
      spark.catalog.refreshTable(digests)
      val s = timeRun(n, "resume", resumeRows, Parts - ResumeFrom, traced, tracer) {
        ValidationRun.runBucketed(spark, pb, lb, suite, root.toString, s"rep$n",
          buckets = Buckets)
      }
      s.copy(outBytes = dirBytes(root) - setupBytes)
    }

    val warm = Measure.warmUp(c, WarmMax)(fresh(traced = false).seconds)
    c.mark("warm-up")
    val setupS = c.sinceStart
    val samples = Measure.timed(c, MinPairs)((_, traced) => Pair(fresh(traced), resume(traced)))
    c.mark("timed")
    val heapMb = c.heap.liveMb()
    val problems = try {
      checkOutputs(spark, lastFresh.toString, pages, None).map("fresh: " + _) ++
        checkOutputs(spark, root.toString, pb, Some(lb)).map("resume: " + _)
    } catch { case e: Exception => Seq(s"output check failed: $e") }
    c.mark("checks")
    problems.foreach(p => System.err.println(s"[perfbench] $p"))
    Seq(pagesT, lineageT, digests).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // the read-back check of the outputs is an operation of its own
    val attempted = samples.size + 1
    val failed = samples.count(!_.ok) + (if (problems.nonEmpty) 1 else 0)
    // figures come from the pairs that succeeded; if none did, from all
    // of them, so that the failure is still reported with a result
    val good = if (samples.exists(_.ok)) samples.filter(_.ok) else samples
    val plain = good.filter(_.traces.isEmpty)
    val plainMs = plain.map(_.seconds * 1000)
    val rows = freshRows + resumeRows
    val lines = Seq(
      f"[perfbench] validate seed=${c.seed} pages=$Pages parts=$Parts rows/op=$freshRows+$resumeRows " +
        f"input=${inBytes}B set-up resume=${setupCallS}%.2fs " +
        f"warm-up fresh=${warm.map(w => f"$w%.2f").mkString(",")}s " +
        f"ops=${samples.size} failed=$failed",
      f"[perfbench] fresh seconds: ${samples.map(s => f"${s.fresh.seconds}%.3f").mkString(" ")}",
      f"[perfbench] resume seconds: ${samples.map(s => f"${s.resume.seconds}%.3f").mkString(" ")}",
      s"[perfbench] stages: ${c.stages}",
      f"[perfbench] out_bytes_per_in_byte " +
        f"${Stat.median(plain.map(p => (p.fresh.outBytes + p.resume.outBytes).toDouble / inBytes))}%.5f")
    val traced = samples.filter(_.traces.nonEmpty)
    val layers = if (c.trace) layerMetrics(traced, plain, inBytes) else Nil
    val metrics =
      if (!c.trace) Seq(
        Metric("docs_per_s", Stat.median(plain.map(rows / _.seconds)), "1/s"),
        Metric("op_ms_p50", Stat.quantile(plainMs, 0.5), "ms"),
        Metric("op_ms_p90", Stat.quantile(plainMs, 0.9), "ms"),
        Metric("setup_s", setupS, "s"),
        Metric("live_heap_peak_mb", heapMb, "MB"),
        Metric("op_ok_ratio", (attempted - failed).toDouble / attempted, "ratio"))
      else Layers.complete(layers)
    if (c.trace) c.writeSpans(traced.flatMap(_.traces))
    c.writeReport(lines ++ layers.map(m => f"[perfbench]   ${m.name}%-28s ${m.value}%14.4f ${m.unit}"))
    Result(failed == 0, attempted, failed, metrics)
  }

  /** One timed run call: wall time from call to return, with every
    * output appended and the checkpoint committed.
    */
  private def timeRun(id: Int, name: String, rows: Long, parts: Int, traced: Boolean,
                      tracer: Tracer)(run: => ValidationRun.Report): Sample = {
    if (traced) tracer.begin(id, name)
    val t0 = System.nanoTime()
    val ok = try {
      val rep = run
      rep.rows == rows && rep.partsProcessed.size == parts
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] run failed: $e"); false
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Sample(secs, ok, if (traced) Some(tracer.end()) else None, 0L)
  }

  /** Per-layer figures of a pair (both calls summed), as medians over
    * the traced pairs. The phase times and `validate.driver_s` add up to
    * the pair's wall time by construction: the driver share is what no
    * action covers.
    */
  private def layerMetrics(traced: Seq[Pair], plain: Seq[Pair], inBytes: Long): Seq[Metric] = {
    def med(f: OpTrace => Double) = Stat.median(traced.map(_.traces.map(f).sum))
    val s = 1e-9
    val phases = (Phases ++ traced.flatMap(_.traces).flatMap(_.phaseNs.keys).distinct
      .filterNot(Phases.contains))
      .map(p => Metric(s"${p}_s", med(_.phaseNs.getOrElse(p, 0L) * s), "s"))
    val self = Seq("op", "action", "job", "stage").map(k =>
      Metric(s"self.${k}_s", med(_.selfNs.getOrElse(k, 0L) * s), "s"))
    Seq(
      Metric("validate.run_s", Stat.median(plain.map(_.fresh.seconds)), "s"),
      Metric("validate.resume_s", Stat.median(plain.map(_.resume.seconds)), "s")) ++
    phases ++ Seq(
      Metric("validate.driver_s", med(t => (t.root.durNs - t.phaseNs.values.sum) * s), "s"),
      Metric("catalyst.plan_s", med(_.planNs * s), "s"),
      Metric("spark.exec_s", med(_.counters("exec_ns") * s), "s"),
      Metric("spark.jobs", med(_.counters("jobs")), "count"),
      Metric("spark.stages", med(_.counters("stages")), "count"),
      Metric("spark.tasks", med(_.counters("tasks")), "count"),
      Metric("spark.input_bytes", med(_.counters("input_bytes")), "bytes"),
      Metric("spark.shuffle_write_bytes", med(_.counters("shuffle_write_bytes")), "bytes"),
      Metric("spark.spill_bytes", med(_.counters("spill_bytes")), "bytes"),
      Metric("spark.cpu_s", med(_.counters("cpu_ns") * s), "s"),
      Metric("spark.gc_s", med(_.counters("gc_ms") / 1000.0), "s"),
      Metric("spark.task_skew", Stat.median(traced.map(_.traces.map(_.stageSkew).max)), "ratio"),
      Metric("validate.scan_amplification", med(_.counters("input_bytes") / inBytes), "ratio"),
      Metric("validate.cache_peak_bytes",
        Stat.median(traced.map(_.traces.map(_.cachePeakBytes.toDouble).max)), "bytes"),
      Metric("validate.output_bytes", med(_.counters("output_bytes")), "bytes")) ++
      self :+ Metric("trace.overhead_ratio",
        Measure.overhead(traced.map(_.seconds), plain.map(_.seconds)), "ratio")
  }

  // ---- phase attribution ---------------------------------------------

  /** `saveAsTable`'s command, `(table, mode, query)`; the class is
    * `private[sql]`, so it is matched by name.
    */
  private object SaveAsV1Table {
    def unapply(p: LogicalPlan): Option[(CatalogTable, LogicalPlan)] =
      if (p.nodeName != "SaveAsV1TableCommand") None
      else Some((p.productElement(0).asInstanceOf[CatalogTable],
        p.productElement(2).asInstanceOf[LogicalPlan]))
  }

  /** The plan and, for table-writing commands, the query they write. */
  private def withWrittenQuery(p: LogicalPlan): Seq[LogicalPlan] = p match {
    case c: CreateDataSourceTableAsSelectCommand => Seq(p, c.query)
    case SaveAsV1Table(_, q) => Seq(p, q)
    case _ => Seq(p)
  }

  private def tableName(t: CatalogTable): String =
    t.storage.locationUri.map(u => new org.apache.hadoop.fs.Path(u).getName)
      .getOrElse(t.identifier.table)

  /** The phase of a run an action belongs to, named after the output it
    * writes or the state it reads.
    */
  def phaseOf(funcName: String, qe: QueryExecution, seen: Seq[String]): String = {
    val plans = withWrittenQuery(qe.analyzed)
    val written = qe.analyzed.collectFirst {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.getName
      case w: CreateDataSourceTableAsSelectCommand => tableName(w.table)
      case SaveAsV1Table(t, _) => tableName(t)
    }
    val read = plans.flatMap(_.collect {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.getName)
        case _ => Nil
      }
    }.flatten).toSet
    val digestStore = read.exists(r => r == "digests" || r == "digests_bkt") ||
      plans.exists(_.exists(_.expressions.exists(_.exists {
        case Literal(v, _) => v != null && v.toString == "text_digest"
        case _ => false
      })))
    written match {
      case Some("violations") if digestStore => "checks.digests"
      case Some("violations") => "runner.violations"
      case Some("verdicts") => "runner.verdicts"
      case Some("metrics") => "stats.metrics"
      case Some("len_hist") => "stats.len_hist"
      case Some(w) if w == "digests" || w == "digests_bkt" || w.startsWith("graft_digests_") =>
        "checks.digests"
      case Some("url_violations") => "checks.url_checks"
      case Some("run_lineage") => "ckpt.lineage"
      case Some("_snapshots") => "ckpt.commit"
      case Some(other) => s"write.$other"
      case None if digestStore => "checks.digests"
      // the manifest is read to plan the run, to stamp the lineage rows
      // with the next snapshot id, and again inside the commit
      case None if read == Set("_snapshots") =>
        if (seen.contains("ckpt.lineage")) "ckpt.commit"
        else if (seen.exists(p => !p.startsWith("ckpt."))) "ckpt.lineage"
        else "ckpt.read"
      case None if funcName == "count" => "runner.count"
      case None => "ckpt.read"
    }
  }

  // ---- output checks -------------------------------------------------

  /** Read the outputs back through the public readers and compare them
    * with independent references. Returns the problems found.
    */
  def checkOutputs(spark: SparkSession, root: String, pages: DataFrame,
                   lineage: Option[DataFrame]): Seq[String] = {
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq
    val cols = Seq("part", "check_name", "passed", "violation_count", "row_count").map(col)
    val verdicts = rows(ValidationRun.currentVerdicts(spark, root).select(cols: _*))
    val reference = rows(Profile.verdictRows(
      Profile.fusedAggregate(pages, suite, statsCols), suite).select(cols: _*))
    // the reference has one row per (part, suite check); its row_count
    // is the part's input row count
    val parts = reference.map(_(0)).toSet
    val checks = reference.map(_(1)).toSet ++ (if (lineage.isDefined) urlChecks else Nil)
    val grid = verdicts.map(r => (r(0), r(1)))
    val problems = Seq.newBuilder[String]
    if (grid.size != grid.distinct.size || grid.toSet != (for (p <- parts; k <- checks) yield (p, k)))
      problems += s"verdict grid is not dense: ${grid.size} cells for ${parts.size} parts x ${checks.size} checks"
    if (verdicts.filterNot(r => urlChecks.contains(r(1))).toSet != reference.toSet)
      problems += "verdicts differ from Profile.fusedAggregate + verdictRows"
    val lin = rows(ValidationRun.currentLineage(spark, root).select("part", "row_count"))
    if (lin.toSet != reference.map(r => Seq(r(0), r(4))).toSet)
      problems += "lineage row counts differ from the input counts per part"
    lineage.foreach { lb =>
      val valid = pages.filter(Constraints.validUrl)
      val ord = struct(coalesce(unix_timestamp(col("warc_ts")), lit(-1L)).as("ts"),
        (-col("doc_id")).as("negid"))
      val ref = DatasetChecks.uniquenessViolations(valid, ord)
        .unionByName(DatasetChecks.riViolations(valid.select("part", "doc_id", "url"), lb))
      val cols4 = Seq("part", "doc_id", "url", "check_name").map(col)
      if (rows(ValidationRun.currentUrlViolations(spark, root).select(cols4: _*)).toSet !=
          rows(ref.select(cols4: _*)).toSet)
        problems += "url violations differ from the unbucketed DatasetChecks reference"
    }
    problems.result()
  }

  // ---- files -----------------------------------------------------------

  /** Bytes of the data files under `p`: checksum and marker files
    * (names starting with `.` or `_`) are not table data.
    */
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && !"._".contains(f.getFileName.toString.head))
        .mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }
}
