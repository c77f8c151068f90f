package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cdc.{Comparator, Report}
import graft.cli.Main
import graft.ingest.{AvroSource, BinlogBinaryParser}
import graft.sources.BinlogTailOps

import Harness._

/** The traced run: splits a workload's time across the layers
  * `graft.cli`, `graft.ingest`, `graft.sources`, `graft.cdc`,
  * `graft.streaming` and `graft.queries`, plus Spark's fixed per-job cost.
  *
  * Spans come only from the benchmark's own calls into public functions.
  * A traced compare is the CLI's compare path re-composed from those
  * calls — session, `jobMetrics`, `BinlogBinaryParser.parse`,
  * `AvroSource.read`, `prepareBinlog`, `prepareAvro`, `compare`, the
  * three `Report` writes — with each stage persisted so that its span
  * holds only its own work. A traced follow is `Main.follow`, the census
  * and the lag read in the order the CLI runs them. `trace.wall_s` is the
  * wall of the CLI invocation being split (a warm `Main.main` compare, or
  * the traced follow itself), and `cli.remainder.s` is that wall minus
  * the layer self times, so that the two add up to it. Each composition
  * also runs once untraced; the difference of the two wall times is
  * reported as the tracing overhead. */
object Trace {

  private val tr = new Tracer
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  private def sumSelf(name: String, inv: String): Double =
    tr.spans.filter(s => s.name == name && s.invocation == inv).map(tr.selfSeconds).sum
  private def work(name: String, inv: String): Work =
    tr.spans.filter(s => s.name == name && s.invocation == inv).map(_.work)
      .foldLeft(Work(0, 0, 0, 0, 0, 0, 0))((a, b) =>
        Work(a.jobs + b.jobs, a.stages + b.stages, a.tasks + b.tasks, a.taskMs + b.taskMs,
          a.shuffleWriteBytes + b.shuffleWriteBytes, a.spillBytes + b.spillBytes,
          math.max(a.peakExecMem, b.peakExecMem)))

  private def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else {
      val w = Files.walk(f.toPath)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
    }

  /** The CLI compare path as separately timed, persisted stages. Returns
    * the wall time of the whole composition. */
  private def tracedCompare(binlogDir: File, avroDir: File, out: File,
      truth: Corpus.CompareTruth, t: Tracer = tr): Double = {
    t.newInvocation("compare")
    Harness.deleteTree(out)
    var spark: SparkSession = null
    def sc = Option(spark).map(_.sparkContext)
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    var rows = 0L
    def stage(df: DataFrame): DataFrame = { df.persist(); rows = df.count(); cached += df; df }
    val (_, wall) = Harness.timed(t.span("cli.compare", None) {
      t.span("cli.session", None) { spark = Harness.session() }
      val args = Main.parseArgs(List("--binlog-binary", binlogDir.getPath,
        "--avro", avroDir.getPath, "--out", out.getPath))
      t.span("cli.job_metrics", sc)(Main.jobMetrics(spark, args))
      val parsed = t.span("ingest.rdd_parse", sc)(
        stage(BinlogBinaryParser.parse(spark, binlogDir.getPath).toDF()))
      val avroRaw = t.span("ingest.avro_read", sc)(
        stage(Comparator.flattenResolvedAvro(AvroSource.read(spark, avroDir.getPath))))
      val b = t.span("cdc.prepare_binlog", sc)(
        stage(Comparator.prepareBinlog(parsed, BinlogBinaryParser.seqColumn)))
      put("cdc.prepare_binlog.rows_out", rows.toDouble, "count")
      val a = t.span("cdc.prepare_avro", sc)(stage(Comparator.prepareAvro(avroRaw)))
      val compared = t.span("cdc.compare", sc)(
        stage(Comparator.compare(b, a, Comparator.Config(args.toleranceMs, args.strictChangeType))))
      t.span("cdc.report.detail", sc)(Report.detail(compared).write.mode("overwrite")
        .partitionBy("status").json(s"$out/detail"))
      t.span("cdc.report.breakdown", sc)(
        Report.breakdown(compared).write.mode("overwrite").json(s"$out/breakdown"))
      t.span("cdc.report.summary", sc) {
        val summary = Report.summary(compared)
        summary.write.mode("overwrite").json(s"$out/summary")
        Harness.captured(summary.show(truncate = false))
      }
      cached.foreach(_.unpersist())
      t.span("cli.session", None)(spark.stop())
    })
    checkCompare(out, truth)
    wall
  }

  /** `Main.follow`, the census and the lag read, as the CLI's --follow
    * path runs them. Returns the wall time of the whole composition. */
  private def tracedFollow(name: String, feed: File, out: File, budget: Option[Long],
      census: Option[Map[String, (Long, Long)]], heldBack: Long, t: Tracer = tr): Double = {
    t.newInvocation(name)
    var spark: SparkSession = null
    def sc = Option(spark).map(_.sparkContext)
    StreamProbe.reset()
    var printed = ""
    var lag = Seq.empty[BinlogTailOps.TailLag]
    val (_, wall) = Harness.timed(t.span("cli.follow", None) {
      t.span("cli.session", None) { spark = Harness.session() }
      val df = t.span("cli.follow.drain", sc)(Main.follow(spark, Seq(feed.getPath), out.getPath,
        purgeSafe = false, maxBytesPerTrigger = budget.orElse(Some(1L << 30)), gtidState = true))
      printed = t.span("cli.census", sc)(Harness.captured(df.show(truncate = false)))
      lag = t.span("cli.lag", sc)(
        BinlogTailOps.lagMetricsUnion(spark, Seq(feed.getPath), s"$out/ckpt"))
      t.span("cli.session", None)(spark.stop())
    })
    census.foreach { c =>
      val lagLines = lag.map(l =>
        s"consumable lag ${l.committedLagBytes} B, held-back ${l.heldBackBytes} B")
      checkFollow(printed + lagLines.mkString("\n", "\n", "\n"), c, heldBack)
    }
    wall
  }

  private def followMetrics(inv: String): Unit = {
    val (phases, batches) = StreamProbe.snapshot
    StreamProbe.Phases.foreach(p => put(s"streaming.${p}_ms", phases.getOrElse(p, 0L).toDouble, "ms"))
    put("cli.follow.batches", batches.toDouble, "count")
    put("cli.follow.jobs_per_batch", work("cli.follow.drain", inv).jobs.toDouble / math.max(batches, 1), "count")
    put("cli.follow.drain.s", sumSelf("cli.follow.drain", inv), "s")
    put("cli.census.s", sumSelf("cli.census", inv), "s")
    put("cli.lag.s", sumSelf("cli.lag", inv), "s")
  }

  /** Single-thread `decodeStream` over every file; median of passes. */
  private def decode(files: Seq[File], images: Boolean): (Double, Double, Long) = {
    val bytes = files.map(_.length).sum
    var relevant = 0L
    val passes = (1 to 3).map { _ =>
      var events = 0L; relevant = 0L
      val (_, s) = Harness.timed(files.foreach { f =>
        val in = new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16)
        BinlogBinaryParser.decodeStream(in, f.getName, withRowImages = images).foreach { e =>
          events += 1
          if (e.event_type.endsWith("RowsEventV2") || e.event_type == "XID") relevant += 1
        }
      })
      (bytes / 1e6 / s, events / s)
    }
    (Harness.median(passes.map(_._1)), Harness.median(passes.map(_._2)), relevant)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(o: Opts): String = {
    val in = Harness.generate(o, new File(o.work, "corpus"))
    val tally = new Tally
    // graft.queries: every gate warm, traced, its result checked
    val calStart = Calibration.run(o, Calibration.Gates, tr, tally, check = true)
    // the CLI's cold warm-up; the workload's composition then runs
    // traced and then untraced, and the overhead is the difference (the
    // traced copy also pays the first planning of the composition's
    // plans, so it is an upper bound)
    val first = tally(Harness.warmUp(o, in))
    val traceDir = new File(o.work, "traced")
    val off = new Tracer(enabled = false)
    // `cliWall` is the wall of the CLI invocation the layers split: the
    // compare composition persists every stage, so it is not the CLI's
    // own path, and a warm `Main.main` pass is timed next to it
    // `pass` is the Spark work of one full-size first pass
    val (binlogFiles, binlogDir, avroDir, traced, untraced, cliWall, pass) = in match {
      case CompareInputs(c, _) =>
        val warm = tally(Harness.secondPass(o, in))
        def cmp(t: Tracer) =
          tally(tracedCompare(c.binlogDir, c.avroDir, new File(traceDir, "cmp"), c.truth, t))
        val t = cmp(tr)
        val u = cmp(off)
        tally(tracedFollow("follow", c.binlogDir, new File(traceDir, "follow"), None, None, 0L))
        followMetrics("follow")
        (c.binlogDir.listFiles().toSeq, c.binlogDir, c.avroDir, t, u, warm.map(_.wall),
          warm.map(_.work))
      case FollowInputs(f) =>
        def drain(t: Tracer): (Option[Double], File) = {
          val (feed, out) = Harness.stageFeed(traceDir, f)
          (tally(tracedFollow("follow", feed, out, Some(f.maxBytesPerTrigger),
            Some(f.censusAfterDrain), f.backlogTail, t)), feed)
        }
        val (t, _) = drain(tr)
        followMetrics("follow")
        val (u, feed) = drain(off)
        Harness.appendFeed(feed, f)
        tally(tracedFollow("resume", feed, new File(traceDir, "out"), Some(f.maxBytesPerTrigger),
          Some(f.censusAfterResume), f.tornBytes))
        val backlogDir = f.backlog.head.getParentFile
        tally(tracedCompare(backlogDir, f.avroDir, new File(traceDir, "cmp"), f.truth))
        (f.backlog, backlogDir, f.avroDir, t, u, t, first.map(_.work))
    }
    val primary = in match { case _: CompareInputs => "compare"; case _ => "follow" }
    val root = if (primary == "compare") "cli.compare" else "cli.follow"
    val layers = tr.spans.filter(s => s.invocation == primary && s.parent.nonEmpty)

    // graft.ingest: single-thread decode, with and without row images
    val (mbImg, evImg, relevant) = decode(binlogFiles, images = true)
    val (mbNoImg, _, _) = decode(binlogFiles, images = false)
    put("ingest.decode.mb_s", mbImg, "MB/s")
    put("ingest.decode.events_s", evImg, "1/s")
    put("ingest.decode_noimg.mb_s", mbNoImg, "MB/s")
    put("ingest.rdd_parse.s", sumSelf("ingest.rdd_parse", "compare"), "s")
    put("ingest.avro_read.s", sumSelf("ingest.avro_read", "compare"), "s")

    // graft.sources and Spark's fixed cost, in a session of the benchmark's own
    tr.newInvocation("layers")
    val spark = Harness.session()
    val sc = Some(spark.sparkContext)
    tr.span("sources.binlog_scan", sc)(noop(spark.read.format("binlog").load(binlogDir.getPath)
      .select("event_type", "timestamp", "immediate_commmit_timestamp", "log_position",
        "table", "schema", "gtid_next", "binlog_file")))
    tr.span("sources.avrofile_scan", sc)(noop(spark.read.format("avrofile").load(avroDir.getPath)
      .select("source_timestamp", "source_metadata")))
    val emptyMs = Harness.emptyJobMs(spark)
    spark.stop()
    put("sources.binlog_scan.s", sumSelf("sources.binlog_scan", "layers"), "s")
    put("sources.binlog_scan.tasks", work("sources.binlog_scan", "layers").tasks.toDouble, "count")
    put("sources.avrofile_scan.s", sumSelf("sources.avrofile_scan", "layers"), "s")

    // graft.cdc
    val rowsOut = metrics.remove("cdc.prepare_binlog.rows_out").map(_._1).getOrElse(0.0)
    put("cdc.prepare_binlog.s", sumSelf("cdc.prepare_binlog", "compare"), "s")
    put("cdc.prepare_binlog.keep_ratio", rowsOut / math.max(relevant, 1L), "ratio")
    put("cdc.prepare_avro.s", sumSelf("cdc.prepare_avro", "compare"), "s")
    put("cdc.compare.s", sumSelf("cdc.compare", "compare"), "s")
    val cw = work("cdc.compare", "compare")
    put("cdc.compare.shuffle_mb", cw.shuffleWriteBytes / 1e6, "MB")
    put("cdc.compare.spill_mb", cw.spillBytes / 1e6, "MB")
    val reports = Seq("cdc.report.detail", "cdc.report.breakdown", "cdc.report.summary")
    reports.foreach(r => put(s"$r.s", sumSelf(r, "compare"), "s"))
    put("cdc.report.bytes_out", dirBytes(new File(traceDir, "cmp")).toDouble, "bytes")
    put("cdc.report.jobs", reports.map(r => work(r, "compare").jobs).sum.toDouble, "count")

    // graft.cli, on the workload's own invocation
    put("cli.session.s", sumSelf("cli.session", primary), "s")
    put("cli.job_metrics.s", sumSelf("cli.job_metrics", "compare"), "s")
    val wall = cliWall.getOrElse(0.0)
    put("cli.remainder.s", wall - layers.map(tr.selfSeconds).sum, "s")

    // Spark's fixed cost and the work of one CLI invocation
    put("spark.empty_job_ms", emptyMs, "ms")
    val u = pass.getOrElse(Work(0, 0, 0, 0, 0, 0, 0))
    val calEnd = Calibration.run(o, Calibration.Probes, off, tally, check = false)
    put("spark.stages", u.stages.toDouble, "count")
    put("spark.tasks", u.tasks.toDouble, "count")
    put("spark.shuffle_mb", u.shuffleWriteBytes / 1e6, "MB")
    // graft.queries
    Calibration.Gates.foreach { g =>
      val w = work(s"queries.$g", "queries")
      put(s"queries.$g.s", sumSelf(s"queries.$g", "queries"), "s")
      put(s"queries.$g.jobs", w.jobs.toDouble, "count")
      put(s"queries.$g.task_s", w.taskMs / 1000.0, "s")
    }

    val tracedWall = traced.getOrElse(0.0)
    put("trace.wall_s", wall, "s")
    put("trace.composition_s", tracedWall, "s")
    put("trace.overhead_s", tracedWall - untraced.getOrElse(0.0), "s")

    Harness.writeResult(o, "spans", tr.json)
    Harness.writeResult(o, "layers", s"""{"workload":"${o.workload}","seed":${o.seed},""" +
      s""""inputs":${in.json},"env":$envJson,"empty_job_ms":$emptyMs,""" +
      s""""calibration":{"start":$calStart,"end":$calEnd},"root":"$root"}""")
    val ms = metrics.map { case (k, (v, u)) => metric(k, v, u) }
    s"""{"correct":${tally.failed == 0},"attempted":${tally.attempted},""" +
      s""""failed":${tally.failed},"metrics":{${ms.mkString(",")}}}"""
  }
}
