package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.cli.Main

/** The benchmark's JVM side: generates one workload's inputs from the
  * seed, runs them through the program's public entry points in a closed
  * loop (one client, each invocation starts after the previous one
  * ended), checks every output against the generator's ground truth and
  * prints one JSON result line.
  *
  *   perfbench.Harness --workload <cli_compare|follow_cron>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --results <dir>
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` is a separate
  * run that reports the per-layer metrics and writes the spans. */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, results: File)

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def deleteTree(f: File): Unit =
    if (f.exists()) {
      val walk = Files.walk(f.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` with its console output captured (the CLI prints its
    * summary and census tables there). */
  def captured(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    val old = System.out
    System.setOut(ps)
    try Console.withOut(ps)(body) finally { System.setOut(old); ps.flush() }
    buf.toString("UTF-8")
  }

  /** One failed check: the invocation counts in `failed`. */
  final class Mismatch(msg: String) extends RuntimeException(msg)
  private def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new Mismatch(msg)

  def session(): SparkSession = {
    val s = SparkSession.builder().master("local[*]").appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ------------------------------------------------------------ checks

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def jsonLines(dir: File): Seq[com.fasterxml.jackson.databind.JsonNode] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      .flatMap(f => Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty).map(mapper.readTree))

  private def lineCount(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))
      .map(f => Files.lines(f.toPath).count()).sum

  /** The CLI's summary, breakdown and detail outputs against the truth. */
  def checkCompare(out: File, t: Corpus.CompareTruth): Unit = {
    val s = jsonLines(new File(out, "summary"))
    check(s.size == 1, s"summary has ${s.size} rows")
    val got = Seq("matched", "mismatches", "avro_only", "binlog_only").map(k => s.head.get(k).asLong)
    val want = Seq(t.matched, t.mismatches, t.avroOnly, t.binlogOnly)
    check(got == want, s"summary $got != expected $want")
    val consistent = t.mismatches == 0 && t.avroOnly == 0 && t.binlogOnly == 0
    check(s.head.get("consistent").asBoolean == consistent, s"summary consistent != $consistent")
    val b = jsonLines(new File(out, "breakdown")).map(n =>
      (n.get("schema").asText, n.get("table").asText, n.get("status").asText) -> n.get("count").asLong).toMap
    check(b == t.breakdown, s"breakdown differs: ${(b.toSet diff t.breakdown.toSet).take(5)} vs " +
      s"${(t.breakdown.toSet diff b.toSet).take(5)}")
    t.breakdown.groupMapReduce(_._1._3)(_._2)(_ + _).filter(_._1 != Corpus.Match).foreach {
      case (status, n) =>
        val d = lineCount(new File(out, s"detail/status=$status"))
        check(d == n, s"detail/status=$status has $d rows, expected $n")
    }
  }

  private val CensusRow = """^\|(\S+)\s*\|(\d+)\s*\|(\d+)\s*\|$""".r
  private val LagLine = """.*consumable lag (\d+) B, held-back (\d+) B.*""".r

  /** The follow pass's printed census and lag line against the truth. */
  def checkFollow(printed: String, census: Map[String, (Long, Long)], heldBack: Long): Unit = {
    val lines = printed.linesIterator.toSeq
    val got = lines.collect { case CensusRow(t, e, n) => t -> (e.toLong, n.toLong) }.toMap
    check(got == census, s"census ${got.toSeq.sorted.take(4)} != ${census.toSeq.sorted.take(4)}")
    val lags = lines.collect { case LagLine(l, h) => (l.toLong, h.toLong) }
    check(lags == Seq((0L, heldBack)), s"lag $lags, expected committed 0 and held-back $heldBack")
  }

  // --------------------------------------------------------- invocations

  /** One invocation's wall time and the Spark work it did. */
  final case class Sample(wall: Double, work: Work)

  def invoke(argv: Seq[String]): (Sample, String) = {
    val w0 = JobProbe.snapshot(resetPeak = true)
    val (printed, wall) = timed(captured(Main.main(argv.toArray)))
    (Sample(wall, JobProbe.snapshot() - w0), printed)
  }

  def compareArgs(c: Corpus.CompareCorpus, out: File): Seq[String] =
    Seq("--binlog-binary", c.binlogDir.getPath, "--avro", c.avroDir.getPath, "--out", out.getPath)

  def followArgs(feed: File, out: File, budget: Long): Seq[String] =
    Seq("--follow", feed.getPath, "--out", out.getPath, "--gtid-state",
      "--max-bytes-per-trigger", budget.toString)

  /** A fresh feed holding the backlog (hard links: the files never change). */
  def stageFeed(work: File, f: Corpus.FollowCorpus): (File, File) = {
    val feed = new File(work, "feed"); val out = new File(work, "out")
    deleteTree(feed); deleteTree(out); feed.mkdirs()
    f.backlog.foreach(b => Files.createLink(new File(feed, b.getName).toPath, b.toPath))
    (feed, out)
  }
  def appendFeed(feed: File, f: Corpus.FollowCorpus): Unit = {
    f.appended.foreach(b => Files.createLink(new File(feed, b.getName).toPath, b.toPath))
    Files.copy(f.active.toPath, new File(feed, f.active.getName).toPath)
  }

  /** Counts attempted and failed invocations; a failed check or a
    * thrown invocation counts as failed. */
  final class Tally {
    var attempted, failed = 0
    def apply[T](body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch {
        case e: Exception => failed += 1; log(s"invocation failed: $e"); None
      }
    }
  }

  // ------------------------------------------------------------- setup

  sealed trait Inputs { def bytes: Long; def json: String }
  final case class CompareInputs(c: Corpus.CompareCorpus, warmUp: Corpus.CompareCorpus)
      extends Inputs {
    def bytes: Long = c.inputBytes
    def json: String = s"""{"binlog":${c.binlog.json},"avro":${c.avro.json}}"""
  }
  final case class FollowInputs(f: Corpus.FollowCorpus) extends Inputs {
    def bytes: Long = f.backlogBytes
    def json: String = s"""{"binlog":${f.binlog.json},"avro":${f.avro.json},""" +
      s""""backlog_bytes":${f.backlogBytes},"resume_bytes":${f.resumeBytes},""" +
      s""""max_bytes_per_trigger":${f.maxBytesPerTrigger},"torn_bytes":${f.tornBytes}}"""
  }

  def generate(o: Opts, dir: File): Inputs = o.workload match {
    case "cli_compare" => CompareInputs(Corpus.cliCompare(dir, o.seed),
      Corpus.cliCompareWarmUp(new File(dir, "warmup"), o.seed))
    case "follow_cron" => FollowInputs(Corpus.follow(dir, o.seed))
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** The compare of `c` into a fresh --out. */
  private def compareFresh(o: Opts, c: Corpus.CompareCorpus): Sample = {
    val out = new File(o.work, "out"); deleteTree(out)
    val (a, _) = invoke(compareArgs(c, out))
    checkCompare(out, c.truth)
    a
  }

  /** The first pass: the compare into a fresh --out, or the drain of
    * the follow feed's backlog, in eight micro-batches, into a fresh
    * feed and --out. */
  def firstPass(o: Opts, in: Inputs): Sample = in match {
    case CompareInputs(c, _) => compareFresh(o, c)
    case FollowInputs(f) =>
      val (feed, out) = stageFeed(o.work, f)
      val (a, printed) = invoke(followArgs(feed, out, f.maxBytesPerTrigger))
      checkFollow(printed, f.censusAfterDrain, f.backlogTail)
      a
  }

  /** The untimed warm-up of a fresh JVM, checked like the passes: the
    * compare over the small warm-up corpus, with 4 shuffle partitions
    * instead of the CLI's 200 (cold, each 200-task stage costs seconds;
    * the code it loads and compiles is the same), or a first pass (the
    * drain's per-batch paths warm up over its eight micro-batches, not
    * over fewer). */
  def warmUp(o: Opts, in: Inputs): Sample = in match {
    case CompareInputs(_, w) =>
      // read by the SparkContext the CLI creates, and cleared before the
      // passes, which run with the CLI's own defaults
      System.setProperty("spark.sql.shuffle.partitions", "4")
      try compareFresh(o, w) finally System.clearProperty("spark.sql.shuffle.partitions")
    case _: FollowInputs => firstPass(o, in)
  }

  /** The second pass, after [[firstPass]]: the same compare re-run into
    * its existing --out, or the cron pass resuming from the checkpoint
    * once more closed files and a growing file with a torn tail landed. */
  def secondPass(o: Opts, in: Inputs): Sample = in match {
    case CompareInputs(c, _) =>
      val out = new File(o.work, "out")
      val (b, _) = invoke(compareArgs(c, out))
      checkCompare(out, c.truth)
      b
    case FollowInputs(f) =>
      val feed = new File(o.work, "feed"); val out = new File(o.work, "out")
      appendFeed(feed, f)
      val (b, printed) = invoke(followArgs(feed, out, f.maxBytesPerTrigger))
      checkFollow(printed, f.censusAfterResume, f.tornBytes)
      b
  }

  // ------------------------------------------------------ environment

  /** Median wall of a trivial job: Spark's fixed per-job cost. */
  def emptyJobMs(spark: SparkSession): Double = median((1 to 12).map { _ =>
    timed(spark.range(1).write.format("noop").mode("overwrite").save())._2 * 1000
  }.drop(2))

  /** nproc, JVM, Spark version and master: `local[*]`, as the CLI
    * defaults to, is one thread per processor. */
  def envJson: String = {
    val rt = Runtime.getRuntime
    s"""{"nproc":${rt.availableProcessors},"jvm":"${System.getProperty("java.vm.name")} """ +
      s"""${System.getProperty("java.version")}","spark":"${org.apache.spark.SPARK_VERSION}",""" +
      s""""master":"local[*] = local[${rt.availableProcessors}]","max_heap_mb":${rt.maxMemory >> 20}}"""
  }

  // -------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    // pin Console.out to the real stdout before any output is captured
    val stdout = Console.out
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      new File(a("work")), new File(a("results")))
    o.work.mkdirs()
    val result =
      if (o.trace) Trace.run(o)
      else timedRun(o)
    stdout.println(result)
    stdout.flush()
  }

  /** Keeps a run's record next to the results of earlier runs. */
  def writeResult(o: Opts, kind: String, body: String): Unit = {
    o.results.mkdirs()
    val f = new File(o.results, s"${kind}_${o.workload}_${o.seed}.json")
    Files.write(f.toPath, (body + "\n").getBytes("UTF-8"))
    log(s"$kind written to $f")
  }

  private def fmt(v: Double): String = java.lang.Double.toString(v)
  def metric(name: String, v: Double, unit: String): String =
    s""""$name":{"value":${fmt(v)},"unit":"$unit"}"""

  /** Untraced run: the end-to-end metrics, measured warm. Each run is a
    * fresh JVM, so a cold [[warmUp]] invocation comes first (checked, and
    * timed into the run's record only). Then measured cycles run while
    * `--seconds` lasts, each a warm [[firstPass]] (`wall_s`) followed by
    * a warm [[secondPass]] (`resume_s`): at least one cycle, and another
    * only while it is expected to end within `--seconds`, judged by the
    * median cycle so far. Each metric is the median over the cycles. */
  def timedRun(o: Opts): String = {
    // set-up: generate the inputs five times, into a fresh directory each
    // time (same seed, same bytes); the first warms up the JIT, the median
    // of the other four is kept
    val gens = (0 until 5).map(_ => timed(generate(o, new File(o.work, "corpus"))))
    val in = gens.last._1
    val setup = median(gens.drop(1).map(_._2))
    val tally = new Tally
    val cold = tally(warmUp(o, in))
    val cycles = scala.collection.mutable.ArrayBuffer.empty[(Sample, Sample)]
    val cycleS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var go = cold.isDefined
    while (go) {
      val (c, s) = timed(tally(firstPass(o, in)).flatMap(a => tally(secondPass(o, in)).map(a -> _)))
      c.foreach(cycles += _); cycleS += s
      go = c.isDefined && (System.nanoTime() - t0) / 1e9 + median(cycleS.toSeq) <= o.seconds
    }
    val ok = cold.isDefined && cycles.nonEmpty && tally.failed == 0
    def med(f: ((Sample, Sample)) => Double): Double =
      if (cycles.isEmpty) 0.0 else median(cycles.map(f).toSeq)
    val wall = med(_._1.wall)
    val w = cycles.headOption.map(_._1.work).getOrElse(Work(0, 0, 0, 0, 0, 0, 0))
    val metrics = Seq(
      metric("wall_s", wall, "s"),
      metric("resume_s", med(_._2.wall), "s"),
      metric("setup_s", setup, "s"),
      metric("throughput_mb_s", if (ok) in.bytes / 1e6 / wall else 0.0, "MB/s"),
      metric("spark_jobs", w.jobs.toDouble, "count"),
      metric("task_s", med(_._1.work.taskMs / 1000.0), "s"),
      metric("exec_mem_peak_mb", w.peakExecMem / 1e6, "MB"))
    def walls(f: ((Sample, Sample)) => Sample) = cycles.map(c => f(c).wall).mkString("[", ",", "]")
    val record = s"""{"workload":"${o.workload}","seed":${o.seed},"inputs":${in.json},""" +
      s""""env":$envJson,"setup_samples_s":${gens.map(_._2).mkString("[", ",", "]")},""" +
      s""""warm_up_s":${cold.map(_.wall).getOrElse(0.0)},""" +
      s""""first_pass_s":${walls(_._1)},"second_pass_s":${walls(_._2)},""" +
      s""""second_pass_jobs":${cycles.headOption.map(_._2.work.jobs).getOrElse(0L)}}"""
    writeResult(o, "record", record)
    s"""{"correct":$ok,"attempted":${tally.attempted},""" +
      s""""failed":${tally.failed},"metrics":{${metrics.mkString(",")}}}"""
  }
}
