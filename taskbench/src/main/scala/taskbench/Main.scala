package taskbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.Graft

/** One benchmark run: set up a workload, time full task iterations for a
  * fixed number of seconds, check every output, and print one JSON result
  * line last on stdout. Progress and the environment go to stderr; the
  * full record (environment, samples, metrics, spans) goes to `--results`.
  *
  * Untraced runs (`--trace 0`) report the end-to-end metrics. Traced runs
  * (`--trace 1`) alternate untraced and traced iterations and report the
  * per-layer metrics, the uncovered glue and the tracing overhead.
  */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3
  /** Measured iterations per run at least, whatever `--seconds` is. */
  val MinIterations = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, results: String, cores: Int, commit: String, sourceDigest: String)

  /** One measured iteration. */
  final case class Iter(id: String, traced: Boolean, seconds: Double, startMs: Long, endMs: Long,
      counters: Counters, spans: Seq[(Span, Counters)], problems: Seq[String],
      ratios: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors
    if (o.cores > nproc) {
      System.err.println(s"refusing local[${o.cores}]: only $nproc processors")
      sys.exit(2)
    }
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val dir = s"${o.work}/inputs"
    val wl = Workloads.byName(o.workload, o.seed, o.cores)

    // set-up: session, engine conventions, seeded inputs, one warm-up
    // iteration; repeated, and the median reported
    val setups = ArrayBuffer.empty[Double]
    val warmProblems = ArrayBuffer.empty[String]
    var spark: SparkSession = null
    var counters: SparkCounters = null
    for (r <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime
      spark = Graft.local(o.cores)
      spark.sparkContext.setLogLevel("WARN")
      log(s"session ${fmt((System.nanoTime - t0) / 1e9)} s")
      counters = new SparkCounters(spark).register()
      wl.generate(spark, dir)
      val before = (System.nanoTime - t0) / 1e9
      val warm = iterate(spark, counters, wl, dir, s"setup$r", traced = false, checked = false)
      setups += before + warm.seconds
      warmProblems ++= warm.problems
      log(s"setup $r: ${fmt(setups.last)} s (session and inputs ${fmt(before)} s, " +
        s"warm-up ${fmt(warm.seconds)} s)${problemText(warm.problems)}")
    }

    val iters = ArrayBuffer.empty[Iter]
    val deadline = System.nanoTime + o.seconds * 1000000000L
    // a traced run alternates, so it needs one more for two traced samples
    val minIterations = MinIterations + (if (o.trace) 1 else 0)
    while (iters.size < minIterations || System.nanoTime < deadline) {
      val traced = o.trace && iters.size % 2 == 1
      val it = iterate(spark, counters, wl, dir, s"it${iters.size}", traced)
      iters += it
    }
    val sparkVersion = spark.version
    spark.stop()

    val env = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString, "trace" -> o.trace.toString,
      "nproc" -> nproc.toString, "master" -> Json.str(s"local[${o.cores}]"),
      "heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(os.getSystemLoadAverage),
      "spark_version" -> Json.str(sparkVersion),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "commit" -> Json.str(o.commit), "source_digest" -> Json.str(o.sourceDigest),
      "setup_reps" -> SetupReps.toString)
    log("env " + Json.obj(env))

    val measured = iters.filterNot(_.traced)
    val metrics =
      if (o.trace) Metrics.perLayer(wl, iters.toSeq, o.cores)
      else Metrics.endToEnd(wl, measured.toSeq, setups.toSeq)
    val failed = iters.count(_.problems.nonEmpty)
    val result = Json.obj(Seq(
      "correct" -> (failed == 0 && warmProblems.isEmpty).toString,
      "attempted" -> iters.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, (v, unit)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      })))

    val stem = s"${o.results}/${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    Files.createDirectories(Paths.get(o.results))
    Files.writeString(Paths.get(s"$stem.json"), Json.obj(Seq(
      "env" -> Json.obj(env),
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "iterations" -> Json.arr(iters.map(iterJson)),
      "setup_problems" -> Json.arr(warmProblems.map(Json.str)),
      "result" -> result)) + "\n")
    Files.writeString(Paths.get(s"$stem.spans.jsonl"),
      iters.flatMap(spanLines(s"${o.workload}-${o.seed}", _)).map(_ + "\n").mkString)
    println(result)
  }

  /** Runs one task iteration under job group `id`, then (when `checked`)
    * checks its output under another group; only the task is timed and
    * counted.
    */
  def iterate(spark: SparkSession, counters: SparkCounters, wl: Workload, dir: String,
      id: String, traced: Boolean, checked: Boolean = true): Iter = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, id)
    val spans = new Spans(spark, traced, id)
    val ms0 = System.currentTimeMillis
    val t0 = System.nanoTime
    val out = capture(wl.run(spark, dir, spans))
    val seconds = (System.nanoTime - t0) / 1e9
    val ms1 = System.currentTimeMillis
    sc.setJobGroup("check", "check")
    val c0 = System.nanoTime
    val verdict = out match {
      case Left(e)               => Verdict(Seq(s"task threw $e"))
      case Right(_) if !checked  => Verdict(Nil)
      case Right(o) =>
        capture(wl.check(spark, dir, o)).fold(e => Verdict(Seq(s"check threw $e")), v => v)
    }
    sc.clearJobGroup()
    val c1 = System.nanoTime
    val groups = counters.takeAll()
    val total = new Counters
    groups.foreach { case (g, c) => if (g == id || g.startsWith(id + "/")) total.add(c) }
    // unreferenced checkpoints of earlier iterations are dropped on GC;
    // collect now, outside the timed region
    System.gc()
    log(s"$id${if (traced) " traced" else ""}: ${fmt(seconds)} s, cpu ${fmt(total.cpuNs / 1e9)} s, " +
      s"check ${fmt((c1 - c0) / 1e9)} s${problemText(verdict.problems)}")
    Iter(id, traced, seconds, ms0, ms1, total,
      spans.closed.toSeq.map(s => s -> groups.getOrElse(s"$id/${s.name}", new Counters)),
      verdict.problems, verdict.ratios)
  }

  private def capture[T](body: => T): Either[Throwable, T] =
    try Right(body)
    catch {
      case e: StackOverflowError => Left(e)
      case NonFatal(e)           => Left(e)
    }

  private def iterJson(it: Iter): String = Json.obj(Seq(
    "id" -> Json.str(it.id), "traced" -> it.traced.toString, "job_s" -> Json.num(it.seconds),
    "cpu_s" -> Json.num(it.counters.cpuNs / 1e9), "jobs" -> it.counters.jobs.toString,
    "shuffle_bytes" -> it.counters.shuffleBytes.toString,
    "problems" -> Json.arr(it.problems.map(Json.str))))

  /** The iteration as a root span plus its layer spans as children. */
  private def spanLines(run: String, it: Iter): Seq[String] = {
    def line(name: String, parent: String, s: Long, e: Long, secs: Double): String =
      Json.obj(Seq("run" -> Json.str(run), "iteration" -> Json.str(it.id),
        "name" -> Json.str(name), "parent" -> Json.str(parent),
        "start_ms" -> s.toString, "end_ms" -> e.toString, "seconds" -> Json.num(secs)))
    line("iteration", "", it.startMs, it.endMs, it.seconds) +:
      it.spans.map { case (s, _) => line(s.name, "iteration", s.startMs, s.endMs, s.seconds) }
  }

  private def problemText(p: Seq[String]): String =
    if (p.isEmpty) "" else p.mkString(" FAILED: ", "; ", "")

  def log(msg: String): Unit = System.err.println(s"[taskbench] $msg")

  def fmt(d: Double): String = f"$d%.3f"

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("results"), m.get("cores").map(_.toInt).getOrElse(cores),
      m.getOrElse("commit", "unknown"), m.getOrElse("source-digest", "unknown"))
  }
}

/** Minimal JSON rendering for the result line and the artifacts. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")
}
