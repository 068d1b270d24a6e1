package taskbench

/** Metric names, units and their computation from measured iterations.
  * Every value is a median over iterations; counts are exact per
  * iteration and repeat, so their median is the count.
  */
object Metrics {
  type Values = Seq[(String, (Double, String))]

  /** End-to-end metrics: name → unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_s" -> "s", "rows_per_s" -> "1/s", "cpu_s" -> "s", "shuffle_mb" -> "MB")

  /** Layer spans of every workload, in workload order. */
  val AllSpans: Seq[String] = Seq(
    "plan", "checksum", "diff", "repair", "summary", // compare
    "sig", "cand", "verify", "cc",                    // dedup
    "csv", "safe", "cdc")                             // migrate

  /** Metrics reported for each span: suffix → unit. */
  val SpanMetrics: Seq[(String, String)] = Seq(
    "s" -> "s", "jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s", "gap_s" -> "s",
    "occupancy" -> "ratio", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "exchanges" -> "count")

  /** Measured layer ratios and counts beyond the per-span set. */
  val Extras: Seq[(String, String)] = Seq(
    "verify.reused_exchanges" -> "count",
    "checksum.bad_chunk_frac" -> "ratio",
    "diff.rescan_frac" -> "ratio",
    "verify.keep_frac" -> "ratio",
    "iteration.glue_s" -> "s",
    "iteration.untraced_job_s" -> "s",
    "iteration.traced_job_s" -> "s",
    "iteration.trace_overhead" -> "ratio")

  def perLayerNames: Seq[(String, String)] =
    AllSpans.flatMap(s => SpanMetrics.map { case (m, u) => s"$s.$m" -> u }) ++ Extras

  val MB = 1e6

  /** Median; NaN (rendered as null) when there are no samples. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def endToEnd(wl: Workload, iters: Seq[Main.Iter], setups: Seq[Double]): Values = {
    val job = median(iters.map(_.seconds))
    val units = EndToEnd.toMap
    Seq(
      "setup_s" -> median(setups),
      "job_s" -> job,
      "rows_per_s" -> wl.inputRows / job,
      "cpu_s" -> median(iters.map(_.counters.cpuNs / 1e9)),
      "shuffle_mb" -> median(iters.map(_.counters.shuffleBytes / MB))
    ).map { case (n, v) => n -> (v, units(n)) }
  }

  /** Per-layer metrics from the traced iterations of a traced run; a span
    * the workload does not run reports zero work.
    */
  def perLayer(wl: Workload, iters: Seq[Main.Iter], cores: Int): Values = {
    val traced = iters.filter(_.traced)
    val untraced = iters.filterNot(_.traced)
    def med(f: Main.Iter => Double): Double = median(traced.map(f))
    // an iteration that threw lacks its later spans
    def spanMedian(name: String)(f: (Span, Counters) => Double): Double =
      median(traced.flatMap(_.spans.find(_._1.name == name)).map(f.tupled))
    def spanMetric(name: String, metric: String): Double =
      if (!wl.spans.contains(name)) 0.0
      else spanMedian(name) { (s, c) =>
        metric match {
          case "s"          => s.seconds
          case "jobs"       => c.jobs.toDouble
          case "tasks"      => c.tasks.toDouble
          case "cpu_s"      => c.cpuNs / 1e9
          case "gap_s"      => s.gapSeconds(c.jobIntervals.toSeq)
          case "occupancy"  => c.runMs / 1000.0 / (s.seconds * cores)
          case "shuffle_mb" => c.shuffleBytes / MB
          case "spill_mb"   => c.spillBytes / MB
          case "exchanges"  => c.exchanges.toDouble
        }
      }
    val tracedJob = med(_.seconds)
    val untracedJob = median(untraced.map(_.seconds))
    def ratio(n: String): Double =
      if (traced.exists(_.ratios.contains(n))) median(traced.flatMap(_.ratios.get(n))) else 0.0
    val extras: Map[String, Double] = Map(
      "verify.reused_exchanges" ->
        (if (wl.spans.contains("verify")) spanMedian("verify")((_, c) => c.reusedExchanges.toDouble)
         else 0.0),
      "checksum.bad_chunk_frac" -> ratio("checksum.bad_chunk_frac"),
      "diff.rescan_frac" -> ratio("diff.rescan_frac"),
      "verify.keep_frac" -> ratio("verify.keep_frac"),
      "iteration.glue_s" -> med(it => it.seconds - it.spans.map(_._1.seconds).sum),
      "iteration.untraced_job_s" -> untracedJob,
      "iteration.traced_job_s" -> tracedJob,
      "iteration.trace_overhead" -> (tracedJob / untracedJob - 1))
    perLayerNames.map { case (n, u) =>
      val v = extras.getOrElse(n, {
        val i = n.indexOf('.')
        spanMetric(n.take(i), n.drop(i + 1))
      })
      n -> (v, u)
    }
  }
}
