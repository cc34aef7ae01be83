package perfbench

import Main.OpRec

/** End-to-end metrics (untraced ops) and per-layer metrics (counters
  * of untraced ops, spans of traced ops). Per-layer times are given as
  * shares of op time so that a layer a workload never calls reads 0
  * of its time, not an absolute 0 ms. */
object Metrics {

  /** The end-to-end metrics the benchmark reports; BENCHMARK.json
    * lists the same names. */
  val EndToEnd: Seq[String] = Seq("setup_s", "rows_per_s", "op_p50_ms", "write_amp")

  /** Layer calls whose self time is reported as a share of op time. */
  val Calls: Seq[String] = Seq(
    "input.scan", "sources.json_load",
    "operators.lookup_replace", "operators.inner_join_merge", "operators.nest",
    "corpus.quality", "corpus.exact", "corpus.near", "corpus.decon", "corpus.sample", "corpus.pack",
    "sinks.write_truncate", "sinks.upsert", "sinks.apply_cdc", "sinks.upsert_versioned",
    "snapshot.publish", "snapshot.tag", "snapshot.read", "snapshot.vacuum",
    "streaming.micro_batch", "client.aggregate")

  val Layers: Seq[String] =
    Seq("input", "sources", "operators", "corpus", "sinks", "snapshot", "streaming", "client", "harness")

  val units: Map[String, String] = Map(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "write_amp" -> "ratio", "heap_peak_mb" -> "MB", "error_rate" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.driver_gap_ms" -> "ms", "spark.driver_gap_frac" -> "frac",
    "spark.executor_busy_frac" -> "frac", "spark.shuffle_write_bytes" -> "bytes",
    "spark.scan_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms",
    "fs.write_ops" -> "count", "fs.read_ops" -> "count", "fs.bytes_written" -> "bytes",
    "dedup.candidate_pairs" -> "count", "dedup.verified_frac" -> "frac",
    "dedup.minhash_keep_share" -> "frac", "functions.shingle_hash_share" -> "frac",
    "sinks.jobs_per_call" -> "count", "sinks.bytes_rewritten_per_changed_row" -> "bytes",
    "streaming.batch_share" -> "frac", "streaming.add_batch_frac" -> "frac",
    "streaming.planning_frac" -> "frac",
    "tracing.overhead_ms" -> "ms", "tracing.overhead_frac" -> "frac") ++
    Calls.map(c => s"${c}_share" -> "frac") ++ Layers.map(l => s"layer.${l}_share" -> "frac") ++
    Seq("quality", "exact", "near", "decon", "sample", "pack").map(s => s"corpus.${s}_keep_frac" -> "frac")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile); with fewer than eleven samples, the maximum. */
  def tail(ms: Seq[Double]): (Double, Double) = {
    val s = ms.sorted; val n = s.size
    if (n == 0) (0.0, 0.0)
    else if (n < 11) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  def endToEnd(ops: Seq[OpRec], setupS: Double, heapPeakMb: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "rows_per_s" -> ratio(ops.map(_.rowsIn.toDouble).sum, ops.map(_.ms).sum / 1000),
    "op_p50_ms" -> median(ops.map(_.ms)),
    "op_tail_ms" -> tail(ops.map(_.ms))._1,
    "write_amp" -> ratio(ops.map(_.cnt.fsBytesWritten.toDouble).sum, ops.map(_.liveBytes.toDouble).sum),
    "heap_peak_mb" -> heapPeakMb,
    "error_rate" -> ratio(ops.count(_.err.nonEmpty), ops.size))

  /** Per span name: the median over traced ops of its summed self time. */
  def selfMsByName(t: Tracer): Map[String, Double] = {
    val self = t.selfMs
    t.spans.groupBy(_.name).map { case (n, ss) =>
      n -> median(ss.groupBy(_.op).values.map(_.map(s => self(s.id)).sum).toSeq)
    }
  }

  def perLayer(plain: Seq[OpRec], traced: Seq[OpRec], t: Tracer, probe: JobProbe, cpus: Int,
      extras: Map[String, Double], streaming: Seq[(Double, Double, Double)],
      heapPeakMb: Double): Map[String, Double] = {
    val wall = plain.map(_.ms).sum
    val self = t.selfMs
    val inOps = t.spans.filter(_.op >= 0).toSeq
    val tracedMs = inOps.filter(_.parent < 0).map(_.durMs).sum
    def share(pred: Span => Boolean) = ratio(inOps.filter(pred).map(s => self(s.id)).sum, tracedMs)
    val sinkSpans = inOps.filter(_.name.startsWith("sinks."))
    val changed = sinkSpans.filter(_.attrs.contains("changed_rows"))
    val nStream = plain.count(_.kind == "stream") + traced.count(_.kind == "stream")
    val prog = streaming.takeRight(nStream)
    val streamOpMs = (plain ++ traced).filter(_.kind == "stream").map(_.ms).sum
    val (pm, tm) = (median(plain.map(_.ms)), median(traced.map(_.ms)))
    val base = Map(
      "spark.jobs_per_op" -> mean(plain.map(_.cnt.jobs.toDouble)),
      "spark.tasks_per_op" -> mean(plain.map(_.cnt.tasks.toDouble)),
      "spark.driver_gap_ms" -> median(plain.map(_.gapMs)),
      "spark.driver_gap_frac" -> ratio(plain.map(_.gapMs).sum, wall),
      "spark.executor_busy_frac" -> ratio(plain.map(_.cnt.runMs.toDouble).sum, wall * cpus),
      "spark.shuffle_write_bytes" -> mean(plain.map(_.cnt.shuffleWrite.toDouble)),
      "spark.scan_bytes" -> mean(plain.map(_.cnt.scanBytes.toDouble)),
      "spark.spill_bytes" -> mean(plain.map(_.cnt.spillBytes.toDouble)),
      "spark.gc_ms" -> mean(plain.map(_.cnt.gcMs.toDouble)),
      "fs.write_ops" -> mean(plain.map(_.cnt.fsWriteOps.toDouble)),
      "fs.read_ops" -> mean(plain.map(_.cnt.fsReadOps.toDouble)),
      "fs.bytes_written" -> mean(plain.map(_.cnt.fsBytesWritten.toDouble)),
      "dedup.candidate_pairs" -> extras.getOrElse("dedup.candidate_pairs", 0.0),
      "dedup.verified_frac" -> extras.getOrElse("dedup.verified_frac", 0.0),
      "dedup.minhash_keep_share" -> ratio(extras.getOrElse("dedup.minhash_keep_kernel_ms", 0.0), pm),
      "functions.shingle_hash_share" -> ratio(extras.getOrElse("functions.shingle_hash_kernel_ms", 0.0), pm),
      "sinks.jobs_per_call" -> mean(sinkSpans.map(s => probe.jobsWithin(s.startMs, s.endMs).toDouble)),
      "sinks.bytes_rewritten_per_changed_row" ->
        mean(changed.map(s => ratio(s.fsBytesWritten.toDouble, s.attrs("changed_rows")))),
      "streaming.batch_share" -> ratio(prog.map(_._1).sum, streamOpMs),
      "streaming.add_batch_frac" -> ratio(prog.map(_._2).sum, prog.map(_._1).sum),
      "streaming.planning_frac" -> ratio(prog.map(_._3).sum, prog.map(_._1).sum),
      "tracing.overhead_ms" -> (tm - pm),
      "tracing.overhead_frac" -> ratio(tm - pm, pm))
    val calls = Calls.map(c => s"${c}_share" -> share(_.name == c))
    val layers = Layers.map { l =>
      s"layer.${l}_share" -> (if (l == "harness") share(_.parent < 0) else share(_.name.startsWith(l + ".")))
    }
    val keep = extras.collect { case (k, v) if k.endsWith("_keep_frac") => k -> v }
    val stageKeep = Seq("quality", "exact", "near", "decon", "sample", "pack")
      .map(s => s"corpus.${s}_keep_frac" -> keep.getOrElse(s"corpus.${s}_keep_frac", 0.0))
    val demoted = Map("op_tail_ms" -> tail(plain.map(_.ms))._1, "heap_peak_mb" -> heapPeakMb)
      .filter { case (k, _) => !EndToEnd.contains(k) }
    base ++ calls ++ layers ++ stageKeep ++ demoted
  }
}

/** A minimal JSON writer for the result line and the run artifact. */
object Json {
  def encode(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => encode(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case other => encode(other.toString)
  }

  def write(f: java.io.File, v: Any): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(encode(v)) finally w.close()
  }
}
