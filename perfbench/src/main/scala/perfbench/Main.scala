package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One benchmark run: set-up, then a closed loop of whole op cycles
  * for `--seconds`, one client thread, each op checked after its timed
  * interval. Prints one JSON line last.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR --out DIR
  * }}}
  */
object Main {

  /** The fewest whole cycles a run measures. A `batch_etl` cycle takes
    * 6.5-10 s on a 4-core VM, so with a 10 s window a fast host would fit
    * two ops and a slow one a single op; ops still speed up from one to
    * the next, so the count would move the median. With at least three,
    * any host on which a cycle takes over a third of the window measures
    * the same three ops. */
  val MinCycles = 3

  final case class OpRec(kind: String, traced: Boolean, ms: Double, cnt: Counters, gapMs: Double,
      rowsIn: Long, liveBytes: Long, err: Option[String])

  def main(argv: Array[String]): Unit = {
    val arg = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = arg.getOrElse(k, sys.error(s"missing --$k"))
    val wname = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = new File(need("work"))
    val outDir = new File(need("out"))
    val cpus = Runtime.getRuntime.availableProcessors
    Workload(wname) // fail fast on an unknown name
    val code = Try(run(wname, seed, seconds, traced, work, outDir, cpus)) match {
      case Success(line) => println(line); 0
      case Failure(e) => e.printStackTrace(); 1
    }
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    System.exit(code)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def counters(p: JobProbe): Counters = {
    val (jobs, tasks, runMs, sw, scan, spill) = p.counters
    val (wo, ro, bw) = JvmProbe.fs
    Counters(jobs, tasks, runMs, sw, scan, spill, wo, ro, bw, JvmProbe.gcMs)
  }

  private def run(wname: String, seed: Long, seconds: Double, traced: Boolean, work: File, outDir: File,
      cpus: Int): String = {
    JvmProbe.watchHeap()
    System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val tracer = new Tracer
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val warmErrors = mutable.ArrayBuffer.empty[String]
    val dir = new File(work, "run")
    deleteTree(dir); dir.mkdirs()

    // set-up, timed as setup_s: session, inputs, workload state, then
    // one untraced warm-up cycle (plus a traced one in a traced run) so
    // the first pass of JIT and code generation is done before anything
    // is timed; ops keep speeding up for ~20 s after, a warm-up the run
    // budget cannot afford
    val st0 = System.nanoTime()
    val spark = graft.Sessions.local(cpus.toString)
    val probe = new JobProbe(spark.sparkContext)
    val ctx = new Ctx(spark, dir, seed, cpus, tracer)
    val w = Workload(wname)
    val st1 = System.nanoTime()
    w.prepare(ctx)
    val st2 = System.nanoTime()

    def runOp(kind: String, trace: Boolean): OpRec = {
      w.before(ctx, kind)
      probe.settle()
      val c0 = counters(probe)
      tracer.on = trace
      tracer.op = ops.size
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = Try(tracer.span(s"op.$kind")(w.op(ctx, kind)))
      val ms = (System.nanoTime() - t0) / 1e6
      val m1 = System.currentTimeMillis()
      tracer.on = false
      probe.settle()
      val c1 = counters(probe)
      val err = out match {
        case Failure(e) => Some(s"$kind failed: $e")
        case Success(_) => Try(w.check(ctx, kind)).fold(e => Some(s"$kind check failed: $e"), identity)
      }
      ctx.unpin()
      val live = out.toOption.map(_.liveDirs.map(Ctx.dirBytes).sum).getOrElse(0L)
      OpRec(kind, trace, ms, c1 - c0, ms - probe.coveredMs(m0, m1),
        out.toOption.map(_.rowsIn).getOrElse(0L), live, err)
    }

    (false +: (if (traced) Seq(true) else Nil)).foreach { t =>
      w.cycle.foreach(kind => runOp(kind, t).err.foreach(warmErrors += _))
    }
    val setupS = (System.nanoTime() - st0) / 1e9
    System.err.println(f"[perfbench] $wname set-up $setupS%.2f s: session ${(st1 - st0) / 1e9}%.2f s, " +
      f"inputs ${(st2 - st1) / 1e9}%.2f s, warm-up ${(System.nanoTime() - st2) / 1e9}%.2f s")
    tracer.spans.clear()

    JvmProbe.resetHeapPeak()
    val t0 = System.nanoTime()
    var cycles = 0
    // whole cycles until the time is up, and never fewer than
    // MinCycles (a traced run alternates untraced and traced cycles)
    while (cycles < MinCycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      val t = traced && cycles % 2 == 1
      w.cycle.foreach(kind => ops += runOp(kind, t))
      cycles += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val heapPeak = JvmProbe.heapPeakMb
    val extras =
      if (!traced) Map.empty[String, Double]
      else { tracer.on = true; tracer.op = -1; try w.traceExtras(ctx) finally tracer.on = false }
    val verifyError = Try(w.verify(ctx)).fold(e => Some(s"verify failed: $e"), identity)
    val streaming = w match { case u: TableUpkeep => u.progress.toSeq; case _ => Nil }
    w.close(ctx); probe.detach(); spark.stop()
    deleteTree(dir)

    val plain = ops.filterNot(_.traced).toSeq
    // a failed verify means the first op's output was wrong, and every
    // op that matched it was wrong too
    val failed = if (verifyError.nonEmpty) ops.size else ops.count(_.err.nonEmpty)
    (verifyError ++ ops.flatMap(_.err)).toSeq.distinct.take(10)
      .foreach(e => System.err.println(s"[perfbench] FAILED: $e"))
    warmErrors.distinct.take(10).foreach(e => System.err.println(s"[perfbench] warm-up FAILED: $e"))
    val e2e = Metrics.endToEnd(plain, setupS, heapPeak)
    val layers = if (traced) Metrics.perLayer(plain, ops.filter(_.traced).toSeq, tracer, probe,
      cpus, extras, streaming, heapPeak) else Map.empty[String, Double]
    val metrics = if (traced) layers else e2e.view.filterKeys(Metrics.EndToEnd.contains).toMap
    val units = Metrics.units
    outDir.mkdirs()
    val artifact = new File(outDir, s"$wname-seed$seed-trace${if (traced) 1 else 0}.json")
    Json.write(artifact, Map(
      "workload" -> wname, "seed" -> seed, "cpus" -> cpus, "seconds" -> seconds,
      "measured_s" -> measuredS, "cycles" -> cycles, "setup_s" -> setupS,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "inputs" -> w.inputs, "end_to_end" -> e2e, "per_layer" -> layers,
      "tail_percentile" -> Metrics.tail(plain.map(_.ms))._2, "tail_samples" -> plain.size,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "traced" -> o.traced, "ms" -> o.ms,
        "jobs" -> o.cnt.jobs, "tasks" -> o.cnt.tasks, "gap_ms" -> o.gapMs, "rows_in" -> o.rowsIn,
        "fs_bytes_written" -> o.cnt.fsBytesWritten, "live_bytes" -> o.liveBytes,
        "error" -> o.err.getOrElse(""))).toSeq,
      "self_ms" -> (if (traced) Metrics.selfMsByName(tracer) else Map.empty),
      "spans" -> (if (traced) tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq else Nil)))
    System.err.println(s"[perfbench] artifact: ${artifact.getPath}")
    Json.encode(Map(
      "correct" -> (failed == 0 && warmErrors.isEmpty),
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> units(k)) }.toMap))
  }
}
