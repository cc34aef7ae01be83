package perfbench

/** The two bulk workloads as one: each op is a denorm pass followed by a
  * corpus build, both truncate-and-load. The benchmark's run budget
  * (4 + 22 cold JVMs per workload within 3,420 s) leaves room for two
  * workloads with a steady measurement, not three; combined in one op,
  * `denorm_etl` and `corpus_build` keep all their layers measured and
  * their checks, and `table_upkeep` still bypasses both. Each stays
  * runnable on its own. */
final class BatchEtl extends Workload {
  private val parts = Seq(new DenormEtl, new CorpusBuild)
  val name = "batch_etl"
  val cycle: Seq[String] = Seq("batch")

  def inputs: Map[String, Any] = parts.map(p => p.name -> p.inputs).toMap
  def prepare(c: Ctx): Unit = parts.foreach(_.prepare(c))

  def op(c: Ctx, kind: String): OpOut = {
    val outs = parts.map(p => p.op(c, p.cycle.head))
    OpOut(outs.map(_.rowsIn).sum, outs.flatMap(_.liveDirs))
  }

  private def all(f: Workload => Option[String]): Option[String] =
    parts.flatMap(f) match { case Nil => None; case errs => Some(errs.mkString("; ")) }

  def check(c: Ctx, kind: String): Option[String] = all(p => p.check(c, p.cycle.head))
  override def verify(c: Ctx): Option[String] = all(_.verify(c))
  override def traceExtras(c: Ctx): Map[String, Double] = parts.flatMap(_.traceExtras(c)).toMap
}
