package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What a workload's op reports back, read outside the timed interval:
  * input rows it consumed and the directories of live output it
  * maintains. */
final case class OpOut(rowsIn: Long, liveDirs: Seq[String])

/** Per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val dir: File, val seed: Long, val cpus: Int,
    val tracer: Tracer) {
  private var pinned = List.empty[DataFrame]

  def path(rel: String): String = new File(dir, rel).getAbsolutePath

  /** Call into a layer that returns a DataFrame. Traced, the result is
    * materialized inside the span (cached, then fully computed by a
    * no-op write), so the span covers the layer's execution and the
    * next layer starts from the cache. Untraced, it stays lazy. */
  def layer(name: String)(df: => DataFrame): DataFrame =
    if (!tracer.on) df
    else tracer.span(name) {
      val d = df.persist(StorageLevel.MEMORY_AND_DISK)
      d.write.format("noop").mode("overwrite").save()
      pinned ::= d
      d
    }

  /** Call into a layer for its side effect (a sink, a snapshot verb). */
  def call[T](name: String, attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    tracer.span(name, attrs)(body)

  /** Drop the caches a traced op made. */
  def unpin(): Unit = { pinned.foreach(_.unpersist(blocking = true)); pinned = Nil }

  /** Row count and an order-independent content hash of `df`: the sum
    * of a 64-bit hash of each row, in exact decimal arithmetic. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = fingerprints(df).head

  /** [[fingerprint]] of several frames with one Spark job. */
  def fingerprints(dfs: DataFrame*): Seq[(Long, BigDecimal)] = {
    val hashed = dfs.zipWithIndex.map { case (df, i) =>
      df.select(lit(i).as("__i"),
        xxhash64(df.columns.map(c => df(s"`$c`")).toIndexedSeq: _*).cast("decimal(38,0)").as("__h"))
    }.reduce(_ unionByName _)
    val got = hashed.groupBy("__i").agg(count(lit(1)), sum("__h")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    dfs.indices.map(i => got.getOrElse(i, (0L, BigDecimal(0))))
  }
}

object Ctx {
  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L) else f.length
    walk(new File(path))
  }
}

/** A benchmark workload: a fixed cycle of op kinds run as a closed
  * loop. `prepare` runs in set-up; `op` is the timed call sequence;
  * `check` runs after it, untimed, and returns an error or None.
  * `verify` runs once after the measured loop: a check whose reference
  * is costly (a replay of the whole pipeline) compares every op's output
  * with the first op's in `check`, and that first output with the
  * reference in `verify`; its error fails every op. */
trait Workload {
  def name: String
  def cycle: Seq[String]
  def prepare(c: Ctx): Unit
  /** Untimed preparation of the next op of `kind` (e.g. its batch). */
  def before(c: Ctx, kind: String): Unit = ()
  def op(c: Ctx, kind: String): OpOut
  def check(c: Ctx, kind: String): Option[String]
  def verify(c: Ctx): Option[String] = None
  /** Extra per-layer numbers a traced run reports (counts, kernels). */
  def traceExtras(c: Ctx): Map[String, Double] = Map.empty
  /** Facts about the generated inputs, for the run's artifact. */
  def inputs: Map[String, Any]
  def close(c: Ctx): Unit = ()
}

object Workload {
  def apply(name: String): Workload = name match {
    case "batch_etl"    => new BatchEtl
    case "denorm_etl"   => new DenormEtl
    case "corpus_build" => new CorpusBuild
    case "table_upkeep" => new TableUpkeep
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (batch_etl | table_upkeep | denorm_etl | corpus_build)")
  }
}
