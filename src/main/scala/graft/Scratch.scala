package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Scratch storage for iterative operators ([[graft.operators.Graph]]
 * pageRank round snapshots) and for the materialize-once rule
 * ([[materialize]]: [[graft.operators.Components]] rounds,
 * [[graft.pipelines.CorpusAssembly]] stage boundaries). Resolution:
 *
 *   1. `spark.graft.scratchDir`, if set — the CLUSTER deployment knob.
 *      Point it at a durable shared filesystem (HDFS/object store)
 *      so round snapshots survive executor loss and a restarted job
 *      can re-read them. Lifecycle belongs to the deployment: graft
 *      never deletes a configured scratch dir.
 *   2. Otherwise an ABSOLUTE per-application directory under
 *      `java.io.tmpdir` — CWD-independent (a relative `target/` path
 *      would resolve against whatever directory the driver happened
 *      to start in), deleted by ONE JVM shutdown hook for the whole
 *      root (per-call hooks would accumulate a thread per operator
 *      invocation in a long-lived session).
 */
object Scratch {

  private val hookedRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  /** True when `spark.graft.scratchDir` is explicitly configured. */
  def configured(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.scratchDir").filter(_.nonEmpty)

  /** Materialize `df` once and return a leaf frame over the result,
    * for a frame that several branches (or several rounds) read: each
    * reader then scans the materialized rows instead of re-running the
    * lineage. Eager reliable `checkpoint()` when a checkpoint dir is
    * configured (the cluster deployment; survives executor loss), with
    * `spark.graft.scratchDir` supplying that dir when none is set, so
    * ONE knob moves every materialized intermediate to a durable shared
    * filesystem. Otherwise `localCheckpoint()`: executor block storage,
    * nothing written through the Hadoop FileSystem, nothing registered
    * with the session's CacheManager; the blocks go when the returned
    * frame is garbage collected. */
  def materialize(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      configured(df.sparkSession).foreach(root => sc.setCheckpointDir(s"$root/checkpoints"))
    if (sc.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
  }

  /** True when [[materialize]] writes a reliable checkpoint. */
  def materializesReliably(spark: SparkSession): Boolean =
    spark.sparkContext.getCheckpointDir.isDefined || configured(spark).isDefined

  /** A per-call scratch subdirectory that is unique across CONCURRENT
    * APPLICATIONS sharing one configured scratch root (r20, ADVICE
    * r19: a per-JVM sequence number alone let two applications write
    * and read the same `<op>_1` path, overwriting each other's live
    * input mid-read) as well as across calls within one application.
    * Residue lifecycle is the class-doc rule: the local default root
    * dies with the JVM hook; a configured (durable) root keeps one
    * result-sized artifact per call for the deployment to expire,
    * exactly as Graph's per-call round snapshots do. */
  def callDir(spark: SparkSession, op: String, seq: Int): String =
    s"${root(spark)}/${op}_${spark.sparkContext.applicationId}_$seq"

  /** The scratch root for this application (see class doc). Registers
    * the cleanup hook exactly once per local default root; configured
    * (durable) roots are never deleted. */
  def root(spark: SparkSession): String = configured(spark).getOrElse {
    val dir = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_scratch_${spark.sparkContext.applicationId}").getAbsolutePath
    if (hookedRoots.add(dir))
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => deleteTree(new java.io.File(dir))))
    dir
  }
}
