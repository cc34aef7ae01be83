package perfbench

import scala.collection.mutable

import graft.sinks.{Snapshot, TableSink}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Incremental upkeep of one served orders table: each op applies a
  * seeded change batch through one sink, or publishes, reads or
  * vacuums the snapshot namespace that serves it. */
final class TableUpkeep extends Workload {
  val name = "table_upkeep"
  val cycle: Seq[String] = Seq("upsert", "cdc", "versioned", "stream", "publish", "read", "vacuum")
  private val keys = Seq("o_orderkey")
  private val cols = Seq("o_orderkey", "o_custkey", "o_status", "o_price_cents", "o_priority", "version")
  private var log: Gen.ChangeLog = _
  private var batch: Gen.Batch = _
  private var delta: DataFrame = _
  /** The table the change log says every sink should have left. */
  private var expected: DataFrame = _
  private var published: (Long, (Long, BigDecimal)) = _
  private var publishedRows: DataFrame = _
  private var versions = mutable.SortedSet.empty[Long]
  private var lastRead = Seq.empty[Row]
  private var lastVacuum = Seq.empty[Long]
  private var mem: MemoryStream[Gen.Order] = _
  private var query: StreamingQuery = _
  private var progressListener: StreamingQueryListener = _
  /** (batch ms, addBatch ms, queryPlanning ms) per non-empty micro-batch. */
  val progress = mutable.ArrayBuffer.empty[(Double, Double, Double)]

  private def live(c: Ctx) = c.path("live/orders")
  private def root(c: Ctx) = c.path("snap")

  def inputs: Map[String, Any] = Map("base_rows" -> TableUpkeep.BaseRows, "batch_share_of_keys" -> Gen.BatchShare,
    "cycle" -> cycle.mkString(","))

  def prepare(c: Ctx): Unit = {
    import c.spark.implicits._
    log = new Gen.ChangeLog(c.seed, TableUpkeep.BaseRows)
    val base = c.spark.createDataset(log.base).toDF().repartition(c.cpus)
    TableSink.writeTruncate(base, live(c))
    expected = base.localCheckpoint(eager = true)
    versions = mutable.SortedSet(Snapshot.publish(c.spark, root(c), Map("orders" -> c.spark.read.parquet(live(c)))))
    Snapshot.tag(c.spark, root(c), "prod", versions.last)
    published = (versions.last, c.fingerprint(expected.select(cols.map(col): _*)))
    publishedRows = expected
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = c.spark.sqlContext
    mem = MemoryStream[Gen.Order]
    progressListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) progress.synchronized {
          def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          progress += ((p.batchDuration.toDouble, d("addBatch"), d("queryPlanning")))
          progress.notifyAll()
        }
      }
    }
    c.spark.streams.addListener(progressListener)
    query = EventStream.versionedUpsertSink(mem.toDF(), live(c), keys, "version")
      .option("checkpointLocation", c.path("stream_ckpt")).start()
  }

  override def before(c: Ctx, kind: String): Unit = kind match {
    case "upsert" | "cdc" | "versioned" | "stream" =>
      import c.spark.implicits._
      batch = log.next(kind match { case "cdc" => "cdc"; case "upsert" => "upsert"; case _ => "versioned" })
      delta =
        if (kind != "cdc") c.spark.createDataset(batch.rows).toDF()
        else c.spark.createDataset(batch.rows.zip(batch.ops).map { case (o, op) =>
          Gen.CdcRow(o.o_orderkey, o.o_custkey, o.o_status, o.o_price_cents, o.o_priority, o.version, op)
        }).toDF()
    case _ =>
  }

  def op(c: Ctx, kind: String): OpOut = {
    val s = c.spark
    kind match {
      case "upsert" =>
        c.call("sinks.upsert", changed)(TableSink.upsert(s, live(c), delta, keys))
        OpOut(batch.rows.size, Seq(live(c)))
      case "cdc" =>
        c.call("sinks.apply_cdc", changed)(TableSink.applyCdc(s, live(c), delta, keys))
        OpOut(batch.rows.size, Seq(live(c)))
      case "versioned" =>
        c.call("sinks.upsert_versioned", changed)(TableSink.upsertVersioned(s, live(c), delta, keys, "version"))
        OpOut(batch.rows.size, Seq(live(c)))
      case "stream" =>
        c.call("streaming.micro_batch") { mem.addData(batch.rows); query.processAllAvailable() }
        OpOut(batch.rows.size, Seq(live(c)))
      case "publish" =>
        val v = c.call("snapshot.publish")(Snapshot.publish(s, root(c), Map("orders" -> s.read.parquet(live(c)))))
        c.call("snapshot.tag")(Snapshot.tag(s, root(c), "prod", v))
        versions += v
        OpOut(0, Seq(s"${root(c)}/v$v"))
      case "read" =>
        val t = c.layer("snapshot.read")(Snapshot.readTag(s, root(c), "orders", "prod"))
        lastRead = c.call("client.aggregate")(
          t.groupBy("o_status").agg(count(lit(1)), sum("o_price_cents")).collect().toSeq)
        OpOut(0, Nil)
      case "vacuum" =>
        lastVacuum = c.call("snapshot.vacuum")(Snapshot.vacuum(s, root(c), keepLast = 2))
        OpOut(0, Nil)
    }
  }

  private def changed: Map[String, Double] = Map("changed_rows" -> batch.changedKeys.toDouble)

  /** Replay the change log in plain SQL: per key the highest version
    * wins and a delete removes the key. */
  private def replay(c: Ctx): Unit = {
    expected.createOrReplaceTempView("pb_expected")
    (if (delta.columns.contains("_op")) delta else delta.withColumn("_op", lit("U")))
      .createOrReplaceTempView("pb_batch")
    val c6 = cols.mkString(", ")
    expected = c.spark.sql(
      s"""SELECT $c6 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn FROM (
         |    SELECT $c6, 'U' AS _op FROM pb_expected
         |    UNION ALL SELECT $c6, _op FROM pb_batch))
         |WHERE rn = 1 AND _op = 'U'""".stripMargin).localCheckpoint(eager = true)
  }

  private def fp(c: Ctx, df: DataFrame) = c.fingerprint(df.select(cols.map(col): _*))

  def check(c: Ctx, kind: String): Option[String] = kind match {
    case "upsert" | "cdc" | "versioned" | "stream" =>
      if (kind == "stream") awaitProgress()
      replay(c)
      val Seq(got, want) = c.fingerprints(c.spark.read.parquet(live(c)).select(cols.map(col): _*),
        expected.select(cols.map(col): _*))
      if (got == want) None else Some(s"$kind: live table (rows, hash) $got != replay $want")
    case "publish" =>
      published = (versions.last, fp(c, expected))
      publishedRows = expected
      val got = fp(c, Snapshot.readTag(c.spark, root(c), "orders", "prod"))
      if (got == published._2) None else Some(s"publish: prod (rows, hash) $got != replay ${published._2}")
    case "read" =>
      val agg = publishedRows.groupBy("o_status").agg(count(lit(1)), sum("o_price_cents")).collect().toSeq
      def norm(rs: Seq[Row]) = rs.map(_.toSeq).sortBy(_.head.toString)
      if (norm(lastRead) == norm(agg)) None
      else Some(s"read: aggregate ${norm(lastRead)} != ${norm(agg)}")
    case "vacuum" =>
      val cur = versions.last
      val doomed = versions.filter(_ < cur - 1).toSeq
      versions --= doomed
      val got = fp(c, Snapshot.readTag(c.spark, root(c), "orders", "prod"))
      if (lastVacuum.sorted != doomed) Some(s"vacuum deleted ${lastVacuum.sorted}, expected $doomed")
      else if (got != published._2) Some("vacuum: prod no longer reads the published table")
      else None
  }

  private def awaitProgress(): Unit = progress.synchronized {
    val want = streamOps
    val deadline = System.currentTimeMillis() + 30000L
    while (progress.size < want) {
      val left = deadline - System.currentTimeMillis()
      require(left > 0, s"no progress event for micro-batch $want after 30 s")
      progress.wait(math.min(left, 50L))
    }
  }
  private def streamOps: Int = { streamCount += 1; streamCount }
  private var streamCount = 0

  override def close(c: Ctx): Unit = {
    if (query != null) { query.stop(); query.awaitTermination(30000L) }
    if (progressListener != null) c.spark.streams.removeListener(progressListener)
  }
}

object TableUpkeep {

  /** Rows of the served orders table. A 1 % batch is then 200 keys, and
    * a cycle of seven ops takes 5.5-7 s on a 4-core VM, fixed per-job
    * and planning cost rather than data volume, as in served-table
    * upkeep. */
  val BaseRows = 20000
}
