package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}

/**
 * Table sink with the reference's load semantics (reference:
 * src/main/java/com/google/cloud/bqetl/BQETLSimple.java:113-120 —
 * BigQueryIO WRITE_TRUNCATE + CREATE_IF_NEEDED): overwrite the target
 * if present, create it if not. The zero-egress container has no real
 * warehouse, so the sink targets columnar files; the semantics
 * (truncate-and-load, schema enforced by the DataFrame, optional
 * partitioning for pruned downstream scans) are the same.
 *
 * Scale notes: `partitionBy` yields partition-pruned reads downstream;
 * `targetPartitions` controls output file count (repartition before
 * write) so a 1000-executor job doesn't emit millions of tiny files.
 */
object TableSink {

  def writeTruncate(
      df: DataFrame,
      path: String,
      format: String = "parquet",
      partitionBy: Seq[String] = Nil,
      targetPartitions: Option[Int] = None): Unit = {
    val out = targetPartitions.fold(df)(df.repartition)
    val w = out.write.mode(SaveMode.Overwrite).format(format)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  /**
   * Truncate-and-load into a bucketed managed table: both sides of a
   * recurring fact-fact join written with the same bucket spec join
   * WITHOUT a shuffle (Catalyst sees the matching hash distribution).
   * This is the 100 TB answer to the denorm spine — bucket orders and
   * lineitem by the join key once at ingest, and every subsequent
   * join/aggregation on that key is exchange-free.
   */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    ws.saveAsTable(table)
  }

  /**
   * Range-sorted layout: globally range-partition on `sortCols` and
   * sort within partitions before writing, so every output file holds
   * a disjoint sort-key range. Downstream scans with a predicate on
   * the sort key then skip whole files/row-groups via parquet min/max
   * statistics — the data-skipping layout a 100 TB fact table wants
   * for its dominant filter column.
   */
  def writeSorted(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      targetPartitions: Int): Unit = {
    require(sortCols.nonEmpty, "writeSorted needs at least one sort column")
    import org.apache.spark.sql.functions.col
    val keys = sortCols.map(col)
    df.repartitionByRange(targetPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /**
   * Small-file compaction: rewrite an UNPARTITIONED table directory
   * into ~`targetFileBytes` output files, sized from the source's
   * actual scan size. The streaming/incremental-ingest follow-up
   * every large deployment needs — thousands of tiny files turn scan
   * planning and open() overhead into the bottleneck.
   *
   * - Hive-partitioned (`col=value`) layouts are REJECTED: a blind
   *   rewrite would flatten the directories (losing partition pruning)
   *   and bake inferred partition types into the data. Compact each
   *   partition directory individually instead.
   * - Already-compacted input (file count at or below the target) is
   *   a no-op — a scheduled compaction cycle must not rewrite the
   *   whole table every run.
   * - Reduction is `coalesce` (narrow — no shuffle).
   * - The swap is rename-based: rewrite to `...__compact_tmp`, move
   *   the original to `...__compact_bak`, move tmp into place (rolled
   *   back on failure), drop the backup. Not atomic on stores without
   *   atomic directory rename — a crash between the renames leaves
   *   the data intact in the bak/tmp siblings for manual recovery,
   *   never deleted-and-gone.
   */
  /**
   * Keyed upsert (MERGE ... WHEN MATCHED UPDATE / WHEN NOT MATCHED
   * INSERT, SCD-1): rows in `delta` replace current rows with the same
   * key; unmatched current rows are kept; unmatched delta rows are
   * inserted. The incremental companion to the reference's
   * truncate-and-load (BQETLSimple.java:113-120) — a recurring ETL
   * that reloads only changed source rows needs this, not a full
   * rewrite.
   *
   * - One anti join on the key: current-side shuffle only; a small
   *   delta broadcasts (AQE picks it from size), so the common
   *   trickle-update case never shuffles the big table.
   * - `delta` must be unique per key — which row of a duplicate pair
   *   wins would otherwise be partition-order nondeterminism. Checked
   *   by a per-key window count on the delta rows the write unions in
   *   (skippable via `checkUniqueKeys = false` when the producer
   *   guarantees it).
   * - Schema evolution, additive only: a delta column the table lacks
   *   is ADDED (existing rows null-filled) — the first new attribute a
   *   daily feed grows must not abort the MERGE. A type change on a
   *   shared column, or a delta that DROPS a table column, still fails
   *   loudly: both silently rewrite history (coerced values / vanished
   *   data) instead of appending to it.
   * - One Spark action per call, the crash-safe guarded swap of
   *   [[swapInto]]: the merged result is written to an `__upsert_tmp`
   *   sibling, the duplicate-key guard observed on that write is
   *   checked after it and before the rename swap, and a refused batch
   *   leaves the table untouched. A first batch creates the table the
   *   same way.
   */
  def upsert(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      delta: DataFrame,
      keyCols: Seq[String],
      format: String = "parquet",
      checkUniqueKeys: Boolean = true): Unit = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val t = target(spark, path, "upsert")
    val guard = Observation()
    val rows =
      if (!checkUniqueKeys) delta
      else delta.withColumn("__n", count(lit(1)).over(byKey(keyCols)))
        .observe(guard, max(col("__n")).as("n")).drop("__n")
    val out =
      if (!t.exists) rows
      else {
        val evolved = evolveAdditively(spark.read.format(format).load(path), delta, "upsert")
        mergeInto(evolved, rows, delta, keyCols)
      }
    swapInto(t, out, format, "upsert") {
      require(!checkUniqueKeys || observedMax(guard)("n") <= 1,
        s"upsert: delta has duplicate keys on ${keyCols.mkString(",")}")
      true
    }
  }

  /**
   * Version-guarded upsert (last-writer-wins MERGE) — the
   * OUT-OF-ORDER complement of `upsert`/`applyCdc`, which both trust
   * batch order: an at-least-once feed (retried producers, replayed
   * partitions, racing backfills) can deliver an OLDER version of a
   * key AFTER a newer one, and order-trusting merge would regress the
   * row. Here every row carries a monotone `versionCol` (event
   * timestamp, LSN, binlog offset) and the merge keeps, per key, the
   * row with the HIGHEST version across current ∪ delta — so applying
   * batches in ANY order, any number of times, converges to the same
   * table (commutative + idempotent, the CRDT register argument).
   *
   * Ties (same key, same version, different payloads) are refused
   * loudly: silently picking one is partition-order nondeterminism.
   * Exact same-row duplicates collapse harmlessly. Scale shape: one
   * (score, row)-struct max aggregate on the key — map-side combined,
   * ONE shuffle of current ∪ delta, no window, no join — run ONCE per
   * call: both guards are observed on the aggregate's output as the
   * merged table is written to its `__upsertVersioned_tmp` sibling,
   * and checked after that write and before the rename swap of
   * [[swapInto]]. Schema evolution is `upsert`'s additive rule.
   *
   * A `versionCol` that is NULL (or, with ANSI casts off, does not
   * cast to a long) is refused loudly in the delta AND in the current
   * table: it can neither win nor lose deterministically. Every write through this
   * method is guarded, so only a table written by other means can hold
   * such a row — and it then refuses every later call. Repair it
   * outside `upsertVersioned`: rewrite the table with the offending
   * rows dropped or given a valid version (e.g. `writeTruncate` of the
   * filtered table to a new path, then swap it in), and resume.
   */
  def upsertVersioned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      delta: DataFrame,
      keyCols: Seq[String],
      versionCol: String,
      format: String = "parquet"): Unit = {
    require(keyCols.nonEmpty, "upsertVersioned needs at least one key column")
    require(delta.columns.contains(versionCol),
      s"upsertVersioned: delta lacks version column $versionCol")
    require(!keyCols.contains(versionCol),
      s"upsertVersioned: version column $versionCol cannot be a key")
    import org.apache.spark.sql.functions.{col, max, min, struct, when}
    val t = target(spark, path, "upsertVersioned")
    val all =
      if (!t.exists) delta
      else evolveAdditively(spark.read.format(format).load(path), delta, "upsertVersioned")
        .unionByName(delta)
    // ONE aggregate: per key, the whole row riding a (version, row)
    // struct max — versions compare in long space (epoch / LSN /
    // offset). Conflict detection at the WINNING version only (a
    // superseded version's duplicates are irrelevant to the result):
    // `hi` = largest version, lexicographically-largest payload;
    // `lo` = largest version, lexicographically-SMALLEST payload (a
    // min over the negated version). Differing payloads mean a true
    // tie at the winning version — refused loudly; exact duplicates
    // collapse to hi == lo and merge fine.
    val keyCs = keyCols.map(col)
    val payload = all.columns.filterNot(keyCols.contains)
    val v = col(versionCol).cast("long")
    val rowStruct = struct(payload.map(col): _*)
    // Both guards are max flags observed on the aggregate's output, so
    // they ride the one write. The NULL flag is read FIRST — with a
    // NULL in play the struct comparators' null ordering is
    // meaningless, so no tie verdict counts until null-freeness is
    // established. Coverage is current ∪ delta: delta-only by
    // induction through this API (every prior write was guarded), and
    // a hand-written table row carrying a NULL version is refused
    // instead of silently mis-merged.
    val guard = Observation()
    val merged = all
      .groupBy(keyCs: _*)
      .agg(
        max(struct(v.as("__v"), rowStruct.as("__row"))).as("__hi"),
        min(struct((-v).as("__nv"), rowStruct.as("__row"))).as("__lo"),
        max(when(v.isNull, 1).otherwise(0)).as("__nullv"))
      .observe(guard, max(col("__nullv")).as("nullv"),
        max(when(col("__hi.__row") =!= col("__lo.__row"), 1).otherwise(0)).as("tie"))
    val resolved = merged.select(
      keyCs ++ payload.map(c => col(s"__hi.__row.$c").as(c)): _*)
    swapInto(t, resolved, format, "upsertVersioned") {
      val g = observedMax(guard)
      require(g("nullv") == 0,
        s"upsertVersioned: NULL or non-castable $versionCol in delta or current table")
      require(g("tie") == 0,
        s"upsertVersioned: conflicting payloads tied at the winning " +
          s"($versionCol) version for some key on ${keyCols.mkString(",")} " +
          "— ties must not be silently resolved")
      true
    }
  }

  /**
   * Changelog (CDC) apply — the delete-carrying generalization of
   * `upsert`, the shape a Debezium/binlog-style feed demands: each
   * delta row carries an op marker, `"U"` (insert-or-update) or `"D"`
   * (delete). Upserts follow `upsert`'s exact semantics including
   * additive schema evolution; deletes remove the keyed row, and a
   * delete for an absent key is a no-op, so replaying an
   * already-applied batch is idempotent. One op per key per batch
   * (checked — a key that is both updated and deleted in one batch is
   * producer nondeterminism, refused loudly). With
   * `checkUniqueKeys = false` that refusal is waived and intra-batch
   * U+D on one key resolves deterministically: THE DELETE WINS (the
   * U is dropped before the merge). Without that resolution the anti
   * join would remove the row and the U re-insert it — the delete
   * silently LOST, a data-loss mode, not mere nondeterminism (r13
   * ADVICE). U+U on one key under the waived check remains
   * nondeterministic (both rows land); keep the check on unless the
   * producer guarantees per-key uniqueness.
   *
   * Scale shape is identical to `upsert`: one anti join of the current
   * table against ALL delta keys (updates and deletes alike — a small
   * delta broadcasts, so the big side never shuffles), then a union
   * with the upsert rows. One Spark action per call, the guarded
   * tmp/bak rename swap of [[swapInto]]: the op-domain and
   * duplicate-key guards are observed on the delta as the merged table
   * is written to its `__applyCdc_tmp` sibling, and checked after that
   * write and before the swap. A delete-only first batch creates no
   * table.
   */
  def applyCdc(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      delta: DataFrame,
      keyCols: Seq[String],
      opCol: String = "_op",
      format: String = "parquet",
      checkUniqueKeys: Boolean = true): Unit = {
    require(keyCols.nonEmpty, "applyCdc needs at least one key column")
    require(delta.columns.contains(opCol), s"applyCdc: delta lacks op column $opCol")
    require(!keyCols.contains(opCol), s"applyCdc: op column $opCol cannot be a key")
    import org.apache.spark.sql.functions.{col, count, lit, max, when}
    val t = target(spark, path, "applyCdc")
    // The op-domain check is UNCONDITIONAL (not gated by
    // checkUniqueKeys): a row whose op is neither U nor D would
    // otherwise be silently dropped by the U/D split below — data
    // loss, not a performance knob. A NULL op is a bad op: `isin` on
    // NULL is NULL, so the predicate flags the GOOD ops and everything
    // else — NULL included — lands in the otherwise-1 branch.
    //
    // Both guards are observed on the whole delta BEFORE the U filter
    // (a Filter does not push through CollectMetrics, so every row is
    // seen), on the branch the write unions in.
    val guard = Observation()
    val badOp = max(when(col(opCol).isin("U", "D"), 0).otherwise(1)).as("badop")
    val flagged =
      if (!checkUniqueKeys) delta.observe(guard, badOp)
      else delta.withColumn("__n", count(lit(1)).over(byKey(keyCols)))
        .observe(guard, badOp, max(col("__n")).as("n")).drop("__n")
    val ups0 = flagged.filter(col(opCol) === "U").drop(opCol)
    // D wins over a same-key U within one batch (class doc): only
    // reachable when the unique-keys check is waived, and the anti
    // join runs delta-vs-delta — broadcast-sized, never the table
    val ups = if (checkUniqueKeys) ups0
    else ups0.join(
      delta.filter(col(opCol) === "D").select(keyCols.map(col): _*).distinct(),
      keyCols, "left_anti")
    // First batch bootstraps the table from its upserts; a delete-only
    // first batch has nothing to create and must not plant an empty
    // table whose schema would then pin future evolution.
    val anyUp = Observation()
    val out =
      if (!t.exists) ups.observe(anyUp, max(lit(1)).as("rows"))
      else {
        val evolved = evolveAdditively(spark.read.format(format).load(path), ups, "applyCdc")
        mergeInto(evolved, ups, delta, keyCols)
      }
    swapInto(t, out, format, "applyCdc") {
      // a bad op beats a duplicate key
      val g = observedMax(guard)
      require(g("badop") == 0, s"applyCdc: $opCol values must be 'U' or 'D'")
      require(g("n") <= 1, s"applyCdc: delta has duplicate keys on ${keyCols.mkString(",")}")
      t.exists || observedMax(anyUp)("rows") > 0
    }
  }

  /**
   * Shared columns: name AND type equality — unionByName would
   * otherwise coerce silently (int delta vs bigint table rewrites the
   * whole table with changed column types instead of failing loudly).
   * New incoming columns are ADDED with existing rows null-filled;
   * dropped columns are refused (not additive).
   */
  private def evolveAdditively(
      current: DataFrame, incoming: DataFrame, who: String): DataFrame = {
    val currentTypes = current.dtypes.toMap
    val incomingTypes = incoming.dtypes.toMap
    val typeChanged = currentTypes.keySet.intersect(incomingTypes.keySet).toSeq.sorted
      .collect { case c if currentTypes(c) != incomingTypes(c) =>
        s"$c: ${currentTypes(c)} -> ${incomingTypes(c)}" }
    require(typeChanged.isEmpty,
      s"$who: column type changes refused (rewrite the table explicitly): " +
        typeChanged.mkString("; "))
    val dropped = (currentTypes.keySet -- incomingTypes.keySet).toSeq.sorted
    require(dropped.isEmpty,
      s"$who: delta is missing table columns ${dropped.mkString(",")}; " +
        "dropping columns is not additive evolution")
    import org.apache.spark.sql.functions.lit
    val newCols = incoming.schema.fields.filterNot(f => currentTypes.contains(f.name))
    newCols.foldLeft(current) { (df, f) =>
      df.withColumn(f.name, lit(null).cast(f.dataType))
    }
  }

  private def byKey(keyCols: Seq[String]) =
    org.apache.spark.sql.expressions.Window.partitionBy(
      keyCols.map(org.apache.spark.sql.functions.col): _*)

  /** `rows` plus the `evolved` table rows whose key `delta` does not
   * touch, in the table's column order. The observed `rows` lead the
   * union so the write runs in the session their guard Observation is
   * registered with. */
  private def mergeInto(
      evolved: DataFrame, rows: DataFrame, delta: DataFrame, keyCols: Seq[String]): DataFrame =
    rows.unionByName(evolved.join(delta.select(keyCols.map(delta(_)): _*), keyCols, "left_anti"))
      .select(evolved.columns.map(org.apache.spark.sql.functions.col): _*)

  /** The observed max-style guard metrics of a finished write; a metric
   * over no rows (NULL, or absent when the optimizer dropped an empty
   * branch) reads 0. Max stays exact if a subtree runs twice. */
  private def observedMax(obs: Observation): String => Long = {
    val m = obs.get
    k => m.get(k).collect { case n: Number => n.longValue }.getOrElse(0L)
  }

  private def sibling(hPath: Path, suffix: String): Path =
    new Path(hPath.toString.stripSuffix("/") + s"__$suffix")

  /** The sinks that swap through [[swapInto]]. */
  private val swapSinks = Seq("upsert", "applyCdc", "upsertVersioned")

  /** An incremental sink's target, resolved before its one write. */
  private final case class Target(fs: FileSystem, path: Path, exists: Boolean)

  /** Resolves `path` for sink `who`. A crash between the two renames
   * of [[swapInto]] leaves `path` absent and the before state in an
   * `__<sink>_bak` sibling: that bak is renamed back into place and
   * the stale tmp dropped BEFORE the existence check, so the call
   * merges into the restored table instead of bootstrapping a new one
   * from the delta alone. A Hive-partitioned target is refused: load()
   * would infer the partition columns and the merged rewrite (no
   * partitionBy) would silently flatten the directory layout — losing
   * partition pruning and baking inferred partition-column types into
   * the data files. */
  private def target(
      spark: org.apache.spark.sql.SparkSession, path: String, who: String): Target = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(hPath) || {
      val residue = swapSinks.filter(w => fs.exists(sibling(hPath, s"${w}_bak")))
      require(residue.size <= 1,
        s"$who: $path is absent and has several swap backups (${residue.mkString(",")}); " +
          "restore one by hand")
      residue.foreach { w =>
        val bak = sibling(hPath, s"${w}_bak")
        if (!fs.rename(bak, hPath))
          throw new java.io.IOException(s"$who: restore $bak -> $path failed")
        fs.delete(sibling(hPath, s"${w}_tmp"), true)
      }
      residue.nonEmpty
    }
    if (exists && fs.listStatus(hPath).exists(e =>
        e.isDirectory && e.getPath.getName.contains("=")))
      throw new IllegalArgumentException(
        s"$who: $path is Hive-partitioned; $who per partition directory instead")
    Target(fs, hPath, exists)
  }

  /** Crash-safe guarded swap — the ONE Spark action of an upsert,
   * applyCdc or upsertVersioned call. `out` carries the call's guards
   * as Observations; it is fully written to a `__<who>_tmp` sibling,
   * then `guard` reads the observed metrics on the driver: throwing
   * refuses the batch, `false` discards a write that would create
   * nothing. Either way the tmp is deleted and the target is never
   * touched. A passing guard moves the tmp into place — directly for a
   * first batch, else through an `__<who>_bak` backup that is rolled
   * back on failure.
   *
   * Trade-off: a refused batch pays for the discarded tmp write; in
   * return a passing batch runs its delta lineage once instead of once
   * for a separate guard action and again for the write, and
   * upsertVersioned runs its whole-table merge aggregate once instead
   * of twice. */
  private def swapInto(t: Target, out: DataFrame, format: String, who: String)(
      guard: => Boolean): Unit = {
    val path = t.path.toString
    val tmp = sibling(t.path, s"${who}_tmp")
    out.write.mode(SaveMode.Overwrite).format(format).save(tmp.toString)
    val publish =
      try guard
      catch { case e: Throwable => t.fs.delete(tmp, true); throw e }
    if (!publish) t.fs.delete(tmp, true): Unit
    else if (!t.exists) {
      if (!t.fs.rename(tmp, t.path))
        throw new java.io.IOException(s"$who: rename $tmp -> $path failed")
    } else {
      val bak = sibling(t.path, s"${who}_bak")
      // a bak left by a swap that crashed after its second rename is
      // garbage; renaming onto it would nest the table inside it
      t.fs.delete(bak, true)
      if (!t.fs.rename(t.path, bak))
        throw new java.io.IOException(s"$who: rename $path -> $bak failed")
      if (!t.fs.rename(tmp, t.path)) {
        t.fs.rename(bak, t.path) // roll back; original untouched
        throw new java.io.IOException(s"$who: rename $tmp -> $path failed (rolled back)")
      }
      t.fs.delete(bak, true): Unit // best effort; leftover bak is harmless
    }
  }

  /**
   * Compaction for Hive-partitioned (`col=value`) layouts — the case
   * plain `compact` deliberately REJECTS. Walks the partition tree to
   * its leaf directories (multi-level `a=1/b=2` layouts included) and
   * compacts each leaf independently through `compact`, so the
   * directory structure — and with it partition pruning and the
   * partition-column types — is never touched: leaf data files hold no
   * partition columns, and each leaf's rewrite is the same crash-safe
   * rename swap.
   *
   * The leaf walk is driver-side metadata (one listStatus per
   * directory level — the same cost Spark's own file index pays to
   * plan a scan), and each leaf compaction is an independent
   * idempotent unit: a killed run leaves every completed leaf
   * compacted and every untouched leaf intact, and the rerun skips
   * already-compacted leaves via compact's no-op guard. That
   * restart-by-construction is the property a 10k-partition nightly
   * maintenance job actually needs — not one giant all-or-nothing
   * rewrite.
   *
   * Leaves compact CONCURRENTLY (`maxConcurrency` driver threads,
   * each submitting independent Spark jobs): a leaf rewrite is a tiny
   * job dominated by fixed scheduling latency, so a sequential loop
   * over 10k partitions would serialize 10k scheduling round trips
   * while the cluster idles. The Spark scheduler interleaves the
   * concurrent jobs across executors; per-leaf crash isolation is
   * unchanged (each leaf still swaps through its own hidden tmp/bak).
   *
   * Returns the number of leaf partitions whose files were rewritten.
   */
  def compactPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      format: String = "parquet",
      maxConcurrency: Int = 8): Int = {
    require(maxConcurrency > 0, "maxConcurrency must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      // hidden (./_-led) dirs are swap remnants or metadata, never leaves
      val subs = fs.listStatus(p).filter(e =>
        e.isDirectory && e.getPath.getName.contains("=") &&
          !e.getPath.getName.startsWith(".") && !e.getPath.getName.startsWith("_"))
      if (subs.isEmpty) Seq(p) else subs.toSeq.flatMap(e => leaves(e.getPath))
    }
    require(fs.listStatus(hPath).exists(e =>
        e.isDirectory && e.getPath.getName.contains("=")),
      s"compactPartitioned: $path has no col=value partition directories; use compact")
    val all = leaves(hPath)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrency, math.max(1, all.size)))
    val rewritten = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val futures = all.map { leaf =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            def liveFiles = fs.listStatus(leaf).count(e => e.isFile &&
              !e.getPath.getName.startsWith("_") && !e.getPath.getName.startsWith("."))
            val before = liveFiles
            compact(spark, leaf.toString, targetFileBytes, format)
            if (liveFiles < before) rewritten.incrementAndGet(): Unit
          }
        })
      }
      futures.foreach(_.get()) // propagate the first leaf failure
    } finally pool.shutdown()
    rewritten.get()
  }

  def compact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      format: String = "parquet"): Unit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(hPath)
    if (entries.exists(e => e.isDirectory && e.getPath.getName.contains("=")))
      throw new IllegalArgumentException(
        s"compact: $path is Hive-partitioned; compact each partition directory instead")
    val curFiles = entries.count(e => e.isFile &&
      !e.getPath.getName.startsWith("_") && !e.getPath.getName.startsWith("."))
    val df = spark.read.format(format).load(path)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes // BigInt
    val nFiles = ((bytes + targetFileBytes - 1) / targetFileBytes)
      .max(BigInt(1)).min(BigInt(Int.MaxValue)).toInt
    if (nFiles >= curFiles) return // nothing to merge
    // Dot-prefixed swap siblings: when the target is a LEAF of a
    // partitioned table (compactPartitioned), an undotted
    // `part=p0__compact_tmp` sibling would sit inside the partition
    // tree and feed Spark's partition inference — hidden (`.`-led)
    // paths are skipped by every Hadoop/Spark file index, so a crash
    // remnant or mid-swap state is invisible to concurrent readers.
    val parent = hPath.getParent
    val tmp = new org.apache.hadoop.fs.Path(parent, "." + hPath.getName + "__compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(parent, "." + hPath.getName + "__compact_bak")
    df.coalesce(nFiles).write.mode(SaveMode.Overwrite).format(format).save(tmp.toString)
    if (!fs.rename(hPath, bak))
      throw new java.io.IOException(s"compact: rename $path -> $bak failed")
    if (!fs.rename(tmp, hPath)) {
      fs.rename(bak, hPath) // roll back; original untouched
      throw new java.io.IOException(s"compact: rename $tmp -> $path failed (rolled back)")
    }
    fs.delete(bak, true) // best effort; leftover bak is harmless
  }

  /** Outcome of [[deleteKeys]]: how surgical the delete was. */
  final case class DeleteReport(nFiles: Int, nRewritten: Int, nDeletedFiles: Int)

  /**
   * Surgical key delete (A21) — remove every row of the given keys by
   * rewriting ONLY the files whose footer min/max range can contain
   * them (the right-to-be-forgotten / targeted-correction operation at
   * warehouse scale: a full-table rewrite for a handful of keys is the
   * naive form, and on a [[writeSorted]] layout the affected keys live
   * in a handful of range-disjoint files).
   *
   * File pruning reads PARQUET FOOTERS only (column statistics — no
   * data pages, no Spark job), so the planning cost is one metadata
   * read per file; each affected file is rewritten in place
   * (filter → temp sibling → swap), files that go empty are removed,
   * and untouched files keep their bytes — byte-identity of the
   * untouched set is the machine-checkable "surgical" claim.
   *
   * Crash-safety: per-file delete-then-rename (not atomic); a rerun
   * of the same delete is IDEMPOTENT (filtering absent keys is a
   * no-op rewrite, a leftover tmp sibling is hidden from readers by
   * its dot prefix and overwritten on retry). Long keys only — the
   * footer statistics comparison is typed.
   */
  def deleteKeys(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      keyCol: String,
      keys: Seq[Long]): DeleteReport = {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    require(keys.nonEmpty, "deleteKeys: empty key set")
    val conf = spark.sparkContext.hadoopConfiguration
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(conf)
    val files = fs.listStatus(hPath).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith(".")
        && !p.getName.startsWith("_"))
      .sortBy(_.getName)
    val keySet = keys.toSet
    def rangeOf(p: org.apache.hadoop.fs.Path): Option[(Long, Long)] = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try {
        val ranges = rd.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == keyCol)
            .map(_.getStatistics)
            .collect {
              case st: org.apache.parquet.column.statistics.LongStatistics
                  if st.hasNonNullValue =>
                (st.genericGetMin.longValue(), st.genericGetMax.longValue())
            }
        }
        if (ranges.isEmpty) None
        else Some((ranges.map(_._1).min, ranges.map(_._2).max))
      } finally rd.close()
    }
    var rewritten = 0
    var removed = 0
    files.foreach { p =>
      // no stats (all-null or missing column) → must rewrite: never
      // skip a file the footer cannot prove clean
      val hit = rangeOf(p).forall { case (lo, hi) =>
        keys.exists(k => k >= lo && k <= hi)
      }
      if (hit) {
        val kept = spark.read.parquet(p.toString)
          .filter(!col(keyCol).isin(keySet.toSeq: _*))
        if (kept.isEmpty) {
          // every row deleted: removing the file IS the rewrite (an
          // empty parquet part would otherwise take its place)
          fs.delete(p, false)
          removed += 1
        } else {
          val tmpDir = new org.apache.hadoop.fs.Path(
            p.getParent, s".${p.getName}__delete_tmp")
          fs.delete(tmpDir, true)
          kept.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmpDir.toString)
          val newPart = fs.listStatus(tmpDir).map(_.getPath)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(throw new java.io.IOException(
              s"deleteKeys: rewrite of $p produced no part file"))
          fs.delete(p, false)
          require(fs.rename(newPart, p), s"deleteKeys: swap failed for $p")
          rewritten += 1
          fs.delete(tmpDir, true)
        }
      }
    }
    DeleteReport(files.length, rewritten, removed)
  }
}
