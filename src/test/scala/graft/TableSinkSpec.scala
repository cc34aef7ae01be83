package graft

import graft.sinks.TableSink
import org.apache.spark.sql.functions.{input_file_name, max, min, sum}
import org.scalatest.funsuite.AnyFunSuite

class TableSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("writeTruncate overwrites existing data (WRITE_TRUNCATE semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/t"
    TableSink.writeTruncate(Seq((1, "old"), (2, "old")).toDF("k", "v"), dir)
    TableSink.writeTruncate(Seq((3, "new")).toDF("k", "v"), dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 1 && back.select("v").as[String].head() == "new")
  }

  test("bucketed tables join without an exchange") {
    import org.apache.spark.sql.functions.sum
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_items")
    // a previously failed run can leave an orphaned managed-table dir
    Seq("bkt_orders", "bkt_items").foreach { t =>
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) { d.listFiles().foreach(_.delete()); d.delete() }
    }
    TableSink.writeBucketed(
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "total"), "bkt_orders", Seq("k"), 4)
    TableSink.writeBucketed(
      Seq((1L, 1.0), (1L, 2.0), (2L, 3.0)).toDF("k", "price"), "bkt_items", Seq("k"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_orders").join(spark.table("bkt_items"), "k")
        .groupBy("k").agg(sum("price").as("s"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitionBy produces partition-pruned layout") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/p"
    TableSink.writeTruncate(Seq((1, "a"), (2, "b")).toDF("k", "part"), dir,
      partitionBy = Seq("part"))
    assert(new java.io.File(dir, "part=a").exists())
    val scan = spark.read.parquet(dir).where($"part" === "a")
    // the filter must reach the scan's partition pruning, not run as a
    // post-scan row filter over every partition
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part"),
      s"partition filter not pushed:\n$plan")
    assert(scan.count() == 1)
  }

  private def parquetFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles().filter(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  test("compact rewrites a many-file table into few files with identical data") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/c"
    spark.range(1000).toDF("v").repartition(40).write.parquet(dir)
    assert(parquetFiles(dir).length == 40)
    TableSink.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    val after = parquetFiles(dir)
    assert(after.length < 40, s"expected fewer files, got ${after.length}")
    assert(spark.read.parquet(dir).agg(sum("v")).head().getLong(0) == 499500L)
  }

  test("compact refuses partitioned layouts and no-ops when already compact") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cp"
    TableSink.writeTruncate(Seq((1, "01"), (2, "02")).toDF("k", "part"), dir,
      partitionBy = Seq("part"))
    val e = intercept[IllegalArgumentException](TableSink.compact(spark, dir))
    assert(e.getMessage.contains("Hive-partitioned"))
    assert(new java.io.File(dir, "part=01").exists(), "refused compact must not touch data")

    val dir2 = java.nio.file.Files.createTempDirectory("sink").toString + "/c1"
    spark.range(100).toDF("v").coalesce(1).write.parquet(dir2)
    val before = parquetFiles(dir2).map(f => (f.getName, f.lastModified())).toSet
    TableSink.compact(spark, dir2) // 1 file, already at/below target → no-op
    assert(parquetFiles(dir2).map(f => (f.getName, f.lastModified())).toSet == before,
      "already-compact table must not be rewritten")
  }

  test("writeSorted yields disjoint per-file key ranges (min/max skipping layout)") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/s"
    val df = spark.range(10000).toDF("k")
      .select((($"k" * 2654435761L) % 10007L).as("k")) // scrambled input order
    TableSink.writeSorted(df, dir, Seq("k"), targetPartitions = 5)
    val ranges = spark.read.parquet(dir)
      .select(input_file_name().as("f"), $"k")
      .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1)
    // STRICT <: range partitioning never splits equal keys across
    // files, so a shared boundary key would mean the layout broke
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 < lo2, s"file ranges overlap or touch: $hi1 >= $lo2 in ${ranges.toSeq}")
    }
  }

  test("upsert replaces matched keys, keeps others, inserts new ones") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/u"
    TableSink.writeTruncate(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), dir)
    TableSink.upsert(spark, dir, Seq((2L, "B2"), (4L, "d")).toDF("k", "v"), Seq("k"))
    val back = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // no leftover swap siblings
    assert(!new java.io.File(dir + "__upsert_tmp").exists())
    assert(!new java.io.File(dir + "__upsert_bak").exists())
  }

  test("upsert into a missing target creates it") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/u0"
    TableSink.upsert(spark, dir, Seq((1L, "a")).toDF("k", "v"), Seq("k"))
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("upsert rejects duplicate-key deltas and column drops") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/ud"
    TableSink.writeTruncate(Seq((1L, "a")).toDF("k", "v"), dir)
    intercept[IllegalArgumentException] {
      TableSink.upsert(spark, dir, Seq((2L, "x"), (2L, "y")).toDF("k", "v"), Seq("k"))
    }
    // a delta missing a table column would silently vanish data
    val e = intercept[IllegalArgumentException] {
      TableSink.upsert(spark, dir, Seq(2L).toDF("k"), Seq("k"))
    }
    assert(e.getMessage.contains("missing table columns"))
    // failed upserts must not have touched the table
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("upsert evolves the schema additively: new delta column null-fills old rows") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/ue"
    TableSink.writeTruncate(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    TableSink.upsert(spark, dir,
      Seq((2L, "B2", 7), (3L, "c", 9)).toDF("k", "v", "extra"), Seq("k"))
    val back = spark.read.parquet(dir)
    assert(back.schema.fieldNames.sorted.toSeq == Seq("extra", "k", "v"))
    val rows = back.select("k", "v", "extra")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "a", None), (2L, "B2", Some(7)), (3L, "c", Some(9))))
  }

  test("upsert rejects same-name different-type deltas (no silent coercion)") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/ut"
    TableSink.writeTruncate(Seq((1L, 10L)).toDF("k", "v"), dir)
    // int v vs bigint v: unionByName would silently coerce and rewrite
    // the whole table with changed column types — must fail instead
    val e = intercept[IllegalArgumentException] {
      TableSink.upsert(spark, dir, Seq((2L, 20)).toDF("k", "v"), Seq("k"))
    }
    assert(e.getMessage.contains("type changes refused"))
    assert(spark.read.parquet(dir).schema("v").dataType.typeName == "long")
  }

  test("upsert refuses Hive-partitioned targets (would flatten the layout)") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/up"
    TableSink.writeTruncate(Seq((1L, "01"), (2L, "02")).toDF("k", "part"), dir,
      partitionBy = Seq("part"))
    val e = intercept[IllegalArgumentException] {
      TableSink.upsert(spark, dir, Seq((3L, "01")).toDF("k", "part"), Seq("k"))
    }
    assert(e.getMessage.contains("Hive-partitioned"))
    assert(new java.io.File(dir, "part=01").exists(),
      "refused upsert must not touch the partition layout")
  }

  // --- upsertVersioned --------------------------------------------------------

  test("upsertVersioned: any batch order converges to last-writer-wins") {
    val base = java.nio.file.Files.createTempDirectory("sink").toString
    val b1 = Seq((1L, "v2", 20L), (2L, "b1", 10L)).toDF("k", "v", "ver")
    val b2 = Seq((1L, "v1", 10L), (2L, "b3", 30L), (3L, "c1", 5L)).toDF("k", "v", "ver")
    val want = Set((1L, "v2", 20L), (2L, "b3", 30L), (3L, "c1", 5L))
    // forward order, reverse order, and a replay: same table
    for ((order, dir0) <- Seq(Seq(b1, b2) -> "/fwd", Seq(b2, b1) -> "/rev",
        Seq(b1, b2, b1) -> "/replay")) {
      val dir = base + dir0
      order.foreach(TableSink.upsertVersioned(spark, dir, _, Seq("k"), "ver"))
      assert(spark.read.parquet(dir).as[(Long, String, Long)].collect().toSet == want,
        s"order $dir0 diverged")
    }
  }

  test("upsertVersioned: exact duplicates collapse; winning-version ties refuse") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/vt"
    // the same (key, version, payload) twice in one batch is harmless
    TableSink.upsertVersioned(spark, dir,
      Seq((1L, "a", 10L), (1L, "a", 10L)).toDF("k", "v", "ver"), Seq("k"), "ver")
    assert(spark.read.parquet(dir).as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a", 10L)))
    // two DIFFERENT payloads at the winning version must fail loudly
    intercept[IllegalArgumentException] {
      TableSink.upsertVersioned(spark, dir,
        Seq((1L, "x", 50L), (1L, "y", 50L)).toDF("k", "v", "ver"), Seq("k"), "ver")
    }
    // a conflict at a SUPERSEDED version is irrelevant and must merge
    TableSink.upsertVersioned(spark, dir,
      Seq((1L, "x", 5L), (1L, "y", 5L), (1L, "new", 99L)).toDF("k", "v", "ver"),
      Seq("k"), "ver")
    assert(spark.read.parquet(dir).as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "new", 99L)))
    intercept[IllegalArgumentException] {
      TableSink.upsertVersioned(spark, dir,
        Seq((1L, Some("z"), None: Option[Long])).toDF("k", "v", "ver"), Seq("k"), "ver")
    }
  }

  test("upsertVersioned fused NULL guard: NULL error wins over a conflict tie") {
    // The NULL-version guard rides the merge aggregate (r20); with a
    // NULL in play the struct comparators' ordering is meaningless, so
    // the NULL refusal must fire FIRST — whether the batch also
    // carries a genuine winning-version conflict (key 1 below) or the
    // NULL row itself is what the comparators would flag or mis-rank.
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/vn"
    val both = intercept[IllegalArgumentException] {
      TableSink.upsertVersioned(spark, dir,
        Seq((1L, Some("x"), Some(50L)), (1L, Some("y"), Some(50L)),
          (2L, Some("z"), None: Option[Long])).toDF("k", "v", "ver"),
        Seq("k"), "ver")
    }
    val equalPayload = intercept[IllegalArgumentException] {
      TableSink.upsertVersioned(spark, dir,
        Seq((1L, Some("a"), Some(5L)), (1L, Some("a"), None: Option[Long]))
          .toDF("k", "v", "ver"), Seq("k"), "ver")
    }
    Seq(both, equalPayload).foreach { e =>
      assert(e.getMessage.contains(
        "NULL or non-castable ver in delta or current table"), e.getMessage)
    }
    // failed batches must not have created the table
    assert(!new java.io.File(dir).exists())
  }

  // --- applyCdc -------------------------------------------------------------

  test("applyCdc upserts, deletes, and re-inserts across batches") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cdc"
    // bootstrap
    TableSink.applyCdc(spark, dir,
      Seq((1L, "a", "U"), (2L, "b", "U"), (3L, "c", "U")).toDF("k", "v", "_op"),
      Seq("k"))
    // update 1, delete 2, insert 4
    TableSink.applyCdc(spark, dir,
      Seq((1L, "A2", "U"), (2L, "b", "D"), (4L, "d", "U")).toDF("k", "v", "_op"),
      Seq("k"))
    // re-insert the deleted key, delete an absent key (idempotent no-op)
    TableSink.applyCdc(spark, dir,
      Seq((2L, "B3", "U"), (9L, "x", "D")).toDF("k", "v", "_op"), Seq("k"))
    val back = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((1L, "A2"), (2L, "B3"), (3L, "c"), (4L, "d")))
    assert(!spark.read.parquet(dir).columns.contains("_op"),
      "op marker must not leak into the table")
  }

  test("applyCdc: delete-only first batch does not plant an empty table") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cdc0"
    TableSink.applyCdc(spark, dir,
      Seq((1L, "a", "D")).toDF("k", "v", "_op"), Seq("k"))
    assert(!new java.io.File(dir).exists(),
      "a delete against a missing table must not create one")
  }

  test("applyCdc evolves additively and rejects bad ops / dup keys") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cdce"
    TableSink.applyCdc(spark, dir,
      Seq((1L, "a", "U"), (2L, "b", "U")).toDF("k", "v", "_op"), Seq("k"))
    // new column arrives with a delete in the same batch
    TableSink.applyCdc(spark, dir,
      Seq((2L, "x", 7, "D"), (3L, "c", 9, "U")).toDF("k", "v", "extra", "_op"),
      Seq("k"))
    val rows = spark.read.parquet(dir).select("k", "v", "extra")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a", None), (3L, "c", Some(9))))
    intercept[IllegalArgumentException] {
      TableSink.applyCdc(spark, dir,
        Seq((5L, "e", 1, "UPSERT")).toDF("k", "v", "extra", "_op"), Seq("k"))
    }
    // the op-domain check must hold even with uniqueness checking off —
    // an unknown op would otherwise vanish from the U/D split silently
    intercept[IllegalArgumentException] {
      TableSink.applyCdc(spark, dir,
        Seq((5L, "e", 1, "X")).toDF("k", "v", "extra", "_op"), Seq("k"),
        checkUniqueKeys = false)
    }
    intercept[IllegalArgumentException] {
      TableSink.applyCdc(spark, dir,
        Seq((5L, "e", 1, "U"), (5L, "e", 1, "D")).toDF("k", "v", "extra", "_op"),
        Seq("k"))
    }
    // failed batches must not have touched the table
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("applyCdc fused guard: op-domain error wins when both violations exist") {
    // The two fail-loud guards run as one aggregate pass (r20); when a
    // batch carries BOTH a bad op and a duplicate key, the op-domain
    // refusal must still fire first (its standalone check used to run
    // before the dup check), and the duplicate-key message must still
    // surface when the ops are clean.
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cdcf"
    TableSink.applyCdc(spark, dir,
      Seq((1L, "a", "U")).toDF("k", "v", "_op"), Seq("k"))
    val both = intercept[IllegalArgumentException] {
      TableSink.applyCdc(spark, dir,
        Seq((5L, "e", "X"), (6L, "f", "U"), (6L, "g", "U"))
          .toDF("k", "v", "_op"), Seq("k"))
    }
    assert(both.getMessage.contains("must be 'U' or 'D'"), both.getMessage)
    val dup = intercept[IllegalArgumentException] {
      TableSink.applyCdc(spark, dir,
        Seq((6L, "f", "U"), (6L, "g", "D")).toDF("k", "v", "_op"), Seq("k"))
    }
    assert(dup.getMessage.contains("duplicate keys"), dup.getMessage)
    // failed batches must not have touched the table
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("applyCdc fused guard: a NULL op is a bad op, not a silent drop") {
    // `isin` on a NULL op is NULL; the guard must count it as bad
    // instead of letting the row fall out of the U/D split unseen
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cdcn"
    TableSink.applyCdc(spark, dir,
      Seq((1L, "a", "U")).toDF("k", "v", "_op"), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      TableSink.applyCdc(spark, dir,
        Seq((2L, "b", "U"), (3L, "c", null.asInstanceOf[String])).toDF("k", "v", "_op"),
        Seq("k"))
    }
    assert(e.getMessage.contains("must be 'U' or 'D'"), e.getMessage)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("applyCdc with the uniqueness check waived: a NULL op is still refused") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cdcn2"
    TableSink.applyCdc(spark, dir,
      Seq((1L, "a", "U")).toDF("k", "v", "_op"), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      TableSink.applyCdc(spark, dir,
        Seq((2L, "b", "U"), (3L, "c", null.asInstanceOf[String])).toDF("k", "v", "_op"),
        Seq("k"), checkUniqueKeys = false)
    }
    assert(e.getMessage.contains("must be 'U' or 'D'"), e.getMessage)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("applyCdc with the uniqueness check waived: intra-batch U+D, D wins") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cdcd"
    TableSink.applyCdc(spark, dir,
      Seq((1L, "a", "U"), (2L, "b", "U")).toDF("k", "v", "_op"), Seq("k"))
    // same batch updates AND deletes key 1: the delete must win —
    // without the resolution the anti join removes the row and the U
    // re-inserts it, silently losing the delete
    TableSink.applyCdc(spark, dir,
      Seq((1L, "A2", "U"), (1L, "a", "D"), (3L, "c", "U")).toDF("k", "v", "_op"),
      Seq("k"), checkUniqueKeys = false)
    val back = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((2L, "b"), (3L, "c")))
    // D-wins also guards the bootstrap batch
    val dir2 = java.nio.file.Files.createTempDirectory("sink").toString + "/cdcd2"
    TableSink.applyCdc(spark, dir2,
      Seq((1L, "a", "U"), (1L, "a", "D"), (2L, "b", "U")).toDF("k", "v", "_op"),
      Seq("k"), checkUniqueKeys = false)
    assert(spark.read.parquet(dir2).as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  // --- compactPartitioned ---------------------------------------------------

  test("compactPartitioned merges each leaf, keeps layout + data + pruning") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cp"
    val df = (1 to 200).map(i => (i.toLong, s"p${i % 3}")).toDF("k", "part")
    // round-robin fragmentation: every task writes a file per partition
    TableSink.writeTruncate(df.repartition(5), dir, partitionBy = Seq("part"))
    def leafFiles(p: String): Int = new java.io.File(dir, p).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(leafFiles("part=p0") > 1, "fixture should start fragmented")
    val rewritten = TableSink.compactPartitioned(spark, dir)
    assert(rewritten == 3, s"all 3 leaves should compact, got $rewritten")
    Seq("part=p0", "part=p1", "part=p2").foreach(p =>
      assert(leafFiles(p) == 1, s"$p not compacted"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 200 && back.agg(sum("k")).as[Long].head() == 20100L)
    // partition pruning must survive the rewrite
    val plan = back.where($"part" === "p1").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part"),
      s"pruning lost after compaction:\n$plan")
    // idempotent: a rerun finds nothing to do
    assert(TableSink.compactPartitioned(spark, dir) == 0)
  }

  test("compactPartitioned walks multi-level partition trees") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cp2"
    val df = (1 to 100).map(i => (i.toLong, s"a${i % 2}", s"b${i % 2}"))
      .toDF("k", "pa", "pb")
    TableSink.writeTruncate(df.repartition(4), dir, partitionBy = Seq("pa", "pb"))
    val rewritten = TableSink.compactPartitioned(spark, dir)
    assert(rewritten == 2, s"both leaf partitions should compact, got $rewritten")
    val leaf = new java.io.File(dir, "pa=a0/pb=b0").listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(leaf == 1)
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("compactPartitioned refuses unpartitioned directories") {
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/cpf"
    TableSink.writeTruncate(Seq((1L, "a")).toDF("k", "v"), dir)
    val e = intercept[IllegalArgumentException] {
      TableSink.compactPartitioned(spark, dir)
    }
    assert(e.getMessage.contains("no col=value partition"))
  }

  test("deleteKeys rewrites only intersecting files; untouched bytes identical") {
    val dir = java.nio.file.Files.createTempDirectory("tdel").toString + "/t"
    val df = (0L until 8000L).map(k => (k, s"v$k")).toDF("k", "v")
    TableSink.writeSorted(df, dir, Seq("k"), targetPartitions = 8)
    def fileHashes(): Map[String, String] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(f => f.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        f.getName -> java.security.MessageDigest.getInstance("SHA-256")
          .digest(bytes).map("%02x".format(_)).mkString
      }.toMap
    }
    val before = fileHashes()
    val rep = TableSink.deleteKeys(spark, dir, "k", Seq(5L, 17L, 42L))
    assert(rep.nFiles == before.size && rep.nRewritten >= 1
      && rep.nRewritten < rep.nFiles && rep.nDeletedFiles == 0, s"$rep")
    val after = fileHashes()
    // every file NOT rewritten kept its exact bytes
    val changed = before.keys.filter(k => after.get(k) != before.get(k))
    assert(changed.size == rep.nRewritten, s"changed=$changed rep=$rep")
    val back = spark.read.parquet(dir).select("k").as[Long].collect().toSet
    assert(back == (0L until 8000L).toSet -- Set(5L, 17L, 42L))
    // idempotent rerun: same table, nothing newly removed
    TableSink.deleteKeys(spark, dir, "k", Seq(5L, 17L, 42L))
    assert(spark.read.parquet(dir).count() == 7997L)
  }

  test("deleteKeys removes a file whose every row is deleted") {
    val dir = java.nio.file.Files.createTempDirectory("tdel2").toString + "/t"
    // two range files: 0-99 and 1000-1099; wipe the whole low range
    val df = ((0L until 100L) ++ (1000L until 1100L)).map(k => (k, k * 2)).toDF("k", "v")
    TableSink.writeSorted(df, dir, Seq("k"), targetPartitions = 2)
    val rep = TableSink.deleteKeys(spark, dir, "k", (0L until 100L).toSeq)
    assert(rep.nDeletedFiles >= 1, s"$rep")
    val back = spark.read.parquet(dir).select("k").as[Long].collect().toSet
    assert(back == (1000L until 1100L).toSet)
  }
}
