package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan audit for the heaviest SparkEntry queries: asserts the
 * right PLAN, not just the right rows. A Catalyst upgrade or operator
 * refactor that silently regresses a broadcast to a shuffle, widens a
 * scan, or introduces a cartesian product would pass every value-level
 * oracle and only show up as a 100 TB bill — so it fails here first.
 */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  // The five heaviest production-path queries by BENCH_r04 (the O(n²)
  // *_exact/_sound oracle baselines are intentionally excluded — their
  // broadcast nested loops are the documented verify-scale shape).
  private lazy val heavy: Map[String, String] = Map(
    "q_nested_denorm" -> plan("q_nested_denorm"),
    "q_dedup_clusters" -> plan("q_dedup_clusters"),
    "q_flat_denorm" -> plan("q_flat_denorm"),
    "q_cc_sessions" -> plan("q_cc_sessions"),
    "q_tfidf" -> plan("q_tfidf"),
    // round 9: nest + lockstep chunk + element-wise narrowing — the
    // heaviest new query of the round
    "q_conform" -> plan("q_conform"))

  test("no cartesian product on any heavy production query") {
    heavy.foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$p")
    }
  }

  test("no nested-loop join outside the documented 1-row scalar broadcast") {
    // q_tfidf's BroadcastNestedLoopJoin is the intended 1-row global
    // doc-count broadcast (TfIdf.topTerms); every other heavy query
    // must stay equi-join only.
    (heavy - "q_tfidf").foreach { case (name, p) =>
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join:\n$p")
    }
  }

  test("dimension sides broadcast in the denorm pipelines") {
    assert(heavy("q_flat_denorm").contains("BroadcastHashJoin"),
      "flat denorm must broadcast the nation lookup")
    assert(heavy("q_nested_denorm").contains("BroadcastHashJoin"),
      "nested denorm must broadcast its dimension side")
    assert(heavy("q_tfidf").contains("BroadcastHashJoin"),
      "tfidf must broadcast the vocabulary (df) side")
  }

  test("segment dedup and inverted index plan clean (round 7)") {
    val seg = plan("q_segment_dedup")
    assert(!seg.contains("CartesianProduct"), s"segment dedup cartesian:\n$seg")
    val idx = plan("q_inverted_index")
    assert(!idx.contains("CartesianProduct") && !idx.contains("BroadcastNestedLoopJoin"),
      s"inverted index must stay equi-join/aggregate only:\n$idx")
    // both read only (doc_id, text) from documents — never lang/source
    val schemas = "ReadSchema: struct<([^>]*)>".r
    Seq("segment dedup" -> seg, "inverted index" -> idx).foreach { case (n, p) =>
      schemas.findAllMatchIn(p).map(_.group(1)).foreach { s =>
        assert(!s.contains("lang") && !s.contains("source") && !s.contains("n_chars"),
          s"$n scan reads columns the query never uses: $s")
      }
    }
    // cluster assignment: the 8-row centroid side must ride a broadcast
    // nested loop (the intended tiny-dim cross join), not a cartesian
    val ca = plan("q_cluster_assign")
    assert(ca.contains("BroadcastNestedLoopJoin") && !ca.contains("CartesianProduct"),
      s"cluster assign must broadcast the centroid side:\n$ca")
  }

  test("round-7 relational operators plan clean") {
    // record linkage: the block self-join must be an equi join on the
    // block keys — a broadcast nested loop here means blocking failed
    // and the quadratic explosion is back
    val rl = plan("q_record_linkage")
    assert(!rl.contains("CartesianProduct") && !rl.contains("BroadcastNestedLoopJoin"),
      s"record linkage must stay a blocked equi join:\n$rl")
    // scd2: both windows share one (key → ts, tie) sort — exactly one
    // exchange for the whole build
    val scd = plan("q_scd2")
    assert(!scd.contains("CartesianProduct"), s"scd2 cartesian:\n$scd")
    // winsorize: the single BroadcastNestedLoopJoin is the intended
    // 1-row percentile-bounds broadcast
    val w = plan("q_winsorize")
    assert(w.contains("BroadcastNestedLoopJoin") && !w.contains("CartesianProduct"),
      s"winsorize must ride the 1-row bounds broadcast:\n$w")
  }

  test("round-8 heavies: pagerank round snapshots and date-spine bounds") {
    // pageRank materializes every round to parquet; the RETURNED frame
    // must therefore be a bare scan of the final round's snapshot (+
    // the query's sort) — any Join in the final plan means a round's
    // lineage leaked through and the edge subtree would re-derive per
    // downstream action (the 59 s/3-round shape measured in r7).
    val pr = plan("q_pagerank")
    assert(pr.contains("Scan parquet"),
      s"pagerank result must read the materialized round snapshot:\n$pr")
    assert(!pr.contains("Join") && !pr.contains("CartesianProduct"),
      s"pagerank final plan must be a leaf scan of the last round, not a live join tree:\n$pr")
    // date spine: min/max bounds feed explode(sequence) DIRECTLY (a
    // 1-row aggregate, never a driver collect), and the gap-fill join
    // against daily revenue is an equi join — a nested-loop or
    // cartesian here means the spine stopped being relational
    val ds = plan("q_date_spine")
    assert(!ds.contains("CartesianProduct") && !ds.contains("BroadcastNestedLoopJoin"),
      s"date spine must stay equi-join only:\n$ds")
    assert(ds.contains("Generate explode"),
      s"date spine must generate the calendar via explode(sequence):\n$ds")
    assert(ds.contains("BroadcastHashJoin") || ds.contains("SortMergeJoin"),
      s"date spine gap-fill must be an equi join:\n$ds")
  }

  test("containment dedup production path plans clean (round 8)") {
    // anchored candidate generation must stay equi-join only — a
    // cartesian or nested loop here means the anchor blocking failed
    // and the all-pairs explosion is back (the documented O(n²) shapes
    // are the *_exact/_sound oracle baselines, not this path)
    val p = plan("q_dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment dedup must stay anchored equi joins:\n$p")
    // reads only (doc_id, text) from documents — never lang/source
    "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).foreach { s =>
      assert(!s.contains("lang") && !s.contains("source"),
        s"containment scan reads columns the query never uses: $s")
    }
    // incremental dedup: no cartesian anywhere. BroadcastNestedLoopJoin
    // instances DO appear — each re-derivation of the old/new halves
    // replants the 1-row id-midpoint bounds broadcast (winsorize
    // pattern); they are all the identical canonical subtree, so
    // exchange reuse collapses them at runtime, and every one is a
    // 1-row broadcast, never a data-sized nested loop
    val inc = plan("q_dedup_incremental")
    assert(!inc.contains("CartesianProduct"),
      s"incremental dedup plans a cartesian product:\n$inc")
    // interval join in batch: equi join on the key + range residual
    val ij = plan("q_interval_join")
    assert(!ij.contains("CartesianProduct") && !ij.contains("BroadcastNestedLoopJoin"),
      s"interval join must plan as equi join + residual:\n$ij")
    val cs = plan("q_corpus_shuffle")
    assert(!cs.contains("CartesianProduct") && !cs.contains("BroadcastNestedLoopJoin"),
      s"corpus shuffle must be scan + window only:\n$cs")
    // the rank's exchange must hash-partition on the bucket — a
    // SinglePartition exchange feeding the Window means the rank
    // degenerated to the corpus-wide global sort the design forbids
    assert(cs.contains("hashpartitioning(bucket"),
      s"corpus shuffle rank must partition by bucket:\n$cs")
  }

  test("late round-8 additions plan clean: weighted sample, boilerplate, PQ") {
    // weighted sample: the rank<=k filter must reach the window as a
    // WindowGroupLimit (each partition keeps k rows BEFORE ranking
    // finalizes) — losing it means every group member is fully sorted
    // and carried, the difference between O(groups·k) and the corpus
    val ws = plan("q_weighted_sample")
    assert(ws.contains("WindowGroupLimit"),
      s"weighted sample must push the per-group top-k limit:\n$ws")
    assert(!ws.contains("CartesianProduct") && !ws.contains("BroadcastNestedLoopJoin"),
      s"weighted sample must stay scan + window:\n$ws")
    // boilerplate: detection/mark/reassembly are aggregates + equi
    // joins only, and the scan never reads lang/n_chars
    val bp = plan("q_boilerplate")
    assert(!bp.contains("CartesianProduct") && !bp.contains("BroadcastNestedLoopJoin"),
      s"boilerplate removal must stay equi-join/aggregate only:\n$bp")
    "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(bp).map(_.group(1)).foreach { s =>
      assert(!s.contains("lang") && !s.contains("n_chars"),
        s"boilerplate scan reads columns the query never uses: $s")
    }
    // PQ ANN: the one nested loop is the documented tiny-probe-side
    // broadcast (bruteForceTopK shape); a CartesianProduct would mean
    // the probe side lost its broadcast
    val pq = plan("q_ann_pq")
    assert(!pq.contains("CartesianProduct"),
      s"pq scan must broadcast the probe table, not cartesian:\n$pq")
  }

  test("IVFADC composition plans cell equi-join + ids-only shortlist (round 9)") {
    // q_ann_ivfpq was the heaviest bench query of r8: unlike q_ann_pq
    // (whose full-corpus ADC scan broadcasts the probe table), the
    // coarse cells make every join an EQUI join on the cell id — no
    // cartesian and no nested loop anywhere in the composition.
    for (name <- Seq("q_ann_ivfpq", "q_ann_ivfpq_indexed")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
      // the ONE nested loop is the recall harness's exact baseline
      // (bruteForceTopK's tiny-probe crossJoin(broadcast)); the IVFADC
      // composition itself must contribute zero
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      assert(bnlj <= 1,
        s"$name: $bnlj nested loops — the composition must join corpus " +
          s"to probes on the cell id only:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$name must broadcast the probe side of the cell join:\n$p")
    }
    // The indexed variant's ADC scan must read codes, never the raw
    // vector column — reading embeddings during the scan forfeits the
    // 32x byte cut that makes the compressed index worth serving. The
    // vector column may appear ONLY in the exact re-rank's scan.
    val idxPlan = plan("q_ann_ivfpq_indexed")
    val adcScans = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(idxPlan).map(_.group(1))
      .filter(_.contains("_graft_codes")).toSeq
    assert(adcScans.nonEmpty, s"indexed ADC scan not found:\n$idxPlan")
    adcScans.foreach { s =>
      assert(!s.contains("embedding"),
        s"ADC scan must not deserialize raw vectors: $s")
    }
  }

  test("bloom decontamination probes at the scan and confirms via shuffle join (round 9)") {
    val p = plan("q_decontaminate_bloom")
    assert(p.contains("might_contain"),
      s"corpus gram stream must be bloom-pruned at the scan:\n$p")
    // the exact confirm is the too-big-to-broadcast regime by
    // definition — the gram-hash semi join must shuffle, not broadcast
    assert(p.contains("ShuffledHashJoin"),
      s"confirm join must be a shuffle join (shuffle_hash hint lost?):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bloom decontamination must stay equi-join only:\n$p")
  }

  test("corpus pipeline composes cartesian-free and reuses stage subtrees at runtime (round 10)") {
    // assembleStaged materializes the input of the near and decon
    // stages, so one call runs several plans: the materializations
    // while the query is built, then the final plan. Audit all of them.
    val (_, ran) = RunProbe(spark) {
      SparkEntry.queries("q_corpus_pipeline")(spark, dir).collect()
    }
    assert(ran.plans.size >= 3, s"expected two boundaries + the final plan:\n${ran.plans}")
    ran.plans.foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"the composed pipeline must stay equi-join only:\n$p")
      // every stage scan is pruned to what the pipeline reads: doc_id +
      // text everywhere, lang/source only on the sample/pack path —
      // never n_chars, which no stage uses
      "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).foreach { s =>
        assert(!s.contains("n_chars"), s"pipeline scan reads columns no stage uses: $s")
      }
    }
    // The documents are scanned once per stage group, counted at
    // runtime over the whole call (final adaptive plans): once for the
    // prefix the near stage reads, once for the raw benchmark slice.
    // Composed lazily, column pruning gave every branch of the near
    // and decon stages its own plan, with no exchange for AQE to reuse.
    val scans = ran.plans.map("Scan parquet".r.findAllIn(_).size).sum
    assert(scans >= 1 && scans <= 2,
      s"documents must be scanned at most twice per call, got $scans:\n${ran.plans.mkString("\n")}")
  }

  test("scans are column-pruned to what the query projects") {
    val schemas = "ReadSchema: struct<([^>]*)>".r
    def readCols(p: String): Seq[String] =
      schemas.findAllMatchIn(p).map(_.group(1)).toSeq
    // flat denorm never touches lineitem's discount/tax/flags
    readCols(heavy("q_flat_denorm")).foreach { s =>
      assert(!s.contains("l_discount") && !s.contains("l_returnflag"),
        s"flat denorm scan reads columns the query never uses: $s")
    }
    // nested denorm reads only c_custkey/c_name from customer
    readCols(heavy("q_nested_denorm")).foreach { s =>
      assert(!s.contains("c_mktsegment") && !s.contains("c_acctbal"),
        s"nested denorm scan reads columns the query never uses: $s")
    }
    // sessions CC needs event_id/user_id/ts only — never the payload
    readCols(heavy("q_cc_sessions")).filter(_.contains("event_id")).foreach { s =>
      assert(!s.contains("value"),
        s"cc_sessions scan reads the event payload it never uses: $s")
    }
  }

  test("round-13 operators plan lean (band lookup join-free, profile key-only, sweep windowed)") {
    val schemas = "ReadSchema: struct<([^>]*)>".r
    // band lookup: the banding is a codegen'd expression, so the fact
    // path is scan → aggregate with NO join node of any kind — the
    // whole point vs a BETWEEN BroadcastNestedLoopJoin
    val bl = plan("q_band_lookup")
    assert(!bl.contains("Join"), s"band lookup must be join-free:\n$bl")
    schemas.findAllMatchIn(bl).map(_.group(1)).foreach { s =>
      assert(!s.contains("l_quantity") && !s.contains("l_discount"),
        s"band lookup scan reads columns it never uses: $s")
    }
    // join profile: both fact scans must be pruned to the key (plus
    // the one filter column) — the report never ships fact payloads
    schemas.findAllMatchIn(plan("q_join_profile")).map(_.group(1)).foreach { s =>
      assert(!s.contains("l_extendedprice") && !s.contains("l_orderkey"),
        s"join profile scan reads fact payload columns: $s")
    }
    // sweep: windows + aggregates only — no join enters the plan
    val pc = plan("q_peak_concurrency")
    assert(!pc.contains("Join"), s"peak concurrency must be join-free:\n$pc")
    // rolling distinct and weighted quantile: their only nested-loop
    // is the documented 1-row bound broadcast (tfidf precedent);
    // a cartesian product is always a regression
    Seq("q_rolling_distinct", "q_weighted_quantile", "q_islands", "q_rfm")
      .foreach { n =>
        val p = plan(n)
        assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      }
    // warehouse flagship: the dimension must broadcast and the
    // composed plan stay cartesian/BNLJ-free
    val wp = plan("q_warehouse_pipeline")
    assert(wp.contains("BroadcastHashJoin"),
      s"warehouse pipeline must broadcast the customer dimension:\n$wp")
    assert(!wp.contains("CartesianProduct") && !wp.contains("BroadcastNestedLoopJoin"),
      s"warehouse pipeline must stay equi-join only:\n$wp")
  }

  test("round-14 operators plan to their declared scale shapes") {
    // semantic decontamination: benchmark broadcasts through a
    // nested-loop (the documented exact-recall shape); the corpus side
    // must NOT shuffle — no data-sized Exchange above its scan
    val sd = plan("q_decontaminate_semantic")
    assert(sd.contains("BroadcastNestedLoopJoin"),
      s"semantic decon must broadcast the benchmark:\n$sd")
    assert(!sd.contains("CartesianProduct"),
      s"semantic decon must not plan a cartesian:\n$sd")
    // nearest as-of: two sort-merge as-of passes — window exchanges
    // only, never a range/nested-loop join
    val an = plan("q_asof_nearest")
    assert(!an.contains("BroadcastNestedLoopJoin") && !an.contains("CartesianProduct"),
      s"asofNearest must stay window-based:\n$an")
    // keep-best and leakage split ride the C14 CC machinery: no
    // cartesian anywhere in the composed plans
    Seq("q_dedup_keep_best", "q_leakage_split", "q_upsert_versioned").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
    }
  }

  test("round-14 session additions plan to their declared scale shapes") {
    // stats family: dims broadcast, facts touched once, no cartesian
    Seq("q_group_ols", "q_interpolate", "q_group_mode", "q_running_balance",
      "q_period_over_period", "q_dataset_card").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$n must broadcast its dims:\n$p")
    }
    // interpolate/balance: every window is a RUNNING frame — the
    // unbounded-following frame re-aggregates the tail per row
    // (O(span²) per key, the 12.8s→1.6s fix) and must never come back
    Seq("q_interpolate", "q_running_balance").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Following"), s"$n re-grew a following frame:\n$p")
    }
    // JL projection and weak labeling are single-pass projections:
    // no join, no shuffle except the final sort
    Seq("q_jl_project", "q_weak_label").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Join"), s"$n must stay join-free:\n$p")
    }
    // chi-square: only broadcast joins over the bounded cell/marginal
    // relations above the single pair-count shuffle
    val chi = plan("q_chi_square")
    assert(!chi.contains("CartesianProduct") && !chi.contains("SortMergeJoin"),
      s"chi-square must keep its marginal joins broadcast:\n$chi")
    // rag: BM25's only nested loop is the documented 1-row stats
    // broadcast; the vocabulary (df) side broadcasts
    val rag = plan("q_rag_topk")
    assert(!rag.contains("CartesianProduct"), s"rag cartesian:\n$rag")
    assert(rag.contains("BroadcastHashJoin"), s"rag must broadcast df:\n$rag")
    assert(rag.contains("TakeOrdered"), s"rag top-5 must be TakeOrdered:\n$rag")
  }

  test("second round-14 session wave plans to its declared scale shapes") {
    // topk+others: every dim broadcast, the only SMJ is lineitem⋈orders
    val tko = plan("q_topk_others")
    assert(!tko.contains("CartesianProduct"), s"topk_others cartesian:\n$tko")
    assert(tko.contains("BroadcastHashJoin"),
      s"topk_others must broadcast its dims:\n$tko")
    // oov: single corpus scan — the pair relation is aggregated with a
    // partial (map-side) combine before anything shuffles
    val oov = plan("q_oov_rate")
    assert(!oov.contains("CartesianProduct") && !oov.contains("NestedLoop"),
      s"oov joins wrong:\n$oov")
    assert("partial_count".r.findAllIn(oov).nonEmpty ||
      "HashAggregate".r.findAllIn(oov).size >= 4,
      s"oov pair relation must combine map-side:\n$oov")
    // interval coverage and gini: ONE exchange per operator core (the
    // windows and rollups reuse the keyed partitioning); no join at all
    // in coverage, only broadcasts in gini
    val cov = plan("q_interval_coverage")
    assert("SortMergeJoin".r.findAllIn(cov).isEmpty &&
      !cov.contains("CartesianProduct"), s"coverage must stay join-lean:\n$cov")
    val gini = plan("q_gini_nation")
    assert(!gini.contains("SortMergeJoin") && !gini.contains("CartesianProduct"),
      s"gini dims must broadcast:\n$gini")
    // fair allocation / mixture temperature: the sort window runs over
    // the per-source dim; the corpus rollup must partial-combine
    Seq("q_fair_allocation", "q_mixture_temperature").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n cartesian:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$n bounded relations must broadcast:\n$p")
    }
    // bitemporal: the fact-key equi-join must be a real hash/merge join
    // (never nested-loop containment), the resolve window keyed on fact id
    val bt = plan("q_bitemporal_join")
    assert(!bt.contains("CartesianProduct") && !bt.contains("NestedLoop"),
      s"bitemporal must equi-join on the key:\n$bt")
  }

  test("third round-14 session wave plans to its declared scale shapes") {
    // fifo + layers: the interval-intersection joins ride the banded
    // (key, bin) EQUI join — a nested-loop theta join must never come back
    Seq("q_fifo_cogs", "q_effective_config").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$n must keep its interval join banded-equi:\n$p")
    }
    // clamped balance: RUNNING frames only (an unbounded-following frame
    // re-aggregates the tail per row — the q_interpolate lesson)
    Seq("q_clamped_balance", "q_clamped_balance_stream").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Following"), s"$n re-grew a following frame:\n$p")
    }
    // baskets: marginals and the 1-row total broadcast; the only
    // data-sized joins are the per-basket equi self-join
    val bl = plan("q_basket_lift")
    assert(!bl.contains("CartesianProduct"), s"basket cartesian:\n$bl")
    assert(bl.contains("BroadcastHashJoin"),
      s"basket marginals must broadcast:\n$bl")
    // sequence pattern: one aggregation, no join, no window
    val sp = plan("q_sequence_pattern")
    assert(!sp.contains("Join") && !sp.contains("Window"),
      s"sequence pattern must stay a single aggregation:\n$sp")
  }

  test("fourth round-14 session wave plans to its declared scale shapes") {
    // business days: the whole point is NO calendar-dimension join —
    // closed-form integer expressions riding the scan
    val bd = plan("q_business_days")
    assert(!bd.contains("Join") && !bd.contains("Window"),
      s"business days must stay a join-free closed form:\n$bd")
    // masking: a release projection is a scan, nothing else
    val mp = plan("q_mask_policy")
    assert(!mp.contains("Join") && !mp.contains("Window") &&
      !mp.contains("Expand"),
      s"mask policy must stay a pure projection:\n$mp")
    // PVM bridge: the part dimension broadcasts; facts shuffle once
    // into the item rollup — never a cartesian
    val pvm = plan("q_pvm_bridge")
    assert(pvm.contains("BroadcastHashJoin"),
      s"pvm bridge must broadcast the part dim:\n$pvm")
    assert(!pvm.contains("CartesianProduct") && !pvm.contains("NestedLoop"),
      s"pvm bridge must stay equi-join only:\n$pvm")
    // CUSUM: running frames only (the B94 closed form), and the only
    // non-equi joins are the bounded month-spine/total broadcasts
    val cu = plan("q_cusum_drift")
    assert(!cu.contains("Following"), s"cusum re-grew a following frame:\n$cu")
    assert(!cu.contains("CartesianProduct"), s"cusum cartesian:\n$cu")
    // chunk dedup: chunk-hash count joins back as a plain equi join
    val cd = plan("q_chunk_dedup")
    assert(!cd.contains("CartesianProduct") && !cd.contains("NestedLoop"),
      s"chunk dedup must stay equi-join only:\n$cd")
    // blocklist: the term dimension must broadcast (the map-side
    // discard-before-shuffle is the operator's scale claim)
    val bl2 = plan("q_blocklist")
    assert(bl2.contains("BroadcastHashJoin"),
      s"blocklist terms must broadcast:\n$bl2")
    assert(!bl2.contains("CartesianProduct"), s"blocklist cartesian:\n$bl2")
    // rate cap: one keyed group operator (the batch rendering of
    // flatMapGroupsWithState), one exchange, no joins
    val rc = plan("q_rate_cap")
    assert(rc.contains("MapGroups"),
      s"rate cap must plan the keyed state operator:\n$rc")
    assert(!rc.contains("Join"), s"rate cap must stay join-free:\n$rc")
  }

  test("fifth round-14 session wave plans to its declared scale shapes") {
    // duplicate payments: ONE equi-join on (custkey, cents) with the
    // date band as a residual filter — never a band or cross join
    val dp = plan("q_duplicate_payments")
    assert(!dp.contains("CartesianProduct") && !dp.contains("NestedLoop"),
      s"duplicate payments must stay an equi join:\n$dp")
    // hard negatives: the bounded probe set broadcasts against the
    // exploded corpus — a shuffle of the corpus side is the 100 TB bill
    val hn = plan("q_hard_negatives")
    assert(hn.contains("BroadcastHashJoin"),
      s"hard negatives must broadcast the probes:\n$hn")
    assert(!hn.contains("CartesianProduct"), s"hard negatives cartesian:\n$hn")
    // Theil-Sen: the pair join is equi on the segment (month band is a
    // residual), windows partition by segment — no global sort
    val ts2 = plan("q_theil_sen")
    assert(!ts2.contains("CartesianProduct") && !ts2.contains("NestedLoop"),
      s"theil-sen must pair via the segment equi join:\n$ts2")
    // concurrency gauge: one keyed state operator over the decomposed
    // pieces, no joins anywhere
    val cl = plan("q_concurrency_live")
    assert(cl.contains("MapGroups"),
      s"concurrency gauge must plan the keyed state operator:\n$cl")
    assert(!cl.contains("Join"), s"concurrency gauge must stay join-free:\n$cl")
    // streaming reconciliation batch twin: union → one keyed state op
    val rl = plan("q_reconcile_live")
    assert(rl.contains("MapGroups"),
      s"reconciliation must plan the keyed state operator:\n$rl")
    assert(!rl.contains("CartesianProduct"), s"reconciliation cartesian:\n$rl")
    // shard assignment: the global rank must be the range-partitioned
    // two-level form — a single-partition corpus window is the exact
    // operator this exists to avoid
    val sa = plan("q_shard_assign")
    assert(sa.contains("hashpartitioning(pid"),
      s"shard assign must range-bucket then rank per pid bucket:\n$sa")
    assert(sa.contains("BroadcastHashJoin"),
      s"shard assign must broadcast the prefix offsets:\n$sa")
    // sequential affinity: the pair join is customer-keyed equi;
    // brand supports broadcast; the only nested loop is the 1-row
    // customer-total broadcast
    val np = plan("q_next_purchase")
    assert(!np.contains("CartesianProduct"),
      s"next purchase must pair via the customer equi join:\n$np")
    assert(np.contains("BroadcastHashJoin"),
      s"next purchase supports must broadcast:\n$np")
    // pro-rata: the top-remainder pick rides the pid-bucketed rank
    // with broadcast prefix offsets — no single-partition sort
    val pr = plan("q_pro_rata")
    assert(pr.contains("hashpartitioning(pid"),
      s"pro rata must rank remainders per pid bucket:\n$pr")
    // duplicate-payment alarm: one keyed state operator, no joins
    val da = plan("q_dup_alarm")
    assert(da.contains("MapGroups"),
      s"dup alarm must plan the keyed state operator:\n$da")
    assert(!da.contains("Join"), s"dup alarm must stay join-free:\n$da")
  }

  test("round-15 wave plans to its declared scale shapes") {
    // PCA moment pass: the q_pca_gram RESULT is a local relation (the
    // bounded stats collect), so audit the aggregate QUERY itself —
    // ONE imperative-aggregate chain over the scan: no Expand (the
    // count-distinct trap), no join, no window, partial+final only
    import org.apache.spark.sql.functions.col
    val pg = TestSpark.spark.read.parquet(s"$dir/embeddings.parquet")
      .agg(graft.functions.expressions.gramAggregate(col("embedding"), 64, 1000000L))
      .queryExecution.executedPlan.toString
    assert(pg.contains("gram_aggregate"),
      s"pca gram must plan the imperative aggregate:\n$pg")
    assert(!pg.contains("Expand") && !pg.contains("Join") && !pg.contains("Generate"),
      s"pca gram must be one aggregate pass over the raw scan:\n$pg")
    // projection pass: no join/shuffle before the per-component agg
    val pp = plan("q_pca_project")
    assert(pp.contains("affine_project") || pp.contains("AffineProject") ||
      pp.contains("Generate"), s"pca project must plan the kernel + explode:\n$pp")
    // int8 calibration joins back as a BROADCAST (dim-bounded)
    val qi = plan("q_quantize_int8")
    assert(qi.contains("BroadcastHashJoin"),
      s"quantize calibration must broadcast back:\n$qi")
    // join-explosion top-k is TakeOrdered, never a global sort
    val je = plan("q_join_explosion")
    assert(je.contains("TakeOrdered"),
      s"join explosion top-10 must be TakeOrdered:\n$je")
    // PCA-reduced ANN: the shortlist carries ids only — the full
    // vectors join back per candidate via BROADCAST probes (lshTopK
    // discipline), and the reduced scan must not be a nested loop
    // beyond the documented 3-probe broadcast cross
    val ap = plan("q_ann_pca")
    assert(ap.contains("BroadcastHashJoin") || ap.contains("BroadcastNestedLoop"),
      s"ann pca must broadcast the probe side:\n$ap")
    assert(ap.toLowerCase.contains("affineproject") ||
      ap.toLowerCase.contains("affine_project"),
      s"ann pca must plan the codegen'd projection kernel:\n$ap")
  }

  test("governance surfaces are metadata-only: no parquet data pages (round 15)") {
    // The r14 snapshot wave's scaladocs claim vacuum/catalog/fsck/
    // storage are "listings + footer counts, no data pages". The
    // oracles pin the VALUES; this pins the claim by plan shape: every
    // Spark job these surfaces trigger must either read no files at
    // all or scan parquet with an EMPTY ReadSchema (struct<> = row
    // counts from row-group metadata, zero column chunks decoded).
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val root = s"${Scratch.root(spark)}/gov_audit_${System.nanoTime()}"
    graft.sinks.Snapshot.publish(spark, root,
      Map("a" -> Seq((1L, "x"), (2L, "y")).toDF("k", "v")))
    graft.sinks.Snapshot.publishLinked(spark, root,
      Map("b" -> Seq(9L).toDF("z")))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        captured.add(qe.executedPlan.toString): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (catPlan, repPlan, fsckPlan) =
      try {
        val cat = graft.sinks.Snapshot.catalog(spark, root)
        val rep = graft.sinks.Snapshot.storageReport(spark, root)
        val fck = graft.sinks.Snapshot.fsck(spark, root)
        assert(graft.sinks.Snapshot.vacuum(spark, root, 2) == Nil)
        // the listener bus is async: poll until the internal count
        // jobs (2 tables in v1 + 2 served in v2, twice) have reported
        val deadline = System.nanoTime() + 10e9.toLong
        while (captured.size < 4 && System.nanoTime() < deadline)
          Thread.sleep(50)
        (cat.queryExecution.executedPlan.toString,
          rep.queryExecution.executedPlan.toString,
          fck.queryExecution.executedPlan.toString)
      } finally spark.listenerManager.unregister(listener)
    // the returned relations are driver-built rows — no lazy scans
    for ((n, p) <- Seq("catalog" -> catPlan, "storageReport" -> repPlan,
        "fsck" -> fsckPlan)) {
      assert(!p.contains("FileScan"),
        s"$n result must be a local relation, not a deferred scan:\n$p")
    }
    // every job they ran against parquet decoded ZERO columns
    val scans = captured.toArray(Array.empty[String])
      .filter(_.contains("FileScan parquet"))
    assert(scans.nonEmpty, "expected the footer-count jobs to be captured")
    scans.foreach { p =>
      assert(p.contains("ReadSchema: struct<>"),
        s"governance scan decodes column data (non-empty ReadSchema):\n$p")
    }
  }

  test("unpartitioned windows only ever ride bounded inputs (VERDICT r15 #8)") {
    // An empty PARTITION BY funnels the window's whole input through
    // ONE reducer — correct on a k-bounded shortlist or a bucket
    // ladder, a straggler on a corpus. The r15 board carries ~871
    // benign 'No Partition Defined' warnings, all over bounded
    // frames; this makes that discipline a checked invariant instead
    // of a convention. Bounded below means: a limit, a literal
    // relation, a small range, a global (ungrouped) aggregate, or an
    // aggregate whose ENTIRE grouping set appears in the window's
    // order columns (the bucket-ladder shape: cardinality = the
    // ladder, not the corpus). Joins need one bounded side
    // (shortlist-enrichment), unions need all.
    import org.apache.spark.sql.catalyst.plans.logical._
    def orderRefs(w: Window): Set[String] =
      w.orderSpec.flatMap(_.child.references.map(_.name)).toSet
    def bounded(p: LogicalPlan, names: Set[String]): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit | _: LocalRelation => true
      case r: Range => r.numElements <= BigInt(100000)
      case a: Aggregate =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(
            _.references.forall(ref => names.contains(ref.name)))
      case j: Join => bounded(j.left, names) || bounded(j.right, names)
      case u: Union => u.children.forall(bounded(_, names))
      case other if other.children.size == 1 =>
        bounded(other.children.head, names)
      case _ => false
    }
    // the queries whose plans carry unpartitioned windows: the
    // retrieval shortlist family + every bucket-ladder operator
    val audited = Seq("q_hybrid_retrieval", "q_rrf_fusion",
      "q_peak_concurrency", "q_weighted_quantile",
      "q_mixture_temperature", "q_pro_rata", "q_shard_assign")
    var seen = 0
    audited.foreach { name =>
      val lp = SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
      lp.collect { case w: Window if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          seen += 1
          assert(bounded(w.child, orderRefs(w)),
            s"$name: unpartitioned window over an UNBOUNDED input:\n$w")
        }
    }
    // the audit must actually be exercising windows, not vacuously green
    assert(seen >= 4, s"expected >=4 unpartitioned windows across the audited set, saw $seen")
  }

  test("round-16 wave plans to its declared scale shapes") {
    // Gopher filter: the per-doc mode rides the scan as ONE codegen'd
    // kernel — no Generate (n-gram explode), no Join, no Window; the
    // only exchange is the output sort
    val gf = plan("q_gopher_filter")
    assert(gf.contains("gopher_top_ppm") || gf.toLowerCase.contains("gophertopppm"),
      s"gopher filter must plan the kernel:\n$gf")
    assert(!gf.contains("Generate") && !gf.contains("Join"),
      s"gopher filter must never explode n-grams into the plan:\n$gf")
    // classifier inference: one kernel pass, shuffle only at the
    // per-source rollup (partial+final agg) — no Generate, no Join
    val qc = plan("q_quality_classifier")
    assert(qc.contains("hashed_linear_score") ||
      qc.toLowerCase.contains("hashedlinearscore"),
      s"classifier must plan the kernel:\n$qc")
    assert(!qc.contains("Generate") && !qc.contains("Join"),
      s"classifier inference must not explode or join:\n$qc")
    assert(qc.contains("partial"),
      s"classifier rollup must map-side combine:\n$qc")
    // AQP sample: the md5-bucket filter must ride the lineitem scans
    // as a plain Filter (no join against a sample relation), and the
    // estimate/exact join is tiny-key (flag)
    val se = plan("q_sample_estimate")
    assert(se.contains("Filter"), s"sample must filter inline:\n$se")
    // PII Luhn audit: pure per-row expressions — no Join, no Window,
    // no Generate reaching the plan
    val pl = plan("q_pii_luhn")
    assert(!pl.contains("Join") && !pl.contains("Window"),
      s"pii luhn must be narrow per-row work:\n$pl")
  }

  test("r19 linkage paths plan clean: sort-merge key joins, no cartesian") {
    // dist<=2 enumeration: the deletion-key self-join must stay
    // sort-merge (the §4 broadcast-after-explode rule — Catalyst's
    // size stats don't model the ~len²/2-key explosion), and nothing
    // may go cartesian
    val d2 = plan("q_record_linkage_del2")
    assert(!d2.contains("CartesianProduct") &&
      !d2.contains("BroadcastNestedLoopJoin"),
      s"del2 linkage must stay equi-join only:\n$d2")
    assert(d2.contains("SortMergeJoin"),
      s"del2 deletion-key self-join must be sort-merge pinned:\n$d2")
    assert(d2.contains("deletion_neighborhood") ||
      d2.toLowerCase.contains("deletionneighborhood"),
      s"del2 must plan the codegen'd key kernel:\n$d2")
    // cluster composition: the iterative CC core checkpoints eagerly,
    // so the FINAL plan is just the label join-back — it must stay a
    // broadcast/equi join with no cartesian. The key self-join's
    // sort-merge pin is shared with del2 (same linkByDeletionK path,
    // asserted above); the EDGE relation is audited directly: the
    // star construction must map-side combine the group rep and the
    // whole edge plan must be cartesian-free with the pinned
    // sort-merge key join
    val lc = plan("q_linkage_clusters")
    assert(!lc.contains("CartesianProduct") &&
      !lc.contains("BroadcastNestedLoopJoin"),
      s"linkage clusters final join must stay equi-join only:\n$lc")
    import org.apache.spark.sql.functions.{col, concat, lit}
    val recs = Tables.table(spark, dir, "customer").withColumn("ident",
      concat(col("c_name"), lit("|"), col("c_mktsegment"),
        col("c_nationkey").cast("string")))
    val base = recs.select(col("c_custkey").cast("long").as("id"),
      col("ident").as("s"))
    val reps = base.groupBy("s")
      .agg(org.apache.spark.sql.functions.min("id").as("rep"))
    val star = base.join(reps, "s").filter(col("id") =!= col("rep"))
      .select(col("id").as("id_a"), col("rep").as("id_b"))
    val keys = reps.select(col("s"),
      org.apache.spark.sql.functions.explode(graft.functions.expressions
        .deletionNeighborhood(col("s"))).as("k")).hint("shuffle_merge")
    val edges = star.unionByName(keys.as("a").join(keys.as("b"),
        col("a.k") === col("b.k") && col("a.s") < col("b.s"))
      .select(col("a.s").as("id_a"), col("b.s").as("id_b"))
      .select(col("id_a").cast("long"), col("id_b").cast("long")))
    val ep = edges.queryExecution.executedPlan.toString
    assert(!ep.contains("CartesianProduct") &&
      !ep.contains("BroadcastNestedLoopJoin"),
      s"cluster edge relation must stay equi-join only:\n$ep")
    assert(ep.contains("SortMergeJoin"),
      s"cluster deletion-key self-join must be sort-merge pinned:\n$ep")
    assert(ep.contains("partial_min") || ep.contains("min("),
      s"star construction must map-side combine the group rep:\n$ep")
  }
}
