package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Connected components over an undirected edge list — the transitive-
 * closure complement to the dedup stack's one-hop "keep first" rule:
 * near-dup candidate pairs (A~B, B~C) form duplicate CLUSTERS {A,B,C}
 * even when A and C never matched directly.
 *
 * Algorithm: alternating large-star / small-star (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14) — each
 * round is two shuffles (a groupBy-min and a join back), state is the
 * edge list only (never adjacency lists, so a hot node costs one
 * aggregation row, not a materialized neighborhood), and convergence
 * is O(log²) rounds in the worst case, 2–4 rounds on the short chains
 * real dedup graphs produce. No vertex-indexed driver state: the
 * driver loop only compares per-round checksums, so the operator runs
 * unchanged on a 10¹⁰-edge graph.
 *
 * Result orientation: every node points to the minimum node id of its
 * component (min-id labeling, the standard canonical representative).
 */
object Components {

  /** Integral (or scale-0 decimal) node ids only: a blind
   * cast("long") of e.g. a string UUID column would turn every id
   * into null and silently label nothing — reject at call time. */
  private def requireIntegralId(df: DataFrame, c: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case d: DecimalType if d.scale == 0 && d.precision <= 19 => ()
      case other => throw new IllegalArgumentException(
        s"$op requires integral node ids, got $c: ${other.sql}")
    }
  }

  /**
   * Label every node of the (undirected) edge list with its
   * component's minimum node id. Output: (node, component) for every
   * distinct node appearing in either edge column. Self-loops are
   * ignored; edges may appear in any orientation and multiplicity.
   *
   * `maxIter` is a safety bound — the alternating algorithm provably
   * converges in O(log² n) rounds, so hitting the bound indicates a
   * bug, and the operator throws rather than return a partial
   * (incorrectly labeled) result.
   */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    Seq(srcCol, dstCol).foreach(c => requireIntegralId(edges, c, "connectedComponents"))

    // Lineage MUST be truncated every round: each round's plan embeds
    // the previous round's twice (union of both orientations) plus a
    // join back, so without truncation the logical tree grows
    // exponentially and analysis itself OOMs after a handful of
    // rounds. Eager checkpoint both materializes the round (the
    // iteration's action) and resets the plan to a leaf scan, under
    // the shared materialize-once rule (graft.Scratch.materialize:
    // reliable when a checkpoint dir or `spark.graft.scratchDir` is
    // configured, local otherwise).
    //
    // Materialize the incoming edges ONCE before anything derives from
    // them: the node universe and the initial orientation both read
    // this DataFrame, and the upstream edge generator is typically the
    // pipeline's most expensive stage (a banded/LSH candidate join) —
    // without this it executes twice.
    val raw = graft.Scratch.materialize(
      edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d")))
    // node universe BEFORE dropping null-partner rows: an edge (5,
    // null) still names node 5, which must appear (as a singleton)
    val nodes = raw.select(col("s").as("node"))
      .union(raw.select(col("d").as("node")))
      .filter(col("node").isNotNull).distinct()

    // Convergence checksum: (edge count, sum of per-edge hashes). The
    // sum is order-independent and a collision across rounds needs a
    // 2^-64-scale accident on top of an equal count — acceptable for a
    // fixpoint test (and a false "converged" is caught by the star
    // check below, which is exact). r19 (guide §1.2): the checksum
    // rides the round's OWN checkpoint materialization as an
    // Observation, so each round is one job where it was two (the
    // checkpoint pass plus a separate aggregate pass).
    def truncatedChecksummed(df: DataFrame): (DataFrame, (Long, java.math.BigDecimal)) = {
      if (graft.Scratch.materializesReliably(df.sparkSession)) {
        // r20 (ADVICE r19): an EAGER RELIABLE checkpoint materializes
        // its plan twice (internal count + checkpoint write), so a
        // ride-along Observation would report doubled (n, h) — and
        // task retries could perturb the fixpoint compare. Checkpoint
        // first, then take the exact aggregate over the checkpointed
        // LEAF (cheap: a scan of what was just written), keeping the
        // Observation fusion only for the localCheckpoint path where
        // metrics fire exactly once.
        val ck = graft.Scratch.materialize(df)
        val r = ck.agg(count(lit(1)).as("n"),
          coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("h")).head()
        (ck, (r.getLong(0), r.getDecimal(1)))
      } else {
        val obs = org.apache.spark.sql.Observation()
        val ck = graft.Scratch.materialize(df.observe(obs,
          count(lit(1)).as("n"),
          coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("h")))
        (ck, (obs.get("n").asInstanceOf[Long],
          obs.get("h").asInstanceOf[java.math.BigDecimal]))
      }
    }

    // orient every edge (big → small); drop self loops, null-partner
    // rows, and duplicates
    var (cur, prev) = truncatedChecksummed(raw
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(greatest(col("s"), col("d")).as("u"), least(col("s"), col("d")).as("v"))
      .distinct())

    // Round telemetry (off by default): convergence behavior is THE
    // cost driver of this operator — a pair-set change that grows the
    // round count multiplies every downstream query's time, and
    // distinguishing "rounds grew" from "host was slow" needs the
    // counts on record. Enabled with spark.graft.cc.logRounds=true.
    val logRounds = edges.sparkSession.conf
      .getOption("spark.graft.cc.logRounds").contains("true")
    if (logRounds)
      System.err.println(s"[graft.cc] round 0: ${prev._1} oriented edges")
    var converged = prev._1 == 0L
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: hang every neighbor bigger than u off u's minimum
      // (edges arrive (u → v), v < u, so Γ(u) needs both directions)
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      // no distinct here: duplicate (v, m) pairs don't affect the
      // small-star min and the round's closing distinct dedups before
      // anything accumulates — saves one full shuffle per round
      val ls = sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: all of u's (strictly smaller) neighbors plus u
      // itself re-point to u's minimum neighbor
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val (ss, next) = truncatedChecksummed(ls.join(ssMin, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(ssMin.select(col("u"), col("m").as("v")))
        .distinct())
      cur = ss
      converged = next == prev
      prev = next
      it += 1
      if (logRounds)
        System.err.println(s"[graft.cc] round $it: ${next._1} edges" +
          (if (converged) " (fixpoint)" else ""))
    }
    // exact star check, run UNCONDITIONALLY: a fixpoint edge set is
    // (leaf → root) with (1) no root appearing as a leaf (no chains)
    // and (2) every leaf appearing exactly once (no multi-root leaf —
    // mid-run states like {(5,1),(5,2)} satisfy (1) alone). One cheap
    // semi join + one aggregate at fixpoint size; together they make
    // the checksum test's ~2^-64 collision risk irrelevant — a false
    // "converged" throws here instead of returning mislabeled
    // components.
    if (prev._1 > 0L) {
      val nonStar = cur.as("a").join(cur.as("b"), col("a.v") === col("b.u"), "left_semi").count()
      val leafRow = cur.agg(count(lit(1)).as("n"), count_distinct(col("u")).as("nu")).head()
      val multiRoot = leafRow.getLong(0) - leafRow.getLong(1)
      require(nonStar == 0L && multiRoot == 0L,
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($nonStar chained edges, $multiRoot multi-root leaves remain)")
    }
    val mapping = cur.groupBy(col("u").as("node")).agg(min(col("v")).as("__comp"))
    nodes.join(mapping, Seq("node"), "left")
      .select(col("node"), coalesce(col("__comp"), col("node")).as("component"))
  }

  /**
   * Duplicate clusters from verified near-dup pairs: every document
   * labeled with its cluster's minimum doc id; `keep` marks the one
   * survivor per cluster (transitive-closure dedup, vs the one-hop
   * keep-first rule in [[graft.dedup.Dedup]]). `docs` supplies the full
   * id universe so unpaired documents form singleton clusters.
   */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    requireIntegralId(docs, idCol, "dedupClusters")
    val labeled = connectedComponents(pairs, aCol, bCol)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(labeled, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /**
   * Quality-aware cluster survivor selection: like [[dedupClusters]],
   * but the survivor of each transitive near-dup cluster is the doc
   * with the HIGHEST `scoreCol` (ties → smallest id) instead of the
   * smallest id — the rule production corpus dedup actually wants
   * (keep the longest / highest-quality version of a mirrored page,
   * not whichever crawled first).
   *
   * The argmax is ONE map-side-combined aggregate: `max` over a
   * (score, −id) struct compares lexicographically, so no per-cluster
   * sort, no window, no second shuffle beyond the cluster key. Scores
   * must be non-negative-id-safe longs (id is negated for the
   * tie-break). Output: (doc_id, cluster_id, rep_id, keep).
   */
  def keepBest(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    requireIntegralId(docs, idCol, "keepBest")
    val labeled = connectedComponents(pairs, aCol, bCol)
    val clustered = docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(scoreCol).cast("long").as("__score"))
      .join(labeled, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), col("__score"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    val best = clustered.groupBy("cluster_id")
      .agg(max(struct(col("__score").as("s"), (-col("doc_id")).as("nid")))
        .as("__best"))
      .select(col("cluster_id"), (-col("__best.nid")).as("rep_id"))
    clustered.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("keep"))
  }
}
