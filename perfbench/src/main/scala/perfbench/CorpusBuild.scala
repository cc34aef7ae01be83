package perfbench

import graft.dedup.Dedup
import graft.functions.expressions.wordShingleHashes
import graft.pipelines.CorpusAssembly
import graft.pipelines.CorpusAssembly.Config
import graft.sinks.TableSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LLM corpus assembly: every stage of `CorpusAssembly.assembleStaged`
  * with MinHash near-dedup, then truncate-and-load, over a seeded
  * corpus with planted exact and near duplicates. */
final class CorpusBuild extends Workload {
  val name = "corpus_build"
  val cycle: Seq[String] = Seq("assemble")
  private val cfg = Config()
  private var corpus: Gen.Corpus = _
  /** The first op's output fingerprint; every later op must match it. */
  private var reference: Option[(Long, BigDecimal)] = None
  /** Stage outputs of the last traced op, counted after it. */
  private var stageFrames = Seq.empty[(String, DataFrame)]
  private var keepFrac = Map.empty[String, Seq[Double]]

  private def docsPath(c: Ctx) = c.path("corpus")
  private def outPath(c: Ctx) = c.path("out/corpus")

  def inputs: Map[String, Any] = Map("docs" -> corpus.docs.length,
    "exact_dup_share" -> corpus.exactShare, "near_dup_share" -> corpus.nearShare,
    "low_quality_share" -> corpus.lowQualityShare, "min_near_jaccard" -> corpus.minNearJaccard)

  def prepare(c: Ctx): Unit = {
    corpus = Gen.corpus(c.seed, CorpusBuild.Docs)
    import c.spark.implicits._
    c.spark.createDataset(corpus.docs.toSeq).repartition(c.cpus)
      .write.mode("overwrite").parquet(docsPath(c))
    reference = None
  }

  /** The checks the generator can make by construction, on the corpus
    * the pipeline keeps before packing: no planted exact-duplicate
    * group and no planted near-duplicate pair survives twice, and the
    * packed output holds exactly the kept documents. The stages run
    * once more here, split before packing, and their packed output must
    * equal what every op wrote. */
  override def verify(c: Ctx): Option[String] = {
    val docs = c.spark.read.parquet(docsPath(c))
    val kept = CorpusAssembly.assembleStaged(docs, cfg,
        stages = CorpusAssembly.StageNames.filterNot(_ == "pack")).cache()
    val keptIds = kept.select(col(cfg.idCol)).collect().map(_.getLong(0)).toSet
    val replayPath = c.path("out/corpus_replay")
    TableSink.writeTruncate(CorpusAssembly.pack(kept, cfg), replayPath)
    kept.unpersist(blocking = true)
    val out = c.spark.read.parquet(replayPath)
    val fp = c.fingerprint(out)
    val packedDocs = out.agg(sum(col("n_docs"))).head().getLong(0)
    val exactGroups = corpus.exactOf.toSeq.groupBy(_._2).map { case (root, m) => m.map(_._1) :+ root }
    val badExact = exactGroups.count(g => g.count(keptIds.contains) > 1)
    val badNear = corpus.nearOf.count { case (copy, src) => keptIds.contains(copy) && keptIds.contains(src) }
    val errs = Seq(
      if (!reference.contains(fp)) Some(s"ops wrote (rows, hash) $reference, the split replay $fp") else None,
      if (badExact > 0) Some(s"$badExact planted exact-duplicate groups survive more than once") else None,
      if (badNear > 0) Some(s"$badNear planted near-duplicate pairs survive twice") else None,
      if (packedDocs != keptIds.size) Some(s"packed $packedDocs docs but ${keptIds.size} were kept") else None,
      if (keptIds.isEmpty) Some("pipeline kept no documents") else None).flatten
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  def op(c: Ctx, kind: String): OpOut = {
    val docs = c.layer("input.scan")(c.spark.read.parquet(docsPath(c)))
    val out =
      if (!c.tracer.on) CorpusAssembly.assembleStaged(docs, cfg)
      else {
        // the same stages assembleStaged composes, called one by one so
        // each span covers one stage; the output hash check proves the
        // split pipeline equals the composed one. Like assembleStaged,
        // decontamination takes its benchmark slice from the raw input.
        val bench = docs.filter(pmod(col(cfg.idCol), lit(cfg.benchMod)) === 0L)
        val q = c.layer("corpus.quality")(CorpusAssembly.qualityFilter(docs, cfg))
        val ex = c.layer("corpus.exact")(CorpusAssembly.exactDedup(q, cfg))
        val near = c.layer("corpus.near")(CorpusAssembly.nearDedupMinhash(ex, cfg))
        val dc = c.layer("corpus.decon")(CorpusAssembly.decontaminate(near, bench, cfg))
        val sm = c.layer("corpus.sample")(CorpusAssembly.sample(dc, cfg))
        val pk = c.layer("corpus.pack")(CorpusAssembly.pack(sm, cfg))
        stageFrames = Seq("input" -> docs, "quality" -> q, "exact" -> ex, "near" -> near,
          "decon" -> dc, "sample" -> sm, "pack" -> pk)
        pk
      }
    c.call("sinks.write_truncate")(TableSink.writeTruncate(out, outPath(c)))
    OpOut(corpus.docs.length.toLong, Seq(outPath(c)))
  }

  def check(c: Ctx, kind: String): Option[String] = {
    if (stageFrames.nonEmpty) {
      // documents per stage; the packed chunks count the documents they hold
      val n = stageFrames.map {
        case ("pack", df) => "pack" -> df.agg(sum(col("n_docs"))).head().getLong(0).toDouble
        case (s, df) => s -> df.count().toDouble
      }
      n.sliding(2).foreach { case Seq((_, a), (s, b)) =>
        keepFrac = keepFrac.updated(s, keepFrac.getOrElse(s, Nil) :+ (if (a == 0) 0.0 else b / a))
      }
      stageFrames = Nil
    }
    val got = c.fingerprint(c.spark.read.parquet(outPath(c)))
    if (reference.isEmpty) reference = Some(got)
    if (reference.contains(got)) None else Some(s"output (rows, hash) $got != first op's ${reference.get}")
  }

  /** Per-stage keep fractions, the near-dedup candidate work, and two
    * kernels alone: `Dedup.minhashKeep` over the exact-deduplicated
    * corpus (what the near stage runs) and the shingle hash over the
    * whole corpus; each time is the median of three. */
  override def traceExtras(c: Ctx): Map[String, Double] = {
    val docs = c.spark.read.parquet(docsPath(c)).cache()
    docs.write.format("noop").mode("overwrite").save()
    val reps = CorpusAssembly.exactDedup(CorpusAssembly.qualityFilter(docs, cfg), cfg).cache()
    reps.write.format("noop").mode("overwrite").save()
    val pairs = c.call("dedup.minhash_candidates")(
      Dedup.minhashCandidates(reps, cfg.idCol, cfg.textCol, cfg.shingleWords)
        .agg(count(lit(1)), sum(when(col("jaccard") >= cfg.jaccardThreshold, 1L).otherwise(0L)))
        .head())
    val (cand, verified) = (pairs.getLong(0), Option(pairs.get(1)).map(_ => pairs.getLong(1)).getOrElse(0L))
    def medianOf3Ms(name: String)(df: => DataFrame): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      c.call(name)(df.write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e6
    }.sorted.apply(1)
    val keepMs = medianOf3Ms("dedup.minhash_keep")(
      Dedup.minhashKeep(reps, cfg.idCol, cfg.textCol, cfg.jaccardThreshold, cfg.shingleWords))
    val hashMs = medianOf3Ms("functions.shingle_hash")(
      docs.select(size(wordShingleHashes(coalesce(col(cfg.textCol), lit("")), cfg.shingleWords))))
    reps.unpersist(blocking = true)
    docs.unpersist(blocking = true)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    CorpusAssembly.StageNames.filterNot(_ == "canon")
      .map(s => s"corpus.${s}_keep_frac" -> med(keepFrac.getOrElse(s, Nil))).toMap ++ Map(
      "dedup.candidate_pairs" -> cand.toDouble,
      "dedup.verified_frac" -> (if (cand == 0) 0.0 else verified.toDouble / cand),
      "dedup.minhash_keep_kernel_ms" -> keepMs,
      "functions.shingle_hash_kernel_ms" -> hashMs)
  }
}

object CorpusBuild {

  /** Documents generated per run. The corpus op is mostly fixed per-job
    * cost (24 jobs): 30,000 documents take ~11.5 s an op on a 4-core VM,
    * more than the whole window, while 4,000 keep it at 4-6 s with every
    * planted duplicate kind present in the hundreds. */
  val Docs = 4000
}
