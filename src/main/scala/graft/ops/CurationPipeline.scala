package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The standard raw-crawl → training-corpus funnel, composed from the
  * library's operators — what a user of the engine actually runs
  * end-to-end:
  *
  *   1. exact dedup (verbatim copies; keep the smallest id),
  *   2. near-dup dedup (MinHash LSH → connected components → keep each
  *      cluster's canonical member),
  *   3. decontamination against a held-out eval set (≥ minShared shared
  *      shingles ⇒ drop the training doc),
  *   4. heuristic quality filter (TextOps.qualityScore ≥ minQuality),
  *   5. leakage-safe train/val/test split keyed on the near-dup cluster
  *      (a test doc can never have a near-copy in train),
  *   6. concat-and-chunk sequence packing of the train split.
  *
  * Every stage is one of the individually-oracled operators; the
  * composition itself is pinned end-to-end by CurationPipelineSpec
  * (stage invariants: no surviving near-dup pairs, no contaminated
  * survivors, no cluster straddling a split, packing totality). All
  * stages are linear-in-corpus shapes — keyed joins, aggregates,
  * bucketed windows; never doc×doc.
  *
  * Output: every surviving row of the input corpus (all input columns)
  * plus quality, split, and the packing columns (n_tokens,
  * start_offset, first_seq, last_seq — non-null for the train split
  * only).
  */
object CurationPipeline {

  final case class Config(
      shingleN: Int = 3,
      numHashes: Int = 8,
      bandSize: Int = 2,
      maxBucketSize: Int = 64,
      contaminationN: Int = 7,
      contaminationMinShared: Int = 3,
      contaminationMaxDf: Int = 100,
      minQuality: Double = 0.3,
      trainPct: Int = 80,
      valPct: Int = 10,
      seqLen: Int = 2048)

  def curate(
      df: DataFrame, idCol: String, textCol: String,
      isEval: Column, cfg: Config = Config()): DataFrame = {
    // The eval set is held out from the very start: it must not
    // participate in dedup (a near-dup cluster containing an eval doc
    // would otherwise swallow the eval doc BEFORE decontamination could
    // see it) and is never part of the output corpus. A NULL eval flag
    // counts as not-eval (three-valued !NULL would otherwise silently
    // drop the row from BOTH sides).
    val evalFlag = coalesce(isEval, lit(false))
    val evalSide = df.filter(evalFlag)
    val trainSide = df.filter(!evalFlag)
    // Eager phases are labeled so the UI / tools.Profile can
    // attribute this pipeline's jobs; thread-local, cleared at the end.
    val sc = df.sparkSession.sparkContext
    def labeled[T](desc: String)(body: => T): T = {
      sc.setJobDescription(s"curate: $desc")
      try body finally sc.setJobDescription(null)
    }

    // 1. verbatim copies: exact() keeps the smallest id per content hash.
    // Truncated (r15): exactKept feeds BOTH the LSH pair generation
    // (materialized by the cluster loop's seed truncation) and the
    // deduped corpus below — uncached it was evaluated twice (full
    // scan + fingerprint groupBy + semi-join per evaluation, StageProbe
    // r15). A truncate, not a cache: LogicalRDD leaves canonicalize by
    // their RDD, so downstream self-referencing subtrees keep AQE
    // exchange reuse — an InMemoryRelation in the lineage BREAKS reuse
    // (measured, tools/CurateProbe: the contamination explode+window
    // exchange executed twice over a cached frame, ReusedExchange over
    // a truncated one).
    val exactKept = labeled("materialize exact-deduped corpus")(
      graft.Checkpoints.truncate(trainSide.join(
        Dedup.exact(trainSide, idCol, textCol).select(col(idCol)),
        Seq(idCol), "left_semi")))

    // 2. near-dups: LSH pairs → clusters; canonical (smallest) survives.
    // Pairs are computed once and reused for the leak-safe split below,
    // so the split key agrees with the dedup decision.
    val pairs = Dedup.minHashLsh(exactKept, idCol, textCol,
      cfg.shingleN, cfg.numHashes, cfg.bandSize, cfg.maxBucketSize)
    val clusters = labeled("cluster near-dups")(
      Dedup.duplicateClusters(pairs, "a", "b"))
    val nearDropped = clusters.filter(col("a") =!= col("cluster"))
      .select(col("a").as(idCol))
    // The deduped corpus feeds both the contamination join and the
    // survivor anti-join below. Truncated, NOT cached (r15): the
    // contamination operator explodes `deduped ∪ evalSide` and joins
    // the exploded frame's train side against its eval side — the two
    // sides share one shingle exchange ONLY if the subtrees stay
    // canonically equal, and an InMemoryRelation leaf breaks that
    // (AQE ran the full explode+window twice, ~1.5 s of the pipeline's
    // heaviest stage duplicated; tools/CurateProbe A/B/C shapes).
    val deduped = labeled("materialize near-deduped corpus")(
      graft.Checkpoints.truncate(
        exactKept.join(nearDropped, Seq(idCol), "left_anti")))

    // 3. decontamination: drop surviving training docs that share
    // >= minShared distinct shingles with any eval doc. The COALESCED
    // flag (not the raw isEval) must flow through: contaminationPairs
    // filters both flag and !flag, so a NULL flag would silently drop
    // the row from BOTH sides — a contaminated doc with a dirty NULL
    // flag would survive decontamination while this pipeline routed it
    // to the training side.
    val contaminated = Dedup.contaminationPairs(
      deduped.unionByName(evalSide), idCol, textCol, cfg.contaminationN,
      evalFlag, cfg.contaminationMinShared, cfg.contaminationMaxDf)
      .select(col(idCol)).distinct()
    val clean = deduped.join(contaminated, Seq(idCol), "left_anti")

    // 4. heuristic quality floor
    // scored feeds BOTH the split computation (its id list seeds the
    // cluster bucketing) and the split join below — unmaterialized, the
    // contamination join + quality scan would execute twice inside the
    // withSplit materialization (measured ~1.5-2 s per extra pass at
    // sf0.1, the pipeline's single largest stage). Truncated, NOT
    // cached (r15): a cache defeats AQE inside its own fill — cached
    // plans execute without adaptive execution (Spark only re-plans
    // them under canChangeCachedPlanOutputPartitioning), and ONLY AQE's
    // runtime stage reuse dedupes the contamination operator's two
    // shingle-exchange sides (the static ReuseExchange rule never
    // fired on them; StageProbe r15 measured the full explode+window
    // running twice inside the cache fill, the pipeline's two heaviest
    // stages). As a top-level truncation job the reuse fires, and
    // downstream consumers read materialized blocks either way.
    val scored = labeled("materialize quality-scored corpus")(
      graft.Checkpoints.truncate(clean
        .withColumn("quality", TextOps.qualityScore(col(textCol)))
        .filter(col("quality") >= cfg.minQuality)))

    // 5. leakage-safe split on the SAME near-dup clusters (reused — the
    // iterative label propagation runs once, not twice)
    val split = Curation.leakSafeSplitClusters(
      scored.select(col(idCol)), idCol,
      clusters.withColumnRenamed("a", idCol), cfg.trainPct, cfg.valPct)
      .select(col(idCol), col("split"))
    // Checkpoint: everything below (packSequences' driver-side bounds
    // read, its bucketed windows, and the final left join) reads
    // withSplit several times — without truncation each read would
    // re-execute the dedup/contamination/quality lineage. Durability
    // (fast local vs executor-loss-safe reliable) follows the same
    // session conf as duplicateClusters — see graft.Checkpoints.
    val withSplit = labeled("materialize split corpus")(
      graft.Checkpoints.truncate(scored.join(split, Seq(idCol))))
    // No explicit release needed (r15, no caches left): the truncated
    // frames' localCheckpoint blocks are dropped by the ContextCleaner
    // when the frames go unreferenced — the same lifecycle every
    // iterative operator here already relies on.

    // 6. pack the train split into fixed-length sequences
    val packed = Curation.packSequences(
      withSplit.filter(col("split") === "train"),
      idCol, TextOps.tokenCount(col(textCol)), cfg.seqLen)
    withSplit.join(packed, Seq(idCol), "left")
  }
}
