package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables._
import graft.functions.MinHash

/** §2.J LLM-data-pipeline operators (SURVEY.md §2.1 J) — dedup,
  * similarity, text analysis over the documents/embeddings corpus.
  *
  * Scale posture (the north star is 100 TB of documents):
  *  - exact dedup: shuffle by text hash, min-id per group — O(rows) shuffle
  *    of (hash, id), no comparison matrix.
  *  - jaccard: *blocked* candidate join — equi-key (lang, n_chars bucket)
  *    with neighbor-bucket explosion on one side, so candidates are only
  *    generated inside |Δn_chars| ≤ 10 blocks; never a cross join.
  *  - minhash LSH: one-pass sketch per doc, then shuffle only
  *    (band, signature) tuples; bucket equi-join yields candidates.
  *  - cosine top-k: the tiny query side is broadcast; per-partition
  *    scoring + TakeOrdered per query key.
  */
object LlmOps {

  type Q = (SparkSession, String) => DataFrame

  /** Distinct whitespace tokens of `text` (FIXTURES.md: space-separated). */
  private def toks = array_distinct(split(col("text"), " "))

  /** Sorted TOKEN-ID array — the payload every set-similarity op ships
    * through its candidate join and feeds to the merge-scan kernel
    * ([[graft.functions.SortedIntersectSize]]). Round-6 change: tokens
    * are dictionary-encoded to `xxhash64` ids at scan time (strings →
    * longs), because Jaccard needs only sizes and |∩| — never the token
    * text. Measured 3× on llm_neardup_crosslang at sf0.1 (5.9 s → 1.9 s):
    * the shuffle payload shrinks to 8 B/token and the per-pair merge scan
    * compares longs instead of UTF8 strings. Collision risk is the 64-bit
    * birthday bound — ~2⁻⁶⁴ per token pair, material only past ~2³²
    * distinct tokens (far beyond any real vocabulary); a collision could
    * only ever inflate J slightly, never lose a pair. Sorted once per doc
    * BEFORE the candidate join, amortized over all pairs the doc is in. */
  private def sortedToks = sort_array(transform(toks, t => xxhash64(t)))

  /** Per-doc dedup verdict (doc_id, lang, stage, dup_of): stage 1 exact
    * dedup keeps the min doc_id per identical text; stage 2 drops a
    * survivor iff an earlier survivor has token-set Jaccard ≥ 0.5 under
    * the (lang, |Δn_chars| ≤ 10) blocking. `dup_of` < doc_id always, so
    * the edges form a forest — which llm_dedup_clusters exploits. */
  /** Pointer-jumped duplicate clusters — (doc_id, cluster_id), the
    * transitive closure of the dedup verdicts' `dup_of` edges, each
    * cluster labeled by its minimal member. localCheckpoint (eager)
    * truncates lineage each round — without it iteration k re-runs the
    * whole verdict DAG k times and the loop goes quadratic (measured:
    * sf0.1 ran past 10 min; with checkpointing it's seconds). On a
    * cluster use a reliable checkpoint dir instead (localCheckpoint
    * pins to executor storage). Superseded rounds' blocks are reclaimed
    * by Spark's ContextCleaner once the discarded DataFrames are GC'd
    * (referenceTracking is on by default) — no explicit unpersist,
    * which would also have to reach through the checkpointed plan's
    * RDD. Shared by `llm_dedup_clusters` and `llm_dedup_keep_best`. */
  private def dedupClusters(s: SparkSession, d: String): DataFrame =
    dedupClustersOf(s, documents(s, d))

  /** [[dedupClusters]] over an explicit doc set — the incremental
    * keep-best op clusters two epochs of the same corpus (round-9).
    * Round-10: the pointer-jump loop is GraphLoop.jumpClosure (one
    * audited copy shared with the graph-loop finisher) rather than an
    * inline twin — which also buys the 64-round runaway guard. Depth
    * note: `dup_of` < doc_id always, so the verdict edges form a
    * forest whose root is the minimum member; jumpClosure halves every
    * chain per round, so even an adversarially deep dup chain (k docs
    * each pointing at the previous) closes in O(log k) corpus-keyed
    * joins, never O(k). */
  private def dedupClustersOf(s: SparkSession, docs: DataFrame): DataFrame =
    GraphLoop.jumpClosure(
      dedupVerdictsOf(s, docs)
        .select(col("doc_id").as("node"),
          coalesce(col("dup_of"), col("doc_id")).as("root")),
      "root")
      .select(col("node").as("doc_id"), col("root").as("cluster_id"))

  /** Cluster-then-keep-best over an explicit doc set: pointer-jumped
    * clusters joined with the exact-decimal quality score, argmax per
    * cluster via a min-struct aggregation + one cluster-keyed join
    * back (never a per-cluster window — a pathological giant cluster
    * costs a partial agg, not a single-partition sort). Returns
    * (doc_id, cluster_id, q decimal, keep). Shared by
    * `llm_dedup_keep_best` and its incremental variant. */
  private[graft] def keepBestOf(s: SparkSession, docs: DataFrame,
      q: DataFrame): DataFrame = {
    val scored = dedupClustersOf(s, docs).join(q, Seq("doc_id"))
    val best = scored.groupBy(col("cluster_id"))
      .agg(min(struct((lit(BigDecimal("0")) - col("q")).as("nq"),
        col("doc_id").as("bid"))).as("b"))
      .select(col("cluster_id"), col("b.bid").as("best_id"))
    scored.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("q"),
        (col("doc_id") === col("best_id")).as("keep"))
  }

  // ---- persisted-epoch incremental keep-best (round 10) -------------
  //
  // llm_dedup_keep_best_persisted is the DEPLOYMENT shape the
  // keep_best_incremental scaladoc promises: the prior epoch's verdict
  // state is READ FROM PARQUET, and the continuing query pays only the
  // new batch's clustering. What makes that sound is an ID-ORDERED
  // epoch split (existing = doc_id < thr, batch = doc_id ≥ thr — an
  // append-only ingest where arriving ids exceed all existing ids),
  // under which four facts are THEOREMS, not approximations:
  //  (1) existing docs' dup_of edges are unchanged by the batch: exact
  //      keepers are min-ids (batch ids are all larger), and an
  //      existing survivor's nd_of ranges over ids smaller than its
  //      own — all existing;
  //  (2) prior cluster roots stay roots (a root's dup_of stays null by
  //      (1)) and clusters only GROW — every new edge leaves a batch
  //      node, and a batch node has exactly one parent pointer, so two
  //      prior clusters can never merge;
  //  (3) cluster labels are stable: the label is the min member
  //      (dup_of < doc_id makes the root the minimum), and batch
  //      members are larger than any prior member;
  //  (4) the keep-best argmax updates from the prior KEEPER alone:
  //      argmax(cluster) = argmax(prior argmax, new members), and the
  //      (−q, doc_id) tie-break favors the incumbent because prior ids
  //      are smaller than batch ids.
  // The %100-split op (llm_dedup_keep_best_incremental) deliberately
  // violates id-ordering to exercise keeper churn both ways; THIS op is
  // the shape a deployment runs. IncrementalPersistSpec pins
  // persisted ≡ recomputed; the DuckDB oracle recomputes both epochs
  // from scratch, so a driver hash-match re-proves theorems (1)-(4)
  // per corpus.

  /** The id-ordered epoch threshold: floor(0.8·(max_id+1)) — an O(1)-row
    * driver scalar off a doc_id-only scan (the bounds-table style). */
  private[graft] def epochThreshold(s: SparkSession, d: String): Long = {
    val maxId = documents(s, d).agg(max(col("doc_id"))).head().getLong(0)
    (maxId + 1) * 4 / 5
  }

  /** Per-corpus-dir root of all staged epoch state. */
  private def epochBase(d: String): String =
    s"${graft.Scratch.base}/graft_epoch_" +
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(d) & 0xffffffffL)

  /** Where the staged epoch state lives (per corpus dir):
    * `<state>` = (doc_id, cluster_id, q, keep) for every existing doc —
    * the keep_best verdict table a deployment persists; `<surv>` = the
    * exact-stage survivor INDEX (doc_id, lang, n_chars, bucket, toks,
    * text) the batch probes for exact and near-dup matches. */
  private[graft] def epochDirs(d: String): (String, String) = {
    val base = epochBase(d)
    (s"$base/state", s"$base/surv")
  }

  /** Where the staged MinHash band INDEX lives (per corpus dir): one
    * row per existing (text, lang) group representative × 32 bands —
    * (rep_id, lang, n_chars, bucket, band_sig). The persisted table of
    * the sketch-family deployment shape (`llm_minhash_lsh_persisted`). */
  private[graft] def minhashIndexDir(d: String): String =
    s"${epochBase(d)}/bands"

  /** Epochs staged by THIS JVM — the guard is deliberately in-memory,
    * never the filesystem: a new JVM (new code) always re-stages, so
    * stale parquet from an older build can never feed the incremental
    * path, while repeated invocations within one Bench/Verify run pay
    * the once-per-epoch cost once (the deployment's amortization —
    * staging is yesterday's epoch build, not part of the continuing
    * query). */
  private val stagedEpochs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def stageEpochStateOnce(s: SparkSession, d: String,
      thr: Long): Unit = stagedEpochs.synchronized {
    if (!stagedEpochs.contains(s"$d@$thr")) {
      stageEpochState(s, d, thr)
      stagedEpochs.add(s"$d@$thr")
    }
  }

  /** Stage the prior epoch (the once-per-epoch cost a deployment
    * amortizes): cluster + keep-best the existing docs and write the
    * verdict state and survivor index to parquet. Overwrites. */
  private[graft] def stageEpochState(s: SparkSession, d: String,
      thr: Long): Unit = {
    val (stateDir, survDir) = epochDirs(d)
    val existing = documents(s, d).filter(col("doc_id") < thr)
    val q = TrainingDataOps.qualityDecimal(s, d)
    keepBestOf(s, existing, q)
      .write.mode("overwrite").parquet(stateDir)
    survivorIndex(existing).write.mode("overwrite").parquet(survDir)
  }

  /** MinHash band signatures of a doc's token set — the kernel UDF both
    * sketch ops and the persisted-index staging share. */
  private def bandsUdf = udf((tokens: Seq[String]) =>
    MinHash.bandSignatures(MinHash.sketch(tokens)))

  /** The MinHash band INDEX of a doc set: collapse to one representative
    * per (text, lang) group (identical docs share sketch/bands/block —
    * the collapse-first discipline), then 32 band rows per rep. This is
    * the persisted table of `llm_minhash_lsh_persisted`: O(distinct
    * texts · 32) rows however duplicated the corpus is. */
  private[graft] def minhashBandIndex(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"), col("lang"))
      .agg(min(col("doc_id")).as("rep_id"),
        min(col("n_chars")).as("n_chars"))
      .select(col("rep_id"), col("lang"), col("n_chars"),
        floor(col("n_chars") / 10).as("bucket"),
        explode(bandsUdf(toks)).as("band_sig"))

  private[graft] def stageMinhashIndexOnce(s: SparkSession, d: String,
      thr: Long): Unit = stagedEpochs.synchronized {
    if (!stagedEpochs.contains(s"minhash:$d@$thr")) {
      stageMinhashIndex(s, d, thr)
      stagedEpochs.add(s"minhash:$d@$thr")
    }
  }

  /** Stage the existing corpus's band index (the once-per-epoch cost of
    * the sketch-family deployment shape). Overwrites. */
  private[graft] def stageMinhashIndex(s: SparkSession, d: String,
      thr: Long): Unit =
    minhashBandIndex(documents(s, d).filter(col("doc_id") < thr))
      .write.mode("overwrite").parquet(minhashIndexDir(d))

  /** The continuing (per-batch) query of the persisted sketch shape:
    * band the batch's (text, lang) reps, probe the PERSISTED index for
    * existing candidates and the batch's own banding for earlier-batch
    * candidates, fold to one verdict per batch doc. The documents table
    * is touched only under the doc_id ≥ thr pushdown (PlanShapeSpec
    * asserts it) — the existing corpus is never re-banded or re-paired.
    *
    * Why the existing side needs NO member expansion, unlike the %100
    * op: under the id-ordered split every existing doc is admissible
    * (its id is below every batch id), so a batch doc's best existing
    * candidate is the min member over matched existing groups — and the
    * min member of a group IS its rep_id (rep = min(doc_id)). Group-
    * level matching is member-exact because band signatures, lang and
    * n_chars are pure functions of (text, lang) under the corpus
    * invariant n_chars == length(text). */
  private[graft] def minhashLshPersistedFrom(s: SparkSession, d: String,
      thr: Long, idx: DataFrame): DataFrame =
    minhashVerdictsFrom(
      documents(s, d).filter(col("doc_id") >= thr)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text")),
      idx)

  /** [[minhashLshPersistedFrom]]'s core over an explicit batch frame —
    * shared with the multi-epoch chain ([[advanceMinhashEpoch]]). */
  private[graft] def minhashVerdictsFrom(batch: DataFrame,
      idx: DataFrame): DataFrame = {
    val (bGroups, bBanded) = minhashBatchBanding(batch)
    minhashVerdictsCore(batch, bGroups, bBanded, idx)
      .orderBy(col("doc_id"))
  }

  /** A batch's (text, lang)-group reps and their 32 band rows — the one
    * banding both the verdict probe and the index advance consume (the
    * streaming ingest op persists `bBanded` so the sketch UDF runs once
    * per batch, not once per consumer). `bBanded`'s columns are exactly
    * a band-index fragment ([[minhashBandIndex]] of the batch). */
  private[graft] def minhashBatchBanding(batch: DataFrame)
      : (DataFrame, DataFrame) = {
    val bGroups = batch.groupBy(col("text"), col("lang"))
      .agg(min(col("doc_id")).as("rep_id"),
        min(col("n_chars")).as("n_chars"))
    val bBanded = bGroups.select(col("rep_id"), col("lang"), col("n_chars"),
      floor(col("n_chars") / 10).as("bucket"),
      explode(bandsUdf(toks)).as("band_sig"))
    (bGroups, bBanded)
  }

  /** Min-rep compaction of a band index ∪ new band rows — the
    * verdict-preserving index advance (theorem at
    * [[advanceMinhashEpoch]]). */
  private[graft] def compactBandIndex(idx: DataFrame,
      bandRows: DataFrame): DataFrame =
    idx.unionByName(bandRows)
      .groupBy(col("lang"), col("n_chars"), col("bucket"), col("band_sig"))
      .agg(min(col("rep_id")).as("rep_id"))
      .select(col("rep_id"), col("lang"), col("n_chars"), col("bucket"),
        col("band_sig"))

  /** [[minhashVerdictsFrom]] minus the final total-order sort, over a
    * pre-computed banding — the streaming ingest's per-batch probe,
    * where the append sink makes a per-batch sort pure overhead (the
    * final readout re-sorts once). Plan: one probe ⋈ candidates join
    * and one per-rep aggregate, then the rep mins join their (text,
    * lang) groups and every batch doc left-joins its group — three
    * joins in all (PlanShapeSpec pins the count). */
  private[graft] def minhashVerdictsCore(batch: DataFrame,
      bGroups: DataFrame, bBanded: DataFrame, idx: DataFrame)
      : DataFrame = {
    // ONE candidate join per batch. Candidates are the index band rows
    // ∪ the batch's own band rows, each at its own bucket and tagged by
    // side; the probe is the batch band rows with the bucket exploded
    // to ±1 (explode the SMALL side: |Δbucket| ≤ 1 is symmetric, so a
    // ±1 probe against unexploded candidates matches the same pair set,
    // each qualifying pair meeting on exactly one key, and the exchange
    // ships 1× the index instead of 3×).
    val cand = idx.withColumn("is_ex", lit(true))
      .unionByName(bBanded.withColumn("is_ex", lit(false)))
      .select(col("rep_id").as("cand"), col("lang").as("lang2"),
        col("n_chars").as("n_chars2"), col("bucket").as("bucket2"),
        col("band_sig").as("band_sig2"), col("is_ex"))
    val probe = bBanded
      .withColumn("bucket",
        explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)))
    // Candidate side stays at REP level, and so does the fold. Existing
    // side: every index rep is below every batch id, so ex_min (the min
    // over matched index reps) is every member's existing verdict — the
    // min member of a group IS its rep (rep = min(doc_id)). Batch side:
    // for a member n of group r, its batch candidates are S = pairs(r)
    // ∪ {r} (the rep's match with itself supplies {r}: a rep shares all
    // 32 bands, its lang and its n_chars with itself), and
    // min{c ∈ S : c < n} is min(S) when min(S) < n and empty otherwise
    // — so one per-rep min m answers every member.
    val perRep = probe.join(cand,
        col("band_sig") === col("band_sig2") &&
          col("lang") === col("lang2") &&
          col("bucket") === col("bucket2") &&
          abs(col("n_chars") - col("n_chars2")) <= 10, "inner")
      .groupBy(col("rep_id"))
      .agg(min(when(col("is_ex"), col("cand"))).as("ex_min"),
        min(when(!col("is_ex"), col("cand"))).as("m"))
    val perGroup = bGroups.select(col("text"), col("lang"), col("rep_id"))
      .join(perRep, Seq("rep_id"))
    // the left join keeps exactly one verdict row per batch doc
    batch.select(col("doc_id"), col("lang"), col("text"))
      .join(perGroup, Seq("text", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        least(col("ex_min"), when(col("m") < col("doc_id"), col("m")))
          .as("dup_of"))
      .select(col("doc_id"), col("lang"),
        when(col("dup_of").isNotNull, lit("band_dup"))
          .otherwise(lit("kept")).as("stage"),
        col("dup_of"))
  }

  /** Advance the persisted sketch epoch by ONE id-ordered batch
    * [thrLo, thrHi): the batch's verdicts against the current index,
    * plus the NEXT epoch's index — so sketch epochs CHAIN like the
    * keep-best ones (MinhashChainSpec pins chained ≡ from-scratch
    * verdicts per batch).
    *
    * The next index is the union of the old index and the batch's band
    * rows, COMPACTED to min(rep_id) per (lang, n_chars, bucket,
    * band_sig). Compaction is verdict-preserving WITHOUT text identity:
    * a probe's existing-side fold is min(rep) over matched index rows,
    * and a row matches purely through (band_sig, lang, bucket window,
    * |Δn_chars| ≤ 10) — so two rows agreeing on the full compaction key
    * match exactly the same probes, and dropping the larger rep never
    * changes a min. (Same-text rows from different epochs agree on the
    * whole key, so cross-epoch duplicate texts can never bloat the
    * index; the index stays O(distinct band rows) forever.) */
  private[graft] def advanceMinhashEpoch(s: SparkSession, d: String,
      thrLo: Long, thrHi: Long, idx: DataFrame)
      : (DataFrame, DataFrame) =
    advanceMinhashEpochFrom(
      documents(s, d)
        .filter(col("doc_id") >= thrLo && col("doc_id") < thrHi)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text")),
      idx)

  /** [[advanceMinhashEpoch]]'s core over an explicit batch frame — the
    * entry point the streaming ingest op (`stream_minhash_ingest`,
    * StreamingOps) drives from inside `foreachBatch`, where the batch
    * IS a frame rather than an id-range over the corpus dir. Same
    * precondition: every batch doc_id exceeds every id already folded
    * into `idx` (the streaming op asserts arrival monotonicity
    * per batch and fails loudly on violation). */
  private[graft] def advanceMinhashEpochFrom(batch: DataFrame,
      idx: DataFrame): (DataFrame, DataFrame) = {
    val (bGroups, bBanded) = minhashBatchBanding(batch)
    (minhashVerdictsCore(batch, bGroups, bBanded, idx)
        .orderBy(col("doc_id")),
      compactBandIndex(idx, bBanded))
  }

  /** The exact-stage survivor INDEX of a doc set — the second persisted
    * table of the epoch shape (shared by staging and the multi-epoch
    * chain spec). */
  private[graft] def survivorIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        col("n_chars"), col("text"), sortedToks.as("toks"),
        floor(col("n_chars") / 10).as("bucket"))
      .withColumn("keeper",
        min(col("doc_id")).over(Window.partitionBy(col("text"))))
      .filter(col("doc_id") === col("keeper"))
      .drop("keeper")

  /** Batch-side dedup verdicts from the persisted survivor index —
    * (doc_id, dup_of) for every batch doc, touching the documents table
    * ONLY under the doc_id ≥ thr pushdown (PlanShapeSpec asserts every
    * documents FileScan in this plan carries it). Exact stage: a text
    * match in the survivor index IS the keeper (id-ordering theorem 1 —
    * no min against batch ids needed, unlike the %100 op); otherwise
    * the first batch doc of the text. Near stage: the same asymmetric
    * blocked probe as llm_dedup_incremental, candidates = persisted
    * survivors ∪ earlier batch survivors. */
  private[graft] def batchVerdictsFromPersisted(s: SparkSession, d: String,
      thr: Long, surv: DataFrame): DataFrame =
    batchVerdictsAndSurvivors(s, d, thr, Long.MaxValue, surv)._1

  /** [[batchVerdictsFromPersisted]] generalized to a bounded batch
    * [thrLo, thrHi) and ALSO returning the batch's exact-stage
    * survivor index rows — what [[advanceEpoch]] appends to the
    * persisted survivor index so epochs chain. */
  private[graft] def batchVerdictsAndSurvivors(s: SparkSession, d: String,
      thrLo: Long, thrHi: Long, surv: DataFrame)
      : (DataFrame, DataFrame) =
    batchVerdictsAndSurvivorsFrom(s,
      documents(s, d)
        .filter(col("doc_id") >= thrLo && col("doc_id") < thrHi)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text")),
      surv)

  /** [[batchVerdictsAndSurvivors]] over an explicit batch frame
    * (doc_id, lang, n_chars, text) — the entry point the streaming
    * keep-best ingest drives from inside `foreachBatch`. Same
    * id-ordering precondition as every `From` variant. */
  private[graft] def batchVerdictsAndSurvivorsFrom(s: SparkSession,
      batchDocs: DataFrame, surv: DataFrame): (DataFrame, DataFrame) = {
    graft.functions.SortedIntersectSize.register(s)
    val batch = batchDocs
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        sortedToks.as("toks"), floor(col("n_chars") / 10).as("bucket"))
    val exMin = surv.select(col("text"), col("doc_id").as("ex_of"))
    val nwMin = batch.groupBy(col("text"))
      .agg(min(col("doc_id")).as("nw_first"))
    val staged = batch
      .join(exMin, Seq("text"), "left")
      .join(nwMin, Seq("text"), "left")
      .withColumn("nf",
        when(col("nw_first") < col("doc_id"), col("nw_first")))
      .withColumn("exact_of", coalesce(col("ex_of"), col("nf")))
    val survNew = staged.filter(col("exact_of").isNull)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("toks"),
        col("bucket"))
    val cand = surv
      .select(col("doc_id"), col("lang"), col("n_chars"), col("toks"),
        col("bucket"))
      .withColumn("cand_new", lit(false))
      .unionByName(survNew.withColumn("cand_new", lit(true)))
    // r17 (guide §2.3 — explode the SMALL side): the ±1 bucket fan-out
    // moves from the candidate index (survivor corpus ∪ new survivors —
    // the side that grows with the corpus) to the batch probe;
    // |Δbucket| ≤ 1 is symmetric so the matched pair set is identical,
    // and the (lang, bucket) exchange ships the survivor index (with
    // its token arrays) once instead of three times.
    val right = cand
      .select(col("doc_id").as("doc_id2"), col("lang").as("lang2"),
        col("n_chars").as("n_chars2"), col("toks").as("toks2"),
        col("bucket"), col("cand_new"))
    val probeNd = survNew
      .withColumn("bucket",
        explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)))
    val nd = probeNd.join(right,
        col("lang") === col("lang2") &&
          probeNd("bucket") === right("bucket") &&
          (!col("cand_new") || col("doc_id2") < col("doc_id")) &&
          abs(col("n_chars") - col("n_chars2")) <= 10, "inner")
      .withColumn("inter", expr("sorted_intersect_size(toks, toks2)"))
      .filter(col("inter") /
        (size(col("toks")) + size(col("toks2")) - col("inter")) >= 0.5)
      .groupBy(col("doc_id")).agg(min(col("doc_id2")).as("nd_of"))
    val verdicts = staged.join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_of"), col("nd_of")).as("dup_of"))
    val survNewIdx = staged.filter(col("exact_of").isNull)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        col("toks"), col("bucket"))
    (verdicts, survNewIdx)
  }

  /** The continuing (per-batch) query of the persisted shape: batch
    * verdicts → batch-only pointer-jump closure (prior cluster ids are
    * terminal labels — jumpClosure's left join keeps them fixed) →
    * keep-best update over affected clusters only, contending the
    * prior KEEPER against the new members (theorem 4). Existing rows
    * are assembled entirely from the persisted state — no documents
    * scan without the batch pushdown appears anywhere in this plan. */
  private[graft] def keepBestPersistedFrom(s: SparkSession, d: String,
      thr: Long, state: DataFrame, surv: DataFrame): DataFrame = {
    val (nextState, _) = advanceEpoch(s, d, thr, Long.MaxValue, state, surv)
    val wasKeep = state.select(col("doc_id"),
      col("keep").as("was_keep"))
    nextState.join(wasKeep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        col("q").cast("double").as("quality"), col("keep"),
        when(col("was_keep").isNull,
          when(col("keep"), lit("new_keeper")).otherwise(lit("new_dup")))
          .when(col("was_keep") && col("keep"), lit("retained"))
          .when(col("was_keep") && !col("keep"), lit("displaced"))
          .when(col("keep"), lit("promoted"))
          .otherwise(lit("dup")).as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Advance the persisted epoch by ONE batch [thrLo, thrHi): given the
    * prior epoch's verdict state and survivor index, return the NEXT
    * epoch's (state, survivor index) in the same persisted shapes —
    * state rows are (doc_id, cluster_id, q, keep), so epochs CHAIN:
    * advance(advance(state_A, batch_B), batch_C) must equal the state
    * computed from scratch on A∪B∪C (IncrementalPersistSpec pins this
    * multi-epoch associativity; it holds by induction on the four
    * id-ordering theorems above, each batch's ids exceeding all prior
    * ids). Batch verdicts → batch-only pointer-jump closure (prior
    * cluster ids are terminal labels — jumpClosure's left join keeps
    * them fixed) → keep-best update over affected clusters only,
    * contending the prior KEEPER against the new members (theorem 4).
    * Prior rows are assembled entirely from the persisted state — no
    * documents scan without the batch pushdown appears in this plan. */
  private[graft] def advanceEpoch(s: SparkSession, d: String,
      thrLo: Long, thrHi: Long, state: DataFrame, surv: DataFrame)
      : (DataFrame, DataFrame) =
    advanceEpochFrom(s,
      documents(s, d)
        .filter(col("doc_id") >= thrLo && col("doc_id") < thrHi)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text")),
      state, surv)

  /** [[advanceEpoch]] over an explicit batch frame — the streaming
    * keep-best ingest's per-batch step (`stream_keep_best_ingest`,
    * StreamingOps). Quality is recomputed from the batch frame by the
    * same expression ([[TrainingDataOps.qualityDecimalOf]]), so the
    * scores are bit-identical to the corpus-dir path. */
  private[graft] def advanceEpochFrom(s: SparkSession,
      batchDocs: DataFrame, state: DataFrame, surv: DataFrame)
      : (DataFrame, DataFrame) = {
    val (verdicts, survNewIdx) =
      batchVerdictsAndSurvivorsFrom(s, batchDocs, surv)
    val exClusters = state.select(col("doc_id").as("p_id"),
      col("cluster_id").as("p_cl"))
    val root1 = verdicts
      .select(col("doc_id"),
        coalesce(col("dup_of"), col("doc_id")).as("root"))
      .join(exClusters, col("root") === col("p_id"), "left")
      .select(col("doc_id").as("node"),
        coalesce(col("p_cl"), col("root")).as("root"))
    val batchClusters = GraphLoop.jumpClosure(root1, "root")
      .select(col("node").as("doc_id"), col("root").as("cluster_id"))
    val qBatch = TrainingDataOps.qualityDecimalOf(batchDocs)
    val batchScored = batchClusters.join(qBatch, Seq("doc_id"))
    val affected = batchScored.select(col("cluster_id")).distinct()
    val priorKeepers = state.filter(col("keep"))
      .join(affected, Seq("cluster_id"))
      .select(col("cluster_id"), col("doc_id"), col("q"))
    val best = batchScored.select(col("cluster_id"), col("doc_id"), col("q"))
      .unionByName(priorKeepers)
      .groupBy(col("cluster_id"))
      .agg(min(struct((lit(BigDecimal("0")) - col("q")).as("nq"),
        col("doc_id").as("bid"))).as("b"))
      .select(col("cluster_id"), col("b.bid").as("best_id"))
    val batchState = batchScored.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("q"),
        (col("doc_id") === col("best_id")).as("keep"))
    val priorState = state.join(best, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"), col("q"),
        when(col("best_id").isNull, col("keep"))
          .otherwise(col("doc_id") === col("best_id")).as("keep"))
    (batchState.unionByName(priorState),
      surv.unionByName(survNewIdx))
  }

  private def dedupVerdicts(s: SparkSession, d: String): DataFrame =
    dedupVerdictsOf(s, documents(s, d))

  private def dedupVerdictsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.SortedIntersectSize.register(s)
    // toks/bucket are derived AFTER the keeper filter (r16, guide
    // §2.3): computing sortedToks for every doc before the text-keyed
    // window shipped the tokenized corpus through the exchange when
    // only survivors ever read it — same values, narrower exchange
    val keyed = docs.select(col("doc_id"), col("lang"),
        col("n_chars"), col("text"))
      .withColumn("keeper",
        min(col("doc_id")).over(Window.partitionBy(col("text"))))
    val surv = keyed.filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        sortedToks.as("toks"), floor(col("n_chars") / 10).as("bucket"))
    val nd = Blocking.sizeBlockedPairs(surv, "toks", smallerRight = true)
      .withColumn("inter", expr("sorted_intersect_size(toks, toks2)"))
      .filter(col("inter") /
        (size(col("toks")) + size(col("toks2")) - col("inter")) >= 0.5)
      .groupBy(col("doc_id")).agg(min(col("doc_id2")).as("nd_of"))
    keyed.join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") =!= col("keeper"), lit("exact_dup"))
          .when(col("nd_of").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("stage"),
        when(col("doc_id") =!= col("keeper"), col("keeper"))
          .otherwise(col("nd_of")).as("dup_of"))
  }

  /** Full dedup AUDIT trail (round-4 add): the production shape — one
    * pipeline, every doc judged once, each stage running only on the
    * SURVIVORS of the previous one (the exact-first ordering that keeps
    * every later stage affordable, measured FLAT at 16× replication):
    *   1. exact      — min doc_id per identical text (lang-agnostic);
    *   2. near_dup   — same-lang token-set Jaccard ≥ 0.5 under the
    *                   (lang, |Δn_chars| ≤ 10) blocking;
    *   3. crosslang  — the same Jaccard rule across languages (size
    *                   bucket alone carries the join);
    *   4. embedding  — exact cosine ≥ 0.4 via IVF cell-pair pruning
    *                   (same machinery as llm_embedding_neardup) over
    *                   survivors that HAVE a vector (vec_id = doc_id —
    *                   the harness corpus association; docs without a
    *                   vector skip the stage on both engines).
    * Every rule is exact ⇒ the whole trail is SQL-expressible and
    * oracle-checked — unlike the sketch ops, which trade recall and
    * stay rows-only. `dup_of` < doc_id at every stage, so the audit
    * edges still form a forest like llm_dedup_pipeline's.
    *
    * Deliberately NOT fused: generating stage 2+3's candidates from one
    * lang-unblocked pair join over surv1 measures ~60% SLOWER (12.4 s vs
    * 7.4 s warm at sf0.1, honest forcing), because stage-2 drops shrink
    * surv2 before the expensive unblocked join and per-block pair volume
    * is QUADRATIC in the survivor count — staged filtering beats join
    * fusion whenever the filter feeds a superlinear stage. */
  private def auditVerdicts(s: SparkSession, d: String): DataFrame = {
    graft.functions.SortedIntersectSize.register(s)
    graft.functions.CosineSimilarity.register(s)
    // r17 adjudication of the r16 §2.3 projection move (the r16 sweep
    // read llm_dedup_audit 0.70×): REAL and REVERTED to the exact
    // pre-r16 shape. Order-alternating interleaved A/Bs (5-6 JVM pairs
    // each, same session) measured pre-r16 vs r16-final +19 %; vs a
    // "tokenize post-exchange, cut toks without text" hybrid +20 %; vs
    // a "scan-stage toks, text dropped from the cut" variant +11 %;
    // and vs this byte-exact restore +6 % (inside noise — the residual
    // is stage 4's shared centroidsKeyed planning, an r16 win
    // elsewhere). The lesson recorded: deriving sortedToks anywhere
    // AFTER the text-window exchange loses ~20 % on this op (the gap,
    // not job time, grows — ProfileOne showed identical 1.45 s job
    // sums), so the lambda stays fused into the parquet scan's
    // codegen even though the window exchange then carries text+toks.
    // The same §2.3 move stays IN for the seven other dedup ops where
    // it measured neutral-to-better (dedupVerdictsOf, incremental,
    // keep_best family).
    val base = documents(s, d).select(col("doc_id"), col("lang"),
      col("n_chars"), col("text"), sortedToks.as("toks"),
      floor(col("n_chars") / 10).as("bucket"))
    // Stage outputs are MATERIALIZED (eager localCheckpoint) because each
    // is consumed twice — by the next stage's survivor filter AND by the
    // final verdict join. Without truncation the final join re-derives
    // both blocked-pair generations from scratch (ReusedExchange only
    // dedups identical exchanges inside one plan; the anti-join chain
    // changes each consumer's subtree). At 100 TB these are the stage
    // boundaries you would checkpoint to durable storage anyway —
    // measured ~1.3-1.5× faster warm at sf0.1 (host-noise bounded).
    // `spark.graft.checkpointStages=false` keeps the full lineage
    // instead: PlanDump sets it so the dumped plan shows the join chain
    // rather than LogicalRDD stubs at the checkpoint cuts.
    // off ONLY on an explicit "false" — "True"/"1"/typos keep the
    // default-on behavior instead of silently disabling the speedup
    val ckptStages = !s.conf.getOption("spark.graft.checkpointStages")
      .exists(_.equalsIgnoreCase("false"))
    def stageCut(df: DataFrame): DataFrame =
      if (ckptStages) df.localCheckpoint() else df
    val keyed = stageCut(base.withColumn("keeper",
      min(col("doc_id")).over(Window.partitionBy(col("text")))))
    val surv1 = stageCut(keyed.filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("toks"),
        col("bucket")))
    def jaccardHalf(pairs: DataFrame, out: String): DataFrame = pairs
      .withColumn("inter", expr("sorted_intersect_size(toks, toks2)"))
      .filter(col("inter") /
        (size(col("toks")) + size(col("toks2")) - col("inter")) >= 0.5)
      .groupBy(col("doc_id")).agg(min(col("doc_id2")).as(out))
    val nd = stageCut(jaccardHalf(
      Blocking.sizeBlockedPairs(surv1, "toks", smallerRight = true), "nd_of"))
    val surv2 = surv1.join(nd, Seq("doc_id"), "left_anti")
    val xl = stageCut(jaccardHalf(
      Blocking.sizeBlockedPairs(surv2, "toks", smallerRight = true,
          langBlocked = false)
        .filter(col("lang") =!= col("lang2")), "xl_of"))
    val surv3 = surv2.join(xl, Seq("doc_id"), "left_anti")
    // stage 4 inputs: survivors' vectors only — cells and radii computed
    // on the RESTRICTED set (radii over a subset only shrink, so the
    // cell-pair pruning bound stays sound for subset pairs)
    val vecs = embeddings(s, d)
      .join(surv3.select(col("doc_id")), col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("label"), col("embedding"))
    val cells = TrainingDataOps.ivfCells(vecs)
    val theta = math.acos(0.399999)
    val cellPairs = cells
      .select(col("c_label").as("la"), col("centroid").as("ca"),
        col("r").as("ra"))
      .crossJoin(broadcast(cells.select(col("c_label").as("lb"),
        col("centroid").as("cb"), col("r").as("rb"))))
      .withColumn("cang",
        TrainingDataOps.clampAcos(expr("cosine_sim(ca, cb)")))
      .filter(col("cang") <= lit(theta) + col("ra") + col("rb") + lit(1e-9))
      .select(col("la"), col("lb"))
    val e1 = vecs.select(col("vec_id"), col("embedding").as("v1"),
      col("label").as("la"))
    val e2 = vecs.select(col("vec_id").as("vec_id2"),
      col("embedding").as("v2"), col("label").as("lb"))
    val eb = e1.join(broadcast(cellPairs), Seq("la"))
      .join(e2, Seq("lb"))
      .filter(col("vec_id2") < col("vec_id"))
      .filter(round(expr("cosine_sim(v1, v2)"), 6) >= 0.4)
      .groupBy(col("vec_id")).agg(min(col("vec_id2")).as("emb_of"))
    keyed.select(col("doc_id"), col("lang"), col("keeper"))
      .join(nd, Seq("doc_id"), "left")
      .join(xl, Seq("doc_id"), "left")
      .join(eb.select(col("vec_id").as("doc_id"), col("emb_of")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") =!= col("keeper"), lit("exact_dup"))
          .when(col("nd_of").isNotNull, lit("near_dup"))
          .when(col("xl_of").isNotNull, lit("crosslang_dup"))
          .when(col("emb_of").isNotNull, lit("embedding_dup"))
          .otherwise(lit("kept")).as("stage"),
        when(col("doc_id") =!= col("keeper"), col("keeper"))
          .otherwise(coalesce(col("nd_of"), col("xl_of"), col("emb_of")))
          .as("dup_of"))
  }

  /** Incremental (daily-ingest) dedup (round-4 add): dedup a NEW batch
    * (doc_id % 100 ≥ 80 — the val+test 20%) against the already-ingested
    * corpus (the 80% "existing" split) plus earlier docs of the same
    * batch — the production shape, where re-running full-corpus dedup
    * per ingest is the thing nobody can afford. The scale property is
    * the ASYMMETRY: every join probes with the small new batch, so
    * candidate volume is O(|new| · block density), never O(corpus²) —
    * at 100 TB corpus + GB-scale ingest this is the difference between
    * minutes and a full recompute.
    *
    * Verdict per new doc (earlier = smaller doc_id; keepers are min-id,
    * one-hop like llm_dedup_pipeline):
    *  - exact_dup: text appears among existing docs or earlier new docs;
    *    dup_of = min such doc_id.
    *  - near_dup: among exact survivors — some existing exact-REP or
    *    earlier surviving new doc in the same (lang, |Δn_chars| ≤ 10)
    *    block has token-set Jaccard ≥ 0.5; dup_of = min such doc_id.
    *  - kept otherwise. */
  private def incrementalVerdicts(s: SparkSession, d: String): DataFrame = {
    graft.functions.SortedIntersectSize.register(s)
    // toks/bucket derived only where consumed (r16, §2.3): the exact
    // stage's text-keyed groupBys/joins carry text, never the
    // tokenized corpus
    val docs = documents(s, d).select(col("doc_id"), col("lang"),
      col("n_chars"), col("text"),
      (pmod(col("doc_id"), lit(100L)) >= 80).as("is_new"))
    val existing = docs.filter(!col("is_new"))
    val newDocs = docs.filter(col("is_new"))
    // exact stage: one equi-join per side on the text (at scale: on
    // xxhash64(text) with in-group equality, as in the LSH collapse)
    val exMin = existing.groupBy(col("text")).agg(min(col("doc_id")).as("ex_of"))
    val nwMin = newDocs.groupBy(col("text")).agg(min(col("doc_id")).as("nw_first"))
    val staged = newDocs
      .join(exMin, Seq("text"), "left")
      .join(nwMin, Seq("text"), "left")
      .withColumn("nf", when(col("nw_first") < col("doc_id"), col("nw_first")))
      .withColumn("exact_of",
        when(col("nf").isNull, col("ex_of"))
          .when(col("ex_of").isNull, col("nf"))
          .when(col("ex_of") < col("nf"), col("ex_of"))
          .otherwise(col("nf")))
    val survNew = staged.filter(col("exact_of").isNull)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        sortedToks.as("toks"), floor(col("n_chars") / 10).as("bucket"))
    // near stage: candidates = existing exact-REPS ∪ earlier new
    // survivors; the blocked join PROBES with the new batch only
    val exReps = existing.join(
        exMin.select(col("ex_of").as("doc_id")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        sortedToks.as("toks"), floor(col("n_chars") / 10).as("bucket"),
        lit(false).as("cand_new"))
    val cand = exReps.unionByName(
      survNew.withColumn("cand_new", lit(true)))
    // r17 (guide §2.3 — explode the SMALL side): the ±1 bucket fan-out
    // moves from the candidate index (existing exact-reps ∪ new
    // survivors, the corpus-sized side) to the batch probe; |Δbucket|
    // ≤ 1 is symmetric so the matched pair set is identical, and the
    // (lang, bucket) exchange ships the index (with its token arrays)
    // once instead of three times.
    val right = cand
      .select(col("doc_id").as("doc_id2"), col("lang").as("lang2"),
        col("n_chars").as("n_chars2"), col("toks").as("toks2"),
        col("bucket"), col("cand_new"))
    val probeNd = survNew
      .withColumn("bucket",
        explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)))
    val nd = probeNd.join(right,
        col("lang") === col("lang2") &&
          probeNd("bucket") === right("bucket") &&
          (!col("cand_new") || col("doc_id2") < col("doc_id")) &&
          col("doc_id2") =!= col("doc_id") &&
          abs(col("n_chars") - col("n_chars2")) <= 10, "inner")
      .withColumn("inter", expr("sorted_intersect_size(toks, toks2)"))
      .filter(col("inter") /
        (size(col("toks")) + size(col("toks2")) - col("inter")) >= 0.5)
      .groupBy(col("doc_id")).agg(min(col("doc_id2")).as("nd_of"))
    staged.join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("exact_of").isNotNull, lit("exact_dup"))
          .when(col("nd_of").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("stage"),
        coalesce(col("exact_of"), col("nd_of")).as("dup_of"))
  }

  val queries: Map[String, Q] = Map(
    "llm_dedup_audit" -> ((s, d) =>
      auditVerdicts(s, d).orderBy(col("doc_id"))),

    "llm_dedup_incremental" -> ((s, d) =>
      incrementalVerdicts(s, d).orderBy(col("doc_id"))),

    "llm_exact_dedup" -> ((s, d) => {
      // r16 note: a min_by keeper rewrite was tried and REVERTED — the
      // rank-1 window compiles to WindowGroupLimit and measured faster
      // (0.59 s vs 0.74 s); see agg_mode.
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    }),

    // Deliberately NOT exact-collapse-first (unlike llm_minhash_lsh /
    // the embedding pair ops): this op's candidate volume ≈ its OUTPUT
    // volume (the blocked join has no band/cell multiplicity), so
    // collapsing and re-expanding replica pairs moves the same ~output
    // rows through two extra joins instead of one merge-scan — measured
    // 100 s vs 38 s at the 64× dup regime. Collapse pays only where
    // candidates exceed output by a structural factor.
    "llm_jaccard_pairs" -> ((s, d) => {
      graft.functions.SortedIntersectSize.register(s)
      val docs = documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          sortedToks.as("toks"), floor(col("n_chars") / 10).as("bucket"))
      Blocking.sizeBlockedPairs(docs, "toks")
        .withColumn("inter", expr("sorted_intersect_size(toks, toks2)"))
        .withColumn("j",
          col("inter") / (size(col("toks")) + size(col("toks2")) - col("inter")))
        .filter(col("j") >= 0.5)
        .select(col("doc_id"), col("doc_id2"), round(col("j"), 6).as("j"))
        .orderBy(col("doc_id"), col("doc_id2"))
    }),

    // Cross-language near-dup (round-2 add): the same text copied under a
    // different lang tag escapes every lang-blocked dedup stage above.
    // Blocking drops the lang equi-key — the size bucket alone carries the
    // join (same shuffled equi-join shape, coarser blocks) — and only
    // cross-lang pairs survive.
    //
    // Round-3 change: the exact-dedup-first precondition is ENFORCED
    // inside the op, not documented and hoped for. Pairing runs over
    // exact-dedup survivors (min doc_id per identical text — lang-
    // agnostic, so verbatim cross-lang copies collapse here too), which
    // is what keeps the op affordable: size-bucket blocks are coarse, so
    // per-block density grows with raw corpus size, and on a
    // duplicate-heavy corpus the raw pair volume is quadratic in dup
    // count (measured 92.5 s / 74.6M pairs at 16× replication in round
    // 2). Collapsing exact dups first removes exactly that mass — the
    // same exact-first ordering llm_dedup_pipeline measured FLAT — and
    // the op now reports only non-verbatim cross-lang near-copies.
    // Round-6 rework (the round-5 `weak`): candidates come from
    // Blocking.crossLangHybridPairs — the lossless prefix-filter /
    // frequent-token hybrid (see its scaladoc for the theorem) — so
    // candidate volume stays ~linear under distinct-doc corpus growth
    // (ScaleProbe `distinctdocs` mode) instead of quadratic in size-block
    // density, while the exact-Jaccard verify and output are unchanged.
    "llm_neardup_crosslang" -> ((s, d) => {
      graft.functions.SortedIntersectSize.register(s)
      // tau from the RAW row count (parquet metadata — no data read, no
      // extra shuffle): the threshold only splits the two lossless
      // channels, so the survivor-vs-raw difference is immaterial.
      val tau = math.max(documents(s, d).count() / 20L, 100L)
      // Exact-dedup-first as a single hash agg (min_by keeps the
      // smallest-id doc's attributes per identical text) — one shuffle,
      // no window sort. At 100 TB the groupBy key would be
      // xxhash128(text) with in-group equality; here the text itself
      // keys the agg so the oracle semantics are bit-exact.
      val surv = documents(s, d)
        .groupBy(col("text"))
        .agg(min_by(struct(col("doc_id"), col("lang"), col("n_chars")),
          col("doc_id")).as("m"))
      // The hybrid generator consumes `docs` five times (freq table,
      // prefix ranking, fallback join, two payload joins) — cut the
      // lineage once so the dedup agg isn't recomputed per consumer
      // (same conf-gated pattern as auditVerdicts' stage cuts).
      val docs0 = surv
        .select(col("m.doc_id").as("doc_id"), col("m.lang").as("lang"),
          col("m.n_chars").as("n_chars"), sortedToks.as("toks"),
          floor(col("m.n_chars") / 10).as("bucket"))
      val docs =
        if (s.conf.getOption("spark.graft.checkpointStages")
            .exists(_.equalsIgnoreCase("false"))) docs0
        else docs0.localCheckpoint()
      Blocking.crossLangHybridPairs(docs, 0.5, tau)
        .withColumn("inter", expr("sorted_intersect_size(toks, toks2)"))
        .withColumn("j",
          col("inter") / (size(col("toks")) + size(col("toks2")) - col("inter")))
        .filter(col("j") >= 0.5)
        .select(col("doc_id"), col("lang"), col("doc_id2"), col("lang2"),
          round(col("j"), 6).as("j"))
        .orderBy(col("doc_id"), col("doc_id2"))
    }),

    // Approximate near-dup candidates — no SQL oracle (ScalaTest asserts
    // recall against llm_jaccard_pairs ground truth instead). Candidates
    // End-to-end dedup pipeline (composition showcase): stage 1 exact
    // dedup (keep min doc_id per identical text), stage 2 near-dup drop
    // among the survivors — x is dropped iff an earlier survivor y has
    // token-set Jaccard ≥ 0.5 under the standard (lang, |Δn_chars| ≤ 10)
    // blocking. Emits every doc with its verdict + representative, so the
    // output is both the kept corpus (stage='kept') and the dedup audit
    // trail. One-hop keep-first (no transitive closure) — deterministic
    // and SQL-expressible for the oracle.
    "llm_dedup_pipeline" -> ((s, d) =>
      dedupVerdicts(s, d).orderBy(col("doc_id"))),

    // Transitive dedup clustering — the iterative-graph capability. The
    // pipeline's `dup_of` edges form a forest (every edge points to a
    // strictly smaller id); the cluster id of a doc is the root of its
    // chain. Computed by POINTER JUMPING: each round replaces every
    // node's label with its label's label (one self-join), halving chain
    // depth — fixpoint in ceil(log2(depth)) rounds. The driver loop only
    // checks a convergence flag (isEmpty); all data stays distributed —
    // the same driver-coordinated shape GraphX/connected-components uses.
    "llm_dedup_clusters" -> ((s, d) =>
      dedupClusters(s, d).orderBy(col("doc_id"))),

    // Cluster-then-keep-best (round-8 add): the selection policy real
    // dedup pipelines run — within each duplicate cluster keep the
    // HIGHEST-QUALITY member (ties → smallest doc_id), not the smallest
    // id. Composes the pointer-jumped clusters with the quality score's
    // exact-decimal arithmetic (D2: decimal comparisons are
    // engine-portable; a double-scored argmax could flip on a rounding
    // tie). The argmax is a min-struct aggregation on cluster_id plus
    // one cluster-keyed equi-join back — never a per-cluster window, so
    // a pathological giant cluster costs a partial-agg, not a
    // single-partition sort.
    "llm_dedup_keep_best" -> ((s, d) =>
      keepBestOf(s, documents(s, d), TrainingDataOps.qualityDecimal(s, d))
        .select(col("doc_id"), col("cluster_id"),
          col("q").cast("double").as("quality"), col("keep"))
        .orderBy(col("doc_id"))),

    // Incremental keep-best (round-9 add): the verdict-CHURN table a
    // daily ingest emits — llm_dedup_incremental's asymmetric batch
    // split (doc_id % 100 >= 80 is the arriving batch) composed with
    // llm_dedup_keep_best's selection policy. The load-bearing case is
    // keeper DISPLACEMENT: when a new doc joins an existing cluster
    // with a better quality score, the incumbent keeper loses its slot
    // — a fact no stateless keep-best output can express, and exactly
    // the delta a downstream training-mix builder must consume
    // (drop the displaced doc, add the newcomer). Verdicts: existing
    // docs are retained / displaced / promoted / dup; batch docs are
    // new_keeper / new_dup. Here both epochs are derived from the one
    // corpus by the deterministic split (the harness has no temporal
    // axis); a deployment persists the previous epoch's (doc_id,
    // cluster_id, keep) state and pays only the new batch's clustering
    // — the same asymmetric-probe shape llm_dedup_incremental pins.
    "llm_dedup_keep_best_incremental" -> ((s, d) => {
      val docs = documents(s, d)
      val q = TrainingDataOps.qualityDecimal(s, d)
      val existing = docs.filter(pmod(col("doc_id"), lit(100L)) < 80)
      val before = keepBestOf(s, existing, q)
        .select(col("doc_id"), col("keep").as("was_keep"))
      val after = keepBestOf(s, docs, q)
      after.join(before, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id"),
          col("q").cast("double").as("quality"), col("keep"),
          when(col("was_keep").isNull,
            when(col("keep"), lit("new_keeper")).otherwise(lit("new_dup")))
            .when(col("was_keep") && col("keep"), lit("retained"))
            .when(col("was_keep") && !col("keep"), lit("displaced"))
            .when(col("keep"), lit("promoted"))
            .otherwise(lit("dup")).as("verdict"))
        .orderBy(col("doc_id"))
    }),

    // Persisted-state incremental keep-best (round-10 add): the
    // deployment shape — the prior epoch's verdict state and survivor
    // index are STAGED TO PARQUET (the once-per-epoch cost), and the
    // continuing query derives the new epoch from the persisted state
    // plus the batch alone: batch-only documents scans (PlanShapeSpec
    // asserts the doc_id >= thr pushdown on every one), an asymmetric
    // probe against the survivor index, a batch-sized pointer-jump
    // closure with prior cluster ids as terminal labels, and a
    // keep-best argmax contending only prior keepers of affected
    // clusters. Sound under the id-ordered epoch split — see the
    // theorem block on keepBestPersistedFrom; the oracle recomputes
    // both epochs from scratch, so the hash-match re-proves the
    // equivalence per corpus.
    "llm_dedup_keep_best_persisted" -> ((s, d) => {
      val thr = epochThreshold(s, d)
      stageEpochStateOnce(s, d, thr)
      val (stateDir, survDir) = epochDirs(d)
      keepBestPersistedFrom(s, d, thr,
        s.read.parquet(stateDir), s.read.parquet(survDir))
    }),

    // carry the same (lang, n_chars/10 ± 1) blocking as the exact-Jaccard
    // truth: the corpus is a small-vocabulary word soup, so unigram-set
    // band buckets are dense — unblocked LSH degenerates toward O(n²)
    // candidates (measured 41 s at sf0.1 vs <2 s blocked) while the truth
    // it approximates is block-restricted anyway.
    "llm_minhash_lsh" -> ((s, d) => {
      // Exact-duplicate collapse FIRST (round-6; the dedup-first
      // discipline the pipeline ops measured flat): identical
      // (text, lang) docs share sketch, bands, bucket and lang — so
      // band only ONE representative per group. Without this, k
      // verbatim replicas multiply every band bucket by k and the band
      // join emits ~32·k² rows per base pair into the distinct
      // (identical docs agree on ALL 32 bands — the 64× ScaleProbe
      // regime OOM'd a 128 GiB JVM on exactly that); with it the band
      // join runs at distinct-text scale and the replica pairs are
      // reconstructed by expansion joins whose row count equals the
      // OUTPUT, never a band-multiplied intermediate. Output set is
      // provably unchanged: within a group every pair shares all bands
      // (J = 1 candidates, always admitted); across groups band/lang/
      // bucket agreement is a pure function of (text, lang).
      val docs = documents(s, d)
      val reps = docs.groupBy(col("text"), col("lang"))
        .agg(min(col("doc_id")).as("rep_id"),
          min(col("n_chars")).as("n_chars"))
      val members = docs.join(reps, Seq("text", "lang"))
        .select(col("rep_id"), col("doc_id"))
      val banded = reps
        .select(col("rep_id"), col("lang"), col("n_chars"),
          floor(col("n_chars") / 10).as("bucket"),
          explode(bandsUdf(toks)).as("band_sig"))
      val a = banded
      val b = banded
        .withColumn("bucket",
          explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)))
        .select(col("rep_id").as("rep_id2"), col("lang").as("lang2"),
          col("n_chars").as("n_chars2"), col("bucket"),
          col("band_sig").as("band_sig2"))
      val repPairs = a.join(b, col("band_sig") === col("band_sig2") &&
          col("lang") === col("lang2") && a("bucket") === b("bucket") &&
          col("rep_id") < col("rep_id2") &&
          abs(col("n_chars") - col("n_chars2")) <= 10, "inner")
        .select(col("rep_id"), col("rep_id2"))
        .distinct()
      // cross-group expansion: each rep pair fans out to its member
      // cross product, orientation normalized doc_id < doc_id2 via
      // least/greatest (members of two groups interleave in id space)
      val m1 = members.select(col("rep_id").as("r1"), col("doc_id").as("d1"))
      val m2 = members.select(col("rep_id").as("r2"), col("doc_id").as("d2"))
      val cross = repPairs
        .join(m1, col("rep_id") === col("r1"))
        .join(m2, col("rep_id2") === col("r2"))
        .select(least(col("d1"), col("d2")).as("doc_id"),
          greatest(col("d1"), col("d2")).as("doc_id2"))
      // within-group pairs: verbatim replicas always co-band
      val within = m1.join(m2,
          col("r1") === col("r2") && col("d1") < col("d2"), "inner")
        .select(col("d1").as("doc_id"), col("d2").as("doc_id2"))
      // cross and within are disjoint and each internally duplicate-free
      // (rep pairs are distinct; member ids are unique) — no final
      // distinct over the expanded set
      cross.unionAll(within).orderBy(col("doc_id"), col("doc_id2"))
    }),

    // Incremental (ingest-batch) MinHash-LSH dedup (round-10): probe the
    // NEW batch (doc_id % 100 ≥ 80 — the same val+test split as
    // llm_dedup_incremental) against the already-ingested corpus's band
    // index. This is the production shape at 100 TB: the corpus index is
    // persisted once and a GB-scale ingest must never re-band or re-pair
    // the corpus against itself. Verdict per new doc: `band_dup` with
    // dup_of = the min admissible candidate (an existing doc of ANY id,
    // or an earlier new doc) sharing ≥ 1 of the 32 band signatures
    // inside the (lang, |Δn_chars| ≤ 10) block — verbatim replicas share
    // all bands, so exact dups are subsumed; `kept` otherwise.
    //
    // Scale shape: the same collapse-first discipline as llm_minhash_lsh
    // (one banded row per (text, lang) group — identical docs share
    // sketch/bands/block, so banding members would multiply every bucket
    // by the replica count), PLUS the incremental asymmetry: the band
    // join's probe side carries only reps of groups containing ≥ 1 new
    // doc, so candidate volume is O(|new groups| · bucket density),
    // never O(corpus²). The member-level expansion then emits exactly
    // the admissible (new, candidate) pairs — row count equals the
    // pair-semantics output — and a map-side-combining min-agg folds
    // them to one verdict per new doc. Rep-collapse invisibility is the
    // minhash oracle's theorem (1) verbatim: band/block agreement is a
    // pure function of (text, lang) under n_chars == length(text), and
    // the id-dependent admissibility ((¬is_new(c)) ∨ c < n) is applied
    // at member level on both sides of the expansion.
    "llm_minhash_lsh_incremental" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars"), col("text"),
        (pmod(col("doc_id"), lit(100L)) >= 80).as("is_new"))
      val groups = docs.groupBy(col("text"), col("lang"))
        .agg(min(col("doc_id")).as("rep_id"),
          min(col("n_chars")).as("n_chars"),
          max(col("is_new")).as("has_new"))
      val banded = groups
        .select(col("rep_id"), col("lang"), col("n_chars"),
          col("has_new"), floor(col("n_chars") / 10).as("bucket"),
          explode(bandsUdf(toks)).as("band_sig"))
      // asymmetric probe: only groups that carry a new doc ever probe.
      // r17 (guide §2.3 — explode the SMALL side): the ±1 bucket
      // fan-out rides the probe (new-carrying groups), not the full
      // banded index; |Δbucket| ≤ 1 is symmetric so the matched pair
      // set is identical and the band-key exchange ships the index
      // once instead of three times
      val probe = banded.filter(col("has_new"))
        .withColumn("bucket",
          explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)))
        .select(col("rep_id"), col("lang"), col("n_chars"),
          col("bucket"), col("band_sig"))
      val index = banded
        .select(col("rep_id").as("rep_id2"), col("lang").as("lang2"),
          col("n_chars").as("n_chars2"), col("bucket"),
          col("band_sig").as("band_sig2"))
      val repPairs = probe.join(index,
          col("band_sig") === col("band_sig2") &&
            col("lang") === col("lang2") &&
            probe("bucket") === index("bucket") &&
            col("rep_id") =!= col("rep_id2") &&
            abs(col("n_chars") - col("n_chars2")) <= 10, "inner")
        .select(col("rep_id"), col("rep_id2"))
        .distinct()
      // within-group candidates co-band trivially (identical sketches):
      // a self rep-pair per probe group, admissibility filtered below
      val selfPairs = groups.filter(col("has_new"))
        .select(col("rep_id"), col("rep_id").as("rep_id2"))
      val members = docs
        .join(groups.select(col("text"), col("lang"), col("rep_id")),
          Seq("text", "lang"))
        .select(col("rep_id"), col("doc_id"), col("is_new"))
      val probes = members.filter(col("is_new"))
        .select(col("rep_id"), col("doc_id"))
      val cands = members.select(col("rep_id").as("rep_id2"),
        col("doc_id").as("cand_id"), col("is_new").as("cand_new"))
      val matched = repPairs.unionAll(selfPairs)
        .join(probes, Seq("rep_id"))
        .join(cands, Seq("rep_id2"))
        .filter(((!col("cand_new")) || col("cand_id") < col("doc_id")) &&
          col("cand_id") =!= col("doc_id"))
        .groupBy(col("doc_id")).agg(min(col("cand_id")).as("dup_of"))
      docs.filter(col("is_new"))
        .join(matched, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("dup_of").isNotNull, lit("band_dup"))
            .otherwise(lit("kept")).as("stage"),
          col("dup_of"))
        .orderBy(col("doc_id"))
    }),

    // Persisted band-index MinHash-LSH dedup (round-10 add): the sketch
    // family's DEPLOYMENT shape, completing the trio with
    // llm_dedup_keep_best_persisted — the existing corpus's band index
    // (one banded rep per (text, lang) group, O(distinct texts · 32)
    // rows) is STAGED TO PARQUET once per epoch, and the continuing
    // query bands only the id-ordered batch (doc_id ≥ thr, the same
    // 80% cut as keep_best_persisted) and probes the staged index.
    // Verdicts match the full band-pair semantics restricted to the
    // batch: dup_of(n) = min{c : {c, n} a band-candidate pair, c < n}
    // (id-ordering makes every existing doc admissible, so the %100
    // op's two-sided is_new clause degenerates to c < n). The oracle
    // recomputes everything from scratch via the shared band-arithmetic
    // mirror, so the hash-match re-proves the persisted derivation.
    "llm_minhash_lsh_persisted" -> ((s, d) => {
      val thr = epochThreshold(s, d)
      stageMinhashIndexOnce(s, d, thr)
      minhashLshPersistedFrom(s, d, thr,
        s.read.parquet(minhashIndexDir(d)))
    }),

    "llm_cosine_topk" -> ((s, d) => {
      val emb = embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
      val withDot = emb.withColumn("self_dot",
        aggregate(zip_with(col("vec"), col("vec"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x))
      val q = withDot.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
          col("self_dot").as("q_dot"))
      val c = withDot.select(col("vec_id").as("c_id"), col("vec").as("c_vec"),
        col("self_dot").as("c_dot"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("c_id"))
      c.join(broadcast(q), col("q_id") =!= col("c_id"), "inner")
        .withColumn("dot",
          aggregate(zip_with(col("q_vec"), col("c_vec"), (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x))
        .withColumn("sim",
          round(col("dot") / (sqrt(col("q_dot")) * sqrt(col("c_dot"))), 6))
        .withColumn("rn", row_number().over(w))
        // AnnOps.TopK, not a literal: llm_ann_recall compares this
        // exact truth against the IVF shortlist at the same k (r16)
        .filter(col("rn") <= AnnOps.TopK)
        .select(col("q_id").as("vec_id"), col("c_id").as("vec_id2"),
          col("sim"), col("rn"))
        .orderBy(col("vec_id"), col("rn"))
    }),

    "llm_text_stats" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("int").as("n_tokens"),
        size(toks).cast("int").as("n_distinct"),
        round(
          aggregate(transform(split(col("text"), " "),
            w => length(w).cast("double")), lit(0.0), (acc, x) => acc + x)
            / size(split(col("text"), " ")), 4).as("avg_token_len"),
        (col("n_chars") === length(col("text"))).as("valid"))
        .orderBy(col("doc_id"))),

    "llm_tfidf_topterms" -> ((s, d) => {
      val tok = documents(s, d)
        .select(col("lang"), col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy(col("lang"), col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val byTerm = tf.groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("sum_tf"))
      val n = documents(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      val scored = byTerm.join(n, "lang")
        .withColumn("score",
          round(col("sum_tf") *
            round(log(col("n_docs").cast("double") / col("df")), 6), 6))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("score").desc, col("term"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("term"), col("score"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    }),

    // Zipf rank-frequency fit (round-5 add): OLS of ln(count) on
    // ln(rank) over the corpus vocabulary — the power-law exponent
    // (slope ≈ −1 for natural text) that tells a corpus planner how
    // skewed the token distribution is before sizing shuffles and
    // salting. Exactness: each point's ln rounds ONCE to 6 dp and is
    // decimal-cast, so the five moment sums reduce order-independently
    // (agg_regression's D2 discipline on derived points); the global
    // rank window runs on the post-agg VOCABULARY (tiny), never the
    // corpus. 1-row output.
    "llm_zipf_fit" -> ((s, d) => {
      val tf = documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      // micro-nat fixed point (llm_ngram_lm idiom): each point's ln
      // rounds ONCE to an integer micro-unit, per-row products stay in
      // long (≤ ~3.4e14), only the unbounded SUMS go through decimal
      val ranked = tf.withColumn("rnk",
        row_number().over(Window.orderBy(col("cnt").desc, col("term"))))
        .select(
          round(log(col("rnk").cast("double")) * 1e6, 0).cast("long")
            .as("xu"),
          round(log(col("cnt").cast("double")) * 1e6, 0).cast("long")
            .as("yu"))
      val d0 = DecimalType(38, 0)
      ranked.agg(count(lit(1)).as("n"),
          sum(col("xu").cast(d0)).cast("double").as("sx"),
          sum(col("yu").cast(d0)).cast("double").as("sy"),
          sum((col("xu") * col("yu")).cast(d0)).cast("double").as("sxy"),
          sum((col("xu") * col("xu")).cast(d0)).cast("double").as("sxx"))
        .select(col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("zipf_slope"),
          round((col("sy") / col("n") -
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))) *
              (col("sx") / col("n"))) / lit(1e6), 6).as("intercept"))
    }),

    // BM25 relevance search (round-5 add): Okapi BM25 (k1=1.2, b=0.75)
    // of every document against a fixed 3-term query — the lexical
    // retrieval capability beside the ANN family. Scale shape: the
    // corpus tokenizes ONCE with the term filter applied right at the
    // explode (per-doc survivors ≤ |query|), tf is a (doc, term) agg of
    // that filtered stream, df/N/Σdl are tiny broadcast aggregates, so
    // the expensive side never shuffles more than |query|·docs rows.
    // Determinism: every input to the score is an exact integer (tf,
    // df, N, dl, Σdl); idf and each per-term score round once (D4,
    // tfidf discipline); the ≤3 per-term scores add in FIXED order via
    // a conditional pivot (never a float sum() whose partition order
    // could differ); top-20 carries the doc_id tie-break (D1).
    // Hybrid retrieval via RECIPROCAL-RANK FUSION (round-15 add;
    // Cormack et al., SIGIR'09 — the standard dense+sparse fusion step
    // every RAG retrieval stack runs): per query (the vec_id < 10 set
    // the serving family shares), fuse the DENSE shortlist (exact
    // cosine top-50, the llm_cosine_topk machinery and rounding) with
    // a SPARSE lexical shortlist (distinct-token Jaccard top-50 over
    // the embedded corpus slice); RRF(d) = Σ_lists 1/(60 + rank_l(d)),
    // absent-from-a-list contributes 0, final top-5 by (rrf DESC, id).
    // Scale shape: both shortlist stages are the broadcast-query
    // corpus-stream pattern (queries broadcast, corpus streams past
    // once per ranker, per-query top-k windows); the fusion is a
    // (q, cand)-keyed join of two ≤ 50·|q|-row shortlists — at 100 TB
    // the rankers swap in their ANN/inverted-index variants and the
    // fusion stage is unchanged (its inputs are already shortlists).
    // Determinism: ranks are ints, 1/(60+r) is one correctly-rounded
    // IEEE division and one sum — bit-identical across engines, no
    // rounding needed on the compare path.
    "llm_hybrid_rrf" -> ((s, d) => {
      val emb = embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
      val withDot = emb.withColumn("self_dot",
        aggregate(zip_with(col("vec"), col("vec"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x))
      val qd = withDot.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
          col("self_dot").as("q_dot"))
      val dW = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("c_id"))
      val dense = withDot
        .select(col("vec_id").as("c_id"), col("vec").as("c_vec"),
          col("self_dot").as("c_dot"))
        .join(broadcast(qd), col("q_id") =!= col("c_id"), "inner")
        .withColumn("sim",
          round(aggregate(zip_with(col("q_vec"), col("c_vec"),
              (x, y) => x * y), lit(0.0), (acc, x) => acc + x) /
            (sqrt(col("q_dot")) * sqrt(col("c_dot"))), 6))
        .withColumn("r_dense", row_number().over(dW))
        .filter(col("r_dense") <= 50)
        .select(col("q_id"), col("c_id"), col("r_dense"))
      val dtok = documents(s, d)
        .join(embeddings(s, d).select(col("vec_id")),
          col("doc_id") === col("vec_id"), "inner")
        .select(col("doc_id"),
          array_distinct(split(col("text"), " ")).as("tok"))
      val qt = dtok.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("tok").as("q_tok"))
      val sW = Window.partitionBy(col("q_id"))
        .orderBy(col("jac").desc, col("c_id"))
      val sparse = dtok
        .select(col("doc_id").as("c_id"), col("tok").as("c_tok"))
        .join(broadcast(qt), col("q_id") =!= col("c_id"), "inner")
        .withColumn("inter",
          size(array_intersect(col("q_tok"), col("c_tok"))))
        .withColumn("jac", col("inter").cast("double") /
          (size(col("q_tok")) + size(col("c_tok")) - col("inter")))
        .withColumn("r_sparse", row_number().over(sW))
        .filter(col("r_sparse") <= 50)
        .select(col("q_id"), col("c_id"), col("r_sparse"))
      val fW = Window.partitionBy(col("q_id"))
        .orderBy(col("rrf").desc, col("c_id"))
      dense.join(sparse, Seq("q_id", "c_id"), "full")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_sparse")), lit(0.0)))
        .withColumn("rn", row_number().over(fW))
        .filter(col("rn") <= 5)
        .select(col("q_id").as("vec_id"), col("c_id").as("vec_id2"),
          col("r_dense"), col("r_sparse"), col("rrf"), col("rn"))
        .orderBy(col("vec_id"), col("rn"))
    }),

    // ANN-backed hybrid retrieval (round-16 add; the r15 verdict's
    // missing composition): the 100 TB deployment shape of
    // llm_hybrid_rrf — RRF over SHORTLISTS from the two production
    // rankers instead of two exact corpus scans. Dense leg = the IVF
    // probe core (annIvfVerdictsCore — llm_ann_ivf's machinery
    // verbatim) cut at ShortK; sparse leg = per-query BM25 (the
    // llm_bm25 scoring formula verbatim, with the query doc's
    // DISTINCT tokens as the query instead of the fixed 3-term one)
    // cut at ShortK; fusion = the identical RRF stage (1/(60+rank),
    // absence contributes 0, top-TopK by rrf DESC, id). Scale shape:
    // the corpus streams ONCE per ranker (IVF: cells × broadcast
    // probes, no corpus shuffle; BM25: the token stream semi-joins
    // the broadcast query-term table BEFORE the tf agg, so only
    // query-term postings ever aggregate) and everything downstream
    // of the two rank windows is shortlist-sized. Determinism: each
    // per-term BM25 score rounds once at 6 dp (the llm_bm25
    // arithmetic) then sums as exact micro-unit longs — variable
    // per-query term counts forbid llm_bm25's fixed-order 3-term
    // pivot, and long addition commutes, so partition order cannot
    // perturb a rank (the micro-unit discipline).
    "llm_hybrid_rrf_ann" -> ((s, d) => {
      graft.functions.CosineSimilarity.register(s)
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val dense = AnnOps.annIvfVerdictsCore(q, emb,
          AnnOps.centroids(emb), AnnOps.ShortK)
        .select(col("vec_id").as("q_id"), col("vec_id2").as("c_id"),
          col("rn").as("r_dense"))
      val docs = documents(s, d)
        .join(emb.select(col("vec_id")),
          col("doc_id") === col("vec_id"), "inner")
        .select(col("doc_id"), col("text"))
      val dl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("dl"))
      val g = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl").cast("long")).as("sum_dl"))
      val qtok = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"),
          explode(array_distinct(split(col("text"), " "))).as("term"))
      val qterms = qtok.select(col("term")).distinct()
      val tfq = docs
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .join(broadcast(qterms), Seq("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tfq.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val su = tfq.join(broadcast(qtok), Seq("term"))
        .filter(col("q_id") =!= col("doc_id"))
        .join(broadcast(df), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(g))
        .withColumn("idf",
          round(log((col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)), 6))
        .withColumn("su",
          round(round(col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
              lit(0.75) * (col("dl") * col("n_docs")) / col("sum_dl"))),
            6) * lit(1e6)).cast("long"))
      val sW = Window.partitionBy(col("q_id"))
        .orderBy(col("score_u").desc, col("doc_id"))
      val sparse = su.groupBy(col("q_id"), col("doc_id"))
        .agg(sum(col("su")).as("score_u"))
        .withColumn("r_sparse", row_number().over(sW))
        .filter(col("r_sparse") <= AnnOps.ShortK)
        .select(col("q_id"), col("doc_id").as("c_id"),
          col("r_sparse"))
      val fW = Window.partitionBy(col("q_id"))
        .orderBy(col("rrf").desc, col("c_id"))
      dense.join(sparse, Seq("q_id", "c_id"), "full")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_sparse")), lit(0.0)))
        .withColumn("rn", row_number().over(fW))
        .filter(col("rn") <= AnnOps.TopK)
        .select(col("q_id").as("vec_id"), col("c_id").as("vec_id2"),
          col("r_dense"), col("r_sparse"), col("rrf"), col("rn"))
        .orderBy(col("vec_id"), col("rn"))
    }),

    "llm_bm25" -> ((s, d) => {
      val docs = documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("dl"))
      val g = docs.agg(count(lit(1)).as("n_docs"),
        sum(col("dl").cast("long")).as("sum_dl"))
      val tf = documents(s, d)
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term").isin("spark", "table", "fast"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val sc = tf.join(broadcast(df), "term")
        .join(docs, "doc_id").crossJoin(broadcast(g))
        .withColumn("idf",
          round(log((col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)), 6))
        .withColumn("s",
          round(col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
              lit(0.75) * (col("dl") * col("n_docs")) / col("sum_dl"))),
            6))
      sc.groupBy(col("doc_id"))
        .agg(max(when(col("term") === "spark", col("s"))).as("s1"),
          max(when(col("term") === "table", col("s"))).as("s2"),
          max(when(col("term") === "fast", col("s"))).as("s3"))
        .withColumn("bm25",
          round(coalesce(col("s1"), lit(0.0)) +
            coalesce(col("s2"), lit(0.0)) +
            coalesce(col("s3"), lit(0.0)), 6))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    }),

    // Nearest-centroid assignment (round-5 add): every embedding
    // assigned to its max-cosine centroid, centroids = the 8 smallest
    // vec_ids (a deterministic seed set — one Lloyd assignment step,
    // the building block IVF's coarse quantizer trains with). Scale
    // shape: 8 centroids broadcast; the corpus streams past them once
    // (8 sims/row, no shuffle before the per-vector argmax window keyed
    // by vec_id); same zip_with/aggregate double dot product and D4
    // rounding the cosine family hash-matches with. Ties break to the
    // smaller centroid id (D1).
    "llm_cluster_assign" -> ((s, d) => {
      val emb = embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
      val withDot = emb.withColumn("self_dot",
        aggregate(zip_with(col("vec"), col("vec"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x))
      val cen = withDot.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("vec").as("c_vec"),
          col("self_dot").as("c_dot"))
      // r16 note: a max_by(struct) rewrite was tried and REVERTED —
      // WindowGroupLimit beat the SortAggregate fallback (0.61 s vs
      // 0.75 s); see agg_mode.
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("c_id"))
      withDot.crossJoin(broadcast(cen))
        .withColumn("dot",
          aggregate(zip_with(col("vec"), col("c_vec"), (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x))
        .withColumn("sim",
          round(col("dot") / (sqrt(col("self_dot")) * sqrt(col("c_dot"))),
            6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("c_id").as("cluster_id"), col("sim"))
        .orderBy(col("vec_id"))
    })
  )

  /** DuckDB mirror of `llm_minhash_lsh` (round-9: the op graduates
    * from the no-oracle set). The candidate set is a pure function of
    * fixed integer constants, so the WHOLE band arithmetic is mirrored
    * in SQL: murmur3 string hashes (32-bit wraparound emulated with
    * `% 2^32` on HUGEINT products, rotations as shift-add), the
    * 61-bit Mersenne affine permutations (exact via HUGEINT), and the
    * banded signature fold. The permutation coefficients are embedded
    * from [[graft.functions.MinHash.coefficients]] — same constants,
    * zero transcription. Two simplifications are THEOREMS, not
    * approximations: (1) the rep-collapse + expansion is invisible to
    * the output (identical (text, lang) docs share every band, and a
    * cross-group member pair qualifies iff its rep pair does), so the
    * oracle states the direct pairwise condition; (2) the ±1 bucket
    * clause is implied by |Δn_chars| ≤ 10 (floor(n/10) moves at most 1
    * in 10 chars). Theorem (1) additionally relies on the corpus
    * invariant n_chars == length(text) (n_chars a pure function of
    * text, pinned by llm_text_stats' valid flag): the op blocks rep
    * pairs on min(n_chars) per (text, lang) group while this oracle
    * applies |Δn_chars| ≤ 10 per member doc — equivalent only when
    * identical texts carry identical n_chars. MinHashPinSpec pins the
    * Scala constants this SQL was validated against. All math on the
    * murmur path stays in unsigned-32 representation (non-negative
    * BIGINTs), where Java's signed two's-complement multiply/xor
    * agree mod 2^32 and `>>>` is plain integer division. */
  private def minhashOracleSql: String =
    s"""WITH $minhashBandCtes,
       meta AS (SELECT doc_id, lang, n_chars FROM documents)
       SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS doc_id2
       FROM bsig x JOIN bsig y
         ON x.band_sig = y.band_sig AND x.doc_id < y.doc_id
       JOIN meta ma ON ma.doc_id = x.doc_id
       JOIN meta mb ON mb.doc_id = y.doc_id
       WHERE ma.lang = mb.lang AND abs(ma.n_chars - mb.n_chars) <= 10
       ORDER BY 1, 2"""

  /** The CTE chain both minhash oracles share — computes every doc's 32
    * banded signatures as `bsig(doc_id, band_sig)` (murmur3 string
    * hashes, 61-bit Mersenne affine permutations, banded signature
    * fold; see the theorem discussion on [[minhashOracleSql]]). */
  private def minhashBandCtes: String = {
    val P = (1L << 61) - 1
    val StringSeed = 0xf7ca7fd2L
    val ArraySeed = 0x3c074a61L
    val mixL = MurmurSql.mix("acc", "x")
    val perms = graft.functions.MinHash.coefficients.zipWithIndex
      .map { case ((a, b), i) => s"($i,$a,$b)" }.mkString(",")
    s"""perms(i, a, b) AS (VALUES $perms),
       tok AS (SELECT doc_id, lang, n_chars,
                 unnest(list_distinct(string_split(text, ' '))) AS w
               FROM documents),
       tw AS (SELECT DISTINCT w FROM tok),
       ${MurmurSql.stringHashCtes("", "tw", StringSeed)},
       mins AS (
         SELECT t.doc_id, p.i,
                min(CAST((CAST(p.a AS HUGEINT) * wh.h + p.b) % $P
                  AS BIGINT)) AS v
         FROM tok t JOIN whash wh ON t.w = wh.w CROSS JOIN perms p
         GROUP BY 1, 2),
       bandvals AS (
         SELECT doc_id, i // 4 AS band,
                list(xor(v, v // 4294967296) % 4294967296 ORDER BY i) AS ds
         FROM mins GROUP BY 1, 2),
       bf0 AS (SELECT doc_id, band,
                 list_reduce(list_prepend($ArraySeed, ds),
                   (acc, x) -> $mixL) AS f
               FROM bandvals),
       ${MurmurSql.avalanche("b", "bf0", "f", 4)},
       bsig AS (SELECT doc_id, band * 4294967296 + av AS band_sig
                FROM bout)"""
  }

  /** DuckDB mirror of the incremental/persisted verdict ops,
    * parameterized by the batch predicate `isNewSql`: the same band
    * arithmetic as [[minhashOracleSql]] — theorems (1) and (2) there
    * apply unchanged (the ops' rep-collapse + expansion is invisible
    * because band/block agreement is a pure function of (text, lang)
    * under the n_chars == length(text) invariant, and the id-dependent
    * admissibility is applied per member on both sides; for the
    * persisted op the existing side needs no expansion at all — under
    * id-ordering min admissible existing member = the group rep) —
    * with the pairwise condition restricted to the probe: x is a batch
    * doc, y is an existing doc (any id) or an earlier batch doc
    * (y.doc_id < x.doc_id). The oracle always recomputes everything
    * from scratch, so for the persisted op a hash-match re-proves the
    * staged-index derivation per corpus. */
  /** DuckDB mirror of `stream_minhash_ingest` (StreamingOps §2.I): with
    * every doc "new", [[minhashVerdictOracleSql]]'s semantics collapse
    * to the horizon-free truth dup_of(n) = min{c < n : {c,n} a
    * band-candidate pair} — exactly what the id-ordered micro-batch
    * chain computes (the MinhashChainSpec pair-set-truth theorem; the
    * streaming op asserts the id-ordering precondition per batch). */
  private[graft] def minhashIngestOracleSql: String =
    minhashVerdictOracleSql("TRUE")

  private def minhashVerdictOracleSql(isNewSql: String): String =
    s"""WITH $minhashBandCtes,
       meta AS (SELECT doc_id, lang, n_chars,
                  $isNewSql AS is_new FROM documents),
       m AS (SELECT x.doc_id, min(y.doc_id) AS dup_of
             FROM bsig x
             JOIN meta mx ON mx.doc_id = x.doc_id
             JOIN bsig y ON x.band_sig = y.band_sig
               AND y.doc_id != x.doc_id
             JOIN meta my ON my.doc_id = y.doc_id
             WHERE mx.is_new
               AND (NOT my.is_new OR y.doc_id < x.doc_id)
               AND mx.lang = my.lang
               AND abs(mx.n_chars - my.n_chars) <= 10
             GROUP BY 1)
       SELECT d.doc_id AS doc_id, d.lang AS lang,
              CASE WHEN m.dup_of IS NOT NULL THEN 'band_dup'
                   ELSE 'kept' END AS stage,
              m.dup_of AS dup_of
       FROM meta d LEFT JOIN m ON m.doc_id = d.doc_id
       WHERE d.is_new ORDER BY d.doc_id"""

  /** The recursive dedup-cluster CTE chain over `src`, every CTE name
    * suffixed so TWO epochs can coexist in one WITH RECURSIVE — the
    * incremental keep-best oracle clusters the existing subset and the
    * full corpus side by side. Mirrors the llm_dedup_clusters oracle
    * exactly (exact keeper window, blocked Jaccard `nd`, forest walk,
    * min-root labels) and appends the per-cluster quality rank (reads
    * the `qq` CTE the caller must define). */
  private def clusterCtes(sfx: String, src: String): String =
    s"""keep$sfx AS MATERIALIZED (SELECT doc_id, lang, n_chars, text,
              min(doc_id) OVER (PARTITION BY text) AS keeper
            FROM $src),
       surv$sfx AS MATERIALIZED (
            SELECT * FROM keep$sfx WHERE doc_id = keeper),
       tok$sfx AS MATERIALIZED (SELECT DISTINCT doc_id,
              unnest(string_split(text, ' ')) AS w FROM surv$sfx),
       card$sfx AS (SELECT doc_id, count(*) AS nt FROM tok$sfx
            GROUP BY 1),
       pair$sfx AS (SELECT b.doc_id AS doc_id, a.doc_id AS cand,
              count(*) AS inter
            FROM tok$sfx a
            JOIN tok$sfx b ON a.w = b.w AND a.doc_id < b.doc_id
            JOIN surv$sfx sa ON sa.doc_id = a.doc_id
            JOIN surv$sfx sb ON sb.doc_id = b.doc_id
            WHERE sa.lang = sb.lang
              AND abs(sa.n_chars - sb.n_chars) <= 10
            GROUP BY 1, 2),
       nd$sfx AS (SELECT p.doc_id, min(cand) AS nd_of
            FROM pair$sfx p
            JOIN card$sfx ca ON ca.doc_id = p.cand
            JOIN card$sfx cb ON cb.doc_id = p.doc_id
            WHERE inter / (ca.nt + cb.nt - inter) >= 0.5
            GROUP BY 1),
       v$sfx AS MATERIALIZED (SELECT k.doc_id,
              CASE WHEN k.doc_id != k.keeper THEN k.keeper
                   ELSE nd.nd_of END AS dup_of
            FROM keep$sfx k LEFT JOIN nd$sfx nd ON nd.doc_id = k.doc_id),
       walk$sfx(doc_id, cur) AS (
         SELECT doc_id, dup_of FROM v$sfx WHERE dup_of IS NOT NULL
         UNION ALL
         SELECT w.doc_id, v2.dup_of
         FROM walk$sfx w JOIN v$sfx v2 ON v2.doc_id = w.cur
         WHERE v2.dup_of IS NOT NULL),
       roots$sfx AS (SELECT doc_id, min(cur) AS root FROM walk$sfx
            GROUP BY 1),
       cl$sfx AS (SELECT v.doc_id, coalesce(r.root, v.doc_id)
              AS cluster_id
            FROM v$sfx v LEFT JOIN roots$sfx r ON r.doc_id = v.doc_id),
       ranked$sfx AS (SELECT cl.doc_id, cl.cluster_id, qq.q,
              row_number() OVER (PARTITION BY cl.cluster_id
                ORDER BY qq.q DESC, cl.doc_id) AS rn
            FROM cl$sfx cl JOIN qq ON qq.doc_id = cl.doc_id)"""

  /** The exact-decimal quality CTE (mirror of
    * TrainingDataOps.qualityDecimal; same text as the keep_best
    * oracle's `q` CTE). */
  private val QualityCte: String =
    """qq AS (SELECT doc_id,
         CAST(0.5 * (1 - CAST(round(len(list_filter(
               string_split(text, ' '),
               w -> w = 'the' OR w = 'a' OR w = 'of'))
             / len(string_split(text, ' ')), 6)
             AS DECIMAL(12,6))) +
           0.3 * least(
             CAST(round(n_chars / len(string_split(text, ' ')), 4)
               AS DECIMAL(10,4)) * 0.125,
             CAST(1.0 AS DECIMAL(12,6))) +
           0.2 * (1 - CAST(round(len(list_filter(
               string_split(text, ' '), w -> len(w) <= 2))
             / len(string_split(text, ' ')), 6)
             AS DECIMAL(12,6)))
         AS DECIMAL(38,6)) AS q
       FROM documents)"""

  val oracle: Map[String, String] = Map(
    "llm_minhash_lsh" -> minhashOracleSql,

    "llm_minhash_lsh_incremental" ->
      minhashVerdictOracleSql("doc_id % 100 >= 80"),

    "llm_minhash_lsh_persisted" ->
      minhashVerdictOracleSql(
        "doc_id >= (SELECT (max(doc_id) + 1) * 4 // 5 FROM documents)"),

    "llm_dedup_keep_best_incremental" ->
      s"""WITH RECURSIVE
            $QualityCte,
            ${clusterCtes("a", "documents")},
            ${clusterCtes("b",
              "(SELECT * FROM documents WHERE doc_id % 100 < 80)")}
         SELECT a.doc_id, a.cluster_id, CAST(a.q AS DOUBLE) AS quality,
                a.rn = 1 AS keep,
                CASE WHEN b.doc_id IS NULL THEN
                       CASE WHEN a.rn = 1 THEN 'new_keeper'
                            ELSE 'new_dup' END
                     WHEN b.rn = 1 AND a.rn = 1 THEN 'retained'
                     WHEN b.rn = 1 THEN 'displaced'
                     WHEN a.rn = 1 THEN 'promoted'
                     ELSE 'dup' END AS verdict
         FROM rankeda a LEFT JOIN rankedb b ON b.doc_id = a.doc_id
         ORDER BY a.doc_id""",

    // Full recompute of both id-ordered epochs — deliberately NOT the
    // persisted derivation, so a hash-match proves the op's
    // incremental path equivalent to recomputing from scratch.
    "llm_dedup_keep_best_persisted" ->
      s"""WITH RECURSIVE
            $QualityCte,
            ${clusterCtes("a", "documents")},
            ${clusterCtes("b",
              "(SELECT * FROM documents WHERE doc_id < " +
                "(SELECT (max(doc_id) + 1) * 4 // 5 FROM documents))")}
         SELECT a.doc_id, a.cluster_id, CAST(a.q AS DOUBLE) AS quality,
                a.rn = 1 AS keep,
                CASE WHEN b.doc_id IS NULL THEN
                       CASE WHEN a.rn = 1 THEN 'new_keeper'
                            ELSE 'new_dup' END
                     WHEN b.rn = 1 AND a.rn = 1 THEN 'retained'
                     WHEN b.rn = 1 THEN 'displaced'
                     WHEN a.rn = 1 THEN 'promoted'
                     ELSE 'dup' END AS verdict
         FROM rankeda a LEFT JOIN rankedb b ON b.doc_id = a.doc_id
         ORDER BY a.doc_id""",
    "llm_dedup_audit" ->
      """WITH keep AS MATERIALIZED (SELECT doc_id, lang, n_chars, text,
                min(doc_id) OVER (PARTITION BY text) AS keeper
              FROM documents),
            surv1 AS MATERIALIZED (SELECT * FROM keep WHERE doc_id = keeper),
            tok AS MATERIALIZED (SELECT DISTINCT doc_id,
                unnest(string_split(text, ' ')) AS w
              FROM surv1),
            card AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
            pair AS (SELECT b.doc_id AS doc_id, a.doc_id AS cand,
                count(*) AS inter
              FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
              JOIN surv1 sa ON sa.doc_id = a.doc_id
              JOIN surv1 sb ON sb.doc_id = b.doc_id
              WHERE sa.lang = sb.lang AND abs(sa.n_chars - sb.n_chars) <= 10
              GROUP BY 1, 2),
            nd AS MATERIALIZED (SELECT p.doc_id, min(cand) AS nd_of
              FROM pair p JOIN card ca ON ca.doc_id = p.cand
              JOIN card cb ON cb.doc_id = p.doc_id
              WHERE inter / (ca.nt + cb.nt - inter) >= 0.5 GROUP BY 1),
            surv2 AS MATERIALIZED (SELECT * FROM surv1
              WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
            pair2 AS (SELECT b.doc_id AS doc_id, a.doc_id AS cand,
                count(*) AS inter
              FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
              JOIN surv2 sa ON sa.doc_id = a.doc_id
              JOIN surv2 sb ON sb.doc_id = b.doc_id
              WHERE sa.lang <> sb.lang AND abs(sa.n_chars - sb.n_chars) <= 10
              GROUP BY 1, 2),
            xl AS MATERIALIZED (SELECT p.doc_id, min(cand) AS xl_of
              FROM pair2 p JOIN card ca ON ca.doc_id = p.cand
              JOIN card cb ON cb.doc_id = p.doc_id
              WHERE inter / (ca.nt + cb.nt - inter) >= 0.5 GROUP BY 1),
            surv3 AS (SELECT * FROM surv2
              WHERE doc_id NOT IN (SELECT doc_id FROM xl)),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
            dv AS (SELECT vec_id, vec, list_dot_product(vec, vec) AS sd
              FROM e),
            ev AS MATERIALIZED (SELECT d.vec_id, d.vec, d.sd
              FROM dv d JOIN surv3 s ON s.doc_id = d.vec_id),
            eb AS (SELECT a.vec_id AS doc_id, min(b.vec_id) AS emb_of
              FROM ev a JOIN ev b ON b.vec_id < a.vec_id
              WHERE round(list_dot_product(a.vec, b.vec)
                / (sqrt(a.sd) * sqrt(b.sd)), 6) >= 0.4
              GROUP BY 1)
       SELECT k.doc_id, k.lang,
              CASE WHEN k.doc_id != k.keeper THEN 'exact_dup'
                   WHEN nd.nd_of IS NOT NULL THEN 'near_dup'
                   WHEN xl.xl_of IS NOT NULL THEN 'crosslang_dup'
                   WHEN eb.emb_of IS NOT NULL THEN 'embedding_dup'
                   ELSE 'kept' END AS stage,
              CASE WHEN k.doc_id != k.keeper THEN k.keeper
                   ELSE coalesce(nd.nd_of, xl.xl_of, eb.emb_of) END AS dup_of
       FROM keep k
       LEFT JOIN nd ON nd.doc_id = k.doc_id
       LEFT JOIN xl ON xl.doc_id = k.doc_id
       LEFT JOIN eb ON eb.doc_id = k.doc_id
       ORDER BY k.doc_id""",

    "llm_dedup_incremental" ->
      """WITH docs AS (SELECT doc_id, lang, n_chars, text,
                doc_id % 100 >= 80 AS is_new FROM documents),
            ex AS (SELECT * FROM docs WHERE NOT is_new),
            nw AS (SELECT * FROM docs WHERE is_new),
            exmin AS (SELECT text, min(doc_id) AS ex_of FROM ex GROUP BY 1),
            nwmin AS (SELECT text, min(doc_id) AS nw_first FROM nw GROUP BY 1),
            staged AS (SELECT n.doc_id, n.lang, n.n_chars, n.text,
                CASE WHEN m.nw_first < n.doc_id THEN m.nw_first END AS nf,
                x.ex_of AS ex_of
              FROM nw n
              LEFT JOIN exmin x ON x.text = n.text
              LEFT JOIN nwmin m ON m.text = n.text),
            staged2 AS (SELECT *,
                CASE WHEN nf IS NULL THEN ex_of
                     WHEN ex_of IS NULL THEN nf
                     WHEN ex_of < nf THEN ex_of ELSE nf END AS exact_of
              FROM staged),
            snew AS MATERIALIZED (SELECT doc_id, lang, n_chars, text
              FROM staged2 WHERE exact_of IS NULL),
            exrep AS (SELECT e.doc_id, e.lang, e.n_chars, e.text,
                FALSE AS cand_new
              FROM ex e JOIN exmin x ON x.ex_of = e.doc_id),
            cand AS MATERIALIZED (SELECT * FROM exrep
              UNION ALL
              SELECT doc_id, lang, n_chars, text, TRUE FROM snew),
            tokn AS (SELECT DISTINCT doc_id,
                unnest(string_split(text, ' ')) AS w FROM snew),
            tokc AS (SELECT DISTINCT doc_id,
                unnest(string_split(text, ' ')) AS w FROM cand),
            cardn AS (SELECT doc_id, count(*) AS nt FROM tokn GROUP BY 1),
            cardc AS (SELECT doc_id, count(*) AS nt FROM tokc GROUP BY 1),
            pair AS (SELECT a.doc_id AS doc_id, b.doc_id AS cand_id,
                count(*) AS inter
              FROM tokn a JOIN tokc b ON a.w = b.w
              JOIN snew sa ON sa.doc_id = a.doc_id
              JOIN cand cb ON cb.doc_id = b.doc_id
              WHERE sa.lang = cb.lang
                AND abs(sa.n_chars - cb.n_chars) <= 10
                AND (NOT cb.cand_new OR b.doc_id < a.doc_id)
                AND b.doc_id <> a.doc_id
              GROUP BY 1, 2),
            nd AS (SELECT p.doc_id, min(cand_id) AS nd_of
              FROM pair p
              JOIN cardn ca ON ca.doc_id = p.doc_id
              JOIN cardc cb ON cb.doc_id = p.cand_id
              WHERE inter / (ca.nt + cb.nt - inter) >= 0.5
              GROUP BY 1)
       SELECT s.doc_id, s.lang,
              CASE WHEN s.exact_of IS NOT NULL THEN 'exact_dup'
                   WHEN nd.nd_of IS NOT NULL THEN 'near_dup'
                   ELSE 'kept' END AS stage,
              coalesce(s.exact_of, nd.nd_of) AS dup_of
       FROM staged2 s LEFT JOIN nd ON nd.doc_id = s.doc_id
       ORDER BY s.doc_id""",

    "llm_exact_dedup" ->
      """SELECT lang, count(*) AS n_docs FROM (
           SELECT lang, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1
         GROUP BY 1 ORDER BY 1""",

    "llm_dedup_clusters" ->
      """WITH RECURSIVE
            keep AS MATERIALIZED (SELECT doc_id, lang, n_chars, text,
                       min(doc_id) OVER (PARTITION BY text) AS keeper
                     FROM documents),
            surv AS MATERIALIZED (SELECT * FROM keep WHERE doc_id = keeper),
            tok AS MATERIALIZED (SELECT DISTINCT doc_id,
                      unnest(string_split(text, ' ')) AS w
                    FROM surv),
            card AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
            pair AS (SELECT b.doc_id AS doc_id, a.doc_id AS cand,
                       count(*) AS inter
                     FROM tok a
                     JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
                     JOIN surv sa ON sa.doc_id = a.doc_id
                     JOIN surv sb ON sb.doc_id = b.doc_id
                     WHERE sa.lang = sb.lang
                       AND abs(sa.n_chars - sb.n_chars) <= 10
                     GROUP BY 1, 2),
            nd AS (SELECT p.doc_id, min(cand) AS nd_of
                   FROM pair p
                   JOIN card ca ON ca.doc_id = p.cand
                   JOIN card cb ON cb.doc_id = p.doc_id
                   WHERE inter / (ca.nt + cb.nt - inter) >= 0.5
                   GROUP BY 1),
            v AS MATERIALIZED (SELECT k.doc_id,
                    CASE WHEN k.doc_id != k.keeper THEN k.keeper
                         ELSE nd.nd_of END AS dup_of
                  FROM keep k LEFT JOIN nd ON nd.doc_id = k.doc_id),
            -- MATERIALIZED is load-bearing: `v` is referenced from the
            -- recursive arm, and without it DuckDB re-evaluates the whole
            -- quadratic token join once per recursion step.
            walk(doc_id, cur) AS (
              SELECT doc_id, dup_of FROM v WHERE dup_of IS NOT NULL
              UNION ALL
              SELECT w.doc_id, v2.dup_of
              FROM walk w JOIN v v2 ON v2.doc_id = w.cur
              WHERE v2.dup_of IS NOT NULL),
            roots AS (SELECT doc_id, min(cur) AS root
                      FROM walk GROUP BY 1)
       SELECT v.doc_id, coalesce(r.root, v.doc_id) AS cluster_id
       FROM v LEFT JOIN roots r ON r.doc_id = v.doc_id
       ORDER BY v.doc_id""",

    // The clusters CTE (above) + exact-decimal quality + per-cluster
    // argmax (quality DESC, doc_id ASC — the decimal compare is the
    // point: a double tie could rank differently across engines).
    "llm_dedup_keep_best" ->
      """WITH RECURSIVE
            keep AS MATERIALIZED (SELECT doc_id, lang, n_chars, text,
                       min(doc_id) OVER (PARTITION BY text) AS keeper
                     FROM documents),
            surv AS MATERIALIZED (SELECT * FROM keep WHERE doc_id = keeper),
            tok AS MATERIALIZED (SELECT DISTINCT doc_id,
                      unnest(string_split(text, ' ')) AS w
                    FROM surv),
            card AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
            pair AS (SELECT b.doc_id AS doc_id, a.doc_id AS cand,
                       count(*) AS inter
                     FROM tok a
                     JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
                     JOIN surv sa ON sa.doc_id = a.doc_id
                     JOIN surv sb ON sb.doc_id = b.doc_id
                     WHERE sa.lang = sb.lang
                       AND abs(sa.n_chars - sb.n_chars) <= 10
                     GROUP BY 1, 2),
            nd AS (SELECT p.doc_id, min(cand) AS nd_of
                   FROM pair p
                   JOIN card ca ON ca.doc_id = p.cand
                   JOIN card cb ON cb.doc_id = p.doc_id
                   WHERE inter / (ca.nt + cb.nt - inter) >= 0.5
                   GROUP BY 1),
            v AS MATERIALIZED (SELECT k.doc_id,
                    CASE WHEN k.doc_id != k.keeper THEN k.keeper
                         ELSE nd.nd_of END AS dup_of
                  FROM keep k LEFT JOIN nd ON nd.doc_id = k.doc_id),
            walk(doc_id, cur) AS (
              SELECT doc_id, dup_of FROM v WHERE dup_of IS NOT NULL
              UNION ALL
              SELECT w.doc_id, v2.dup_of
              FROM walk w JOIN v v2 ON v2.doc_id = w.cur
              WHERE v2.dup_of IS NOT NULL),
            roots AS (SELECT doc_id, min(cur) AS root
                      FROM walk GROUP BY 1),
            cl AS (SELECT v.doc_id, coalesce(r.root, v.doc_id) AS cluster_id
                   FROM v LEFT JOIN roots r ON r.doc_id = v.doc_id),
            q AS (SELECT doc_id,
                    CAST(0.5 * (1 - CAST(round(len(list_filter(
                          string_split(text, ' '),
                          w -> w = 'the' OR w = 'a' OR w = 'of'))
                        / len(string_split(text, ' ')), 6)
                        AS DECIMAL(12,6))) +
                      0.3 * least(
                        CAST(round(n_chars / len(string_split(text, ' ')), 4)
                          AS DECIMAL(10,4)) * 0.125,
                        CAST(1.0 AS DECIMAL(12,6))) +
                      0.2 * (1 - CAST(round(len(list_filter(
                          string_split(text, ' '), w -> len(w) <= 2))
                        / len(string_split(text, ' ')), 6)
                        AS DECIMAL(12,6)))
                    AS DECIMAL(38,6)) AS q
                  FROM documents),
            ranked AS (SELECT cl.doc_id, cl.cluster_id, q.q,
                         row_number() OVER (PARTITION BY cl.cluster_id
                           ORDER BY q.q DESC, cl.doc_id) AS rn
                       FROM cl JOIN q ON q.doc_id = cl.doc_id)
       SELECT doc_id, cluster_id, CAST(q AS DOUBLE) AS quality,
              rn = 1 AS keep
       FROM ranked ORDER BY doc_id""",

    "llm_dedup_pipeline" ->
      """WITH keep AS (SELECT doc_id, lang, n_chars, text,
                         min(doc_id) OVER (PARTITION BY text) AS keeper
                       FROM documents),
            surv AS (SELECT * FROM keep WHERE doc_id = keeper),
            tok AS (SELECT DISTINCT doc_id,
                      unnest(string_split(text, ' ')) AS w
                    FROM surv),
            card AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
            pair AS (SELECT b.doc_id AS doc_id, a.doc_id AS cand,
                       count(*) AS inter
                     FROM tok a
                     JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
                     JOIN surv sa ON sa.doc_id = a.doc_id
                     JOIN surv sb ON sb.doc_id = b.doc_id
                     WHERE sa.lang = sb.lang
                       AND abs(sa.n_chars - sb.n_chars) <= 10
                     GROUP BY 1, 2),
            nd AS (SELECT p.doc_id, min(cand) AS nd_of
                   FROM pair p
                   JOIN card ca ON ca.doc_id = p.cand
                   JOIN card cb ON cb.doc_id = p.doc_id
                   WHERE inter / (ca.nt + cb.nt - inter) >= 0.5
                   GROUP BY 1)
       SELECT k.doc_id, k.lang,
              CASE WHEN k.doc_id != k.keeper THEN 'exact_dup'
                   WHEN nd.nd_of IS NOT NULL THEN 'near_dup'
                   ELSE 'kept' END AS stage,
              CASE WHEN k.doc_id != k.keeper THEN k.keeper
                   ELSE nd.nd_of END AS dup_of
       FROM keep k LEFT JOIN nd ON nd.doc_id = k.doc_id
       ORDER BY k.doc_id""",

    "llm_neardup_crosslang" ->
      """WITH surv AS (SELECT doc_id, lang, n_chars, text FROM (
               SELECT doc_id, lang, n_chars, text,
                      min(doc_id) OVER (PARTITION BY text) AS keeper
               FROM documents) WHERE doc_id = keeper),
            tok AS (SELECT DISTINCT * FROM (
             SELECT doc_id, lang, n_chars,
                    unnest(string_split(text, ' ')) AS w
             FROM surv)),
            card AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
            pair AS (
              SELECT a.doc_id AS doc_id, a.lang AS lang,
                     b.doc_id AS doc_id2, b.lang AS lang2,
                     count(*) AS inter
              FROM tok a JOIN tok b
                ON a.w = b.w AND a.lang <> b.lang
               AND a.doc_id < b.doc_id
               AND abs(a.n_chars - b.n_chars) <= 10
              GROUP BY 1, 2, 3, 4)
       SELECT p.doc_id, p.lang, p.doc_id2, p.lang2,
              round(inter / (ca.nt + cb.nt - inter), 6) AS j
       FROM pair p
       JOIN card ca ON ca.doc_id = p.doc_id
       JOIN card cb ON cb.doc_id = p.doc_id2
       WHERE inter / (ca.nt + cb.nt - inter) >= 0.5
       ORDER BY 1, 3""",

    "llm_jaccard_pairs" ->
      """WITH tok AS (SELECT DISTINCT * FROM (
             SELECT doc_id, lang, n_chars,
                    unnest(string_split(text, ' ')) AS w
             FROM documents)),
            card AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
            pair AS (
              SELECT a.doc_id AS doc_id, b.doc_id AS doc_id2,
                     count(*) AS inter
              FROM tok a JOIN tok b
                ON a.w = b.w AND a.lang = b.lang
               AND a.doc_id < b.doc_id
               AND abs(a.n_chars - b.n_chars) <= 10
              GROUP BY 1, 2)
       SELECT p.doc_id, p.doc_id2,
              round(inter / (ca.nt + cb.nt - inter), 6) AS j
       FROM pair p
       JOIN card ca ON ca.doc_id = p.doc_id
       JOIN card cb ON cb.doc_id = p.doc_id2
       WHERE inter / (ca.nt + cb.nt - inter) >= 0.5
       ORDER BY 1, 2""",

    "llm_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
                    FROM embeddings),
            d AS (SELECT vec_id, vec, list_dot_product(vec, vec) AS self_dot
                  FROM e),
            s AS (SELECT q.vec_id AS vec_id, c.vec_id AS vec_id2,
                         round(list_dot_product(q.vec, c.vec)
                           / (sqrt(q.self_dot) * sqrt(c.self_dot)), 6) AS sim
                  FROM d q JOIN d c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
       SELECT vec_id, vec_id2, sim, rn FROM (
         SELECT vec_id, vec_id2, sim,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY sim DESC, vec_id2) AS rn
         FROM s) WHERE rn <= ${AnnOps.TopK}
       ORDER BY vec_id, rn""",

    // Mirror of llm_hybrid_rrf: dense CTEs = the llm_cosine_topk
    // discipline (exact double dots, 6-dp sim, rank ties by id);
    // sparse = distinct-token Jaccard as one exact double division;
    // fusion = CAST(1 AS DOUBLE)/(60+rank) sums — every compare-path
    // value is a correctly-rounded IEEE op on identical ints, so the
    // hash matches without any rounding discipline beyond the sim's.
    "llm_hybrid_rrf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
                    FROM embeddings),
            dd AS (SELECT vec_id, vec, list_dot_product(vec, vec)
                     AS self_dot FROM e),
            ds AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                     round(list_dot_product(q.vec, c.vec)
                       / (sqrt(q.self_dot) * sqrt(c.self_dot)), 6) AS sim
                   FROM dd q JOIN dd c
                     ON q.vec_id < 10 AND c.vec_id != q.vec_id),
            dr AS (SELECT q_id, c_id, rn AS r_dense FROM (
                     SELECT q_id, c_id, row_number() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, c_id) AS rn
                     FROM ds) WHERE rn <= 50),
            dt AS (SELECT d.doc_id,
                     list_distinct(string_split(d.text, ' ')) AS tok
                   FROM documents d
                   JOIN embeddings em ON em.vec_id = d.doc_id),
            ss AS (SELECT q.doc_id AS q_id, c.doc_id AS c_id,
                     CAST(len(list_intersect(q.tok, c.tok)) AS DOUBLE) /
                       (len(q.tok) + len(c.tok)
                         - len(list_intersect(q.tok, c.tok))) AS jac
                   FROM dt q JOIN dt c
                     ON q.doc_id < 10 AND c.doc_id != q.doc_id),
            sr AS (SELECT q_id, c_id, rn AS r_sparse FROM (
                     SELECT q_id, c_id, row_number() OVER (
                       PARTITION BY q_id ORDER BY jac DESC, c_id) AS rn
                     FROM ss) WHERE rn <= 50),
            f AS (SELECT coalesce(dr.q_id, sr.q_id) AS q_id,
                     coalesce(dr.c_id, sr.c_id) AS c_id,
                     dr.r_dense, sr.r_sparse,
                     coalesce(CAST(1 AS DOUBLE) / (60 + dr.r_dense), 0.0)
                       + coalesce(CAST(1 AS DOUBLE) / (60 + sr.r_sparse),
                           0.0) AS rrf
                  FROM dr FULL JOIN sr
                    ON sr.q_id = dr.q_id AND sr.c_id = dr.c_id)
       SELECT q_id AS vec_id, c_id AS vec_id2, r_dense, r_sparse, rrf, rn
       FROM (SELECT *, row_number() OVER (
               PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rn FROM f)
       WHERE rn <= 5 ORDER BY vec_id, rn""",

    // Mirror of llm_hybrid_rrf_ann: the shared IVF CTE chain
    // (annIvfCtesSql, ends at `ranked`) cut at ShortK for the dense
    // shortlist; the llm_bm25 arithmetic over the query doc's distinct
    // tokens for the sparse one, per-term scores 6-dp-rounded then
    // summed as micro-unit BIGINTs (exactly the Spark op's order-free
    // sum); the llm_hybrid_rrf fusion verbatim, cut at TopK. Every
    // k in this mirror interpolates from the same constants the
    // operator reads.
    "llm_hybrid_rrf_ann" ->
      s"""WITH ${AnnOps.annIvfCtesSql},
            dr AS (SELECT vec_id AS q_id, vec_id2 AS c_id, rn AS r_dense
                   FROM ranked WHERE rn <= ${AnnOps.ShortK}),
            docs2 AS (SELECT d.doc_id, d.text FROM documents d
                      JOIN embeddings em ON em.vec_id = d.doc_id),
            dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
                   FROM docs2),
            g AS (SELECT count(*) AS n_docs,
                    CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
            qtok AS (SELECT doc_id AS q_id,
                       unnest(list_distinct(string_split(text, ' ')))
                         AS term
                     FROM docs2 WHERE doc_id < 10),
            tok AS (SELECT doc_id, unnest(string_split(text, ' '))
                      AS term
                    FROM docs2),
            tfq AS (SELECT t.doc_id, t.term, count(*) AS tf FROM tok t
                    WHERE t.term IN (SELECT DISTINCT term FROM qtok)
                    GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
            pt AS (SELECT q.q_id, t.doc_id,
                     CAST(round(round(
                       round(ln((g.n_docs - f.df + 0.5) /
                           (f.df + 0.5) + 1.0), 6) *
                         (t.tf * 2.2) /
                         (t.tf + 1.2 * (1.0 - 0.75 +
                           0.75 * (dd.dl * g.n_docs) / g.sum_dl)), 6)
                       * 1000000.0) AS BIGINT) AS su
                   FROM tfq t JOIN qtok q
                     ON q.term = t.term AND q.q_id != t.doc_id
                   JOIN df f ON f.term = t.term
                   JOIN dl dd ON dd.doc_id = t.doc_id
                   CROSS JOIN g),
            bm AS (SELECT q_id, doc_id, sum(su) AS score_u
                   FROM pt GROUP BY 1, 2),
            sr AS (SELECT q_id, doc_id AS c_id, rn AS r_sparse FROM (
                     SELECT q_id, doc_id, row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY score_u DESC, doc_id) AS rn
                     FROM bm) WHERE rn <= ${AnnOps.ShortK}),
            fu AS (SELECT coalesce(dr.q_id, sr.q_id) AS q_id,
                     coalesce(dr.c_id, sr.c_id) AS c_id,
                     dr.r_dense, sr.r_sparse,
                     coalesce(CAST(1 AS DOUBLE) / (60 + dr.r_dense), 0.0)
                       + coalesce(CAST(1 AS DOUBLE) / (60 + sr.r_sparse),
                           0.0) AS rrf
                   FROM dr FULL JOIN sr
                     ON sr.q_id = dr.q_id AND sr.c_id = dr.c_id)
       SELECT q_id AS vec_id, c_id AS vec_id2, r_dense, r_sparse, rrf, rn
       FROM (SELECT *, row_number() OVER (
               PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rn FROM fu)
       WHERE rn <= ${AnnOps.TopK} ORDER BY vec_id, rn""",

    "llm_text_stats" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
                round(list_sum(list_transform(string_split(text, ' '),
                  w -> CAST(len(w) AS DOUBLE))) / len(string_split(text, ' ')), 4)
                  AS avg_token_len,
                n_chars = length(text) AS valid
         FROM documents ORDER BY doc_id""",

    "llm_tfidf_topterms" ->
      """WITH tok AS (SELECT lang, doc_id,
                        unnest(string_split(text, ' ')) AS term
                      FROM documents),
            tf AS (SELECT lang, doc_id, term, count(*) AS tf
                   FROM tok GROUP BY 1, 2, 3),
            agg AS (SELECT lang, term, count(*) AS df, sum(tf) AS sum_tf
                    FROM tf GROUP BY 1, 2),
            n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1)
       SELECT lang, term, score, rn FROM (
         SELECT a.lang AS lang, term,
                round(sum_tf * round(ln(CAST(n_docs AS DOUBLE) / df), 6), 6)
                  AS score,
                row_number() OVER (PARTITION BY a.lang
                  ORDER BY round(sum_tf * round(ln(CAST(n_docs AS DOUBLE) / df), 6), 6) DESC,
                           term) AS rn
         FROM agg a JOIN n ON a.lang = n.lang)
       WHERE rn <= 5 ORDER BY lang, rn""",

    "llm_zipf_fit" ->
      """WITH tf AS (SELECT unnest(string_split(text, ' ')) AS term
                     FROM documents),
            c AS (SELECT term, count(*) AS cnt FROM tf GROUP BY 1),
            r AS (SELECT CAST(round(ln(CAST(row_number() OVER (
                      ORDER BY cnt DESC, term) AS DOUBLE)) * 1000000, 0)
                      AS BIGINT) AS xu,
                    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000, 0)
                      AS BIGINT) AS yu
                  FROM c),
            m AS (SELECT count(*) AS n,
                    CAST(sum(CAST(xu AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                    CAST(sum(CAST(yu AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                    CAST(sum(CAST(xu * yu AS DECIMAL(38,0))) AS DOUBLE)
                      AS sxy,
                    CAST(sum(CAST(xu * xu AS DECIMAL(38,0))) AS DOUBLE)
                      AS sxx
                  FROM r)
       SELECT n,
              round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                AS zipf_slope,
              round((sy / n -
                ((n * sxy - sx * sy) / (n * sxx - sx * sx)) *
                (sx / n)) / 1000000.0, 6) AS intercept
       FROM m""",

    "llm_bm25" ->
      """WITH docs AS (SELECT doc_id, lang,
                         len(string_split(text, ' ')) AS dl
                       FROM documents),
            g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT)
                    AS sum_dl FROM docs),
            tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
                   WHERE term IN ('spark', 'table', 'fast')
                   GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            sc AS (SELECT t.doc_id, t.term,
                     round(round(ln((g.n_docs - f.df + 0.5) /
                         (f.df + 0.5) + 1.0), 6) *
                       (t.tf * 2.2) /
                       (t.tf + 1.2 * (1.0 - 0.75 +
                         0.75 * (dd.dl * g.n_docs) / g.sum_dl)), 6) AS s
                   FROM tf t JOIN df f ON t.term = f.term
                   JOIN docs dd ON dd.doc_id = t.doc_id
                   CROSS JOIN g),
            agg AS (SELECT doc_id,
                      max(CASE WHEN term = 'spark' THEN s END) AS s1,
                      max(CASE WHEN term = 'table' THEN s END) AS s2,
                      max(CASE WHEN term = 'fast' THEN s END) AS s3
                    FROM sc GROUP BY 1)
       SELECT a.doc_id, dd.lang,
              round(COALESCE(s1, 0.0) + COALESCE(s2, 0.0) +
                COALESCE(s3, 0.0), 6) AS bm25
       FROM agg a JOIN docs dd ON dd.doc_id = a.doc_id
       ORDER BY bm25 DESC, a.doc_id LIMIT 20""",

    "llm_cluster_assign" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
                    FROM embeddings),
            d AS (SELECT vec_id, vec, list_dot_product(vec, vec)
                    AS self_dot FROM e),
            s AS (SELECT v.vec_id, c.vec_id AS c_id,
                         round(list_dot_product(v.vec, c.vec)
                           / (sqrt(v.self_dot) * sqrt(c.self_dot)), 6)
                           AS sim
                  FROM d v JOIN d c ON c.vec_id < 8)
       SELECT vec_id, c_id AS cluster_id, sim FROM (
         SELECT vec_id, c_id, sim,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY sim DESC, c_id) AS rn
         FROM s) WHERE rn = 1
       ORDER BY vec_id"""
  )
}
