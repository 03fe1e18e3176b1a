package graft

import org.apache.spark.sql.functions._

/** Plan-shape assertions (SURVEY.md §4): the scale guarantees are only
  * real if Catalyst actually produces the intended physical plans —
  * filters reach the parquet scan, projections prune columns, small dims
  * broadcast, top-k never global-sorts.
  */
class PlanShapeSpec extends GraftSpec {

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    // AQE plans print "== Final Plan ==" followed by "== Initial Plan ==";
    // assertions must see only the plan that actually EXECUTED, or a
    // contains() check is satisfiable by pre-AQE text alone.
    val s = df.queryExecution.executedPlan.toString
    val init = s.indexOf("== Initial Plan ==")
    if (init >= 0) s.substring(0, init) else s
  }

  test("filter_comparison pushes predicates into the parquet scan") {
    val plan = finalPlan("filter_comparison")
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(l_quantity"),
      s"no pushed filters:\n$plan")
  }

  test("scan_pruned reads only the projected columns") {
    val plan = finalPlan("scan_pruned")
    val read = "ReadSchema: ([^\\n]*)".r.findFirstMatchIn(plan).map(_.group(1))
    assert(read.isDefined && read.get.contains("l_orderkey") &&
      !read.get.contains("l_extendedprice\",\"l_quantity") &&
      !read.get.contains("l_shipdate"),
      s"scan not pruned: $read")
  }

  test("join_broadcast uses a broadcast hash join (no shuffle of the dim)") {
    val plan = finalPlan("join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), s"not broadcast:\n$plan")
  }

  test("topk_global compiles to TakeOrderedAndProject (no global sort)") {
    val plan = finalPlan("topk_global")
    assert(plan.contains("TakeOrderedAndProject"), s"global sort used:\n$plan")
  }

  test("hash-ordered sampling compiles to TakeOrderedAndProject") {
    val plan = finalPlan("llm_sample_topk_hash")
    assert(plan.contains("TakeOrderedAndProject"), s"global sort used:\n$plan")
  }

  test("agg_groupby_pricing is a partial+final hash aggregate") {
    val plan = finalPlan("agg_groupby_pricing")
    assert(plan.contains("HashAggregate"), s"no hash agg:\n$plan")
    // partial aggregation before the exchange = map-side combine
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0, s"plan shape unexpected:\n$plan")
  }

  test("llm_jaccard_pairs never plans a cartesian/nested-loop join") {
    val plan = finalPlan("llm_jaccard_pairs")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
  }

  test("blocked similarity ops shuffle on equi-keys, never cartesian") {
    Seq("llm_ngram_jaccard", "llm_simhash_dedup", "llm_minhash_lsh")
      .foreach { q =>
        val plan = finalPlan(q)
        assert(!plan.contains("CartesianProduct"), s"$q cartesian:\n$plan")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$q nested-loop over the corpus:\n$plan")
      }
  }

  test("exact embedding pair ops generate pairs via cell-keyed equi-joins") {
    // Round-2 shape for BOTH exact embedding ops: pair generation is an
    // EQUI-join keyed by cell id — never a cartesian or nested-loop
    // operator over the corpus. (At test scale Spark may still execute
    // the equi-join as a broadcast HASH join because the 2k-row corpus
    // is under the size threshold — that is size-based adaptivity doing
    // its job; at real scale statistics exceed the threshold and the
    // same plan shuffles. The invariant worth pinning is the equi-key,
    // which survives either physical choice.)
    // (A BroadcastNestedLoopJoin DOES legitimately appear for the
    // ncells×ncells cell-pair cross — a deliberately tiny product; the
    // prohibition is on the CORPUS pair join, pinned as an equi-join on
    // the cell id below.)
    Seq("llm_embedding_topk_pairs", "llm_embedding_neardup").foreach { q =>
      val plan = finalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q cartesian:\n$plan")
      val corpusEquiJoin =
        "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[l[ab]#".r
          .findFirstIn(plan).isDefined ||
        plan.contains("hashpartitioning(lb") ||
        plan.contains("hashpartitioning(la")
      assert(corpusEquiJoin, s"$q pair join not keyed by cell id:\n$plan")
    }
  }

  test("llm_embedding_lsh exact-collapse shuffles on the 8-byte vector hash") {
    // The collapse window groups by (xxhash64(embedding), embedding) but
    // the EXCHANGE must be keyed by the hash alone — 8-byte shuffle keys
    // instead of the raw ~256-byte float array (the in-partition group
    // key keeps hash collisions exact). No exchange anywhere in the op
    // may carry the raw vector as a partitioning key.
    val plan = finalPlan("llm_embedding_lsh")
    assert("hashpartitioning\\(eh#".r.findFirstIn(plan).isDefined,
      s"collapse not keyed on the vector hash:\n$plan")
    assert("hashpartitioning\\([^)]*embedding".r.findFirstIn(plan).isEmpty,
      s"an exchange is keyed on the raw vector:\n$plan")
  }

  test("llm_ann_ivf broadcasts probes and centroids, never the corpus") {
    val plan = finalPlan("llm_ann_ivf")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
  }

  test("llm_hybrid_rrf_ann: both shortlist rankers broadcast the query " +
      "side, the corpus is never cartesian-paired") {
    // dense leg = the IVF probe core (broadcast probes into the cells),
    // sparse leg = term-keyed broadcast semi-join of the query-term
    // table into the token stream BEFORE the tf agg; the only
    // nested-loop joins are the deliberately tiny broadcast products
    // (ncells centroid grid, the 1-row global-stats frame)
    val plan = finalPlan("llm_hybrid_rrf_ann")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("llm_ann_pq joins the code table by broadcast only — the corpus " +
      "is never shuffle-joined or cartesian-paired") {
    val plan = finalPlan("llm_ann_pq")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffle-joined:\n$plan")
  }

  test("llm_bpe_tokenize applies the tokenizer via one broadcast join") {
    val plan = finalPlan("llm_bpe_tokenize")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"corpus shuffled against the vocab:\n$plan")
  }

  test("llm_embedding_pca projections are join-free scalar maps over " +
      "the centered stage") {
    // the model tier is driver-side (bounded 64×64 collect); the final
    // projection plan must be literal-vector arithmetic — any Join here
    // would mean the eigenvectors went through a corpus-side shuffle
    val plan = finalPlan("llm_embedding_pca")
    assert(!plan.contains("Join"), s"projection plans a join:\n$plan")
  }

  test("llm_embedding_pca covariance partials are a MapPartitions fold, " +
      "not a posexplode amplification") {
    // r14 Gram accumulator: the corpus tier must fold each partition
    // into one d×d matrix (d² partial rows per PARTITION) — a Generate
    // (posexplode) feeding the d²-key agg would be the ×4096 per-row
    // shape the r13 review flagged
    val emb = Tables.embeddings(spark, sf)
    val cxa = operators.PcaOps.centeredArrays(emb)
    val gp = operators.PcaOps.gramPartials(cxa)
    gp.collect()
    val plan = {
      val s = gp.queryExecution.executedPlan.toString
      val init = s.indexOf("== Initial Plan ==")
      if (init >= 0) s.substring(0, init) else s
    }
    assert(plan.contains("MapPartitions"),
      s"gram stage lost its partition fold:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"gram partials not combined by a keyed agg:\n$plan")
    // the only Generate allowed is the centering stage's ×d posexplode
    // (inside centeredArrays) — the GRAM side must not re-explode: the
    // agg's input is the MapPartitions output, so between the fold and
    // the final agg there is no Generate
    val foldIdx = plan.indexOf("MapPartitions")
    assert(!plan.substring(0, foldIdx).contains("Generate"),
      s"a Generate sits above the partition fold (amplification):\n$plan")
  }

  test("mm_phash_dedup is a banded equi self-join over a partition-" +
      "mapped hash, never a cartesian") {
    val plan = finalPlan("mm_phash_dedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"phash candidates plan a nested loop:\n$plan")
    // the pair join keys on the band (+ fmt + grid) — an equi join
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"no equi join in the candidate stage:\n$plan")
    assert(plan.contains("MapPartitions"),
      s"phash does not ride a partition-mapped stage:\n$plan")
  }

  test("llm_embedding_outliers takes its top-25 via TakeOrderedAndProject") {
    val plan = finalPlan("llm_embedding_outliers")
    assert(plan.contains("TakeOrderedAndProject"), s"global sort:\n$plan")
    assert(!plan.contains("Join"), s"residual map plans a join:\n$plan")
  }

  test("llm_pack_sequences windows by (lang, shard), not lang alone") {
    // Keyed by lang alone, one partition would hold a language's whole
    // corpus at scale; the shard key multiplies parallelism by PackShards.
    val plan = finalPlan("llm_pack_sequences")
    val hp = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(hp.exists(k => k.contains("lang") && k.contains("shard")),
      s"packing window not sharded:\n$plan")
  }

  test("events_pattern_quantified plans three hash equi-joins, never a nested loop") {
    val plan = finalPlan("events_pattern_quantified")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop over events:\n$plan")
    // every chain step is a user_id-keyed hash join (broadcast or
    // shuffled — at sf the signup side may broadcast; both hash-key)
    assert(plan.contains("HashJoin"), s"no hash join:\n$plan")
  }

  test("sql_lateral_topn decorrelates to a ranked join, never per-row re-execution") {
    val plan = finalPlan("sql_lateral_topn")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"lateral stayed a nested loop:\n$plan")
    assert(plan.contains("Window") || plan.contains("HashJoin"),
      s"no decorrelated join/window shape:\n$plan")
  }

  test("tpch_q3_topn pushes both date filters and takes ordered top-10 without a full sort") {
    val plan = finalPlan("tpch_q3_topn")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 is a full sort:\n$plan")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(l_shipdate".r
      .findFirstIn(plan).isDefined,
      s"l_shipdate filter not pushed to the scan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unblocked join:\n$plan")
  }

  test("tpch_q5_local_volume broadcasts the dims, equi-joins everything else") {
    val plan = finalPlan("tpch_q5_local_volume")
    assert(plan.contains("BroadcastHashJoin"),
      s"nation/region dims not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unblocked join:\n$plan")
  }

  test("events_pattern_times plans chained hash equi-joins, never a nested loop") {
    val plan = finalPlan("events_pattern_times")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop over events:\n$plan")
    assert(plan.contains("HashJoin"), s"no hash join:\n$plan")
  }

  test("events_pattern_optional plans hash equi-joins only (greedy fallback is a coalesce, not a loop)") {
    val plan = finalPlan("events_pattern_optional")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop over events:\n$plan")
    assert(plan.contains("HashJoin"), s"no hash join:\n$plan")
  }

  test("BatchCep-compiled legs stay hash equi-joins (strict's " +
      "full-alphabet scan, abandon's anti leg, funnel's bind leg)") {
    // The round-8 generator must never regress the hand-written plans'
    // shape: every leg is a user-keyed hash join (bind/count legs) or a
    // hash anti join (terminal negation) — a generator bug that drops
    // the equi-key would surface as a nested loop over the corpus here.
    Seq("events_pattern_strict", "events_pattern_abandon",
      "events_funnel").foreach { q =>
      val plan = finalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q nested loop over events:\n$plan")
      assert(plan.contains("HashJoin"), s"$q: no hash join:\n$plan")
    }
    assert(finalPlan("events_pattern_abandon").contains("LeftAnti"),
      "abandon's negation is not an anti join")
  }

  test("llm_dup_ngram_coverage is keyed agg + equi-join, never a pair cartesian") {
    // The coverage metric touches every (position, gram) once; a
    // nested-loop anywhere would be the O(docs²) shape the gram-keyed
    // join exists to avoid.
    val plan = finalPlan("llm_dup_ngram_coverage")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unblocked join:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash agg:\n$plan")
  }

  test("events_count_window shares one user_id exchange between rank and agg") {
    val plan = finalPlan("events_count_window")
    // the window rank partitions by user_id; the following (user_id,
    // win_idx) agg must reuse that clustering — a second exchange on
    // the agg keys would double the shuffle volume
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("events_count_sliding overlaps via one exchange and no join") {
    val plan = finalPlan("events_count_sliding")
    // overlapping windows come from a running frame over the SAME
    // user_id sort as the rank — a self-join or explode formulation
    // would shuffle the events table twice (or 3× the rows)
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"sliding windows should not join:\n$plan")
    assert(!plan.contains("Generate"), s"sliding windows should not explode:\n$plan")
  }

  test("ts_resample computes OHLC bars in one exchange") {
    val plan = finalPlan("ts_resample")
    // open/close frames partition by the same (user_id, bucket) the
    // final agg groups on — the agg must reuse the window's clustering
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"resampling should not join:\n$plan")
  }

  test("ts_ewma evaluates all ten lags over one exchange") {
    val plan = finalPlan("ts_ewma")
    // all ten lag() calls share the same (user_id) ordering — they must
    // collapse into a single Window operator over a single shuffle
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    val windows = "(?m)^.*Window".r.findAllIn(plan).length
    assert(windows <= 2, s"lag frames did not fuse:\n$plan")
  }

  test("events_retention reuses the activity/cells stages and broadcasts the base") {
    val plan = finalPlan("events_retention")
    // act and cells are localCheckpoint-cut at their reuse boundaries, so
    // the executed final plan starts from the materialized cells (scans
    // appear zero times here) and the offset-0 base side — O(cohorts)
    // rows — broadcasts into the final join
    assert(!plan.contains("Scan parquet"),
      s"cells stage not materialized (events re-scanned):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"base lookup should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"retention must stay equi-keyed:\n$plan")
  }

  test("events_transitions shuffles the corpus once for the lag chain") {
    val plan = finalPlan("events_transitions")
    // the user_id window exchange is the only corpus-sized shuffle; the
    // cell agg (|types|² rows) and its normalization window add at most
    // tiny post-agg exchanges — but never a join or second corpus sort
    assert(!plan.contains("Join"), s"transitions should not join:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"corpus scanned $scans times:\n$plan")
  }

  test("events_attribution is one user-keyed equi-join") {
    val plan = finalPlan("events_attribution")
    // the hour bound must ride the user_id hash join's condition — a
    // nested-loop over purchases × clicks is the O(n²) failure shape
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unblocked join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), s"no hash equi-join:\n$plan")
  }

  test("ts_zscore computes all three moments over one exchange") {
    val plan = finalPlan("ts_zscore")
    // count/sum/sum-of-squares share the same (user_id) frame — they
    // must collapse into one Window operator over one shuffle
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
    val windows = "(?m)^.*Window".r.findAllIn(plan).length
    assert(windows <= 2, s"moment frames did not fuse:\n$plan")
  }

  test("events_type_overlap self-join is user-keyed with broadcast sizes") {
    val plan = finalPlan("events_type_overlap")
    // pair generation must stay a user_id equi-join (per-user fan-out is
    // alphabet-bounded); the per-type size lookups broadcast
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unblocked join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"size lookups should broadcast:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"(user, type) distinct not materialized (events re-scanned):\n$plan")
  }

  test("events_rfm scores by broadcast boundaries, never a global ntile sort") {
    val plan = finalPlan("events_rfm")
    // quintile scoring must be a comparison against the broadcast 1-row
    // bounds aggregate — an ntile formulation would put the whole user
    // table through one totally-ordered Window partition
    assert(!plan.contains("Window"), s"global ntile sort crept in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastHashJoin"),
      s"bounds should broadcast:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"metric table not materialized (events re-scanned):\n$plan")
  }

  test("agg_histogram buckets via a 1-row broadcast, one corpus agg") {
    val plan = finalPlan("agg_histogram")
    // the [min,max] bounds must broadcast back over the corpus (scalar
    // -bounds pattern) and the histogram itself must be a partial+final
    // hash agg — a shuffle of raw rows to compute bounds-then-buckets
    // twice would double the corpus traffic
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastHashJoin"),
      s"bounds should broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
  }

  test("llm_dedup_incremental joins are equi-keyed, never cartesian") {
    // The asymmetric new-batch-vs-corpus shape only holds if every pair
    // source is an equi-join (text, then (lang, bucket)) — a nested-loop
    // anywhere would silently reintroduce the O(corpus²) full recompute.
    val plan = finalPlan("llm_dedup_incremental")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join:\n$plan")
  }

  test("llm_decontaminate joins shingle sets on equi-keys, never cartesian") {
    val plan = finalPlan("llm_decontaminate")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"unblocked join:\n$plan")
    assert(plan.contains("hashpartitioning(g"),
      s"shingle join not keyed on the shingle hash:\n$plan")
  }

  test("llm_chunk_windows fans out with no shuffle before the output sort") {
    val plan = finalPlan("llm_chunk_windows")
    assert(plan.contains("Generate"), s"no explode fan-out:\n$plan")
    // the only exchange is the final total-order sort (rangepartitioning)
    assert(!plan.contains("hashpartitioning"),
      s"unexpected shuffle in a per-row op:\n$plan")
  }

  test("window_sessionize shares one keyed shuffle between lag and running sum") {
    // Both windows partition by user_id with the same ordering, so the
    // plan must carry exactly ONE user-keyed hashpartitioning exchange
    // (plus the final total-order rangepartitioning for the oracle sort).
    val plan = finalPlan("window_sessionize")
    val keyed = "hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(keyed == 1, s"expected one keyed exchange, got $keyed:\n$plan")
  }

  test("window ops sort within partitions only (no global Sort/Exchange after window)") {
    // The registered window_* queries end in a total-order sort for the
    // oracle (D1), which legitimately range-partitions — so build the raw
    // window shape here, without that final sort, and pin ITS plan.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val df = Tables.orders(spark, sf)
      .withColumn("run", sum(Tables.dec(col("o_totalprice"))).over(w))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"no window op:\n$plan")
    assert(plan.contains("hashpartitioning"),
      s"window not key-partitioned:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"window shape globally sorts:\n$plan")
  }

  test("join_interval_bucketed plans hash equi-joins, never a nested loop") {
    // The op's whole reason to exist: a pure range predicate (|Δt| ≤ 1 s,
    // no equi-key) re-expressed as a neighbor-bucket equi-join. If the
    // bucket key ever stops reaching the join, Catalyst would fall back
    // to BroadcastNestedLoopJoin/CartesianProduct — O(n²) at scale.
    val plan = finalPlan("join_interval_bucketed")
    assert(!plan.contains("CartesianProduct"), s"cartesian join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join:\n$plan")
  }

  test("subquery_exists decorrelates to semi/anti joins (no per-row subquery)") {
    val plan = finalPlan("subquery_exists")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"EXISTS did not decorrelate:\n$plan")
  }

  test("graph_pagerank loop iteration: rank broadcasts, edges never " +
      "shuffle (no exchange inside the loop)") {
    // The registered query's per-round localCheckpoint hides every loop
    // iteration from the final .explain (PLANS.md has no pagerank entry
    // for the same reason), so assert the shape of ONE round directly:
    // the rank/contrib tables ride BroadcastExchange, and the
    // dst-pre-partitioned edge table satisfies the dst aggregation's
    // distribution in place — a shuffle exchange anywhere in the round
    // means the O(nodes)-bytes-per-round claim is broken.
    val (edgesD, nodes) =
      operators.Relational.pagerankLayout(spark, sf)
    val rank0 = operators.Relational.uniformRank0(nodes)
    try assertLoopRoundShape(
      operators.Relational.pagerankRound(edgesD, rank0), "pagerank")
    finally operators.GraphLoop.release(edgesD)
  }

  test("graph_connected_components loop iteration: labels broadcast, " +
      "edges never shuffle (no exchange inside the loop)") {
    // Same assert as pagerank's — round-8 factored both ops onto
    // GraphLoop, and this pins the CC round's zero-exchange claim that
    // had been comment-only.
    val (edges, lbl0) = operators.Relational.ccLayout(spark, sf)
    try assertLoopRoundShape(
      operators.Relational.ccRound(edges, lbl0), "connected-components")
    finally operators.GraphLoop.release(edges)
  }

  test("llm_dedup_keep_best_persisted's continuing query scans documents " +
      "only under the batch pushdown (existing-epoch chain absent)") {
    // The op's claim is that the CONTINUING query pays only the new
    // batch's clustering: existing rows assemble from the staged
    // parquet state, and every touch of the documents table carries the
    // doc_id >= thr pushdown. A recompute of the existing epoch would
    // appear here as a documents FileScan WITHOUT that filter.
    val thr = operators.LlmOps.epochThreshold(spark, sf)
    operators.LlmOps.stageEpochState(spark, sf, thr)
    val (stateDir, survDir) = operators.LlmOps.epochDirs(sf)
    val out = operators.LlmOps.keepBestPersistedFrom(spark, sf, thr,
      spark.read.parquet(stateDir), spark.read.parquet(survDir))
    // jumpClosure checkpoints hide the probe's scans from the final
    // plan, so assert both pieces: the pre-closure batch-verdict plan
    // (where the probe lives) and the final assembled plan.
    val plans = Seq(
      "batch verdicts" -> operators.LlmOps.batchVerdictsFromPersisted(
        spark, sf, thr, spark.read.parquet(survDir))
        .queryExecution.executedPlan.toString,
      "final" -> out.queryExecution.executedPlan.toString)
    plans.foreach { case (label, plan) =>
      val docScans = plan.linesIterator
        .filter(l => l.contains("FileScan parquet") &&
          l.contains("documents.parquet")).toSeq
      assert(docScans.nonEmpty,
        s"$label: expected at least one batch-side documents scan")
      docScans.foreach { l =>
        assert(l.contains(s"GreaterThanOrEqual(doc_id,$thr)"),
          s"$label: documents scan without the batch pushdown:\n$l")
      }
    }
    // and the persisted state/survivor parquet is what feeds the rest
    assert(plans.exists(_._2.contains("graft_epoch_")),
      "no staged-parquet scan found in the plans")
  }

  test("llm_minhash_lsh_persisted's continuing query scans documents " +
      "only under the batch pushdown (corpus never re-banded)") {
    // The sketch-family deployment claim: the persisted band index is
    // the ONLY existing-corpus input — the continuing query bands the
    // batch alone. A corpus re-band would appear as a documents
    // FileScan without the doc_id >= thr pushdown.
    val thr = operators.LlmOps.epochThreshold(spark, sf)
    operators.LlmOps.stageMinhashIndex(spark, sf, thr)
    val plan = operators.LlmOps.minhashLshPersistedFrom(spark, sf, thr,
        spark.read.parquet(operators.LlmOps.minhashIndexDir(sf)))
      .queryExecution.executedPlan.toString
    val docScans = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") &&
        l.contains("documents.parquet")).toSeq
    assert(docScans.nonEmpty, "expected batch-side documents scans")
    docScans.foreach { l =>
      assert(l.contains(s"GreaterThanOrEqual(doc_id,$thr)"),
        s"documents scan without the batch pushdown:\n$l")
    }
    assert(plan.contains("graft_epoch_"),
      "no staged band-index scan found in the plan")
  }

  test("the MinHash verdict core is one candidate join plus the per-doc " +
      "readout: no batch-pair self-join") {
    // The rep-level fold (LlmOps.minhashVerdictsCore) meets the ±1
    // probe with index ∪ batch band rows ONCE, joins the per-rep mins
    // to their (text, lang) groups, and left-joins every batch doc to
    // its group. The plan it replaced had 8 joins (a separate index
    // probe, a batch band self-join, member expansion on both sides and
    // two readout left joins); a 4th join here means one came back.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val thr = operators.LlmOps.epochThreshold(spark, sf)
    val idx = operators.LlmOps.minhashBandIndex(
      Tables.documents(spark, sf).filter(col("doc_id") < thr))
    val plan = operators.LlmOps.minhashLshPersistedFrom(spark, sf, thr, idx)
      .queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j.joinType.sql }
    assert(joins.sorted == Seq("INNER", "INNER", "LEFT OUTER"),
      s"expected 3 joins (2 inner, 1 left outer), got $joins:\n$plan")
  }

  test("no registered op carries an optimizer-inferred filter that " +
      "re-evaluates a heavy generator input (InferFiltersFromGenerate)") {
    // Round-9 found llm_decontaminate 66s at 16x replicas because
    // Catalyst's InferFiltersFromGenerate duplicated the whole 8-gram
    // hash expression (a transform/slice chain feeding explode) into a
    // Filter BELOW the collapse exchange, re-running it per replica.
    // The generic fix is PlanHygiene.explodeNoInfer; this audit (the
    // promoted Scratch.scala driver that found the r9 hits) makes it
    // regression-proof across EVERY registered op: a Filter or scan
    // DataFilters line containing transform(/slice(/sequence( means an
    // inferred copy of a generator input is being evaluated pre-explode.
    // Plans are built (not executed) at sf0.001; ops whose CONSTRUCTION
    // runs jobs (graph loops, adaptive-collapse prechecks, streaming
    // memory sinks) pay their small build cost here.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
      val plan = SparkEntry.queries(n)(spark, sf)
        .queryExecution.executedPlan.toString
      val hits = plan.linesIterator.filter { l =>
        val t = l.trim
        (t.startsWith("+- Filter") || t.startsWith("Filter") ||
          t.contains("DataFilters:")) &&
        (t.contains("transform(") || t.contains("slice(") ||
          t.contains("sequence("))
      }.size
      if (hits > 0) Some(s"$n ($hits line(s))") else None
    }
    assert(offenders.isEmpty,
      s"heavy-generator inferred filters in: ${offenders.mkString(", ")}")
  }

  /** One graph-loop round must read edges from the loop-invariant
    * cache, broadcast the node-cardinality state, and contain no
    * shuffle exchange — a shuffle anywhere in the round means the
    * O(nodes)-bytes-per-round claim is broken. The printed plan embeds
    * the cached edge table's BUILD plan (below the InMemoryRelation
    * line) — its exchanges are the paid-once layout; everything ABOVE
    * InMemoryRelation is what the loop runs per round. */
  private def assertLoopRoundShape(df: org.apache.spark.sql.DataFrame,
      label: String): Unit = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val init = s.indexOf("== Initial Plan ==")
    val plan = if (init >= 0) s.substring(0, init) else s
    assert(plan.contains("BroadcastHashJoin"),
      s"$label state side not broadcast:\n$plan")
    assert(plan.contains("InMemoryRelation"),
      s"$label edge table not read from the loop-invariant cache:\n$plan")
    val loopPlan = plan.substring(0, plan.indexOf("InMemoryRelation"))
    assert(!loopPlan.contains("Exchange hashpartitioning") &&
      !loopPlan.contains("Exchange rangepartitioning") &&
      !loopPlan.contains("Exchange SinglePartition"),
      s"shuffle exchange inside the $label loop:\n$plan")
  }

  test("llm_semantic_dedup generates in-cluster pairs via a cell-keyed equi-join") {
    val plan = finalPlan("llm_semantic_dedup")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // the corpus pair join must be an EQUI-join keyed by the quantizer
    // cell (the plain label at test scale — round-12 renamed the key
    // to `cell` for the adaptive sub-quantization; hash or sort-merge,
    // size-based adaptivity may broadcast at test scale, the equi-key
    // is the invariant); the centroid join is the only legitimate
    // broadcast of a non-corpus side
    val pairJoin =
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cell#".r
        .findFirstIn(plan).isDefined ||
      plan.contains("hashpartitioning(cell")
    assert(pairJoin, s"pair join not keyed by cell:\n$plan")
  }

  test("llm_semantic_dedup REFINED path stays cell-keyed with no " +
      "cartesian anywhere in the sub-k-means") {
    // force the sub-quantizer at test scale: the refinement's
    // assignment rounds must be broadcast joins of the tiny centroid
    // tables (never a corpus-side broadcast or a cartesian), and the
    // pair join must still key on the (now refined) cell
    spark.conf.set("spark.graft.semanticCellCap", "0")
    try {
      val df = SparkEntry.queries("llm_semantic_dedup")(spark, sf)
      df.collect()
      val s0 = df.queryExecution.executedPlan.toString
      val init = s0.indexOf("== Initial Plan ==")
      val plan = if (init >= 0) s0.substring(0, init) else s0
      assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
      val pairJoin =
        "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cell#".r
          .findFirstIn(plan).isDefined ||
        plan.contains("hashpartitioning(cell")
      assert(pairJoin, s"refined pair join not keyed by cell:\n$plan")
    } finally spark.conf.unset("spark.graft.semanticCellCap")
  }

  test("llm_perplexity_bucket's only Window sorts the bin table, never the corpus") {
    val plan = finalPlan("llm_perplexity_bucket")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // exactly one Window operator, and its ordering key is the
    // 0.01-nat bin — the cumulative sum over the BOUNDED histogram;
    // a corpus-ordered window (the global-ntile shape this op exists
    // to avoid) would key on the doc score instead
    val windows = "windowspecdefinition\\((us#\\d+L )?bin#"
      .r.findAllIn(plan).size
    val allWindows = "windowspecdefinition\\(".r.findAllIn(plan).size
    assert(allWindows == windows && windows >= 1,
      s"unexpected window shape ($windows/$allWindows):\n$plan")
  }

  test("the CCNet ops train their models ONCE: stage cuts leave zero " +
      "parquet scans in the executed plans, and disabling the cut " +
      "demonstrably replays the lineage") {
    // both the cutoff histogram and the verdict projection consume the
    // per-doc score frame; the round-12 stage cut makes the
    // single-training claim STRUCTURAL — the executed final plan reads
    // only the materialized stage (no corpus FileScan survives)
    Seq("llm_perplexity_bucket", "llm_ccnet_pipeline").foreach { q =>
      val plan = finalPlan(q)
      assert(!plan.contains("Scan parquet"),
        s"$q: a consumer replayed the score lineage past the cut:\n$plan")
    }
    // contrast proves the assertion bites: with lazy plans the two
    // consumers each rebuild the lineage from the scan up
    spark.conf.set("spark.graft.checkpointStages", "false")
    try {
      val lazyPlan = finalPlan("llm_perplexity_bucket")
      val scans = "Scan parquet".r.findAllIn(lazyPlan).length
      assert(scans >= 2,
        s"expected the un-cut plan to rescan the corpus, got $scans")
    } finally spark.conf.unset("spark.graft.checkpointStages")
  }
}
