package graft.queries

import graft.SparkSpec

/** Locks the scale-critical physical-plan shapes of the headline queries —
  * the properties that make them 100 TB plans, not just correct ones. A
  * regression here (a dim join degrading to shuffle, a filter no longer
  * reaching the scan, partial aggregation disappearing) would pass every
  * value-correctness oracle while multiplying cluster cost, so the plans
  * are asserted directly.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    graft.SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q5_multijoin broadcasts the dimension tables and never loops") {
    val plan = planOf("q5_multijoin")
    // region + nation ride broadcast hash joins (small dims at ANY SF)...
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    // ...and nothing degenerates to an all-pairs or cartesian shape
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q1_agg aggregates map-side before the exchange") {
    val plan = planOf("q1_agg")
    // partial_sum below the shuffle: the exchange carries groups, not rows
    assert(plan.contains("partial_sum") || plan.contains("partial(sum"), plan)
    assert(plan.contains("Exchange hashpartitioning"), plan)
  }

  test("q6_sql pushes its filters and pruning into the parquet scan") {
    val plan = planOf("q6_sql")
    // the selective predicates reach the scan (PushedFilters), and the scan
    // reads only the 3 referenced columns of the 16-column table
    assert(plan.contains("PushedFilters: [IsNotNull(l_discount)"), plan)
    assert(plan.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>"), plan)
  }

  test("heavy_hitters recounts via a broadcast join, never shuffling the vocabulary wide") {
    val plan = planOf("heavy_hitters")
    // the candidate recount joins the token stream against the broadcast
    // candidate set — a shuffle join here would re-key the full corpus
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // both aggregations keep their partial (map-side) phase
    assert(plan.contains("partial"), plan)
  }

  test("embed_centroids broadcasts the tiny centroid table back to the corpus") {
    val plan = planOf("embed_centroids")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("events_hop aggregates map-side and prunes to the referenced columns") {
    val plan = planOf("events_hop")
    assert(plan.contains("partial"), plan)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.nonEmpty, plan)
    assert(!readSchema.contains("props") && !readSchema.contains("user_id"), plan)
  }

  test("corpus_zipf takes the vocabulary top-50 distributed, never a global sort") {
    val plan = planOf("corpus_zipf")
    // orderBy().limit(50) must plan TakeOrderedAndProject (per-partition
    // top-k heaps merged on the driver) — a global Sort of the vocabulary
    // before the limit would single-task the whole token table at scale
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the token count keeps its map-side partial phase
    assert(plan.contains("partial"), plan)
    // the slope re-attach is the 1-row broadcast, not a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("new window queries (lead_lag, rank_family) sort once per window, no extra exchange") {
    for (q <- Seq("q_lead_lag", "q_rank_family")) {
      val plan = planOf(q)
      // one hash exchange keys the window partitions; the final
      // presentation orderBy may add a range exchange but no more
      assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, s"$q:\n$plan")
      assert(plan.contains("Window"), s"$q:\n$plan")
      // the key filter reaches the scan
      assert(plan.contains("PushedFilters"), s"$q:\n$plan")
    }
  }

  test("q_multi_distinct expands once and keeps partial aggregation") {
    val plan = planOf("q_multi_distinct")
    assert(plan.contains("Expand"), plan)
    assert(plan.contains("partial"), plan)
  }

  test("embed_norm_stats is one narrow scan + one keyed aggregate") {
    val plan = planOf("embed_norm_stats")
    assert(plan.contains("partial"), plan)
    assert(!plan.contains("Join"), plan)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(!readSchema.contains("vec_id"), plan)
  }

  test("events_user_stats aggregates map-side over the pruned event columns") {
    val plan = planOf("events_user_stats")
    assert(plan.contains("partial"), plan)
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.nonEmpty, plan)
    assert(!readSchema.contains("props") && !readSchema.contains("event_id"), plan)
  }

  test("text filters (repetition/gopher/pii) stay narrow: no exchange at all") {
    for (q <- Seq("text_repetition", "quality_gopher", "pii_scrub")) {
      val plan = planOf(q)
      // scan → project → (sort for the display orderBy); nothing keyed
      assert(!plan.contains("Exchange hashpartitioning"), s"$q:\n$plan")
    }
  }

  test("shard_shuffle plans one exchange keyed by shard — the shuffle-write shape") {
    val plan = planOf("shard_shuffle")
    // one hash exchange for the shard window (plus the display sort's range
    // exchange); NO global single-partition sort and no join of any kind
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("doc_novelty exchanges gram fingerprints only, never gram text") {
    val plan = planOf("doc_novelty")
    // both aggregations keep their map-side partial phase...
    assert(plan.contains("partial"), plan)
    // ...and nothing degenerates to an all-pairs shape; the id join back to
    // the doc table stays a keyed or broadcast join
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the gram exchange carries the xxhash64 fingerprint column, not text
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.exists(_.contains("gh")), plan)
    assert(!exchanges.exists(_.contains("text")), plan)
  }

  test("events_anomaly aggregates map-side and windows per type, never globally") {
    val plan = planOf("events_anomaly")
    assert(plan.contains("partial"), plan)
    // the trailing window partitions by event_type — a missing partition
    // key would serialise the whole bucket table through one task
    assert(plan.contains("Exchange hashpartitioning(event_type"), plan)
  }

  test("kg_node_sim enumerates pairs through the inverted index, never all-pairs") {
    val plan = planOf("kg_node_sim")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the pair aggregation keeps its map-side partial phase
    assert(plan.contains("partial"), plan)
  }

  test("corpus_diff is one id-keyed join: no loops, fingerprints in the scan projection") {
    val plan = planOf("corpus_diff")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // xxhash64 computes below the join (projection side), not above it —
    // the join carries (id, fingerprint), never text
    val joinIdx = plan.indexOf("Join")
    val hashIdx = plan.lastIndexOf("xxhash64")
    assert(joinIdx >= 0 && hashIdx > joinIdx,
      s"fingerprints must be computed under the join (join@$joinIdx hash@$hashIdx)\n$plan")
  }

  test("dedup_ngram_zipf (PPJoin prefix route) plans keyed shuffles only") {
    val plan = planOf("dedup_ngram_zipf")
    // the prefix-filtered inverted index must never degenerate to an
    // all-pairs shape: every join is keyed (prefix shingle, id re-attach)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dedup_edit plans keyed equi joins only — both chunk and length-band routes") {
    val plan = planOf("dedup_edit")
    // the PartEnum chunk join AND the short-key length-band join must both
    // be equi-keyed: an inequality-only self-join here plans a
    // BroadcastNestedLoopJoin that is O(|short|²) on exactly the
    // title/URL corpora the operator targets
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("corpus_coverage takes the vocabulary top-k distributed, never a global sort") {
    val plan = planOf("corpus_coverage")
    // the top-max(k) cut must plan TakeOrderedAndProject (per-partition
    // heaps), not a full vocabulary Sort before the limit
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the token count keeps its map-side partial phase
    assert(plan.contains("partial"), plan)
  }

  test("events_latest_per_key and events_top_users plan the TopKPerKey rewrite, not a full window sort") {
    for (q <- Seq("events_latest_per_key", "events_top_users", "corpus_ngram_topk")) {
      val plan = planOf(q)
      // the rank<=k window must become bounded per-partition heaps before
      // the exchange — a WindowExec here sorts every key's full row set
      assert(plan.contains("TopKPerKey"), s"$q:\n$plan")
    }
  }

  test("events_gap_stats windows per type and keeps its map-side partial aggregate") {
    val plan = planOf("events_gap_stats")
    // the lag window partitions by event_type — never a global sort
    assert(plan.contains("Exchange hashpartitioning(event_type"), plan)
    assert(plan.contains("partial"), plan)
  }

  test("exact-percentile queries run one keyed aggregate on small input") {
    // Spark's `percentile` TypedImperativeAggregate buffers each group's
    // value map on one reducer — with fact-sized groups (3 return flags
    // over all of lineitem; per-type gap distributions) that is an
    // executor OOM at 100 TB, so percentilesExact plans it only when the
    // optimiser sizes the (group, value) input under
    // Stats.OnePassMaxBytes. The fixture is that small: each query is one
    // keyed aggregate, with no eager rank or bucket pass left in the plan.
    // Larger input keeps the two-pass routes, which StatsSpec forces and
    // compares with this one.
    val aggregate = """(?<![a-z_])percentile\(""".r
    for (q <- Seq("q_median", "events_gap_stats", "corpus_percentiles")) {
      val plan = planOf(q)
      assert(aggregate.findFirstIn(plan).isDefined, s"$q:\n$plan")
      assert(!plan.contains("row_number") && !plan.contains("graft_sorted_bucket"),
        s"$q:\n$plan")
      // the aggregate is keyed (never one global reducer for many groups)
      assert(plan.contains("Exchange hashpartitioning"), s"$q:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("corpus_diversity is two keyed map-combined aggregates, no joins or windows") {
    val plan = planOf("corpus_diversity")
    assert(plan.contains("partial"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("corpus_temperature broadcasts the share table and windows once") {
    val plan = planOf("corpus_temperature")
    // the |domains|-row weight table rides a broadcast, never a shuffle join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // exactly one window pass (the per-language running sum)
    assert("Window".r.findAllIn(plan).size === 1, plan)
  }

  test("bpe_train's pair count aggregates map-side; no corpus-sized join") {
    import graft.ops.text.Bpe
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // audit one round's pair-count stage (the per-round hot path)
    val vocab = Bpe.bpeTrainFull(docs, k = 1)._2
    val plan = vocab.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("quality_agreement reduces to one row in a single scan") {
    val plan = planOf("quality_agreement")
    // global conditional-sum aggregate: partial below, final above ONE
    // single-partition exchange; no join anywhere
    assert(plan.contains("partial"), plan)
    assert(!plan.contains("Join"), plan)
    assert("Exchange".r.findAllIn(plan).size <= 1, plan)
  }

  test("events_window aggregates map-side and scans only referenced columns") {
    val plan = planOf("events_window")
    assert(plan.contains("partial"), plan)
    // column pruning: the unreferenced wide columns must not be read
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.nonEmpty, plan)
    assert(!readSchema.contains("props") && !readSchema.contains("user_id"), plan)
  }

  test("passage_dedup shuffles fingerprints only — chunk text never reaches an exchange") {
    val plan = planOf("passage_dedup")
    // both aggregations keep their map-side partial phase
    assert(plan.contains("partial"), plan)
    // every exchange carries the md5 fingerprint, never the chunk column
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, plan)
    assert(exchanges.forall(e => e.contains("chunk_fp") && !e.contains("chunk#")),
      exchanges.mkString("; "))
  }

  test("skew_report reduces to per-key counts before any global work") {
    val plan = planOf("skew_report")
    // the per-key count aggregates map-side; the totals ride a broadcast
    assert(plan.contains("partial"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    // the raw fact table is never re-shuffled wide: the only hash exchange
    // keys on the grouping key
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.forall(_.contains("key")), exchanges.mkString("; "))
  }

  test("corpus_cms probes the broadcast register table and takes its top-k distributed") {
    val plan = planOf("corpus_cms")
    // the 256-row register table broadcasts to the probe side — the token
    // stream is never re-shuffled to meet it
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // exact top-10 through per-partition heaps, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // both the register build and the exact count keep map-side partials
    assert(plan.contains("partial"), plan)
  }

  test("text_winnowing selects fingerprints narrowly: no joins, no keyed shuffle at all") {
    val plan = planOf("text_winnowing")
    // the whole selection is per-document partition work; the only
    // exchange is the presentation sort's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("MapPartitions"), plan)
  }

  test("dedup_winnow joins fingerprints only and ranks through bounded heaps") {
    val plan = planOf("dedup_winnow")
    // posting-list self-join and size attaches are all keyed equi joins —
    // nothing degenerates to an all-pairs shape
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // top-100 through per-partition heaps, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // pair counting keeps its map-side partial
    assert(plan.contains("partial"), plan)
  }

  test("q_histogram is one narrow bucket map into a map-combined aggregate") {
    val plan = planOf("q_histogram")
    assert(plan.contains("partial"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("kg_link_predict takes its head via TakeOrderedAndProject with no loop join") {
    val plan = planOf("kg_link_predict")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("corpus_burstiness reduces map-side and ranks via TakeOrderedAndProject") {
    val plan = planOf("corpus_burstiness")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q_mode ranks through TopKPerKey bounded heaps, not a Window sort") {
    val plan = planOf("q_mode")
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial"), plan)
  }

  test("corpus_pmi takes its top-20 via TakeOrderedAndProject with map-combined counts") {
    val plan = planOf("corpus_pmi")
    // never a global sort of the bigram vocabulary
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("order_backlog reduces to per-day deltas before its bounded running-sum window") {
    val plan = planOf("order_backlog")
    // the keyed day aggregate (map-combined) runs BELOW the window, so the
    // window input is the bounded date support, not the lineitem stream
    assert(plan.contains("partial"), plan)
    assert("Window".r.findAllIn(plan).size >= 1, plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("corpus_js counts map-side; the only loop join is the 1-row totals attach") {
    val plan = planOf("corpus_js")
    assert(plan.contains("partial"), plan)
    // the totals cross join must ride a BROADCAST (1-row side), never a
    // partitioned cartesian product
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("embed_dim_stats is one narrow explode into a map-combined aggregate, no joins") {
    val plan = planOf("embed_dim_stats")
    // posexplode widens ×dim in place; the only exchange carries the
    // |dim|-sized groups after the partial aggregate
    assert(plan.contains("Generate posexplode"), plan)
    assert(plan.contains("partial"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("q_full_outer plans a single keyed full-outer join with map-side aggregation") {
    val plan = planOf("q_full_outer")
    assert(plan.contains("FullOuter"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial"), plan)
  }

  test("events_abandon (parameterized CEP) is one keyed aggregate, no join, no window") {
    val plan = planOf("events_abandon")
    // the whole CEP: ONE shuffle into the per-user sequence aggregate, then
    // a narrow scan-side regex — a window-over-the-stream or self-join
    // formulation would be the 100 TB regression this guards against
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("dedup_winnow_inc broadcasts the batch postings against the streamed index") {
    val plan = planOf("dedup_winnow_inc")
    // per-batch contract: the (small) guarded batch side broadcasts; the
    // corpus-sized index must never re-key through a shuffle join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial"), plan)
  }

  test("kg_modularity keeps membership joins keyed; only the 1-row edge count crosses") {
    val plan = planOf("kg_modularity")
    // the single BroadcastNestedLoopJoin is the 1-row total-edge-count
    // attach (benign by construction); everything |V|/|E|-sized must stay
    // a keyed equi join and aggregate map-side
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial"), plan)
    assert(plan.split("BroadcastNestedLoopJoin").length - 1 === 1, plan)
  }

  test("q_salted_join keys on (key, salt) with no fallback to a loop join") {
    val plan = planOf("q_salted_join")
    // the whole point: the join stays a keyed equi join on the widened key
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // both join keys participate: salt appears in the join's key expressions
    assert(plan.contains("salt"), plan)
  }

  test("quality_ols reduces both corpus passes map-side; only 1-row models cross") {
    val plan = planOf("quality_ols")
    // the 10-sum pass and the residual pass both keep their partial
    // (map-side) phase — the exchanges carry ONE row each, never docs
    assert(plan.contains("partial"), plan)
    // the coefficient/residual attaches are 1-row broadcasts (crossJoin
    // of a localCheckpointed single row), never a keyed shuffle join
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("media_audio_stats is one narrow scan-speed pass: no join, no keyed shuffle") {
    val plan = planOf("media_audio_stats")
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // the stats ride the native codegen expression, not an interpreted HOF
    assert(plan.contains("graft_audiostats"), plan)
  }

  test("media_motion pairs frames through a keyed equi-join, never a loop") {
    val plan = planOf("media_motion")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the profile aggregate keeps its map-side partial phase
    assert(plan.contains("partial"), plan)
  }

  test("orders_rfm scores against broadcast quantile cuts — no ntile Window, no global sort before scoring") {
    val plan = planOf("orders_rfm")
    // the whole design point: quintile scoring must NOT be a global
    // ntile() — that plans a single-partition Window over all customers
    assert(!plan.contains("ntile"), plan)
    // the only Windows allowed are percentilesExact's INTERNAL bucket-
    // partitioned row_numbers (partition spec [__b…] — parallel by
    // construction); a Window with any other partitioning would be the
    // global-sort shape this query exists to avoid
    assert(plan.linesIterator.filter(_.contains("Window ["))
      .forall(_.contains("], [__b")), plan)
    // the three 4-cut boundary rows attach as 1-row broadcasts (the
    // per-customer aggregate itself sits behind a localCheckpoint, so
    // the scoring plan starts from the compact customer table)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan)
  }

  test("kg_reciprocity keeps the reverse check a keyed semi-join with map-side counts") {
    val plan = planOf("kg_reciprocity")
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial"), plan)
  }

  test("kg_walks returns a flat union of per-step checkpoints — lineage never re-derives a step") {
    val plan = planOf("kg_walks")
    // each step is localCheckpoint-flattened (the kg_ppr stance): the
    // final plan is a union of L+1 materialised step scans, so no union
    // branch re-derives prior steps (the O(L²) recompute this audit
    // exists to block) and no join of any kind survives to the read plan
    assert("Scan ExistingRDD".r.findAllIn(plan).size === 4, plan)
    assert(plan.contains("Union"), plan)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan)
  }

  test("dedup_bitvec claims pairs at the first shared band: no Deduplicate, codes-only banding") {
    val plan = planOf("dedup_bitvec")
    // the first-shared-band arithmetic replaces dropDuplicates — a
    // Deduplicate/distinct appearing here means the claim logic regressed
    assert(!plan.toLowerCase.contains("deduplicate"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // banding posexplodes the packed 64-bit CODE, not the vector — the
    // pair join's build/stream sides carry (id, code, band, bval) only
    assert(plan.contains("posexplode(array((shiftrightunsigned(code#"), plan)
    assert(!plan.contains("Exchange hashpartitioning(embedding"), plan)
  }

  test("orders_cohort joins on custkey and reduces map-side; frontier is a 1-row broadcast") {
    val plan = planOf("orders_cohort")
    assert(plan.contains("partial"), plan)
    // the only nested-loop is the 1-row frontier crossJoin attach
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
