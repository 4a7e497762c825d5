package graft.ops.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.text.TextOps

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes (100 TB):
  *  - exact: one hash-partition shuffle on the normalisation key.
  *  - ngramJaccardAdaptive (default): tokenises once into staged shingle
  *    arrays; full-corpus density stats route zipfian
  *    corpora to ngramJaccardPrefix (PPJoin prefix-filtered inverted index,
  *    exact at any size) and dense small-vocab corpora to
  *    ngramJaccardBitmap (vocab-indexed bitmap exact all-pairs) below the
  *    size guards / minhashLsh (verified LSH candidates) above them.
  *    ngramJaccard: broadcast + native merge-scan intersect, a small-side
  *    utility; ngramJaccardSparse: plain inverted-index shuffle;
  *    ngramJaccardPigeonhole: partition-based chunk-signature join for
  *    large-document corpora (see its header for the dense degeneration).
  *  - minhash: signatures are a narrow map (native one-pass expression, no
  *    shuffle); only the small band-bucket join shuffles, then candidates
  *    are verified exactly — the default at corpus scale.
  *  - staging: the shingle/signature bases localCheckpoint (executor
  *    memory-and-disk, lineage truncated) so ONE tokenise pass feeds every
  *    consumer — the multi-pass stage-once tradeoff, storage ≈ input.
  *    The cost is fault-tolerance: a lost executor fails the query instead
  *    of recomputing. Right for dedup jobs (hours, rerunnable); a
  *    multi-day pipeline sets `spark.graft.staging.reliable=true` (plus
  *    `sc.setCheckpointDir` on durable storage) to route the SAME staging
  *    points through reliable checkpoints — identical results, executor
  *    loss survivable (see [[graft.io.DataFrames.stage]]).
  *  - simhash: 64-bit signature as a narrow map (native expression);
  *    pigeonhole chunk banding finds all pairs within the hamming
  *    threshold without O(n²).
  *  - clusters: pair output feeds GraphX connectedComponents
  *    (graft.ops.graph) for canonical-representative assignment.
  */
object Dedup {

  /** Slack for floating-point threshold arithmetic in prefilters: a double
    * product like `na * t` can land an ulp ABOVE the exact rational value
    * (e.g. 100 * 0.1 = 10.000000000000002), and a strict comparison or
    * `ceil` would then drop a pair whose true Jaccard sits exactly at the
    * threshold. Every size/positional/prefix-length bound below subtracts
    * this before comparing or ceiling — the slack can only ADMIT extra
    * candidates (rejected by exact verification), never drop a valid one.
    */
  private val Eps = 1e-9

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** See [[graft.io.DataFrames.spread]] — every tokenise pass below spreads
    * a few-split source across cores first.
    */
  private def spread(df: DataFrame): DataFrame = graft.io.DataFrames.spread(df)

  /** See [[graft.io.DataFrames.stage]] — every staging point below is
    * local-checkpoint by default and flips to RELIABLE checkpointing under
    * `spark.graft.staging.reliable=true` (multi-day pipelines that must
    * survive executor loss; results identical, spec-pinned).
    */
  private def stage(df: DataFrame): DataFrame = graft.io.DataFrames.stage(df)

  /** Shared base: (id, sh = sorted distinct xxhash64 bigram shingles, n).
    * Shingle-less docs can't be near-dups (and would 0-divide).
    */
  private def shingled(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        array_sort(transform(TextOps.bigrams(col(textCol)), sh => xxhash64(sh))).as("sh"))
      .withColumn("n", size(col("sh")))
      .where(col("n") > 0)

  /** Shared verification tail: re-attach the shingle arrays to the (small)
    * candidate pair set, then verify exactly with the native merge-scan
    * intersect. Candidates are melted to one row per pair SIDE and joined
    * against the sets ONCE — the corpus-sized subtree (shingling + sorting
    * + hashing) is evaluated a single time, and the pivot back to pairs
    * shuffles only candidate-sized data. (r17 measured the "obvious"
    * alternative — two id-keyed re-attach joins, no first()-pivot — as a
    * consistent loss on every consumer: the pivot's SortAggregate only
    * sorts the CANDIDATE-sized stream, while a second join doubles the
    * probes of the corpus-sized set table.)
    */
  private def verifyPairs(candidates: DataFrame, sets: DataFrame,
                          minJaccard: Double): DataFrame = {
    val melted = candidates
      .select(col("a"), col("b"), explode(array(col("a"), col("b"))).as("id"))
    melted.join(sets, "id")
      .groupBy("a", "b")
      .agg(
        first(when(col("id") === col("a"), col("sh")), ignoreNulls = true).as("sha"),
        first(when(col("id") === col("b"), col("sh")), ignoreNulls = true).as("shb"),
        first(when(col("id") === col("a"), col("n")), ignoreNulls = true).as("na"),
        first(when(col("id") === col("b"), col("n")), ignoreNulls = true).as("nb"))
      .withColumn("inter",
        call_function("graft_intersect_count", col("sha"), col("shb")).cast("long"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .orderBy("a", "b")
  }

  /** Exact dedup on a normalisation key (here: first `prefixTokens` tokens).
    * Emits one row per duplicate group: md5 of the key, canonical (min) id,
    * group size, sorted member ids.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
            prefixTokens: Int = 10): DataFrame = {
    val key = concat_ws(" ", slice(split(col(textCol), " "), 1, prefixTokens))
    docs
      // a NULL text cannot attest equality (concat_ws would silently key it
      // as the EMPTY string, pairing "missing" with "empty" — the r15 NULL
      // poison-row finding), and a NULL id cannot be canonicalised
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("id"), md5(key).as("key_hash"))
      .groupBy("key_hash")
      .agg(min("id").as("canonical_id"), count(lit(1)).as("n_dups"),
        array_join(array_sort(collect_list(col("id").cast("string"))), ",").as("members"))
      .where(col("n_dups") > 1)
      .orderBy("canonical_id")
  }

  /** Content-hash snapshot diff — the incremental-ingest bookkeeping step:
    * which documents a new corpus snapshot ADDED, REMOVED, or CHANGED
    * relative to the previous one. Returns (id, status) for exactly those
    * rows; unchanged documents are never emitted, so the output is
    * |delta|-sized however big the snapshots are (feeding downstream
    * incremental dedup/indexing — see [[minhashLshIncrement]] — instead of
    * reprocessing the corpus).
    *
    * Plan: one full-outer join keyed on the id — co-partitionable (bucket
    * both snapshots by id at ingest and it shuffles nothing) — comparing
    * xxhash64 content fingerprints computed in the scan projection. A
    * 2^-64 collision can only misreport one changed row as unchanged.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def sig(df: DataFrame) =
      df.select(col(idCol).as("id"), xxhash64(col(textCol)).as("h"))
    sig(oldSnap).as("o")
      .join(sig(newSnap).as("n"), col("o.id") === col("n.id"), "full_outer")
      .select(coalesce(col("o.id"), col("n.id")).as("id"),
        when(col("o.id").isNull, lit("added"))
          .when(col("n.id").isNull, lit("removed"))
          .when(col("o.h") =!= col("n.h"), lit("changed"))
          .as("status"))
      .where(col("status").isNotNull)
  }

  /** Exact bigram-shingle Jaccard similarity join: all pairs with
    * `J(a,b) >= minJaccard`. Shingle sets travel as SORTED arrays of
    * xxhash64 keys; pair enumeration is a broadcast nested-loop join and the
    * intersection size comes from the native merge-scan expression
    * graft_intersect_count — no shuffle at all, O(n²·d) with tiny constants
    * (tight primitive loops, zero per-pair allocation).
    *
    * Scale notes: the broadcast loop is right when one side fits in memory
    * (dedup within a partition/bucket, or a dense small-vocab corpus where
    * inverted indexes degenerate). For large zipfian corpora use
    * [[ngramJaccardSparse]] (shuffle on the shingle key, cost Σ df²); at
    * 100 TB use [[minhashLsh]] — same verified output, cheapest by far.
    */
  def ngramJaccard(docs: DataFrame, minJaccard: Double,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = shingled(docs, idCol, textCol)
    // spread the probe side across all cores: the source is often a single
    // input split, which would otherwise serialise the whole O(n²) loop
    val a = base.select(col("id").as("a"), col("sh").as("sha"), col("n").as("na"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val b = base.select(col("id").as("b"), col("sh").as("shb"), col("n").as("nb"))
    // size-ratio prefilter: J >= t forces min(na,nb)/max(na,nb) >= t, so
    // mismatched sizes are rejected before any intersection work
    a.join(broadcast(b), col("a") < col("b") &&
        col("na") * minJaccard - lit(Eps) <= col("nb") &&
        col("nb") * minJaccard - lit(Eps) <= col("na"))
      .withColumn("inter",
        call_function("graft_intersect_count", col("sha"), col("shb")).cast("long"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .orderBy("a", "b")
  }

  /** PPJoin prefix-filtered similarity join (Xiao et al., "Efficient
    * Similarity Joins for Near Duplicate Detection") — identical output to
    * [[ngramJaccard]], no broadcast, no O(n²).
    *
    * With every record's shingles sorted by ONE global order, any pair with
    * J ≥ t must share a shingle inside each side's first
    * `n − ceil(t·n) + 1` shingles: J ≥ t implies
    * |A∩B| ≥ t·(|A|+|B|)/(1+t) ≥ t·max(|A|,|B|) given the size filter
    * min ≥ t·max, and missing the whole prefix caps the overlap below that.
    * So only prefixes are inverted. The global order is ASCENDING DOCUMENT
    * FREQUENCY (rarest first, ties by hash) — the load-bearing choice:
    * prefixes then hold each record's globally rarest shingles, so posting
    * lists of the inverted prefix index are short by construction and the
    * candidate volume Σ df_prefix² stays near-linear even on corpora with
    * hot templates (a hash order puts hot shingles in prefixes at random
    * and quadratic blow-up returns).
    *
    * Positional filter on top: both sides being sorted by the same global
    * order, the shared token with the minimal position in A is also the one
    * with the minimal position in B, and overlap ≤ min(na−ia, nb−ib) from
    * those first-match positions; candidates falling below the required
    * overlap ceil(t/(1+t)·(na+nb)) are dropped before verification.
    *
    * Survivor pairs re-attach their full value-sorted arrays via two narrow
    * id joins and are verified exactly with the native merge-scan
    * intersect. Every stage is a keyed shuffle (shingle df, prefix posting
    * join, id re-attach) that AQE can rebalance — the plan survives 100×.
    */
  def ngramJaccardPrefix(docs: DataFrame, minJaccard: Double,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // same staging as the adaptive route: spread a few-split source across
    // cores, then tokenise ONCE — prefixJoin consumes the base four times
    // (df table, rarity ranking, prefix index, verification re-attach),
    // and without the checkpoint the tokenise subtree re-runs for each
    // (measured 8.9 s -> 1 s at sf0.1 on the salted-zipfian corpus)
    prefixJoin(shingledStaged(docs, idCol, textCol), minJaccard)
  }

  /** The staged shingle base the prefix route consumes (spread across
    * cores, tokenised once, pinned by localCheckpoint). Exposed so specs
    * can feed [[prefixCandidates]]/[[verifyPrefixPairs]] the same base.
    */
  private[graft] def shingledStaged(docs: DataFrame, idCol: String = "doc_id",
                                    textCol: String = "text"): DataFrame =
    shingled(spread(docs), idCol, textCol).transform(stage)

  /** Verification tail of the prefix route over its staged base. */
  private[graft] def verifyPrefixPairs(cand: DataFrame, base: DataFrame,
                                       minJaccard: Double): DataFrame =
    verifyPairs(cand, base.select(col("id"), col("sh"), col("n")), minJaccard)

  /** Core of [[ngramJaccardPrefix]] over a prebuilt shingle base —
    * [[ngramJaccardAdaptive]] feeds it the STAGED arrays so the tokenise
    * pass is not re-run for the df table, the prefix index, and the
    * verification re-attach.
    */
  private def prefixJoin(base: DataFrame, minJaccard: Double): DataFrame =
    verifyPrefixPairs(prefixCandidates(base, minJaccard), base, minJaccard)

  /** Threshold at or above which the PPJoin+ suffix filter is applied by
    * default. The three-pivot bound is strong where prefixes are short and
    * the positional bound degenerates (high t); at mid thresholds the
    * measured prune is ~3 % of candidates (t=0.5, zipfian corpus) while the
    * filter's two candidate-sized signature joins add ~40 % wall time — a
    * net loss. Below the gate the candidate stage skips the filter; callers
    * can force it either way with the explicit `suffix` argument.
    */
  private[graft] val SuffixGate = 0.6

  /** Candidate stage of the prefix route: the inverted prefix index join,
    * the accumulated-overlap positional filter, and (gated, see
    * [[SuffixGate]]) the PPJoin+ suffix filter. Returns the (a, b) pair set
    * that [[verifyPrefixPairs]] verifies exactly. Exposed for the
    * plan-audit/candidate-count specs.
    */
  private[graft] def prefixCandidates(base: DataFrame, minJaccard: Double,
                                      suffix: Option[Boolean] = None): DataFrame = {
    val useSuffix = suffix.getOrElse(minJaccard >= SuffixGate - Eps)
    // global rarity order: shingle -> document frequency, each record's
    // shingles re-ranked by (df, h)
    val ex = base.select(col("id"), col("n"), explode(col("sh")).as("h"))
    val dfTab = ex.groupBy("h").agg(count(lit(1)).as("df"))
    val ranked = ex.join(dfTab, "h")
      .groupBy("id", "n")
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("rk"))
    val prefLen = (col("n") - ceil(col("n") * minJaccard - lit(Eps)) + 1).cast("int")
    val pref = ranked.select(col("id"), col("n"),
      posexplode(slice(transform(col("rk"), s => s.getField("h")), lit(1), prefLen))
        .as(Seq("pos", "h")))
    val cand = pref.as("x").join(pref.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id") &&
          col("x.n") * minJaccard - lit(Eps) <= col("y.n") &&
          col("y.n") * minJaccard - lit(Eps) <= col("x.n"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .agg(count(lit(1)).as("c"),
        max(col("x.pos")).as("ia"), max(col("y.pos")).as("ib"))
      // accumulated-overlap positional filter (PPJoin, Xiao et al. 2008):
      // every shared prefix token counts (c), and any OTHER shared token
      // must rank above the last prefix match — both lists are sorted by
      // the same global (df, h) order, so a shared non-prefix token sits
      // strictly after position ia in x AND after ib in y (if it sat at
      // or before either, its rank would put it inside both prefixes and
      // it would be one of the c). Overlap ≤ c + min(remaining suffixes),
      // strictly tighter than the first-match bound min(na−ia₀, nb−ib₀).
      .where(col("c") + least(col("na") - col("ia") - 1, col("nb") - col("ib") - 1) >=
        ceil(lit(minJaccard) / (1 + minJaccard) * (col("na") + col("nb")) - lit(Eps)))
    if (useSuffix) suffixFilter(cand, ranked, minJaccard).select(col("a"), col("b"))
    else cand.select(col("a"), col("b"))
  }

  /** PPJoin+ suffix filter (Xiao et al. 2008 §4), reformulated for the
    * no-content-shuffle stance: instead of shipping suffixes to a per-pair
    * recursive probe, each record keeps a THREE-PIVOT signature — the
    * (df, h) rank-order values at the prefix end (`f`), the suffix median
    * (`m`), and the array max (`l`), with their exact positions — and the
    * filter evaluates a closed-form overlap bound from the two signatures
    * alone (O(1) per candidate, codegen'd comparisons, no array access).
    *
    * The bound: split x's unmatched tail SA = positions ia+1..na−1 at x's
    * median value mₓ (position pₓ > ia). Tokens of SA below mₓ can only
    * match y-tokens below mₓ inside y's tail SB, whose count is bounded
    * ABOVE by the step function of y's pivots (value < mₓ ⟹ position <
    * the first y-pivot ≥ mₓ); tokens of SA at/above mₓ can only match
    * SB's complement, bounded by |SB| minus the step-function bound BELOW.
    * Both sides being sorted by the same total order makes every step
    * exact (shingle hashes are distinct within a record). The symmetric
    * split at y's median is intersected, as is the plain min(|SA|, |SB|)
    * fallback. Candidates whose bound c + suffixBound falls below the
    * required overlap ⌈t/(1+t)·(na+nb)⌉ are dropped before the
    * verification re-attach — the pairs the positional filter keeps but a
    * true suffix probe would kill (disjoint rare-token suffixes under a
    * shared hot prefix token, the zipfian-corpus shape).
    *
    * Signatures ride two narrow id-keyed joins against the candidate set
    * (pivot structs only — never the arrays), so the posting-list join
    * stays lean and the filter's cost is O(candidates), not O(postings).
    */
  private def suffixFilter(cand: DataFrame, ranked: DataFrame,
                           minJaccard: Double): DataFrame = {
    val prefLen = (col("n") - ceil(col("n") * minJaccard - lit(Eps)) + 1).cast("int")
    // pivot positions (0-based): prefix end pf = min(prefLen, n-1), suffix
    // median pm = min(prefLen + (n - prefLen)/2, n-1), last pn = n-1 —
    // clamped so signatures exist even when the prefix spans the record
    val sig = ranked.select(col("id"),
      least(prefLen, col("n") - 1).as("pf"),
      least(prefLen + floor((col("n") - prefLen) / 2).cast("int"), col("n") - 1).as("pm"),
      element_at(col("rk"), least(prefLen, col("n") - 1) + 1).as("vf"),
      element_at(col("rk"),
        least(prefLen + floor((col("n") - prefLen) / 2).cast("int"), col("n") - 1) + 1).as("vm"),
      element_at(col("rk"), col("n")).as("vl"))
    // upper/lower bounds on |{t ∈ tail(positions i+1..n-1) : t < w}| from
    // the (value, position) pivot steps: values strictly below a pivot sit
    // strictly before its position; values at/below it sit at/before it
    def ub(w: Column, vf: Column, vm: Column, vl: Column,
           pf: Column, pm: Column, n: Column, i: Column): Column =
      when(w <= vf, greatest(pf - i - 1, lit(0)))
        .when(w <= vm, greatest(pm - i - 1, lit(0)))
        .when(w <= vl, greatest(n - i - 2, lit(0)))
        .otherwise(n - i - 1)
    def lb(w: Column, vf: Column, vm: Column, vl: Column,
           pf: Column, pm: Column, n: Column, i: Column): Column =
      when(w > vl, n - i - 1)
        .when(w > vm, greatest(pm - i, lit(0)))
        .when(w > vf, greatest(pf - i, lit(0)))
        .otherwise(lit(0))
    val sa = col("na") - col("ia") - 1
    val sb = col("nb") - col("ib") - 1
    // split SA at x's median (valid only when the median lies inside SA)
    val bX = when(col("x.pm") > col("ia"),
      least(col("x.pm") - col("ia") - 1,
          ub(col("x.vm"), col("y.vf"), col("y.vm"), col("y.vl"),
            col("y.pf"), col("y.pm"), col("nb"), col("ib"))) +
        least(col("na") - col("x.pm"),
          sb - lb(col("x.vm"), col("y.vf"), col("y.vm"), col("y.vl"),
            col("y.pf"), col("y.pm"), col("nb"), col("ib"))))
      .otherwise(least(sa, sb))
    val bY = when(col("y.pm") > col("ib"),
      least(col("y.pm") - col("ib") - 1,
          ub(col("y.vm"), col("x.vf"), col("x.vm"), col("x.vl"),
            col("x.pf"), col("x.pm"), col("na"), col("ia"))) +
        least(col("nb") - col("y.pm"),
          sa - lb(col("y.vm"), col("x.vf"), col("x.vm"), col("x.vl"),
            col("x.pf"), col("x.pm"), col("na"), col("ia"))))
      .otherwise(least(sa, sb))
    val bound = least(least(sa, sb), bX, bY)
    cand
      .join(sig.as("x"), cand("a") === col("x.id"))
      .join(sig.as("y"), cand("b") === col("y.id"))
      .where(col("c") + greatest(bound, lit(0)) >=
        ceil(lit(minJaccard) / (1 + minJaccard) * (col("na") + col("nb")) - lit(Eps)))
  }

  /** Partition-based (pigeonhole) exact similarity join — identical output
    * to [[ngramJaccard]]. Cf. Deng, Li, Feng, "A partition-based method for
    * exact set similarity joins" (PVLDB 2015); this is the chunking stage
    * of that family, with hash-assigned chunks and exact verification.
    *
    * WHEN TO USE — and when not to: the chunk count D+1 scales with the
    * LARGEST document, so the scheme is discriminative only when documents
    * are large relative to D (chunks then hold several shingles each and
    * content hashes carry entropy). On corpora where nChunks approaches or
    * exceeds typical document size, most chunks are EMPTY and every
    * empty-on-both-sides chunk index pairs huge fractions of the corpus —
    * measured on the dense synthetic testdata (931-shingle vocab, ~51
    * shingles/doc, t=0.5 → 66 chunks, ~45% of chunks empty per doc) the
    * band join inflates to ~10⁸ rows and runs 15× slower than LSH+verify.
    * [[ngramJaccardAdaptive]] therefore never routes here; this stays a
    * library operator for large-document corpora with moderate thresholds
    * (nChunks ≪ typical n), where its recall-1 guarantee comes cheap.
    *
    * Any pair with J ≥ t has symmetric difference
    * d ≤ (1−t)/(1+t)·(na+nb) ≤ D := floor((1−t)/(1+t)·2·n_max). Shingles
    * hash-partition into D+1 chunks; since the D differing shingles can
    * touch at most D chunks, SOME chunk holds identical content on both
    * sides (possibly empty content — empty chunks hash to the seed and
    * participate, which the argument requires). So the equi-join on
    * (chunk index, chunk content hash) surfaces every qualifying pair —
    * recall is exactly 1, unlike minhash banding — and exact verification
    * removes the false positives. Chunk hashes are one narrow O(n+D) pass
    * per row (native expression graft_chunk_hashes); the join keys on the
    * hashed (chunk, content) bucket carrying (id, n) only; survivors verify
    * through the shared melted join. Keyed shuffles only — the plan
    * survives 100×.
    *
    * n_max comes from one narrow max-aggregate over the corpus (map-side
    * partial max) — the same price PPJoin pays for its df table.
    */
  def ngramJaccardPigeonhole(docs: DataFrame, minJaccard: Double,
                             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = shingled(docs, idCol, textCol)
    val maxN = Option(base.agg(max("n")).head().get(0))
      .map(_.asInstanceOf[Int]).getOrElse(1).max(1)
    // + Eps: if the exact rational bound IS an integer and the double
    // computation rounds an ulp below it, floor would lose a chunk the
    // pigeonhole argument needs; one chunk too many is merely harmless
    val dMax = math.floor(2.0 * maxN * (1 - minJaccard) / (1 + minJaccard) + Eps).toInt
    val nChunks = dMax + 1
    val banded = base.select(col("id"), col("n"),
        posexplode(call_function("graft_chunk_hashes", col("sh"), lit(nChunks)))
          .as(Seq("cidx", "chash")))
      .select(col("id"), col("n"), xxhash64(col("cidx"), col("chash")).as("bh"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.bh") === col("y.bh") && col("x.id") < col("y.id") &&
          col("x.n") * minJaccard - lit(Eps) <= col("y.n") &&
          col("y.n") * minJaccard - lit(Eps) <= col("x.n"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .dropDuplicates("a", "b")
    verifyPairs(cand, base.select(col("id"), col("sh"), col("n")), minJaccard)
  }

  /** Exact similarity join for DENSE corpora via vocabulary-indexed
    * bitmaps — identical output to [[ngramJaccard]]. A dense corpus (tiny
    * shingle vocabulary, every shingle in hundreds of documents) defeats
    * every signature scheme: prefix posting lists are all long (df ≈ n),
    * and pigeonhole chunk hashes over a ~1000-element universe carry almost
    * no entropy (see [[ngramJaccardPigeonhole]]'s header for the measured
    * blow-up). What a tiny vocabulary gives BACK is a compact exact
    * encoding: each distinct shingle gets a dense bit index (sorted-hash
    * rank), a document's shingle set becomes a |V|-bit bitmap (931-shingle
    * vocab → 15 longs), and intersection size is a popcount of word ANDs —
    * a ~7× cheaper inner loop than the sorted merge scan, with the same
    * all-pairs + size-ratio-prefilter shape as [[ngramJaccard]].
    *
    * O(n²) pairs by design: this is the small/medium-corpus branch of the
    * adaptive route (the same arrangement as the embedding near-dup's
    * below-cutoff exact path). The guards live in [[ngramJaccardAdaptive]];
    * calling this directly on an unbounded corpus is on the caller.
    * `maxBits` bounds the vocabulary (and so the broadcast row width).
    */
  def ngramJaccardBitmap(docs: DataFrame, minJaccard: Double,
                         idCol: String = "doc_id", textCol: String = "text",
                         maxBits: Int = 1 << 20): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // HLL pre-check on the UNSTAGED plan: a huge-vocabulary corpus must be
    // rejected without paying vocabIndex's bounded-only-by-vocab
    // single-task sort — or an eager localCheckpoint's full-corpus
    // materialization (the same doubled-slack estimate the adaptive route
    // checks; 2% HLL error cannot bridge a 2x margin).
    val raw = shingled(spread(docs), idCol, textCol)
    val approxVocab = raw.select(explode(col("sh")).as("h"))
      .agg(approx_count_distinct("h")).head().getLong(0)
    require(approxVocab <= 2L * maxBits,
      s"ngramJaccardBitmap: vocabulary ~$approxVocab exceeds $maxBits bits — " +
        "not a dense corpus; use ngramJaccardPrefix/minhashLsh")
    // survivors stage ONCE: the vocab index and the bitmap build both
    // consume the shingled base, and the exact count below enforces the
    // precise cap
    val base = raw.transform(stage)
    val (idx, vocabBits) = vocabIndex(base)
    require(vocabBits <= maxBits,
      s"ngramJaccardBitmap: vocabulary $vocabBits exceeds $maxBits bits — " +
        "not a dense corpus; use ngramJaccardPrefix/minhashLsh")
    bitmapJoin(base, idx, vocabBits, minJaccard)
  }

  /** Staged vocabulary index: each distinct shingle's dense bit position
    * (rank in sorted hash order) plus the exact vocabulary size — one
    * explode+distinct pass, one bounded single-task sort, materialised once
    * (the count and both bitmap-build consumers read the staged rows). The
    * global (unpartitioned) window sorts only the VOCABULARY, bounded by
    * the caller's maxBits guard.
    */
  private def vocabIndex(base: DataFrame): (DataFrame, Long) = {
    // the exact vocabulary size rides the index's staging job (one job
    // instead of stage + count; identical value)
    val (idx, m) = graft.io.DataFrames.stageWithMetrics(
      base.select(explode(col("sh")).as("h")).distinct()
        .withColumn("pos",
          (row_number().over(Window.orderBy("h")) - 1).cast("int")),
      count(lit(1)).as("n"))
    (idx, m("n").asInstanceOf[Long])
  }

  /** Shared core of [[ngramJaccardBitmap]] (callers supply the shingled
    * base and the staged [[vocabIndex]] so the adaptive route's guards
    * don't recompute them).
    */
  private def bitmapJoin(base: DataFrame, idx: DataFrame, vocabBits: Long,
                         minJaccard: Double): DataFrame = {
    val nWords = math.max(1L, (vocabBits + 63) / 64).toInt
    // stage the bitmaps: both join sides consume them, and without staging
    // the whole explode+join+groupBy subtree (and the tokenise pass under
    // it) would run twice — once for the broadcast build, once for the
    // probe. nDocs x nWords longs, guarded small by the adaptive caps.
    val bits = base.select(col("id"), col("n"), explode(col("sh")).as("h"))
      .join(broadcast(idx), "h")
      .groupBy("id", "n")
      .agg(collect_list(col("pos")).as("ps"))
      .select(col("id"), col("n"),
        call_function("graft_bitmap", col("ps"), lit(nWords)).as("bm"))
      .transform(stage)
    // spread the probe side: AQE coalesces the small staged bits to few
    // partitions, which would serialise the O(n²) popcount loop on one
    // core — the repartition shuffles only the tiny staged bitmaps
    val a = bits.select(col("id").as("a"), col("bm").as("ba"), col("n").as("na"))
      .repartition(base.sparkSession.sparkContext.defaultParallelism)
    val b = bits.select(col("id").as("b"), col("bm").as("bb"), col("n").as("nb"))
    a.join(broadcast(b), col("a") < col("b") &&
        col("na") * minJaccard - lit(Eps) <= col("nb") &&
        col("nb") * minJaccard - lit(Eps) <= col("na"))
      .withColumn("inter",
        call_function("graft_bitmap_and_count", col("ba"), col("bb")).cast("long"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .orderBy("a", "b")
  }

  /** Routing probe for [[ngramJaccardAdaptive]]: shingle-vocabulary density
    * (average document frequency) over a deterministic hash-ordered sample.
    * The sample takes the `sampleDocs` documents with globally smallest
    * (md5-bucket(id), id) — TakeOrdered keeps `sampleDocs` rows per
    * partition and merges, so it is one NARROW pass over the corpus that is
    * unbiased by file/partition layout (a head-`limit` probe misroutes any
    * corpus whose leading files are unrepresentative, e.g. a dense
    * template-generated prefix before a zipfian tail) and fully
    * deterministic: the same corpus always routes the same way, regardless
    * of partitioning, cluster size, or file order. The probe triggers an
    * eager job at query-construction time; its cost is one scan of
    * (id, text) — noise next to the Ω(n²)-risk decision it informs.
    */
  private[graft] def jaccardRoute(docs: DataFrame, idCol: String, textCol: String,
                                  sampleDocs: Int, denseAvgDf: Double): String = {
    val sample = docs.select(col(idCol).as("id"), col(textCol).as("txt"))
      .orderBy(graft.ops.sample.Sampling.hashBucket(col("id")), col("id"))
      .limit(sampleDocs)
    val stats = sample
      .select(explode(TextOps.bigrams(col("txt"))).as("h"))
      .agg(count(lit(1)).cast("double").as("postings"),
        approx_count_distinct("h").as("vocab"))
      .head()
    val avgDf = stats.getDouble(0) / math.max(1L, stats.getLong(1))
    if (avgDf >= denseAvgDf) "dense" else "prefix"
  }

  /** Adaptive similarity join — exact below the size guards — the
    * production entry point. The corpus is tokenised ONCE into staged
    * shingle arrays (`localCheckpoint`: the tokenise pass is the most
    * expensive narrow stage, and every consumer below — routing stats, df
    * table, prefix index, bitmap vocabulary, exact verification — would
    * otherwise re-run it). Full-corpus density stats over the staged arrays
    * (one explode + map-side-partial count/HLL aggregate — with the arrays
    * staged this costs less than tokenising a probe sample, is unbiased by
    * ANY data layout, and is deterministic) route by corpus shape, the same
    * stats-driven planning AQE applies to join strategies:
    *
    *  - **zipfian** corpora (large vocabulary, low average document
    *    frequency — real web/text corpora): [[ngramJaccardPrefix]], the
    *    PPJoin prefix-filtered inverted index. Exact, keyed shuffles only,
    *    any corpus size.
    *  - **dense** corpora (small vocabulary, every shingle in hundreds of
    *    documents — template-generated or highly repetitive data, where
    *    EVERY signature scheme degenerates: posting lists are all long,
    *    chunk/prefix signatures carry no entropy): below the size guards,
    *    [[ngramJaccardBitmap]] — exact all-pairs over compact
    *    vocabulary-indexed bitmaps, the same below-cutoff arrangement as
    *    the embedding near-dup's exact branch. Above the guards,
    *    [[minhashLsh]] — LSH-bucketed candidates with exact verification.
    *
    * "Dense" is a RELATIVE predicate — `avgDf >= denseAvgDf` alone is
    * scale-confounded: a corpus that grows by concatenating
    * vocabulary-disjoint segments (new sites, new months, sharded crawls)
    * keeps its absolute avg df while n runs away, and the bitmap loop's
    * n²·(vocab/64) cost then dwarfs the inverted index's Σdf² ≈
    * vocab·df̄² (measured: a 10× replica with per-copy vocabularies kept
    * df̄≈160 ≥ 16, routed dense, and ran 46× the 1× time — the index
    * route was ~700× cheaper on paper). So the dense branch additionally
    * requires `avgDf / nDocs >= denseDensity`: a typical shingle must
    * touch a constant FRACTION of the corpus, which is exactly when
    * Σdf² ≈ density²·vocab·n² stops being meaningfully below n² and
    * posting lists stop discriminating.
    *
    * Exactness: the prefix and bitmap routes surface EVERY qualifying pair.
    * The large-dense LSH route has banding recall 1−(1−t^r)^b per pair
    * (defaults r=4, b=4; ≈1 for near-identical pairs, <1 for pairs at the
    * threshold) — on dense corpora at scale an exact subquadratic plan does
    * not exist (no signature discriminates), so the route trades bounded
    * recall for a bounded candidate volume and says so here rather than
    * shipping a quadratic plan that "works" only on toy sizes. Taking that
    * fallback logs a warning; callers that must not lose near-threshold
    * pairs set `allowApproximate = false` and get an error instead.
    *
    * `maxExactDocs`/`maxBitmapBytes`/`maxBits` bound the bitmap branch:
    * documents capped so the O(n²) pair loop stays a deliberate small-side
    * choice, bytes capped so the staged bitmaps (nDocs × vocab/8) fit
    * comfortably in an executor, vocabulary capped so a misrouted probe
    * can never broadcast a multi-million-row vocabulary index.
    */
  def ngramJaccardAdaptive(docs: DataFrame, minJaccard: Double,
                           idCol: String = "doc_id", textCol: String = "text",
                           denseAvgDf: Double = 16.0,
                           denseDensity: Double = 0.02,
                           maxExactDocs: Long = 65536,
                           maxBitmapBytes: Long = 256L << 20,
                           maxBits: Int = 1 << 20,
                           allowApproximate: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // doc count and posting total ride the staging job itself (sum(n) over
    // the base rows IS the exploded-shingle row count — n = size(sh)); only
    // the vocabulary estimate still needs its own pass over the exploded
    // hashes. Two probe jobs -> one, values and routing identical.
    val (base, m) = graft.io.DataFrames.stageWithMetrics(
      shingled(spread(docs), idCol, textCol),
      count(lit(1)).as("n_docs"), sum(col("n")).as("postings"))
    val nDocs = m("n_docs").asInstanceOf[Long]
    val postings = Option(m("postings")).fold(0.0)(_.asInstanceOf[Long].toDouble)
    val approxVocabEst = base.select(explode(col("sh")).as("h"))
      .agg(approx_count_distinct("h")).head().getLong(0)
    val avgDf = postings / math.max(1L, approxVocabEst)
    if (avgDf >= denseAvgDf && avgDf >= denseDensity * nDocs) {
      // guards priced by eager scalars over the staged arrays — noise next
      // to the Ω(n²)-risk decision they inform. The vocabulary caps check
      // the stats job's HLL estimate FIRST (2% error, doubled for slack) so
      // a misrouted huge-vocabulary corpus never pays the index's
      // single-task sort; survivors build the staged index once and the
      // final guard uses its exact count.
      val approxVocab = approxVocabEst
      def fallback(vocabBits: Long): DataFrame = {
        require(allowApproximate,
          s"ngramJaccardAdaptive: dense corpus above the exact-join guards " +
            s"(nDocs=$nDocs, vocabBits~$vocabBits) " +
            "and allowApproximate=false — no exact subquadratic plan exists")
        log.warn(s"ngramJaccardAdaptive: dense corpus above the exact-join " +
          s"guards (nDocs=$nDocs, vocabBits~$vocabBits); falling back to " +
          "minhashLsh — exact verification, but banding recall < 1 for " +
          "pairs near the threshold")
        minhashLsh(docs, minJaccard, idCol = idCol, textCol = textCol)
      }
      if (nDocs > maxExactDocs || approxVocab > 2L * maxBits ||
          nDocs * (((approxVocab + 63) / 64) * 8 + 24) > 2L * maxBitmapBytes)
        fallback(approxVocab)
      else {
        val (idx, vocabBits) = vocabIndex(base)
        val bitmapBytes = nDocs * (((vocabBits + 63) / 64) * 8 + 24)
        if (vocabBits <= maxBits && bitmapBytes <= maxBitmapBytes)
          bitmapJoin(base, idx, vocabBits, minJaccard)
        else fallback(vocabBits)
      }
    } else prefixJoin(base, minJaccard)
  }

  /** Inverted-index variant of [[ngramJaccard]] — identical output, shuffle
    * on the shingle key instead of a broadcast loop. The right choice when
    * the shingle vocabulary is large and zipfian (most shingles rare →
    * co-occurrence volume Σ df² ≪ n²); on dense small-vocab corpora the
    * broadcast path wins. Both are exact; pick by corpus shape — and prefer
    * [[ngramJaccardPrefix]], which adds the prefix filter on top of this
    * layout.
    */
  def ngramJaccardSparse(docs: DataFrame, minJaccard: Double,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      transform(TextOps.bigrams(col(textCol)), sh => xxhash64(sh)).as("sh"))
    val inv = base.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("h"))
    val pairs = inv.as("x").join(inv.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .orderBy("a", "b")
  }

  /** MinHash signature: `numHashes` minima of seeded hashes, via the native
    * one-pass expression graft.functions.MinHashCodes — a per-row
    * computation, zero shuffle.
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    call_function("graft_minhash_codes", shingles, lit(numHashes))

  /** Threshold-aware LSH banding: r = 4 rows per band and enough bands to
    * put the S-curve MIDPOINT (1/b)^(1/r) well BELOW the requested
    * threshold — b = 4·(1/t)⁴ puts it at t/√2, so a pair AT the threshold
    * collides in a band with probability t⁴ across 4·(1/t)⁴ bands
    * (miss ≈ e⁻⁴ per pair at t exactly, → 0 steeply above it).
    *
    * This replaced a fixed 16-hash/4-band default whose midpoint sat at
    * (1/4)^(1/4) = 0.707 — ABOVE the usual 0.5 threshold, so
    * mid-similarity true pairs were mostly invisible and even j = 0.97
    * pairs missed at the measured 1.7e-4 rate: the round-12 sf1 oracle
    * sweep (the first to check this family at 50k docs) caught 7/2560
    * pairs missing, exactly the S-curve's prediction. With b = 4·(1/t)⁴
    * the same sweep is 2560/2560. Cost scales as the problem hardens
    * (t = 0.9 → 7 bands; 0.5 → 64; 0.3 → capped 128): hash computation is
    * a narrow per-row map and banded rows are b ints per doc; ambient
    * (j ≈ 0.09) pairs collide at j⁴·b ≈ 4e-3 — candidate volume stays
    * ~0.4% of the pair space on the measured sf1 profile.
    */
  private[graft] def autoBands(minJaccard: Double): Int =
    math.min(128, math.max(4, math.ceil(4.0 * math.pow(1.0 / minJaccard, 4)).toInt))

  /** MinHash + LSH banding near-dup detection, verified exactly.
    * `bands` bands of `numHashes/bands` rows; candidates from band-signature
    * equality are re-checked with true Jaccard, so the output equals
    * [[ngramJaccard]] up to LSH misses — whose probability the default
    * threshold-aware banding ([[autoBands]]: pass 0/0 to auto-size) drives
    * to ~e⁻⁴ AT the threshold and steeply to 0 above it. Callers pinning
    * explicit (numHashes, bands) own their own S-curve.
    */
  def minhashLsh(docs: DataFrame, minJaccard: Double,
                 numHashes: Int = 0, bands: Int = 0,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val nh0 = if (numHashes > 0) numHashes else 0
    // floor at 1: an explicit numHashes < 4 with auto bands would compute
    // nh0/4 = 0 bands — sequence(0, -1) then slices with a NEGATIVE start,
    // silently degenerating the banding (output stays correct only because
    // verification is exact, but recall/cost behaviour is meaningless).
    // One band = the whole (short) signature is the honest reading.
    val b = if (bands > 0) bands
            else if (nh0 > 0) math.max(1, math.min(autoBands(minJaccard), nh0 / 4))
            else autoBands(minJaccard)
    val nh = if (nh0 > 0) nh0 else 4 * b
    // auto-sized bands are ALWAYS 4 rows sliced from the signature front
    // (the S-curve design above); only explicit (numHashes, bands) callers
    // divide the whole signature into their own band widths
    val rows = if (bands > 0) nh / b else 4
    // shingles as sorted hash arrays: signatures AND the exact verification
    // both run over longs (merge-scan intersect, no per-pair hash sets).
    // Staged (localCheckpoint) because both the band join and the
    // verification re-attach consume it — without staging the tokenise +
    // signature pass runs twice, serialised on a single core whenever the
    // source is one input split (hence also the spread).
    val base = spread(docs)
      .select(col(idCol).as("id"), TextOps.bigrams(col(textCol)).as("shs"))
      .select(col("id"), array_sort(transform(col("shs"), sh => xxhash64(sh))).as("sh"),
        minhashSignature(col("shs"), nh).as("sig"))
      .withColumn("n", size(col("sh")))
      // see minhashIndex: empty-set signatures are identical and would
      // band-collide quadratically before verification discards them
      .where(col("n") > 0)
      .transform(stage)
    // band join carries (id, bucket-hash) ONLY — the heavy sorted-shingle
    // arrays do NOT ride the ×bands explode through the shuffle. The band
    // index folds into the bucket hash, and a hash collision across buckets
    // merely adds a candidate that exact verification then rejects.
    val banded = base.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(b - 1)),
          i => slice(col("sig"), i * rows + 1, lit(rows)))).as(Seq("band", "bandsig")))
      .select(col("id"), xxhash64(col("band"), col("bandsig")).as("bh"))
    val candidates = banded.as("x").join(banded.as("y"),
        col("x.bh") === col("y.bh") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .dropDuplicates("a", "b")
    verifyPairs(candidates, base.select(col("id"), col("sh"), col("n")), minJaccard)
  }

  /** MinHash signature INDEX of a corpus: (id, sh, n, sig) — the
    * build-once half of INCREMENTAL dedup. Persist via `Checkpoint.save`
    * at ingest (bucketing the banded projection by bucket hash makes the
    * per-batch probe co-located) and probe each new batch with
    * [[minhashLshIncrement]]: the corpus is tokenised and signed exactly
    * once across all future increments — at 100 TB the difference between
    * a daily batch costing O(batch) and costing O(corpus).
    */
  def minhashIndex(docs: DataFrame, numHashes: Int = 0,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // default 256 = 4 rows × autoBands(0.5): long enough for any probe
    // threshold ≥ 0.5 to slice its auto-sized bands from the front
    val nh = if (numHashes > 0) numHashes else 256
    spread(docs)
      .select(col(idCol).as("id"), TextOps.bigrams(col(textCol)).as("shs"))
      .select(col("id"), array_sort(transform(col("shs"), sh => xxhash64(sh))).as("sh"),
        minhashSignature(col("shs"), nh).as("sig"))
      .withColumn("n", size(col("sh")))
      // shingle-less docs can't be near-dups, and their EMPTY-set signature
      // (all Long.MaxValue) is identical — k such docs would band-collide
      // into O(k²) candidates that verification only then discards
      .where(col("n") > 0)
  }

  /** Incremental near-dup detection: every pair with J ≥ `minJaccard`
    * where at least one side is in `newDocs` — (new × indexed) and
    * (new × new) pairs, exactly verified; indexed × indexed pairs are the
    * previous runs' output and are not re-found. `index` is a
    * [[minhashIndex]] frame (typically loaded from a checkpoint).
    *
    * Plan: only the new batch is tokenised and signed; its banded
    * signatures BROADCAST against the index's banded projection, so the
    * index is scanned once with no shuffle, and the exact-verification
    * re-attach streams the index through a broadcast join against the
    * (small) candidate set. Per-batch cost scales with the batch and the
    * matched buckets, not the corpus.
    */
  def minhashLshIncrement(newDocs: DataFrame, index: DataFrame, minJaccard: Double,
                          numHashes: Int = 0, bands: Int = 0,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(newDocs.sparkSession)
    // Explicit bands REQUIRE explicit numHashes: under the auto default
    // (256, mirroring minhashIndex) a legacy bands=4 call would silently
    // get 64-row bands (per-band hit probability j^64 — near-zero recall at
    // any realistic threshold), and against an older shorter-signature
    // index the band slices would run past the signature into empty
    // bandsigs, collapsing every doc into ONE bucket (quadratic
    // verification). Index migration note: numHashes here must equal the
    // signature length the index was BUILT with — a mismatch either
    // truncates the banding or hits the same empty-slice collapse.
    require(bands <= 0 || numHashes > 0,
      "minhashLshIncrement: explicit `bands` requires explicit `numHashes` " +
        "matching the index's signature length (auto numHashes=256 with " +
        "caller-chosen bands gives 256/bands-row bands and slices past " +
        "shorter index signatures)")
    // numHashes must match the index's signature length; the auto default
    // mirrors minhashIndex's 256, and auto bands are capped so the slices
    // never run past the signature (and floored at 1 — see minhashLsh)
    val nh = if (numHashes > 0) numHashes else 256
    val b = if (bands > 0) bands
            else math.max(1, math.min(autoBands(minJaccard), nh / 4))
    val rows = if (bands > 0) nh / b else 4
    val newBase = minhashIndex(newDocs, nh, idCol, textCol).transform(stage)
    // The union is consumed twice (band join + verification re-attach).
    // Only the BATCH side is staged here: a production index is a
    // checkpointed parquet whose two streaming scans are cheap, and
    // copying the corpus-sized index into executor storage per increment
    // would break the O(batch) contract. A caller building the index
    // INLINE should stage it itself (as the dedup_incremental query does)
    // or its tokenise pass runs once per consumer.
    val all = index.select(col("id"), col("sh"), col("sig"), col("n"))
      .withColumn("is_new", lit(false))
      .unionByName(newBase.withColumn("is_new", lit(true)))
    def banded(df: DataFrame) = df.select(col("id"), col("is_new"),
        posexplode(transform(sequence(lit(0), lit(b - 1)),
          i => slice(col("sig"), i * rows + 1, lit(rows)))).as(Seq("band", "bandsig")))
      .select(col("id"), col("is_new"), xxhash64(col("band"), col("bandsig")).as("bh"))
    // new-new pairs orient by id; new-old pairs appear once by role
    val cand = banded(all).as("y")
      .join(broadcast(banded(newBase.withColumn("is_new", lit(true)))).as("x"),
        col("x.bh") === col("y.bh") && col("x.id") =!= col("y.id") &&
          (!col("y.is_new") || col("x.id") < col("y.id")))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"))
      .dropDuplicates("a", "b")
    verifyPairs(cand, all.select(col("id"), col("sh"), col("n")), minJaccard)
  }

  /** Distinct word n-gram hashes of a text column (generalises
    * [[graft.ops.text.TextOps.bigrams]] to any n), as xxhash64 keys.
    */
  def ngramHashes(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    // zip_with-folded n-grams (TextOps.wordNgrams): a slice(ws, i, n)
    // inside a per-index lambda would re-split the text for every n-gram
    when(size(ws) < n, array().cast("array<bigint>"))
      .otherwise(array_distinct(transform(
        graft.ops.text.TextOps.wordNgrams(ws, n), g => xxhash64(g))))
  }

  /** Asymmetric containment join against a small reference side: pairs
    * (ref_id, doc_id) with |S_ref ∩ S_doc| / |S_ref| ≥ `minContainment`
    * over the bigram shingle sets — near-subset / quote / benchmark-
    * overlap detection. A symmetric Jaccard threshold structurally MISSES
    * these pairs (a short reference inside a long document has Jaccard
    * ≈ |ref|/|doc| however complete the containment), which is why this
    * is its own operator and not a dedup variant.
    *
    * Plan: the reference side (eval sets, benchmark suites — small by
    * nature) broadcasts; the corpus streams once through the native
    * merge-scan intersect. A deliberate broadcast loop — the right plan
    * while the reference side fits an executor, same stance as
    * [[ngramJaccard]]'s small-side role; corpus×corpus containment at
    * scale would ride the prefix-filtered index on the contained side's
    * rarest shingles instead.
    */
  def containmentRef(docs: DataFrame, isRef: Column, minContainment: Double,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val base = spread(docs)
      .select(col(idCol).as("id"), isRef.as("is_ref"),
        array_sort(transform(TextOps.bigrams(col(textCol)), sh => xxhash64(sh))).as("sh"))
      .withColumn("n", size(col("sh")))
      .where(col("n") > 0)
      .transform(stage) // both branches below consume it: tokenise once
    val ref = base.where(col("is_ref"))
      .select(col("id").as("ref_id"), col("sh").as("rsh"), col("n").as("rn"))
    base.where(!col("is_ref"))
      .crossJoin(broadcast(ref))
      .select(col("ref_id"), col("id").as("doc_id"),
        (call_function("graft_intersect_count", col("rsh"), col("sh")).cast("double")
          / col("rn")).as("containment"))
      .where(col("containment") >= minContainment)
      .orderBy("ref_id", "doc_id")
  }

  /** Benchmark-contamination detection — the eval-vs-train n-gram overlap
    * check every serious training pipeline runs before reporting numbers:
    * which eval documents share ≥1 word n-gram with which training
    * documents, and how many. Exact, via an inverted index on the n-gram
    * hash: explode each side's distinct n-grams, equi-join on the hash,
    * count shared grams per (eval, train) pair. All keyed shuffles —
    * the 100 TB plan; n of 8-13 makes grams selective, so posting lists
    * stay short on natural text.
    *
    * Hot-gram guard: the join's candidate volume is Σ df_eval·df_train per
    * gram, and web-scale corpora contain n-grams with document frequency in
    * the millions (license headers, templated boilerplate) — one such gram
    * is a quadratic bucket. Grams with total df above `maxGramDf` are
    * dropped before the join: a gram shared by that many documents is
    * boilerplate, the least informative contamination signal, while the
    * guard bounds every posting list. The df computation is a window over
    * the same hash partitioning the join needs, so it adds no extra
    * shuffle. On corpora whose grams all fall under the threshold (any
    * natural-text corpus at the default) the output is exactly the
    * unguarded join.
    *
    * Semi-join reduction — the 100 TB lever: the eval side is a benchmark
    * suite (tiny) while the train side is the corpus, yet a naive plan
    * shuffles EVERY training posting to the join. When the distinct eval
    * gram set fits a broadcast (`maxBroadcastGrams`, counted by one eager
    * job over the eval side only), training postings first pass a narrow
    * broadcast filter on the eval grams — only grams that can possibly
    * form a pair reach the shuffle, typically a vanishing fraction of the
    * corpus. Output is IDENTICAL: dropped grams occur in no eval document,
    * so they form no pairs, and surviving grams keep every posting, so the
    * df guard sees the same counts.
    */
  def contamination(docs: DataFrame, isEval: Column, n: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text",
                    maxGramDf: Long = 100000L,
                    maxBroadcastGrams: Long = 1L << 22,
                    bloomBits: Int = 1 << 26): DataFrame = {
    val base = spread(docs).select(col(idCol).as("id"), isEval.as("is_eval"),
        explode(ngramHashes(col(textCol), n)).as("h"))
    // staged: the guard count and the broadcast build both consume it, and
    // the eval-side explode should run once, not twice; the guard count
    // rides the staging job (stageWithMetrics — one job, not stage + count)
    val (evGrams, evC) = graft.io.DataFrames.stageWithMetrics(
      base.where(col("is_eval")).select("h").distinct(),
      count(lit(1)).as("n"))
    val reduced = evC("n").asInstanceOf[Long] <= maxBroadcastGrams
    // above the row-broadcast cutoff the semi-join reduction switches to a
    // FIXED-size Bloom of the eval gram hashes (8 MiB at the default bits)
    // instead of disappearing: false positives just ride through to the
    // exact ev×tr join, so results are identical while the train posting
    // stream still shrinks to ~eval-matching grams before any shuffle
    val postings =
      if (reduced) base.join(broadcast(evGrams), "h")
      else {
        graft.functions.GraftFunctions.register(docs.sparkSession)
        val bloom = evGrams.agg(call_function("graft_bloom_agg",
          col("h"), lit(bloomBits), lit(7)).as("__bloom"))
        base.crossJoin(broadcast(bloom))
          .where(call_function("graft_bloom_contains",
            col("h"), col("__bloom"), lit(bloomBits), lit(7)))
          .drop("__bloom")
      }
    // hot-gram guard via an aggregated df table, not a window: a window
    // partitioned by h shuffles EVERY posting row; the groupBy reduces
    // map-side first, and on the semi-join-reduced branch the df table is
    // eval-vocabulary-sized — it broadcasts, so the posting stream is
    // never re-keyed at all
    val dfTab = postings.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxGramDf)
    val kept = postings.join(if (reduced) broadcast(dfTab) else dfTab, "h")
    val ev = kept.where(col("is_eval")).select(col("id").as("eval_id"), col("h"))
    val tr = kept.where(!col("is_eval")).select(col("id").as("train_id"), col("h"))
    ev.join(tr, "h")
      .groupBy("eval_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("eval_id", "train_id")
  }

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming` (≤ 31).
    *
    * The 64-bit signature comes from the native codegen expression
    * graft.functions.SimHash64 (one pass over the tokens — the interpreted
    * HOF formulation cost tokens×64 lambda calls per row). Pigeonhole
    * banding: the 64 bits split into the smallest power-of-two chunk count
    * strictly above `maxHamming` — a pair within the threshold must agree
    * on ≥1 full chunk, so the join on (chunk index, chunk code) is
    * exhaustive. Chunk extraction and the final hamming check are plain
    * bit ops (`shiftrightunsigned`/`bit_count`), all codegen'd.
    */
  /** The one-pass 64-bit SimHash projection shared by [[simhash]],
    * [[simhashIndex]], and [[simhashIncrement]] — kept in one place so the
    * batch and incremental paths cannot drift (the C3b signature-sharing
    * stance).
    */
  private def simhashCodes(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("id"),
      call_function("graft_simhash64", TextOps.tokens(col(textCol))).as("code64"))
  }

  /** Pigeonhole chunk postings of a (id, code64) frame: the smallest
    * power-of-two chunk count strictly above `maxHamming` — a pair within
    * the threshold must agree on ≥ 1 full chunk, so a join on
    * (chunk index, chunk code) is exhaustive. Pure codegen bit ops.
    */
  private def simhashChunks(codes: DataFrame, maxHamming: Int): DataFrame = {
    val nChunks = Seq(4, 8, 16, 32).find(_ > maxHamming).get
    val chunkLen = 64 / nChunks
    val mask = (1L << chunkLen) - 1
    codes.select(col("id"), col("code64"),
      posexplode(array((0 until nChunks).map(c =>
        shiftrightunsigned(col("code64"), c * chunkLen).bitwiseAND(mask)): _*))
        .as(Seq("cidx", "code")))
  }

  def simhash(docs: DataFrame, maxHamming: Int = 3,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming <= 31, "banding needs chunks > maxHamming; 64 bits cap this at 31")
    val chunks = simhashChunks(simhashCodes(docs, idCol, textCol), maxHamming)
    val candidates = chunks.as("x").join(chunks.as("y"),
        col("x.cidx") === col("y.cidx") && col("x.code") === col("y.code")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.code64").as("ca"), col("y.code64").as("cb"))
      .dropDuplicates("a", "b")
    candidates
      .select(col("a"), col("b"),
        bit_count(col("ca").bitwiseXOR(col("cb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .orderBy("a", "b")
  }

  /** Sign-bit sketch near-dup over EMBEDDING vectors — the 1-bit
    * quantization rung below int8 (C34) and PQ (C62): code bit i is
    * `v[i] > 0`, so a 64-dim float vector compresses 256× to one BIGINT
    * and near-duplicate search becomes Hamming distance on codes
    * (sign agreement tracks angular similarity: E[hamming]/64 = θ/π for
    * random rotations — the SRP estimate with the identity projection).
    * At 100 TB this is the shape that matters: the pair join shuffles
    * CODES ONLY (8 bytes/vector, never the vectors), and banding is
    * pigeonhole-LOSSLESS (64/bandBits bands; h ≤ bands − 1 forces ≥ 1
    * intact shared band) so the exhaustive Hamming join is the exact
    * reference at every setting.
    *
    * `bandBits` is the PRICED recall/volume lever: candidate volume is
    * ≈ bands · n²/2^bandBits (uniform codes), so the 16-bit default
    * (h ≤ 3, the near-exact tier) keeps buckets collision-rare at any
    * corpus size, while small bands (the high-h tier a 64-bit sketch
    * needs to see moderate angles: h ≤ 15 wants 4-bit bands) buy recall
    * with quadratic-in-n/2^bandBits candidates — fine at audit scale,
    * priced and stated, never the 100 TB default.
    *
    * Each candidate pair is claimed exactly ONCE at its FIRST shared
    * band — `band == the lowest zeroed bandBits-wide group of
    * (ca XOR cb)` is decidable row-locally from the two codes, so there
    * is NO dropDuplicates/distinct shuffle on the candidate stream (the
    * intervalOverlapPairs stance, applied to LSH banding). Vectors
    * longer than 64 dims sketch their first 64 (the Matryoshka-style
    * truncation C100 measures); NULL ids/vectors drop at the door; an
    * all-zero vector codes to 0 and pairs with other all-zero vectors —
    * sign-identical is the declared semantic. Output: (a, b, hamming,
    * sign_sim) with sign_sim = (64 − 2h)/64 — an exact power-of-two
    * fraction, bit-identical across engines with no rounding step.
    *
    * The volume lever is PRICED, not advisory: expected candidates
    * ≈ bands·n²/2^(bandBits+1) (uniform codes), checked against
    * `maxCandidates` before any work launches — above it the op REFUSES
    * with both outs named (raise bandBits, or own the quadratic with
    * maxCandidates = 0), the nodeSimilarity refusal stance: a silently
    * slow audit tier at 100× data is a cluster bill, not an answer.
    * `knownCount` feeds the estimate count-free (the r16 advisor rule —
    * pass the catalog row count); only when it is negative AND a budget
    * is set does the op pay one count job.
    */
  def bitvecPairs(vecs: DataFrame, maxHamming: Int = 3, bandBits: Int = 16,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  maxCandidates: Long = 200000000L, knownCount: Long = -1L): DataFrame = {
    require(bandBits > 0 && 64 % bandBits == 0,
      s"bitvecPairs: bandBits must divide 64 (got $bandBits)")
    val nBands = 64 / bandBits
    require(maxHamming >= 0 && maxHamming < nBands,
      s"bitvecPairs: ${nBands}x$bandBits-bit banding is lossless only for " +
        s"maxHamming <= ${nBands - 1} (got $maxHamming)")
    if (maxCandidates > 0) {
      val n = if (knownCount >= 0) knownCount else vecs.count()
      val est = nBands.toDouble * n * n / math.pow(2.0, bandBits + 1)
      require(est <= maxCandidates.toDouble,
        f"bitvecPairs: estimated candidate volume $est%.0f (bands=$nBands, " +
          f"n=$n, bandBits=$bandBits) exceeds maxCandidates=$maxCandidates — " +
          "raise bandBits (cheaper buckets, lower recall ceiling) or pass " +
          "maxCandidates=0 to own the quadratic deliberately")
    }
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val codes = vecs
      .where(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        expr(s"""aggregate(sequence(0, 63), 0L, (acc, i) ->
                 |  acc | IF(coalesce(try_element_at($vecCol, i + 1) > 0, false),
                 |           shiftleft(1L, i), 0L))""".stripMargin).as("code"))
    val banded = codes.select(col("id"), col("code"),
      posexplode(array((0 until nBands).map(b =>
        shiftrightunsigned(col("code"), b * bandBits).bitwiseAND(mask)): _*))
        .as(Seq("band", "bval")))
    def group(x: Column, b: Int): Column =
      shiftrightunsigned(x, b * bandBits).bitwiseAND(mask)
    val xorC = col("ca").bitwiseXOR(col("cb"))
    val firstShared = (0 until nBands - 1).foldRight(lit(nBands - 1)) {
      (b, rest) => when(group(xorC, b) === 0L, b).otherwise(rest)
    }
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.code").as("ca"), col("y.code").as("cb"), col("x.band").as("band"))
      .where(col("band") === firstShared)
      .select(col("a"), col("b"),
        bit_count(xorC).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .withColumn("sign_sim", (lit(64) - lit(2) * col("hamming")) / lit(64.0))
      .orderBy("a", "b")
  }

  /** SimHash signature INDEX of a corpus: (id, code64) — the build-once
    * half of INCREMENTAL SimHash dedup, completing the incremental family
    * (minhash C3b, winnow C85, embedding C5b; SimHash was the one member
    * without a twin). Persist via `Checkpoint.save` at ingest and probe
    * each new batch with [[simhashIncrement]]: the corpus TEXT is
    * tokenised and vote-packed exactly once across all future increments —
    * the expensive half; the pigeonhole chunk postings are NOT stored
    * because deriving them is four shift-mask codegen ops per row at probe
    * time, cheaper than persisting (and re-reading) a 4× posting table,
    * and it leaves `maxHamming` a probe-time knob instead of a baked-in
    * index parameter (the C3b signature-length migration hazard, avoided
    * structurally: the raw code carries no banding assumptions).
    */
  def simhashIndex(docs: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashCodes(docs, idCol, textCol)

  /** Incremental SimHash near-dup detection: every pair with hamming ≤
    * `maxHamming` where at least one side is in `newDocs` — (new × indexed)
    * and (new × new); indexed × indexed pairs are the previous runs'
    * output and are not re-found. `index` is a [[simhashIndex]] frame
    * (typically loaded from a checkpoint).
    *
    * Plan (the C3b stance, SimHash edition): only the NEW batch is
    * tokenised and hashed (staged — its codes feed the probe side AND the
    * union); probes are the batch's chunk postings joined against the
    * postings of index ∪ batch, so old × old pairs can never form; the
    * pair set dedups on the canonical (least, greatest) orientation and
    * verifies with one exact xor/bit_count. One-sided probing loses
    * nothing: chunk agreement is symmetric, so the increment EQUALS the
    * full [[simhash]] pass restricted to ≥ 1 batch side (spec-proven).
    * Per-batch cost scales with the batch and the matched chunk buckets,
    * not the corpus text.
    */
  def simhashIncrement(newDocs: DataFrame, index: DataFrame,
                       maxHamming: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxHamming <= 31, "banding needs chunks > maxHamming; 64 bits cap this at 31")
    val newCodes = stage(simhashCodes(spread(newDocs), idCol, textCol))
    val all = index.select(col("id"), col("code64")).unionByName(newCodes)
    val cand = simhashChunks(newCodes, maxHamming).as("x")
      .join(simhashChunks(all, maxHamming).as("y"),
        col("x.cidx") === col("y.cidx") && col("x.code") === col("y.code")
          && col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("a"),
        greatest(col("x.id"), col("y.id")).as("b"),
        // hamming is symmetric — the canonical swap cannot change it
        col("x.code64").as("ca"), col("y.code64").as("cb"))
      .dropDuplicates("a", "b")
    cand
      .select(col("a"), col("b"),
        bit_count(col("ca").bitwiseXOR(col("cb"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .orderBy("a", "b")
  }

  /** Passage-level shared-content detection via content-defined chunking
    * (the RefinedWeb/CDC shape; Penedo et al. 2023 §4.2 describe the
    * motivation — document-level near-dup misses long passages copied
    * between otherwise-different documents). Tokens whose cheap modular
    * hash `(ascii(w)·256 + len(w)) mod divisor` is 0 end a chunk, so chunk
    * boundaries average one per `divisor` tokens (pick a divisor COPRIME
    * with 256, or the first-character term vanishes from the rule), and
    * boundaries depend only on CONTENT — the same passage embedded in two
    * different documents chunks identically regardless of its offset,
    * which a fixed-stride window cannot guarantee. Chunks shorter than
    * `minTokens` are noise and dropped; surviving chunks are keyed by
    * md5 and any fingerprint appearing in ≥ `minDocs` distinct documents
    * is reported with its document count and total occurrences.
    *
    * Plan: per-document narrow array work (staged token array, one
    * boundary scan, zip_with slice assembly — no window, no per-doc
    * shuffle), then two keyed shuffles over the narrow (fingerprint, id)
    * projection only — (fp, id) pre-aggregation for the distinct-doc
    * count, then fp — with map-side partial aggregation on both; the
    * chunk TEXT never shuffles, and the second exchange carries one row
    * per distinct (chunk, doc). Skew is bounded: a pathologically common
    * chunk still collapses to one row per partition before each exchange.
    */
  def sharedPassages(docs: DataFrame, divisor: Int = 7, minTokens: Int = 5,
                     minDocs: Int = 2,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocs >= 1, "minDocs must be >= 1")
    chunkFingerprints(spread(docs), divisor, minTokens, idCol, textCol)
      // explicit two-stage distinct so the per-doc occurrence counts
      // pre-aggregate map-side
      .groupBy("chunk_fp", "doc_id")
      .agg(count(lit(1)).as("occ"))
      .groupBy("chunk_fp")
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"))
      .where(col("n_docs") >= minDocs)
  }

  /** The CDC projection behind [[sharedPassages]]: (doc_id, chunk_fp) per
    * qualifying chunk, one row per occurrence. Pure narrow Column work.
    */
  def chunkFingerprints(docs: DataFrame, divisor: Int = 7, minTokens: Int = 5,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minTokens >= 1, "minTokens must be >= 1")
    chunkSpans(docs, divisor, idCol, textCol)
      .select(col("doc_id"),
        explode(filter(
          zip_with(col("starts"), col("ends"), (s, e) =>
            when(e - s + 1 >= minTokens, concat_ws(" ", slice(col("ws"), s, e - s + 1)))),
          c => c.isNotNull)).as("chunk"))
      // only the fingerprint leaves this projection; the chunk TEXT never
      // reaches an exchange
      .select(col("doc_id"), md5(col("chunk")).as("chunk_fp"))
  }

  /** The shared CDC span computation behind [[chunkFingerprints]] and
    * [[scrubPassages]]: per doc, the token array plus the 1-based
    * inclusive (starts, ends) chunk spans — kept in one place so the
    * detector and the scrubber can NEVER chunk differently.
    */
  private def chunkSpans(docs: DataFrame, divisor: Int,
                         idCol: String, textCol: String): DataFrame = {
    require(divisor > 1, s"divisor must be > 1 (got $divisor)")
    def boundary(w: Column): Column = (ascii(w) * 256 + length(w)) % divisor === 0
    docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n"))
      // 1-based boundary-token positions; n >= 1 guard because
      // sequence(1, 0) would DESCEND, not return empty
      .select(col("doc_id"), col("ws"), col("n"),
        when(col("n") >= 1,
          filter(sequence(lit(1), col("n")), i => boundary(element_at(col("ws"), i))))
          .otherwise(array().cast("array<int>")).as("bidx"))
      // chunk j spans starts(j)..ends(j) inclusive; a boundary token ends
      // its chunk (CDC convention), the tail after the last boundary is
      // the final chunk
      .select(col("doc_id"), col("ws"),
        concat(array(lit(1)), transform(col("bidx"), b => b + 1)).as("starts"),
        concat(col("bidx"), array(col("n"))).as("ends"))
  }

  /** Passage REMOVAL — the actionable half of exact-substring dedup
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better", at CDC-chunk granularity): where [[sharedPassages]] REPORTS
    * the passages copied across documents, this emits the rewritten
    * corpus with every shared chunk scrubbed EXCEPT its globally first
    * occurrence (minimum (doc_id, chunk index) — deterministic, so
    * exactly oracle-checkable). Chunks are the same content-defined
    * chunks as the detector ([[chunkSpans]] is shared, the two cannot
    * drift); chunks shorter than `minTokens` never qualify and are always
    * kept. Returns (doc_id, text_scrubbed, n_dropped) — one row per input
    * document, even when everything was scrubbed.
    *
    * Scrubbing is idempotent BY CONSTRUCTION: every internal kept chunk
    * still ends at its boundary token, so re-chunking the scrubbed text
    * reproduces exactly the kept chunks, each shared fingerprint now
    * lives in one document only, and a second pass (or [[sharedPassages]]
    * over the output, the invariant the spec asserts) finds nothing.
    *
    * Plan: the doc-side frame (token arrays + spans) stages ONCE and
    * never shuffles its text — fingerprinting explodes an ids-only
    * (doc_id, cidx, fp) projection, the keeper election is two keyed
    * aggs with map-side partials (per-(fp,doc) min index, then per-fp min
    * (doc, index) + distinct-doc count), and what returns to the corpus
    * is the ids-only per-doc drop set, which AQE broadcasts when small.
    * Reconstruction is then a narrow array filter + join — no window, no
    * per-chunk shuffle of content. Skew: a pathologically hot fingerprint
    * pre-collapses to one row per (fp, doc) before the keeper agg.
    */
  def scrubPassages(docs: DataFrame, divisor: Int = 7, minTokens: Int = 5,
                    minDocs: Int = 2,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocs >= 1, "minDocs must be >= 1")
    require(minTokens >= 1, "minTokens must be >= 1")
    // a scrub rewrites keyed content: a NULL id cannot be elected against
    // deterministically (engines disagree where NULL sorts) and a NULL
    // text has nothing to rewrite — both are dropped (r15 NULL stance)
    val clean = docs.where(col(idCol).isNotNull && col(textCol).isNotNull)
    // staged: the chunk arrays feed BOTH the fingerprint election and the
    // final reconstruction — one tokenisation pass
    val chunked = chunkSpans(spread(clean), divisor, idCol, textCol)
      .select(col("doc_id"),
        filter(zip_with(col("starts"), col("ends"), (s, e) =>
          when(e >= s, concat_ws(" ", slice(col("ws"), s, e - s + 1)))),
          c => c.isNotNull).as("chunks"))
      .transform(stage)
    // ids-only projection of qualifying chunk occurrences
    val occ = chunked
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("cidx", "chunk")))
      .where(size(TextOps.tokens(col("chunk"))) >= minTokens)
      .select(col("doc_id"), col("cidx"), md5(col("chunk")).as("fp"))
    // keeper election: first occurrence per (fp, doc), then global first
    // (min (doc_id, cidx)) + distinct-doc count — both with partials
    val firstIn = occ.groupBy("fp", "doc_id").agg(min("cidx").as("mcidx"))
    val keepers = firstIn.groupBy("fp")
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col("doc_id"), col("mcidx"))).as("keeper"))
      .where(col("n_docs") >= minDocs)
      .select(col("fp"), col("keeper.doc_id").as("kid"),
        col("keeper.mcidx").as("kcidx"))
    // every shared occurrence that is NOT the keeper — per-doc drop set
    val drops = occ.join(keepers, "fp")
      .where(!(col("doc_id") === col("kid") && col("cidx") === col("kcidx")))
      .groupBy("doc_id").agg(collect_set(col("cidx")).as("drop_idx"))
    val dropSet = coalesce(col("drop_idx"), array().cast("array<int>"))
    chunked.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ",
          filter(col("chunks"), (_, i) => !array_contains(dropSet, i))).as("text_scrubbed"),
        size(dropSet).cast("long").as("n_dropped"))
      .orderBy("doc_id")
  }

  /** Exact-substring scrub at CHARACTER granularity over winnowing
    * fingerprints ([[TextOps.winnow]]) — the action half of
    * `dedup_winnow`, and the sub-chunk complement of [[scrubPassages]]:
    * CDC chunks only certify duplication that aligns to full chunks,
    * while every selected winnowing fingerprint certifies a k-char
    * substring shared verbatim, at any offset (Schleimer et al. 2003;
    * Lee et al. 2022 dedup semantics at substring granularity).
    *
    * Mechanics: a fingerprint selected in ≥ `minDocs` distinct documents
    * elects its globally-first occurrence (min (doc_id, pos)) as keeper;
    * every OTHER occurrence masks its k-char span. Because consecutive
    * winnowing selections are at most `w` grams apart and k > w by
    * default, the masked spans of a shared run overlap into one
    * contiguous island — merging overlapping/adjacent spans (classic
    * islands: running-max end, new island when s > max+1) therefore
    * removes the full interior of every duplicated run, not just the
    * sampled grams. Only the run's outermost ≤ k+w−2 chars (whose
    * selection windows straddle the boundary and may differ per doc) can
    * survive — below the k+w−1 certification threshold, so a second pass
    * finds nothing (the idempotence the spec asserts).
    *
    * Scale shape: only (doc_id, pos, fp) ints shuffle — the keeper
    * election is two keyed map-combined aggs (per-(fp,doc) min pos, then
    * per-fp min (doc,pos) + doc count), the island merge windows over
    * the per-doc mask spans (tiny), and text is touched exactly once, in
    * the final doc_id-keyed join where each document splices its kept
    * pieces with one `aggregate` fold over its merged spans.
    *
    * Returns every input document: (doc_id, text_scrubbed, n_masked)
    * where n_masked counts removed characters (merged spans are
    * disjoint, so the sum is exact).
    */
  /** The persistable side of incremental winnowing dedup: each document's
    * DISTINCT selected fingerprints as (doc_id, fp) posting rows — the
    * exact-substring analogue of [[minhashIndex]] (a checkpointed parquet
    * in production, probed per batch by [[winnowIncrement]]). Positions
    * are deliberately dropped: pair detection needs only set overlap, and
    * an int-pair index is the smallest thing that can certify shared
    * k-grams.
    */
  def winnowIndex(docs: DataFrame, k: Int = 5, w: Int = 4,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.ops.text.TextOps.winnow(docs, k, w, idCol, textCol)
      .select(col("doc_id"), col("fp")).distinct()

  /** Incremental exact-substring dedup: every pair with fingerprint
    * containment ≥ `minOverlap` where at least one side is in `newDocs` —
    * (new × indexed) and (new × new), exactly as the full-corpus winnow
    * pair pass would report them restricted to the batch (the
    * [[minhashLshIncrement]] contract, transplanted to the winnowing
    * certificate family so substring-level dedup also runs per-batch at
    * ingest). Containment = shared / min fingerprint count, computed on
    * the df-guarded sets and thresholded on the ROUNDED 6-dp value (both
    * engines compare identical values).
    *
    * Plan: only the batch is winnowed; its (batch-sized) guarded posting
    * rows BROADCAST against the index's postings, so the index is
    * streamed with no shuffle on the pair side. The df guard (df ≤
    * `maxDf` over index ∪ batch) and the guarded per-doc sizes each cost
    * one keyed count over the index — the same two streaming index scans
    * the minhash increment prices in for a checkpointed parquet; a
    * production deployment amortises both by persisting (fp, df) and
    * (doc_id, n) sidecars next to the postings. Per-batch pair work
    * scales with the batch and its matched postings, never the corpus².
    */
  def winnowIncrement(newDocs: DataFrame, index: DataFrame,
                      minOverlap: Double = 0.5, maxDf: Int = 50,
                      k: Int = 5, w: Int = 4,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val newFps = winnowIndex(newDocs, k, w, idCol, textCol).transform(stage)
    val all = index.select(col("doc_id"), col("fp"))
      .withColumn("is_new", lit(false))
      .unionByName(newFps.withColumn("is_new", lit(true)))
    val dfreq = all.groupBy("fp").agg(count(lit(1)).as("df"))
    val keep = all.join(dfreq.where(col("df") <= maxDf).select("fp"), Seq("fp"))
    val sz = keep.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val keepNew = keep.where(col("is_new"))
    // new-new pairs orient by id; new-old pairs appear once by role
    val cand = keep.as("y")
      .join(broadcast(keepNew.as("x")),
        col("x.fp") === col("y.fp") && col("x.doc_id") =!= col("y.doc_id") &&
          (!col("y.is_new") || col("x.doc_id") < col("y.doc_id")))
      .groupBy(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .agg(count(lit(1)).as("shared"))
    cand
      .join(sz.as("sa"), col("a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), col("shared"),
        round(col("shared").cast("double") /
          least(col("sa.n"), col("sb.n")), 6).as("overlap"))
      .where(col("overlap") >= minOverlap)
      .orderBy("a", "b")
  }

  def scrubWinnow(docs: DataFrame, k: Int = 5, w: Int = 4, minDocs: Int = 2,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocs >= 1, "minDocs must be >= 1")
    require(k > w, s"scrubWinnow needs k > w (got k=$k, w=$w): selection " +
      "spacing is at most w grams, so k-char spans of consecutive " +
      "selections only chain into full-run coverage when k exceeds w")
    // same NULL stance as scrubPassages: keeper elections need the id,
    // rewriting needs the text
    val base = spread(docs.where(col(idCol).isNotNull && col(textCol).isNotNull))
    val fps = TextOps.winnow(base, k, w, idCol, textCol)
    // keeper election — identical stance to scrubPassages: pre-collapse
    // per (fp, doc) so a hot fingerprint never floods the global agg
    val firstIn = fps.groupBy("fp", "doc_id").agg(min("pos").as("mpos"))
    val keepers = firstIn.groupBy("fp")
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col("doc_id"), col("mpos"))).as("keeper"))
      .where(col("n_docs") >= minDocs)
      .select(col("fp"), col("keeper.doc_id").as("kid"),
        col("keeper.mpos").as("kpos"))
    val masks = fps.join(keepers, "fp")
      .where(!(col("doc_id") === col("kid") && col("pos") === col("kpos")))
      .select(col("doc_id"), col("pos").as("s"), (col("pos") + k - 1).as("e"))
    // merge overlapping/adjacent spans per doc: running max of prior ends,
    // a gap (> 1 char) starts a new island
    val byDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    val merged = masks
      .withColumn("pm", max("e").over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni", when(col("pm").isNull || col("s") > col("pm") + 1, 1).otherwise(0))
      .withColumn("isl", sum("ni").over(byDoc))
      .groupBy("doc_id", "isl").agg(min("s").as("ms"), max("e").as("me"))
    val spansPerDoc = merged.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("ms"), col("me")))).as("spans"),
        sum(col("me") - col("ms") + 1).as("n_masked"))
    // splice the kept pieces: fold (prevEnd, acc) over the sorted spans,
    // then append the tail after the last mask — one pass over the text
    val spliced = aggregate(
      col("spans"),
      struct(lit(0L).as("pe"), lit("").as("acc")),
      (st, sp) => struct(
        sp.getField("me").as("pe"),
        concat(st.getField("acc"),
          col(textCol).substr(st.getField("pe") + 1,
            sp.getField("ms") - st.getField("pe") - 1)).as("acc")),
      st => concat(st.getField("acc"),
        col(textCol).substr(st.getField("pe") + 1,
          length(col(textCol)) - st.getField("pe"))))
    base.select(col(idCol).as("doc_id"), col(textCol))
      .join(spansPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, col(textCol)).otherwise(spliced).as("text_scrubbed"),
        coalesce(col("n_masked"), lit(0L)).cast("long").as("n_masked"))
      .orderBy("doc_id")
  }

  /** Survivor selection per dedup cluster — the step AFTER clustering that
    * decides which copy to KEEP (clustering says "these are the same
    * document"; curation needs exactly one of them in the training set).
    * `clusters` is (id, component) as produced by
    * [[graft.ops.graph.GraphOps.connectedComponents]]; the survivor is the
    * member maximising `quality` (default: token count — keep the longest,
    * i.e. least-truncated, copy), ties broken by minimum id so the choice
    * is deterministic. Returns (component, keep_id, keep_q, n_members).
    *
    * Plan: `quality` evaluates in a narrow projection over the corpus;
    * the join keys on id (clusters hold only the duplicated minority, so
    * the join's build side is small); both windows then run over cluster
    * members only — at 100 TB the window input is |dup docs|, not |docs|.
    */
  def canonicalize(docs: DataFrame, clusters: DataFrame,
                   quality: Column = size(TextOps.tokens(col("text"))),
                   idCol: String = "doc_id"): DataFrame = {
    val members = clusters.join(
      docs.select(col(idCol).as("id"), quality.as("q")), "id")
    val byQ = Window.partitionBy("component").orderBy(col("q").desc, col("id"))
    members
      .withColumn("rank", row_number().over(byQ))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("component")))
      .where(col("rank") === 1)
      .select(col("component"), col("id").as("keep_id"),
        col("q").as("keep_q"), col("n_members"))
  }

  /** Edit-distance near-dup pairs on a short normalised key (the first
    * `keyLen` lowercased chars) — the dedup family for typo-level
    * variation (titles, URLs, product names) that token-set Jaccard
    * cannot see (one typo inside a word changes the token, not the edit
    * distance).
    *
    * Candidates by the PartEnum pigeonhole (Arasu et al., VLDB 2006): cut
    * each key into fixed `chunkLen`-char chunks at fixed positions; ≤
    * `maxDist` edits touch ≤ maxDist chunks, so any pair within distance
    * `maxDist` shares at least one INTACT chunk whenever the key carries
    * ≥ maxDist+1 full chunks — and the intact chunk reappears in the
    * other key within ±maxDist of its position (edits before it shift it
    * by at most the net insertion/deletion count). So the candidate join
    * is EQUI on (chunk content) with the |Δposition| ≤ maxDist and
    * |Δlength| ≤ maxDist filters — keyed shuffle of ~(keyLen − chunkLen)
    * short substrings per row, never all-pairs — and recall is exactly 1.
    * Keys too short for maxDist+1 full chunks route to a per-length band:
    * each short key emits its 2·maxDist+1 admissible partner lengths as
    * EQUI band keys, joined against every key whose length could pair
    * with a short one (i.e. `len < boundary + maxDist`, which also covers
    * pairs straddling the long/short boundary) — a keyed shuffle whose
    * per-band cost is |short@band|·|keys@len|, never an unkeyed
    * all-pairs. Survivors verify with the exact `levenshtein`.
    *
    * Hot-chunk guard (the PPJoin rarity rule applied here): the pigeonhole
    * needs ≥ 1 intact chunk among ANY maxDist+1 of a record's chunks — so
    * the probe side indexes only its maxDist+1 globally RAREST chunks
    * (one keyed df count + a ≤ 4-row per-record rank). A template corpus
    * whose keys share a hot prefix phrase then skips that chunk wherever
    * a record carries rarer ones, capping the hot posting list's df²
    * candidate blow-up exactly as the prefix route's rarity ordering
    * does — with recall still exactly 1.
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 2, keyLen: Int = 32,
                        chunkLen: Int = 8, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(maxDist < keyLen / chunkLen, "keyLen must hold maxDist+1 full chunks")
    val base = docs
      .select(col(idCol).as("id"),
        lower(substring(col(textCol), 1, keyLen)).as("k"))
      .where(length(col("k")) > 0)
      .withColumn("len", length(col("k")))
    val longEnough = base.where(col("len") >= (maxDist + 1) * chunkLen)
    // fixed-position chunks of the probe side...
    val allChunks = longEnough.select(col("id"), col("k"), col("len"),
      posexplode(expr(
        s"transform(sequence(0, int(len / $chunkLen) - 1), " +
          s"i -> substring(k, i * $chunkLen + 1, $chunkLen))")).as(Seq("ci", "chunk")))
      .select(col("id"), col("k"), col("len"),
        (col("ci") * chunkLen).as("cpos"), col("chunk"))
    // ...thinned to each record's maxDist+1 RAREST chunks (recall-exact,
    // see the hot-chunk guard note above)
    val cdf = allChunks.groupBy("chunk").agg(count(lit(1)).as("cdf"))
    val byRarity = Window.partitionBy("id")
      .orderBy(col("cdf"), col("chunk"), col("cpos"))
    val chunks = allChunks.join(cdf, "chunk")
      .withColumn("rk", row_number().over(byRarity))
      .where(col("rk") <= maxDist + 1)
      .select(col("id"), col("k"), col("len"), col("cpos"), col("chunk"))
    // every chunkLen-substring of the build side, with its position
    val subs = longEnough.select(col("id").as("id2"), col("k").as("k2"),
      col("len").as("len2"),
      posexplode(expr(
        s"transform(sequence(0, len - $chunkLen), " +
          s"i -> substring(k, i + 1, $chunkLen))")).as(Seq("spos", "sub")))
    val longCand = chunks.join(subs,
        col("chunk") === col("sub") && col("id") < col("id2") &&
          abs(col("cpos") - col("spos")) <= maxDist &&
          abs(col("len") - col("len2")) <= maxDist)
      .select(col("id").as("a"), col("id2").as("b"),
        col("k").as("ka"), col("k2").as("kb"))
    // short keys: too few full chunks for the pigeonhole — band by length.
    // A pair within maxDist differs by ≤ maxDist in length, so each short
    // key emits its 2·maxDist+1 admissible partner lengths as EQUI band
    // keys; the right side is every key short enough to pair with a short
    // one (len < boundary + maxDist — the thin [boundary, boundary+maxDist)
    // slice catches pairs straddling the long/short cut, which the
    // pigeonhole cannot see because its short member has no intact chunk).
    // Both-short pairs surface twice (x→y and y→x) — normalised to
    // (least, greatest) and deduped downstream.
    val boundary = (maxDist + 1) * chunkLen
    val short = base.where(col("len") < boundary)
    val shortSide = base.where(col("len") < boundary + maxDist)
      .select(col("id").as("id2"), col("k").as("k2"), col("len").as("len2"))
    val shortCand = short
      .select(col("id"), col("k"),
        explode(sequence(greatest(col("len") - maxDist, lit(1)),
          col("len") + maxDist)).as("band"))
      .join(shortSide, col("band") === col("len2") && col("id") =!= col("id2"))
      .select(least(col("id"), col("id2")).as("a"),
        greatest(col("id"), col("id2")).as("b"),
        col("k").as("ka"), col("k2").as("kb"))
    longCand.unionByName(shortCand)
      .dropDuplicates("a", "b")
      .withColumn("dist", levenshtein(col("ka"), col("kb")).cast("long"))
      .where(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
      .orderBy("a", "b")
  }
}
