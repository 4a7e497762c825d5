package graft.queries
import graft.io.DataFrames.StagedSyntax

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ann.Ann
import graft.ops.dedup.Dedup
import graft.ops.multimodal.Multimodal
import graft.ops.text.TextOps

/** LLM-training-data pipeline query surface (SURVEY.md §2 C-block) over the
  * documents/embeddings tables.
  */
object Pipeline {

  // NOT spread here: measured at sf0.1, the raw-row round-trip shuffle
  // costs these sub-second queries more than the added parallelism returns.
  // spread() pays off only above the truly heavy narrow stages, and lives
  // inside those operators (dedup joins, trigram training).
  private def docs(spark: SparkSession, dir: String) = Tables.load(spark, dir, "documents")
  private def embs(spark: SparkSession, dir: String) = Tables.load(spark, dir, "embeddings")

  // ---- C1: exact (normalised) dedup ---------------------------------------

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(spark, dir))

  val dedupExactSql: String =
    """WITH d AS (SELECT doc_id,
      |  md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS kh FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL)
      |SELECT kh AS key_hash, min(doc_id) AS canonical_id, count(*) AS n_dups,
      |  array_to_string(list_sort(list(doc_id::VARCHAR)), ',') AS members
      |FROM d GROUP BY kh HAVING count(*) > 1 ORDER BY canonical_id""".stripMargin

  // ---- C2: exact bigram-Jaccard similarity join ---------------------------
  // shipped plan = the adaptive join: a bounded density probe routes
  // zipfian corpora to the PPJoin prefix-filtered inverted index and dense
  // corpora (like this synthetic one: 931-shingle vocabulary, avg df 275 —
  // where EVERY inverted index degenerates to Ω(n²)) to LSH candidates +
  // exact verification. No broadcast of the corpus, no all-pairs loop;
  // Dedup.ngramJaccard stays as the documented small-side utility.

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardAdaptive(docs(spark, dir), minJaccard = 0.5)

  /** Shared oracle core: exact bigram-Jaccard pairs via an INVERTED-INDEX
    * join (unnest shingles → equi-join postings → per-pair count = the
    * intersection size) instead of the doc×doc `list_intersect` loop. Same
    * result set — any pair with jaccard ≥ 0.5 shares ≥ 1 shingle, so the
    * posting-list join loses nothing and the division arithmetic is
    * unchanged — but the cost is Σ df² over shingles (engine-shaped),
    * which keeps the DuckDB twin inside a 300 s budget at the sf1 stress
    * replica (50k docs: ~90 s measured) where the quadratic CTE timed out.
    */
  private val jaccardCoreSql: String =
    """t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |s0 AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) sh FROM t),
      |s AS MATERIALIZED (SELECT doc_id, sh FROM s0 WHERE len(sh) > 0),
      |sz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM s),
      |ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |cand AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      |  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |p AS (SELECT a, b, inter::DOUBLE / (na.n + nb.n - inter) AS jaccard
      |  FROM cand JOIN sz na ON na.doc_id = cand.a JOIN sz nb ON nb.doc_id = cand.b)""".stripMargin

  // MATERIALIZED on pairs/e is load-bearing: DuckDB inlines plain CTEs per
  // reference, and pairs is read 4× (e twice, verts twice) — inlined, the
  // 90 s posting-join core re-runs 4× and blows the sf1 budget.
  private val jaccardClusterCoreSql: String =
    jaccardCoreSql + """,
      |pairs AS MATERIALIZED (SELECT a, b FROM p WHERE jaccard >= 0.5),
      |e AS MATERIALIZED (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      |verts AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs)""".stripMargin

  val jaccardPairsSql: String =
    "WITH " + jaccardCoreSql +
      "\nSELECT a, b, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY a, b"

  val dedupNgramJaccardSql: String = jaccardPairsSql

  /** C104: dedup threshold-sensitivity curve — the C99 impact telemetry
    * swept across thresholds in ONE pair pass: per threshold in
    * {0.5..0.9}, the qualifying pair count, the distinct documents in
    * any qualifying pair, and that as a fraction of the corpus. THE
    * chart that decides where to SET the dedup threshold (C2/C3 run at a
    * point; this shows the curve around it — a cliff between 0.6 and
    * 0.7 means the corpus has a near-dup band there, a flat curve means
    * the choice is insensitive). Pairs come from the same
    * already-oracle-checked C2 adaptive chain at the lowest swept
    * threshold; the sweep itself is one broadcast-joined |pairs|-sized
    * pass + two keyed counts — negligible beside the pair search.
    * Jaccard values are exact integer-ratio doubles, so >= comparisons
    * against the literal thresholds are engine-identical.
    */
  def dedupCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // checkpoint the pair set: the sweep consumes it in TWO aggregations
    // (pair counts and distinct-doc counts), and without the cut each
    // branch re-runs the whole adaptive pair search
    val pairs = Dedup.ngramJaccardAdaptive(docs(spark, dir), minJaccard = 0.5)
      .staged
    val th = Seq(0.5, 0.6, 0.7, 0.8, 0.9).toDF("threshold")
    val joined = th.join(pairs, col("jaccard") >= col("threshold"), "left")
    val nPairs = joined.groupBy("threshold")
      .agg(count(col("a")).as("n_pairs"))
    val nDocs = joined
      .select(col("threshold"), explode(array(col("a"), col("b"))).as("d"))
      .groupBy("threshold").agg(countDistinct(col("d")).as("n_dup_docs"))
    val total = docs(spark, dir).agg(count(lit(1)).as("__n"))
    th.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .crossJoin(total)
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        round(coalesce(col("n_dup_docs"), lit(0L)).cast("double") / col("__n"), 6)
          .as("dup_frac"))
      .orderBy("threshold")
  }

  val dedupCurveSql: String =
    "WITH " + jaccardCoreSql + """,
      |pairs AS MATERIALIZED (SELECT a, b, jaccard FROM p WHERE jaccard >= 0.5),
      |th AS (SELECT unnest([0.5::DOUBLE, 0.6, 0.7, 0.8, 0.9]) AS threshold),
      |j AS (SELECT t.threshold, pr.a, pr.b
      |  FROM th t LEFT JOIN pairs pr ON pr.jaccard >= t.threshold),
      |np AS (SELECT threshold, count(a)::BIGINT AS n_pairs FROM j GROUP BY 1),
      |nd AS (SELECT threshold, count(DISTINCT d)::BIGINT AS n_dup_docs FROM (
      |    SELECT threshold, unnest([a, b]) AS d FROM j) GROUP BY 1),
      |tot AS (SELECT count(*)::DOUBLE AS n FROM documents)
      |SELECT th.threshold, coalesce(np.n_pairs, 0)::BIGINT AS n_pairs,
      |  coalesce(nd.n_dup_docs, 0)::BIGINT AS n_dup_docs,
      |  round(coalesce(nd.n_dup_docs, 0)::DOUBLE / tot.n, 6) AS dup_frac
      |FROM th LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
      |CROSS JOIN tot ORDER BY threshold""".stripMargin

  // ---- C2b: PPJoin prefix route under the oracle --------------------------
  // The shipped testdata is DENSE (931-bigram vocab, avg df 275), so the
  // adaptive router never takes the PPJoin branch on it and the prefix
  // index ran spec-only. This query derives a SPARSE (zipfian-shaped)
  // corpus from the same table — each token salted with doc_id % groups, a
  // deterministic transform DuckDB reproduces verbatim — which multiplies
  // the vocabulary by the group count and divides document frequency. The
  // group count scales with the corpus (~170 docs per group → avg df ~9 at
  // every SF, safely inside the sparse regime), so the derived corpus
  // keeps its zipfian shape as the data grows — with a FIXED salt the
  // corpus re-densifies at 10× and PPJoin degenerates (measured 8.4 s at
  // sf0.1 with groups=3 vs ~1 s density-constant). It then runs
  // ngramJaccardPrefix DIRECTLY (not the router), so the driver's oracle
  // exercises the PPJoin prefix+positional filters and exact verification
  // at every SF; the router's choice of this branch on sparse corpora is
  // asserted in GuardSpec. Salting keeps within-group Jaccard identical
  // (a bijection on shingles) and zeroes cross-group overlap, so
  // qualifying pairs are exactly the same-group near-dups of the base
  // corpus.

  private[graft] def saltedDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val groups = math.max(3L, d.count() / 170)
    d.select(col("doc_id"),
      array_join(transform(split(col("text"), " "),
        w => concat(w, lit("#"), (col("doc_id") % groups).cast("string"))), " ")
        .as("text"))
  }

  def dedupNgramZipf(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPrefix(saltedDocs(spark, dir), minJaccard = 0.5)

  val dedupNgramZipfSql: String =
    "WITH " +
      """g0 AS (SELECT greatest(3, count(*) // 170) AS ng FROM documents),
        |t AS (SELECT doc_id,
        |    [w || '#' || (doc_id % ng)::VARCHAR for w in string_split(text, ' ')] w
        |  FROM documents, g0),
        |""".stripMargin +
      jaccardCoreSql.split("\n", 2)(1) + // the salted t replaces the core's
      "\nSELECT a, b, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY a, b"

  // ---- C3: MinHash+LSH (exactly verified, so it shares C2's oracle) -------

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(docs(spark, dir), minJaccard = 0.5)

  val dedupMinhashSql: String = jaccardPairsSql

  // ---- C2c: the adaptive router's ABOVE-GUARD fallback route --------------
  // C2 rides the bitmap/prefix exact routes at every shipped fixture (the
  // guards only engage at ~100x the dense corpus), so the router's
  // production fallback — dense AND too big for the exact join →
  // [[Dedup.minhashLsh]] with a warning — was the one branch the driver
  // gate never exercised (spec-forced only, r13 verdict #1). This query
  // parameterizes the router PAST the guard: density thresholds zeroed
  // (every corpus reads as dense, including the degenerate robustness
  // fixture regardless of its shape) and maxExactDocs=64 (all fixtures
  // carry 500..50k docs), so the stats probe, the guard arithmetic, and
  // the fallback branch itself run end-to-end at every SF. The oracle is
  // the exact pair set (C2/C3's shared stance): the fallback's output IS
  // minhashLsh's exactly-verified pairs, whose equality to the exact set
  // at these thresholds/scales is the measured r12 result (2560/2560 at
  // the sf1 replica after the threshold-aware banding fix) — a residual
  // banding miss here FAILS the row, which is precisely the gate's job.
  def dedupNgramFallback(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardAdaptive(docs(spark, dir), minJaccard = 0.5,
      denseAvgDf = 0.0, denseDensity = 0.0, maxExactDocs = 64)

  val dedupNgramFallbackSql: String = jaccardPairsSql

  /** C3b: near-dup pairs → dedup clusters via GraphX connected components
    * (canonical representative = min doc_id of the component). Oracle:
    * recursive-CTE transitive closure + min-reachable-id in SQL —
    * independent semantics, same result.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    // minhash candidates verified with exact Jaccard == the exact pair set,
    // at a fraction of the cost — the production shape of this pipeline
    graft.ops.graph.GraphOps.connectedComponents(
      Dedup.minhashLsh(docs(spark, dir), minJaccard = 0.5))

  val dedupClustersSql: String =
    "WITH RECURSIVE\n" + jaccardClusterCoreSql +
      """
        |SELECT v.id, least(v.id, min(r.dst)) AS component
        |FROM verts v LEFT JOIN reach r ON r.src = v.id
        |GROUP BY v.id ORDER BY v.id""".stripMargin

  /** C99: per-source duplication-rate report — the impact telemetry ON
    * TOP of the dedup pipeline (A17): for each corpus source, how many
    * documents sit in a near-dup cluster and what fraction of the
    * source that is. "Source X is 40% duplicated" is the number that
    * decides whether a scrape gets re-ingested, down-weighted (C33
    * feeds on it) or dropped — pair lists and cluster ids don't answer
    * it directly. Composes the A17 cluster chain (same minhash-LSH +
    * exact-verify + connected components; the oracle nests the same
    * recursive-CTE closure) and reduces to |sources| rows; sources
    * with no duplicates survive via left join with rate 0.
    */
  def dedupRate(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir).select(col("id"))
    val d = docs(spark, dir)
    val total = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val dup = d.join(clusters, d("doc_id") === clusters("id"))
      .groupBy("source").agg(count(lit(1)).as("n_dup"))
    total.join(dup, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_docs"), 6)
          .as("dup_rate"))
      .orderBy("source")
  }

  // DISTINCT is load-bearing: in this composed context DuckDB returns
  // verts WITH duplicates (28 pairs -> 56 rows, not the 45 distinct
  // members) — A17's consumer never saw it because its final SELECT
  // groups by v.id. Counting over verts without the DISTINCT silently
  // double-counts multi-pair members.
  val dedupRateSql: String =
    "WITH RECURSIVE\n" + jaccardClusterCoreSql + ",\n" +
    """clusters AS (SELECT DISTINCT v.id FROM verts v),
      |tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      |dup AS (SELECT d.source, count(*) AS n_dup
      |  FROM documents d JOIN clusters c ON c.id = d.doc_id GROUP BY d.source)
      |SELECT tot.source, tot.n_docs, coalesce(dup.n_dup, 0) AS n_dup,
      |  round(coalesce(dup.n_dup, 0)::DOUBLE / tot.n_docs, 6) AS dup_rate
      |FROM tot LEFT JOIN dup USING (source) ORDER BY tot.source""".stripMargin

  /** C3c: cluster survivor selection — which copy to KEEP per dedup
    * cluster (see [[Dedup.canonicalize]]): highest token count wins,
    * minimum doc_id breaks ties. Oracle: independent recursive-CTE
    * transitive closure + the same window rule.
    */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame =
    Dedup.canonicalize(
      docs(spark, dir),
      graft.ops.graph.GraphOps.connectedComponents(
        Dedup.minhashLsh(docs(spark, dir), minJaccard = 0.5)))
      .orderBy("component")

  val dedupCanonicalSql: String =
    "WITH RECURSIVE\n" + jaccardClusterCoreSql + ",\n" +
    """clusters AS (SELECT v.id, least(v.id, min(r.dst)) AS component
      |  FROM verts v LEFT JOIN reach r ON r.src = v.id GROUP BY v.id),
      |m AS (SELECT c.id, c.component, len(string_split(d.text, ' ')) AS q
      |  FROM clusters c JOIN documents d ON d.doc_id = c.id),
      |rk AS (SELECT *,
      |    row_number() OVER (PARTITION BY component ORDER BY q DESC, id) AS rank,
      |    count(*) OVER (PARTITION BY component) AS n_members FROM m)
      |SELECT component, id AS keep_id, q::INTEGER AS keep_q, n_members
      |FROM rk WHERE rank = 1 ORDER BY component""".stripMargin

  /** C22: benchmark-contamination check — docs of source `src0` play the
    * eval set, everything else is training data; report every
    * (eval doc, train doc) pair sharing ≥1 distinct word 8-gram with the
    * shared-gram count. The oracle rebuilds the same inverted-index join
    * over n-gram STRINGS (the Spark side joins on their xxhash64, equality
    * is equality).
    */
  def contamination(spark: SparkSession, dir: String): DataFrame =
    Dedup.contamination(docs(spark, dir), isEval = col("source") === "src0", n = 8)

  val contaminationSql: String =
    """WITH g AS (SELECT doc_id, source = 'src0' AS is_eval,
      |    unnest(list_distinct([array_to_string(w[i:i+7], ' ')
      |      for i in range(1, greatest(len(w) - 6, 1))])) AS gram
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)),
      |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE is_eval),
      |tr AS (SELECT doc_id AS train_id, gram FROM g WHERE NOT is_eval)
      |SELECT eval_id, train_id, count(*) AS n_shared
      |FROM ev JOIN tr USING (gram)
      |GROUP BY eval_id, train_id ORDER BY eval_id, train_id""".stripMargin

  /** C73: benchmark DECONTAMINATION — the actionable half of C22 (the
    * C48-to-C36 relationship): every training document scored by its
    * eval-set 8-gram overlap and flagged keep/drop, the filter an
    * eval-honest training pipeline actually applies before training.
    * Reuses the C22 contamination join unchanged (no drift possible),
    * reduces its pair output to per-train-doc totals, and left-joins the
    * training corpus so CLEAN documents appear with zeroes — the output
    * is |train docs| rows either way.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val hits = Dedup.contamination(docs(spark, dir),
        isEval = col("source") === "src0", n = 8)
      .groupBy("train_id").agg(sum("n_shared").as("grams_hit"),
        count(lit(1)).as("n_eval_docs"))
    docs(spark, dir).where(col("source") =!= "src0")
      .select(col("doc_id").as("train_id"))
      .join(hits, Seq("train_id"), "left")
      .select(col("train_id"),
        coalesce(col("grams_hit"), lit(0L)).as("grams_hit"),
        coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
        col("grams_hit").isNull.as("keep"))
      .orderBy("train_id")
  }

  val decontaminateSql: String =
    """WITH g AS (SELECT doc_id, source = 'src0' AS is_eval,
      |    unnest(list_distinct([array_to_string(w[i:i+7], ' ')
      |      for i in range(1, greatest(len(w) - 6, 1))])) AS gram
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)),
      |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE is_eval),
      |tr AS (SELECT doc_id AS train_id, gram FROM g WHERE NOT is_eval),
      |pairs AS (SELECT eval_id, train_id, count(*) AS n_shared
      |  FROM ev JOIN tr USING (gram) GROUP BY eval_id, train_id),
      |hits AS (SELECT train_id, sum(n_shared)::BIGINT AS grams_hit,
      |    count(*) AS n_eval_docs FROM pairs GROUP BY train_id)
      |SELECT d.doc_id AS train_id,
      |  coalesce(grams_hit, 0) AS grams_hit,
      |  coalesce(n_eval_docs, 0) AS n_eval_docs,
      |  grams_hit IS NULL AS keep
      |FROM documents d LEFT JOIN hits ON hits.train_id = d.doc_id
      |WHERE d.source <> 'src0' ORDER BY train_id""".stripMargin

  /** C36: passage-level shared-content detection via content-defined
    * chunking (see [[Dedup.sharedPassages]]) — catches long passages
    * copied between otherwise-different documents, which document-level
    * near-dup structurally misses.
    */
  def passageDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.sharedPassages(docs(spark, dir), divisor = 7, minTokens = 5, minDocs = 2)
      .orderBy("chunk_fp")

  /** Boundary rule `(ascii(w)·256 + len(w)) mod 7 = 0` is exact integer
    * arithmetic in both engines; chunk spans are 1-based inclusive slices
    * (`ws[s:e]` ≡ Spark `slice(ws, s, e-s+1)`); md5 of the re-joined
    * chunk text keys the aggregation.
    */
  val passageDedupSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tok AS (SELECT doc_id, ws, len(ws) AS n FROM d),
      |b AS (SELECT doc_id, ws, n,
      |        [i FOR i IN range(1, n+1) IF (ascii(ws[i]) * 256 + len(ws[i])) % 7 = 0] AS bidx
      |      FROM tok),
      |se AS (SELECT doc_id, ws,
      |        list_prepend(1, [i+1 FOR i IN bidx]) AS starts,
      |        list_append(bidx, n) AS ends
      |       FROM b),
      |ch AS (SELECT doc_id, unnest([array_to_string(ws[starts[j]:ends[j]], ' ')
      |                              FOR j IN range(1, len(starts)+1)
      |                              IF ends[j] - starts[j] + 1 >= 5]) AS chunk
      |       FROM se)
      |SELECT md5(chunk) AS chunk_fp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
      |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2 ORDER BY chunk_fp""".stripMargin

  /** C48: passage REMOVAL ([[Dedup.scrubPassages]]) — the actionable half
    * of C36: the corpus rewritten with every cross-document shared chunk
    * scrubbed except its globally first occurrence (Lee et al. 2022
    * semantics at CDC-chunk granularity).
    */
  def passageScrub(spark: SparkSession, dir: String): DataFrame =
    Dedup.scrubPassages(docs(spark, dir), divisor = 7, minTokens = 5, minDocs = 2)

  /** The oracle re-runs the same chunking with 0-based chunk indices,
    * elects each shared fingerprint's keeper by `row_number() OVER
    * (PARTITION BY fp ORDER BY doc_id, cidx)`, and reconstructs the
    * scrubbed text with an ordered string_agg — the left-join + FILTER
    * aggregation keeps a row for a fully-scrubbed document (empty string),
    * matching Spark's left join + array filter.
    */
  val passageScrubSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |tok AS (SELECT doc_id, ws, len(ws) AS n FROM d),
      |b AS (SELECT doc_id, ws, n,
      |        [i FOR i IN range(1, n+1) IF (ascii(ws[i]) * 256 + len(ws[i])) % 7 = 0] AS bidx
      |      FROM tok),
      |se AS (SELECT doc_id, ws,
      |        list_prepend(1, [i+1 FOR i IN bidx]) AS starts,
      |        list_append(bidx, n) AS ends
      |       FROM b),
      |ch AS (SELECT doc_id,
      |        [array_to_string(ws[starts[j]:ends[j]], ' ')
      |         FOR j IN range(1, len(starts)+1) IF ends[j] >= starts[j]] AS chunks
      |       FROM se),
      |chf AS (SELECT doc_id, unnest(chunks) AS chunk,
      |          unnest(range(0, len(chunks))) AS cidx
      |        FROM ch),
      |occ AS (SELECT doc_id, cidx, md5(chunk) AS fp FROM chf
      |        WHERE len(string_split(chunk, ' ')) >= 5),
      |ranked AS (SELECT fp, doc_id, cidx,
      |             row_number() OVER (PARTITION BY fp ORDER BY doc_id, cidx) AS rn,
      |             count(DISTINCT doc_id) OVER (PARTITION BY fp) AS n_docs
      |           FROM occ),
      |drops AS (SELECT doc_id, cidx FROM ranked WHERE n_docs >= 2 AND rn > 1)
      |SELECT c.doc_id,
      |  coalesce(string_agg(c.chunk, ' ' ORDER BY c.cidx)
      |    FILTER (WHERE dr.doc_id IS NULL), '') AS text_scrubbed,
      |  count(dr.doc_id)::BIGINT AS n_dropped
      |FROM chf c LEFT JOIN drops dr
      |  ON dr.doc_id = c.doc_id AND dr.cidx = c.cidx
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** C80: substring-granularity exact dedup scrub ([[Dedup.scrubWinnow]])
    * — detection AND removal below CDC-chunk alignment: every winnowing
    * fingerprint shared across documents certifies a k-char verbatim
    * substring; masking all non-keeper spans and merging overlaps (k > w
    * makes in-run spans chain) removes the full interior of every
    * duplicated run, at any offset, keeping only the globally-first copy.
    * Complements `passage_scrub` (C48), which can only act on duplication
    * aligned to whole content-defined chunks.
    */
  def scrubWinnowQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.scrubWinnow(docs(spark, dir))

  /** The oracle reproduces the winnowing selection relationally (the C66
    * per-window rank CTEs), elects keepers, merges mask islands with the
    * classic running-max window, and splices kept substrings with an
    * ordered string_agg over gap pieces plus one tail piece per doc.
    */
  val scrubWinnowSql: String =
    "WITH dd AS (SELECT doc_id, text FROM documents WHERE len(text) >= 8 AND doc_id IS NOT NULL),\n" +
      winnowSelSql + ",\n" +
    """f AS MATERIALIZED (SELECT DISTINCT doc_id, p AS pos, h AS fp FROM sel),
      |firstin AS MATERIALIZED (SELECT fp, doc_id, min(pos) AS mpos FROM f GROUP BY 1, 2),
      |keep AS (SELECT fp, min(doc_id) AS kid FROM firstin
      |  GROUP BY fp HAVING count(*) >= 2),
      |k2 AS (SELECT keep.fp, keep.kid, fi.mpos AS kpos FROM keep
      |  JOIN firstin fi ON fi.fp = keep.fp AND fi.doc_id = keep.kid),
      |masks AS (SELECT f.doc_id, f.pos AS s, f.pos + 4 AS e
      |  FROM f JOIN k2 ON f.fp = k2.fp
      |  WHERE NOT (f.doc_id = k2.kid AND f.pos = k2.kpos)),
      |m2 AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id
      |    ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM masks),
      |m3 AS (SELECT doc_id, s, e,
      |    CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END AS ni FROM m2),
      |m4 AS (SELECT doc_id, s, e,
      |    sum(ni) OVER (PARTITION BY doc_id ORDER BY s, e) AS isl FROM m3),
      |mg AS MATERIALIZED (SELECT doc_id, isl, min(s) AS ms, max(e) AS me
      |  FROM m4 GROUP BY 1, 2),
      |sp AS MATERIALIZED (SELECT doc_id, ms, me,
      |    lag(me, 1, 0) OVER (PARTITION BY doc_id ORDER BY ms) AS pe,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY ms DESC) AS rdesc
      |  FROM mg),
      |pc AS (SELECT sp.doc_id, ms AS ord,
      |    substring(dd.text, (pe + 1)::INTEGER, (ms - pe - 1)::INTEGER) AS piece
      |  FROM sp JOIN dd USING (doc_id)
      |  UNION ALL
      |  SELECT sp.doc_id, 2147483647 AS ord,
      |    substring(dd.text, (me + 1)::INTEGER) AS piece
      |  FROM sp JOIN dd USING (doc_id) WHERE rdesc = 1),
      |agg AS (SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS ts
      |  FROM pc GROUP BY doc_id),
      |cnt AS (SELECT doc_id, sum(me - ms + 1)::BIGINT AS n_masked
      |  FROM mg GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(agg.ts, d.text) AS text_scrubbed,
      |  coalesce(cnt.n_masked, 0)::BIGINT AS n_masked
      |FROM documents d LEFT JOIN agg USING (doc_id) LEFT JOIN cnt USING (doc_id)
      |WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL
      |ORDER BY d.doc_id""".stripMargin

  /** C30: asymmetric containment of the src0 reference docs in the rest of
    * the corpus — quote/near-subset detection that a Jaccard threshold
    * can't express.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentRef(docs(spark, dir), isRef = col("source") === "src0",
      minContainment = 0.5)

  /** Containment oracle as a ref×other posting-list join (inter counts per
    * pair) — the ref-side cross join was |refs|·|others| `list_intersect`
    * calls, quadratic at the sf1 replica; the inverted index is exact
    * (containment ≥ 0.5 > 0 needs ≥ 1 shared shingle).
    */
  val dedupContainmentSql: String =
    """WITH s0 AS (SELECT doc_id, source = 'src0' AS is_ref,
      |    list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS sh
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)),
      |s AS MATERIALIZED (SELECT doc_id, is_ref, sh FROM s0 WHERE len(sh) > 0),
      |rsz AS (SELECT doc_id AS ref_id, len(sh) AS rn FROM s WHERE is_ref),
      |exr AS (SELECT doc_id AS ref_id, unnest(sh) AS g FROM s WHERE is_ref),
      |exo AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE NOT is_ref),
      |cand AS (SELECT exr.ref_id, exo.doc_id, count(*) AS inter
      |  FROM exr JOIN exo USING (g) GROUP BY 1, 2),
      |p AS (SELECT cand.ref_id, cand.doc_id, inter::DOUBLE / rn AS containment
      |  FROM cand JOIN rsz ON rsz.ref_id = cand.ref_id)
      |SELECT ref_id, doc_id, containment FROM p
      |WHERE containment >= 0.5 ORDER BY ref_id, doc_id""".stripMargin

  /** C31: exact-count stratified sample — 20% of each language, selected
    * by deterministic md5 order (engine-reproducible, corpus-growth-
    * stable within strata sizes).
    */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    graft.ops.sample.Sampling
      .stratifiedSample(docs(spark, dir), "lang", "doc_id", 0.2)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  val sampleStratifiedSql: String =
    """WITH r AS (SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT, doc_id) AS rnk,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents WHERE doc_id IS NOT NULL)
      |SELECT doc_id, lang FROM r WHERE rnk <= ceil(n * 0.2) ORDER BY doc_id""".stripMargin

  // ---- C33: token-budget domain mixing ------------------------------------
  // demo weights are a pure function of the source name (srcN -> 1+N%3),
  // so the oracle reproduces them; budget 20000 tokens exercises real
  // cutoffs at sf0.01 (corpus ~50k tokens) and degenerates gracefully to
  // "take everything" on smaller corpora.

  def corpusMix(spark: SparkSession, dir: String): DataFrame =
    graft.ops.sample.Sampling.mixToBudget(
        docs(spark, dir), "source", "doc_id",
        tokens = size(split(col("text"), " ")),
        weight = lit(1.0) + (substring(col("source"), 4, 10).cast("int") % 3).cast("double"),
        totalBudget = 20000)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
      .orderBy("doc_id")

  val corpusMixSql: String =
    """WITH d AS (SELECT doc_id, source,
      |    len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents
      |  WHERE doc_id IS NOT NULL),
      |w AS (SELECT DISTINCT source, 1.0 + (substr(source, 4)::INT % 3) AS w FROM documents),
      |tw AS (SELECT sum(w) AS sum_w FROM w),
      |t AS (SELECT source, floor(20000 * w / (SELECT sum_w FROM tw))::BIGINT AS target FROM w),
      |r AS (SELECT d.doc_id, d.source, d.n_tokens,
      |    (sum(d.n_tokens) OVER (PARTITION BY d.source
      |      ORDER BY ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT, d.doc_id))::BIGINT AS cum_tokens
      |  FROM d)
      |SELECT r.doc_id, r.source, r.n_tokens, r.cum_tokens
      |FROM r JOIN t USING (source)
      |WHERE r.cum_tokens - r.n_tokens < t.target
      |ORDER BY doc_id""".stripMargin

  /** C49: temperature-flattened language mixing
    * ([[graft.ops.sample.Sampling.temperatureMix]], alpha = 0.5) — the
    * multilingual alpha-sampling step: shares are SQUARE-ROOTED before the
    * budget split, so low-resource languages get more than their natural
    * share. Same deterministic md5 selection and budget monotonicity as
    * `corpus_mix`; the oracle recomputes the share table, the 6-dp
    * weights, and the per-language targets in SQL.
    */
  def corpusTemperature(spark: SparkSession, dir: String): DataFrame =
    graft.ops.sample.Sampling.temperatureMix(
        docs(spark, dir), "lang", "doc_id",
        tokens = size(split(col("text"), " ")),
        alpha = 0.5, totalBudget = 20000)
      .select("doc_id", "lang", "n_tokens", "cum_tokens")
      .orderBy("doc_id")

  val corpusTemperatureSql: String =
    """WITH d AS (SELECT doc_id, lang,
      |    len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents
      |  WHERE doc_id IS NOT NULL),
      |s AS (SELECT lang, sum(n_tokens)::DOUBLE AS tok FROM d GROUP BY lang),
      |tot AS (SELECT sum(tok) AS t FROM s),
      |w AS (SELECT lang, round(pow(tok / (SELECT t FROM tot), 0.5), 6) AS w FROM s),
      |sw AS (SELECT sum(w) AS sum_w FROM w),
      |tg AS (SELECT lang, floor(20000 * w / (SELECT sum_w FROM sw))::BIGINT AS target FROM w),
      |r AS (SELECT d.doc_id, d.lang, d.n_tokens,
      |    (sum(d.n_tokens) OVER (PARTITION BY d.lang
      |      ORDER BY ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT, d.doc_id))::BIGINT AS cum_tokens
      |  FROM d)
      |SELECT r.doc_id, r.lang, r.n_tokens, r.cum_tokens
      |FROM r JOIN tg USING (lang)
      |WHERE r.cum_tokens - r.n_tokens < tg.target
      |ORDER BY doc_id""".stripMargin

  /** C105: per-source token-budget allocation
    * ([[graft.ops.sample.Sampling.tokenBudget]], α = 0.5, budget 1M) —
    * the mixture MATH beside C49's per-document selection: for each
    * source its natural token mass, the temperature share, the
    * allocated tokens, and `epochs` (allocation / natural — the
    * repetition factor the source trains at; > 1 means up-sampled).
    * Same rounding ladder as C49 (pow(·, 0.5) rounded 6 dp, floor'd
    * allocation) so the two views of one mixture cannot disagree.
    */
  def corpusTokenBudget(spark: SparkSession, dir: String): DataFrame =
    graft.ops.sample.Sampling.tokenBudget(docs(spark, dir), "source",
      size(split(col("text"), " ")), alpha = 0.5, totalBudget = 1000000L)

  val corpusTokenBudgetSql: String =
    """WITH d AS (SELECT source, len(string_split(text, ' '))::BIGINT AS n_tokens
      |  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
      |s AS (SELECT source, sum(n_tokens)::BIGINT AS natural_tokens FROM d GROUP BY source),
      |tot AS (SELECT sum(natural_tokens)::DOUBLE AS t FROM s),
      |w AS (SELECT source, natural_tokens,
      |    round(pow(natural_tokens::DOUBLE / (SELECT t FROM tot), 0.5), 6) AS weight FROM s),
      |sw AS (SELECT sum(weight) AS sum_w FROM w)
      |SELECT source, natural_tokens, weight,
      |  floor(1000000 * weight / (SELECT sum_w FROM sw))::BIGINT AS alloc_tokens,
      |  round(floor(1000000 * weight / (SELECT sum_w FROM sw))::DOUBLE / natural_tokens, 6) AS epochs
      |FROM w ORDER BY source""".stripMargin

  /** C50: distributed BPE merge training ([[graft.ops.text.Bpe.bpeTrain]],
    * k = 6) — tokenizer-vocabulary induction over the corpus: the word-
    * frequency table is built in one corpus scan, then each merge round is
    * a keyed pair-count, a 1-row argmax (ties lexicographic), and a
    * greedy-left merge fold with the winner as a literal. The oracle
    * unrolls the six rounds as CTEs (the kg_pagerank pattern); greedy-left
    * overlap resolution is reproduced relationally with a run-parity
    * comprehension (merge at the 1st, 3rd, … position of each maximal run
    * of overlapping matches — exactly what the engine's fold does).
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.ops.text.Bpe.bpeTrain(docs(spark, dir), k = 6).orderBy("rank")

  /** Shared CTE prologue for the BPE oracles: vocab build + `k` unrolled
    * merge rounds ending in segmented state `s$k` (w, f, s). `where`
    * restricts the TRAINING corpus (C78 trains on one source).
    */
  private def bpeRoundsSql(k: Int, where: String = ""): String = {
    def pairCte(i: Int) =
      s"""p$i AS (SELECT pr.l AS l, pr.r AS r, sum(f)::BIGINT AS c FROM (
         |    SELECT unnest([ {'l': s[j], 'r': s[j+1]} for j in range(1, len(s)) ]) AS pr, f
         |    FROM s${i - 1} WHERE len(s) > 1)
         |  GROUP BY 1, 2),
         |m$i AS (SELECT l, r, l || r AS m, c FROM p$i ORDER BY c DESC, l, r LIMIT 1)""".stripMargin
    // LEFT JOIN ON true: an exhausted-vocab round has an EMPTY m$i — the
    // NULL pair matches nothing and the state passes through unchanged
    def mergeCte(i: Int) =
      s"""x$i AS (SELECT w, f, s, mm.m AS mg,
         |  [ (s[j] = mm.l AND s[j+1] = mm.r) for j in range(1, len(s)) ] AS mt
         |  FROM s${i - 1} LEFT JOIN m$i mm ON true),
         |y$i AS (SELECT w, f, s, mg, mt,
         |  [ coalesce(mt[j], false) AND ((j - 1 - coalesce(list_max(
         |      [q for q in range(1, j) if NOT coalesce(mt[q], false)]), 0)) % 2 = 0)
         |    for j in range(1, len(mt)+1) ] AS ma
         |  FROM x$i),
         |s$i AS (SELECT w, f,
         |  [ z for z in [ CASE WHEN j <= len(ma) AND ma[j] THEN mg
         |                      WHEN j > 1 AND ma[j-1] THEN NULL
         |                      ELSE s[j] END for j in range(1, len(s)+1) ]
         |    if z IS NOT NULL ] AS s
         |  FROM y$i)""".stripMargin
    val rounds = (1 to k).map(i => pairCte(i) + ",\n" + mergeCte(i)).mkString(",\n")
    s"""t AS (SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents $where),
       |w0 AS (SELECT w, count(*)::BIGINT AS f FROM t WHERE len(w) > 0 GROUP BY w),
       |s0 AS (SELECT w, [w[j] for j in range(1, len(w)+1)] AS s, f FROM w0),
       |$rounds""".stripMargin
  }

  val bpeTrainSql: String = {
    val k = 6
    val finals = (1 to k).map(i =>
      s"SELECT $i AS rank, l AS lhs, r AS rhs, m AS merged, c AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeRoundsSql(k)}
       |SELECT rank::INT AS rank, lhs, rhs, merged, pair_count
       |FROM ($finals) ORDER BY rank""".stripMargin
  }

  /** C51: per-language tokenizer fertility under the trained BPE vocab
    * ([[graft.ops.text.Bpe.fertility]]) — BPE tokens per whitespace word,
    * the tokenizer-efficiency metric a multilingual pipeline tracks.
    * Tokenization is a dictionary join against the segmented vocab, never
    * a re-segmentation of text.
    */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = graft.ops.text.Bpe.bpeTrainFull(docs(spark, dir), k = 6)
    graft.ops.text.Bpe.fertility(docs(spark, dir), vocab, "lang")
      .orderBy("lang")
  }

  val bpeFertilitySql: String =
    s"""WITH ${bpeRoundsSql(6)},
       |cw AS (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
       |SELECT cw.lang, count(*)::BIGINT AS n_words, sum(len(v.s))::BIGINT AS n_tokens,
       |  round(sum(len(v.s))::DOUBLE / count(*), 6) AS fertility
       |FROM cw JOIN s6 v USING (w) WHERE len(cw.w) > 0
       |GROUP BY cw.lang ORDER BY cw.lang""".stripMargin

  /** C72: BPE corpus ENCODING — the trained tokenizer applied: every
    * document rewritten as its (word position, symbol position, token)
    * stream under the segmented vocab, the step that turns a curated
    * corpus into the token ids [[packSequences]] packs. Tokenization is
    * the C51 dictionary join (words against the vocab — text is never
    * re-segmented); positions come from the ORIGINAL whitespace split
    * (empty tokens filtered after numbering) so both engines number
    * identically. The vocab join is unhinted like C51 — AQE broadcasts a
    * small trained vocab and falls back to one keyed shuffle on `w` at
    * web-scale vocabularies.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = graft.ops.text.Bpe.bpeTrainFull(docs(spark, dir), k = 6)
    docs(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), "\\s+")).as(Seq("wpos", "w")))
      .where(length(col("w")) > 0)
      .join(vocab.select(col("w"), col("symbols")), "w")
      .select(col("doc_id"), col("wpos").cast("long").as("wpos"),
        posexplode(col("symbols")).as(Seq("spos", "token")))
      .select(col("doc_id"), col("wpos"), col("spos").cast("long").as("spos"),
        col("token"))
      .orderBy("doc_id", "wpos", "spos")
  }

  val bpeEncodeSql: String =
    s"""WITH ${bpeRoundsSql(6)},
       |dw AS (SELECT doc_id, unnest(range(1, len(w)+1)) - 1 AS wpos, unnest(w) AS w
       |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents))
       |SELECT dw.doc_id, dw.wpos::BIGINT AS wpos,
       |  unnest(range(1, len(v.s)+1)) - 1 AS spos, unnest(v.s) AS token
       |FROM dw JOIN s6 v USING (w) WHERE len(dw.w) > 0
       |ORDER BY doc_id, wpos, spos""".stripMargin

  /** C78: cross-domain tokenizer transfer — the BPE vocab trained on ONE
    * source scored against every other: per source, the dictionary-miss
    * (OOV) rate and the resulting fertility when misses fall back to
    * char-level splitting (the real cost model: an OOV word tokenises to
    * its length). The number a team checks before reusing a tokenizer on
    * a new domain — OOV-driven fertility blowup silently eats context
    * windows. Training is the C50 pipeline on the filtered corpus; the
    * scoring pass is one word-keyed left join (unhinted, as C51) and a
    * keyed aggregate.
    */
  def tokenizerTransfer(spark: SparkSession, dir: String): DataFrame = {
    val (_, vocab) = graft.ops.text.Bpe.bpeTrainFull(
      docs(spark, dir).where(col("source") === "src0"), k = 6)
    val ws = docs(spark, dir).where(col("source") =!= "src0")
      .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
    ws.join(vocab.select(col("w"), size(col("symbols")).as("nt")), Seq("w"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_words"),
        count(when(col("nt").isNull, 1)).as("n_oov"),
        round(count(when(col("nt").isNull, 1)).cast("double") / count(lit(1)), 6)
          .as("oov_rate"),
        round(sum(coalesce(col("nt"), length(col("w")))).cast("double")
          / count(lit(1)), 6).as("fertility"))
      .orderBy("source")
  }

  val tokenizerTransferSql: String =
    s"""WITH ${bpeRoundsSql(6, "WHERE source = 'src0'")},
       |cw AS (SELECT source, unnest(string_split_regex(text, '\\s+')) AS w
       |  FROM documents WHERE source <> 'src0'),
       |j AS (SELECT cw.source, cw.w, len(v.s) AS nt
       |  FROM cw LEFT JOIN s6 v USING (w) WHERE len(cw.w) > 0)
       |SELECT source, count(*) AS n_words,
       |  count(*) FILTER (nt IS NULL) AS n_oov,
       |  round((count(*) FILTER (nt IS NULL))::DOUBLE / count(*), 6) AS oov_rate,
       |  round(sum(coalesce(nt, len(w)))::DOUBLE / count(*), 6) AS fertility
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** C44: deterministic global shuffle into 8 training shards
    * ([[graft.ops.sample.Sampling.shardShuffle]]) — shard + within-shard
    * position as pure md5 functions of doc_id, the engine-reproducible
    * "shuffle and shard" step that fixes a training run's data order.
    */
  def shardShuffle(spark: SparkSession, dir: String): DataFrame =
    graft.ops.sample.Sampling.shardShuffle(docs(spark, dir), "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")

  val shardShuffleSql: String =
    """WITH h AS (SELECT doc_id,
      |    ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
      |  FROM documents)
      |SELECT doc_id, (hv % 8)::INT AS shard,
      |  row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos
      |FROM h ORDER BY shard, pos""".stripMargin

  /** C96: deterministic shard manifest
    * ([[graft.ops.sample.Sampling.shardManifest]]) — the reproducibility
    * artifact beside the C44 shard write: per md5-assigned shard, row
    * count, content bytes, id range, and an order-free bit_xor content
    * fingerprint over per-doc md5 prefixes. Equal manifests certify two
    * copies of a sharded corpus are the same data without a side-by-side
    * re-read — how a resumed 100 TB training run validates its inputs.
    * NULL ids drop (no shard identity), NULL text counts 0 bytes and
    * fingerprints as empty (both robust-fixture-exercised).
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    graft.ops.sample.Sampling.shardManifest(docs(spark, dir), "doc_id", "text", nShards = 8)

  val shardManifestSql: String =
    """WITH h AS (SELECT doc_id,
      |    (('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8)::INT AS shard,
      |    coalesce(octet_length(encode(text)), 0)::BIGINT AS n_bytes,
      |    ('0x' || substring(md5(doc_id::VARCHAR || ':' || coalesce(text, '')), 1, 15))::BIGINT AS fp
      |  FROM documents WHERE doc_id IS NOT NULL)
      |SELECT shard, count(*) AS n_docs, sum(n_bytes)::BIGINT AS n_bytes,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id, bit_xor(fp) AS content_fp
      |FROM h GROUP BY shard ORDER BY shard""".stripMargin

  /** C110: shard rebalancing plan ([[graft.ops.sample.Sampling
    * .rebalancePlan]]) — the OPERATIONS consumer of C96's manifest: given
    * per-shard counts, the greedy surplus→deficit transfer schedule that
    * exactly balances the corpus, derived WITHOUT iteration as the
    * interval overlap of the two cumulative-offset sequences (one
    * manifest-sized range join — the move plan for a 100 TB reshard is
    * planned in milliseconds, then executed as data moves). The fixture
    * shards by doc_id² mod 8 — quadratic residues land everything on
    * shards {0, 1, 4}, so five shards sit empty and a REAL skewed plan
    * emerges (an md5 sharding is near-balanced and would make the plan
    * trivially empty); the 8-shard spine keeps empty shards present as
    * deficits. Exact integer arithmetic end to end.
    */
  def shardRebalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c0 = docs(spark, dir).where(col("doc_id").isNotNull)
      .select((col("doc_id") * col("doc_id") % 8).cast("int").as("shard"))
      .groupBy("shard").agg(count(lit(1)).as("n_docs"))
    val spine = (0 until 8).toDF("shard")
    val counts = spine.join(c0, Seq("shard"), "left")
      .select(col("shard"), coalesce(col("n_docs"), lit(0L)).as("n_docs"))
    graft.ops.sample.Sampling.rebalancePlan(counts)
  }

  val shardRebalanceSql: String =
    """WITH c0 AS (SELECT (doc_id * doc_id) % 8 AS shard, count(*)::BIGINT AS n
      |    FROM documents WHERE doc_id IS NOT NULL GROUP BY 1),
      |sp AS (SELECT unnest(range(0, 8))::INT AS shard),
      |c AS (SELECT sp.shard, coalesce(c0.n, 0)::BIGINT AS n
      |  FROM sp LEFT JOIN c0 ON c0.shard = sp.shard),
      |tt AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS nsh FROM c),
      |t AS (SELECT c.shard, c.n, row_number() OVER (ORDER BY c.shard) AS rk,
      |    tt.total, tt.nsh FROM c, tt),
      |g AS (SELECT shard, n - ((total // nsh)
      |    + CASE WHEN rk <= total % nsh THEN 1 ELSE 0 END) AS s FROM t),
      |sur AS (SELECT shard AS src_shard,
      |    sum(s) OVER (ORDER BY shard) - s AS slo,
      |    sum(s) OVER (ORDER BY shard) AS shi FROM g WHERE s > 0),
      |defi AS (SELECT shard AS dst_shard,
      |    sum(-s) OVER (ORDER BY shard) + s AS dlo,
      |    sum(-s) OVER (ORDER BY shard) AS dhi FROM g WHERE s < 0)
      |SELECT src_shard, dst_shard,
      |  (least(shi, dhi) - greatest(slo, dlo))::BIGINT AS n_move
      |FROM sur JOIN defi ON slo < dhi AND dlo < shi
      |ORDER BY src_shard, dst_shard""".stripMargin

  /** C45: per-document novelty ([[graft.ops.text.TextOps.novelty]]) —
    * fraction of each document's distinct bigram shingles first seen in
    * that document (first occurrence attributed to the minimum doc_id).
    * The oracle groups the gram TEXT where the engine groups xxhash64
    * fingerprints; min-doc attribution and the counts are hash-identity-
    * insensitive, so they agree absent a 2^-64 collision.
    */
  def docNovelty(spark: SparkSession, dir: String): DataFrame =
    TextOps.novelty(docs(spark, dir)).orderBy("doc_id")

  val docNoveltySql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |g AS (SELECT doc_id,
      |    unnest(list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS gh
      |  FROM t),
      |f AS (SELECT gh, min(doc_id) AS doc_id FROM g GROUP BY gh),
      |nv AS (SELECT doc_id, count(*)::BIGINT AS n_novel FROM f GROUP BY doc_id),
      |ng AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM g GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(ng.n_grams, 0)::BIGINT AS n_grams,
      |  coalesce(nv.n_novel, 0)::BIGINT AS n_novel,
      |  CASE WHEN coalesce(ng.n_grams, 0) > 0
      |       THEN coalesce(nv.n_novel, 0)::DOUBLE / ng.n_grams ELSE 0.0 END AS novelty
      |FROM (SELECT doc_id FROM documents) d
      |LEFT JOIN ng USING (doc_id) LEFT JOIN nv USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** C46: content-hash snapshot diff ([[Dedup.snapshotDiff]]) — the
    * incremental-ingest delta (added/removed/changed, unchanged never
    * emitted). Old/new snapshots derive deterministically from the one
    * documents fixture: doc_id%10==0 absent from old (→ added), ==1
    * absent from new (→ removed), ==2 edited in new (→ changed). The
    * oracle recomputes the full-outer join comparing TEXT (IS DISTINCT
    * FROM, so a NULL text behaves like the engine's xxhash64(NULL) seed
    * value) where the engine compares fingerprints — independent and
    * strictly stronger (a fingerprint bug shows up as a status mismatch).
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val old = d.where(pmod(col("doc_id"), lit(10)) =!= 0)
    val neu = d.where(pmod(col("doc_id"), lit(10)) =!= 1)
      .withColumn("text", when(pmod(col("doc_id"), lit(10)) === 2,
        concat(col("text"), lit(" edited"))).otherwise(col("text")))
    Dedup.snapshotDiff(old, neu).orderBy("id")
  }

  val corpusDiffSql: String =
    """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
      |n AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 2 THEN text || ' edited' ELSE text END AS text
      |  FROM documents WHERE doc_id % 10 <> 1),
      |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS id,
      |    CASE WHEN o.doc_id IS NULL THEN 'added'
      |         WHEN n.doc_id IS NULL THEN 'removed'
      |         WHEN o.text IS DISTINCT FROM n.text THEN 'changed' END AS status
      |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT id, status FROM j WHERE status IS NOT NULL ORDER BY id""".stripMargin

  // ---- C3b: incremental dedup (new batch vs persisted index) --------------
  // src0 plays the daily increment; everything else is the already-indexed
  // corpus. Only the new side is signed; the oracle is the exact Jaccard
  // join restricted to pairs with a new-side member (banding recall ≈ 1
  // for this corpus's near-identical dups, as with dedup_minhash).

  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.minhashLshIncrement(
      d.where(col("source") === "src0"),
      // built INLINE here (no persisted checkpoint in the harness), so the
      // query stages it — the operator deliberately does not copy a
      // production checkpoint-backed index into executor storage
      Dedup.minhashIndex(d.where(col("source") =!= "src0")).staged,
      minJaccard = 0.5)
  }

  val dedupIncrementalSql: String =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') w FROM documents),
      |s0 AS (SELECT doc_id, source = 'src0' AS is_new,
      |    list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) sh FROM t),
      |s AS MATERIALIZED (SELECT doc_id, is_new, sh FROM s0 WHERE len(sh) > 0),
      |sz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM s),
      |ex AS (SELECT doc_id, is_new, unnest(sh) AS g FROM s),
      |cand AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      |  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
      |    AND (x.is_new OR y.is_new)
      |  GROUP BY 1, 2),
      |p AS (SELECT a, b, inter::DOUBLE / (na.n + nb.n - inter) AS jaccard
      |  FROM cand JOIN sz na ON na.doc_id = cand.a JOIN sz nb ON nb.doc_id = cand.b)
      |SELECT a, b, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin

  // ---- C4: SimHash hamming near-dup ---------------------------------------

  /** C112: sign-bit sketch near-dup over the embedding table
    * ([[graft.ops.dedup.Dedup.bitvecPairs]]) — the 1-bit quantization
    * dedup rung: 64-dim float vectors compress 256× to one BIGINT code
    * (bit i = v[i] > 0) and near-dup search is a banded Hamming join
    * that shuffles codes only, each pair claimed once at its first
    * shared band with NO distinct. This query runs the high-recall
    * 4-bit-band tier (h ≤ 15 ≈ angle ≤ 42° — what a 64-bit sketch needs
    * to see the corpus's closest angular pairs; the fixture's minimum
    * sign distance IS 15) — banding is pigeonhole-lossless there, so
    * the oracle is the EXHAUSTIVE Hamming join over the same code
    * construction — exact integer bit arithmetic end-to-end, and
    * sign_sim = (64−2h)/64 is an exact power-of-two fraction with no
    * rounding step for engines to split on. The op's 16-bit default
    * tier is the collision-rare 100 TB setting (see the op scaladoc's
    * priced volume lever).
    */
  def dedupBitvec(spark: SparkSession, dir: String): DataFrame =
    // knownCount from the parquet footers: the audit-tier volume guard
    // prices itself with ZERO count jobs (the r16 advisor stance)
    graft.ops.dedup.Dedup.bitvecPairs(embs(spark, dir),
      maxHamming = 15, bandBits = 4,
      knownCount = Tables.rowCount(spark, dir, "embeddings"))

  val dedupBitvecSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
      |c AS (SELECT vec_id,
      |    list_sum([CASE WHEN i + 1 <= len(v) AND v[i + 1] > 0
      |                   THEN (1::HUGEINT << i) ELSE 0::HUGEINT END
      |              FOR i IN range(0, 64)]) AS code
      |  FROM e)
      |SELECT x.vec_id AS a, y.vec_id AS b,
      |  bit_count(xor(x.code, y.code))::BIGINT AS hamming,
      |  (64 - 2 * bit_count(xor(x.code, y.code)))::DOUBLE / 64.0 AS sign_sim
      |FROM c x JOIN c y ON x.vec_id < y.vec_id
      |WHERE bit_count(xor(x.code, y.code)) <= 15
      |ORDER BY a, b""".stripMargin

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(spark, dir), maxHamming = 3)

  /** Full hash oracle for the simhash join: FNV-1a 64 and the vote-packed
    * signature are deterministic integer arithmetic, so DuckDB reproduces
    * them exactly — per token, a left fold over the characters in HUGEINT
    * mod-2^64 (the xor touches only the low byte, so `h//256*256 +
    * xor(h%256, byte)` is the 64-bit xor); per document, bit i of the code
    * is set iff more than half the token hashes have it set. The pair join
    * is the EXHAUSTIVE O(n²) hamming check — pigeonhole banding in the
    * engine is lossless, so exhaustive is the correct reference. The
    * fold runs over the token's UTF-8 BYTES — codepoints expand
    * arithmetically (the 1/2/3/4-byte UTF-8 layout as integer division),
    * exactly the byte sequence the engine's `getBytes` hashes, so the
    * oracle is exact on ANY Unicode text, not just ASCII (the round-12
    * combining-mark fixture rows caught the codepoint shortcut).
    */
  private[queries] val utf8BytesSql: String =
    """flatten([CASE
      |          WHEN u < 128 THEN [u]
      |          WHEN u < 2048 THEN [192 + u // 64, 128 + u % 64]
      |          WHEN u < 65536 THEN [224 + u // 4096, 128 + (u // 64) % 64, 128 + u % 64]
      |          ELSE [240 + u // 262144, 128 + (u // 4096) % 64, 128 + (u // 64) % 64, 128 + u % 64]
      |        END FOR u IN [unicode(ch)::HUGEINT FOR ch IN list_filter(string_split(TOKEN, ''), c -> c <> '')]])""".stripMargin

  val dedupSimhashSql: String =
    """WITH hs AS (
      |  SELECT doc_id,
      |    [list_reduce(
      |       list_prepend(14695981039346656037::HUGEINT,
      |         UTF8BYTES),
      |       (h, b) -> ((h // 256 * 256 + xor(h % 256, b)) * 1099511628211::HUGEINT)
      |                 % 18446744073709551616::HUGEINT
      |     ) FOR t IN string_split(text, ' ')] AS hlist
      |  FROM documents WHERE text IS NOT NULL),""".stripMargin
      .replace("UTF8BYTES", utf8BytesSql.replace("TOKEN", "t")) + "\n" +
    """codes AS (
      |  SELECT doc_id,
      |    list_sum([CASE WHEN 2 * list_sum([(h >> i) % 2 FOR h IN hlist]) > len(hlist)
      |                   THEN (1::HUGEINT << i) ELSE 0::HUGEINT END
      |              FOR i IN range(0, 64)]) AS code
      |  FROM hs)
      |SELECT x.doc_id AS a, y.doc_id AS b,
      |       bit_count(xor(x.code, y.code))::BIGINT AS hamming
      |FROM codes x JOIN codes y ON x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.code, y.code)) <= 3
      |ORDER BY a, b""".stripMargin

  // ---- C4b: incremental SimHash dedup (new batch vs persisted index) ------
  // src0 plays the daily increment (the C3b cast); the index carries raw
  // (id, code64) signatures, so only the batch is tokenised and hashed.

  /** C4b: incremental SimHash near-dup ([[Dedup.simhashIncrement]]) — the
    * src0 batch probes a [[Dedup.simhashIndex]] built over the rest
    * (inline + localCheckpoint here, a persisted checkpoint in
    * production): hamming ≤ 3 pairs with ≥ 1 batch side. Completes the
    * incremental family (minhash C3b, winnow C85, embedding C5b). The
    * oracle is the C4 FNV-1a/vote-pack HUGEINT recipe with the exhaustive
    * hamming join restricted to `is_new` pairs — exhaustive is the right
    * reference because pigeonhole banding is lossless.
    */
  def dedupSimhashInc(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.simhashIncrement(
      d.where(col("source") === "src0"),
      Dedup.simhashIndex(d.where(col("source") =!= "src0")).staged,
      maxHamming = 3)
  }

  val dedupSimhashIncSql: String =
    """WITH hs AS (
      |  SELECT doc_id, source = 'src0' AS is_new,
      |    [list_reduce(
      |       list_prepend(14695981039346656037::HUGEINT,
      |         UTF8BYTES),
      |       (h, b) -> ((h // 256 * 256 + xor(h % 256, b)) * 1099511628211::HUGEINT)
      |                 % 18446744073709551616::HUGEINT
      |     ) FOR t IN string_split(text, ' ')] AS hlist
      |  FROM documents WHERE text IS NOT NULL),""".stripMargin
      .replace("UTF8BYTES", utf8BytesSql.replace("TOKEN", "t")) + "\n" +
    """codes AS (
      |  SELECT doc_id, is_new,
      |    list_sum([CASE WHEN 2 * list_sum([(h >> i) % 2 FOR h IN hlist]) > len(hlist)
      |                   THEN (1::HUGEINT << i) ELSE 0::HUGEINT END
      |              FOR i IN range(0, 64)]) AS code
      |  FROM hs)
      |SELECT x.doc_id AS a, y.doc_id AS b,
      |       bit_count(xor(x.code, y.code))::BIGINT AS hamming
      |FROM codes x JOIN codes y ON x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.code, y.code)) <= 3 AND (x.is_new OR y.is_new)
      |ORDER BY a, b""".stripMargin

  // ---- C5: embedding-cosine near-dup pairs --------------------------------
  // size-adaptive: exact broadcast loop below the cutoff (this SF), the
  // SRP-LSH bucketed + exact-verify route above it — no O(n²) at scale

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    // knownCount from the parquet footers: the router and the LSH sizing
    // construct with ZERO count jobs (the r16 advisor finding, closed at
    // the call site — the API knob existed, the driver query now uses it)
    Ann.cosinePairsAdaptive(embs(spark, dir), minCosine = 0.45,
      knownCount = Tables.rowCount(spark, dir, "embeddings"))

  /** One full splitmix64 application in DuckDB HUGEINT mod-2^64 arithmetic
    * (the [[embedProjectSql]] recipe, factored so it can be CHAINED): six
    * CTEs `{pfx}1..{pfx}6` mapping `src`'s column `x` to the mixed value
    * `y`, carrying `keys` through. Matches
    * [[graft.functions.SrpCodes.mix64]] bit-for-bit (add-φ, two
    * xorshift-multiply rounds split hi/lo 32 bits for the mod-2^64
    * product, final xorshift).
    */
  private[queries] def mix64Ctes(pfx: String, keys: String, src: String): String =
    s"""${pfx}1 AS (SELECT $keys, (x + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS y FROM $src),
       |${pfx}2 AS (SELECT $keys, xor(y, y >> 30) AS y FROM ${pfx}1),
       |${pfx}3 AS (SELECT $keys, (((y >> 32) * 13787848793156543929::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT) % 18446744073709551616::HUGEINT AS y FROM ${pfx}2),
       |${pfx}4 AS (SELECT $keys, xor(y, y >> 27) AS y FROM ${pfx}3),
       |${pfx}5 AS (SELECT $keys, (((y >> 32) * 10723151780598845931::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT) % 18446744073709551616::HUGEINT AS y FROM ${pfx}4),
       |${pfx}6 AS (SELECT $keys, xor(y, y >> 31) AS y FROM ${pfx}5)""".stripMargin

  /** ROUTE-AWARE near-dup pair CTE block shared by the C5/C47 oracles:
    * reproduces [[Ann.cosinePairsAdaptive]] (multiProbe default) exactly in
    * DuckDB at EVERY scale — the row-count router (n ≤ 8192 → exact
    * all-pairs; above → SRP-LSH), the splitmix64 hyperplane stream chained
    * three deep (band key → plane key → per-dim sign, seed 17, the
    * Ann.srpCodes derivation), auto-sized planes 2^p ≥ n/32 clamped
    * [4,20], bands = 16, multi-probe banding (own bucket + every 1-bit
    * flip ⇒ a band hits iff Hamming ≤ 1), and exact 6-dp cosine
    * verification of candidates. EACH route's input CTE is guarded by the
    * count predicate, so the quadratic branch is empty — and costs
    * nothing — above the cutoff, and the LSH scaffolding joins against an
    * empty corpus below it: one SQL string is correct at sf0.01 (exact
    * route) AND the sf1 stress replica (LSH route), closing the last two
    * documented-divergence cells of the r12 sf1 sweep. The r15 candidate
    * BUDGET is mirrored too (`vm`: the multi-probe flip branch empties
    * exactly when the engine's priced volume n·bucket·16·(p+1) exceeds
    * the default 200M budget and it degrades to single-probe — same
    * arithmetic, same operand order), so the oracle stays route-exact
    * even on a corpus big enough to trip the guard. Bucket equality is
    * (band, code[, label]) — what the engine's xxhash64 bucket-key
    * equality means modulo 64-bit collisions (the media_frame_dedup
    * precedent). Yields `rpairs(a, b, cosine)` thresholded at
    * `minCosine`.
    */
  /** The splitmix64 SRP hyperplane stream as chained CTEs — band key →
    * plane key → per-dim sign (seed 17, the Ann.srpCodes derivation) —
    * producing `pls` (plane ids) and `sl` (per-(band, plane) ±1 sign
    * lists, one sign per data dimension). Assumes upstream CTEs `e`
    * (with the vector column `v`) and `pp` (the plane count `p`) —
    * factored so the adaptive-pair and increment oracles size `p` from
    * DIFFERENT corpora (total vs index-side count) over one shared
    * derivation.
    */
  private def srpSignCtes: String =
    s"""bk0 AS (SELECT bd, (17::HUGEINT + bd::HUGEINT * 4294967296::HUGEINT) AS x
       |  FROM range(0, 16) t(bd)),
       |${mix64Ctes("bk", "bd", "bk0")},
       |pls AS (SELECT unnest(range(0, p)) AS pl FROM pp),
       |pk0 AS (SELECT bd, pl, xor(bk6.y, pl::HUGEINT) AS x
       |  FROM bk6 CROSS JOIN pls),
       |${mix64Ctes("pk", "bd, pl", "pk0")},
       |dm AS (SELECT max(len(v))::BIGINT AS d FROM e),
       |dms AS (SELECT unnest(range(0, d)) AS i FROM dm),
       |sg0 AS (SELECT bd, pl, i,
       |    xor(pk6.y, (i::HUGEINT * 11400714819323198485::HUGEINT)
       |      % 18446744073709551616::HUGEINT) AS x
       |  FROM pk6 CROSS JOIN dms),
       |${mix64Ctes("sg", "bd, pl, i", "sg0")},
       |sl AS (SELECT bd, pl,
       |    list(CASE WHEN y % 2 = 1 THEN 1.0 ELSE -1.0 END ORDER BY i) AS sv
       |  FROM sg6 GROUP BY bd, pl)""".stripMargin

  private def cosineAdaptivePairsCtes(minCosine: String, withGroup: Boolean): String = {
    val g = if (withGroup) ", label" else ""
    val gx = if (withGroup) ", x.label" else ""
    val gJoinAb = if (withGroup) " AND a.label = b.label" else ""
    val gJoinXy = if (withGroup) " AND x.label = y.label" else ""
    def cosAb = "round(CASE WHEN a.nrm*b.nrm > 0 THEN list_sum([pr[1]*pr[2] for pr in list_zip(a.v, b.v)]) / (a.nrm*b.nrm) ELSE 0.0 END, 6)"
    s"""e AS (SELECT vec_id$g, embedding::DOUBLE[] AS v FROM embeddings),
       |n0 AS MATERIALIZED (SELECT vec_id$g, v,
       |    sqrt(list_sum([x*x for x in v])) AS nrm FROM e),
       |nr AS (SELECT count(*) AS n FROM n0),
       |xe AS (SELECT n0.* FROM n0, nr WHERE nr.n <= 8192),
       |px AS (SELECT a.vec_id AS a, b.vec_id AS b, $cosAb AS cosine
       |  FROM xe a JOIN xe b ON a.vec_id < b.vec_id$gJoinAb),
       |pp AS (SELECT least(20, greatest(4,
       |    ceil(log2(greatest(n, 1) / 32.0))))::BIGINT AS p FROM nr),
       |$srpSignCtes,
       |xl AS MATERIALIZED (SELECT n0.* FROM n0, nr WHERE nr.n > 8192),
       |prj AS (SELECT x.vec_id$gx, s.bd, s.pl,
       |    list_sum([pr[1]*pr[2] for pr in list_zip(x.v, s.sv)]) AS proj
       |  FROM xl x CROSS JOIN sl s),
       |codes AS MATERIALIZED (SELECT vec_id$g, bd,
       |    sum(CASE WHEN proj > 0 THEN 1::BIGINT << pl ELSE 0 END)::BIGINT AS code
       |  FROM prj GROUP BY vec_id$g, bd),
       |vm AS (SELECT (n::DOUBLE * greatest(n::DOUBLE / pow(2::DOUBLE, p), 1.0)
       |    * 16.0 * (p + 1)) <= 200000000.0 AS mp FROM nr, pp),
       |prb AS (SELECT vec_id$g, bd, code FROM codes
       |  UNION ALL
       |  SELECT vec_id$g, bd, xor(code, 1::BIGINT << pl) AS code
       |  FROM codes CROSS JOIN pls CROSS JOIN vm WHERE vm.mp),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM prb x JOIN codes y
       |    ON x.bd = y.bd AND x.code = y.code AND x.vec_id < y.vec_id$gJoinXy),
       |vf AS (SELECT c.a, c.b, $cosAb AS cosine
       |  FROM cand c JOIN n0 a ON a.vec_id = c.a JOIN n0 b ON b.vec_id = c.b),
       |rpairs AS MATERIALIZED (
       |  SELECT a, b, cosine FROM px WHERE cosine >= $minCosine
       |  UNION ALL
       |  SELECT a, b, cosine FROM vf WHERE cosine >= $minCosine)""".stripMargin
  }

  lazy val dedupEmbeddingSql: String =
    "WITH " + cosineAdaptivePairsCtes("0.45", withGroup = false) +
      "\nSELECT a, b, cosine FROM rpairs ORDER BY a, b"

  /** C5b: incremental embedding dedup ([[Ann.cosineIncrement]]) — the
    * vec_id%10==0 batch probes an [[Ann.srpIndex]] built over the rest
    * (inline + localCheckpoint here, a persisted checkpoint in
    * production): cosine-thresholded pairs with ≥ 1 batch side. Closes
    * the incremental symmetry gap (C3b minhash, C85 winnow, now the
    * cosine family). The oracle reproduces the increment's actual
    * machinery — planes sized from the INDEX side's count, codes for all
    * vectors, multi-probe flips for the batch only, candidate join
    * against everyone, exact 6-dp verification — so it checks the SRP
    * probe route itself at every scale (the r13 route-aware stance), not
    * an exact-pairs proxy whose equality would hinge on recall. The `vm`
    * CTE mirrors the increment's 30M default candidate budget (operand
    * order identical to the engine's `volume(p+1) <= maxCandidates`):
    * the sf1 replica keeps multi-probe at a 4.4× margin, the 100x
    * replica degrades to single-probe at a 3.6× margin — route-exact on
    * both sides of the boundary.
    */
  def dedupEmbeddingInc(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    // the %10 split is a predicate footers cannot answer: ONE bounded
    // aggregation on first contact (cached by data fingerprint — bench
    // reps and repeat sweeps construct count-free), the total from the
    // footers, the index side by subtraction. Plane sizing must see the
    // EXACT index count (the oracle derives p from it), so no estimate.
    val total = Tables.rowCount(spark, dir, "embeddings")
    val nNew = Tables.cachedCount(spark, dir, "embeddings", "mod10new")(
      e.where(pmod(col("vec_id"), lit(10)) === 0).count())
    Ann.cosineIncrement(
      e.where(pmod(col("vec_id"), lit(10)) === 0),
      Ann.srpIndex(e.where(pmod(col("vec_id"), lit(10)) =!= 0),
        knownCount = total - nNew).staged,
      minCosine = 0.45,
      knownBatchCount = nNew, knownIndexCount = total - nNew)
  }

  lazy val dedupEmbeddingIncSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    vec_id % 10 = 0 AS is_new FROM embeddings),
       |n0 AS MATERIALIZED (SELECT vec_id, is_new, v,
       |    sqrt(list_sum([x*x for x in v])) AS nrm FROM e),
       |nr AS (SELECT count(*) AS n FROM n0 WHERE NOT is_new),
       |pp AS (SELECT least(20, greatest(4,
       |    ceil(log2(greatest(n, 1) / 32.0))))::BIGINT AS p FROM nr),
       |$srpSignCtes,
       |prj AS (SELECT x.vec_id, x.is_new, s.bd, s.pl,
       |    list_sum([pr[1]*pr[2] for pr in list_zip(x.v, s.sv)]) AS proj
       |  FROM n0 x CROSS JOIN sl s),
       |codes AS MATERIALIZED (SELECT vec_id, is_new, bd,
       |    sum(CASE WHEN proj > 0 THEN 1::BIGINT << pl ELSE 0 END)::BIGINT AS code
       |  FROM prj GROUP BY vec_id, is_new, bd),
       |vm AS (SELECT (greatest(nb.n, 1)::DOUBLE
       |    * greatest(na.n::DOUBLE / pow(2::DOUBLE, p), 1.0)
       |    * 16.0 * (p + 1)) <= 30000000.0 AS mp
       |  FROM (SELECT count(*) AS n FROM n0 WHERE is_new) nb,
       |       (SELECT count(*) AS n FROM n0) na, pp),
       |prb AS (SELECT vec_id, bd, code FROM codes WHERE is_new
       |  UNION ALL
       |  SELECT vec_id, bd, xor(code, 1::BIGINT << pl) AS code
       |  FROM codes CROSS JOIN pls CROSS JOIN vm WHERE is_new AND vm.mp),
       |cand AS (SELECT DISTINCT least(x.vec_id, y.vec_id) AS a,
       |    greatest(x.vec_id, y.vec_id) AS b
       |  FROM prb x JOIN codes y
       |    ON x.bd = y.bd AND x.code = y.code AND x.vec_id <> y.vec_id),
       |vf AS (SELECT c.a, c.b,
       |    round(CASE WHEN a.nrm*b.nrm > 0
       |      THEN list_sum([pr[1]*pr[2] for pr in list_zip(a.v, b.v)]) / (a.nrm*b.nrm)
       |      ELSE 0.0 END, 6) AS cosine
       |  FROM cand c JOIN n0 a ON a.vec_id = c.a JOIN n0 b ON b.vec_id = c.b)
       |SELECT a, b, cosine FROM vf WHERE cosine >= 0.45 ORDER BY a, b""".stripMargin

  /** C47: SemDeDup-style semantic dedup ([[Ann.semanticDedup]]) — duplicate
    * families from within-cluster cosine pairs (cluster = the embedding
    * table's label column), min-id survivor per family. The oracle builds
    * the within-label pairs through the ROUTE-AWARE adaptive twin
    * ([[cosineAdaptivePairsCtes]]: exact below the cutoff, group-folded
    * multi-probe SRP-LSH above — so it checks the engine's actual route
    * at the sf1 replica too) and closes them with the recursive-CTE
    * transitive closure (the dedup_clusters pattern).
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    Ann.semanticDedup(embs(spark, dir), minCosine = 0.45,
      knownCount = Tables.rowCount(spark, dir, "embeddings"))

  lazy val dedupSemanticSql: String =
    "WITH RECURSIVE\n" + cosineAdaptivePairsCtes("0.45", withGroup = true) +
      """,
        |pairs AS (SELECT a, b FROM rpairs),
        |ed AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM ed
        |  UNION
        |  SELECT r.src, ed.b FROM reach r JOIN ed ON r.dst = ed.a),
        |verts AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs)
        |SELECT v.id AS vec_id, least(v.id, min(r.dst)) AS component,
        |  v.id = least(v.id, min(r.dst)) AS keep
        |FROM verts v LEFT JOIN reach r ON r.src = v.id
        |GROUP BY v.id ORDER BY vec_id""".stripMargin

  // ---- C6: brute-force cosine top-k ---------------------------------------

  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Ann.bruteForceTopK(e.where(col("vec_id") < 20), e.where(col("vec_id") >= 20), k = 5)
      .withColumnRenamed("rank", "rnk")
  }

  val annTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) nrm FROM e),
      |s AS (SELECT q.vec_id qid, c.vec_id cid,
      |  round(CASE WHEN q.nrm*c.nrm > 0 THEN list_sum([pr[1]*pr[2] for pr in list_zip(q.v, c.v)]) / (q.nrm*c.nrm) ELSE 0.0 END, 6) cosine
      |  FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id >= 20),
      |r AS (SELECT qid, cid, cosine,
      |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) rnk FROM s)
      |SELECT qid, cid, cosine, rnk::INTEGER AS rnk FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** C95: kNN-majority label-noise detection ([[Ann.labelNoise]], the
    * Confident-Learning-lite pass) — audits the first 500 labeled
    * vectors against the full pool: each audited row's 5 cosine-nearest
    * OTHER vectors vote with their labels, and a majority disagreeing
    * with the row's own label flags probable annotation noise — the
    * supervised data-quality twin of the dedup family (mislabeled rows
    * poison fine-tuning sets the way near-dups poison pretraining
    * sets). Self-pairs are excluded in the join, so exact duplicates of
    * an audited row (the robust fixture plants one) vote without
    * perturbing the k count. Ranking ties on candidate id, the vote on
    * (count desc, label asc) — flag bit-exact cross-engine.
    */
  def labelNoise(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Ann.labelNoise(e.where(col("vec_id") < 500), e, k = 5)
  }

  val labelNoiseSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v, label FROM embeddings
      |  WHERE label IS NOT NULL),
      |n AS (SELECT vec_id, v, label, sqrt(list_sum([x*x for x in v])) nrm FROM e),
      |s AS (SELECT q.vec_id qid, q.label qlabel, c.vec_id cid, c.label clabel,
      |  round(CASE WHEN q.nrm*c.nrm > 0 THEN list_sum([pr[1]*pr[2] for pr in list_zip(q.v, c.v)]) / (q.nrm*c.nrm) ELSE 0.0 END, 6) cosine
      |  FROM n q JOIN n c ON q.vec_id < 500 AND c.vec_id <> q.vec_id),
      |r AS (SELECT qid, qlabel, clabel,
      |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) rnk FROM s),
      |v AS (SELECT qid, qlabel, clabel, count(*) cnt FROM r WHERE rnk <= 5 GROUP BY 1, 2, 3),
      |m AS (SELECT qid, qlabel, clabel, cnt,
      |  row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, clabel) vr FROM v)
      |SELECT qid AS vec_id, qlabel AS label, clabel AS maj_label,
      |  cnt AS n_maj, (clabel <> qlabel) AS flagged
      |FROM m WHERE vr = 1 ORDER BY vec_id""".stripMargin

  /** C118: cross-source near-duplicate audit — C2's pair set cut to
    * pairs whose documents live in DIFFERENT sources, aggregated per
    * source pair: which sources COPY FROM EACH OTHER (mirror sites,
    * syndication, scraped re-posts), the provenance read neither C46
    * (set diff of ids) nor C13 (profile similarity) gives — C13 says
    * two sources LOOK alike, this proves document-level duplication
    * with the verified-pair machinery. Per (source_a, source_b):
    * qualifying pair count, distinct documents involved, both sources'
    * total doc counts, and the involved-docs share of the combined
    * corpus (one quantized division). Pairs come from the SAME
    * oracle-checked C2 adaptive chain; the source tagging is two
    * id-keyed joins of the |pairs|-sized result against the
    * (doc_id, source) projection — negligible beside the pair search;
    * marginals ride a |sources|-row broadcast.
    */
  def dedupCrossSource(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = Dedup.ngramJaccardAdaptive(d, minJaccard = 0.5)
    val src = d.where(col("doc_id").isNotNull && col("source").isNotNull)
      .select(col("doc_id"), col("source"))
    // checkpointed: the pair-count and distinct-doc aggregations BOTH
    // consume the tagged pair set — unstaged, each re-runs the whole
    // adaptive pair search (the dedup_curve fix, same shape)
    val tagged = pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .where(col("sa") =!= col("sb"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("a"), col("b"))
      .staged
    val ag = tagged.groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
    val dd = tagged
      .select(col("source_a"), col("source_b"),
        explode(array(col("a"), col("b"))).as("d"))
      .groupBy("source_a", "source_b")
      .agg(countDistinct(col("d")).as("n_dup_docs"))
    val nd = src.groupBy("source").agg(count(lit(1)).as("nd"))
    ag.join(dd, Seq("source_a", "source_b"))
      .join(broadcast(nd.select(col("source").as("source_a"),
        col("nd").as("n_docs_a"))), "source_a")
      .join(broadcast(nd.select(col("source").as("source_b"),
        col("nd").as("n_docs_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("n_dup_docs"), col("n_docs_a"), col("n_docs_b"),
        (floor(col("n_dup_docs").cast("double")
          / (col("n_docs_a") + col("n_docs_b")) * lit(1000000) + lit(0.5))
          / lit(1e6)).as("dup_share"))
      .orderBy("source_a", "source_b")
  }

  val dedupCrossSourceSql: String =
    "WITH " + jaccardCoreSql + """,
      |pr AS (SELECT a, b FROM p WHERE jaccard >= 0.5),
      |src AS (SELECT doc_id, source FROM documents
      |  WHERE doc_id IS NOT NULL AND source IS NOT NULL),
      |tg AS (SELECT least(x.source, y.source) AS source_a,
      |    greatest(x.source, y.source) AS source_b, pr.a, pr.b
      |  FROM pr JOIN src x ON x.doc_id = pr.a
      |  JOIN src y ON y.doc_id = pr.b
      |  WHERE x.source <> y.source),
      |ag AS (SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
      |  FROM tg GROUP BY 1, 2),
      |dd AS (SELECT source_a, source_b, count(DISTINCT d)::BIGINT AS n_dup_docs
      |  FROM (SELECT source_a, source_b, a AS d FROM tg
      |    UNION ALL SELECT source_a, source_b, b FROM tg)
      |  GROUP BY 1, 2),
      |nd AS (SELECT source, count(*)::BIGINT AS n FROM src GROUP BY 1)
      |SELECT ag.source_a, ag.source_b, ag.n_pairs, dd.n_dup_docs,
      |  na.n AS n_docs_a, nb.n AS n_docs_b,
      |  floor(dd.n_dup_docs::DOUBLE / (na.n + nb.n) * 1000000 + 0.5) / 1e6
      |    AS dup_share
      |FROM ag JOIN dd USING (source_a, source_b)
      |  JOIN nd na ON na.source = ag.source_a
      |  JOIN nd nb ON nb.source = ag.source_b
      |ORDER BY 1, 2""".stripMargin

  /** C117: per-source boilerplate profile — the CCNet/WET-extraction
    * hygiene read: a word bigram appearing in at least HALF of a
    * source's documents (df·2 ≥ n_docs, sources with ≥ 4 docs) is
    * template text — navigation chrome, license footers, cookie
    * banners — not content; per document, the fraction of its distinct
    * bigrams that are template (`boiler_ratio`) and a flag at the exact
    * integer threshold n_boiler·5 ≥ n_shingles (ratio ≥ 0.2 with NO
    * float compare — a knife-edge-free flag). The C26-adjacent signal
    * C26 cannot see: Gopher flags judge a document alone; boilerplate is
    * only visible ACROSS a source. Shingles are C2's exact bigram
    * recipe, so the oracle's shingle space is already proven.
    *
    * Scale: the bigram arrays are staged ONCE (localCheckpoint — the r5
    * single-tokenise lesson) and both consumers read the staged rows;
    * df is a (source, shingle)-keyed count, the template set joins back
    * on the SAME key (co-partitioned, no second shuffle shape), per-doc
    * counts map-side combine; the |sources|-row doc-count table rides a
    * broadcast. Nothing all-pairs, nothing corpus² — boilerplate needs
    * only df, never pair comparison.
    */
  def textBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val staged = docs(spark, dir)
      .where(col("doc_id").isNotNull && col("source").isNotNull &&
        col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.ops.text.TextOps.bigrams(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
      .staged
    val ex = staged.select(col("source"), col("doc_id"),
      explode(col("sh")).as("g"))
    val nd = staged.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val boiler = ex.groupBy("source", "g").agg(count(lit(1)).as("df"))
      .join(broadcast(nd), "source")
      .where(col("df") * 2 >= col("n_docs") && col("n_docs") >= 4)
      .select(col("source"), col("g"))
    val perDoc = ex.join(boiler, Seq("source", "g"), "left_semi")
      .groupBy("source", "doc_id").agg(count(lit(1)).as("n_boiler"))
    staged
      .select(col("source"), col("doc_id"), size(col("sh")).cast("long")
        .as("n_shingles"))
      .join(perDoc, Seq("source", "doc_id"), "left")
      .select(col("source"), col("doc_id"), col("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        (floor(coalesce(col("n_boiler"), lit(0L)).cast("double")
          / col("n_shingles") * lit(1000000) + lit(0.5)) / lit(1e6))
          .as("boiler_ratio"),
        (coalesce(col("n_boiler"), lit(0L)) * 5 >= col("n_shingles"))
          .as("flagged"))
      .orderBy("source", "doc_id")
  }

  val textBoilerplateSql: String =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') w
      |  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
      |    AND text IS NOT NULL),
      |s0 AS (SELECT doc_id, source,
      |    list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) sh
      |  FROM t),
      |s AS MATERIALIZED (SELECT doc_id, source, sh FROM s0 WHERE len(sh) > 0),
      |ex AS MATERIALIZED (SELECT source, doc_id, unnest(sh) AS g FROM s),
      |nd AS (SELECT source, count(*)::BIGINT AS n_docs FROM s GROUP BY 1),
      |dfq AS (SELECT source, g, count(*)::BIGINT AS df FROM ex GROUP BY 1, 2),
      |bo AS (SELECT dfq.source, dfq.g FROM dfq JOIN nd USING (source)
      |  WHERE dfq.df * 2 >= nd.n_docs AND nd.n_docs >= 4),
      |pb AS (SELECT ex.source, ex.doc_id, count(*)::BIGINT AS n_boiler
      |  FROM ex JOIN bo ON bo.source = ex.source AND bo.g = ex.g
      |  GROUP BY 1, 2),
      |base AS (SELECT source, doc_id, len(sh)::BIGINT AS n_shingles FROM s)
      |SELECT base.source, base.doc_id, base.n_shingles,
      |  coalesce(pb.n_boiler, 0)::BIGINT AS n_boiler,
      |  floor(coalesce(pb.n_boiler, 0)::DOUBLE / base.n_shingles
      |    * 1000000 + 0.5) / 1e6 AS boiler_ratio,
      |  coalesce(pb.n_boiler, 0) * 5 >= base.n_shingles AS flagged
      |FROM base LEFT JOIN pb USING (source, doc_id)
      |ORDER BY source, doc_id""".stripMargin

  /** C116: calibration audit of the kNN self-classifier
    * ([[graft.ops.ann.Ann.labelNoise]] composed into a reliability
    * table) — C95 flags WHICH labels look wrong; this asks whether the
    * classifier's CONFIDENCE means anything: per vote-count bin
    * n_maj ∈ {1..5} (confidence = n_maj/5 — with k = 5 the confidence
    * support is exactly these five values, so binning by n_maj IS the
    * reliability diagram with no arbitrary bin edges), the query count,
    * how often the majority label matched the given label (acc), the
    * |acc − conf| gap, and the expected calibration error
    * ECE = Σ_b (n_b/N)·|acc_b − conf_b| — the one number that says
    * "trust the vote margin" or "recalibrate before using it to triage
    * C95's flags". Every ratio is a single floor(v·1e6+0.5)-quantized
    * division of EXACT integers (ECE multiplied through by 5N — no
    * per-bin float accumulates). Scale: rides the C95 chain (broadcast
    * audit × one corpus scan, TopKPerKey-bounded rank); the bin table
    * is ≤ k rows, the total a 1-row broadcast.
    */
  def labelCalibration(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val ln = Ann.labelNoise(e.where(col("vec_id") < 500), e, k = 5)
    val bins = ln.groupBy("n_maj").agg(count(lit(1)).as("n_queries"),
      sum(when(col("maj_label") === col("label"), 1L).otherwise(0L))
        .as("n_correct"))
    val dev = abs(lit(5) * col("n_correct") - col("n_queries") * col("n_maj"))
    val tot = bins.agg(sum("n_queries").as("__nn"), sum(dev).as("__dev"))
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000000) + lit(0.5)) / lit(1e6)
    bins.crossJoin(broadcast(tot))
      .select(col("n_maj"), col("n_queries"), col("n_correct"),
        q6(col("n_maj").cast("double") / 5).as("conf"),
        q6(col("n_correct").cast("double") / col("n_queries")).as("acc"),
        q6(dev.cast("double") / (lit(5) * col("n_queries"))).as("gap"),
        q6(col("__dev").cast("double") / (lit(5) * col("__nn"))).as("ece"))
      .orderBy("n_maj")
  }

  val labelCalibrationSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v, label FROM embeddings
      |  WHERE label IS NOT NULL),
      |n AS (SELECT vec_id, v, label, sqrt(list_sum([x*x for x in v])) nrm FROM e),
      |s AS (SELECT q.vec_id qid, q.label qlabel, c.vec_id cid, c.label clabel,
      |  round(CASE WHEN q.nrm*c.nrm > 0 THEN list_sum([pr[1]*pr[2] for pr in list_zip(q.v, c.v)]) / (q.nrm*c.nrm) ELSE 0.0 END, 6) cosine
      |  FROM n q JOIN n c ON q.vec_id < 500 AND c.vec_id <> q.vec_id),
      |r AS (SELECT qid, qlabel, clabel,
      |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) rnk FROM s),
      |v AS (SELECT qid, qlabel, clabel, count(*) cnt FROM r WHERE rnk <= 5 GROUP BY 1, 2, 3),
      |m AS (SELECT qid, qlabel, clabel, cnt,
      |  row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, clabel) vr FROM v),
      |ln AS (SELECT qid, qlabel, clabel, cnt FROM m WHERE vr = 1),
      |b AS (SELECT cnt AS n_maj, count(*)::BIGINT AS n_queries,
      |    sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)::BIGINT AS n_correct
      |  FROM ln GROUP BY 1),
      |t AS (SELECT sum(n_queries)::BIGINT AS nn,
      |    sum(abs(5*n_correct - n_queries*n_maj))::BIGINT AS dev FROM b)
      |SELECT n_maj, n_queries, n_correct,
      |  floor(n_maj::DOUBLE / 5 * 1000000 + 0.5) / 1e6 AS conf,
      |  floor(n_correct::DOUBLE / n_queries * 1000000 + 0.5) / 1e6 AS acc,
      |  floor(abs(5*n_correct - n_queries*n_maj)::DOUBLE / (5*n_queries)
      |    * 1000000 + 0.5) / 1e6 AS gap,
      |  floor(t.dev::DOUBLE / (5*t.nn) * 1000000 + 0.5) / 1e6 AS ece
      |FROM b, t ORDER BY n_maj""".stripMargin

  /** C114: hard-negative mining ([[graft.ops.ann.Ann.hardNegatives]]) —
    * per audit vector the top-5 nearest corpus vectors with a DIFFERENT
    * label: the near-boundary pairs a contrastive/metric trainer wants
    * next (random negatives are trivially separable). The label_noise
    * broadcast×scan shape with the cross-label filter below the
    * TopKPerKey-bounded rank; k rows per query out.
    */
  def sampleHardneg(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Ann.hardNegatives(e.where(col("vec_id") < 20), e, k = 5)
  }

  val sampleHardnegSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v, label FROM embeddings
      |  WHERE label IS NOT NULL),
      |n AS (SELECT vec_id, v, label, sqrt(list_sum([x*x for x in v])) nrm FROM e),
      |s AS (SELECT q.vec_id qid, q.label qlabel, c.vec_id cid, c.label clabel,
      |  round(CASE WHEN q.nrm*c.nrm > 0 THEN list_sum([pr[1]*pr[2] for pr in list_zip(q.v, c.v)]) / (q.nrm*c.nrm) ELSE 0.0 END, 6) cosine
      |  FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
      |    AND c.label <> q.label),
      |r AS (SELECT qid, qlabel, cid, clabel, cosine,
      |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) rnk FROM s)
      |SELECT qid AS vec_id, qlabel AS label, cid AS neg_id, clabel AS neg_label,
      |  cosine, rnk::INTEGER AS rank
      |FROM r WHERE rnk <= 5 ORDER BY vec_id, rank""".stripMargin

  /** C97: ANN recall report — recall@5 of the IVF path (C7b) against the
    * brute-force ground truth (C6), per query vector: THE tuning
    * telemetry of the ANN family (nCells/nProbe/planes/bands choices are
    * meaningless without a measured recall beside the speedup, and a
    * recall regression after an index rebuild is the alarm a serving
    * pipeline pages on). Composes the two existing oracle-checked
    * queries and joins their top-5 sets; recall = hits/5 (exact fifths —
    * hash-stable doubles). Queries with zero hits survive via the
    * left join (a recall report that silently drops its failures is
    * not a report). Scale: both inputs are already k-bounded per query
    * (TopKPerKey heaps), the join is |queries|·k rows — report cost is
    * negligible beside the searches it audits.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val ivf = annIvf(spark, dir).select(col("qid"), col("cid"))
    val bf = annTopK(spark, dir).select(col("qid"), col("cid"))
    val hits = bf.join(ivf, Seq("qid", "cid")).groupBy("qid")
      .agg(count(lit(1)).as("n_hits"))
    bf.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0).as("recall"))
      .orderBy("qid")
  }

  // lazy: composed SQL vals must not race object initialisation order
  lazy val annRecallSql: String =
    s"""WITH ivf AS (SELECT qid, cid FROM ($annIvfSql) t),
       |bf AS (SELECT qid, cid FROM ($annTopKSql) t),
       |h AS (SELECT bf.qid, count(*) AS n_hits FROM bf JOIN ivf USING (qid, cid) GROUP BY bf.qid)
       |SELECT q.qid, coalesce(h.n_hits, 0) AS n_hits,
       |  coalesce(h.n_hits, 0)::DOUBLE / 5.0 AS recall
       |FROM (SELECT DISTINCT qid FROM bf) q LEFT JOIN h USING (qid)
       |ORDER BY qid""".stripMargin

  /** C109: recall-vs-nProbe curve ([[Ann.ivfProbeCurve]]) — the C97
    * recall report swept across probe depths {1, 2, 4, 8} from ONE
    * scoring pass (the C104 one-pass-sweep stance applied to ANN): "what
    * does each extra probe buy" is THE chart that sets nProbe, turning
    * C97's single audited point into the whole trade-off — a cliff
    * between two depths means the quantizer splits true neighbourhoods
    * there; flat means probes are wasted. Recall is measured against the
    * C6 brute-force truth; the p = 4 point is exactly C97's
    * configuration, so the two reports cross-check (spec-pinned). Probe
    * spine left-joined so a zero-hit depth still appears.
    */
  def annProbeCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = embs(spark, dir)
    val queries = e.where(col("vec_id") < 20)
    val corpus = e.where(col("vec_id") >= 20)
    val (cells, cents) = Ann.ivfBuild(corpus)
    val curve = Ann.ivfProbeCurve(cells, cents, queries, k = 5,
      probes = Seq(1, 2, 4, 8))
    val bf = annTopK(spark, dir).select(col("qid"), col("cid"))
    val hits = bf.join(curve.select("n_probe", "qid", "cid"), Seq("qid", "cid"))
      .groupBy("n_probe").agg(count(lit(1)).as("n_hits"))
    val nq = bf.agg(countDistinct("qid").as("n_queries"))
    Seq(1, 2, 4, 8).toDF("n_probe")
      .join(hits, Seq("n_probe"), "left").crossJoin(broadcast(nq))
      .select(col("n_probe"), col("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double")
          / (col("n_queries") * 5)).as("recall"))
      .orderBy("n_probe")
  }

  lazy val annProbeCurveSql: String = {
    import IvfSql._
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v, ${nrm("v")} AS nrm FROM e WHERE vec_id >= 20),
       |q AS (SELECT vec_id AS qid, v, ${nrm("v")} AS nrm FROM e WHERE vec_id < 20),
       |${seeds(16)},
       |${lloyd(2)},
       |${assignCte("af", "cent2")},
       |pr AS (SELECT qid, qv, qn, cell, rn AS prank FROM (
       |  SELECT q.qid, q.v AS qv, q.nrm AS qn, ct.cell,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY round(${cos("q.v", "ct.centroid", "q.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
       |  FROM q CROSS JOIN cent2 ct) WHERE rn <= 8),
       |sc AS (SELECT pr.qid, a.cid, pr.prank,
       |    round(${cos("pr.qv", "a.v", "pr.qn", "a.nrm")}, 6) AS cosine
       |  FROM pr JOIN af a USING (cell)),
       |pp AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
       |r AS (SELECT pp.n_probe, sc.qid, sc.cid,
       |    row_number() OVER (PARTITION BY pp.n_probe, sc.qid
       |      ORDER BY sc.cosine DESC, sc.cid) AS rnk
       |  FROM sc JOIN pp ON sc.prank <= pp.n_probe),
       |top AS (SELECT n_probe, qid, cid FROM r WHERE rnk <= 5),
       |bf AS (SELECT qid, cid FROM ($annTopKSql) t),
       |nq AS (SELECT count(DISTINCT qid)::BIGINT AS n_queries FROM bf),
       |h AS (SELECT n_probe, count(*)::BIGINT AS n_hits
       |  FROM top JOIN bf USING (qid, cid) GROUP BY 1)
       |SELECT pp.n_probe::INTEGER AS n_probe, nq.n_queries,
       |  coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       |  coalesce(h.n_hits, 0)::DOUBLE / (nq.n_queries * 5) AS recall
       |FROM pp LEFT JOIN h USING (n_probe), nq ORDER BY n_probe""".stripMargin
  }

  /** C100: truncated-dimension recall (the Matryoshka evaluation) —
    * recall@5 of brute-force search over the FIRST HALF of each
    * embedding's dimensions against full-dimension ground truth, per
    * query vector. The question behind MRL-style embeddings and every
    * dimension-reduction decision ("can we serve at half the dims?") is
    * exactly this number — measured, not assumed; pairs with C97, which
    * audits the INDEX at full dims while this audits the REPRESENTATION
    * at lower dims. Same engine shape as C97: two TopKPerKey-bounded
    * searches joined on the top-5 sets, zero-hit queries kept by the
    * left join.
    */
  def embedTruncRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val trunc = e.select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding"))
    val full = Ann.bruteForceTopK(e.where(col("vec_id") < 20),
      e.where(col("vec_id") >= 20), k = 5).select(col("qid"), col("cid"))
    val half = Ann.bruteForceTopK(trunc.where(col("vec_id") < 20),
      trunc.where(col("vec_id") >= 20), k = 5).select(col("qid"), col("cid"))
    val hits = full.join(half, Seq("qid", "cid")).groupBy("qid")
      .agg(count(lit(1)).as("n_hits"))
    full.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0).as("recall"))
      .orderBy("qid")
  }

  val embedTruncRecallSql: String = {
    def chain(p: String, vExpr: String) =
      s"""${p}n AS (SELECT vec_id, $vExpr AS v FROM e),
         |${p}m AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) nrm FROM ${p}n),
         |${p}s AS (SELECT q.vec_id qid, c.vec_id cid,
         |  round(CASE WHEN q.nrm*c.nrm > 0 THEN list_sum([pr[1]*pr[2] for pr in list_zip(q.v, c.v)]) / (q.nrm*c.nrm) ELSE 0.0 END, 6) cosine
         |  FROM ${p}m q JOIN ${p}m c ON q.vec_id < 20 AND c.vec_id >= 20),
         |${p}r AS (SELECT qid, cid FROM (SELECT qid, cid,
         |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) rnk FROM ${p}s)
         |  WHERE rnk <= 5)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v0 FROM embeddings),
       |${chain("f", "v0")},
       |${chain("t", "v0[1:8]")},
       |h AS (SELECT fr.qid, count(*) AS n_hits
       |  FROM fr JOIN tr USING (qid, cid) GROUP BY fr.qid)
       |SELECT q.qid, coalesce(h.n_hits, 0) AS n_hits,
       |  coalesce(h.n_hits, 0)::DOUBLE / 5.0 AS recall
       |FROM (SELECT DISTINCT qid FROM fr) q LEFT JOIN h USING (qid)
       |ORDER BY qid""".stripMargin
  }

  /** C60: distribution-drift monitor — the exact two-sample
    * Kolmogorov–Smirnov distance between two sources' token-length
    * distributions (max |cdf_a − cdf_b| over the integer support). The
    * corpus-mix alarm completing the diff family: [[corpusDiff]] sees
    * WHICH documents changed, this sees whether a source's SHAPE drifted
    * (a scraper regression shifts the length profile long before content
    * hashes notice).
    *
    * Exactness: the statistic is computed in INTEGER arithmetic —
    * max |ca·nb − cb·na| over cumulative counts, divided once at the end
    * — so it is bit-deterministic in both engines (no per-length double
    * rounding to drift). Empty sides yield NULL (KS undefined), never a
    * division error.
    *
    * Scale: one keyed (length) count with conditional branches, then a
    * cumulative window over the DISTINCT-length table — support-sized
    * (hundreds of rows for token lengths), not corpus-sized; totals ride
    * a 1-row broadcast cross join.
    */
  def corpusDriftKs(spark: SparkSession, dir: String): DataFrame = {
    // a NULL text has no length — excluded rather than invented as a NULL
    // group whose window position differs across engines (r15 NULL stance)
    val d = docs(spark, dir)
      .where(col("source").isin("src0", "src1") && col("text").isNotNull)
      .select(col("source"), size(TextOps.tokens(col("text"))).cast("long").as("len"))
    val c = d.groupBy("len").agg(
      count(when(col("source") === "src0", 1)).as("a"),
      count(when(col("source") === "src1", 1)).as("b"))
    // the KS tail is the shared kernel
    graft.ops.stats.Stats.ksFromJoint(c, "len")
  }

  val corpusDriftKsSql: String =
    """WITH d AS (SELECT source, len(string_split(text, ' '))::BIGINT AS len
      |    FROM documents WHERE source IN ('src0', 'src1') AND text IS NOT NULL),
      |c AS (SELECT len, count(*) FILTER (source = 'src0') AS a,
      |        count(*) FILTER (source = 'src1') AS b FROM d GROUP BY len),
      |cum AS (SELECT len, sum(a) OVER w::BIGINT AS ca, sum(b) OVER w::BIGINT AS cb
      |        FROM c WINDOW w AS (ORDER BY len ROWS UNBOUNDED PRECEDING)),
      |t AS (SELECT sum(a)::BIGINT AS na, sum(b)::BIGINT AS nb FROM c)
      |SELECT na, nb,
      |  CASE WHEN na * nb > 0
      |       THEN round(max(abs(ca * nb - cb * na))::DOUBLE / (na * nb), 6) END AS ks
      |FROM cum CROSS JOIN t GROUP BY na, nb""".stripMargin

  /** C71: content-drift monitor — Jensen–Shannon divergence between two
    * sources' unigram TOKEN distributions, the content-shape complement
    * to [[corpusDriftKs]]'s length-shape test (a topic/template shift
    * moves JS while lengths — and KS — stay put). JS is bounded, defined
    * on disjoint supports (unlike KL), and symmetric: exactly the
    * mixture-drift alarm.
    *
    * Determinism: per-token probabilities come from exact integer counts,
    * each token's term is ONE double expression evaluated identically in
    * both engines, and the vocab-sized sum routes through DECIMAL(27,10)
    * casts (associative — partition/engine order cannot drift the sum);
    * js_norm divides by a shared hardcoded ln 2 literal so no libm
    * difference can leak in. Either side empty → NULL (divergence from
    * nothing is undefined), never a division error.
    *
    * Scale: one keyed token count with conditional branches (map-side
    * combined, |vocab| keys), totals as a 1-row broadcast, one global
    * decimal-sum aggregate. Nothing corpus-sized past the first agg.
    */
  def corpusJs(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).where(col("source").isin("src0", "src1"))
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
    val c = toks.groupBy("tok").agg(
      count(when(col("source") === "src0", 1)).as("a"),
      count(when(col("source") === "src1", 1)).as("b"))
    // the JS tail is the shared kernel
    graft.ops.stats.Stats.jsFromJoint(c)
  }

  val corpusJsSql: String =
    """WITH d AS (SELECT source, unnest(string_split(text, ' ')) AS tok
      |    FROM documents WHERE source IN ('src0', 'src1')),
      |c AS (SELECT tok, count(*) FILTER (source = 'src0') AS a,
      |        count(*) FILTER (source = 'src1') AS b FROM d GROUP BY tok),
      |t AS (SELECT sum(a)::BIGINT AS na, sum(b)::BIGINT AS nb FROM c),
      |s AS (SELECT na, nb,
      |    sum(CAST(CASE WHEN a > 0 THEN (a::DOUBLE/na) *
      |        ln((a::DOUBLE/na) / (((a::DOUBLE/na) + (b::DOUBLE/nb)) / 2))
      |      ELSE 0.0 END AS DECIMAL(27,10))) AS sp,
      |    sum(CAST(CASE WHEN b > 0 THEN (b::DOUBLE/nb) *
      |        ln((b::DOUBLE/nb) / (((a::DOUBLE/na) + (b::DOUBLE/nb)) / 2))
      |      ELSE 0.0 END AS DECIMAL(27,10))) AS sq
      |  FROM c CROSS JOIN t GROUP BY na, nb)
      |SELECT t.na, t.nb,
      |  CASE WHEN t.na * t.nb > 0 THEN round((sp + sq)::DOUBLE * 0.5, 6) END AS js_nats,
      |  CASE WHEN t.na * t.nb > 0
      |    THEN round(round((sp + sq)::DOUBLE * 0.5, 6) / 0.6931471805599453, 6)
      |  END AS js_norm
      |FROM t LEFT JOIN s ON s.na = t.na AND s.nb = t.nb""".stripMargin

  /** C59: edit-distance near-dup pairs on the normalised 32-char text key
    * (see [[Dedup.editDistancePairs]]: PartEnum pigeonhole candidates —
    * equi-join on intact chunks with position/length filters, exact
    * recall, never all-pairs — then exact levenshtein verification). The
    * typo-level dedup family token-set Jaccard cannot see.
    *
    * The key is drawn from the text's ASCII SUBSEQUENCE (non-ASCII
    * codepoints stripped before the 32-char cut): Spark's levenshtein
    * counts UTF-16 units while DuckDB's counts BYTES, so the two engines
    * disagree on any multi-byte character (the robust fixture's NFC/NFD
    * 'café' twins measure 2 vs 3) — stripping, rather than substituting a
    * marker, also survives surrogate pairs (one '?' per codepoint vs per
    * UTF-16 unit would diverge again). Pure-ASCII corpora are bit-
    * unaffected; mixed-script pipelines should compose `text_normalize`
    * (C82) upstream for principled Unicode folding before typo dedup.
    */
  def dedupEdit(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(
      docs(spark, dir).withColumn("text",
        regexp_replace(col("text"), "[^\\x00-\\x7F]", "")),
      maxDist = 2, keyLen = 32)

  /** The oracle now mirrors the engine's PartEnum pigeonhole: a 32-char
    * key splits into 3 chunks (11/11/10); ≤ 2 edits leave ≥ 1 chunk
    * intact, displaced ≤ 2 — so candidates = chunk equi-join against the
    * partner's ±2-shifted windows (exact recall by pigeonhole), verified
    * with real levenshtein. Short keys (< 32 chars: degenerate fixtures
    * only) fall back to the length-±2 brute arm, whose population is the
    * handful of sub-32-char documents. The old all-pairs levenshtein was
    * n²/2 distance calls and timed the sf1 replica out.
    */
  val dedupEditSql: String =
    """WITH k AS MATERIALIZED (SELECT doc_id AS id,
      |    lower(substr(regexp_replace(text, '[^\x00-\x7F]', '', 'g'), 1, 32)) AS kk
      |  FROM documents
      |  WHERE length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) > 0),
      |k32 AS MATERIALIZED (SELECT id, kk FROM k WHERE length(kk) = 32),
      |ksh AS (SELECT id, kk FROM k WHERE length(kk) < 32),
      |ach AS (SELECT id, 1 AS cid, substr(kk, 1, 11) AS c FROM k32 UNION ALL
      |        SELECT id, 2, substr(kk, 12, 11) FROM k32 UNION ALL
      |        SELECT id, 3, substr(kk, 23, 10) FROM k32),
      |bwin AS (SELECT DISTINCT id, cid, c FROM (
      |  SELECT id, w.cid, substr(kk, (w.st + dd.d)::INTEGER, w.ln::INTEGER) AS c
      |  FROM k32,
      |    (VALUES (1, 1, 11), (2, 12, 11), (3, 23, 10)) w(cid, st, ln),
      |    (VALUES (-2), (-1), (0), (1), (2)) dd(d)
      |  WHERE w.st + dd.d >= 1)
      |  WHERE length(c) = CASE cid WHEN 3 THEN 10 ELSE 11 END),
      |cand32 AS (SELECT DISTINCT least(a.id, b.id) AS a, greatest(a.id, b.id) AS b
      |  FROM ach a JOIN bwin b ON a.cid = b.cid AND a.c = b.c AND a.id <> b.id),
      |candsh AS (SELECT DISTINCT least(s.id, o.id) AS a, greatest(s.id, o.id) AS b
      |  FROM ksh s JOIN k o ON s.id <> o.id
      |    AND abs(length(s.kk) - length(o.kk)) <= 2),
      |cand AS (SELECT a, b FROM cand32 UNION SELECT a, b FROM candsh),
      |v AS (SELECT cand.a, cand.b, levenshtein(ka.kk, kb.kk)::BIGINT AS dist
      |  FROM cand JOIN k ka ON ka.id = cand.a JOIN k kb ON kb.id = cand.b)
      |SELECT a, b, dist FROM v WHERE dist <= 2 ORDER BY a, b""".stripMargin

  /** C57: embedding-quality telemetry — per-label L2-norm distribution
    * (count, zero-vector count, min/max/mean). The ingest health check an
    * embedding pipeline runs before ANN/dedup trusts the vectors: zero
    * vectors poison cosine routes, collapsed norms flag a broken encoder.
    * Per-vector norms are deterministic (the codegen dot's left-to-right
    * double accumulation matches the oracle's sequential list_sum), then
    * 6-dp-rounded BEFORE aggregating; the mean goes through an exact
    * decimal sum ÷ once (the money-aggregate rule), so every output is
    * partitioning-invariant. One narrow scan + one keyed aggregate.
    */
  def embedNormStats(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    embs(spark, dir)
      .select(col("label"), round(Ann.norm(Ann.vec(col("embedding"))), 6).as("l2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        count(when(col("l2") === 0, 1)).as("n_zero"),
        min("l2").as("min_l2"), max("l2").as("max_l2"),
        round((sum(col("l2").cast("decimal(27,10)")).cast("double")
          / count(lit(1))), 6).as("mean_l2"))
      .orderBy("label")
  }

  val embedNormStatsSql: String =
    """WITH n AS (SELECT label,
      |    round(sqrt(list_sum([x*x for x in embedding::DOUBLE[]])), 6) AS l2
      |  FROM embeddings)
      |SELECT label, count(*) AS n_vecs,
      |  count(*) FILTER (l2 = 0) AS n_zero,
      |  min(l2) AS min_l2, max(l2) AS max_l2,
      |  round(sum(l2::DECIMAL(27,10))::DOUBLE / count(*), 6) AS mean_l2
      |FROM n GROUP BY label ORDER BY label""".stripMargin

  /** C68: per-DIMENSION embedding health — mean/std/min/max of every
    * coordinate across the corpus, the drift profile C57's norm stats
    * can't see (a dead dimension, a coordinate whose scale exploded after
    * an encoder re-train, a clipped channel — all invisible in the norm,
    * all obvious here; comparing two snapshots' rows is the standard
    * embedding-space drift check). One narrow posexplode (×dim rows, no
    * text/ids carried) into one keyed map-combined aggregate on the
    * |dim|-sized key space; means and second moments via the established
    * DECIMAL(27,10) sums so results are partition-order-proof; std is a
    * closed form from the exact moments, term-identical in the oracle.
    */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val mean = col("sx").cast("double") / col("n")
    embs(spark, dir)
      .select(posexplode(graft.ops.ann.Ann.vec(col("embedding"))).as(Seq("pos", "x")))
      .groupBy((col("pos") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(27,10)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(27,10)")).as("sxx"),
        min("x").as("mn"), max("x").as("mx"))
      .select(col("dim"), col("n"),
        round(mean, 6).as("mean"),
        round(sqrt(greatest(col("sxx").cast("double") / col("n") - mean * mean,
          lit(0.0))), 6).as("std"),
        round(col("mn"), 6).as("min_x"), round(col("mx"), 6).as("max_x"))
      .orderBy("dim")
  }

  val embedDimStatsSql: String =
    """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (SELECT unnest(v) AS x, unnest(range(1, len(v)+1)) AS dim FROM e),
      |s AS (SELECT dim, count(*) AS n, sum(CAST(x AS DECIMAL(27,10))) AS sx,
      |    sum(CAST(x*x AS DECIMAL(27,10))) AS sxx, min(x) AS mn, max(x) AS mx
      |  FROM p GROUP BY dim)
      |SELECT dim, n, round(sx::DOUBLE/n, 6) AS mean,
      |  round(sqrt(greatest(sxx::DOUBLE/n - (sx::DOUBLE/n)*(sx::DOUBLE/n), 0)), 6) AS std,
      |  round(mn, 6) AS min_x, round(mx, 6) AS max_x
      |FROM s ORDER BY dim""".stripMargin

  /** C69: top principal component of the embedding cloud
    * ([[graft.ops.ann.Ann.topPrincipalComponent]], 4 deterministic power
    * iterations) — the dominant drift axis and its variance share, the
    * PCA summary that catches an encoder regression (direction flip,
    * exploding share) before downstream ANN quality degrades. Every
    * engine-visible number is an exact decimal sum or a 6-dp round, so
    * the oracle unrolls all four iterations as CTEs (the ann_ivf
    * precedent): per-vector centered dots as decimal sums, per-dim
    * images, exact decimal norms, sign fixed at the largest-|loading|
    * component.
    */
  def embedTopPc(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ann.Ann.topPrincipalComponent(embs(spark, dir))

  /** The C69 power-iteration CTE chain (μ/center/4 iterates through v4) —
    * shared verbatim by [[embedTopPcSql]] and [[embedWhitenSql]] so the
    * two oracles can never drift from the one [[Ann.fitTopPc]] fit.
    */
  /** [[topPcCteChain]] over an arbitrary `(vec_id, v DOUBLE[])` source
    * expression — lets C101 run the identical fit over the DEFLATED
    * cloud (the C94 output) instead of the raw table.
    */
  private def topPcCteChainFrom(src: String): String = {
    val iters = 4
    val head =
      s"""WITH e AS MATERIALIZED (SELECT vec_id, v FROM $src),
        |n AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM e),
        |p AS MATERIALIZED (SELECT vec_id, unnest(v) AS x, unnest(range(1, len(v)+1)) AS dim FROM e),
        |mu AS MATERIALIZED (SELECT dim, round(sum(CAST(x AS DECIMAL(27,10)))::DOUBLE / (SELECT n FROM n), 6) AS m
        |  FROM p GROUP BY dim),
        |cv AS MATERIALIZED (SELECT vec_id, p.dim, x - m AS cx FROM p JOIN mu ON mu.dim = p.dim),
        |v0 AS MATERIALIZED (SELECT dim, round(1.0/sqrt((SELECT count(*)::DOUBLE FROM mu)), 6) AS w FROM mu),""".stripMargin
    val its = (1 to iters).map { t =>
      val pv = s"v${t - 1}"
      // loading rounds stage 12 dp -> 6 dp (see fitTopPc: deflated inputs
      // park loadings exactly on 6-dp half boundaries)
      val ld = s"round(CAST(wr / sqrt((SELECT n2 FROM n$t)::DOUBLE) AS DECIMAL(27,12)), 6)::DOUBLE"
      // the decimal sum rounds IN DECIMAL before the double cast: a
      // deflated input's 1e-10-lattice sums land exactly on 6-dp ties,
      // where Spark's round (shortest-decimal) goes up but a
      // double-space round sees the binary value just under the tie
      s"""s$t AS MATERIALIZED (SELECT vec_id, round(sum(CAST(cx * w AS DECIMAL(27,10))), 6)::DOUBLE AS s
         |  FROM cv JOIN $pv ON $pv.dim = cv.dim GROUP BY vec_id),
         |w$t AS MATERIALIZED (SELECT cv.dim, sum(CAST(cx * s AS DECIMAL(27,10)))::DOUBLE AS wr
         |  FROM cv JOIN s$t USING (vec_id) GROUP BY cv.dim),
         |n$t AS MATERIALIZED (SELECT sum(CAST(wr * wr AS DECIMAL(27,10))) AS n2 FROM w$t),
         |g$t AS MATERIALIZED (SELECT CASE WHEN $ld < 0
         |      THEN -1.0 ELSE 1.0 END AS sg
         |  FROM w$t WHERE (SELECT n2 FROM n$t) <> 0
         |  ORDER BY abs($ld) DESC, dim LIMIT 1),
         |v$t AS MATERIALIZED (SELECT w$t.dim,
         |    CASE WHEN (SELECT n2 FROM n$t) = 0 THEN $pv.w
         |      ELSE (SELECT sg FROM g$t) * $ld
         |    END AS w
         |  FROM w$t JOIN $pv ON $pv.dim = w$t.dim),""".stripMargin
    }.mkString("\n")
    s"$head\n$its"
  }

  private lazy val topPcCteChain: String = topPcCteChainFrom(
    "(SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) esrc")

  /** The tail shared by [[embedTopPcSql]] and [[embedSecondPcSql]] —
    * final projection, eigenvalue, total variance, var_share.
    */
  private val topPcTailSql: String =
    """sf AS MATERIALIZED (SELECT vec_id, round(sum(CAST(cx * w AS DECIMAL(27,10)))::DOUBLE, 6) AS s
      |  FROM cv JOIN v4 ON v4.dim = cv.dim GROUP BY vec_id),
      |lam AS MATERIALIZED (SELECT round(sum(CAST(s * s AS DECIMAL(27,10)))::DOUBLE / (SELECT n FROM n), 6) AS ev FROM sf),
      |tv AS MATERIALIZED (SELECT round(sum(CAST(cx * cx AS DECIMAL(27,10)))::DOUBLE / (SELECT n FROM n), 6) AS t FROM cv)
      |SELECT dim::BIGINT AS dim, w AS loading, (SELECT ev FROM lam) AS eigenvalue,
      |  CASE WHEN (SELECT t FROM tv) = 0 THEN 0.0
      |    ELSE round((SELECT ev FROM lam) / (SELECT t FROM tv), 6) END AS var_share
      |FROM v4 ORDER BY dim""".stripMargin

  lazy val embedTopPcSql: String = s"$topPcCteChain\n$topPcTailSql"

  /** C101: the SECOND principal component via deflation — the C69 fit
    * re-run over the C94 all-but-the-top output (mean and PC1 both
    * stripped), so its top direction IS PC2 of the original cloud, with
    * eigenvalue and var_share measured against the DEFLATED variance.
    * Completes the spectrum telemetry the two parents begin: C69 says
    * how anisotropic the cloud is, this says whether ONE direction
    * explained it or a second one still dominates (the decision between
    * removing 1 vs k components in the C94 preprocessor, and the
    * rank-sizing signal for C41/C62 projections). Pure composition:
    * engine = `topPrincipalComponent(allButTop(e))`, oracle = the SAME
    * parameterized CTE chain over the nested C94 oracle — neither side
    * has any new arithmetic to drift.
    */
  def embedSecondPc(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint the deflated cloud: the second fit opens with a count,
    // a mean pass and a centering pass, and without the cut each of the
    // three would re-execute the ENTIRE allButTop chain (its own
    // 4-iteration fit included) from parquet
    val whitened = Ann.allButTop(embs(spark, dir), sorted = false)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("wx")))),
        s => s.getField("wx")).as("embedding"))
      .staged
    Ann.topPrincipalComponent(whitened)
  }

  lazy val embedSecondPcSql: String =
    s"${topPcCteChainFrom(
      s"(SELECT vec_id, list(wx ORDER BY pos) AS v FROM ($embedWhitenSql) wsrc GROUP BY vec_id) w2src")}\n$topPcTailSql"

  /** C94: "all-but-the-top" embedding post-processing
    * ([[Ann.allButTop]], Mu & Viswanath 2018) — subtract the corpus mean,
    * remove the projection on the C69 top principal component: the
    * anisotropy correction that sharpens cosine similarity BEFORE the
    * ANN/dedup family consumes the vectors (a preprocessor, not a
    * statistic — its output is itself an embedding column). The oracle
    * rides the identical power-iteration CTE chain as embed_top_pc
    * (shared builder, so the two can never drift), then projects and
    * subtracts per coordinate: s = the 6-dp decimal-summed centered dot,
    * wx = round(cx − s·w, 6) — every step order-free per element.
    */
  def embedWhiten(spark: SparkSession, dir: String): DataFrame =
    Ann.allButTop(embs(spark, dir))

  val embedWhitenSql: String =
    s"""$topPcCteChain
       |sf AS MATERIALIZED (SELECT vec_id, round(sum(CAST(cx * w AS DECIMAL(27,10)))::DOUBLE, 6) AS s
       |  FROM cv JOIN v4 ON v4.dim = cv.dim GROUP BY vec_id)
       |SELECT cv.vec_id, (cv.dim - 1)::INTEGER AS pos,
       |  round(cv.cx - sf.s * v4.w, 6) + 0.0 AS wx
       |FROM cv JOIN v4 ON v4.dim = cv.dim JOIN sf ON sf.vec_id = cv.vec_id
       |ORDER BY cv.vec_id, pos""".stripMargin

  /** C75: per-vector embedding outliers — max |z| over coordinates
    * against the C68 per-dimension moments: a vector far outside the
    * corpus distribution in ANY dimension is an encoder glitch / corrupt
    * row / adversarial point that norm- and centroid-level checks (C57,
    * C29) both miss when the bad mass hides in one coordinate. Per-dim
    * means/stds are the C68 decimal-exact values rounded BEFORE use, each
    * z is one double expression rounded per-dim (so the max — order-free
    * — compares identically cross-engine), zero-variance dims score 0;
    * one posexplode + broadcast of the |dim|-row stats table + one keyed
    * max per vector.
    */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val p = embs(spark, dir)
      .select(col("vec_id"),
        posexplode(graft.ops.ann.Ann.vec(col("embedding"))).as(Seq("pos", "x")))
    val mean = col("sx").cast("double") / col("n")
    val stats = p.groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(27,10)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(27,10)")).as("sxx"))
      .select(col("pos"), round(mean, 6).as("m"),
        round(sqrt(greatest(col("sxx").cast("double") / col("n") - mean * mean,
          lit(0.0))), 6).as("sd"))
    p.join(broadcast(stats), "pos")
      .select(col("vec_id"),
        when(col("sd") > 0,
          round(abs((col("x") - col("m")) / col("sd")), 6))
          .otherwise(lit(0.0)).as("z"))
      .groupBy("vec_id").agg(max("z").as("max_abs_z"))
      .select(col("vec_id"), col("max_abs_z"),
        (col("max_abs_z") > 4.0).as("is_outlier"))
      .orderBy("vec_id")
  }

  val embedOutliersSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (SELECT vec_id, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM e),
      |s AS (SELECT pos, count(*) AS n, sum(CAST(x AS DECIMAL(27,10))) AS sx,
      |    sum(CAST(x*x AS DECIMAL(27,10))) AS sxx FROM p GROUP BY pos),
      |st AS (SELECT pos, round(sx::DOUBLE/n, 6) AS m,
      |    round(sqrt(greatest(sxx::DOUBLE/n - (sx::DOUBLE/n)*(sx::DOUBLE/n), 0)), 6) AS sd
      |  FROM s),
      |z AS (SELECT vec_id,
      |    CASE WHEN sd > 0 THEN round(abs((x - m) / sd), 6) ELSE 0.0 END AS z
      |  FROM p JOIN st USING (pos))
      |SELECT vec_id, max(z) AS max_abs_z, max(z) > 4.0 AS is_outlier
      |FROM z GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** C29: per-label centroid cosine — embedding-space cohesion/outlier
    * scoring. Decimal-summed centroids make the result bit-deterministic
    * under any partitioning (see Ann.centroidCosine).
    */
  def embedCentroids(spark: SparkSession, dir: String): DataFrame =
    Ann.centroidCosine(embs(spark, dir))
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  val embedCentroidsSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |p AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM e),
      |cent AS (SELECT label, pos, CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS c
      |  FROM p GROUP BY 1, 2),
      |cv AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label)
      |SELECT e.vec_id, e.label,
      |  round(CASE WHEN sqrt(list_sum([a*a for a in v])) * sqrt(list_sum([c*c for c in cv])) > 0
      |    THEN list_sum([pr[1]*pr[2] for pr in list_zip(v, cv)]) /
      |      (sqrt(list_sum([a*a for a in v])) * sqrt(list_sum([c*c for c in cv])))
      |    ELSE 0.0 END, 6) AS cos_centroid
      |FROM e JOIN cv USING (label) ORDER BY vec_id""".stripMargin

  // ---- C7: LSH-bucketed ANN -----------------------------------------------

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Ann.lshTopK(e.where(col("vec_id") < 20), e.where(col("vec_id") >= 20), k = 5)
      .withColumnRenamed("rank", "rnk")
  }

  /** Full hash oracle for the SRP-LSH top-k: the ±1 hyperplanes are pure
    * splitmix64 parity (graft.functions.SrpCodes), so DuckDB reproduces the
    * exact buckets — and therefore the exact candidate set and ranking.
    * The mix64 finalizer runs in HUGEINT mod-2^64; its two 64×64-bit
    * multiplies would overflow HUGEINT, so each is split as
    * `((hi·c mod 2^32)·2^32 + lo·c) mod 2^64` (every intermediate < 2^97).
    * Projections fold `sign·v[i]` left-to-right in DOUBLE — bit-identical
    * to the engine's accumulation, so even boundary signs agree. Defaults
    * mirrored: planes=4, bands=8, seed=17, k=5, queries vec_id<20.
    */
  val annLshSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) nrm FROM e),
      |bp AS (SELECT b, p, (17::HUGEINT + b::HUGEINT * 4294967296::HUGEINT) x FROM range(0,8) t(b), range(0,4) u(p)),
      |m1_1 AS (SELECT b, p, (x + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT y FROM bp),
      |m1_2 AS (SELECT b, p, xor(y, y >> 30) y FROM m1_1),
      |m1_3 AS (SELECT b, p, (((y >> 32) * 13787848793156543929::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT) % 18446744073709551616::HUGEINT y FROM m1_2),
      |m1_4 AS (SELECT b, p, xor(y, y >> 27) y FROM m1_3),
      |m1_5 AS (SELECT b, p, (((y >> 32) * 10723151780598845931::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT) % 18446744073709551616::HUGEINT y FROM m1_4),
      |m1 AS (SELECT b, p, xor(y, y >> 31) x FROM m1_5),
      |px AS (SELECT b, p, xor(x, p::HUGEINT) x FROM m1),
      |pk_1 AS (SELECT b, p, (x + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT y FROM px),
      |pk_2 AS (SELECT b, p, xor(y, y >> 30) y FROM pk_1),
      |pk_3 AS (SELECT b, p, (((y >> 32) * 13787848793156543929::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT) % 18446744073709551616::HUGEINT y FROM pk_2),
      |pk_4 AS (SELECT b, p, xor(y, y >> 27) y FROM pk_3),
      |pk_5 AS (SELECT b, p, (((y >> 32) * 10723151780598845931::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT) % 18446744073709551616::HUGEINT y FROM pk_4),
      |pk AS (SELECT b, p, xor(y, y >> 31) x FROM pk_5),
      |dmx AS (SELECT unnest(range(0, (SELECT max(len(v)) FROM e))) AS i),
      |di AS (SELECT b, p, i, xor(x, (i::HUGEINT * 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT) x FROM pk, dmx),
      |sg_1 AS (SELECT b, p, i, (x + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT y FROM di),
      |sg_2 AS (SELECT b, p, i, xor(y, y >> 30) y FROM sg_1),
      |sg_3 AS (SELECT b, p, i, (((y >> 32) * 13787848793156543929::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT) % 18446744073709551616::HUGEINT y FROM sg_2),
      |sg_4 AS (SELECT b, p, i, xor(y, y >> 27) y FROM sg_3),
      |sg_5 AS (SELECT b, p, i, (((y >> 32) * 10723151780598845931::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT) % 18446744073709551616::HUGEINT y FROM sg_4),
      |sg AS (SELECT b, p, i, xor(y, y >> 31) x FROM sg_5),
      |sl AS (SELECT b, p, list(CASE WHEN x % 2 = 1 THEN 1.0 ELSE -1.0 END ORDER BY i) sl FROM sg GROUP BY b, p),
      |proj AS (SELECT vec_id, b, p, list_sum([pr[1]*pr[2] for pr in list_zip(n.v, sl.sl)]) pj FROM n CROSS JOIN sl),
      |codes AS (SELECT vec_id, b, sum(CASE WHEN pj > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END)::BIGINT code FROM proj GROUP BY vec_id, b),
      |cand AS (SELECT DISTINCT q.vec_id qid, c.vec_id cid FROM codes q JOIN codes c ON q.b = c.b AND q.code = c.code WHERE q.vec_id < 20 AND c.vec_id >= 20),
      |s AS (SELECT qid, cid, round(CASE WHEN q.nrm*c.nrm > 0 THEN list_sum([pr[1]*pr[2] for pr in list_zip(q.v, c.v)]) / (q.nrm*c.nrm) ELSE 0.0 END, 6) cosine FROM cand JOIN n q ON q.vec_id = qid JOIN n c ON c.vec_id = cid),
      |r AS (SELECT qid, cid, cosine, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) rnk FROM s)
      |SELECT qid, cid, cosine, rnk::INTEGER AS rnk FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** C13: corpus-source similarity via the MinHash sketch AGGREGATE
    * (graft.functions.MinHashSketch): one 64-position signature per source
    * (mergeable, map-side combined), pairwise Jaccard estimated from
    * matching signature positions — set similarity between groups without
    * materialising the sets. Estimate accuracy is spec-checked against the
    * exact token-set Jaccard; [[sourceSimilaritySql]] is a FULL hash
    * oracle of the signature pipeline.
    */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val toks = docs(spark, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
    val sigs = toks.groupBy("source")
      .agg(call_function("graft_minhash_sketch", col("tok"), lit(64)).as("sig"))
    sigs.as("x").join(sigs.as("y"), col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
        (size(filter(zip_with(col("x.sig"), col("y.sig"), (a, b) => a === b),
          b => b)).cast("double") / 64.0).as("est_jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Full hash oracle for the MinHash sketch: position i of a source's
    * signature is the minimum over its tokens of
    * splitmix64(fnv1a64(token) XOR (i · golden)) — FNV-1a reproduced as in
    * [[dedupSimhashSql]] (HUGEINT mod-2^64 fold over the arithmetic
    * UTF-8 byte expansion — exact for any Unicode text) and
    * the splitmix64 finalizer as in [[annLshSql]] (split 64×64 multiplies).
    * The engine takes the min over SIGNED longs, so values convert to
    * signed before the min; DISTINCT tokens per source leave minima
    * unchanged. est_jaccard = matching positions / 64 is an exact binary
    * fraction in both engines.
    */
  val sourceSimilaritySql: String =
    """WITH toks AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      |fnv AS (SELECT source,
      |    list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        UTF8BYTES),
      |      (h, b) -> ((h // 256 * 256 + xor(h % 256, b)) * 1099511628211::HUGEINT)
      |                % 18446744073709551616::HUGEINT) AS base
      |  FROM toks),
      |sx AS (SELECT source, i, xor(base, (i::HUGEINT * 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT) x FROM fnv, range(0,64) t(i)),
      |sg_1 AS (SELECT source, i, (x + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT y FROM sx),
      |sg_2 AS (SELECT source, i, xor(y, y >> 30) y FROM sg_1),
      |sg_3 AS (SELECT source, i, (((y >> 32) * 13787848793156543929::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT) % 18446744073709551616::HUGEINT y FROM sg_2),
      |sg_4 AS (SELECT source, i, xor(y, y >> 27) y FROM sg_3),
      |sg_5 AS (SELECT source, i, (((y >> 32) * 10723151780598845931::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT) % 18446744073709551616::HUGEINT y FROM sg_4),
      |sg AS (SELECT source, i, xor(y, y >> 31) x FROM sg_5),
      |sig AS (SELECT source, i,
      |    min(CASE WHEN x >= 9223372036854775808::HUGEINT
      |        THEN x - 18446744073709551616::HUGEINT ELSE x END) AS h
      |  FROM sg GROUP BY source, i)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  (sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END))::DOUBLE / 64.0 AS est_jaccard
      |FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
      |GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin
      .replace("UTF8BYTES", utf8BytesSql.replace("TOKEN", "tok"))

  /** C7b: IVF-bucketed ANN. The coarse quantizer is the deterministic
    * seeded one ([[Ann.ivfBuild]]: md5-ordered seed vectors + 2 fixed
    * Lloyd passes, decimal-mean updates, rounded-cosine assignment), so
    * the whole pipeline — build INCLUDED — now carries a FULL hash oracle
    * ([[annIvfSql]] unrolls the Lloyd passes as CTEs exactly like the
    * kg_pagerank power iterations) instead of the rows-only check the
    * irreproducible MLlib KMeans centroids forced. The cache table name is
    * versioned (`v2`) so an index persisted by the KMeans build can never
    * be served to the seeded probe.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val queries = e.where(col("vec_id") < 20)
    val corpus = e.where(col("vec_id") >= 20)
    // index once per source DATASET (production IVF is build-once-query-
    // many: the quantizer + cell assignment persist at ingest; per-batch
    // cost is the probe). The table suffix fingerprints the DATA (file
    // sizes/mtimes, graft.io.Fingerprint) — regenerating the dataset under
    // the same path rebuilds the index instead of silently reusing a stale
    // one. Persistence is best-effort: a catalog/warehouse failure at
    // build or analysis time (read-only scratch dir, an orphaned directory
    // from a previous JVM's in-memory catalog — the failure modes actually
    // observed) falls back to the self-contained build-and-probe. Files
    // vanishing AFTER successful analysis still fail at scan time, as with
    // any table read.
    try {
      val fp = graft.io.Fingerprint.ofPath(spark, s"$dir/embeddings.parquet")
      val (cellsT, centT) = (s"graft_ivf_cells_v2_$fp", s"graft_ivf_centroids_v2_$fp")
      if (!spark.catalog.tableExists(cellsT) || !spark.catalog.tableExists(centT)) {
        Seq(cellsT, centT).foreach(graft.io.Bucketing.dropTable(spark, _))
        val (cells, cents) = Ann.ivfBuild(corpus)
        cells.write.mode("overwrite").saveAsTable(cellsT)
        cents.write.mode("overwrite").saveAsTable(centT)
      }
      Ann.ivfSearch(spark.table(cellsT), spark.table(centT), queries, k = 5)
        .withColumnRenamed("rank", "rnk")
    } catch {
      case scala.util.control.NonFatal(e2) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"annIvf: index persistence unavailable (${e2.getMessage}); " +
            "running self-contained ivfBuild+ivfSearch")
        Ann.ivfTopK(queries, corpus, k = 5).withColumnRenamed("rank", "rnk")
    }
  }

  /** Full hash oracle for the seeded-quantizer IVF: seeds = first 16
    * corpus vectors in md5(id) order; each Lloyd pass unrolls to an
    * assignment CTE (argmax of the 6-dp-rounded cosine, ties → lowest
    * cell — `row_number` twin of the engine's `array_position`-of-max) and
    * a decimal-mean update CTE (the [[embedCentroidsSql]] recipe), with a
    * left-join coalesce keeping empty cells' previous centroids; probing
    * and re-ranking mirror [[annLshSql]]'s rounded-cosine windows. Rounding
    * BEFORE every comparison is what makes the argmax engine-reproducible:
    * a last-ulp `list_sum` vs left-to-right-fold drift cannot flip a cell
    * choice.
    */
  private[queries] object IvfSql {
    def nrm(a: String) = s"sqrt(list_sum([x*x FOR x IN $a]))"
    def cos(a: String, b: String, na: String, nb: String) =
      s"CASE WHEN $na * $nb > 0 THEN list_sum([pr[1]*pr[2] FOR pr IN list_zip($a, $b)]) / ($na * $nb) ELSE 0.0 END"
    /** Argmax-of-rounded-cosine assignment of relation `rel` (cid, v,
      * nrm columns) against `centTable` — the engine's
      * `array_position`-of-max twin (ties → lowest cell).
      */
    def assignCte(name: String, centTable: String, rel: String = "c") =
      s"""$name AS (SELECT cid, v, nrm, cell FROM (
         |  SELECT $rel.cid, $rel.v, $rel.nrm, ct.cell,
         |    row_number() OVER (PARTITION BY $rel.cid
         |      ORDER BY round(${cos(s"$rel.v", "ct.centroid", s"$rel.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
         |  FROM $rel CROSS JOIN $centTable ct) WHERE rn = 1)""".stripMargin
    /** The fixed Lloyd passes over relation `c`, cent0 → cent`iters`. */
    def lloyd(iters: Int): String = (1 to iters).map { i =>
      s"""${assignCte(s"a$i", s"cent${i - 1}")},
         |m$i AS (SELECT cell, pos, CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS m
         |  FROM (SELECT cell, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM a$i) GROUP BY 1, 2),
         |mc$i AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM m$i GROUP BY cell),
         |cent$i AS (SELECT p.cell, coalesce(n.centroid, p.centroid) AS centroid
         |  FROM cent${i - 1} p LEFT JOIN mc$i n USING (cell))""".stripMargin
    }.mkString(",\n")
    def seeds(nCells: Int): String =
      s"""cent0 AS (SELECT rn - 1 AS cell, v AS centroid FROM (
         |  SELECT v, row_number() OVER (ORDER BY md5(cid::VARCHAR), cid) AS rn FROM c) WHERE rn <= $nCells)""".stripMargin
  }

  val annIvfSql: String = {
    val iters = 2
    import IvfSql._
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v, ${nrm("v")} AS nrm FROM e WHERE vec_id >= 20),
       |q AS (SELECT vec_id AS qid, v, ${nrm("v")} AS nrm FROM e WHERE vec_id < 20),
       |${seeds(16)},
       |${lloyd(iters)},
       |${assignCte("af", s"cent$iters")},
       |pr AS (SELECT qid, qv, qn, cell FROM (
       |  SELECT q.qid, q.v AS qv, q.nrm AS qn, ct.cell,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY round(${cos("q.v", "ct.centroid", "q.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
       |  FROM q CROSS JOIN cent$iters ct) WHERE rn <= 4),
       |sc AS (SELECT pr.qid, a.cid,
       |    round(${cos("pr.qv", "a.v", "pr.qn", "a.nrm")}, 6) AS cosine
       |  FROM pr JOIN af a USING (cell)),
       |r AS (SELECT qid, cid, cosine,
       |  row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk FROM sc)
       |SELECT qid, cid, cosine, rnk::INTEGER AS rnk FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  /** C103: incremental IVF add ([[Ann.ivfAdd]]) — the serving index
    * absorbing a batch at PINNED centroids, no Lloyd re-run, with the
    * drift telemetry that says when a rebuild is due. Base corpus =
    * embeddings with `vec_id % 7 != 0` (the index as built at ingest);
    * batch = the `% 7 == 0` arrivals. Output is per-cell
    * (n_before, n_added, growth). The oracle replays the build chain
    * (seeds + 2 Lloyd passes over the BASE corpus — the [[annIvfSql]]
    * CTEs via the shared [[IvfSql]] builders) and then runs the SAME
    * assignment CTE restricted to the batch at the pinned `cent2` —
    * exactly the judge-prescribed pinned-centroid twin.
    */
  def annIvfInc(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val base = e.where(col("vec_id") >= 20 && col("vec_id") % 7 =!= 0)
    val batch = e.where(col("vec_id") >= 20 && col("vec_id") % 7 === 0)
    val (cells, cents) = Ann.ivfBuild(base)
    val (_, drift) = Ann.ivfAdd(cells, cents, batch)
    drift
  }

  val annIvfIncSql: String = {
    import IvfSql._
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v, ${nrm("v")} AS nrm FROM e
       |  WHERE vec_id >= 20 AND vec_id % 7 <> 0),
       |b AS (SELECT vec_id AS cid, v, ${nrm("v")} AS nrm FROM e
       |  WHERE vec_id >= 20 AND vec_id % 7 = 0),
       |${seeds(16)},
       |${lloyd(2)},
       |${assignCte("af", "cent2")},
       |${assignCte("ab", "cent2", rel = "b")},
       |nb AS (SELECT cell, count(*) AS n FROM af GROUP BY cell),
       |na AS (SELECT cell, count(*) AS n FROM ab GROUP BY cell)
       |SELECT ct.cell::INTEGER AS cell,
       |  coalesce(nb.n, 0)::BIGINT AS n_before,
       |  coalesce(na.n, 0)::BIGINT AS n_added,
       |  round(coalesce(na.n, 0)::DOUBLE / greatest(coalesce(nb.n, 0), 1), 6) AS growth
       |FROM cent2 ct LEFT JOIN nb ON nb.cell = ct.cell
       |LEFT JOIN na ON na.cell = ct.cell
       |ORDER BY cell""".stripMargin
  }

  /** C62: product-quantization codes + per-block distortion
    * ([[Ann.pqAssign]]: m=2 sub-spaces × 8 codewords, 1 Lloyd pass of the
    * deterministic seeded quantizer per sub-space). Every vector
    * compresses to 2 codes (6 bits total vs 16×32-bit floats) plus the
    * rounded cosine of each half to its codeword — the memory layout
    * billion-scale ANN serves from, with the distortion telemetry that
    * says whether the codebook is adequate. Full hash oracle: both
    * sub-space quantizers unroll to the same CTE chains as [[annIvfSql]]
    * over `list_slice` halves.
    */
  def embedPq(spark: SparkSession, dir: String): DataFrame =
    Ann.pqAssign(embs(spark, dir), m = 2, nCells = 8, iters = 1)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  val embedPqSql: String = {
    val nCells = 8
    def nrm(a: String) = s"sqrt(list_sum([x*x FOR x IN $a]))"
    def cos(a: String, b: String, na: String, nb: String) =
      s"CASE WHEN $na * $nb > 0 THEN list_sum([pr[1]*pr[2] FOR pr IN list_zip($a, $b)]) / ($na * $nb) ELSE 0.0 END"
    def chain(b: Int): String = {
      def assign(name: String, cent: String) =
        s"""$name AS (SELECT cid, v, nrm, cell, fit FROM (
           |  SELECT c.cid, c.v, c.nrm, ct.cell,
           |    round(${cos("c.v", "ct.centroid", "c.nrm", nrm("ct.centroid"))}, 6) AS fit,
           |    row_number() OVER (PARTITION BY c.cid
           |      ORDER BY round(${cos("c.v", "ct.centroid", "c.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
           |  FROM cn$b c CROSS JOIN $cent ct) WHERE rn = 1)""".stripMargin
      // last sub-space (m=2 → b=1) absorbs any dim % m remainder, like
      // Ann.pqSlice; identical to the halved end for even dims
      val sliceEnd = if (b == 1) "len(v)" else s"len(v) // 2 * ${b + 1}"
      s"""cn$b AS (SELECT vec_id AS cid,
         |    list_slice(v, len(v) // 2 * $b + 1, $sliceEnd) AS v,
         |    ${nrm(s"list_slice(v, len(v) // 2 * $b + 1, $sliceEnd)")} AS nrm
         |  FROM e),
         |cent0_$b AS (SELECT rn - 1 AS cell, v AS centroid FROM (
         |  SELECT v, row_number() OVER (ORDER BY md5(cid::VARCHAR), cid) AS rn
         |  FROM cn$b) WHERE rn <= $nCells),
         |${assign(s"a1_$b", s"cent0_$b")},
         |m1_$b AS (SELECT cell, pos, CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS m
         |  FROM (SELECT cell, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM a1_$b) GROUP BY 1, 2),
         |mc1_$b AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM m1_$b GROUP BY cell),
         |cent1_$b AS (SELECT p.cell, coalesce(n.centroid, p.centroid) AS centroid
         |  FROM cent0_$b p LEFT JOIN mc1_$b n USING (cell)),
         |${assign(s"af_$b", s"cent1_$b")}""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${chain(0)},
       |${chain(1)}
       |SELECT a0.cid AS vec_id, a0.cell::BIGINT AS code_0, a0.fit AS fit_0,
       |  a1.cell::BIGINT AS code_1, a1.fit AS fit_1
       |FROM af_0 a0 JOIN af_1 a1 ON a0.cid = a1.cid
       |ORDER BY vec_id""".stripMargin
  }

  /** C64: ADC top-k search over the PQ codes ([[Ann.pqSearch]]) — the
    * query half of [[embedPq]]: per query, a lookup table of rounded
    * cosines to every codeword per sub-space (2×8 values, broadcast), so
    * scoring a corpus vector is 2 array lookups + a sum over its 6-bit
    * code instead of a 16-dim dot product. The same queries/corpus split
    * as `ann_ivf`; full hash oracle — the two sub-space quantizers unroll
    * to the [[annIvfSql]] CTE chains over `list_slice` halves, then the
    * LUT join and the rank window mirror the engine op for op.
    */
  def annPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Ann.pqSearch(e.where(col("vec_id") < 20), e.where(col("vec_id") >= 20),
      k = 5, m = 2, nCells = 8, iters = 1)
      .withColumnRenamed("rank", "rnk")
  }

  val annPqSearchSql: String = {
    val nCells = 8
    def nrm(a: String) = s"sqrt(list_sum([x*x FOR x IN $a]))"
    def cos(a: String, b: String, na: String, nb: String) =
      s"CASE WHEN $na * $nb > 0 THEN list_sum([pr[1]*pr[2] FOR pr IN list_zip($a, $b)]) / ($na * $nb) ELSE 0.0 END"
    def chain(b: Int): String = {
      def assign(name: String, cent: String) =
        s"""$name AS (SELECT cid, cell FROM (
           |  SELECT c.cid, ct.cell,
           |    row_number() OVER (PARTITION BY c.cid
           |      ORDER BY round(${cos("c.v", "ct.centroid", "c.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
           |  FROM cn$b c CROSS JOIN $cent ct) WHERE rn = 1)""".stripMargin
      // last sub-space (m=2 → b=1) absorbs any dim % m remainder, like
      // Ann.pqSlice; identical to the halved end for even dims
      val sliceEnd = if (b == 1) "len(v)" else s"len(v) // 2 * ${b + 1}"
      s"""cn$b AS (SELECT cid,
         |    list_slice(v, len(v) // 2 * $b + 1, $sliceEnd) AS v,
         |    ${nrm(s"list_slice(v, len(v) // 2 * $b + 1, $sliceEnd)")} AS nrm
         |  FROM c),
         |cent0_$b AS (SELECT rn - 1 AS cell, v AS centroid FROM (
         |  SELECT v, row_number() OVER (ORDER BY md5(cid::VARCHAR), cid) AS rn
         |  FROM cn$b) WHERE rn <= $nCells),
         |a1_$b AS (SELECT cid, v, cell FROM (
         |  SELECT c.cid, c.v, ct.cell,
         |    row_number() OVER (PARTITION BY c.cid
         |      ORDER BY round(${cos("c.v", "ct.centroid", "c.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
         |  FROM cn$b c CROSS JOIN cent0_$b ct) WHERE rn = 1),
         |m1_$b AS (SELECT cell, pos, CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS m
         |  FROM (SELECT cell, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM a1_$b) GROUP BY 1, 2),
         |mc1_$b AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM m1_$b GROUP BY cell),
         |cent1_$b AS (SELECT p.cell, coalesce(n.centroid, p.centroid) AS centroid
         |  FROM cent0_$b p LEFT JOIN mc1_$b n USING (cell)),
         |${assign(s"af_$b", s"cent1_$b")},
         |qn$b AS (SELECT qid,
         |    list_slice(v, len(v) // 2 * $b + 1, $sliceEnd) AS v,
         |    ${nrm(s"list_slice(v, len(v) // 2 * $b + 1, $sliceEnd)")} AS nrm
         |  FROM q),
         |lut$b AS (SELECT qn.qid, ct.cell,
         |    round(${cos("qn.v", "ct.centroid", "qn.nrm", nrm("ct.centroid"))}, 6) AS sim
         |  FROM qn$b qn CROSS JOIN cent1_$b ct)""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id >= 20),
       |q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 20),
       |${chain(0)},
       |${chain(1)},
       |sc AS (SELECT l0.qid, a0.cid, round(l0.sim + l1.sim, 6) AS adc
       |  FROM af_0 a0 JOIN af_1 a1 ON a0.cid = a1.cid
       |  JOIN lut0 l0 ON l0.cell = a0.cell
       |  JOIN lut1 l1 ON l1.qid = l0.qid AND l1.cell = a1.cell),
       |r AS (SELECT qid, cid, adc,
       |  row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rnk FROM sc)
       |SELECT qid, cid, adc, rnk::INTEGER AS rnk FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  // ---- C34: int8 embedding quantization -----------------------------------
  // exploded to scalar rows for the driver compare (the library op returns
  // the packed array<tinyint> + scale); q compared as INT for a
  // schema-neutral hash
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Ann.quantizeInt8(embs(spark, dir))
      .select(col("vec_id"), col("scale"), posexplode(col("qvec")).as(Seq("pos", "q")))
      .select(col("vec_id"), col("scale"), col("pos"), col("q").cast("int").as("q"))
      .orderBy("vec_id", "pos")

  /** Max-abs fold, division, and round-half-away are bit-identical in
    * DuckDB; dims fixed at 64 like [[annLshSql]].
    */
  val embedQuantizeSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |    list_reduce(list_prepend(0.0, [abs(x) for x in v]), (a, b) -> greatest(a, b)) AS scale
      |  FROM e)
      |SELECT vec_id, scale, i::INT AS pos,
      |  CASE WHEN scale = 0 THEN 0 ELSE round(v[i+1] / scale * 127)::INT END AS q
      |FROM s, unnest(range(0, len(v))) t(i)
      |ORDER BY vec_id, pos""".stripMargin

  // ---- C41: Johnson–Lindenstrauss sign projection -------------------------
  // exploded to scalar rows like C34 for a schema-neutral driver compare
  def embedProject(spark: SparkSession, dir: String): DataFrame =
    Ann.jlProject(embs(spark, dir), dimOut = 16)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("pos", "p")))
      .orderBy("vec_id", "pos")

  /** Sign stream reproduced in HUGEINT mod-2^64 arithmetic (the
    * [[annLshSql]] splitmix64 recipe over seeds (j·64+i)·φ + 17); the
    * signed fold is left-to-right double accumulation in both engines.
    */
  val embedProjectSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |dm AS (SELECT max(len(v))::HUGEINT AS d FROM e),
      |dmi AS (SELECT unnest(range(0, d::BIGINT)) AS i, d FROM dm),
      |ij AS (SELECT j, i,
      |    ((j::HUGEINT * d + i::HUGEINT) * 11400714819323198485::HUGEINT + 17::HUGEINT)
      |      % 18446744073709551616::HUGEINT AS x
      |  FROM range(0,16) a(j) CROSS JOIN dmi),
      |m1 AS (SELECT j, i, (x + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT y FROM ij),
      |m2 AS (SELECT j, i, xor(y, y >> 30) y FROM m1),
      |m3 AS (SELECT j, i, (((y >> 32) * 13787848793156543929::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 13787848793156543929::HUGEINT) % 18446744073709551616::HUGEINT y FROM m2),
      |m4 AS (SELECT j, i, xor(y, y >> 27) y FROM m3),
      |m5 AS (SELECT j, i, (((y >> 32) * 10723151780598845931::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT + (y % 4294967296::HUGEINT) * 10723151780598845931::HUGEINT) % 18446744073709551616::HUGEINT y FROM m4),
      |sg AS (SELECT j, i, CASE WHEN xor(y, y >> 31) % 2 = 1 THEN 1.0 ELSE -1.0 END s FROM m5),
      |sl AS (SELECT j, list(s ORDER BY i) sl FROM sg GROUP BY j),
      |proj AS (SELECT vec_id, j,
      |    round(list_sum([pr[1]*pr[2] for pr in list_zip(v, sl)]) / sqrt(16.0), 6) p
      |  FROM e CROSS JOIN sl)
      |SELECT vec_id, j::INT AS pos, p FROM proj ORDER BY vec_id, pos""".stripMargin

  /** C81: IVFADC search ([[Ann.ivfPqSearch]], Jégou §III-C) — the coarse
    * 4-cell IVF prunes candidates to each query's 2 probed cells while
    * the m=2×8 PQ codes compress the scan to table lookups; the composed
    * billion-scale serving layout, full-hash-oracle-checked: the oracle
    * unrolls BOTH quantizer levels (the C64 PQ chains verbatim plus a
    * full-vector coarse chain in the C7b style), reproduces the probe
    * ranking, and prunes the ADC join to the probed cells.
    */
  def annIvfAdc(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    Ann.ivfPqSearch(e.where(col("vec_id") < 20), e.where(col("vec_id") >= 20),
      k = 5, nCells = 4, nProbe = 2, ivfIters = 1, m = 2, pqCells = 8,
      pqIters = 1)
      .withColumnRenamed("rank", "rnk")
  }

  val annIvfAdcSql: String = {
    val nCells = 8 // PQ codewords per sub-space (the C64 chains)
    def nrm(a: String) = s"sqrt(list_sum([x*x FOR x IN $a]))"
    def cos(a: String, b: String, na: String, nb: String) =
      s"CASE WHEN $na * $nb > 0 THEN list_sum([pr[1]*pr[2] FOR pr IN list_zip($a, $b)]) / ($na * $nb) ELSE 0.0 END"
    def chain(b: Int): String = {
      def assign(name: String, cent: String) =
        s"""$name AS (SELECT cid, cell FROM (
           |  SELECT c.cid, ct.cell,
           |    row_number() OVER (PARTITION BY c.cid
           |      ORDER BY round(${cos("c.v", "ct.centroid", "c.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
           |  FROM cn$b c CROSS JOIN $cent ct) WHERE rn = 1)""".stripMargin
      val sliceEnd = if (b == 1) "len(v)" else s"len(v) // 2 * ${b + 1}"
      s"""cn$b AS (SELECT cid,
         |    list_slice(v, len(v) // 2 * $b + 1, $sliceEnd) AS v,
         |    ${nrm(s"list_slice(v, len(v) // 2 * $b + 1, $sliceEnd)")} AS nrm
         |  FROM c),
         |cent0_$b AS (SELECT rn - 1 AS cell, v AS centroid FROM (
         |  SELECT v, row_number() OVER (ORDER BY md5(cid::VARCHAR), cid) AS rn
         |  FROM cn$b) WHERE rn <= $nCells),
         |a1_$b AS (SELECT cid, v, cell FROM (
         |  SELECT c.cid, c.v, ct.cell,
         |    row_number() OVER (PARTITION BY c.cid
         |      ORDER BY round(${cos("c.v", "ct.centroid", "c.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
         |  FROM cn$b c CROSS JOIN cent0_$b ct) WHERE rn = 1),
         |m1_$b AS (SELECT cell, pos, CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS m
         |  FROM (SELECT cell, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM a1_$b) GROUP BY 1, 2),
         |mc1_$b AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM m1_$b GROUP BY cell),
         |cent1_$b AS (SELECT p.cell, coalesce(n.centroid, p.centroid) AS centroid
         |  FROM cent0_$b p LEFT JOIN mc1_$b n USING (cell)),
         |${assign(s"af_$b", s"cent1_$b")},
         |qn$b AS (SELECT qid,
         |    list_slice(v, len(v) // 2 * $b + 1, $sliceEnd) AS v,
         |    ${nrm(s"list_slice(v, len(v) // 2 * $b + 1, $sliceEnd)")} AS nrm
         |  FROM q),
         |lut$b AS (SELECT qn.qid, ct.cell,
         |    round(${cos("qn.v", "ct.centroid", "qn.nrm", nrm("ct.centroid"))}, 6) AS sim
         |  FROM qn$b qn CROSS JOIN cent1_$b ct)""".stripMargin
    }
    // coarse IVF level: 4 cells, 1 Lloyd pass, FULL vectors — the C7b
    // chain shape with g-prefixed names so it composes with the PQ chains
    val coarse =
      s"""cc AS (SELECT cid, v, ${nrm("v")} AS nrm FROM c),
         |gq AS (SELECT qid, v, ${nrm("v")} AS nrm FROM q),
         |gcent0 AS (SELECT rn - 1 AS cell, v AS centroid FROM (
         |  SELECT v, row_number() OVER (ORDER BY md5(cid::VARCHAR), cid) AS rn
         |  FROM cc) WHERE rn <= 4),
         |ga1 AS (SELECT cid, v, cell FROM (
         |  SELECT c.cid, c.v, ct.cell,
         |    row_number() OVER (PARTITION BY c.cid
         |      ORDER BY round(${cos("c.v", "ct.centroid", "c.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
         |  FROM cc c CROSS JOIN gcent0 ct) WHERE rn = 1),
         |gm1 AS (SELECT cell, pos, CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE)/count(*) AS m
         |  FROM (SELECT cell, unnest(v) AS x, unnest(range(1, len(v)+1)) AS pos FROM ga1) GROUP BY 1, 2),
         |gmc1 AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM gm1 GROUP BY cell),
         |gcent1 AS (SELECT p.cell, coalesce(n.centroid, p.centroid) AS centroid
         |  FROM gcent0 p LEFT JOIN gmc1 n USING (cell)),
         |gaf AS (SELECT cid, cell FROM (
         |  SELECT c.cid, ct.cell,
         |    row_number() OVER (PARTITION BY c.cid
         |      ORDER BY round(${cos("c.v", "ct.centroid", "c.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
         |  FROM cc c CROSS JOIN gcent1 ct) WHERE rn = 1),
         |gpr AS (SELECT qid, cell FROM (
         |  SELECT q.qid, ct.cell,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY round(${cos("q.v", "ct.centroid", "q.nrm", nrm("ct.centroid"))}, 6) DESC, ct.cell) AS rn
         |  FROM gq q CROSS JOIN gcent1 ct) WHERE rn <= 2)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id >= 20),
       |q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 20),
       |${chain(0)},
       |${chain(1)},
       |$coarse,
       |sc AS (SELECT p.qid, a0.cid, round(l0.sim + l1.sim, 6) AS adc
       |  FROM af_0 a0 JOIN af_1 a1 ON a0.cid = a1.cid
       |  JOIN gaf g ON g.cid = a0.cid
       |  JOIN gpr p ON p.cell = g.cell
       |  JOIN lut0 l0 ON l0.qid = p.qid AND l0.cell = a0.cell
       |  JOIN lut1 l1 ON l1.qid = p.qid AND l1.cell = a1.cell),
       |r AS (SELECT qid, cid, adc,
       |  row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rnk FROM sc)
       |SELECT qid, cid, adc, rnk::INTEGER AS rnk FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  // ---- C8: language id ----------------------------------------------------

  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    // Staged projection chain (the repo's r6/r15 rule): split the text
    // ONCE, score every profile from the staged array, and apply the NULL
    // stance as a `when` over the staged score attributes. Feeding
    // un-staged langScores into the argmax fold under `when(isNotNull,…)`
    // is ineligible for subexpression elimination and re-splits the
    // document per profile (the r15 5.2x regression). CollapseProject
    // cannot undo the staging: each staged expression is non-cheap and
    // referenced more than once downstream.
    val langs = TextOps.LangProfiles.map(_._1)
    val scoreCols = TextOps.LangProfiles.map { case (lang, profile) =>
      TextOps.langScoreTokens(col("__ws"), profile).cast("long").as(s"${lang}_hits")
    }
    docs(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__ws"))
      .select(col("doc_id") +: col("__ws").isNotNull.as("__nn") +: scoreCols: _*)
      .select(col("doc_id") +: langs.map(l => col(s"${l}_hits")) :+
        when(col("__nn"),
          TextOps.langArgmax(langs.map(l => l -> col(s"${l}_hits")))).as("pred"): _*)
      .orderBy("doc_id")
  }

  val textLangIdSql: String = {
    val scores = TextOps.LangProfiles.map { case (lang, profile) =>
      val list = profile.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(string_split(text, ' '), w -> list_contains($list, w)))::BIGINT AS ${lang}_hits"
    }.mkString(",\n  ")
    val langs = TextOps.LangProfiles.map(_._1)
    val greatest = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
    val caseChain = langs.map(l => s"WHEN ${l}_hits = g THEN '$l'").mkString(" ")
    s"""WITH s AS (SELECT doc_id,
       |  $scores
       |FROM documents)
       |SELECT doc_id, ${langs.map(l => s"${l}_hits").mkString(", ")},
       |  CASE $caseChain END AS pred
       |FROM (SELECT *, $greatest AS g FROM s) ORDER BY doc_id""".stripMargin
  }

  /** C18: char-trigram language ID (Cavnar & Trenkle-style fixed profiles)
    * — the n-gram counterpart of C8's stopword profiles; scores are plain
    * literal-replace string arithmetic, reproduced exactly by the oracle.
    */
  def textLangTrigram(spark: SparkSession, dir: String): DataFrame = {
    val scoreCols = TextOps.TrigramProfiles.map { case (lang, profile) =>
      TextOps.trigramScore(col("text"), profile).as(s"${lang}_tri")
    }
    docs(spark, dir)
      .select(col("doc_id") +: scoreCols :+ TextOps.trigramPredict(col("text")).as("pred"): _*)
      .orderBy("doc_id")
  }

  val textLangTrigramSql: String = {
    def esc(s: String) = s.replace("'", "''")
    val scores = TextOps.TrigramProfiles.map { case (lang, profile) =>
      profile.map(t =>
          s"(length(text) - length(replace(text, '${esc(t)}', ''))) / ${t.length}")
        .mkString("(", " + ", s")::BIGINT AS ${lang}_tri")
    }.mkString(",\n  ")
    val langs = TextOps.TrigramProfiles.map(_._1)
    val greatest = langs.map(l => s"${l}_tri").mkString("greatest(", ", ", ")")
    val caseChain = langs.map(l => s"WHEN ${l}_tri = g THEN '$l'").mkString(" ")
    s"""WITH s AS (SELECT doc_id,
       |  $scores
       |FROM documents)
       |SELECT doc_id, ${langs.map(l => s"${l}_tri").mkString(", ")},
       |  CASE $caseChain END AS pred
       |FROM (SELECT *, $greatest AS g FROM s) ORDER BY doc_id""".stripMargin
  }

  /** C77: class-balanced sampling — equalise per-language document
    * counts to the MINORITY class size (the classifier-training
    * preparation step: a 10:1 language skew trains a majority-class
    * predictor): per language, keep the first `min-count` documents in
    * deterministic md5(id) order — the same reproducibility contract as
    * every sampling op here (engine-, layout-, and run-stable; growing a
    * majority class never changes the selection of the others). One
    * |langs| count agg broadcast back, one per-language rank window over
    * md5 order, rank ≤ k filter.
    */
  def sampleBalanced(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // md5-ordered selection requires the key (r15 NULL stance: a NULL id
    // sorts differently across engines and shifts every later rank)
    val d = docs(spark, dir).select(col("doc_id"), col("lang"))
      .where(col("doc_id").isNotNull)
    val kmin = d.groupBy("lang").agg(count(lit(1)).as("c"))
      .agg(min("c").as("k"))
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    d.withColumn("rk", row_number().over(w))
      .crossJoin(kmin)
      .where(col("rk") <= col("k"))
      .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
      .orderBy("lang", "rk")
  }

  val sampleBalancedSql: String =
    """WITH d AS (SELECT doc_id, lang FROM documents WHERE doc_id IS NOT NULL),
      |k AS (SELECT min(c)::BIGINT AS k FROM (
      |  SELECT lang, count(*) AS c FROM d GROUP BY lang)),
      |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk FROM d)
      |SELECT doc_id, lang, rk FROM r, k WHERE rk <= k
      |ORDER BY lang, rk""".stripMargin

  /** C79: conditional bigram entropy H(w|u) — the corpus-predictability
    * scalar next to C61's unigram entropy: how many nats the NEXT token
    * carries given the current one (natural prose ≈ high but below
    * unigram H; template/boilerplate corpora collapse toward 0 — the
    * whole-corpus twin of the per-doc bigram surprisal C35, and the
    * drift dial that moves when generation/spam enters the mix).
    * H(w|u) = −Σ p(u,w)·ln(c(u,w)/c(u)) over bigram counts: every term
    * is one double expression from exact integer counts, the vocab²-sized
    * sum routes through DECIMAL casts (layout-proof), one row out. Two
    * keyed map-combined count aggs + one count-attach join + a 1-row
    * total broadcast.
    */
  def corpusBigramEntropy(spark: SparkSession, dir: String): DataFrame = {
    val ws = docs(spark, dir).select(TextOps.tokens(col("text")).as("ws"))
    val bi = ws.where(size(col("ws")) >= 2)
      .select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("u"), b.as("w")))).as("p"))
      .select(col("p.u").as("u"), col("p.w").as("w"))
      .groupBy("u", "w").agg(count(lit(1)).as("cuw"))
    val uni = bi.groupBy("u").agg(sum("cuw").as("cu"))
    val m = bi.agg(sum("cuw").as("m"))
    bi.join(uni, "u").crossJoin(m)
      .agg(first("m").as("n_bigrams"),
        sum(((col("cuw").cast("double") / col("m")) *
          -log(col("cuw").cast("double") / col("cu")))
          .cast("decimal(27,10)")).as("s"))
      .select(col("n_bigrams").cast("long").as("n_bigrams"),
        round(col("s").cast("double"), 6).as("cond_entropy"))
  }

  val corpusBigramEntropySql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
      |bi AS (SELECT u, w, count(*) AS cuw FROM (
      |  SELECT unnest([w[i] for i in range(1, len(w))]) AS u,
      |         unnest([w[i+1] for i in range(1, len(w))]) AS w
      |  FROM t WHERE len(w) >= 2) s GROUP BY u, w),
      |uni AS (SELECT u, sum(cuw)::BIGINT AS cu FROM bi GROUP BY u),
      |m AS (SELECT sum(cuw)::BIGINT AS m FROM bi),
      |agg AS (SELECT m,
      |    sum(CAST((cuw::DOUBLE / m) * -ln(cuw::DOUBLE / cu)
      |      AS DECIMAL(27,10))) AS s
      |  FROM bi JOIN uni USING (u), m GROUP BY m)
      |SELECT m.m AS n_bigrams, round(s::DOUBLE, 6) AS cond_entropy
      |FROM m LEFT JOIN agg ON agg.m = m.m""".stripMargin

  /** C76: token burstiness — variance-to-mean ratio of each token's
    * per-document count over ALL documents (Church & Gale's burstiness:
    * topical words arrive in bursts, VMR ≫ 1; function words spread
    * evenly, VMR ≈ 1) — the lexical signal that separates content terms
    * from glue BEFORE any stopword list exists, and a template detector
    * (boilerplate tokens are extreme bursts). Zeros never materialise:
    * mean and E[x²] come from Σcnt and Σcnt² over PRESENT docs divided
    * by the total N, so the stats are exact integers until one closed
    * form, rounded BEFORE the top-20 rank (ties collapse identically);
    * df ≥ 10 floors out hapax noise. Two keyed map-combined aggs, a
    * 1-row broadcast N, TakeOrderedAndProject for the top-20.
    */
  def corpusBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val c = docs(spark, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("cnt"))
    val st = c.groupBy("tok").agg(sum("cnt").as("tf"),
      sum(col("cnt") * col("cnt")).as("tf2"), count(lit(1)).as("df"))
    val total = docs(spark, dir).agg(count(lit(1)).cast("double").as("nd"))
    val mean = col("tf").cast("double") / col("nd")
    st.where(col("df") >= 10).crossJoin(total)
      .select(col("tok"), col("df"), col("tf"),
        round((col("tf2").cast("double") / col("nd") - mean * mean) / mean, 6)
          .as("vmr"))
      .orderBy(col("vmr").desc, col("tok"))
      .limit(20)
  }

  val corpusBurstinessSql: String =
    """WITH c AS (SELECT doc_id, tok, count(*) AS cnt FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |st AS (SELECT tok, sum(cnt)::BIGINT AS tf, sum(cnt*cnt)::BIGINT AS tf2,
      |    count(*) AS df FROM c GROUP BY tok),
      |t AS (SELECT count(*)::DOUBLE AS nd FROM documents)
      |SELECT tok, df, tf,
      |  round((tf2::DOUBLE / nd - (tf::DOUBLE / nd) * (tf::DOUBLE / nd))
      |    / (tf::DOUBLE / nd), 6) AS vmr
      |FROM st, t WHERE df >= 10
      |ORDER BY vmr DESC, tok LIMIT 20""".stripMargin

  /** C74: language-ID confusion matrix — the trigram classifier (C18)
    * EVALUATED against the corpus labels: (true lang, predicted lang,
    * count, within-lang share), the accuracy/confusion telemetry a
    * multilingual pipeline tracks per snapshot (an off-diagonal mass
    * jump = profile drift or a scraper feeding mislabelled text). One
    * narrow scoring scan (the same literal-replace counting as C18, so
    * the two can never disagree) into one |langs|² keyed aggregate; the
    * share window runs over that tiny matrix.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs(spark, dir)
      .select(col("lang"), TextOps.trigramPredict(col("text")).as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .select(col("lang"), col("pred"), col("n"),
        round(col("n").cast("double") /
          sum("n").over(Window.partitionBy("lang")), 6).as("share"))
      .orderBy("lang", "pred")
  }

  val langConfusionSql: String = {
    def esc(s: String) = s.replace("'", "''")
    val scores = TextOps.TrigramProfiles.map { case (lang, profile) =>
      profile.map(t =>
          s"(length(text) - length(replace(text, '${esc(t)}', ''))) / ${t.length}")
        .mkString("(", " + ", s")::BIGINT AS ${lang}_tri")
    }.mkString(",\n  ")
    val langs = TextOps.TrigramProfiles.map(_._1)
    val greatest = langs.map(l => s"${l}_tri").mkString("greatest(", ", ", ")")
    val caseChain = langs.map(l => s"WHEN ${l}_tri = g THEN '$l'").mkString(" ")
    s"""WITH s AS (SELECT lang, $scores FROM documents),
       |p AS (SELECT lang, CASE $caseChain END AS pred
       |  FROM (SELECT *, $greatest AS g FROM s)),
       |c AS (SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2)
       |SELECT lang, pred, n,
       |  round(n::DOUBLE / sum(n) OVER (PARTITION BY lang), 6) AS share
       |FROM c ORDER BY lang, pred""".stripMargin
  }

  /** C19: profile TRAINING — top-10 tokens per language learned from the
    * labelled corpus (the data-derived counterpart of the fixed profiles;
    * runs through the TopKPerKey rewrite). Deterministic tiebreaks → exact
    * oracle.
    */
  def textProfileTrain(spark: SparkSession, dir: String): DataFrame =
    TextOps.trainLangProfiles(docs(spark, dir), topK = 10)

  val textProfileTrainSql: String =
    """WITH tf AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
      |counts AS (SELECT lang, token, count(*) AS tf FROM tf GROUP BY lang, token),
      |ranked AS (SELECT lang, token, tf,
      |    row_number() OVER (PARTITION BY lang ORDER BY tf DESC, token) AS rank
      |  FROM counts)
      |SELECT lang, rank::INTEGER AS rank, token, tf
      |FROM ranked WHERE rank <= 10 ORDER BY lang, rank""".stripMargin

  /** C24: character-trigram profile TRAINING — the [[textProfileTrain]]
    * counterpart for the trigram classifier: per-language top-10 trigrams by
    * share of corpus-wide occurrences (min count 5), the trained model
    * [[graft.ops.text.TextOps.trigramPredictFrom]] applies. Deterministic
    * ranks → exact oracle.
    */
  def textTrigramTrain(spark: SparkSession, dir: String): DataFrame =
    TextOps.trainTrigramProfiles(docs(spark, dir), topK = 10, minCount = 5)

  val textTrigramTrainSql: String =
    """WITH tri AS (
      |  SELECT lang, unnest([substring(text, i, 3) for i in range(1, len(text)-1)]) AS trigram
      |  FROM documents),
      |counts AS (SELECT lang, trigram, count(*) AS tf FROM tri GROUP BY lang, trigram),
      |totals AS (SELECT trigram, sum(tf) AS total_tf FROM counts GROUP BY trigram),
      |scored AS (SELECT lang, counts.trigram, tf, tf::DOUBLE / total_tf AS share
      |  FROM counts JOIN totals USING (trigram) WHERE tf >= 5),
      |ranked AS (SELECT lang, trigram, tf, share,
      |    row_number() OVER (PARTITION BY lang ORDER BY share DESC, tf DESC, trigram) AS rank
      |  FROM scored)
      |SELECT lang, rank::INTEGER AS rank, trigram, tf, share
      |FROM ranked WHERE rank <= 10 ORDER BY lang, rank""".stripMargin

  // ---- C9: quality scores -------------------------------------------------

  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val cols = TextOps.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
    docs(spark, dir).select(col("doc_id") +: cols: _*).orderBy("doc_id")
  }

  val textQualitySql: String = {
    val en = TextOps.LangProfiles.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""SELECT doc_id,
       |  len(string_split(text, ' '))::BIGINT AS n_tokens,
       |  list_sum([length(w) for w in string_split(text, ' ')])::DOUBLE
       |    / len(string_split(text, ' ')) AS mean_token_len,
       |  len(list_filter(string_split(text, ' '), w -> list_contains($en, w)))::DOUBLE
       |    / len(string_split(text, ' ')) AS stopword_ratio,
       |  CASE WHEN length(text) > 0 THEN
       |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
       |      / length(text) ELSE 0.0 END AS punct_ratio,
       |  len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '^[A-Z]')))::DOUBLE
       |    / len(string_split(text, ' ')) AS upper_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** C106: closed-form OLS quality-score distillation
    * ([[graft.ops.stats.Stats.ols2]]) — fit the stopword ratio (the C9
    * quality proxy, 1e6-quantized) on two cheap byte-level features
    * (token count, punctuation count) by exact normal equations + Cramer,
    * and read R² to learn how much of the quality signal the cheap
    * features carry: the LINEAR PROBE beside C42's rule-distillation —
    * no gradient descent, two corpus scans total (one 10-sum aggregate,
    * one residual pass against the broadcast 1-row model). All sums are
    * exact integers/decimals and every double step is the same fixed
    * correctly-rounded sequence in both engines (the op's exactness
    * contract), so a 1-row regression over 100 TB reproduces bit-for-bit.
    */
  def qualityOls(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextOps.tokens(col("text"))
    val en = typedLit(TextOps.LangProfiles.head._2)
    val feats = docs(spark, dir).where(col("text").isNotNull).select(
      size(ws).cast("long").as("x1"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")))
        .cast("long").as("x2"),
      floor(size(filter(ws, w => array_contains(en, w))).cast("double")
        / size(ws) * lit(1000000) + lit(0.5)).cast("long").as("y6"))
    graft.ops.stats.Stats.ols2(feats, col("x1"), col("x2"), col("y6"))
      .select(col("n").as("n_docs"), col("b0"), col("b1").as("b_tokens"),
        col("b2").as("b_punct"), col("sse_u"), col("r2"))
  }

  val qualityOlsSql: String = {
    val en = TextOps.LangProfiles.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH f AS (SELECT
       |    len(string_split(text, ' '))::BIGINT AS x1,
       |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::BIGINT AS x2,
       |    floor(len(list_filter(string_split(text, ' '), w -> list_contains($en, w)))::DOUBLE
       |      / len(string_split(text, ' ')) * 1000000 + 0.5)::BIGINT AS y6
       |  FROM documents WHERE text IS NOT NULL),
       |s AS (SELECT count(*)::HUGEINT AS n, sum(x1)::HUGEINT AS s1, sum(x2)::HUGEINT AS s2,
       |    sum(y6)::HUGEINT AS sy, sum(x1 * x1)::HUGEINT AS s11, sum(x2 * x2)::HUGEINT AS s22,
       |    sum(x1 * x2)::HUGEINT AS s12, sum(x1 * y6)::HUGEINT AS s1y,
       |    sum(x2 * y6)::HUGEINT AS s2y, sum(y6 * y6)::HUGEINT AS syy FROM f),
       |c AS (SELECT n, s1, s2, sy,
       |    n * s11 - s1 * s1 AS c11, n * s22 - s2 * s2 AS c22, n * s12 - s1 * s2 AS c12,
       |    n * s1y - s1 * sy AS c1y, n * s2y - s2 * sy AS c2y, n * syy - sy * sy AS cyy
       |  FROM s),
       |d AS (SELECT *, c11 * c22 - c12 * c12 AS det,
       |    c22 * c1y - c12 * c2y AS num1, c11 * c2y - c12 * c1y AS num2 FROM c),
       |bb AS (SELECT *,
       |    CASE WHEN det <> 0
       |      THEN floor(num1::DOUBLE / det::DOUBLE * 1000000 + 0.5) / 1e6 END AS b1,
       |    CASE WHEN det <> 0
       |      THEN floor(num2::DOUBLE / det::DOUBLE * 1000000 + 0.5) / 1e6 END AS b2 FROM d),
       |bz AS (SELECT *, CASE WHEN b1 IS NOT NULL THEN
       |    floor((sy::DOUBLE / n::DOUBLE - b1 * (s1::DOUBLE / n::DOUBLE)
       |      - b2 * (s2::DOUBLE / n::DOUBLE)) * 1000000 + 0.5) / 1e6 END AS b0 FROM bb),
       |e AS (SELECT sum((y6 - floor(bz.b0 + bz.b1 * x1 + bz.b2 * x2 + 0.5))::BIGINT
       |      * (y6 - floor(bz.b0 + bz.b1 * x1 + bz.b2 * x2 + 0.5))::BIGINT)::BIGINT AS sse
       |  FROM f, bz)
       |SELECT bz.n::BIGINT AS n_docs, bz.b0, bz.b1 AS b_tokens, bz.b2 AS b_punct,
       |  e.sse AS sse_u,
       |  CASE WHEN cyy <> 0 AND bz.b1 IS NOT NULL THEN
       |    floor((1.0 - (bz.n * e.sse::HUGEINT)::DOUBLE / cyy::DOUBLE) * 1000000 + 0.5) / 1e6
       |  END AS r2
       |FROM bz, e""".stripMargin
  }

  /** C25: repetition signals (duplicate n-gram fractions, top-word share,
    * token entropy) — the Gopher-style repetitious-text filter. Oracle
    * reproduces the list arithmetic (entropy terms sorted before the fold
    * in both engines, then 6dp round).
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    // spread: the per-doc HOF statistics are the rare narrow stage heavy
    // enough to outweigh the tiny round-trip shuffle on a one-split source
    TextOps.repetition(graft.io.DataFrames.spread(docs(spark, dir))).orderBy("doc_id")

  val textRepetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, w,
      |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bg,
      |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] AS tg,
      |    [len(list_filter(w, x -> x = u))::DOUBLE
      |      for u in list_sort(list_distinct(w))] AS cnts
      |  FROM t)
      |SELECT doc_id,
      |  len(w)::BIGINT AS n_tokens,
      |  CASE WHEN len(bg) <= 0 THEN 0.0
      |       ELSE 1.0 - len(list_distinct(bg))::DOUBLE / len(bg) END AS dup_bigram_frac,
      |  CASE WHEN len(tg) <= 0 THEN 0.0
      |       ELSE 1.0 - len(list_distinct(tg))::DOUBLE / len(tg) END AS dup_trigram_frac,
      |  list_max(cnts) / len(w) AS top_word_share,
      |  round(ln(len(w)) - list_sum([c * ln(c) for c in cnts]) / len(w), 6)
      |    AS token_entropy
      |FROM g ORDER BY doc_id""".stripMargin

  /** C26: Gopher-style rule-based quality flags (token-count bounds, mean
    * word length, symbol ratio, alpha-word fraction, stopword floor) as
    * 0/1 ints plus the conjunctive pass bit.
    */
  def qualityGopher(spark: SparkSession, dir: String): DataFrame = {
    val cols = TextOps.gopherColumns(col("text")).map { case (n, c) => c.as(n) }
    docs(spark, dir).select(col("doc_id") +: cols: _*).orderBy("doc_id")
  }

  /** The gopher per-doc flag CTEs, shared by `quality_gopher` and
    * `quality_agreement`.
    */
  private val gopherFlagsCte: String = {
    val en = TextOps.LangProfiles.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
       |f AS (SELECT doc_id, len(w)::BIGINT AS n_tokens,
       |  CASE WHEN len(w) BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS ok_token_count,
       |  CASE WHEN list_sum([length(x) for x in w])::DOUBLE / len(w) BETWEEN 3.0 AND 10.0
       |       THEN 1 ELSE 0 END AS ok_mean_word_len,
       |  CASE WHEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
       |            / len(w) < 0.1 THEN 1 ELSE 0 END AS ok_symbol_ratio,
       |  CASE WHEN len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
       |            / len(w) >= 0.8 THEN 1 ELSE 0 END AS ok_alpha_words,
       |  CASE WHEN len(list_filter(w, x -> list_contains($en, x))) >= 2
       |       THEN 1 ELSE 0 END AS ok_stopwords
       |  FROM t)""".stripMargin
  }

  val qualityGopherSql: String =
    s"""WITH $gopherFlagsCte
       |SELECT doc_id, n_tokens, ok_token_count, ok_mean_word_len, ok_symbol_ratio,
       |  ok_alpha_words, ok_stopwords,
       |  (ok_token_count * ok_mean_word_len * ok_symbol_ratio * ok_alpha_words
       |    * ok_stopwords)::INTEGER AS pass
       |FROM f ORDER BY doc_id""".stripMargin

  /** C54: weighted sample without replacement
    * ([[graft.ops.sample.Sampling.weightedSample]]) — 100 docs drawn
    * Efraimidis–Spirakis-style with n_chars as the weight (longer docs
    * proportionally likelier), deterministic md5 uniforms, exact WOR.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    graft.ops.sample.Sampling
      .weightedSample(docs(spark, dir), "doc_id", col("n_chars"), n = 100)
      .select("doc_id", "source", "n_chars", "es_key")
      .orderBy(col("es_key").desc, col("doc_id"))

  /** `CASE k0 = 0` pins +0.0: DuckDB's round keeps IEEE -0.0 on tiny
    * negative keys, Spark's decimal round does not — value-equal but
    * string-distinct under the driver's hash.
    */
  val sampleWeightedSql: String =
    """WITH h AS (SELECT doc_id, source, n_chars,
      |    ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS hv
      |  FROM documents WHERE n_chars > 0),
      |k AS (SELECT doc_id, source, n_chars,
      |    round(ln((hv + 1) / 4294967296.0) / n_chars, 6) AS k0 FROM h)
      |SELECT doc_id, source, n_chars,
      |  CASE WHEN k0 = 0 THEN 0.0 ELSE k0 END AS es_key FROM k
      |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin

  /** C115: systematic PPS sampling per source
    * ([[graft.ops.sample.Sampling.ppsSample]], k = 40, weight =
    * n_chars) — the EVEN-SPREAD weighted draw beside C54's ES top-k:
    * 40 offsets march through each source's cumulative-char line at
    * equal stride, so picks cannot cluster in one heavy corner of the
    * corpus and a document heavier than W/k is drawn with MULTIPLICITY
    * (`n_picks` — the with-replacement semantic a token-budgeted eval
    * set wants). The whole selection is closed-form INTEGER arithmetic
    * (ceil-division bounds inverting each row's offset range — no hash,
    * no float, no knife edge), so the oracle reproduces it bit-for-bit
    * from the same window. NULL ids/sources and non-positive weights
    * drop at the door.
    */
  def samplePps(spark: SparkSession, dir: String): DataFrame =
    graft.ops.sample.Sampling
      .ppsSample(docs(spark, dir), "source", "doc_id", col("n_chars"), k = 40)
      .withColumnRenamed("weight", "n_chars")
      .orderBy("source", "doc_id")

  val samplePpsSql: String =
    """WITH b AS (SELECT source, doc_id, n_chars::BIGINT AS w FROM documents
      |  WHERE source IS NOT NULL AND doc_id IS NOT NULL AND n_chars > 0),
      |cm AS (SELECT source, doc_id, w,
      |    coalesce(sum(w) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS c
      |  FROM b),
      |t AS (SELECT source, sum(w)::BIGINT AS tw FROM b GROUP BY 1),
      |j AS (SELECT cm.source, cm.doc_id, cm.w,
      |    (80 * cm.c + t.tw - 1) // t.tw AS lo,
      |    (80 * (cm.c + cm.w) + t.tw - 1) // t.tw AS hi
      |  FROM cm JOIN t USING (source)),
      |p AS (SELECT source, doc_id, w,
      |    greatest(0, lo // 2) AS jlo,
      |    CASE WHEN hi < 2 THEN -1 ELSE least(39, (hi - 2) // 2) END AS jhi
      |  FROM j)
      |SELECT source, doc_id, w AS n_chars, (jhi - jlo + 1)::BIGINT AS n_picks
      |FROM p WHERE jhi - jlo + 1 > 0 ORDER BY source, doc_id""".stripMargin

  /** C53: per-source HyperLogLog distinct-token estimate
    * ([[graft.ops.stats.Stats.hllDistinct]], m = 64) alongside the exact
    * count and relative error — the cardinality sketch whose register
    * table merges by max and whose arithmetic (string-length rho, exact
    * power-of-two sums, md5 hash) reproduces bit-exactly in DuckDB.
    */
  def corpusHll(spark: SparkSession, dir: String): DataFrame = {
    val t = docs(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val est = graft.ops.stats.Stats.hllDistinct(t, "source", col("token"))
    val exact = t.groupBy("source")
      .agg(countDistinct(col("token")).as("exact_distinct"))
    est.join(exact, "source")
      .withColumn("rel_err", round(
        abs(col("est_distinct") - col("exact_distinct")) / col("exact_distinct"), 6))
      .orderBy("source")
  }

  val corpusHllSql: String = {
    val am2 = (0.7213 / (1.0 + 1.079 / 64)) * 64 * 64 // same Scala double as the engine
    s"""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
       |h AS (SELECT source, ('0x' || substring(md5(token), 1, 8))::BIGINT AS hv FROM t),
       |r AS (SELECT source, hv % 64 AS j,
       |    CASE WHEN hv // 64 = 0 THEN 27 ELSE 27 - length(bin(hv // 64)) END AS rho FROM h),
       |m AS (SELECT source, j, max(rho) AS mj FROM r GROUP BY 1, 2),
       |a AS (SELECT source, sum(1.0 / (CAST(1 AS BIGINT) << mj)) + (64 - count(*)) AS s,
       |    (64 - count(*))::BIGINT AS v FROM m GROUP BY source),
       |e AS (SELECT source, round(CASE WHEN $am2 / s <= 160.0 AND v > 0
       |    THEN 64.0 * ln(64.0 / v) ELSE $am2 / s END, 4) AS est_distinct FROM a),
       |x AS (SELECT source, count(DISTINCT token)::BIGINT AS exact_distinct FROM t GROUP BY source)
       |SELECT e.source, e.est_distinct, x.exact_distinct,
       |  round(abs(e.est_distinct - x.exact_distinct) / x.exact_distinct, 6) AS rel_err
       |FROM e JOIN x USING (source) ORDER BY source""".stripMargin
  }

  /** C92: cross-corpus vocabulary overlap via HLL inclusion–exclusion —
    * the contamination/redundancy telemetry between corpus SOURCES
    * without an exact distinct-intersection: per source-pair, |A ∪ B|
    * is estimated from the MAX-MERGE of the two register tables (the
    * mergeable property that makes HLL the 100 TB answer: per-corpus
    * sketches are 64 rows each and union by `max` with NO rescan of
    * either corpus), |A ∩ B| = est_a + est_b − est_union clamped at 0,
    * and jaccard_est = inter/union. The exact intersection rides along
    * as fixture-scale validation (one distinct-token self-join the
    * sketch path never needs at scale). All arithmetic is the C53
    * deterministic HLL (string-length rho, exact power-of-two sums),
    * so the estimates reproduce bit-exactly in DuckDB.
    */
  def corpusHllOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.stats.Stats
    val t = docs(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val regs = Stats.hllRegisters(t, "source", col("token"))
    val srcs = regs.select("source").distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(srcs.select(col("source").as("sb")))
      .where(col("sa") < col("sb"))
    val uRegs = pairs.join(regs.withColumnRenamed("source", "sa"), "sa")
      .unionByName(pairs.join(regs.withColumnRenamed("source", "sb"), "sb"))
      .groupBy("sa", "sb", "j").agg(max("mj").as("mj"))
    val estU = Stats.hllEstimate(uRegs, Seq("sa", "sb"))
      .withColumnRenamed("est_distinct", "est_union")
    val estS = Stats.hllEstimate(regs, "source")
    val estA = estS.select(col("source").as("sa"), col("est_distinct").as("est_a"))
    val estB = estS.select(col("source").as("sb"), col("est_distinct").as("est_b"))
    val dist = t.distinct()
    val exactI = dist.as("x").join(dist.as("y"),
        col("x.token") === col("y.token") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
      .agg(count(lit(1)).as("exact_inter"))
    estU.join(estA, "sa").join(estB, "sb")
      .withColumn("est_inter",
        round(greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")), 4))
      .withColumn("jaccard_est", round(col("est_inter") / col("est_union"), 6))
      .join(exactI, Seq("sa", "sb"), "left")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .select("sa", "sb", "est_a", "est_b", "est_union", "est_inter",
        "jaccard_est", "exact_inter")
      .orderBy("sa", "sb")
  }

  val corpusHllOverlapSql: String = {
    val am2 = (0.7213 / (1.0 + 1.079 / 64)) * 64 * 64 // same Scala double as the engine
    s"""WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
       |h AS (SELECT source, ('0x' || substring(md5(token), 1, 8))::BIGINT AS hv FROM t),
       |r AS (SELECT source, hv % 64 AS j,
       |    CASE WHEN hv // 64 = 0 THEN 27 ELSE 27 - length(bin(hv // 64)) END AS rho FROM h),
       |m AS (SELECT source, j, max(rho) AS mj FROM r GROUP BY 1, 2),
       |est AS (SELECT source, round(CASE WHEN $am2 / s <= 160.0 AND v > 0
       |    THEN 64.0 * ln(64.0 / v) ELSE $am2 / s END, 4) AS est_distinct
       |  FROM (SELECT source, sum(1.0 / (CAST(1 AS BIGINT) << mj)) + (64 - count(*)) AS s,
       |      (64 - count(*))::BIGINT AS v FROM m GROUP BY source)),
       |pairs AS (SELECT a.source AS sa, b.source AS sb
       |  FROM (SELECT DISTINCT source FROM m) a, (SELECT DISTINCT source FROM m) b
       |  WHERE a.source < b.source),
       |um AS (SELECT sa, sb, j, max(mj) AS mj FROM (
       |    SELECT p.sa, p.sb, m.j, m.mj FROM pairs p JOIN m ON m.source = p.sa
       |    UNION ALL SELECT p.sa, p.sb, m.j, m.mj FROM pairs p JOIN m ON m.source = p.sb)
       |  GROUP BY 1, 2, 3),
       |ue AS (SELECT sa, sb, round(CASE WHEN $am2 / s <= 160.0 AND v > 0
       |    THEN 64.0 * ln(64.0 / v) ELSE $am2 / s END, 4) AS est_union
       |  FROM (SELECT sa, sb, sum(1.0 / (CAST(1 AS BIGINT) << mj)) + (64 - count(*)) AS s,
       |      (64 - count(*))::BIGINT AS v FROM um GROUP BY sa, sb)),
       |td AS (SELECT DISTINCT source, token FROM t),
       |xi AS (SELECT x.source AS sa, y.source AS sb, count(*)::BIGINT AS exact_inter
       |  FROM td x JOIN td y ON x.token = y.token AND x.source < y.source
       |  GROUP BY 1, 2),
       |f AS (SELECT ue.sa, ue.sb, ea.est_distinct AS est_a, eb.est_distinct AS est_b,
       |    ue.est_union,
       |    round(greatest(0.0, ea.est_distinct + eb.est_distinct - ue.est_union), 4)
       |      AS est_inter
       |  FROM ue JOIN est ea ON ea.source = ue.sa JOIN est eb ON eb.source = ue.sb)
       |SELECT f.sa, f.sb, f.est_a, f.est_b, f.est_union, f.est_inter,
       |  round(f.est_inter / f.est_union, 6) AS jaccard_est,
       |  coalesce(xi.exact_inter, 0)::BIGINT AS exact_inter
       |FROM f LEFT JOIN xi ON xi.sa = f.sa AND xi.sb = f.sb
       |ORDER BY f.sa, f.sb""".stripMargin
  }

  /** C65: Count-Min point-frequency estimates
    * ([[graft.ops.stats.Stats.cmsRegisters]]/`cmsEstimate`, d=4 × w=64)
    * probed at the corpus's top-10 exact tokens — the any-value frequency
    * sketch completing the family (MG = which values are heavy, CMS = how
    * heavy is THIS value; HLL = cardinality; pow2-hist = quantiles).
    * Registers are one keyed map-combined aggregate to 256 rows (mergeable
    * by SUM across splits); the probe side rides
    * TakeOrderedAndProject top-10 then a broadcast register join. The
    * estimate is one-sided (`overcount = est − exact ≥ 0` — hash
    * collisions only ever ADD), which the oracle checks value-exactly.
    */
  def corpusCms(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
    val regs = graft.ops.stats.Stats.cmsRegisters(toks, col("token"))
    val top = toks.groupBy("token").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("token")).limit(10)
    graft.ops.stats.Stats.cmsEstimate(regs, top, col("token"))
      .select(col("token"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"))
      .orderBy(col("exact").desc, col("token"))
  }

  val corpusCmsSql: String =
    """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |h AS (SELECT j, ('0x' || substring(md5(j::VARCHAR || ':' || token), 1, 8))::BIGINT % 64 AS b
      |  FROM t, range(0, 4) r(j)),
      |regs AS (SELECT j, b, count(*) AS c FROM h GROUP BY j, b),
      |x AS (SELECT token, count(*) AS exact FROM t GROUP BY token
      |  ORDER BY exact DESC, token LIMIT 10),
      |p AS (SELECT x.token, x.exact, r2.j,
      |    ('0x' || substring(md5(r2.j::VARCHAR || ':' || x.token), 1, 8))::BIGINT % 64 AS b
      |  FROM x, range(0, 4) r2(j)),
      |e AS (SELECT token, exact, min(c) AS est
      |  FROM p JOIN regs USING (j, b) GROUP BY token, exact)
      |SELECT token, exact, est, est - exact AS overcount FROM e
      |ORDER BY exact DESC, token""".stripMargin

  /** C52: pairwise agreement between the gopher quality flags
    * ([[graft.ops.stats.Stats.flagAgreement]]) — which filters are
    * redundant and which do unique work. One corpus scan: every
    * contingency cell is a conditional sum in a single map-side-partial
    * aggregate; the result is |pairs| rows.
    */
  def qualityAgreement(spark: SparkSession, dir: String): DataFrame =
    graft.ops.stats.Stats.flagAgreement(
        TextOps.gopherFlagFrame(docs(spark, dir)), TextOps.GopherFlagNames)
      .orderBy("flag_a", "flag_b")

  val qualityAgreementSql: String = {
    val flags = TextOps.GopherFlagNames
    val pairs = for {
      i <- flags.indices; j <- (i + 1) until flags.size
    } yield (flags(i), flags(j))
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS flag_a, '$b' AS flag_b,
         |  sum($a * $b)::BIGINT AS both,
         |  sum($a * (1 - $b))::BIGINT AS only_a,
         |  sum((1 - $a) * $b)::BIGINT AS only_b,
         |  sum((1 - $a) * (1 - $b))::BIGINT AS neither,
         |  round((sum($a * $b) + sum((1 - $a) * (1 - $b)))::DOUBLE / count(*), 6) AS agreement
         |FROM f""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $gopherFlagsCte
       |SELECT * FROM ($rows) ORDER BY flag_a, flag_b""".stripMargin
  }

  /** C43: multimodal near-dup END-TO-END — media payloads (UTF-8 bytes of
    * `text` standing in for real image/video blobs, as everywhere in
    * graft.ops.multimodal) → per-partition frame sampling
    * ([[Multimodal.sampleFrames]], the batch-shaped decode seam) → md5
    * frame fingerprints → pairs of media sharing ≥2 distinct frames.
    * Only fingerprints reach the exchange (frames/payloads never
    * shuffle); a hot-frame document-frequency guard (df ≤ 50) keeps
    * boilerplate windows from squaring the posting list — the same
    * inverted-index discipline as [[contamination]].
    */
  def mediaFrameDedup(spark: SparkSession, dir: String): DataFrame = {
    val media = docs(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
    // staged: the df guard and the pair join BOTH consume the fingerprint
    // set — without the checkpoint the frame-sampling mapPartitions
    // subtree runs twice
    val fps = Multimodal.sampleFrames(media, "doc_id", "media",
        frameBytes = 32, stride = 2)
      .select(col("doc_id"), md5(col("frame")).as("fp"))
      .distinct()
      .staged
    val dfc = fps.groupBy("fp").agg(count(lit(1)).as("dfc"))
    val kept = fps.join(dfc, "fp").where(col("dfc") <= 50)
    kept.as("x").join(kept.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
      .orderBy("a", "b")
  }

  /** Frame windows are byte slices; the corpus is ASCII (asserted by the
    * robustness fixture too), so `substr(text, i·64+1, 32)` IS the byte
    * window and md5 agrees across engines.
    */
  val mediaFrameDedupSql: String =
    """WITH f AS (SELECT DISTINCT doc_id, md5(substr(text, i*64 + 1, 32)) AS fp
      |      FROM (SELECT doc_id, text, unnest(range(0, len(text) // 64)) AS i FROM documents)),
      |dfc AS (SELECT fp, count(*) c FROM f GROUP BY fp),
      |k AS (SELECT f.doc_id, f.fp FROM f JOIN dfc USING (fp) WHERE c <= 50),
      |p AS (SELECT a.doc_id a, b.doc_id b FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id)
      |SELECT a, b, count(*) AS n_shared FROM p GROUP BY a, b
      |HAVING count(*) >= 2 ORDER BY a, b""".stripMargin

  /** C87: perceptual frame NEAR-dup ([[Multimodal.frameNearDup]]) — C43's
    * exact-md5 fingerprints upgraded to 64-bit difference hashes (9×8
    * byte grid, right-neighbour comparisons) with a hamming ≤ 3 pair join
    * through the C4 pigeonhole banding. The dHash is pure integer
    * arithmetic over the deterministic decode seam's byte windows, so the
    * oracle reproduces codes bit-for-bit in HUGEINT (unsigned) and runs
    * the SAME lossless chunk banding — exhaustive all-pairs would be the
    * textbook reference but blows the oracle budget at the 10x replica.
    */
  def mediaFrameNeardup(spark: SparkSession, dir: String): DataFrame = {
    val media = docs(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
    Multimodal.frameNearDup(media, "doc_id", "media")
  }

  /** Byte grid via `unicode(ch)` over char splits — exact because frames
    * only sample docs ≥ 72 bytes and every such fixture doc is ASCII (the
    * C43 stance; the robustness fixture's non-ASCII rows are all ≤ 24
    * bytes and emit no frame on either engine). The invariant is ENFORCED,
    * not assumed: tools/robustness_check.py asserts it when building its
    * fixture and PipelineOpsSpec asserts it over the shipped testdata, so
    * a generator change cannot silently un-pin the char-vs-byte framing
    * equivalence. Codes build in HUGEINT
    * (bit 63 would overflow signed BIGINT's shift), chunks via
    * shift-mod, hamming via xor + bit_count — the dedup_simhash recipe.
    */
  val mediaFrameNeardupSql: String =
    """WITH fr AS (SELECT doc_id, substr(text, i*72 + 1, 72) AS f
      |      FROM (SELECT doc_id, text, unnest(range(0, len(text) // 72)) AS i FROM documents)),
      |ub AS (SELECT doc_id,
      |    [unicode(ch) FOR ch IN list_filter(string_split(f, ''), c -> c <> '')] AS u
      |  FROM fr),
      |codes AS (SELECT DISTINCT doc_id,
      |    list_sum([CASE WHEN u[k + k//8 + 2] > u[k + k//8 + 1]
      |              THEN (1::HUGEINT << k) ELSE 0::HUGEINT END
      |              FOR k IN range(0, 64)]) AS code
      |  FROM ub),
      |dfc AS (SELECT code, count(*) AS c FROM codes GROUP BY code),
      |kt AS (SELECT codes.doc_id, codes.code FROM codes JOIN dfc USING (code) WHERE c <= 50),
      |ch AS (SELECT doc_id, code, ci, (code >> (ci * 16)) % 65536 AS chunk
      |  FROM kt, range(0, 4) t(ci)),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
      |    x.code AS ca, y.code AS cb
      |  FROM ch x JOIN ch y
      |    ON x.ci = y.ci AND x.chunk = y.chunk AND x.doc_id < y.doc_id),
      |vf AS (SELECT a, b FROM cand WHERE bit_count(xor(ca, cb)) <= 3)
      |SELECT a, b, count(*) AS n_near FROM vf GROUP BY a, b
      |HAVING count(*) >= 2 ORDER BY a, b""".stripMargin

  /** C88: perceptual AUDIO near-dup ([[Multimodal.audioNearDup]]) — the
    * audio half of the multimodal block, mirroring C87: each document's
    * bytes ride as 8-bit PCM behind a REAL streaming WAV header (44-byte
    * constant, sizes 0xFFFFFFFF per the streamed-WAV convention), so the
    * op's RIFF chunk walk ([[Multimodal.pcmSection]]) is genuinely
    * exercised — a non-WAV payload yields no windows. 288-byte windows
    * fingerprint to 64-bit band-ENERGY difference codes
    * (graft_audiofp64: 9×8 grid of 4-sample energies — in-band sample
    * permutations leave the code bit-identical where exact md5 sees
    * nothing), paired through the C4 pigeonhole banding. `minShared = 1`
    * here because fixture documents carry a single full window each;
    * production audio (many windows per clip) keeps the op default of 2.
    */
  def mediaAudioNeardup(spark: SparkSession, dir: String): DataFrame = {
    val media = docs(spark, dir).select(col("doc_id"),
      concat(lit(Multimodal.wavHeaderStreaming()),
        encode(col("text"), "UTF-8")).as("media"))
    Multimodal.audioNearDup(media, "doc_id", "media", minShared = 1)
  }

  /** Windows are the PCM `data` section = the UTF-8 text bytes (the
    * header is a constant the chunk walk strips), so the oracle windows
    * by characters under the SAME enforced ASCII invariant as C43/C87
    * (every doc ≥ 64 bytes is ASCII; non-ASCII rows are < 64 < 288 bytes
    * and emit no window on either engine). Band energies are exact
    * integer sums; codes build in HUGEINT, chunks via shift-mod, hamming
    * via xor + bit_count — the C87 recipe on energies.
    */
  val mediaAudioNeardupSql: String =
    """WITH fr AS (SELECT doc_id, substr(text, i*288 + 1, 288) AS f
      |      FROM (SELECT doc_id, text, unnest(range(0, len(text) // 288)) AS i FROM documents)),
      |ub AS (SELECT doc_id,
      |    [unicode(ch) FOR ch IN list_filter(string_split(f, ''), c -> c <> '')] AS u
      |  FROM fr),
      |en AS (SELECT doc_id,
      |    [list_sum([(u[(j-1)*4 + s] - 128) * (u[(j-1)*4 + s] - 128)
      |               FOR s IN range(1, 5)])
      |     FOR j IN range(1, 73)] AS e
      |  FROM ub),
      |codes AS (SELECT DISTINCT doc_id,
      |    list_sum([CASE WHEN e[k + k//8 + 2] > e[k + k//8 + 1]
      |              THEN (1::HUGEINT << k) ELSE 0::HUGEINT END
      |              FOR k IN range(0, 64)]) AS code
      |  FROM en),
      |dfc AS (SELECT code, count(*) AS c FROM codes GROUP BY code),
      |kt AS (SELECT codes.doc_id, codes.code FROM codes JOIN dfc USING (code) WHERE c <= 50),
      |ch AS (SELECT doc_id, code, ci, (code >> (ci * 16)) % 65536 AS chunk
      |  FROM kt, range(0, 4) t(ci)),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
      |    x.code AS ca, y.code AS cb
      |  FROM ch x JOIN ch y
      |    ON x.ci = y.ci AND x.chunk = y.chunk AND x.doc_id < y.doc_id),
      |vf AS (SELECT a, b FROM cand WHERE bit_count(xor(ca, cb)) <= 3)
      |SELECT a, b, count(*) AS n_near FROM vf GROUP BY a, b
      |HAVING count(*) >= 1 ORDER BY a, b""".stripMargin

  /** C89: REAL WAV metadata decode under the driver oracle — C12's stub
    * decode is oracle-gated but the real RIFF header sniff
    * ([[Multimodal.decodeWav]]) was spec-only until now: payloads ride
    * behind the C88 streaming header, `decodeMedia(realCodec = true)`
    * walks the actual container (image reader refuses, WAV sniff reports
    * sample rate/channels through the fixed MetaSchema), and the oracle
    * is pure arithmetic because the header is a constant and the decode
    * is header-only (n_bytes = payload + 44; 8000 Hz mono from the
    * header literals; a NULL payload degrades to the stub's zeros — the
    * spec'd poison-row stance, same as C12).
    */
  def mediaWavMeta(spark: SparkSession, dir: String): DataFrame = {
    val media = docs(spark, dir).select(col("doc_id"),
      concat(lit(Multimodal.wavHeaderStreaming()),
        encode(col("text"), "UTF-8")).as("media"))
    Multimodal.decodeMedia(media, "media", realCodec = Some(true))
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
        col("meta.width").as("sample_rate"), col("meta.height").as("channels"),
        col("meta.format").as("format"))
      .orderBy("doc_id")
  }

  val mediaWavMetaSql: String =
    """SELECT doc_id,
      |  CASE WHEN text IS NULL THEN 0
      |       ELSE octet_length(encode(text)) + 44 END::BIGINT AS n_bytes,
      |  CASE WHEN text IS NULL THEN 0 ELSE 8000 END::INTEGER AS sample_rate,
      |  CASE WHEN text IS NULL THEN 0 ELSE 1 END::INTEGER AS channels,
      |  CASE WHEN text IS NULL THEN 'img/fake' ELSE 'audio/wav' END AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  /** C107: exact audio telemetry under the driver oracle
    * ([[Multimodal.audioStats]]) — the CONTENT read beside C89's
    * header-only metadata: per clip, the PCM section's sample count,
    * energy Σ(s−128)², peak amplitude, zero crossings, and 6-dp RMS —
    * loudness/clipping/noisiness, the audio-curation gate (silent and
    * clipped clips are dropped before training the same way C26 drops
    * degenerate text). Payloads ride behind the C88 streaming WAV header;
    * the text is ASCII-transcoded (non-ASCII → '?') so the oracle's
    * char-level unicode() arithmetic equals the engine's byte-level walk
    * EXACTLY (1 char = 1 byte by construction — the transcoding is the
    * fixture's sample source, not part of the op). NULL texts make NULL
    * media and drop at the door (the C88 stance). All stats are exact
    * integers off one codegen pass at scan speed; RMS is one sqrt of an
    * exact ratio, floor(v·1e6+0.5)-quantized on both sides.
    */
  def mediaAudioStats(spark: SparkSession, dir: String): DataFrame = {
    val media = docs(spark, dir).select(col("doc_id"),
      concat(lit(Multimodal.wavHeaderStreaming()),
        encode(regexp_replace(col("text"), "[^\\x20-\\x7E]", "?"), "UTF-8"))
        .as("media"))
    Multimodal.audioStats(media, "doc_id", "media").orderBy("doc_id")
  }

  val mediaAudioStatsSql: String =
    """WITH sz AS (SELECT doc_id,
      |    regexp_replace(text, '[^\x20-\x7e]', '?', 'g') AS t
      |  FROM documents WHERE text IS NOT NULL),
      |u AS (SELECT doc_id,
      |    [unicode(c) - 128 FOR c IN list_filter(string_split(t, ''), c -> c <> '')] AS d
      |  FROM sz),
      |st AS (SELECT doc_id, len(d)::BIGINT AS n_samples,
      |    coalesce(list_sum([x * x FOR x IN d]), 0)::BIGINT AS energy_u,
      |    coalesce(list_max([abs(x) FOR x IN d]), 0)::BIGINT AS peak,
      |    coalesce(list_sum([CASE WHEN d[i] * d[i + 1] < 0 THEN 1 ELSE 0 END
      |      FOR i IN range(1, len(d))]), 0)::BIGINT AS crossings
      |  FROM u)
      |SELECT doc_id, n_samples, energy_u, peak, crossings,
      |  CASE WHEN n_samples > 0
      |    THEN floor(sqrt(energy_u::DOUBLE / n_samples) * 1000000 + 0.5) / 1e6
      |  END AS rms
      |FROM st ORDER BY doc_id""".stripMargin

  /** C90: REAL image-container metadata decode under the driver oracle —
    * the image counterpart of C89's WAV walk, shrinking the env-blocked
    * media gap to video only: per-doc payloads are genuine BMP files
    * ([[Multimodal.bmpBytes]] — fixed-offset little-endian header, no
    * CRC) with dimensions derived from the text's byte length, and
    * `decodeMedia(realCodec = true)` reads them back through the in-JDK
    * ImageIO BMP reader (header-only `getWidth(0)`/`getHeight(0)`, the
    * real codec seam — NOT the arithmetic that built them). The oracle
    * is closed-form because BMP is pure-integer: n_bytes = 54 +
    * ((3w+3)//4)·4·h, w/h from octet_length(text), format from the
    * reader's own name. A NULL text degrades to the stub's zeros (the
    * C12/C89 poison-row stance).
    */
  def mediaImageMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMedia(
      Multimodal.syntheticBmp(docs(spark, dir), "doc_id", "text"), "media",
      realCodec = Some(true))
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.format").as("format"))
      .orderBy("doc_id")

  val mediaImageMetaSql: String =
    """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents)
      |SELECT doc_id,
      |  CASE WHEN len IS NULL THEN 0
      |       ELSE 54 + ((3 * (1 + len % 64) + 3) // 4) * 4 * (1 + (len * 31) % 48)
      |  END::BIGINT AS n_bytes,
      |  CASE WHEN len IS NULL THEN 0 ELSE 1 + len % 64 END::INTEGER AS width,
      |  CASE WHEN len IS NULL THEN 0 ELSE 1 + (len * 31) % 48 END::INTEGER AS height,
      |  CASE WHEN len IS NULL THEN 'img/fake' ELSE 'img/bmp' END AS format
      |FROM b ORDER BY doc_id""".stripMargin

  /** C91: REAL PNG metadata decode under the driver oracle — C90's
    * second image container: payloads are genuine PNGs
    * ([[Multimodal.pngBytes]] — big-endian CRC32-trailed chunks, a
    * stored-block zlib IDAT so the byte size stays closed-form) with the
    * SAME dimension derivation as the BMP twin, and
    * `decodeMedia(realCodec = true)` reads them back through the in-JDK
    * ImageIO PNG reader (header-only dims, format from the reader's own
    * name — the real codec seam, not the arithmetic that built them).
    * Oracle: raw = h·(w+1) filter+pixel bytes, n_bytes = 63 +
    * 5·ceil(raw/65535) + raw. A NULL text degrades to the stub's zeros
    * (the C12/C89/C90 poison-row stance).
    */
  def mediaPngMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMedia(
      Multimodal.syntheticPng(docs(spark, dir), "doc_id", "text"), "media",
      realCodec = Some(true))
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.format").as("format"))
      .orderBy("doc_id")

  val mediaPngMetaSql: String =
    """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
      |d AS (SELECT doc_id, len,
      |        (1 + (len * 31) % 48) * ((1 + len % 64) + 1) AS raw FROM b)
      |SELECT doc_id,
      |  CASE WHEN len IS NULL THEN 0
      |       ELSE 63 + 5 * ((raw + 65534) // 65535) + raw END::BIGINT AS n_bytes,
      |  CASE WHEN len IS NULL THEN 0 ELSE 1 + len % 64 END::INTEGER AS width,
      |  CASE WHEN len IS NULL THEN 0 ELSE 1 + (len * 31) % 48 END::INTEGER AS height,
      |  CASE WHEN len IS NULL THEN 'img/fake' ELSE 'img/png' END AS format
      |FROM d ORDER BY doc_id""".stripMargin

  /** C93: REAL VIDEO-container metadata decode under the driver oracle —
    * the third and last modality's container (C89 audio, C90/C91 image),
    * shrinking the env-blocked media gap to frame-PIXEL codecs only:
    * payloads are genuine minimal AVIs ([[Multimodal.aviBytes]] —
    * `RIFF('AVI ')` with a full AVIMAINHEADER, a 'vids'/'DIB ' stream
    * header pair, and uncompressed BI_RGB frame chunks; dimensions,
    * frame count and frame rate all derive from octet_length(text)), and
    * [[Multimodal.aviMeta]] reads them back through the real
    * [[Multimodal.aviHeader]] chunk walk (descends RIFF → LIST(hdrl) →
    * avih by declared sizes — the container parse, not the arithmetic
    * that built the bytes). Oracle: ds = ((3w+3)//4)·4·h bytes per
    * frame, n_bytes = 224 + f·(8 + ds). A NULL text degrades to the
    * stub's zeros with zero frames (the C12/C89/C90/C91 poison-row
    * stance).
    */
  def mediaAviMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.aviMeta(
      Multimodal.syntheticAvi(docs(spark, dir), "doc_id", "text"),
      "doc_id", "media")
      .orderBy("doc_id")

  val mediaAviMetaSql: String =
    """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
      |d AS (SELECT doc_id, len,
      |        1 + len % 16 AS w, 1 + (len * 31) % 12 AS h,
      |        1 + (len * 7) % 8 AS f, 10000 * (1 + len % 5) AS uspf FROM b),
      |e AS (SELECT *, ((3 * w + 3) // 4) * 4 * h AS ds FROM d)
      |SELECT doc_id,
      |  CASE WHEN len IS NULL THEN 0
      |       ELSE 224 + f * (8 + ds) END::BIGINT AS n_bytes,
      |  CASE WHEN len IS NULL THEN 0 ELSE w END::INTEGER AS width,
      |  CASE WHEN len IS NULL THEN 0 ELSE h END::INTEGER AS height,
      |  CASE WHEN len IS NULL THEN 0 ELSE f END::INTEGER AS n_frames,
      |  CASE WHEN len IS NULL THEN 0 ELSE uspf END::BIGINT AS us_per_frame,
      |  CASE WHEN len IS NULL THEN 'img/fake' ELSE 'video/avi' END AS format
      |FROM e ORDER BY doc_id""".stripMargin

  /** C98: REAL video FRAME extraction under the driver oracle —
    * [[Multimodal.aviFrames]] walks each synthetic AVI's `LIST(movi)`
    * by declared chunk sizes and emits the actual `00db` BI_RGB frame
    * payloads (for a 'DIB ' stream those ARE raw pixel planes — no
    * codec involved, so the extraction is fully real end-to-end, ending
    * the byte-chunk stand-in for this container). The fixture fills
    * frame f with the repeating byte (len + f) mod 256, so the oracle
    * prices each extracted payload in closed form WITHOUT representing
    * bytes in SQL: frame_len = ((3w+3)//4)·4·h and byte_sum = frame_len
    * · ((len + idx) mod 256) — the native `graft_bytesum` codegen
    * expression sums the real bytes on the engine side (one scan-speed
    * pass). A wrong walk (off-by-one chunk offset, padding slip,
    * truncation mishandling) shifts every sum. NULL text → no frames
    * (the sampleFrames poison stance).
    */
  def mediaAviFrames(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Multimodal.aviFrames(
        Multimodal.syntheticAvi(docs(spark, dir), "doc_id", "text"),
        "doc_id", "media")
      .select(col("doc_id"), col("frame_idx"),
        octet_length(col("frame")).as("frame_len"),
        call_function("graft_bytesum", col("frame")).as("byte_sum"))
      .orderBy("doc_id", "frame_idx")
  }

  val mediaAviFramesSql: String =
    """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS len
      |    FROM documents WHERE text IS NOT NULL),
      |d AS (SELECT doc_id, len, 1 + len % 16 AS w, 1 + (len * 31) % 12 AS h,
      |        1 + (len * 7) % 8 AS f FROM b),
      |e AS (SELECT doc_id, len, f, ((3 * w + 3) // 4) * 4 * h AS ds FROM d),
      |x AS (SELECT doc_id, len, ds, unnest(range(0, f)) AS idx FROM e)
      |SELECT doc_id, idx::INTEGER AS frame_idx, ds::INTEGER AS frame_len,
      |  (ds * ((len + idx) % 256))::BIGINT AS byte_sum
      |FROM x ORDER BY doc_id, frame_idx""".stripMargin

  /** C108: per-video motion profile under the driver oracle
    * ([[Multimodal.motionProfile]]) — the CONTENT read beside C98's
    * frame extraction, and the video sibling of C107's audio telemetry:
    * total/peak/mean L1 byte change across consecutive REAL `movi`
    * frames — the static-video detector (slideshow padded as video →
    * near-zero motion → route to image dedup instead of video training;
    * a lone peak = a scene cut). The fixture fills frame f with the
    * repeating byte (len+f) mod 256, so each pair's distance is
    * closed-form (frame_len · |fill diff| — 1 per step, 255 at the
    * wraparound) and the oracle prices the whole profile without
    * representing bytes in SQL, while the engine diffs the REAL
    * extracted payloads via the `graft_bytediff` codegen pass — a wrong
    * chunk walk shifts every distance. Videos with < 2 frames emit
    * nothing (no motion definition).
    */
  def mediaMotion(spark: SparkSession, dir: String): DataFrame =
    // NULL ids drop at the door (no pair identity — the C96 stance);
    // without the explicit filter they would ALSO vanish, but only via
    // the pair equi-join's NULL semantics, which an oracle can't mirror
    Multimodal.motionProfile(
        Multimodal.syntheticAvi(docs(spark, dir).where(col("doc_id").isNotNull),
          "doc_id", "text"),
        "doc_id", "media")
      .orderBy("doc_id")

  val mediaMotionSql: String =
    """WITH b AS (SELECT doc_id, octet_length(encode(text)) AS len
      |    FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
      |d AS (SELECT doc_id, len, 1 + len % 16 AS w, 1 + (len * 31) % 12 AS h,
      |        1 + (len * 7) % 8 AS f FROM b),
      |e AS (SELECT doc_id, len, f, ((3 * w + 3) // 4) * 4 * h AS ds FROM d),
      |x AS (SELECT doc_id, len, ds, unnest(range(0, f - 1)) AS idx FROM e),
      |p AS (SELECT doc_id,
      |    ds * abs(((len + idx + 1) % 256) - ((len + idx) % 256)) AS m FROM x)
      |SELECT doc_id, count(*)::BIGINT AS n_pairs, sum(m)::BIGINT AS total_motion,
      |  max(m)::BIGINT AS peak_motion,
      |  floor(sum(m)::DOUBLE / count(*) * 1000000 + 0.5) / 1e6 AS mean_motion
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** C42: Naive Bayes self-distillation of the Gopher gate (see
    * [[TextOps.nbDistill]]) — the hard rule becomes a continuous
    * token-level quality score, the cheap-classifier curation pattern.
    */
  def qualityDistill(spark: SparkSession, dir: String): DataFrame = {
    val pass = TextOps.gopherColumns(col("text")).toMap.apply("pass") === 1
    TextOps.nbDistill(docs(spark, dir), pass).orderBy("doc_id")
  }

  /** Full NB recomputation: the label CTE is [[qualityGopherSql]]'s
    * per-doc rule; counts, Laplace arithmetic, and the ln expressions are
    * reproduced term-for-term (≤ doc-length addends per doc, 6-dp round
    * absorbs summation order as in [[textSurprisalSql]]).
    */
  val qualityDistillSql: String = {
    val en = TextOps.LangProfiles.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH t AS (SELECT doc_id, text,
       |    string_split(coalesce(text, ''), ' ') AS w FROM documents),
       |lab AS (SELECT doc_id, w,
       |  coalesce((CASE WHEN len(w) BETWEEN 20 AND 100000 THEN 1 ELSE 0 END)
       |  * (CASE WHEN list_sum([length(x) for x in w])::DOUBLE / len(w) BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END)
       |  * (CASE WHEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE / len(w) < 0.1 THEN 1 ELSE 0 END)
       |  * (CASE WHEN len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(w) >= 0.8 THEN 1 ELSE 0 END)
       |  * (CASE WHEN len(list_filter(w, x -> list_contains($en, x))) >= 2 THEN 1 ELSE 0 END), 0) AS y
       |  FROM t),
       |toks AS (SELECT doc_id, y, unnest(w) AS tok FROM lab),
       |wc AS (SELECT tok, sum(y)::BIGINT AS c_pos, sum(1 - y)::BIGINT AS c_neg
       |       FROM toks GROUP BY tok),
       |stats AS (SELECT sum(c_pos)::BIGINT AS n_pos, sum(c_neg)::BIGINT AS n_neg,
       |                 count(*)::BIGINT AS vocab FROM wc),
       |prior AS (SELECT sum(y)::BIGINT AS d_pos, sum(1 - y)::BIGINT AS d_neg FROM lab),
       |wt AS (SELECT tok,
       |    ln((c_pos + 1.0) / (n_pos + 1.0 * vocab)) - ln((c_neg + 1.0) / (n_neg + 1.0 * vocab)) AS w
       |  FROM wc CROSS JOIN stats),
       |sc AS (SELECT doc_id, sum(w) AS sw FROM toks JOIN wt USING (tok) GROUP BY doc_id)
       |SELECT doc_id,
       |  round(ln((d_pos + 1)::DOUBLE / (d_neg + 1)) + sw, 6) AS nb_log_odds,
       |  round(ln((d_pos + 1)::DOUBLE / (d_neg + 1)) + sw, 6) > 0 AS pred_pass
       |FROM sc CROSS JOIN prior ORDER BY doc_id""".stripMargin
  }

  /** C27: PII redaction. The corpus is synthetic and PII-free, so the
    * query plants a deterministic contact string per customer row (same
    * construction in the oracle) and the operator scrubs it — emails,
    * IPv4s, SSN-shaped ids, phone numbers → typed placeholders with
    * per-category counts.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val contact = concat(
      lit("Contact "), col("c_name"),
      lit(" <user"), col("c_custkey").cast("string"), lit("@example.com>"),
      lit(" +1-555-"), lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0"),
      lit(" from 10.0."), pmod(col("c_custkey"), lit(256)).cast("string"),
      lit("."), pmod(col("c_custkey") * 7, lit(256)).cast("string"),
      when(pmod(col("c_custkey"), lit(3)) === 0, lit(" id 123-45-6789")).otherwise(lit("")))
    val cols = TextOps.piiColumns(contact).map { case (n, c) => c.as(n) }
    // spread before the scrub: 8 chained regex extract/replace passes per
    // row, and the compact customer parquet arrives as one scan split
    graft.io.DataFrames.spread(Tables.load(spark, dir, "customer"))
      .select(col("c_custkey") +: cols: _*).orderBy("c_custkey")
  }

  val piiScrubSql: String = {
    // the Scala pattern literals hold single backslashes, which DuckDB's
    // standard single-quoted strings pass through to RE2 verbatim
    val Seq(email, ip, id, phone) = TextOps.PiiPatterns.map(_._2)
    s"""WITH t AS (SELECT c_custkey,
       |  'Contact ' || c_name || ' <user' || c_custkey || '@example.com>'
       |    || ' +1-555-' || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
       |    || ' from 10.0.' || (c_custkey % 256) || '.' || ((c_custkey * 7) % 256)
       |    || CASE WHEN c_custkey % 3 = 0 THEN ' id 123-45-6789' ELSE '' END AS text
       |  FROM customer),
       |s1 AS (SELECT c_custkey, len(regexp_extract_all(text, '$email'))::BIGINT AS n_email,
       |  regexp_replace(text, '$email', '<EMAIL>', 'g') AS text FROM t),
       |s2 AS (SELECT c_custkey, n_email, len(regexp_extract_all(text, '$ip'))::BIGINT AS n_ip,
       |  regexp_replace(text, '$ip', '<IP>', 'g') AS text FROM s1),
       |s3 AS (SELECT c_custkey, n_email, n_ip, len(regexp_extract_all(text, '$id'))::BIGINT AS n_id,
       |  regexp_replace(text, '$id', '<ID>', 'g') AS text FROM s2),
       |s4 AS (SELECT c_custkey, n_email, n_ip, n_id,
       |  len(regexp_extract_all(text, '$phone'))::BIGINT AS n_phone,
       |  regexp_replace(text, '$phone', '<PHONE>', 'g') AS scrubbed FROM s3)
       |SELECT c_custkey, n_email, n_ip, n_id, n_phone, scrubbed
       |FROM s4 ORDER BY c_custkey""".stripMargin
  }

  /** C82: Unicode text normalization — the curation stage that runs AHEAD
    * of every dedup/fingerprint op so composed vs decomposed spellings,
    * zero-width-injected copies, and case variants of the same document
    * hash identically. One native codegen'd expression
    * ([[graft.functions.NormalizeText]]): strip zero-width + controls →
    * NFC → simple per-codepoint case fold (the context-free mapping
    * DuckDB/utf8proc `lower` also implements — NOT `String.toLowerCase`,
    * whose final-sigma/locale rules diverge cross-engine; the fixture
    * plants Σ…Σ and İ to pin this). The synthetic corpus is ASCII, so
    * each doc is decorated with a deterministic unicode prefix by
    * `doc_id % 5` (decomposed accents / zero-width / controls / composed
    * + Greek + dotted-I / none) — the last branch proves the identity
    * path, `changed = false`.
    *
    * Scale: embarrassingly parallel narrow map over the text column —
    * no shuffle at all (the orderBy is presentation-only); at 100 TB
    * this is a pure scan-transform stage that fuses into whatever
    * pipeline consumes it.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val deco = when(pmod(col("doc_id"), lit(5)) === 0,
        lit("A\u0301 CAFE\u0301 ")) // decomposed: NFC composes, then folds
      .when(pmod(col("doc_id"), lit(5)) === 1,
        lit("Z\u200bW\u200dJ\ufeff ")) // zero-width chars: stripped
      .when(pmod(col("doc_id"), lit(5)) === 2,
        lit("CTRL\u0007\u0001\u009f-X\tOK ")) // controls stripped, tab kept
      .when(pmod(col("doc_id"), lit(5)) === 3,
        // E-acute, sigma...final-sigma context, dotted I — pins the
        // SIMPLE case mapping both engines implement
        lit("\u00c9clair \u03a3\u039f\u03a6\u039f\u03a3 \u0130st "))
      .otherwise(lit("")) // identity path: text is already normalized
    docs(spark, dir)
      .select(col("doc_id"), concat(deco, col("text")).as("raw"))
      .select(col("doc_id"), col("raw"),
        call_function("graft_normalize_text", col("raw")).as("norm"))
      .select(col("doc_id"), col("norm"),
        length(col("raw")).cast("long").as("n_raw"),
        length(col("norm")).cast("long").as("n_norm"),
        (col("norm") =!= col("raw")).as("changed"))
      .orderBy("doc_id")
  }

  val textNormalizeSql: String =
    """WITH t AS (SELECT doc_id,
      |  CASE doc_id % 5
      |    WHEN 0 THEN 'A' || chr(769) || ' CAFE' || chr(769) || ' '
      |    WHEN 1 THEN 'Z' || chr(8203) || 'W' || chr(8205) || 'J' || chr(65279) || ' '
      |    WHEN 2 THEN 'CTRL' || chr(7) || chr(1) || chr(159) || '-X' || chr(9) || 'OK '
      |    WHEN 3 THEN chr(201) || 'clair ' || chr(931) || chr(927) || chr(934)
      |                || chr(927) || chr(931) || ' ' || chr(304) || 'st '
      |    ELSE '' END || text AS raw FROM documents),
      |n AS (SELECT doc_id, raw,
      |  lower(nfc_normalize(regexp_replace(raw,
      |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{0080}-\x{009F}\x{200B}-\x{200D}\x{FEFF}]',
      |    '', 'g'))) AS norm FROM t)
      |SELECT doc_id, norm, length(raw)::BIGINT AS n_raw,
      |  length(norm)::BIGINT AS n_norm,
      |  norm <> raw AS changed
      |FROM n ORDER BY doc_id""".stripMargin

  /** C28: exact per-source heavy hitters (tokens with count > n/k) via the
    * Misra–Gries sketch-then-recount plan — the oracle recomputes the full
    * (source, token) counts directly; same answer, but the sketch plan
    * replaces the vocabulary-sized shuffle with an O(groups × 2k) candidate
    * set plus a broadcast recount.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    graft.ops.text.CorpusStats.heavyHitters(docs(spark, dir), k = 25)

  val heavyHittersSql: String =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      |n AS (SELECT source, count(*) AS n_tokens FROM toks GROUP BY source),
      |c AS (SELECT source, token, count(*) AS cnt FROM toks GROUP BY source, token)
      |SELECT source, token, cnt, n_tokens
      |FROM c JOIN n USING (source) WHERE cnt * 25 > n_tokens
      |ORDER BY source, token""".stripMargin

  /** C32: per-source corpus quality report — the telemetry table a curation
    * run publishes: document counts, Gopher-gate pass rate, repetition and
    * entropy means, token totals. One narrow per-doc projection (the same
    * staged signals as C25/C26) and one keyed aggregation; at corpus scale
    * the groupBy reduces map-side to |sources| rows. Means are computed as
    * exact integer/centi-unit sums divided once, so the oracle matches
    * bit-for-bit without FP-order tricks.
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val gopher = TextOps.gopherColumns(col("text")).map { case (n, c) => c.as(n) }
    val perDoc = d.select(col("source") +: gopher: _*)
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("pass").as("n_pass"),
        sum("ok_stopwords").as("n_ok_stopwords"),
        (sum("pass").cast("double") / count(lit(1))).as("pass_rate"))
      .orderBy("source")
  }

  val corpusReportSql: String = {
    val en = TextOps.LangProfiles.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH t AS (SELECT source, text, string_split(text, ' ') AS w FROM documents),
       |f AS (SELECT source, len(w)::BIGINT AS n_tokens,
       |  CASE WHEN len(w) BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS ok_token_count,
       |  CASE WHEN list_sum([length(x) for x in w])::DOUBLE / len(w) BETWEEN 3.0 AND 10.0
       |       THEN 1 ELSE 0 END AS ok_mean_word_len,
       |  CASE WHEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE
       |            / len(w) < 0.1 THEN 1 ELSE 0 END AS ok_symbol_ratio,
       |  CASE WHEN len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
       |            / len(w) >= 0.8 THEN 1 ELSE 0 END AS ok_alpha_words,
       |  CASE WHEN len(list_filter(w, x -> list_contains($en, x))) >= 2
       |       THEN 1 ELSE 0 END AS ok_stopwords
       |  FROM t),
       |g AS (SELECT source, n_tokens, ok_stopwords,
       |    ok_token_count * ok_mean_word_len * ok_symbol_ratio * ok_alpha_words
       |      * ok_stopwords AS pass
       |  FROM f)
       |SELECT source, count(*) AS n_docs,
       |  sum(n_tokens)::BIGINT AS total_tokens,
       |  sum(pass)::BIGINT AS n_pass,
       |  sum(ok_stopwords)::BIGINT AS n_ok_stopwords,
       |  sum(pass)::DOUBLE / count(*) AS pass_rate
       |FROM g GROUP BY source ORDER BY source""".stripMargin
  }

  /** C37: exact per-source token-count percentiles — the length
    * distribution a curation run reports next to [[corpusReport]]'s means
    * (sequence-length budgeting for [[TextOps.packSequences]] and chunk
    * sizing read p50/p90, outlier gates read p99). Exact sort-based
    * percentiles are right here because groups are bounded (|sources|);
    * whole-corpus percentiles at 100 TB should use approx_percentile
    * instead (see [[graft.ops.stats.Stats.percentilesBy]]).
    */
  def corpusPercentiles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.stats.Stats.percentilesBy(
      docs(spark, dir), "source", size(TextOps.tokens(col("text"))),
      pcts = Seq(0.25, 0.5, 0.9, 0.99),
      fewGroupsHint = Some(true)) // |sources| is a bounded enum
      .orderBy("source")

  /** Both engines implement ANSI PERCENTILE_CONT (linear interpolation at
    * rank p·(n−1)) with identical double arithmetic.
    */
  val corpusPercentilesSql: String =
    """WITH d AS (SELECT source, len(string_split(text, ' '))::DOUBLE AS n_tok FROM documents)
      |SELECT source, count(*) AS n,
      |  round(quantile_cont(n_tok, 0.25), 6) AS p25,
      |  round(quantile_cont(n_tok, 0.5), 6) AS p50,
      |  round(quantile_cont(n_tok, 0.9), 6) AS p90,
      |  round(quantile_cont(n_tok, 0.99), 6) AS p99
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** C39: WHOLE-corpus token-count quantiles from the power-of-two
    * histogram sketch ([[graft.ops.stats.Stats.histQuantiles]]) — the
    * single-global-group case [[corpusPercentiles]]'s exact aggregate
    * cannot scale to (it would materialise every length in one task);
    * the sketch reduces map-side to ~20 bucket counts total.
    */
  def corpusHistQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.stats.Stats.histQuantiles(
      docs(spark, dir).select(lit("corpus").as("scope"), col("text")),
      "scope", size(TextOps.tokens(col("text"))),
      pcts = Seq(0.25, 0.5, 0.9, 0.99))

  /** The bucket rule is integer-exact in both engines (bit length of
    * v+1, no floating log); rank arithmetic and the in-bucket linear
    * interpolation are reproduced operation-for-operation.
    */
  val corpusHistQuantilesSql: String =
    """WITH d AS (SELECT 'corpus' AS scope,
      |    len(string_split(text, ' '))::BIGINT AS v FROM documents
      |  WHERE text IS NOT NULL),
      |sk AS (SELECT scope, length(bin(v + 1)) - 1 AS b, count(*) AS cnt
      |       FROM d GROUP BY scope, b),
      |c AS (SELECT *,
      |    sum(cnt) OVER (PARTITION BY scope ORDER BY b) AS cum,
      |    sum(cnt) OVER (PARTITION BY scope) AS n FROM sk),
      |e AS (SELECT *, cum - cnt AS cum_before FROM c),
      |ps AS (SELECT unnest([0.25, 0.5, 0.9, 0.99]::DOUBLE[]) AS p),
      |j AS (SELECT scope, p, n::BIGINT AS n, b, cnt, cum_before, p * (n - 1) + 1 AS r
      |      FROM e CROSS JOIN ps
      |      WHERE cum_before < p * (n - 1) + 1 AND p * (n - 1) + 1 <= cum)
      |SELECT scope, p, n,
      |  round(((1::BIGINT << b) - 1)::DOUBLE
      |    + ((1::BIGINT << b) - 1)::DOUBLE * (r - cum_before) / cnt, 6) AS est
      |FROM j ORDER BY scope, p""".stripMargin

  /** C38: BM25 relevance against a fixed topic-term set — ranked-retrieval
    * scoring for query-targeted curation (see [[TextOps.bm25]]).
    */
  def textBm25(spark: SparkSession, dir: String): DataFrame =
    TextOps.bm25(docs(spark, dir), queryTerms = Seq("spark", "query", "table"))
      .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))
      .orderBy("doc_id")

  /** Exact recomputation: Lucene `+1` idf, identical ln/division
    * arithmetic; ≤3 addends per doc, 6-dp round absorbs summation order.
    */
  val textBm25Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |stats AS (SELECT count(*)::DOUBLE AS nd, avg(len(ws)) AS avgdl FROM d),
      |t AS (SELECT doc_id, len(ws)::DOUBLE AS dl, unnest(ws) AS term FROM d),
      |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf, min(dl) AS dl
      |       FROM t WHERE term IN ('spark', 'query', 'table') GROUP BY doc_id, term),
      |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
      |SELECT doc_id, round(sum(
      |    ln((nd - df + 0.5) / (df + 0.5) + 1) * tf * 2.2
      |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |  ), 6) AS bm25
      |FROM tf JOIN df USING (term) CROSS JOIN stats
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** C55: Flesch reading-ease readability over the corpus — the
    * dictionary-free quality signal (see [[TextOps.readabilityColumns]];
    * integer counts + one closed-form double, scan-speed, no shuffle).
    */
  def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val cols = TextOps.readabilityColumns(col("text")).map { case (n, c) => c.as(n) }
    docs(spark, dir).select(col("doc_id") +: cols: _*).orderBy("doc_id")
  }

  val textReadabilitySql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' '))::BIGINT AS n_words,
      |  greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS n_sentences,
      |  len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS n_syllables,
      |  round(206.835
      |    - 1.015 * (len(string_split(text, ' '))::DOUBLE
      |               / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
      |    - 84.6 * (len(regexp_extract_all(lower(text), '[aeiouy]+'))::DOUBLE
      |              / len(string_split(text, ' '))), 6) AS flesch
      |FROM documents ORDER BY doc_id""".stripMargin

  /** C56: Zipf profile of the corpus vocabulary — the top-50 tokens by
    * frequency with their rank, plus the log-log OLS slope over those
    * points (a healthy natural-language corpus sits near −1; template- or
    * spam-dominated corpora flatten toward 0, so the slope is a cheap
    * whole-corpus drift monitor).
    *
    * Scale shape: one keyed token count (map-side combined), then the
    * top-50 via `orderBy(...).limit(50)` — Spark plans
    * TakeOrderedAndProject, a DISTRIBUTED per-partition top-k merged on
    * the driver, never a global sort or a single-task window over the
    * vocabulary. Ranks and the 50-point regression run on the 50
    * surviving rows; the slope re-attaches as a 1-row broadcast cross
    * join. 6-dp round absorbs the 50-addend summation-order drift.
    */
  def corpusZipf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = docs(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("t"))
      .where(length(col("t")) > 0)
      .groupBy("t").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("t")).limit(50)
    val ranked = freq.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("t"))).cast("long"))
    val x = log(col("rank").cast("double"))
    val y = log(col("freq").cast("double"))
    val slope = ranked.agg(count(lit(1)).cast("double").as("k"),
        sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      .select(round((col("k") * col("sxy") - col("sx") * col("sy"))
        / (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
    ranked.crossJoin(slope).orderBy("rank")
  }

  val corpusZipfSql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |f AS (SELECT t, count(*) AS freq FROM tok WHERE len(t) > 0 GROUP BY t),
      |r AS (SELECT t, freq, row_number() OVER (ORDER BY freq DESC, t) AS rank FROM f
      |      QUALIFY rank <= 50),
      |s AS (SELECT round((count(*)*sum(ln(rank)*ln(freq)) - sum(ln(rank))*sum(ln(freq)))
      |        / (count(*)*sum(ln(rank)*ln(rank)) - sum(ln(rank))*sum(ln(rank))), 6)
      |        AS zipf_slope FROM r)
      |SELECT t, freq, rank, zipf_slope FROM r CROSS JOIN s ORDER BY rank""".stripMargin

  /** C58: vocabulary coverage curve — for each budget k, the fraction of
    * the corpus token MASS covered by the top-k tokens (the
    * tokenizer/vocab-budget diagnostic: how big must a vocab be before
    * OOV mass is negligible). Exact integer arithmetic throughout
    * (frequency sums, cumulative mass), one double division per output
    * row.
    *
    * Scale shape: one keyed token count, then the top-max(k) rows via
    * `orderBy().limit()` = TakeOrderedAndProject (distributed top-k, the
    * C56 rule); the cumulative sum windows over that BOUNDED set (≤ the
    * largest budget, here 50 rows), and the total mass is a 1-row
    * broadcast cross join. The vocabulary itself never sorts globally.
    */
  def corpusCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budgets = Seq(5, 10, 20, 50)
    val tok = docs(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("t"))
      .where(length(col("t")) > 0)
    val total = tok.agg(count(lit(1)).as("total_mass"))
    val top = tok.groupBy("t").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("t")).limit(budgets.max)
    val cum = top.withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("t"))).cast("long"))
      .withColumn("top_mass",
        sum("freq").over(Window.orderBy(col("freq").desc, col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ks = { import spark.implicits._; budgets.toDF("k") }
    // a budget beyond the vocabulary covers the whole vocabulary: clamp
    // each k to the top table's size (exact full coverage, never a
    // missing row on small corpora)
    val maxRank = cum.agg(max("rank").as("max_rank"))
    ks.crossJoin(maxRank)
      .join(cum, col("rank") === least(col("k").cast("long"), col("max_rank")))
      .crossJoin(total)
      .select(col("k"), col("top_mass"), col("total_mass"),
        round(col("top_mass").cast("double") / col("total_mass"), 6).as("coverage"))
      .orderBy("k")
  }

  val corpusCoverageSql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |tt AS (SELECT t FROM tok WHERE len(t) > 0),
      |total AS (SELECT count(*) AS total_mass FROM tt),
      |f AS (SELECT t, count(*) AS freq FROM tt GROUP BY t),
      |r AS (SELECT t, freq, row_number() OVER w AS rank,
      |        sum(freq) OVER (w ROWS UNBOUNDED PRECEDING)::BIGINT AS top_mass
      |      FROM f WINDOW w AS (ORDER BY freq DESC, t)
      |      QUALIFY rank <= 50)
      |SELECT k, top_mass, total_mass,
      |  round(top_mass::DOUBLE / total_mass, 6) AS coverage
      |FROM (SELECT unnest([5, 10, 20, 50]) AS k)
      |CROSS JOIN (SELECT max(rank) AS max_rank FROM r)
      |JOIN r ON rank = least(k, max_rank)
      |CROSS JOIN total ORDER BY k""".stripMargin

  /** C40: top-3 salient terms per document by TF-IDF (see
    * [[TextOps.tfidfTopK]]) — ranked through the TopKPerKey rewrite, so
    * only 3·|docs| rows survive to the final exchange.
    */
  def docTfidfTopk(spark: SparkSession, dir: String): DataFrame =
    TextOps.tfidfTopK(docs(spark, dir), k = 3)
      .orderBy("doc_id", "rank")

  /** Scores round to 6 dp BEFORE the rank window in both engines, so
    * near-ties collapse identically and the term tie-break decides.
    */
  val docTfidfTopkSql: String =
    """WITH n AS (SELECT count(*)::DOUBLE AS nd FROM documents),
      |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM t GROUP BY doc_id, term),
      |df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
      |s AS (SELECT doc_id, term, round(tf * ln((nd + 1) / (df + 1)), 6) AS tfidf
      |      FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      |      FROM s)
      |SELECT doc_id, rank::INTEGER AS rank, term, tfidf FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** C15: unigram-LM surprisal quality scoring (two-pass: corpus token
    * frequencies → per-doc mean negative log-prob).
    */
  def textSurprisal(spark: SparkSession, dir: String): DataFrame =
    TextOps.unigramSurprisal(docs(spark, dir))

  val textSurprisalSql: String =
    """WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |total AS (SELECT count(*)::DOUBLE t FROM toks),
      |lm AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok)
      |SELECT id, round(-sum(ln(tf / (SELECT t FROM total))) / count(*), 6) AS mean_surprisal,
      |  count(*) AS n_tokens
      |FROM toks JOIN lm USING (tok)
      |GROUP BY id ORDER BY id""".stripMargin

  /** C61: lexical-diversity telemetry per source — token count, vocabulary
    * size, Shannon entropy (nats) and Simpson concentration of the token
    * distribution. The mixture-health dial next to [[corpusZipf]]: a
    * source whose entropy collapses (or Simpson spikes) is template spam
    * regardless of its volume. Entropy via the sufficient-statistics
    * identity H = ln N − Σ tf·ln tf / N, so one (source, token) count
    * aggregate feeds one per-source aggregate — two keyed map-combined
    * shuffles, no windows, no joins; rounding at the end only, the same
    * discipline as the surprisal oracles.
    */
  def corpusDiversity(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("tf"))
      .groupBy("source")
      .agg(sum("tf").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("tf").cast("double") * log(col("tf").cast("double"))).as("s1"),
        sum(col("tf").cast("double") * col("tf").cast("double")).as("s2"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(log(col("n_tokens").cast("double"))
          - col("s1") / col("n_tokens"), 6).as("shannon"),
        round(col("s2") / (col("n_tokens").cast("double") * col("n_tokens")), 6)
          .as("simpson"))
      .orderBy("source")

  val corpusDiversitySql: String =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, count(*)::DOUBLE AS tf
      |  FROM toks GROUP BY source, tok),
      |a AS (SELECT source, sum(tf) AS n, count(*) AS vocab,
      |    sum(tf * ln(tf)) AS s1, sum(tf * tf) AS s2
      |  FROM c GROUP BY source)
      |SELECT source, n::BIGINT AS n_tokens, vocab,
      |  round(ln(n) - s1 / n, 6) AS shannon,
      |  round(s2 / (n * n), 6) AS simpson
      |FROM a ORDER BY source""".stripMargin

  /** C70: top-20 collocations by pointwise mutual information — bigrams
    * whose parts co-occur far above chance (PMI = ln P(u,w)/(P(u)P(w)),
    * Church & Hanks 1990), the phrase-mining/tokenizer-merge-candidate
    * signal raw frequency can't give (frequent bigrams of frequent words
    * score ~0; "los angeles" scores high). A min-count floor (≥ 5) drops
    * the hapax pairs whose PMI is maximal by accident — the standard
    * guard. Two keyed map-combined count aggs (unigrams, bigrams), two
    * keyed joins to attach part counts, totals as 1-row broadcast cross
    * joins; all PMI inputs are exact integers and the ln expression is
    * term-identical in the oracle, so the doubles agree bit-for-bit;
    * top-20 via orderBy().limit() = TakeOrderedAndProject (per-partition
    * heaps, no vocabulary-sized sort).
    */
  def corpusPmi(spark: SparkSession, dir: String): DataFrame = {
    val ws = docs(spark, dir).select(TextOps.tokens(col("text")).as("ws"))
      .staged
    val uni = ws.select(explode(col("ws")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum("c").cast("double").as("n_uni"))
    val bi = ws.where(size(col("ws")) >= 2)
      .select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val mTot = bi.agg(sum("n").cast("double").as("m_bi"))
    bi.where(col("n") >= 5)
      .join(uni.select(col("tok").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(totals).crossJoin(mTot)
      .select(col("w1"), col("w2"), col("n"),
        round(log((col("n").cast("double") / col("m_bi")) /
          ((col("c1").cast("double") / col("n_uni")) *
            (col("c2").cast("double") / col("n_uni")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val corpusPmiSql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
      |uni AS (SELECT tok, count(*) AS c FROM (
      |  SELECT unnest(w) AS tok FROM t) s GROUP BY tok),
      |tot AS (SELECT sum(c)::DOUBLE AS n_uni FROM uni),
      |bi AS (SELECT w1, w2, count(*) AS n FROM (
      |  SELECT unnest([w[i] for i in range(1, len(w))]) AS w1,
      |         unnest([w[i+1] for i in range(1, len(w))]) AS w2
      |  FROM t WHERE len(w) >= 2) s GROUP BY w1, w2),
      |m AS (SELECT sum(n)::DOUBLE AS m_bi FROM bi)
      |SELECT w1, w2, n,
      |  round(ln((n::DOUBLE / m_bi) / ((c1::DOUBLE / n_uni) * (c2::DOUBLE / n_uni))), 6) AS pmi
      |FROM bi
      |JOIN (SELECT tok AS w1, c AS c1 FROM uni) u1 USING (w1)
      |JOIN (SELECT tok AS w2, c AS c2 FROM uni) u2 USING (w2), tot, m
      |WHERE n >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  /** C63: top-10 bigram phrases per source (count desc, phrase asc
    * tiebreak) — the phrase-level template detector next to
    * [[corpusDiversity]]: a boilerplate opener dominates its source's top
    * bigrams long before single-token Zipf notices. The bigram stream
    * reuses the zip_with-of-slices build (no per-element re-split); the
    * rank ≤ 10 window is the TopKPerKey shape, so per-source heaps prune
    * before the exchange and the vocabulary-sized count table never
    * sorts whole.
    */
  def corpusNgramTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("n").desc, col("bigram"))
    docs(spark, dir)
      .select(col("source"), TextOps.tokens(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("source"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .groupBy("source", "bigram").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("source"), col("rank").cast("long").as("rank"),
        col("bigram"), col("n"))
      .orderBy("source", "rank")
  }

  val corpusNgramTopkSql: String =
    """WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT source,
      |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
      |  FROM t WHERE len(w) >= 2),
      |c AS (SELECT source, bigram, count(*) AS n FROM g GROUP BY source, bigram),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY n DESC, bigram) AS rank FROM c)
      |SELECT source, rank, bigram, n FROM r WHERE rank <= 10
      |ORDER BY source, rank""".stripMargin

  /** C66: winnowing fingerprint selection ([[TextOps.winnow]], MOSS —
    * k=5 char grams, window w=4, rightmost-minimum rule): the
    * plagiarism/clone-detection fingerprint family next to the CDC
    * passage chunker (C36) — winnowing guarantees a shared substring of
    * ≥ k+w−1 chars produces an identical fingerprint in both documents
    * at ANY offset. Selection is narrow per-document array work (no
    * shuffle at all in this query); the oracle reproduces the
    * window-minimum + rightmost tie-break relationally (per-window
    * rank over the g×g band join) on the same md5-prefix gram hashes.
    */
  def textWinnowing(spark: SparkSession, dir: String): DataFrame =
    TextOps.winnow(docs(spark, dir)).orderBy("doc_id", "pos")

  /** Shared winnowing-selection oracle fragment (expects a `dd(doc_id,
    * text)` CTE in scope): the per-window rightmost-minimum is ONE packed
    * sliding-window `min` — key = h·2²⁰ + (2²⁰−1−i) orders by (h asc,
    * i desc), the constant 4-gram frame replaces the g×g band join whose
    * per-window `row_number` (|text| partitions per doc) timed the sf1
    * replica out. Decode recovers (h, p) exactly; i < 2²⁰ bounds any
    * realistic document (the engine explodes the same positions).
    */
  // lazy: scrubWinnowSql consumes this fragment from EARLIER in the object
  // initializer — a strict val here would still be null at that point
  private lazy val winnowSelSql: String =
    """g AS (SELECT doc_id, len(text) - 4 AS n, t.i,
      |    ('0x' || substring(md5(substring(text, i::INTEGER, 5)), 1, 8))::BIGINT AS h
      |  FROM dd, LATERAL unnest(range(1, len(text) - 3)) t(i)),
      |wmin AS (SELECT doc_id, n, i AS st,
      |    min(h * 1048576 + (1048575 - i)) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS packed
      |  FROM g),
      |sel AS (SELECT doc_id, 1048575 - (packed % 1048576) AS p, packed // 1048576 AS h
      |  FROM wmin WHERE st <= n - 3)""".stripMargin

  val textWinnowingSql: String =
    "WITH dd AS (SELECT doc_id, text FROM documents WHERE len(text) >= 8),\n" +
      winnowSelSql +
      "\nSELECT DISTINCT doc_id, p AS pos, h AS fp FROM sel" +
      "\nORDER BY doc_id, pos"

  /** C67: near-duplicate pair detection over the C66 winnowing
    * fingerprints — the clone-detector completing the dedup family: where
    * MinHash (C3) estimates whole-document set similarity, shared
    * winnowing fingerprints witness shared CONTIGUOUS substrings (each
    * common fingerprint certifies a common k-gram; the winnowing
    * guarantee makes misses impossible for shared runs ≥ k+w−1 chars).
    * Top-100 pairs by fingerprint containment (shared / smaller side).
    *
    * Scale shape: only (doc_id, fp) int pairs ever shuffle — text stays
    * in the scan. The document-frequency guard (df ≤ 50) drops
    * boilerplate fingerprints before the self-join, capping any
    * posting list at df²/2 candidate pairs — the same hot-key stance as
    * the MinHash band join and the contamination gram guard. Pair
    * counting is one keyed aggregate; the final ranking rides
    * TakeOrderedAndProject per-partition heaps, never a global sort.
    */
  def dedupWinnow(spark: SparkSession, dir: String): DataFrame = {
    val fps = graft.ops.text.TextOps.winnow(docs(spark, dir))
      .select(col("doc_id"), col("fp")).distinct()
    val dfreq = fps.groupBy("fp").agg(count(lit(1)).as("df"))
    val keep = fps.join(dfreq.where(col("df") <= 50).select("fp"), Seq("fp"))
    val sz = keep.groupBy("doc_id").agg(count(lit(1)).as("n"))
    keep.as("x").join(keep.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .join(sz.as("sa"), col("a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), col("shared"),
        round(col("shared").cast("double") /
          least(col("sa.n"), col("sb.n")), 6).as("overlap"))
      .orderBy(col("overlap").desc, col("a"), col("b")).limit(100)
  }

  val dedupWinnowSql: String =
    "WITH dd AS (SELECT doc_id, text FROM documents WHERE len(text) >= 8),\n" +
      winnowSelSql + ",\n" +
      """f AS MATERIALIZED (SELECT DISTINCT doc_id, h AS fp FROM sel),
        |dfreq AS (SELECT fp, count(*) AS df FROM f GROUP BY fp),
        |keep AS MATERIALIZED (SELECT f.doc_id, f.fp FROM f JOIN dfreq USING (fp) WHERE df <= 50),
        |szk AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM keep GROUP BY doc_id),
        |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
        |  FROM keep x JOIN keep y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, shared,
        |  round(shared::DOUBLE / least(sa.n, sb.n), 6) AS overlap
        |FROM pr JOIN szk sa ON sa.doc_id = a JOIN szk sb ON sb.doc_id = b
        |ORDER BY overlap DESC, a, b LIMIT 100""".stripMargin

  /** C85: incremental winnowing dedup ([[Dedup.winnowIncrement]]) — the
    * src0 batch probes a [[Dedup.winnowIndex]] built over the rest of the
    * corpus (inline + localCheckpoint here, a persisted parquet in
    * production): containment-thresholded pairs with ≥ 1 batch side,
    * equal by construction to the full-corpus winnow pair pass restricted
    * to the batch (WinnowIncrementSpec proves the restriction equality).
    * Completes the ingest-time story the minhash family already has
    * (C3b): exact-substring dedup now also runs per-batch.
    */
  def dedupWinnowInc(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.winnowIncrement(
      d.where(col("source") === "src0"),
      Dedup.winnowIndex(d.where(col("source") =!= "src0")).staged,
      minOverlap = 0.5)
  }

  /** Same asymptotics as [[dedupWinnowSql]] (sf1-proven): packed
    * sliding-window selection, df-guarded posting join — plus the is_new
    * flag and the (x.is_new OR y.is_new) batch restriction from the
    * dedup_incremental oracle. Threshold compares the ROUNDED overlap,
    * matching the engine exactly.
    */
  lazy val dedupWinnowIncSql: String =
    "WITH dd AS (SELECT doc_id, text FROM documents WHERE len(text) >= 8),\n" +
      winnowSelSql + ",\n" +
      """f AS MATERIALIZED (SELECT DISTINCT doc_id, h AS fp FROM sel),
        |flag AS (SELECT f.doc_id, f.fp, d.source = 'src0' AS is_new
        |  FROM f JOIN documents d USING (doc_id)),
        |dfreq AS (SELECT fp, count(*) AS df FROM flag GROUP BY fp),
        |keep AS MATERIALIZED (SELECT flag.* FROM flag JOIN dfreq USING (fp) WHERE df <= 50),
        |szk AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM keep GROUP BY doc_id),
        |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
        |  FROM keep x JOIN keep y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |    AND (x.is_new OR y.is_new)
        |  GROUP BY 1, 2)
        |SELECT a, b, shared,
        |  round(shared::DOUBLE / least(sa.n, sb.n), 6) AS overlap
        |FROM pr JOIN szk sa ON sa.doc_id = a JOIN szk sb ON sb.doc_id = b
        |WHERE round(shared::DOUBLE / least(sa.n, sb.n), 6) >= 0.5
        |ORDER BY a, b""".stripMargin

  // ---- C35: bigram-LM surprisal -------------------------------------------

  def textBigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    TextOps.bigramSurprisal(docs(spark, dir)).withColumnRenamed("id", "doc_id")

  val textBigramSurprisalSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |g AS (SELECT doc_id,
      |    unnest([w[i] for i in range(1, len(w))]) AS u,
      |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      |  FROM t WHERE len(w) >= 2),
      |cb AS (SELECT bg, count(*) AS tf FROM g GROUP BY bg),
      |ch AS (SELECT u, count(*) AS hf FROM g GROUP BY u),
      |vt AS (SELECT count(DISTINCT tok) AS vocab FROM
      |  (SELECT unnest(string_split(text, ' ')) tok FROM documents)),
      |s AS (SELECT g.doc_id, ln((cb.tf + 1)::DOUBLE / (ch.hf + vt.vocab)) AS lp
      |  FROM g JOIN cb USING (bg) JOIN ch USING (u), vt)
      |SELECT doc_id, round(-sum(lp) / count(*), 6) AS mean_surprisal,
      |  count(*) AS n_bigrams
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** C16: greedy sequence packing for training batches — deterministic
    * layout (`part = doc_id mod 8`) so the output is independent of file
    * splits and fully oracle-checkable; the oracle reproduces the greedy
    * fold as a recursive CTE. `doc_ids` is emitted comma-joined (the
    * library keeps the array) so the driver's pandas compare can hash it.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(docs(spark, dir), tokenBudget = 512, partitions = Some(8))
      .select(col("part"), col("seq_in_part"),
        array_join(col("doc_ids"), ",").as("doc_ids"), col("total_tokens"))
      .orderBy("part", "seq_in_part")

  /** The greedy fold per part is ONE `list_reduce` over the part's
    * doc_id-ordered token counts (acc = [seq, tok, out…]; the first
    * element seeds seq 0 / tok n exactly like the old recursive seed row)
    * — the row-at-a-time recursive CTE re-joined the whole table once per
    * document (50k hash builds at the sf1 replica) and timed out; the
    * fold is linear and its per-index output zips back positionally.
    */
  val packSequencesSql: String =
    // poison-row twin of the engine's stance (TextOps.packSequences): a
    // NULL id is dropped, NULL text packs as 0 tokens — without the
    // coalesce a NULL count poisons the whole part's list_reduce (acc[2] +
    // NULL > 512 is NULL, so the ELSE branch fires forever)
    """WITH d AS (SELECT doc_id,
      |    coalesce(len(string_split(text, ' ')), 0)::BIGINT AS n,
      |    (doc_id % 8)::INTEGER AS part FROM documents
      |  WHERE doc_id IS NOT NULL),
      |parts AS (SELECT part,
      |    list(doc_id ORDER BY doc_id) AS ids, list(n ORDER BY doc_id) AS ns
      |  FROM d GROUP BY part),
      |folded AS (SELECT part, ids, ns,
      |    list_reduce(list_prepend([0::BIGINT, 0::BIGINT], [[x] FOR x IN ns]),
      |      (acc, e) -> CASE
      |        WHEN len(acc) = 2 THEN [acc[1], e[1], acc[1]]
      |        WHEN acc[2] + e[1] > 512
      |          THEN list_concat([acc[1] + 1, e[1]], list_append(acc[3:], acc[1] + 1))
      |        ELSE list_concat([acc[1], acc[2] + e[1]], list_append(acc[3:], acc[1]))
      |      END) AS st
      |  FROM parts),
      |r AS (SELECT part, unnest(ids) AS id, unnest(ns) AS n, unnest(st[3:]) AS seq
      |  FROM folded)
      |SELECT part, seq::INTEGER AS seq_in_part,
      |  array_to_string(list(id ORDER BY id), ',') AS doc_ids,
      |  CAST(sum(n) AS BIGINT) AS total_tokens
      |FROM r GROUP BY part, seq ORDER BY part, seq_in_part""".stripMargin

  /** C111: packing-efficiency telemetry across a max_len grid — the
    * chart that picks the training sequence length: per candidate budget
    * {128, 256, 512}, how many packed sequences the C16 greedy next-fit
    * kernel produces, the fill rate (padding waste is 1 − fill), and how
    * many sequences run OVERFULL (a doc longer than the budget packs
    * alone and overflows — the docs a chunker must split first). The
    * corpus is tokenized ONCE ([[graft.ops.text.TextOps.packCounts]]
    * takes the 16-byte count rows), localCheckpoint-pinned, then
    * re-packed per grid point — |grid| passes over counts, one over
    * text. Fill rate is the single floor(v·1e6+0.5)-quantized division;
    * everything else is exact integers from the SAME fold the C16
    * oracle verifies.
    */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir).where(col("doc_id").isNotNull)
      .select(col("doc_id").cast("long").as("id"),
        greatest(lit(0), coalesce(size(TextOps.tokens(col("text"))), lit(0)))
          .as("n_tokens"))
      .staged
    Seq(128, 256, 512).map { m =>
      TextOps.packCounts(counts, m, partitions = Some(8))
        .agg(count(lit(1)).as("n_seqs"),
          coalesce(sum("total_tokens"), lit(0L)).as("total_tokens"),
          coalesce(sum(when(col("total_tokens") > m, 1L).otherwise(0L)), lit(0L))
            .as("n_overfull"))
        .select(lit(m).as("max_len"), col("n_seqs"), col("total_tokens"),
          when(col("n_seqs") > 0,
            floor(col("total_tokens").cast("double") / (col("n_seqs") * m)
              * lit(1000000) + lit(0.5)) / lit(1e6)).as("fill_rate"),
          col("n_overfull"))
    }.reduce(_ unionAll _).orderBy("max_len")
  }

  /** Grid twin of the C16 fold: one folded/seq-total/aggregate CTE chain
    * per budget, generated from the same grid the engine sweeps.
    */
  val packEfficiencySql: String = {
    val grid = Seq(128, 256, 512)
    val per = grid.map { m =>
      s"""folded$m AS (SELECT part, ids, ns,
         |    list_reduce(list_prepend([0::BIGINT, 0::BIGINT], [[x] FOR x IN ns]),
         |      (acc, e) -> CASE
         |        WHEN len(acc) = 2 THEN [acc[1], e[1], acc[1]]
         |        WHEN acc[2] + e[1] > $m
         |          THEN list_concat([acc[1] + 1, e[1]], list_append(acc[3:], acc[1] + 1))
         |        ELSE list_concat([acc[1], acc[2] + e[1]], list_append(acc[3:], acc[1]))
         |      END) AS st
         |  FROM parts),
         |r$m AS (SELECT part, unnest(ns) AS n, unnest(st[3:]) AS seq FROM folded$m),
         |s$m AS (SELECT part, seq, sum(n)::BIGINT AS t FROM r$m GROUP BY part, seq),
         |a$m AS (SELECT $m AS max_len, count(*)::BIGINT AS n_seqs,
         |    coalesce(sum(t), 0)::BIGINT AS total_tokens,
         |    coalesce(sum(CASE WHEN t > $m THEN 1 ELSE 0 END), 0)::BIGINT AS n_overfull
         |  FROM s$m)""".stripMargin
    }.mkString(",\n")
    val union = grid.map(m => s"SELECT * FROM a$m").mkString(" UNION ALL ")
    s"""WITH d AS (SELECT doc_id,
       |    coalesce(len(string_split(text, ' ')), 0)::BIGINT AS n,
       |    (doc_id % 8)::INTEGER AS part FROM documents
       |  WHERE doc_id IS NOT NULL),
       |parts AS (SELECT part,
       |    list(doc_id ORDER BY doc_id) AS ids, list(n ORDER BY doc_id) AS ns
       |  FROM d GROUP BY part),
       |$per
       |SELECT max_len, n_seqs, total_tokens,
       |  CASE WHEN n_seqs > 0 THEN
       |    floor(total_tokens::DOUBLE / (n_seqs * max_len) * 1000000 + 0.5) / 1e6
       |  END AS fill_rate, n_overfull
       |FROM ($union) ORDER BY max_len""".stripMargin
  }

  /** C113: per-document language-MIXTURE profile — the code-switching /
    * boilerplate-contamination gate a monolingual training mix needs
    * beyond C8's whole-document vote (a half-English half-German page
    * happily argmaxes to one language and slips through): the document
    * is cut into NON-overlapping 32-token chunks (the C21 kernel at
    * stride = chunk), each chunk language-ID'd by the C8 stopword
    * scorer (staged token array, all profiles from one split — the r15
    * staging rule), then per document: chunk count, majority language
    * (most chunk votes, first-profile tiebreak matching the C8 argmax),
    * the floor(v·1e6+0.5)-quantized majority share, and
    * `is_mixed = share < 0.75`. NULL texts/ids drop at the door.
    * Scale: chunking is narrow per-row work; everything after the
    * per-chunk argmax is (doc, lang)-sized keyed aggregation — no
    * window over chunk-sized data, majority elected by max-count join +
    * min-lang (deterministic without a sort of the corpus).
    */
  def docLangmix(spark: SparkSession, dir: String): DataFrame = {
    val langs = TextOps.LangProfiles.map(_._1)
    val scoreCols = TextOps.LangProfiles.map { case (lang, profile) =>
      TextOps.langScoreTokens(col("__ws"), profile).cast("long").as(s"${lang}_hits")
    }
    val chunks = TextOps.chunk(
      docs(spark, dir).where(col("doc_id").isNotNull),
      chunkTokens = 32, stride = 32)
    val preds = chunks
      .select(col("doc_id"), TextOps.tokens(col("chunk")).as("__ws"))
      .select(col("doc_id") +: scoreCols: _*)
      .select(col("doc_id"),
        TextOps.langArgmax(langs.map(l => l -> col(s"${l}_hits"))).as("pred"))
    val votes = preds.groupBy("doc_id", "pred").agg(count(lit(1)).as("__c"))
    val totals = votes.groupBy("doc_id")
      .agg(sum("__c").as("n_chunks"), max("__c").as("__maxc"))
    val majority = votes.join(totals, "doc_id")
      .where(col("__c") === col("__maxc"))
      .groupBy("doc_id").agg(min("pred").as("majority_lang"))
    totals.join(majority, "doc_id")
      .select(col("doc_id"), col("n_chunks"), col("majority_lang"),
        (floor(col("__maxc").cast("double") / col("n_chunks")
          * lit(1000000) + lit(0.5)) / lit(1e6)).as("majority_share"))
      .withColumn("is_mixed", col("majority_share") < 0.75)
      .orderBy("doc_id")
  }

  val docLangmixSql: String = {
    val scores = TextOps.LangProfiles.map { case (lang, profile) =>
      val list = profile.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(cw, w -> list_contains($list, w)))::BIGINT AS ${lang}_hits"
    }.mkString(",\n  ")
    val langs = TextOps.LangProfiles.map(_._1)
    val greatest = langs.map(l => s"${l}_hits").mkString("greatest(", ", ", ")")
    val caseChain = langs.map(l => s"WHEN ${l}_hits = g THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
       |    len(string_split(text, ' ')) AS n FROM documents
       |  WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       |idx AS (SELECT doc_id, w, n,
       |    unnest(range(0, greatest(ceil((n - 32)::DOUBLE / 32)::BIGINT, 0) + 1)) AS ci
       |  FROM t),
       |ch AS (SELECT doc_id, w[ci*32 + 1 : ci*32 + 32] AS cw FROM idx),
       |s AS (SELECT doc_id, $scores FROM ch),
       |p AS (SELECT doc_id, CASE $caseChain END AS pred
       |  FROM (SELECT *, $greatest AS g FROM s)),
       |c AS (SELECT doc_id, pred, count(*)::BIGINT AS c FROM p GROUP BY 1, 2),
       |m AS (SELECT doc_id, sum(c)::BIGINT AS n_chunks, max(c)::BIGINT AS maxc
       |  FROM c GROUP BY 1),
       |j AS (SELECT c.doc_id, min(c.pred) AS majority_lang
       |  FROM c JOIN m ON m.doc_id = c.doc_id AND c.c = m.maxc GROUP BY 1)
       |SELECT m.doc_id, m.n_chunks, j.majority_lang,
       |  floor(m.maxc::DOUBLE / m.n_chunks * 1000000 + 0.5) / 1e6 AS majority_share,
       |  floor(m.maxc::DOUBLE / m.n_chunks * 1000000 + 0.5) / 1e6 < 0.75 AS is_mixed
       |FROM m JOIN j USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** C21: sliding-window chunking (32-token chunks, stride 16 → 50%
    * overlap); the oracle reproduces the window arithmetic with list
    * slicing.
    */
  def docChunk(spark: SparkSession, dir: String): DataFrame =
    TextOps.chunk(docs(spark, dir), chunkTokens = 32, stride = 16)
      .orderBy("doc_id", "chunk_idx")

  val docChunkSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
      |    len(string_split(text, ' ')) AS n FROM documents
      |  WHERE text IS NOT NULL),
      |idx AS (SELECT doc_id, w, n,
      |    unnest(range(0, greatest(ceil((n - 32)::DOUBLE / 16)::BIGINT, 0) + 1)) AS ci
      |  FROM t)
      |SELECT doc_id, ci::INTEGER AS chunk_idx,
      |  array_to_string(w[ci*16 + 1 : ci*16 + 32], ' ') AS chunk,
      |  len(w[ci*16 + 1 : ci*16 + 32])::BIGINT AS chunk_tokens
      |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- C10: token counting ------------------------------------------------

  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val cols = TextOps.tokenCountColumns(col("text")).map { case (n, c) => c.as(n) }
    docs(spark, dir).select(col("doc_id") +: cols: _*).orderBy("doc_id")
  }

  val tokenCountSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' '))::BIGINT AS ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS bpe_pieces,
      |  ceil(length(text) / 4.0)::BIGINT AS subword_est
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- C11: document fingerprinting ---------------------------------------

  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val cols = TextOps.fingerprintColumns(col("text")).map { case (n, c) => c.as(n) }
    docs(spark, dir).select(col("doc_id") +: cols: _*).orderBy("doc_id")
  }

  val docFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce([(ascii(w)*256 + length(w))::BIGINT for w in string_split(text, ' ')],
      |    (acc, x) -> (acc*1000003 + x) % 2147483647) AS rolling_fp,
      |  md5(text) AS md5_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** C14: end-to-end curation pipeline — quality gates, then drop
    * non-canonical members of exact-dup groups (the composition a training
    * pipeline actually runs: score → filter → dedup → emit survivors).
    */
  def pipelineFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val quality = d.select(col("doc_id") +:
      TextOps.qualityColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
    val kept = quality.where(col("n_tokens") >= 20 && col("n_tokens") <= 80)
    val dupLosers = Dedup.exact(d, prefixTokens = 10)
      .select(explode(split(col("members"), ",")).as("member"), col("canonical_id"))
      .select(col("member").cast("long").as("doc_id"), col("canonical_id"))
      .where(col("doc_id") =!= col("canonical_id"))
      .select("doc_id")
    kept.join(dupLosers, Seq("doc_id"), "left_anti")
      .select("doc_id", "n_tokens", "mean_token_len")
      .orderBy("doc_id")
  }

  val pipelineFilterSql: String =
    """WITH q AS (SELECT doc_id,
      |    len(string_split(text, ' '))::BIGINT AS n_tokens,
      |    list_sum([length(w) for w in string_split(text, ' ')])::DOUBLE
      |      / len(string_split(text, ' ')) AS mean_token_len,
      |    md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS kh
      |  FROM documents),
      |losers AS (SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY kh) AS canon,
      |      count(*) OVER (PARTITION BY kh) AS n FROM q)
      |  WHERE n > 1 AND doc_id != canon)
      |SELECT doc_id, n_tokens, mean_token_len FROM q
      |WHERE n_tokens BETWEEN 20 AND 80
      |  AND doc_id NOT IN (SELECT doc_id FROM losers)
      |ORDER BY doc_id""".stripMargin

  /** C17: deterministic train/val/test split assignment — pure function of
    * the doc id (md5-bucket), reproducible across engines/partitionings;
    * the oracle recomputes the identical assignment in DuckDB.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
        graft.ops.sample.Sampling.hashBucket(col("doc_id")).as("bucket"),
        graft.ops.sample.Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .orderBy("doc_id")

  val splitAssignSql: String =
    """SELECT doc_id,
      |  (('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000) AS bucket,
      |  CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 8000 THEN 'train'
      |       WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 9000 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** C102: split-leakage check — near-dup pairs that STRADDLE the
    * train/val/test assignment: the eval-hygiene number (a test doc
    * whose near-duplicate sits in train inflates every benchmark score;
    * C22/C73 catch verbatim n-gram contamination against an external
    * eval set, this catches NEAR-dup leakage across the pipeline's OWN
    * split — the failure hash-split assignment cannot prevent, because
    * near-identical docs hash independently). Composes the C3 pair
    * chain with the C17 assignment and counts pairs per unordered
    * split pair — the diagonal (train,train) is benign, everything off
    * it is leakage; all six cells emitted (a leakage report that drops
    * empty cells can't prove absence). One |pairs|-sized join against
    * a broadcastable assignment — negligible beside the dedup it
    * audits.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLsh(docs(spark, dir), minJaccard = 0.5)
      .select(col("a"), col("b"))
    val splits = docs(spark, dir).select(col("doc_id"),
      graft.ops.sample.Sampling.splitAssign(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    val joined = pairs
      .join(splits.select(col("doc_id").as("a"), col("split").as("sa")), "a")
      .join(splits.select(col("doc_id").as("b"), col("split").as("sb")), "b")
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
    val names = Seq("test", "train", "val")
    val cells = names.flatMap(x => names.filter(_ >= x).map(y => (x, y)))
    import spark.implicits._
    val spine = cells.toDF("split_a", "split_b")
    spine.join(joined, Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        (col("split_a") =!= col("split_b")).as("leaked"))
      .orderBy("split_a", "split_b")
  }

  val splitLeakageSql: String =
    s"""WITH $jaccardCoreSql,
       |pr AS (SELECT a, b FROM p WHERE jaccard >= 0.5),
       |sp AS (SELECT doc_id,
       |    CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 8000 THEN 'train'
       |         WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 9000 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |j AS (SELECT least(sa.split, sb.split) AS split_a,
       |    greatest(sa.split, sb.split) AS split_b, count(*) AS n_pairs
       |  FROM pr JOIN sp sa ON sa.doc_id = pr.a JOIN sp sb ON sb.doc_id = pr.b
       |  GROUP BY 1, 2),
       |cells(split_a, split_b) AS (VALUES ('test','test'), ('test','train'),
       |  ('test','val'), ('train','train'), ('train','val'), ('val','val'))
       |SELECT c.split_a, c.split_b, coalesce(j.n_pairs, 0) AS n_pairs,
       |  (c.split_a <> c.split_b) AS leaked
       |FROM cells c LEFT JOIN j USING (split_a, split_b)
       |ORDER BY split_a, split_b""".stripMargin

  /** C20 (flagship for the training-data block): the full curation
    * pipeline in one oracle-checked query — token-count quality gate →
    * near-dup clustering (MinHash LSH pairs, exactly verified → GraphX
    * connected components) → non-canonical members dropped → deterministic
    * split assignment → per-split document/token accounting. The oracle
    * recomputes everything independently: quality filter in SQL, the
    * transitive closure as a recursive CTE, the split via the identical
    * md5 arithmetic.
    */
  def pipelineE2e(spark: SparkSession, dir: String): DataFrame = {
    val withTok = docs(spark, dir).select(col("doc_id"), col("text"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val kept = withTok.where(col("n_tokens").between(20, 80))
    val clusters = graft.ops.graph.GraphOps.connectedComponents(
      Dedup.minhashLsh(kept, minJaccard = 0.5))
    val losers = clusters.where(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    kept.join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"),
        graft.ops.sample.Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .orderBy("split")
  }

  val pipelineE2eSql: String =
    """WITH RECURSIVE
      |kept AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens, text
      |  FROM documents WHERE len(string_split(text, ' ')) BETWEEN 20 AND 80),
      |t AS (SELECT doc_id, string_split(text, ' ') w FROM kept),
      |s0 AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) sh FROM t),
      |s AS MATERIALIZED (SELECT doc_id, sh FROM s0 WHERE len(sh) > 0),
      |sz AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM s),
      |ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |cand AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      |  FROM ex x JOIN ex y ON x.g = y.g AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |p AS (SELECT a, b, inter::DOUBLE / (na.n + nb.n - inter) AS jaccard
      |  FROM cand JOIN sz na ON na.doc_id = cand.a JOIN sz nb ON nb.doc_id = cand.b),
      |pairs AS MATERIALIZED (SELECT a, b FROM p WHERE jaccard >= 0.5),
      |e AS MATERIALIZED (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a),
      |verts AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
      |comp AS (SELECT v.id, least(v.id, min(r.dst)) AS component
      |  FROM verts v LEFT JOIN reach r ON r.src = v.id GROUP BY v.id),
      |losers AS (SELECT id FROM comp WHERE id != component),
      |labeled AS (SELECT doc_id, n_tokens,
      |    CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 8000 THEN 'train'
      |         WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < 9000 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM kept WHERE doc_id NOT IN (SELECT id FROM losers))
      |SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM labeled GROUP BY split ORDER BY split""".stripMargin

  /** C83: DSIR-style importance weights (Xie et al. 2023, Data Selection
    * via Importance Resampling) — every training document scored by how
    * target-like its hashed-bigram profile is: weight = Σ over bigram
    * occurrences of log p̂_target(bucket) − log p̂_raw(bucket), with
    * add-one smoothing over B = 1024 md5 buckets. `src0` plays the target
    * domain, everything else is the raw pool — the standard
    * pretraining-corpus selection op next to decontaminate (C73) and
    * quality_distill (C42): DSIR selects FOR a domain where those filter
    * AGAINST contamination/noise.
    *
    * Determinism: buckets are the repo's md5-prefix hash (the
    * split_assign/sampling recipe, byte-identical in DuckDB); each
    * bucket's log-ratio is ONE double expression over exact integer
    * counts evaluated identically in both engines; per-document sums
    * route through DECIMAL(27,10) casts (associative — partition order
    * cannot drift), rounded once; a rounded-to-zero weight pins +0.0 on
    * both sides (the sample_weighted signed-zero lesson). Scale: one
    * bigram explode → B-key map-combined count, the 1024-row ratio table
    * broadcasts back, one keyed per-doc aggregate — nothing corpus-sized
    * shuffles twice.
    */
  def corpusDsir(spark: SparkSession, dir: String): DataFrame = {
    val B = 1024
    val d = docs(spark, dir)
    // spread + checkpoint the bucketed gram table: the tokenise + explode +
    // per-gram md5 pass is the query's cost, a compact parquet source runs
    // it on ONE scan split, and BOTH consumers below (bucket counts and the
    // per-doc weight join) would re-run it without the cut
    val grams = graft.io.DataFrames.spread(d)
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(zip_with(slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("g"))
      .withColumn("b", conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % B)
      .staged
    val c = grams.groupBy("b").agg(
      count(when(col("source") === "src0", 1)).as("ct"),
      count(when(col("source") =!= "src0", 1)).as("cr"))
    val tot = c.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val lr = c.crossJoin(tot).select(col("b"),
      (log((col("ct") + 1).cast("double") / (col("nt") + B)) -
        log((col("cr") + 1).cast("double") / (col("nr") + B))).as("lr"))
    val perDoc = grams.where(col("source") =!= "src0")
      .join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("lr").cast("decimal(27,10)")).cast("double"), 6).as("w"))
    d.where(col("source") =!= "src0").select(col("doc_id").as("train_id"))
      .join(perDoc.withColumnRenamed("doc_id", "train_id"), Seq("train_id"), "left")
      .select(col("train_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        when(coalesce(col("w"), lit(0.0)) === 0.0, lit(0.0))
          .otherwise(col("w")).as("dsir_weight"))
      .orderBy("train_id")
  }

  val corpusDsirSql: String =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') w FROM documents),
      |g AS (SELECT doc_id, source,
      |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
      |  FROM t WHERE len(w) >= 2),
      |gb AS (SELECT doc_id, source,
      |    ('0x' || substring(md5(g), 1, 8))::BIGINT % 1024 AS b FROM g),
      |c AS (SELECT b, count(*) FILTER (source = 'src0') AS ct,
      |        count(*) FILTER (source <> 'src0') AS cr FROM gb GROUP BY b),
      |tot AS (SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr FROM c),
      |lr AS (SELECT b, ln((ct + 1)::DOUBLE / (nt + 1024))
      |             - ln((cr + 1)::DOUBLE / (nr + 1024)) AS lr FROM c, tot),
      |pd AS (SELECT gb.doc_id, count(*) AS n_grams,
      |    round(sum(CAST(lr AS DECIMAL(27,10)))::DOUBLE, 6) AS w
      |  FROM gb JOIN lr USING (b) WHERE source <> 'src0' GROUP BY gb.doc_id)
      |SELECT d.doc_id AS train_id,
      |  coalesce(n_grams, 0) AS n_grams,
      |  CASE WHEN coalesce(w, 0.0) = 0.0 THEN 0.0 ELSE w END AS dsir_weight
      |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
      |WHERE d.source <> 'src0' ORDER BY train_id""".stripMargin

  /** C84: RAKE keyphrase extraction ([[TextOps.rakeKeywords]]) — top-3
    * multi-word phrases per document from stopword-split runs, scored by
    * the degree/frequency word statistic. The oracle reproduces the span
    * split (the passage-chunker slice pattern), the BIGINT-ratio word
    * scores, and the decimal-summed, rounded-then-ranked phrase scores.
    */
  def textKeywords(spark: SparkSession, dir: String): DataFrame =
    TextOps.rakeKeywords(docs(spark, dir))

  // Shared with the engine side: rakeKeywords' default stopword list IS
  // TextOps.LangProfiles.head._2 — building the SQL literal from the same
  // Seq means a profile edit/reorder can never desynchronise the oracle.
  // lazy: composed SQL vals must not race object initialisation order.
  private lazy val rakeStopwordsSqlList: String =
    TextOps.LangProfiles.head._2.map(w => s"'$w'").mkString("[", ",", "]")

  lazy val textKeywordsSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, ws, len(ws) AS n FROM d WHERE len(ws) >= 1),
      |b AS (SELECT doc_id, ws, n,
      |    [i FOR i IN range(1, n+1)
      |     IF list_contains($rakeStopwordsSqlList, ws[i])] AS bidx
      |  FROM t),
      |se AS (SELECT doc_id, ws,
      |    list_prepend(1, [i + 1 FOR i IN bidx]) AS starts,
      |    list_append([i - 1 FOR i IN bidx], n) AS ends FROM b),
      |ph AS (SELECT doc_id,
      |    unnest([ws[starts[j]:ends[j]] FOR j IN range(1, len(starts)+1)
      |            IF ends[j] >= starts[j]]) AS pw
      |  FROM se),
      |wocc AS (SELECT doc_id, len(pw) AS plen, unnest(pw) AS word FROM ph),
      |wsc AS (SELECT doc_id, word, sum(plen)::DOUBLE / count(*) AS s
      |  FROM wocc GROUP BY doc_id, word),
      |pdis AS (SELECT DISTINCT doc_id, array_to_string(pw, ' ') AS phrase, pw FROM ph),
      |pw2 AS (SELECT doc_id, phrase, unnest(pw) AS word FROM pdis),
      |psc AS (SELECT p.doc_id, p.phrase,
      |    round(sum(CAST(w.s AS DECIMAL(27,10)))::DOUBLE, 6) AS rake_score
      |  FROM pw2 p JOIN wsc w ON w.doc_id = p.doc_id AND w.word = p.word
      |  GROUP BY p.doc_id, p.phrase),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY rake_score DESC, phrase) AS rank FROM psc)
      |SELECT doc_id, rank::BIGINT AS rank, phrase, rake_score FROM r
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---- C12: multimodal binary columns -------------------------------------

  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.withMediaMetadata(docs(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.format").as("format"))
      .orderBy("doc_id")

  /** NULL payloads decode like EMPTY on the engine side (the multimodal
    * seam's spec'd poison-row stance: n_bytes 0, never an NPE) — the twin
    * coalesces to the same zeros instead of propagating SQL NULLs.
    */
  val multimodalMetaSql: String =
    """SELECT doc_id,
      |  coalesce(octet_length(encode(text)), 0)::BIGINT AS n_bytes,
      |  coalesce(octet_length(encode(text)) % 640, 0)::INTEGER AS width,
      |  coalesce((octet_length(encode(text))::BIGINT * 31) % 480, 0)::INTEGER AS height,
      |  'img/fake' AS format
      |FROM documents ORDER BY doc_id""".stripMargin
}
