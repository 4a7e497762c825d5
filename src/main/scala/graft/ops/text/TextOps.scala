package graft.ops.text
import graft.io.DataFrames.StagedSyntax

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is a pure Column expression over a text column: narrow,
  * whole-stage-codegen, no UDFs, no shuffle — at 100 TB these run at scan
  * speed with pushdown intact.
  */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word-bigram shingles, the unit for Jaccard/MinHash dedup.
    *
    * Built as a zip_with of two slices rather than a transform with
    * element_at(ws, i): HOF lambdas re-evaluate captured subtrees per
    * element, so an element_at over the un-staged split(text) would
    * re-split the document for every bigram (quadratic per doc). zip_with
    * consumes its array arguments whole — the text is split twice, not
    * n times — safe to feed `tokens(text)` directly in any context.
    */
  def bigrams(text: Column): Column = {
    val ws = tokens(text)
    array_distinct(
      zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat(a, lit(" "), b)))
  }

  /** Language profiles: stopword lists per language (classic n-gram-free
    * heuristic — count profile hits, argmax wins, ties broken by profile
    * order).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "dans"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3"))

  /** Per-language stopword hit count over an ALREADY-STAGED token array
    * (occurrences, not distinct). Hot paths must stage `tokens(text)` as a
    * real projection column and feed the attribute here: a HOF lambda
    * re-evaluates its captured array argument per call site, and anything
    * under a `when` branch is ineligible for Spark's subexpression
    * elimination — feeding un-staged `tokens(text)` into several profiles
    * under a conditional re-splits the document once per profile (the r15
    * text_lang_id 5.2x regression).
    */
  def langScoreTokens(ws: Column, profile: Seq[String]): Column =
    size(filter(ws, w => array_contains(typedLit(profile), w)))

  /** Per-language stopword hit count from raw text. Convenience for single
    * uses; see [[langScoreTokens]] when several profiles score one text.
    */
  def langScore(text: Column, profile: Seq[String]): Column =
    langScoreTokens(tokens(text), profile)

  /** Argmax over already-computed per-language score columns,
    * first-profile tiebreak. Applies NO null stance — the caller wraps the
    * result in its own `when` (cheap, because the inputs are staged
    * attributes, not HOF subtrees).
    */
  def langArgmax(scores: Seq[(String, Column)]): Column =
    scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bestLang, bestScore), (lang, s)) =>
        (when(s > bestScore, lit(lang)).otherwise(bestLang),
          when(s > bestScore, s).otherwise(bestScore))
    }._1

  /** Predicted language: argmax of profile scores, first-profile tiebreak.
    * NULL text predicts NULL (unknowable is not "English": the fold's
    * `when` chain would otherwise silently keep the first profile's
    * literal when every NULL comparison falls through — the r15 NULL
    * poison-row finding).
    *
    * PERF: convenience form only — the argmax fold references every
    * profile's langScore several times under a conditional branch, where
    * subexpression elimination cannot help, so each profile re-splits the
    * text. On anything hot, stage `tokens(text)` and the per-profile
    * [[langScoreTokens]] columns in real projections first and apply the
    * null stance over the staged attributes (see Pipeline.textLangId).
    */
  def langPredict(text: Column): Column =
    when(text.isNotNull,
      langArgmax(LangProfiles.map { case (l, p) => l -> langScore(text, p) }))

  /** Character-trigram language profiles — the classic n-gram language-ID
    * heuristic (Cavnar & Trenkle-style, fixed profiles): each language is a
    * handful of its most characteristic trigrams, a document scores one
    * point per occurrence, argmax wins. Complementary to the stopword
    * profiles ([[LangProfiles]]): trigram counts see inflection and
    * word-internal structure, not just function words.
    */
  val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "ing", "and", " th", "ion"),
    "es" -> Seq("de ", "que", " la", "ión", "ado"),
    "de" -> Seq("der", "sch", "ein", "ich", "und"),
    "fr" -> Seq("le ", "ent", " de", "ait", "eur"))

  /** Occurrences of every profile trigram in the text: each trigram's count
    * is `(len(text) − len(remove(text, trigram))) / 3` — pure string
    * arithmetic (literal replace, no regex), identical in any engine.
    */
  def trigramScore(text: Column, profile: Seq[String]): Column =
    profile.map(t =>
        (length(text) - length(replace(text, lit(t), lit("")))) / t.length)
      .reduce(_ + _).cast("long")

  /** Predicted language from any trigram profile set: argmax, first-profile
    * tiebreak (same convention as [[langPredict]]). Profiles are literals —
    * the trained model is tiny (langs × topK trigrams), so applying it is
    * a single codegen'd native call
    * ([[graft.functions.TrigramBestLang]]), no join. (A fold of `when`s
    * over per-lang scores duplicates every earlier score subtree per step
    * — exponential generated code that breaks Janino's method limit on the
    * trained langs × top-10 model and silently degrades to interpreted
    * eval; the reference-object model keeps codegen constant-size at any
    * profile count.)
    */
  def trigramPredictFrom(text: Column, profiles: Seq[(String, Seq[String])]): Column = {
    require(profiles.nonEmpty,
      "trigramPredictFrom: empty profile set (training on an empty corpus?)")
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.GraftFunctions.register)
    call_function("graft_trigram_best", text,
      typedLit(profiles.map(_._1)), typedLit(profiles.map(_._2)))
  }

  /** Predicted language from the fixed [[TrigramProfiles]]. */
  def trigramPredict(text: Column): Column =
    trigramPredictFrom(text, TrigramProfiles)

  /** All character trigrams of the text, in order, with repeats (occurrence
    * counting needs the repeats). Guarded: `sequence(1, 0)` is DESCENDING in
    * Spark, not empty, so texts shorter than 3 chars map to an empty array.
    */
  def charTrigrams(text: Column): Column =
    when(length(text) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(text) - 2),
        i => text.substr(i, lit(3))))

  /** Trains per-language character-trigram profiles from labelled data —
    * the data-derived counterpart of the fixed [[TrigramProfiles]], feeding
    * [[trigramPredictFrom]]. Raw frequency is the wrong signal: the most
    * frequent trigrams of every language are the corpus-common ones
    * (whitespace runs, shared filler), which carry no discrimination — so
    * trigrams rank by SHARE (this language's fraction of the trigram's
    * corpus-wide occurrences; ties by count desc, trigram asc), with a
    * `minCount` floor so one-off noise can't reach share 1.0. One explode +
    * two keyed aggregations + a per-language top-k window — map-side
    * partial aggregation does the heavy lifting at corpus scale, and
    * everything after the first groupBy is profile-vocabulary-sized.
    * Deterministic, so exactly oracle-checkable.
    */
  def trainTrigramProfiles(docs: org.apache.spark.sql.DataFrame, topK: Int = 10,
                           minCount: Long = 5,
                           langCol: String = "lang", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the explode produces ~one row per character — spread a few-split
    // source so that stage doesn't run on one core
    val counts = graft.io.DataFrames.spread(docs)
      .select(col(langCol).as("lang"), explode(charTrigrams(col(textCol))).as("trigram"))
      .groupBy("lang", "trigram").agg(count(lit(1)).as("tf"))
    val totals = counts.groupBy("trigram").agg(sum("tf").as("total_tf"))
    val scored = counts.join(totals, "trigram")
      .where(col("tf") >= minCount)
      .withColumn("share", col("tf").cast("double") / col("total_tf"))
    val w = Window.partitionBy("lang")
      .orderBy(col("share").desc, col("tf").desc, col("trigram"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select("lang", "rank", "trigram", "tf", "share")
      .orderBy("lang", "rank")
  }

  /** Collects a trained profile frame ([[trainTrigramProfiles]] layout)
    * into the literal profile set [[trigramPredictFrom]] applies. The
    * model is langs × topK rows — driver-side by design, like any trained
    * model small enough to broadcast into a codegen expression.
    */
  def collectTrigramProfiles(profiles: org.apache.spark.sql.DataFrame)
      : Seq[(String, Seq[String])] =
    profiles.select("lang", "rank", "trigram").collect()
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        lang -> rows.sortBy(_.getInt(1)).map(_.getString(2)).toSeq
      }
      .toSeq.sortBy(_._1)

  /** Trains per-language token profiles from labelled data: the `topK`
    * most frequent tokens of each language (ties broken by token asc) —
    * the data-derived counterpart of the fixed [[LangProfiles]], and the
    * "training step" of a frequency-profile language identifier. One
    * explode + one groupBy + a per-language top-k (which the TopKPerKey
    * rewrite turns into bounded-heap pruning when the extension is
    * registered). Deterministic, so exactly oracle-checkable.
    */
  def trainLangProfiles(docs: org.apache.spark.sql.DataFrame, topK: Int = 10,
                        langCol: String = "lang", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(langCol).as("lang"), explode(tokens(col(textCol))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("lang").orderBy(col("tf").desc, col("token"))
    tf.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select("lang", "rank", "token", "tf")
      .orderBy("lang", "rank")
  }

  /** Quality metrics: token count, mean token length, stopword ratio,
    * punctuation ratio, uppercase-start ratio. All doubles are single
    * divisions of exact integers — cross-engine deterministic.
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val ws = tokens(text)
    val n = size(ws)
    val en = typedLit(LangProfiles.head._2)
    Seq(
      "n_tokens" -> n.cast("long"),
      "mean_token_len" -> (sum_agg(transform(ws, w => length(w))).cast("double") / n),
      "stopword_ratio" -> (size(filter(ws, w => array_contains(en, w))).cast("double") / n),
      // empty text has a DEFINED ratio of 0.0 — a bare division would
      // throw under Spark 4's default ANSI mode (div by zero is an error)
      "punct_ratio" -> when(length(text) > 0,
        (length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))).cast("double")
          / length(text)).otherwise(lit(0.0)),
      "upper_ratio" -> (size(filter(ws, w => w.rlike("^[A-Z]"))).cast("double") / n))
  }

  private def sum_agg(arr: Column): Column =
    aggregate(arr, lit(0L), (acc, x) => acc + x.cast("long"))

  /** Token-count columns: whitespace tokens, BPE-ish regex pieces
    * (letter-runs / digit-runs / single symbols), chars-per-4 subword
    * estimate.
    */
  def tokenCountColumns(text: Column): Seq[(String, Column)] = Seq(
    "ws_tokens" -> size(tokens(text)).cast("long"),
    "bpe_pieces" -> regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("long"),
    "subword_est" -> ceil(length(text).cast("double") / 4.0).cast("long"))

  /** Unigram surprisal scoring: a unigram LM is "trained" on the corpus
    * itself (token → corpus frequency) and each document scored by its mean
    * token negative log-probability — the classic cheap perplexity proxy
    * for quality filtering. Two passes over the data: token counts
    * (groupBy), then an explode + join + per-doc mean. Both shuffles key on
    * high-cardinality columns; the LM table is broadcast. The corpus token
    * total is a 1-row aggregate broadcast-cross-joined into the LM — no
    * driver-side action, the whole thing is one lazy plan.
    */
  def unigramSurprisal(docs: org.apache.spark.sql.DataFrame,
                       idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count, explode, lit, log, sum => fsum}
    val toks = docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
    val total = toks.agg(count(lit(1)).cast("double").as("total"))
    val lm = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
      .crossJoin(broadcast(total))
    // final mean rounded: the FP sum order differs between engines/runs in
    // the last bits; 6dp is far above that noise
    toks.join(broadcast(lm), "tok")
      .groupBy("id")
      .agg(org.apache.spark.sql.functions.round(
          -fsum(log(col("tf") / col("total"))) / count(lit(1)), 6).as("mean_surprisal"),
        count(lit(1)).as("n_tokens"))
      .orderBy("id")
  }

  /** Bigram-LM mean surprisal: the corpus trains an add-one-smoothed
    * bigram model (P(w|u) = (c(u w)+1) / (c(u ·)+V)) and every document is
    * scored by the mean −log P over its bigram positions — the quality
    * proxy that catches LOCAL incoherence (shuffled words, stitched
    * boilerplate) which [[unigramSurprisal]]'s bag-of-words frequencies
    * cannot see. Docs with fewer than two tokens have no bigram positions
    * and are excluded.
    *
    * Plan: one staged tokenise feeds the (history, bigram) pairs; bigram
    * and history counts are two keyed aggregations with map-side partials;
    * the vocabulary size is one exact-distinct aggregate broadcast back.
    * The scoring re-join keys on the bigram/history — zipfian counts, so
    * AQE's skew split handles hot boilerplate bigrams. The mean is rounded
    * to 6 dp: per-position log-probabilities are bit-identical across
    * engines, only the sum order is not.
    */
  def bigramSurprisal(docs: org.apache.spark.sql.DataFrame,
                      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val base = graft.io.DataFrames.spread(docs)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("ws"))
      .where(size(col("ws")) >= 2)
    // spread + checkpointed: the bigram table feeds THREE consumers
    // (bigram counts, head counts, the scoring join) — unstaged, each
    // re-runs the tokenise + explode pass, on one core for a compact
    // single-split source
    val pairs = base.select(col("id"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("u"), concat(a, lit(" "), b).as("bg")))).as("p"))
      .select(col("id"), col("p.u").as("u"), col("p.bg").as("bg"))
      .staged
    val cb = pairs.groupBy("bg").agg(count(lit(1)).as("tf"))
    val ch = pairs.groupBy("u").agg(count(lit(1)).as("hf"))
    val vocab = docs.select(explode(tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("vocab"))
    pairs.join(cb, "bg").join(ch, "u").crossJoin(broadcast(vocab))
      .groupBy("id")
      .agg(round(-sum(log((col("tf") + 1).cast("double") / (col("hf") + col("vocab"))))
          / count(lit(1)), 6).as("mean_surprisal"),
        count(lit(1)).as("n_bigrams"))
      .orderBy("id")
  }

  /** Sequence packing for training-batch preparation: documents are packed
    * greedily (in id order within each packing group) into sequences of at
    * most `tokenBudget` tokens — the standard pre-tokenisation packing step
    * that turns a document corpus into fixed-budget training rows. Runs per
    * partition (genuine imperative accumulation); an oversized single
    * document gets its own sequence.
    *
    * By default the packing group is the physical Spark partition (zero
    * shuffle, layout-dependent output). Pass `partitions = Some(p)` for a
    * deterministic layout: group = `id mod p`, one repartition, output
    * independent of file splits — the mode to use when downstream needs
    * reproducible batches. Either way each group is packed by one task, so
    * parallelism = number of groups and memory is one open pack per task.
    */
  def packSequences(docs: org.apache.spark.sql.DataFrame, tokenBudget: Int,
                    idCol: String = "doc_id", textCol: String = "text",
                    partitions: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, size => fsize, coalesce, greatest}
    val keyed = docs
      // poison-row stance (the multimodal-seam rule): a NULL text packs as
      // 0 tokens (size(null) is null/-1 by conf — both would corrupt the
      // budget or NPE the row reader), and a NULL id cannot be packed at
      // all — dropped rather than crashing the partition
      .where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        greatest(lit(0), coalesce(fsize(tokens(col(textCol))), lit(0))).as("n_tokens"))
    packCounts(keyed, tokenBudget, partitions)
  }

  /** The packing kernel behind [[packSequences]], taking PRE-COMPUTED
    * token counts `(id, n_tokens)` — so a caller sweeping a budget grid
    * (C111 pack_efficiency) tokenizes the corpus ONCE and re-packs the
    * 16-byte count rows per grid point instead of re-scanning text.
    */
  def packCounts(counts: org.apache.spark.sql.DataFrame, tokenBudget: Int,
                 partitions: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, pmod, lit, spark_partition_id}
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val keyed = counts.select(col("id").cast("long").as("id"),
      col("n_tokens").cast("int").as("n_tokens"))
    val sized = partitions match {
      case Some(p) =>
        keyed.withColumn("part", pmod(col("id"), lit(p)).cast("int"))
          .repartition(p, col("part"))
          .sortWithinPartitions("part", "id")
      case None =>
        keyed.sortWithinPartitions("id").withColumn("part", spark_partition_id())
    }
    val outSchema = StructType(Seq(
      StructField("part", IntegerType, nullable = false),
      StructField("seq_in_part", IntegerType, nullable = false),
      StructField("doc_ids", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("total_tokens", LongType, nullable = false)))
    sized.mapPartitions { rows =>
      var part = Int.MinValue
      var seq = 0
      var ids = List.empty[Long]
      var tok = 0L
      var out = List.empty[Row]
      def flush(): Unit = if (ids.nonEmpty) {
        out ::= Row(part, seq, ids.reverse, tok)
        seq += 1; ids = Nil; tok = 0L
      }
      rows.foreach { r =>
        val p = r.getInt(2)
        val n = r.getInt(1).toLong
        if (p != part) { flush(); seq = 0; part = p }
        else if (tok + n > tokenBudget && ids.nonEmpty) flush()
        ids ::= r.getLong(0); tok += n
      }
      flush()
      out.reverse.iterator
    }(Encoders.row(outSchema))
  }

  /** Sliding-window token chunking — the standard RAG/pretraining step
    * that turns documents into fixed-size overlapping chunks
    * (`stride < chunkTokens` ⇒ overlap). Chunk starts are
    * `0, stride, 2·stride, …` with the count chosen so the final chunk
    * covers the document tail; a document shorter than one chunk yields
    * itself. Pure narrow Column work (sequence + slice + posexplode): no
    * shuffle, scan speed at any scale.
    */
  def chunk(docs: org.apache.spark.sql.DataFrame, chunkTokens: Int, stride: Int,
            idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    require(stride > 0 && chunkTokens > 0, "chunkTokens and stride must be positive")
    // no text, no chunks: a NULL text would otherwise emit one phantom
    // empty chunk through the NULL-window arithmetic (r15 NULL stance)
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"), col("n"),
        posexplode(transform(
          sequence(lit(0), greatest(
            ceil((col("n") - chunkTokens).cast("double") / stride).cast("int"), lit(0))),
          i => slice(col("ws"), i * stride + 1, lit(chunkTokens))))
          .as(Seq("chunk_idx", "chunk_ws")))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", col("chunk_ws")).as("chunk"),
        size(col("chunk_ws")).cast("long").as("chunk_tokens"))
  }

  /** Fixed-width text embedding via the hashing trick
    * (graft.functions.FeatureHash, native codegen): each token's hash picks
    * a bucket and a ±1 sign, signs summed per bucket — vocabulary-free
    * bag-of-words vectors at scan speed, the cheap model-free input for the
    * ANN/near-dup operators in graft.ops.ann.
    */
  def hashEmbed(text: Column, dims: Int = 64): Column =
    call_function("graft_feature_hash", tokens(text), lit(dims))

  /** Word n-gram arrays WITH repeats (unlike [[bigrams]], which dedups for
    * set-similarity) — repetition measurement needs the multiplicity.
    * zip_with-folded for the same reason as [[bigrams]]: no array access
    * inside a lambda, so the token subtree is evaluated n times total, not
    * once per element.
    */
  private[ops] def wordNgrams(ws: Column, n: Int): Column = {
    val len = greatest(size(ws) - (n - 1), lit(0))
    (2 to n).foldLeft(slice(ws, lit(1), len)) { (acc, j) =>
      zip_with(acc, slice(ws, lit(j), len), (a, b) => concat(a, lit(" "), b))
    }
  }

  /** Repetition signals per document (Gopher-style "repetitious text"
    * measures): duplicate word-bigram / word-trigram fraction, most-common-
    * word share, and token entropy. Repetitious documents (boilerplate,
    * keyword stuffing, degenerate generations) score high dup fractions and
    * low entropy — the standard cheap pre-training filter alongside
    * [[qualityColumns]].
    *
    * Shape notes: higher-order functions are NOT whole-stage-codegen'd and
    * Catalyst re-evaluates a subtree per consumer, so the token-count
    * statistics are ONE `aggregate` fold over the sorted token array
    * (run-length accumulation of Σc·ln c and max run — O(n log n) per doc;
    * a transform(distinct, count(filter)) formulation measured 100× slower
    * on this corpus), projected once as a struct and consumed from a
    * SECOND projection (CollapseProject keeps non-cheap multi-use aliases
    * staged). Entropy = ln n − (Σc·ln c)/n, both engines accumulating in
    * token-ascending run order → identical FP fold, 6dp round on top.
    */
  def repetition(docs: org.apache.spark.sql.DataFrame,
                 idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    // STAGING MATTERS: every lambda below touches the token array per
    // element, and a subtree like element_at(split(text), i) re-splits the
    // text on each access (HOFs see copies, not CSE'd values). Each hop
    // below materialises what the next hop consumes many times: tokens →
    // n-gram arrays + run stats → scalar signals. CollapseProject keeps
    // non-cheap multi-use aliases staged, so the three selects survive
    // optimisation as three narrow projections.
    val ws = col("__ws")
    def dupFrac(ngrams: Column): Column =
      when(size(ngrams) <= 0, lit(0.0))
        .otherwise(lit(1.0) - size(array_distinct(ngrams)).cast("double") / size(ngrams))
    // single run-length fold over sorted tokens; `run === 0` marks "no
    // previous token yet" (a prev="" sentinel alone would collide with a
    // genuine empty token, which sorts first)
    val term = (run: Column) =>
      when(run === 0, lit(0.0)).otherwise(run.cast("double") * log(run.cast("double")))
    val stats = aggregate(
      array_sort(ws),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0.0).as("sum"), lit(0L).as("mx")),
      (acc, w) => {
        val same = acc.getField("run") > 0 && acc.getField("prev") === w
        struct(
          w.as("prev"),
          when(same, acc.getField("run") + 1).otherwise(lit(1L)).as("run"),
          when(same, acc.getField("sum"))
            .otherwise(acc.getField("sum") + term(acc.getField("run"))).as("sum"),
          when(same, acc.getField("mx"))
            .otherwise(greatest(acc.getField("mx"), acc.getField("run"))).as("mx"))
      },
      acc => struct(
        (acc.getField("sum") + term(acc.getField("run"))).as("sum"),
        greatest(acc.getField("mx"), acc.getField("run")).as("mx")))
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__ws"))
      .select(col("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        wordNgrams(ws, 2).as("__bg"),
        wordNgrams(ws, 3).as("__tg"),
        stats.as("__stats"))
      .select(col("doc_id"), col("n_tokens"),
        dupFrac(col("__bg")).as("dup_bigram_frac"),
        dupFrac(col("__tg")).as("dup_trigram_frac"),
        (col("__stats.mx").cast("double") / col("n_tokens")).as("top_word_share"),
        round(log(col("n_tokens").cast("double")) - col("__stats.sum") / col("n_tokens"), 6)
          .as("token_entropy"))
  }

  /** Gopher-style rule-based quality flags (Rae et al. 2021 §A1.1, adapted
    * to this corpus's bounds): token count in range, mean word length in
    * [3,10], symbol-to-word ratio below 0.1, ≥80% of words contain an
    * alphabetic character, ≥2 English stopword occurrences. Flags are
    * 0/1 ints (cross-engine stable stringification) plus the conjunctive
    * `pass`. Pure codegen Column work — at 100 TB this is a scan-speed
    * gate that feeds the curation pipeline's quality filter.
    */
  /** The five individual gopher gate flags (excludes the derived
    * `n_tokens`/`pass`) — the flag set `quality_agreement`
    * cross-tabulates.
    */
  val GopherFlagNames: Seq[String] = Seq("ok_token_count", "ok_mean_word_len",
    "ok_symbol_ratio", "ok_alpha_words", "ok_stopwords")

  /** One 0/1 column per [[GopherFlagNames]] flag — the per-doc frame the
    * `quality_agreement` diagnostic aggregates.
    */
  def gopherFlagFrame(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(gopherColumns(col(textCol)).collect {
      case (n, c) if GopherFlagNames.contains(n) => c.as(n)
    }: _*)

  def gopherColumns(text: Column, minTokens: Int = 20, maxTokens: Int = 100000)
      : Seq[(String, Column)] = {
    val ws = tokens(text)
    val n = size(ws)
    val en = typedLit(LangProfiles.head._2)
    def flag(c: Column): Column = when(c, 1).otherwise(0).cast("int")
    val okCount = flag(n.between(minTokens, maxTokens))
    val meanLen = sum_agg(transform(ws, w => length(w))).cast("double") / n
    val okMeanLen = flag(meanLen.between(3.0, 10.0))
    val symbols = length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))
    val okSymbol = flag(symbols.cast("double") / n < 0.1)
    val alphaWords = size(filter(ws, w => w.rlike("[A-Za-z]")))
    val okAlpha = flag(alphaWords.cast("double") / n >= 0.8)
    val okStop = flag(size(filter(ws, w => array_contains(en, w))) >= 2)
    Seq(
      "n_tokens" -> n.cast("long"),
      "ok_token_count" -> okCount,
      "ok_mean_word_len" -> okMeanLen,
      "ok_symbol_ratio" -> okSymbol,
      "ok_alpha_words" -> okAlpha,
      "ok_stopwords" -> okStop,
      "pass" -> (okCount * okMeanLen * okSymbol * okAlpha * okStop).cast("int"))
  }

  /** PII patterns, applied in THIS order (earlier replacements must not
    * create or destroy later matches: replacement tokens carry no digits
    * or `@`, and the specific ID/SSN shape is scrubbed before the general
    * phone shape can half-match it). Regexes restricted to the syntax
    * subset Java regex and RE2 (DuckDB) interpret identically.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("id", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<ID>"),
    ("phone", "\\+\\d{1,2}-\\d{3}-\\d{4}\\b", "<PHONE>"))

  /** PII redaction for training corpora: emails, IPv4s, SSN-shaped ids and
    * phone numbers replaced by typed placeholder tokens, with a count per
    * category (counted against the progressively-scrubbed text, so
    * overlapping categories never double-count). Pure regexp Column work —
    * scan speed, no shuffle; the per-category counts aggregate into corpus
    * PII telemetry downstream.
    */
  def piiColumns(text: Column): Seq[(String, Column)] = {
    val (countCols, scrubbed) =
      PiiPatterns.foldLeft((Seq.empty[(String, Column)], text)) {
        case ((acc, t), (name, pat, token)) =>
          (acc :+ (s"n_$name" -> regexp_count(t, lit(pat)).cast("long")),
            regexp_replace(t, pat, token))
      }
    countCols :+ ("scrubbed" -> scrubbed)
  }

  /** Polynomial rolling-hash fingerprint over the token stream:
    * `h := (h*1000003 + ascii(w)*256 + len(w)) mod (2^31-1)`, plus the md5
    * of the full text. The modular fold keeps every intermediate < 2^52, so
    * the arithmetic is exact in any engine.
    */
  def fingerprintColumns(text: Column): Seq[(String, Column)] = {
    val tokvals = transform(tokens(text), w => (ascii(w) * 256 + length(w)).cast("long"))
    val rolling = aggregate(tokvals, lit(0L),
      (acc, x) => (acc * 1000003L + x) % 2147483647L)
    Seq("rolling_fp" -> rolling, "md5_fp" -> md5(text))
  }

  /** Multinomial Naive Bayes self-distillation of a boolean document
    * rule — the CCNet/RefinedWeb "cheap classifier" pattern: an expensive
    * or externally-labelled quality signal (here any boolean `label`
    * Column) is distilled into token log-odds weights, giving every doc a
    * CONTINUOUS quality score instead of the rule's hard gate (rank, set
    * thresholds per corpus, inspect which tokens carry the signal).
    * Laplace-smoothed (`alpha`), prior included with +1 smoothing so a
    * one-class corpus degrades gracefully instead of dividing by zero.
    * Returns (doc_id, nb_log_odds, pred_pass).
    *
    * NB is pure counting, so unlike an LBFGS-trained model the
    * "training" is two keyed aggregations — deterministic under any
    * partitioning, one corpus pass (the token stream is staged once and
    * feeds counts AND scoring), and exactly reproducible in the DuckDB
    * oracle. Token weights broadcast back (natural-language vocabulary,
    * same assumption as [[tfidfTopK]]).
    */
  def nbDistill(docs: org.apache.spark.sql.DataFrame, label: Column,
                alpha: Double = 1.0,
                idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val labeled = stageLabeled(docs, label, alpha, idCol, textCol)
    val model = nbFromLabeled(labeled, alpha)
    scoreToks(
      labeled.select(col("doc_id"), explode(col("ws")).as("tok")), model)
  }

  /** A trained NB model: token log-odds `weights` (tok, w) and the prior
    * `bias` — the artifact of [[nbTrain]], consumed by [[nbScore]] on any
    * other frame (the score is a broadcast join + a per-doc sum, no
    * training state). The weights are locally checkpointed: lineage is
    * cut, but the blocks live on this session's executors — the model is
    * session-scoped. To carry it across jobs (or survive executor loss),
    * persist `weights` to reliable storage and reload.
    */
  final case class NbModel(weights: org.apache.spark.sql.DataFrame, bias: Double)

  /** Train the NB distillation model alone — the batch half of the
    * train-once / score-forever split (score new batches with
    * [[nbScore]]; [[nbDistill]] is train+score over the same corpus and
    * shares this arithmetic).
    */
  def nbTrain(docs: org.apache.spark.sql.DataFrame, label: Column,
              alpha: Double = 1.0,
              idCol: String = "doc_id", textCol: String = "text"): NbModel =
    nbFromLabeled(stageLabeled(docs, label, alpha, idCol, textCol), alpha)

  /** Score any document frame with a trained model.
    * Every input document gets exactly one output row: tokens unseen at
    * training time contribute zero evidence, and a document with NO
    * in-vocabulary tokens scores the bias alone.
    */
  def nbScore(docs: org.apache.spark.sql.DataFrame, model: NbModel,
              idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame =
    scoreToks(
      docs.select(col(idCol).as("doc_id"),
        explode(tokens(coalesce(col(textCol), lit("")))).as("tok")),
      model)

  /** The ONE corpus pass behind [[nbTrain]]/[[nbDistill]]: tokenise +
    * evaluate the (possibly expensive) label rule, staged; alpha is
    * validated BEFORE the eager checkpoint so a bad argument cannot cost
    * a full corpus scan.
    */
  private def stageLabeled(docs: org.apache.spark.sql.DataFrame, label: Column,
                           alpha: Double, idCol: String, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    require(alpha > 0, s"nbTrain: alpha must be > 0 (got $alpha)")
    // coalesce-to-empty BEFORE tokenising: a NULL text would make `ws` null
    // and the downstream explode() silently DROP the document — with the
    // coalesce every doc keeps its >= 1 (possibly empty-string) token and
    // the "exactly one output row per document" contract holds. The LABEL
    // is coalesced too: a rule that evaluates NULL (quality gates on NULL
    // text do) trains as NEGATIVE — a NULL y would otherwise silently
    // drop the doc from the priors while its tokens still shaped the
    // vocabulary (the r15 NULL poison-row finding).
    docs.select(col(idCol).as("doc_id"),
      coalesce(label.cast("int"), lit(0)).as("y"),
      tokens(coalesce(col(textCol), lit(""))).as("ws")).staged
  }

  private def nbFromLabeled(labeled: org.apache.spark.sql.DataFrame,
                            alpha: Double): NbModel = {
    val toks = labeled.select(col("doc_id"), col("y"),
      explode(col("ws")).as("tok"))
    // word-class counts and class token totals from ONE aggregate each
    val wc = toks.groupBy("tok").agg(
      sum(col("y")).as("c_pos"), sum(lit(1) - col("y")).as("c_neg"))
    val stats = wc.agg(
      sum("c_pos").as("n_pos"), sum("c_neg").as("n_neg"),
      count(lit(1)).as("vocab"))
    val weights = wc.crossJoin(broadcast(stats)).select(col("tok"),
      (log((col("c_pos") + alpha) / (col("n_pos") + lit(alpha) * col("vocab")))
        - log((col("c_neg") + alpha) / (col("n_neg") + lit(alpha) * col("vocab")))).as("w"))
    val Array(dPos, dNeg) = labeled
      .agg(sum(col("y").cast("long")), sum(lit(1L) - col("y")))
      .head.toSeq.map(v => Option(v).fold(0L)(_.asInstanceOf[Long])).toArray
    // StrictMath, not Math: Spark's SQL log is StrictMath.log, so the
    // driver-side bias stays bit-identical to a Column formulation on
    // every platform (Math.log may differ in the last ulp)
    NbModel(weights.staged,
      StrictMath.log((dPos + 1).toDouble / (dNeg + 1)))
  }

  private def scoreToks(toks: org.apache.spark.sql.DataFrame,
                        model: NbModel): org.apache.spark.sql.DataFrame =
    // LEFT join + zero-coalesce: out-of-vocabulary tokens are neutral and
    // an all-OOV document still emits its bias-only row (explode of the
    // whitespace split always yields >= 1 token, so no doc loses all rows).
    // pred from the ROUNDED odds: both engines compare the identical
    // 6-dp double, so a boundary-straddling last bit cannot flip the class
    toks.join(broadcast(model.weights), Seq("tok"), "left")
      .groupBy("doc_id").agg(sum(coalesce(col("w"), lit(0.0))).as("sw"))
      .select(col("doc_id"), round(lit(model.bias) + col("sw"), 6).as("nb_log_odds"))
      .withColumn("pred_pass", col("nb_log_odds") > 0)

  /** Top-k salient terms per document by TF-IDF (smoothed idf
    * ln((N+1)/(df+1))) — the per-document keyword summary behind topic
    * clustering, dedup explanation ("these docs share their top terms"),
    * and corpus drift reports. Deterministic: scores are rounded to 6 dp
    * BEFORE ranking so near-ties collapse to exact ties, then the term
    * string breaks them — the ranking is reproducible across engines and
    * partitionings.
    *
    * Plan: one (doc, term) keyed shuffle to term frequencies; document
    * frequencies reduce FROM that aggregate (not a second pass over the
    * corpus) and join back — broadcast when `broadcastVocab` (natural-
    * language vocabularies are ~millions of rows, broadcastable), a keyed
    * shuffle join otherwise. The final rank ≤ k window is the shape
    * [[graft.plans.TopKPerKey]] rewrites to partial top-k BEFORE the
    * exchange, so only k·|docs| rows reach the final sort.
    */
  def tfidfTopK(docs: org.apache.spark.sql.DataFrame, k: Int = 5,
                broadcastVocab: Boolean = true,
                idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"tfidfTopK: k must be >= 1 (got $k)")
    import org.apache.spark.sql.expressions.Window
    val nTab = docs.agg(count(lit(1)).cast("double").as("nd"))
    // staged: the df table and the score join BOTH consume tf — without
    // the checkpoint the tokenise+explode+shuffle subtree runs twice
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
      .staged
    val dfTab = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val joined =
      if (broadcastVocab) tf.join(broadcast(dfTab), "term")
      else tf.join(dfTab, "term")
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    joined.crossJoin(broadcast(nTab))
      .withColumn("tfidf", round(col("tf") * log((col("nd") + 1) / (col("df") + 1)), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("doc_id", "rank", "term", "tfidf")
  }

  /** BM25 relevance of each document for a fixed term set (Robertson et
    * al.; the Lucene `+1` idf variant, which keeps idf positive however
    * common the term) — the ranked-retrieval primitive behind
    * query-targeted curation: scoring a corpus against benchmark/topic
    * terms to select (or down-weight) matching documents. Returns one row
    * per document containing ≥1 query term: (doc_id, bm25).
    *
    * Plan: corpus stats (N, avgdl) are one map-combined aggregate; the
    * token stream is filtered to the query terms INSIDE the array before
    * exploding, so the explode emits O(matches), not O(tokens); term
    * document frequencies reduce from the same (doc, term) aggregate and
    * broadcast back with the stats. One keyed shuffle on (doc, term) —
    * at 100 TB this is scan + one narrow exchange.
    */
  def bm25(docs: org.apache.spark.sql.DataFrame, queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75,
           idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25: queryTerms must be non-empty")
    val ws = tokens(col(textCol))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("nd"),
      avg(size(ws)).as("avgdl"))
    // staged: the df table and the score join BOTH consume tf; it holds
    // only O(matching docs · query terms) rows, so the checkpoint is tiny
    val tf = docs
      .select(col(idCol).as("doc_id"), size(ws).cast("double").as("dl"),
        explode(filter(ws, w => w.isInCollection(queryTerms))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
      .staged
    val dfTab = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = log((col("nd") - col("df") + 0.5) / (col("df") + 0.5) + 1)
    tf.join(broadcast(dfTab), "term")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(sum(idf * col("tf") * (k1 + 1) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))).as("bm25"))
  }

  /** Per-document novelty: the fraction of a document's distinct bigram
    * shingles that appear in NO earlier document (first occurrence
    * attributed to the minimum doc id). High-novelty documents contribute
    * new content; near-zero novelty marks template/boilerplate-dominated
    * documents whose n-grams all arrived earlier — the corpus-level
    * "marginal contribution" score behind contribution-ordered curation.
    * Returns (doc_id, n_grams, n_novel, novelty) for every input document;
    * documents too short for a bigram score 0 over 0 grams.
    *
    * Plan: shingles travel as xxhash64 fingerprints, so the gram exchange
    * carries (hash, id) pairs only — never gram text (the passage_dedup
    * stance; a 2^-64 hash collision merges two grams and can only
    * under-count novelty). Two keyed aggregations — min doc per gram
    * (map-side partial min) and counts per doc — then a broadcast-sized
    * join back to ids. No corpus self-join at any point, so the op is
    * linear in total shingles at 100 TB.
    */
  def novelty(docs: org.apache.spark.sql.DataFrame,
              idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    // staged: the per-gram min and the per-doc gram count BOTH consume the
    // exploded fingerprint stream — without the checkpoint the
    // tokenise+shingle+explode subtree runs twice
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode(transform(bigrams(col(textCol)), g => xxhash64(g))).as("gh"))
      .staged
    val novel = grams.groupBy("gh").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    val counts = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    docs.select(col(idCol).as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_grams") > 0,
          col("n_novel").cast("double") / col("n_grams")).otherwise(lit(0.0)))
  }

  /** Readability columns (Flesch reading ease) from three integer counts:
    * whitespace words (the house tokenizer), sentence delimiters
    * (`[.!?]+` runs, clamped to ≥ 1 so delimiter-free text scores as one
    * sentence), and a vowel-group syllable proxy (`[aeiouy]+` runs — the
    * standard dictionary-free estimator). The score is one closed-form
    * double expression over those integers, so it is reproducible
    * cross-engine; everything is a narrow codegen'd regexp pass, no
    * shuffle. Cf. reference text-quality scoring (tabmap has none — this
    * extends the pipeline block).
    */
  def readabilityColumns(text: Column): Seq[(String, Column)] = {
    val words = size(tokens(text)).cast("long")
    val sents = greatest(regexp_count(text, lit("[.!?]+")), lit(1)).cast("long")
    val syll = regexp_count(lower(text), lit("[aeiouy]+")).cast("long")
    val flesch = round(lit(206.835)
      - lit(1.015) * (words.cast("double") / sents)
      - lit(84.6) * (syll.cast("double") / words), 6)
    Seq("n_words" -> words, "n_sentences" -> sents,
      "n_syllables" -> syll, "flesch" -> flesch)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every char `k`-gram, slide a
    * window of `w` consecutive hashes, and select each window's MINIMUM
    * hash with the RIGHTMOST-occurrence tie-break; consecutive windows
    * picking the same (position, hash) collapse to one fingerprint. The
    * guarantee that makes this the local-fingerprinting standard: any
    * shared substring of length ≥ k + w − 1 between two documents yields
    * at least one IDENTICAL selected fingerprint in both, at any offset —
    * unlike fixed-stride sampling. Density is ~2/(w+1) of the gram count.
    *
    * Scale shape: entirely NARROW — per-document selection with no
    * shuffle; only the selected ~2/(w+1)·grams fingerprints are emitted.
    * Pair detection downstream is then a keyed join on `fp` (the
    * passage_dedup stance: fingerprints travel, text never does). The
    * hash is the md5-prefix 32-bit integer the sampling ops use —
    * engine-reproducible, so the whole selection carries a full SQL
    * oracle. Documents shorter than k + w − 1 chars have no complete
    * window and emit nothing (documented).
    *
    * Deliberately a typed `flatMap`, not array expressions — the one op
    * in this file where the escape hatch is the RIGHT plan. The
    * declarative form (transform to a hash array, then per-window fold
    * with element_at) is quadratic in practice: InferFiltersFromGenerate
    * plants a `size(fps) > 0` Filter under the explode, predicate
    * pushdown substitutes the projection alias into it, and the inlined
    * hash-array expression is then re-evaluated inside every window's
    * fold — O(len²·w) md5s per document (observed as a hang on a
    * 500-doc corpus). The sequential form is also asymptotically better:
    * a monotonic deque gives amortized O(len) total vs O(len·w) for the
    * best per-window fold. Hashing is plain JVM MessageDigest inside the
    * partition iterator, so nothing is lost to interpretation overhead.
    */
  def winnow(df: DataFrame, k: Int = 5, w: Int = 4,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // the id passes through OPAQUELY (no cast): a Row encoder carries the
    // caller's id type to the output unchanged, so string/uuid document
    // ids survive — an earlier cast-to-long turned them into nulls that
    // crashed the non-nullable Long encoder at runtime.
    // spread before the fingerprint pass: one md5 per gram ≈ one per
    // CHARACTER of the corpus, and a compact parquet source arrives as a
    // single scan split — the whole pass on one core. No-op at real scale.
    val pruned = graft.io.DataFrames.spread(df)
      .select(col(idCol).as("doc_id"), col(textCol).cast("string").as("text"))
      .where(length(col("text")) >= k + w - 1)
    val outSchema = StructType(Seq(
      pruned.schema("doc_id").copy(name = "doc_id"),
      StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false)))
    pruned.mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { r =>
          val id = r.get(0)
          val text = r.getString(1)
          // positions and gram windows count CODEPOINTS, not UTF-16 units:
          // Spark's own substr/length Columns (which scrubWinnow splices
          // with) and DuckDB both index by codepoint, and a java.lang.String
          // window would split a surrogate pair in half — the r12 emoji
          // fixture row measured the resulting off-by-one fingerprint set.
          val cps = text.codePoints().toArray
          val n = cps.length - k + 1
          // gram hash = first 8 hex chars of md5 as an unsigned 32-bit int,
          // identical to conv(substring(md5(gram),1,8),16,10) and therefore
          // to the DuckDB oracle's ('0x'||substring(md5(g),1,8))::BIGINT
          val hs = new Array[Long](n)
          var i = 0
          while (i < n) {
            md.reset()
            val d = md.digest(new String(cps, i, k).getBytes("UTF-8"))
            hs(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
            i += 1
          }
          // monotonic deque of gram indexes with increasing hash; evicting
          // `>=` on push keeps the RIGHTMOST occurrence of equal minima, so
          // the head is each window's winnowing selection. A selected head
          // only ever moves forward, so de-dup is emit-on-change.
          val deque = new java.util.ArrayDeque[Int](w + 1)
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          var lastPicked = -1
          var j = 0
          while (j < n) {
            while (!deque.isEmpty && hs(deque.peekLast) >= hs(j)) deque.pollLast()
            deque.addLast(j)
            val s = j - w + 1 // window covering grams s..j
            if (s >= 0) {
              while (deque.peekFirst < s) deque.pollFirst()
              val p = deque.peekFirst
              if (p != lastPicked) {
                // 1-based position, oracle-aligned
                out += Row(id, p + 1L, hs(p))
                lastPicked = p
              }
            }
            j += 1
          }
          out
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** RAKE keyword extraction (Rose et al. 2010, Rapid Automatic Keyword
    * Extraction): candidate phrases are the maximal runs of consecutive
    * non-stopword tokens; each word scores degree/frequency over the
    * document's phrase occurrences (degree = Σ lengths of the phrases it
    * appears in, with multiplicity); a phrase scores the sum of its
    * words' scores; the document keeps its `topK` phrases by
    * (score desc, phrase asc). The classic zero-training keyphrase
    * extractor — next to [[graft.queries.Pipeline.docTfidfTopk]]'s
    * corpus-statistical unigrams, RAKE surfaces multi-word PHRASES from
    * document-local structure alone.
    *
    * Determinism: word scores are ONE BIGINT/BIGINT double division;
    * phrase sums route through DECIMAL(27,10) (associative — partition
    * order cannot drift), rounded once, and RANKING happens on the
    * rounded score so both engines see identical order. Scale: phrase
    * splitting is pure narrow Column work (the CDC span pattern), then
    * two keyed aggregates ((doc, word), (doc, phrase)) and a per-doc
    * top-K window — nothing corpus-sized beyond the keyed shuffles.
    */
  def rakeKeywords(docs: DataFrame, stopwords: Seq[String] = LangProfiles.head._2,
                   topK: Int = 3, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sw = typedlit(stopwords)
    val spans = graft.io.DataFrames.spread(docs)
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n"))
      .where(col("n") >= 1)
      .select(col("doc_id"), col("ws"), col("n"),
        filter(sequence(lit(1), col("n")),
          i => array_contains(sw, element_at(col("ws"), i))).as("bidx"))
      .select(col("doc_id"), col("ws"),
        concat(array(lit(1)), transform(col("bidx"), b => b + 1)).as("starts"),
        concat(transform(col("bidx"), b => b - 1), array(col("n"))).as("ends"))
    // spread + checkpointed: word scores and distinct phrases BOTH consume
    // the phrase table — unstaged, each re-runs the tokenise + span
    // extraction lambdas, on one core for a compact single-split source
    val phrases = spans.select(col("doc_id"),
      explode(filter(zip_with(col("starts"), col("ends"),
          (s, e) => when(e >= s, slice(col("ws"), s, e - s + 1))),
        p => p.isNotNull)).as("pw"))
      .staged
    val wsc = phrases
      .select(col("doc_id"), size(col("pw")).as("plen"), explode(col("pw")).as("word"))
      .groupBy("doc_id", "word")
      .agg((sum("plen").cast("double") / count(lit(1))).as("s"))
    val pdis = phrases
      .select(col("doc_id"), array_join(col("pw"), " ").as("phrase"), col("pw"))
      .distinct()
    val psc = pdis
      .select(col("doc_id"), col("phrase"), explode(col("pw")).as("word"))
      .join(wsc, Seq("doc_id", "word"))
      .groupBy("doc_id", "phrase")
      .agg(round(sum(col("s").cast("decimal(27,10)")).cast("double"), 6).as("rake_score"))
    val w = Window.partitionBy("doc_id").orderBy(col("rake_score").desc, col("phrase"))
    psc.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("phrase"), col("rake_score"))
      .orderBy("doc_id", "rank")
  }
}
