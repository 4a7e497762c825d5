package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.{Relational, Tables}

/** The batch kernels and queries fed from a Structured Streaming source.
  *
  * The library is batch only, but its kernels are plain column
  * expressions and algebraic aggregates, so Spark runs them unchanged
  * under `readStream`. Each case drains a stream through a kernel into a
  * memory sink and checks the result against the batch query or kernel on
  * the same rows. The file source and the stream-side aggregates are
  * spec-local; the kernels under test are the library's. Case labels
  * follow SURVEY.md §2-D. D3 and the schema-adaptive events case check
  * the batch sessionizer and events reader those rows rely on.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def batchEvents = Tables.events(spark, dir)

  private def batchDocs = spark.read.parquet(s"$dir/documents.parquet")

  /** File-stream source over one table of an sf dir; the schema is read
    * from the file present at start.
    */
  private def tableStream(d: String, table: String): DataFrame = {
    val glob = s"$table.parquet"
    val schema = spark.read.option("pathGlobFilter", glob).parquet(d).schema
    spark.readStream.schema(schema).option("pathGlobFilter", glob).parquet(d)
  }

  /** Events stream with `ts` normalised like the batch reader. */
  private def eventStream(d: String): DataFrame = {
    val raw = tableStream(d, "events")
    raw.withColumn("ts", Tables.eventTs(raw))
  }

  private def documentStream(d: String): DataFrame = tableStream(d, "documents")

  /** Runs `df` into a memory sink until the source is drained. */
  private def drain(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Event-time tumbling (or, with `slide`, hopping) windows per event
    * type, bucket as epoch micros: the stream-side form of the batch
    * `events_window`/`events_hop` queries.
    */
  private def windowAgg(events: DataFrame, length: String,
                        slide: Option[String] = None): DataFrame = {
    val w = slide.fold(window(col("ts"), length))(window(col("ts"), length, _))
    events.withWatermark("ts", "10 minutes")
      .groupBy(w, col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * lit(1000000) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6)).as("sum_value"))
      .select(unix_micros(col("window.start")).as("bucket"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** Scores accumulated hourly buckets with the batch trailing-z kernel;
    * a replayed bucket is an exact duplicate, so dedup restores the
    * kernel's unique-key precondition.
    */
  private def anomalyScores(buckets: DataFrame): DataFrame =
    graft.ops.stats.Stats.trailingZ(
      buckets.select("bucket", "event_type", "n_events")
        .dropDuplicates("bucket", "event_type"),
      "event_type", "bucket", "n_events")

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("D1: stream window agg equals the batch twin (end-to-end memory sink)") {
    val streamed = rows(drain(windowAgg(eventStream(dir), "1 hour"), "win_agg", "complete"))
    val batch = rows(Relational.eventsWindow(spark, dir))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("D1b: hopping-window stream agg equals the batch twin, 3 windows per event") {
    val sink = drain(windowAgg(eventStream(dir), "15 minutes", Some("5 minutes")),
      "hop_agg", "complete")
    assert(rows(sink) === rows(Relational.eventsHop(spark, dir)))
    // overlap invariant: summed per-window counts = 3x the event count
    val total = sink.agg(sum("n_events")).head().getLong(0)
    assert(total === 3 * batchEvents.count())
  }

  test("D13: streaming anomaly scores equal the batch events_anomaly query") {
    // stage 1: the stream's window agg lands hourly buckets in the sink
    val buckets = drain(windowAgg(eventStream(dir), "1 hour"), "anomaly_buckets", "complete")
    // stage 2: the batch trailing-z kernel scores the accumulated buckets
    val streamed = rows(anomalyScores(buckets))
    val batch = rows(Relational.eventsAnomaly(spark, dir))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // the kernel actually scores: at least one bucket has a defined z
    assert(streamed.exists(_(3) != null))
  }

  test("D13: append-mode closed buckets score exactly as the batch query's closed prefix") {
    // two time-ordered files so the watermark advances between triggers and
    // the engine actually CLOSES windows
    val tmp = Files.createTempDirectory("graft-anom").toString
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .orderBy("ts")
    val n = ev.count()
    ev.limit((n / 2).toInt).write.parquet(s"$tmp/batch1")
    ev.orderBy(col("ts").desc).limit((n - n / 2).toInt).write.parquet(s"$tmp/batch2")
    val raw = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/*/")
    val src = raw.withColumn("ts", Tables.eventTs(raw))
    val closed = drain(windowAgg(src, "1 hour"), "anomaly_closed", "append")

    // the watermark leaves the trailing bucket(s) open: a strict subset
    val closedKeys = rows(closed.select("bucket", "event_type"))
    val batchAll = Relational.eventsAnomaly(spark, dir)
    val batchKeys = rows(batchAll.select("bucket", "event_type"))
    assert(closedKeys.nonEmpty && closedKeys.subsetOf(batchKeys))
    assert(closedKeys.size < batchKeys.size,
      "the final watermark must leave at least one bucket unclosed")

    // closed buckets score FINAL values: identical rows to the batch query
    // restricted to the closed keys (every closed bucket's trailing
    // neighbours are closed too, so no z can be revised later)
    val streamed = rows(anomalyScores(closed))
    val batchClosed = batchAll.collect().map(_.toSeq)
      .filter(r => closedKeys.contains(Seq(r(0), r(1)))).toSet
    assert(streamed === batchClosed)
    assert(streamed.exists(_(3) != null))

    // a replay-after-restart appends closed buckets twice; the dedup keeps
    // the scores identical
    assert(rows(anomalyScores(closed.union(closed))) === streamed)
  }

  test("D4: foreachBatch lands stream batches as workflow checkpoints") {
    val out = Files.createTempDirectory("graft-sink").toString
    val query = eventStream(dir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$out/events.parquet")
      }
      .option("checkpointLocation", s"$out/_chk")
      .start()
    try query.processAllAvailable() finally query.stop()
    val landed = graft.io.Checkpoint.load(spark,
      graft.io.Checkpoint.checkPath(s"$out/events.parquet"))
    assert(landed.count() === batchEvents.count())
  }

  test("D8: streaming MG candidates cover every true heavy hitter per group") {
    // the batch Misra–Gries aggregate as streaming aggregation state
    graft.functions.GraftFunctions.register(spark)
    val capacity = 24
    val stream = documentStream(dir)
      .select(col("source").as("grp"), explode(split(col("text"), " ")).as("token"))
      .groupBy("grp")
      .agg(call_function("graft_mg_items", col("token"), lit(capacity)).as("candidates"),
        count(lit(1)).as("n_tokens"))
    val sink = drain(stream, "hh_cands", "update").collect()
    // last emission per group = the end-of-stream sketch state
    val cands = sink.groupBy(_.getString(0))
      .map { case (g, rs) => g -> rs.maxBy(_.getLong(2)).getSeq[String](1).toSet }

    // ground truth at threshold n/(capacity+1): MG guarantee bound
    val truth = graft.ops.text.CorpusStats
      .heavyHitters(batchDocs, capacity + 1, groupCol = "source")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(truth.nonEmpty, "weak test: no heavy hitters at this capacity")
    truth.foreach { case (g, tok) =>
      assert(cands(g).contains(tok), s"group $g lost true heavy hitter '$tok'")
    }
    // bounded state: no candidate set ever exceeds capacity
    assert(sink.forall(_.getSeq[String](1).size <= capacity))
  }

  test("D9: streaming passage counts converge to the batch chunking") {
    import graft.ops.dedup.Dedup
    val stream = Dedup.chunkFingerprints(documentStream(dir))
      .groupBy("chunk_fp").agg(count(lit(1)).as("n_occ"))
    // update mode emits running counts; the max per fingerprint is the
    // final (monotone) count
    val streamed = drain(stream, "passage_counts", "update").collect()
      .groupBy(_.getString(0)).map { case (fp, rs) => fp -> rs.map(_.getLong(1)).max }
    val batch = Dedup.chunkFingerprints(batchDocs)
      .groupBy("chunk_fp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stateless text gates (gopher + pii) run unchanged on a document stream") {
    import graft.ops.text.TextOps
    def gates(df: DataFrame) = {
      val cols = (TextOps.gopherColumns(col("text")) ++ TextOps.piiColumns(col("text")))
        .collect { case (n, c) if n == "pass" || n == "scrubbed" => c.as(n) }
      df.select(col("doc_id") +: cols: _*)
    }
    val streamed = rows(drain(gates(documentStream(dir)), "text_gates", "append"))
    assert(streamed === rows(gates(batchDocs)))
    assert(streamed.nonEmpty)
  }

  test("D3: sessionize splits on gaps > 30min and aggregates per session") {
    def at(min: Long) = new Timestamp(min * 60000L)
    val events = Seq(
      Relational.Event(1, at(0), 7L, "click", 1.0),
      Relational.Event(2, at(10), 7L, "click", 2.0),
      Relational.Event(3, at(100), 7L, "view", 4.0),  // gap 90min → new session
      Relational.Event(4, at(120), 7L, "click", 8.0),
      Relational.Event(5, at(0), 9L, "view", 16.0)
    ).toDS()
    val sessions = Relational.sessionize(events, gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(sessions.length === 3)
    val s1 = sessions(0)
    assert(s1.user_id === 7L && s1.n_events === 2 && s1.sum_value === 3.0)
    assert(s1.session_start === at(0) && s1.session_end === at(10))
    val s2 = sessions(1)
    assert(s2.n_events === 2 && s2.sum_value === 12.0)
    assert(s2.session_start === at(100) && s2.session_end === at(120))
    val s3 = sessions(2)
    assert(s3.user_id === 9L && s3.n_events === 1 && s3.sum_value === 16.0)
    assert(s3.session_start === at(0) && s3.session_end === at(0))
  }

  test("D11: streaming histogram sketch converges to the batch bucket counts") {
    // per-source token-length buckets on the batch sketch's pow2 rule
    def histSketch(docs: DataFrame) =
      docs.select(col("source").as("grp"),
          graft.ops.stats.Stats.pow2Bucket(
            size(graft.ops.text.TextOps.tokens(col("text")))).as("b"))
        .groupBy("grp", "b").count()
    def counts(df: DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val streamed = counts(drain(histSketch(documentStream(dir)), "hist_sketch", "complete"))
    assert(streamed.nonEmpty && streamed === counts(histSketch(batchDocs)))
  }

  test("D12: a batch-trained NB model scores a stream identically to the batch distill") {
    import graft.ops.text.TextOps
    val pass = TextOps.gopherColumns(col("text")).toMap.apply("pass") === 1
    val model = TextOps.nbTrain(batchDocs, pass)
    val sink = drain(TextOps.nbScore(documentStream(dir), model), "nb_scores", "update")
    // last emission per doc = the completed score
    val streamed = sink.collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.last.getDouble(1) }
    val batch = TextOps.nbDistill(batchDocs, pass).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("D16: streaming vocabulary top-k equals the batch corpus_zipf ranked prefix") {
    val stream = documentStream(dir)
      .select(explode(graft.ops.text.TextOps.tokens(col("text"))).as("t"))
      .where(length(col("t")) > 0)
      .groupBy("t").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("t"))
      .limit(50)
    val sink = drain(stream, "zipf_topk", "complete").collect()
    val streamed = sink.map(r => r.getString(0) -> r.getLong(1)).toSet
    val batch = graft.queries.Pipeline.corpusZipf(spark, dir)
      .select("t", "freq").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(streamed.nonEmpty && streamed === batch)
    // the slope by the same OLS closed form over the sink rows equals the
    // batch query's zipf_slope column
    val pts = sink.sortBy(r => (-r.getLong(1), r.getString(0))).zipWithIndex
      .map { case (r, i) => (math.log(i + 1.0), math.log(r.getLong(1).toDouble)) }
    val k = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val (sxy, sxx) = (pts.map(p => p._1 * p._2).sum, pts.map(p => p._1 * p._1).sum)
    val slope = BigDecimal((k * sxy - sx * sy) / (k * sxx - sx * sx))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val batchSlope = graft.queries.Pipeline.corpusZipf(spark, dir)
      .select("zipf_slope").head().getDouble(0)
    assert(math.abs(slope - batchSlope) <= 1e-6, s"$slope vs $batchSlope")
  }

  test("D17: streaming user-stats monitor equals the batch events_user_stats query") {
    val stream = eventStream(dir).where(col("user_id") % 50 === 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        unix_micros(min(col("ts"))).as("first_us"),
        unix_micros(max(col("ts"))).as("last_us"),
        (sum(floor(col("value") * lit(1000000) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6)).as("sum_value"))
    // last emission per user = the completed aggregate
    val streamed = drain(stream, "user_stats", "update").collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.last.toSeq.drop(1) }
    val batch = Relational.qEventsUserStats(spark, dir).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("D18: streaming latest-per-key compaction equals the batch events_latest_per_key query") {
    // max of the (ts, event_id, ...) struct orders like the batch rank-1
    // window on (ts, event_id)
    val stream = eventStream(dir).groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"),
        col("event_type"), col("value"))).as("last"))
      .select(col("user_id"), unix_micros(col("last.ts")).as("last_us"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
    // last emission per user = the current state after the full prefix
    val streamed = drain(stream, "latest_state", "update").collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.last.toSeq.drop(1) }
    val batch = Relational.qLatestPerKey(spark, dir).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("D22: streaming rolling-DAU HLL registers equal the batch sketch, estimate rides along") {
    import graft.ops.stats.Stats
    // each event counts toward the 3 window-end days it touches
    def dauRegisters(events: DataFrame) =
      Stats.hllRegisters(
        events.select(col("user_id"),
            datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
          .select(col("user_id"), explode(sequence(col("day"), col("day") + 2)).as("wend")),
        "wend", col("user_id"))
    // register maxima are monotone — the max emission per (wend, j) is final
    val streamed = drain(dauRegisters(eventStream(dir)), "dau_regs", "update").collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (k, rs) => k -> rs.map(_.getInt(2)).max }
    val batch = dauRegisters(batchEvents).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(streamed.nonEmpty && streamed === batch)
    // probing the stream's registers gives the batch estimate exactly
    val regsDf = streamed.toSeq.map { case ((w, j), m) => (w, j, m) }
      .toDF("wend", "j", "mj")
    val est = Stats.hllEstimate(regsDf, "wend").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val batchEst = Stats.hllEstimate(dauRegisters(batchEvents), "wend").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(est === batchEst)
  }

  test("D15: streaming quality-agreement monitor equals the batch diagnostic") {
    import graft.ops.text.TextOps
    def agreement(docs: DataFrame) = graft.ops.stats.Stats.flagAgreement(
      TextOps.gopherFlagFrame(docs, "text"), TextOps.GopherFlagNames)
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))
    val streamed = drain(agreement(documentStream(dir)), "qa_monitor", "complete")
      .collect().map(key).toMap
    val batch = agreement(batchDocs).collect().map(key).toMap
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("events ingestion is schema-adaptive: nanos-long and timestamp sources agree") {
    // fixtures in BOTH schemas events.parquet has shipped in: ts as int64
    // epoch-nanos and as parquet TIMESTAMP micros. Same logical events,
    // micro-exact values.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tmp = Files.createTempDirectory("graft-dual").toString
    val events = Seq( // (event_id, ts in epoch MICROS, user_id, type, value, props)
      (1L, 1000000000000000L, 7L, "view", 1.0, """{"k":1}"""),
      (2L, 1000000000500000L, 7L, "click", 2.0, """{"k":2}"""),
      (3L, 1000003600000007L, 9L, "view", 4.0, """{"k":3}"""))
    // single-FILE layout like the test data ($dir/events.parquet is a file,
    // not a directory): stage the write, move the lone part file in place
    def asSingleFile(df: DataFrame, name: String): Unit = {
      val stage = s"$tmp/stage_$name"
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.createDirectories(java.nio.file.Paths.get(s"$tmp/$name"))
      Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/$name/events.parquet"))
    }
    asSingleFile(events.map { case (id, us, u, t, v, p) => (id, us * 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "nanos")
    asSingleFile(events.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts_us")).cast(TimestampNTZType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"), "micros")

    for (d <- Seq(s"$tmp/nanos", s"$tmp/micros")) {
      // both normalise to ONE downstream type
      assert(Tables.events(spark, d).schema("ts").dataType === TimestampType, d)
    }
    // the event queries give identical output from either schema
    def win(d: String) = Relational.eventsWindow(spark, d).collect().map(_.toSeq).toSeq
    assert(win(s"$tmp/nanos") === win(s"$tmp/micros"))
    assert(win(s"$tmp/nanos").nonEmpty)
    def sessions(d: String) =
      Relational.sessionizeEvents(spark, d).collect().map(_.toSeq).toSeq
    assert(sessions(s"$tmp/nanos") === sessions(s"$tmp/micros"))
    // the 7 µs past the hour survives: user 9's session starts at ...007
    assert(sessions(s"$tmp/micros").map(r => r(0) -> r(1)) ===
      Seq(7L -> 1000000000000000L, 9L -> 1000003600000007L))
    // a stream over either file normalises ts the same way
    def streamed(d: String, q: String) =
      rows(drain(windowAgg(eventStream(d), "1 hour"), q, "complete"))
    val a = streamed(s"$tmp/nanos", "dual_nanos")
    assert(a.nonEmpty && a === streamed(s"$tmp/micros", "dual_micros"))
  }

  test("D34: live shard manifest converges on the batch manifest however batches split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.sample.Sampling
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
    val b2 = Seq((4L, null.asInstanceOf[String]), (5L, "delta"), (6L, "epsilon"))
    val mem = MemoryStream[(Long, String)]
    // the manifest without its presentation sort: every term is mergeable
    val q = Sampling.shardStats(mem.toDF.toDF("doc_id", "text"), "doc_id", "text", nShards = 4)
      .writeStream.format("memory").queryName("manifest")
      .outputMode("update").start()
    def latest() = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy(col("batch_ord").desc)
      spark.table("manifest")
        .withColumn("batch_ord", monotonically_increasing_id())
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .drop("batch_ord", "rn")
        .collect().map(r => r.getAs[Int]("shard") -> r.toSeq.drop(1)).toMap
    }
    def batch(rs: Seq[(Long, String)]) =
      Sampling.shardManifest(rs.toDF("doc_id", "text"), "doc_id", "text", nShards = 4)
        .collect().map(r => r.getAs[Int]("shard") -> r.toSeq.drop(1)).toMap
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      assert(latest() === batch(b1))
      mem.addData(b2: _*)
      q.processAllAvailable()
      // latest per shard == the batch manifest over everything streamed:
      // count/sum/min/max/xor all commute, so the batch split is invisible
      assert(latest() === batch(b1 ++ b2))
      // and the NULL-text doc contributed 0 bytes but still counts
      assert(latest().values.map(_(0).asInstanceOf[Long]).sum === 6L)
    } finally q.stop()
  }
}
