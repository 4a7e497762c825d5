package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.dedup.Dedup
import graft.ops.stats.Stats

/** Shared-passage CDC dedup, skew diagnostics, and exact percentiles. */
class StatsSpec extends SparkSpec {

  import spark.implicits._

  // ---- sharedPassages -----------------------------------------------------

  // boundary rule for divisor 7: (ascii(w)·256 + len(w)) % 7 == 0, i.e.
  // (4·ascii + len) % 7 == 0. "aqua" (97→388%7=3, +4) IS a boundary; alpha/
  // beta/gamma/delta/epsilon/zeta are verified non-boundaries. The passage
  // opens and closes on a boundary so its interior chunk is offset-free.
  private val passage = "aqua alpha beta gamma delta epsilon zeta aqua"

  test("sharedPassages finds a planted passage at DIFFERENT offsets (content-defined)") {
    val docs = Seq(
      (1L, s"one two $passage three"),
      (2L, s"$passage nine ten eleven twelve thirteen"),
      (3L, "unrelated words entirely here nothing shared")).toDF("doc_id", "text")
    val out = Dedup.sharedPassages(docs, divisor = 7, minTokens = 5, minDocs = 2)
      .collect()
    // the interior chunk between the passage's two boundary tokens is
    // identical in both docs even though its offset differs — a
    // fixed-stride chunker cannot guarantee this
    assert(out.length === 1)
    assert(out.head.getLong(1) === 2 && out.head.getLong(2) === 2)
  }

  test("sharedPassages: single-doc repeats counted as occurrences, not docs") {
    val docs = Seq((1L, s"$passage $passage")).toDF("doc_id", "text")
    val all = Dedup.sharedPassages(docs, divisor = 7, minTokens = 5, minDocs = 1)
      .collect()
    assert(all.exists(r => r.getLong(1) == 1 && r.getLong(2) == 2))
    assert(Dedup.sharedPassages(docs, divisor = 7, minTokens = 5, minDocs = 2).count() === 0)
  }

  test("sharedPassages handles degenerate docs (empty, null, boundary-free, all-boundary)") {
    val docs = Seq(
      (1L, Some("")),
      (2L, None),
      (3L, Some("alpha beta gamma delta epsilon")), // no boundary: one tail chunk
      (4L, Some("aqua aqua aqua aqua aqua aqua"))) // every token a boundary
      .toDF("doc_id", "text")
    val out = Dedup.sharedPassages(docs, divisor = 7, minTokens = 5, minDocs = 1).collect()
    // doc 3 survives as its whole-doc chunk; docs 1/2/4 produce only
    // sub-minTokens chunks (or none) and must not crash
    assert(out.length === 1 && out.head.getLong(2) === 1)
  }

  test("sharedPassages agrees with an independent per-doc chunker") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expected = docs.select("doc_id", "text").as[(Long, String)].collect()
      .flatMap { case (id, text) =>
        val ws = text.split(" ", -1)
        val chunks = scala.collection.mutable.ListBuffer.empty[String]
        var start = 0
        for (i <- ws.indices) {
          val w = ws(i)
          val boundary = ((if (w.isEmpty) 0 else w.head.toInt) * 256 + w.length) % 7 == 0
          if (boundary) { chunks += ws.slice(start, i + 1).mkString(" "); start = i + 1 }
        }
        if (start < ws.length) chunks += ws.slice(start, ws.length).mkString(" ")
        chunks.filter(_.split(" ", -1).length >= 5).map(c => (id, c))
      }
    // .toSeq BEFORE .map: mapping a Map to count-pairs would rebuild a Map
    // keyed on n_docs and silently collapse equal pairs
    val expAgg = expected.groupBy(_._2).toSeq.map { case (_, occ) =>
      (occ.map(_._1).distinct.size.toLong, occ.size.toLong)
    }.filter(_._1 >= 2).sorted
    val got = Dedup.sharedPassages(docs, divisor = 7, minTokens = 5, minDocs = 2)
      .select("n_docs", "n_occ").as[(Long, Long)].collect().toSeq.sorted
    assert(got === expAgg)
    assert(got.nonEmpty)
  }

  // ---- bm25 ---------------------------------------------------------------

  test("bm25: rarer terms outscore common ones at equal tf and length") {
    import graft.ops.text.TextOps
    // "rare" appears in 1 of 4 docs, "common" in all 4; equal tf and dl
    val docs = Seq(
      (1L, "rare pad pad"),
      (2L, "common pad pad"),
      (3L, "common pad pad"),
      (4L, "common pad pad")).toDF("doc_id", "text")
    val out = TextOps.bm25(docs, Seq("rare", "common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L)) // "pad"-only docs would drop
    assert(out(1L) > out(2L), s"idf ordering violated: $out")
    assert(out(2L) === out(3L) && out(3L) === out(4L))
  }

  test("bm25: term frequency saturates (k1 cap) and length normalises") {
    import graft.ops.text.TextOps
    val docs = Seq(
      (1L, "hit pad"),
      (2L, "hit hit pad"),          // higher tf, slightly longer
      (3L, "hit pad pad pad pad")). // same tf as 1, longer doc
      toDF("doc_id", "text")
    val out = TextOps.bm25(docs, Seq("hit"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(2L) > out(1L))                 // more occurrences score higher
    assert(out(2L) < 2 * out(1L))             // ...but sub-linearly (saturation)
    assert(out(3L) < out(1L), s"length normalisation violated: $out")
  }

  // ---- contamination bloom branch ----------------------------------------

  test("contamination's Bloom branch (eval vocab above broadcast cutoff) is exact") {
    import graft.ops.dedup.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isEval = col("source") === "src0"
    val viaBroadcast = Dedup.contamination(docs, isEval)
      .collect().map(_.toSeq).toSet
    // maxBroadcastGrams = 0 forces the row-broadcast reduction OFF, so the
    // fixed-size Bloom prefilter carries the semi-join reduction instead
    val viaBloom = Dedup.contamination(docs, isEval, maxBroadcastGrams = 0L,
        bloomBits = 1 << 16)
      .collect().map(_.toSeq).toSet
    assert(viaBroadcast.nonEmpty)
    assert(viaBloom === viaBroadcast)
  }

  // ---- histQuantiles ------------------------------------------------------

  test("histQuantiles: estimates stay within the power-of-two bucket of the exact quantile") {
    val rnd = new scala.util.Random(42)
    val vals = Seq.fill(500)(rnd.nextInt(2000).toLong)
    val df = vals.map(("g", _)).toDF("grp", "v")
    val pcts = Seq(0.25, 0.5, 0.9, 0.99)
    val got = Stats.histQuantiles(df, "grp", col("v"), pcts)
      .collect().map(r => r.getDouble(1) -> r.getDouble(3)).toMap
    val sorted = vals.sorted
    pcts.foreach { p =>
      // exact PERCENTILE_CONT and the estimate must share a bucket:
      // the sketch's error bound is the bucket width (≤2× relative)
      val r = p * (vals.size - 1)
      val exact = sorted(r.toInt) + (r - r.toInt) *
        (sorted(math.min(r.toInt + 1, vals.size - 1)) - sorted(r.toInt))
      assert(got(p) <= 2 * exact + 1 && got(p) >= exact / 2 - 1,
        s"p=$p est=${got(p)} exact=$exact")
    }
    // quantile estimates are monotone in p
    val byP = pcts.map(got)
    assert(byP === byP.sorted)
  }

  test("histQuantiles: bit-identical under any partitioning") {
    val rnd = new scala.util.Random(7)
    val df = Seq.fill(300)((s"g${rnd.nextInt(3)}", rnd.nextInt(100000).toLong))
      .toDF("grp", "v")
    val a = Stats.histQuantiles(df.repartition(1), "grp", col("v"), Seq(0.5, 0.95))
      .collect().map(_.toSeq)
    val b = Stats.histQuantiles(df.repartition(13), "grp", col("v"), Seq(0.5, 0.95))
      .collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq === b.toSeq)
  }

  // ---- canonicalize -------------------------------------------------------

  test("canonicalize keeps the longest member, ties broken by min id") {
    import graft.ops.dedup.Dedup
    val docs = Seq(
      (1L, "short doc here"),
      (2L, "this one is the longest of the cluster right here"),
      (3L, "this one is the longest of the cluster right also"), // same len as 2
      (9L, "lone other cluster a"),
      (10L, "lone other cluster b")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L), (10L, 9L))
      .toDF("id", "component")
    val out = Dedup.canonicalize(docs, clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // cluster 1: docs 2 and 3 tie at 10 tokens — min id 2 survives
    assert(out === Set((1L, 2L, 3L), (9L, 9L, 2L)))
  }

  // ---- tfidfTopK ----------------------------------------------------------

  test("tfidfTopK ranks rare terms above ubiquitous ones and goes through TopKPerKey") {
    import graft.ops.text.TextOps
    val docs = Seq(
      (1L, "shared zebra shared shared"),
      (2L, "shared common words here"),
      (3L, "shared common words here")).toDF("doc_id", "text")
    val q = TextOps.tfidfTopK(docs, k = 2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected TopKPerKeyExec in:\n$plan")
    val doc1 = q.where(col("doc_id") === 1).orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getString(2)))
    // "zebra" (df=1) outranks "shared" (df=3) despite tf 1 vs 3
    assert(doc1.head === ((1, "zebra")), s"got ${doc1.toSeq}")
  }

  // ---- skewReport ---------------------------------------------------------

  test("cusum: sustained small shift alarms while every bucket stays inside the 2-sigma band") {
    // 40 baseline buckets alternating 99/101 (mean 100), then 20 buckets
    // at 102 — a +2 LEVEL shift no per-bucket detector sees (max |x−μ|
    // stays ≈ 1.1σ) but whose cumulative drift must cross the 4σ alarm
    val xs = (0 until 40).map(i => (i.toLong, if (i % 2 == 0) 99L else 101L)) ++
      (40 until 60).map(i => (i.toLong, 102L))
    val df = xs.map { case (b, x) => ("t", b, x) }.toDF("g", "b", "x")
    val out = Stats.cusum(df, "g", "b", "x").collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // sustained-small by construction: no bucket beyond 2σ of the series
    val n = xs.size.toDouble
    val mean = xs.map(_._2).sum / n
    val sd = math.sqrt(xs.map(t => (t._2 - mean) * (t._2 - mean)).sum / n)
    assert(xs.forall { case (_, x) => math.abs(x - mean) < 2 * sd })
    // the drift accumulates: alarm ON by the end of the shifted region,
    // OFF throughout the baseline
    assert(out(59L)._2, s"cusum must alarm at the end of the shift (S=${out(59L)._1})")
    assert((0L until 40L).forall(b => !out(b)._2), "no baseline alarm")
    // bit-exact hand recursion in the op's 1e6-scaled integer units
    val sx = xs.map(_._2).sum
    val sxx = xs.map(t => t._2 * t._2).sum
    val mu6 = sx * 1000000L / xs.size
    val sdD = math.sqrt(math.max(sxx.toDouble / n - (sx.toDouble / n) * (sx.toDouble / n), 0.0))
    val k6 = math.floor(0.5 * sdD * 1e6 + 0.5).toLong
    var s = 0L
    xs.foreach { case (b, x) =>
      s = math.max(0L, s + x * 1000000L - mu6 - k6)
      assert(out(b)._1 === s, s"bucket $b: op ${out(b)._1} vs hand $s")
    }
  }

  test("holt: a steady trend forecasts silently, a level break alarms, hand recursion is bit-exact") {
    // linear growth 100 + 5t that a level-only detector would flag
    // constantly, with one planted +2000 break at t = 40
    val xs = (0 until 60).map(i =>
      (i.toLong, 100L + 5L * i + (if (i == 40) 2000L else 0L)))
    val df = xs.map { case (b, x) => ("t", b, x) }.toDF("g", "b", "x")
    val out = Stats.holt(df, "g", "b", "x").collect().map(r =>
      r.getLong(1) -> ((Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    // first bucket: no forecast yet, level = x·1e6, trend 0, no alarm
    assert(out(0L) === ((None, None, 100000000L, 0L, false)))
    // hand recursion in the op's exact integer units, h6 from the series σ
    val n = xs.size.toDouble
    val sx = xs.map(_._2).sum
    val sxx = xs.map(t => t._2 * t._2).sum
    val sd = math.sqrt(math.max(sxx.toDouble / n - (sx.toDouble / n) * (sx.toDouble / n), 0.0))
    val h6 = math.floor(3.0 * sd * 1e6 + 0.5).toLong
    var l = xs.head._2 * 1000000L
    var t = 0L
    xs.tail.foreach { case (b, x) =>
      val f = l + t
      val e = x * 1000000L - f
      val lNew = Math.floorDiv(x * 1000000L + l + t, 2L)
      val tNew = Math.floorDiv(lNew - l + t, 2L)
      l = lNew; t = tNew
      assert(out(b) === ((Some(f), Some(e), lNew, tNew, math.abs(e) > h6)),
        s"bucket $b")
    }
    // once the trend is locked (t >= 10), the growth itself never alarms
    (10L until 40L).foreach(b => assert(!out(b)._5, s"trend bucket $b alarmed"))
    // the planted break DOES
    assert(out(40L)._5, s"break bucket must alarm (e=${out(40L)._2})")
    // and the locked-in forecast error is far below the level deviation
    // (at t=39 the series sits ~97 above its own mean — trend absorbed)
    assert(math.abs(out(39L)._2.get) < h6 / 10)
  }

  test("events_seasonality chi-square: uniform silent, concentrated alarms, absent hours on the spine") {
    import graft.queries.Relational
    // build an events-shaped frame via a temp view path: use the query's
    // own arithmetic through a local fixture instead — hand-check the
    // closed form here: all T events in ONE hour gives
    // num = (23T)² + 23·T² = 552T², chi2 = 552T²/(24T) = 23T
    val T = 10L
    val chi2Concentrated = 552.0 * T * T / (24 * T)
    assert(chi2Concentrated === 23.0 * T)
    assert(chi2Concentrated > 41.638, "one-hour concentration must flag diurnal")
    // perfectly uniform: every dev = 0, chi2 = 0 — never flags
    val uniformDevs = (0 until 24).map(_ => 24L * 5 - 120L)
    assert(uniformDevs.forall(_ == 0L))
    // the real query at sf0.001: full 24-row spine per type, shares sum
    // to ~1 (each share quantized at 6dp), chi2 constant within a type
    val out = Relational.eventsSeasonality(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
    val byType = out.groupBy(_._1)
    byType.foreach { case (t, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (0 until 24), s"spine for $t")
      assert(rows.map(_._5).distinct.length === 1, s"chi2 constant for $t")
      val shareSum = rows.map(_._4).sum
      assert(math.abs(shareSum - 1.0) < 24e-6, s"$t shares sum to ~1 ($shareSum)")
      // flag consistent with the critical value
      assert(rows.forall(r => r._6 === (r._5 > 41.638)), t)
    }
  }

  test("ols2: recovers a planted linear law exactly, refuses collinear features, layout-invariant") {
    // noise-free planted law y6 = 10 + 3·x1 + 7·x2 on a non-degenerate grid
    val grid = for { a <- 1L to 20L; b <- 1L to 5L }
      yield (a, a * b % 11L, 10L + 3L * a + 7L * (a * b % 11L))
    val df = grid.toDF("x1", "x2", "y6")
    val row = Stats.ols2(df, col("x1"), col("x2"), col("y6")).collect()(0)
    assert(row.getLong(0) === grid.size.toLong)
    assert(row.getDouble(1) === 10.0, "b0")
    assert(row.getDouble(2) === 3.0, "b1")
    assert(row.getDouble(3) === 7.0, "b2")
    assert(row.getLong(4) === 0L, "sse on a noise-free law")
    assert(row.getDouble(5) === 1.0, "r2 on a noise-free law")
    // collinear features: det = 0 -> NULL coefficients, never ±Inf
    val col2 = grid.map { case (a, _, y) => (a, 2 * a, y) }.toDF("x1", "x2", "y6")
    val sing = Stats.ols2(col2, col("x1"), col("x2"), col("y6")).collect()(0)
    assert(sing.isNullAt(1) && sing.isNullAt(2) && sing.isNullAt(3) && sing.isNullAt(5))
    // exact integer/decimal ladder: partition layout cannot move anything
    val again = Stats.ols2(df.repartition(7), col("x1"), col("x2"), col("y6"))
      .collect()(0)
    assert(again === row)
  }

  test("cmsJoinSize: one-sided bound, exact at collision-free width, registers merge by SUM") {
    def regs(keys: Seq[Long], w: Int) =
      Stats.cmsRegisters(keys.toDF("k"), col("k"), d = 4, w = w)
    // planted frequencies: A has key i repeated i times, B has 1,1,2
    val aKeys = (1L to 4L).flatMap(i => Seq.fill(i.toInt)(i))
    val bKeys = Seq(1L, 1L, 2L)
    // exact join size = f_A(1)*2 + f_A(2)*1 = 1*2 + 2*1 = 4
    val exact = 4L
    def est(w: Int): Long =
      Stats.cmsJoinSize(regs(aKeys, w), regs(bKeys, w))
        .collect()(0).getLong(0)
    // one-sided at ANY width — collisions only add cross terms
    Seq(2, 4, 64, 65536).foreach { w =>
      assert(est(w) >= exact, s"w=$w estimate ${est(w)} undercuts exact $exact") }
    // 4 distinct keys in 65536 buckets: no collisions, the bound is tight
    assert(est(65536) === exact)
    // register tables merge by SUM: sketching A in two splits and summing
    // registers equals sketching A whole — the persist-at-ingest contract
    val (s1, s2) = aKeys.splitAt(4)
    val merged = regs(s1, 64).unionByName(regs(s2, 64))
      .groupBy("j", "b").agg(sum("c").as("c"))
    val whole = regs(aKeys, 64)
    assert(Stats.cmsJoinSize(merged, regs(bKeys, 64)).collect()(0).getLong(0)
      === Stats.cmsJoinSize(whole, regs(bKeys, 64)).collect()(0).getLong(0))
  }

  test("skewReport ranks a planted hot key first with exact share and skew") {
    val df = (Seq.fill(60)("hot") ++ (1 to 40).map(i => s"k$i")).toDF("k")
    val out = Stats.skewReport(df, "k", topK = 3)
      .orderBy(col("cnt").desc, col("key")).collect()
    assert(out.length === 3)
    val top = out.head
    assert(top.getString(0) === "hot")
    assert(top.getLong(1) === 60L)
    assert(top.getDouble(2) === 0.6)          // 60 / 100
    assert(top.getDouble(3) === 24.6)         // 60 / (100/41 keys)
    assert(top.getLong(4) === 41L && top.getLong(5) === 100L)
    // remaining keys tie at cnt=1 → deterministic key-order tie-break
    assert(out(1).getString(0) === "k1" && out(2).getString(0) === "k10")
  }

  // ---- percentilesBy ------------------------------------------------------

  // The same rows with no size estimate: a frame built from an RDD plans
  // as `spark.sql.defaultSizeInBytes`, so percentilesExact takes its
  // selection or sort route instead of the one-pass aggregate it picks
  // for a small in-memory frame.
  private def unsized(df: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(df.rdd, df.schema)

  test("percentilesBy computes exact interpolated percentiles per group") {
    val df = ((1 to 5).map(v => ("a", v)) ++ Seq(("b", 10), ("b", 20))).toDF("g", "v")
    val out = Stats.percentilesBy(df, "g", col("v"), Seq(0.25, 0.5, 0.9))
      .orderBy("g").collect()
    assert(out.head.schema.fieldNames.toSeq ===
      Seq("g", "n", "p25", "p50", "p90"))
    val a = out.head
    assert(a.getLong(1) === 5L)
    assert(a.getDouble(2) === 2.0)   // rank 0.25·4 = 1 → value 2
    assert(a.getDouble(3) === 3.0)
    assert(a.getDouble(4) === 4.6)   // rank 3.6 → 4 + 0.6·(5-4)
    val b = out(1)
    assert(b.getDouble(3) === 15.0)  // midpoint interpolation
  }

  test("percentilesExact bit-matches Spark's in-memory percentile aggregate") {
    // the two-pass rank form must reproduce Percentile.getPercentile's
    // doubles EXACTLY (same ⌊pos⌋/⌈pos⌉ weighted sum), or the DuckDB
    // quantile_cont hash oracles would drift. Pseudo-random values with
    // duplicates, negatives, odd/even group sizes, and nulls.
    val rows = (0 until 500).map { i =>
      val g = "g" + (i % 7)
      val v: java.lang.Double =
        if (i % 31 == 0) null
        else ((i * 2654435761L) % 1000).toDouble / 7.0 - 40.0
      (g, v)
    }
    val df = rows.toDF("g", "v")
    val pcts = Seq(0.0, 0.1, 0.5, 0.73, 0.95, 1.0)
    val got = Stats.percentilesExact(unsized(df), "g", col("v"),
        pcts.zipWithIndex.map { case (p, i) => (p, s"q$i") })
      .orderBy("g").collect()
    val want = df.groupBy("g")
      .agg(count(lit(1)).as("n"),
        pcts.map(p => expr(s"percentile(v, $p)")): _*)
      .orderBy("g").collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g2, w) =>
      assert(g2.getString(0) === w.getString(0))
      assert(g2.getLong(1) === w.getLong(1)) // n counts all rows, nulls included
      pcts.indices.foreach { i =>
        assert(g2.getDouble(2 + i) === w.getDouble(2 + i),
          s"group ${w.getString(0)} pct ${pcts(i)}")
      }
    }
    // both routes are exact: the bucketed-selection route (default for 7
    // groups) and the keyed-sort route (forced via maxBucketedGroups = 0)
    // must return identical rows
    val sorted = Stats.percentilesExact(unsized(df), "g", col("v"),
        pcts.zipWithIndex.map { case (p, i) => (p, s"q$i") },
        maxBucketedGroups = 0)
      .orderBy("g").collect()
    got.zip(sorted).foreach { case (a, b) => assert(a === b) }
  }

  test("percentilesExact disc mode bit-matches Spark's percentile_disc on both routes") {
    val rows = (0 until 400).map { i =>
      val g = "g" + (i % 5)
      val v: java.lang.Double =
        if (i % 37 == 0) null else ((i * 2654435761L) % 500).toDouble / 3.0
      (g, v)
    }
    val df = rows.toDF("g", "v")
    val pcts = Seq(0.0, 0.1, 0.5, 0.73, 1.0)
    val named = pcts.zipWithIndex.map { case (p, i) => (p, s"q$i") }
    val want = df.groupBy("g")
      .agg(count(lit(1)).as("n"),
        pcts.map(p =>
          expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY v)")): _*)
      .orderBy("g").collect()
    for (force <- Seq(64, 0)) { // selection route, then sort route
      val got = Stats.percentilesExact(unsized(df), "g", col("v"), named,
          maxBucketedGroups = force, disc = true)
        .orderBy("g").collect()
      assert(got.length === want.length)
      got.zip(want).foreach { case (g2, w) =>
        assert(g2.getString(0) === w.getString(0))
        pcts.indices.foreach { i =>
          assert(g2.getDouble(2 + i) === w.getDouble(2 + i),
            s"route=$force group ${w.getString(0)} pct ${pcts(i)}")
        }
      }
    }
  }

  test("percentilesExact handles the single global group exactly — the shape the old aggregate forbade") {
    // percentiles over the WHOLE corpus used to be the degenerate case
    // (one group = one reducer's in-memory value map); the selection
    // route makes it exact AND parallel. Reference: in-memory sort.
    val vs = (0 until 2000).map(i => ((i * 48271) % 1009).toDouble / 3.0)
    val df = vs.map(v => ("all", v)).toDF("g", "v")
    val got = Stats.percentilesExact(unsized(df), "g", col("v"),
      Seq((0.5, "p50"), (0.999, "p999")), fewGroupsHint = Some(true)).head
    val sorted = vs.sorted
    def ref(p: Double): Double = {
      val pos = p * (vs.size - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      if (lo == hi) sorted(lo)
      else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
    }
    assert(got.getLong(1) === 2000L)
    assert(got.getDouble(2) === ref(0.5))
    assert(got.getDouble(3) === ref(0.999))
  }

  // ---- trailingZ ----------------------------------------------------------

  test("trailingZ matches a brute-force reference on generated counts") {
    // deterministic pseudo-random counts: 3 groups × 40 buckets, values
    // chosen to exercise zero-variance runs (repeats) and spikes
    val rows = for {
      g <- Seq("a", "b", "c"); i <- 0 until 40
    } yield {
      val h = ((g.hashCode.toLong * 31 + i) * 2654435761L >>> 16) % 97
      val n = if (i % 13 == 0) 500L + h else if (i % 7 < 3) 10L else 10L + (h % 5)
      (g, i.toLong, n)
    }
    val df = rows.toDF("g", "bucket", "n")
    val got = Stats.trailingZ(df, "g", "bucket", "n").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4))).toMap
    // brute-force reference: same closed-form over the explicit window
    val byGroup = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    for ((g, seq) <- byGroup; (idx, (_, bucket, n)) <- seq.zipWithIndex.map(_.swap)) {
      val win = seq.slice(math.max(0, idx - 6), idx).map(_._3)
      val expected =
        if (win.length < 3) None
        else {
          val k = win.length.toDouble
          val s1 = win.sum.toDouble
          val s2 = win.map(x => x * x).sum.toDouble
          val variance = (s2 - s1 * s1 / k) / (k - 1)
          if (variance > 0)
            Some(BigDecimal((n - s1 / k) / math.sqrt(variance))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          else None
        }
      val (z, flag) = got((g, bucket))
      assert(z === expected, s"group $g bucket $bucket window $win n $n")
      assert(flag === z.exists(v => math.abs(v) > 2))
    }
  }

  // ---- Count-Min sketch ---------------------------------------------------

  private def cmsRows(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Long] =
    df.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("CMS estimates are one-sided: never below the exact count, exact absent collisions") {
    val toks = Seq.tabulate(300)(i => s"w${i % 23}").toDF("token")
    val exact = toks.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val regs = Stats.cmsRegisters(toks, col("token"))
    val probes = toks.distinct().withColumn("probe", col("token"))
    val est = Stats.cmsEstimate(regs, probes, col("token")).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(est.keySet === exact.keySet)
    // the one-sided guarantee: min-of-d counters >= true count, always
    exact.foreach { case (t, n) => assert(est(t) >= n, s"$t: ${est(t)} < $n") }
    // 23 values into 4×64 registers: at least one row is collision-free,
    // so at least one estimate is EXACT (the min picks the clean row)
    assert(exact.count { case (t, n) => est(t) == n } >= exact.size / 2)
  }

  test("CMS register tables from corpus splits merge by SUM to the whole-corpus sketch") {
    val all = (1 to 200).map(i => (i.toLong, s"t${i % 17}")).toDF("id", "token")
    val whole = cmsRows(Stats.cmsRegisters(all, col("token")))
    val merged = cmsRows(
      Stats.cmsRegisters(all.where(col("id") <= 90), col("token"))
        .union(Stats.cmsRegisters(all.where(col("id") > 90), col("token")))
        .groupBy("j", "b").agg(sum("c").as("c")))
    assert(whole.nonEmpty && merged === whole)
    // state bound: never more than d·w register rows, whatever the vocabulary
    assert(whole.size <= 4 * 64)
  }

  test("percentilesExact depth-2 selection (forced) is bit-identical to single-level and the aggregate") {
    // maxRankRows = 3 forces EVERY target bucket through the recursive
    // re-bucket path (buckets hold ~5 rows here); results must be
    // bit-identical to the default route and to Spark's in-memory
    // aggregate, in both cont and disc modes, with nulls and duplicates
    val rows = (0 until 600).map { i =>
      val g = "g" + (i % 3)
      val v: java.lang.Double =
        if (i % 41 == 0) null
        else ((i * 1103515245L) % 700).toDouble / 11.0 - 20.0
      (g, v)
    }
    val df = rows.toDF("g", "v")
    val pcts = Seq(0.0, 0.25, 0.5, 0.77, 0.999, 1.0)
    val named = pcts.zipWithIndex.map { case (p, i) => (p, s"q$i") }
    for (disc <- Seq(false, true)) {
      val deep = Stats.percentilesExact(unsized(df), "g", col("v"), named,
          fewGroupsHint = Some(true), disc = disc, maxRankRows = 3L)
        .orderBy("g").collect()
      val flat = Stats.percentilesExact(unsized(df), "g", col("v"), named,
          fewGroupsHint = Some(true), disc = disc)
        .orderBy("g").collect()
      assert(deep.toSeq === flat.toSeq, s"disc=$disc")
      val agg = if (disc)
        df.groupBy("g").agg(count(lit(1)).as("n"),
          pcts.map(p => expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY v)")): _*)
          .orderBy("g").collect()
      else
        df.groupBy("g").agg(count(lit(1)).as("n"),
          pcts.map(p => expr(s"percentile(v, $p)")): _*)
          .orderBy("g").collect()
      deep.zip(agg).foreach { case (d, w) =>
        assert(d.getString(0) === w.getString(0))
        assert(d.getLong(1) === w.getLong(1))
        pcts.indices.foreach { i =>
          assert(d.getDouble(2 + i) === w.getDouble(2 + i),
            s"disc=$disc group ${w.getString(0)} pct ${pcts(i)}")
        }
      }
    }
    // mixed sizing: threshold between bucket sizes so SOME targets stay
    // single-level and SOME recurse — the union path
    val skew = ((0 until 400).map(i => ("big", (i * 48271 % 997).toDouble)) ++
      (0 until 12).map(i => ("tiny", i.toDouble))).toDF("g", "v")
    val got = Stats.percentilesExact(unsized(skew), "g", col("v"),
        Seq((0.5, "p50"), (0.9, "p90")), fewGroupsHint = Some(true),
        maxRankRows = 2L)
      .orderBy("g").collect()
    val want = skew.groupBy("g")
      .agg(count(lit(1)).as("n"),
        expr("percentile(v, 0.5)").as("p50"), expr("percentile(v, 0.9)").as("p90"))
      .orderBy("g").collect()
    got.zip(want).foreach { case (g2, w) =>
      assert(g2.getDouble(2) === w.getDouble(2) && g2.getDouble(3) === w.getDouble(3))
    }
  }

  test("percentilesExact keeps all-NULL groups on both routes (n populated, percentiles NULL)") {
    // r11 advisor finding: both routes used to DROP a group whose values
    // are all null (no ranked/picked rows survive the inner join),
    // contradicting the scaladoc and Spark's percentile aggregate, which
    // returns the group with n and NULL percentiles. Mixed fixture: one
    // normal group, one all-null, one partially null.
    val rows: Seq[(String, java.lang.Double)] =
      (1 to 20).map(i => ("full", i.toDouble: java.lang.Double)) ++
      (1 to 7).map(_ => ("empty", null: java.lang.Double)) ++
      (1 to 10).map(i =>
        ("mixed", if (i % 2 == 0) null else i.toDouble): (String, java.lang.Double))
    val df = rows.toDF("g", "v")
    val named = Seq((0.0, "q0"), (0.5, "q1"), (1.0, "q2"))
    val want = df.groupBy("g")
      .agg(count(lit(1)).as("n"),
        Seq(0.0, 0.5, 1.0).map(p => expr(s"percentile(v, $p)")): _*)
      .orderBy("g").collect()
    for ((force, disc) <- Seq((64, false), (0, false), (64, true), (0, true))) {
      val got = Stats.percentilesExact(unsized(df), "g", col("v"), named,
          maxBucketedGroups = force, disc = disc)
        .orderBy("g").collect()
      assert(got.length === 3, s"route=$force disc=$disc: all 3 groups must survive")
      assert(got.map(_.getString(0)).toSeq === Seq("empty", "full", "mixed"))
      got.zip(want).foreach { case (g2, w) =>
        assert(g2.getLong(1) === w.getLong(1),
          s"route=$force disc=$disc n for ${w.getString(0)}")
      }
      val empty = got(0)
      (2 to 4).foreach(i => assert(empty.isNullAt(i),
        s"route=$force disc=$disc: all-NULL group must yield NULL percentiles"))
      // non-degenerate groups unchanged by the fix (cont mode = aggregate)
      if (!disc) got.zip(want).foreach { case (g2, w) =>
        if (w.getString(0) != "empty")
          (2 to 4).foreach(i => assert(g2.getDouble(i) === w.getDouble(i)))
      }
    }
  }

  test("percentilesExact one-pass, selection and sort routes agree") {
    // the small in-memory frame takes the one-pass aggregate, its unsized
    // twin the selection (64 groups allowed) or sort (0) route; all three
    // must return the same rows. Row equality reads NaN as NaN and -0.0 as
    // 0.0, which is also how every route orders them (ties).
    val vals: Seq[java.lang.Double] = Seq(3.0, null, -1.5, 3.0, Double.NaN,
      -0.0, 0.0, 7.25, 3.0, null, -1.5, 0.0, 12.0, -0.0, 1e-3, 3.0)
    // a tie at an interpolated rank must return the tied value itself:
    // 0.8·−1.5 + 0.2·−1.5 is −1.5000000000000002
    val rows: Seq[(String, java.lang.Double)] =
      vals.zipWithIndex.map { case (v, i) => ("g" + (i % 3), v) } ++
        Seq.fill(4)(("all_null", null: java.lang.Double)) ++
        Seq.fill(3)(("ties", -1.5: java.lang.Double))
    val grouped = rows.toDF("g", "v")
    val global = rows.map { case (_, v) => ("all", v) }.toDF("g", "v")
    val named = Seq(0.0, 0.1, 0.2, 0.25, 0.5, 0.73, 0.9, 1.0)
      .zipWithIndex.map { case (p, i) => (p, s"q$i") }
    val onePass = """(?<![a-z_])percentile(_disc)?\(""".r
    def run(df: org.apache.spark.sql.DataFrame, route: String, disc: Boolean) = {
      val out = route match {
        case "one-pass" => Stats.percentilesExact(df, "g", col("v"), named, disc = disc)
        case "selection" => Stats.percentilesExact(unsized(df), "g", col("v"), named,
          maxBucketedGroups = 64, disc = disc)
        case "sort" => Stats.percentilesExact(unsized(df), "g", col("v"), named,
          maxBucketedGroups = 0, disc = disc)
      }
      val plan = out.queryExecution.executedPlan.toString
      val took =
        if (plan.contains("graft_sorted_bucket")) "selection"
        else if (plan.contains("row_number")) "sort"
        else if (onePass.findFirstIn(plan).isDefined && !plan.contains("Window")) "one-pass"
        else "unknown"
      assert(took === route, plan)
      out.orderBy("g").collect().toSeq
    }
    for (df <- Seq(grouped, global); disc <- Seq(false, true)) {
      val want = run(df, "one-pass", disc)
      assert(want.map(_.getLong(1)).sum === rows.size)
      for (route <- Seq("selection", "sort"))
        assert(run(df, route, disc) === want, s"$route disc=$disc")
    }
  }
}
