package graft.io

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.SparkSpec

/** Mirrors reference spark-utils tests (reference:
  * tests/ketl/spark/utils/test_spark_utils.py).
  */
class IoSpec extends SparkSpec {
  import spark.implicits._

  test("unionAllByName tolerates missing columns") {
    val a = Seq((1, "x")).toDF("id", "name")
    val b = Seq((2, 9.5)).toDF("id", "score")
    val u = DataFrames.unionAllByName(Seq(a, b), allowMissingColumns = true)
    assert(u.columns.toSet === Set("id", "name", "score"))
    assert(u.count() === 2)
    val r2 = u.where(col("id") === 2).collect()(0)
    assert(r2.isNullAt(r2.fieldIndex("name")))
  }

  test("castColumns casts listed columns, ignores absent ones") {
    val df = Seq(("1", "a")).toDF("n", "s")
    val out = DataFrames.castColumns(df, Map("n" -> IntegerType, "missing" -> StringType))
    assert(out.schema("n").dataType === IntegerType)
    assert(out.schema("s").dataType === StringType)
  }

  test("permissive ingest surfaces malformed rows instead of failing") {
    val path = java.nio.file.Files.createTempDirectory("graft-bad").resolve("t.csv")
    java.nio.file.Files.writeString(path,
      "id\tn\n1\t10\nnot_a_number_row_with_extra\tx\ty\n3\t30\n")
    val df = DataFrames.readTable(spark, path.toString,
      options = Map("mode" -> "PERMISSIVE", "inferSchema" -> "false"))
    // malformed row is retained with nulls padded/truncated, not thrown
    assert(df.count() === 3)
    val strict = DataFrames.readTable(spark, path.toString,
      options = Map("mode" -> "DROPMALFORMED", "inferSchema" -> "false"))
    assert(strict.count() >= 2)
  }

  test("salted join equals the plain join on a skewed key") {
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy("o_orderpriority").count()
    val salted = DataFrames.saltedJoin(li, ord, li("l_orderkey"), ord("o_orderkey"), 8)
      .groupBy("o_orderpriority").count()
    assert(DataFrames.areEqual(plain, salted))
  }

  test("salted join splits a planted hot key that serialises the plain join") {
    // 90% of the big side carries ONE key: the plain sort-merge join lands
    // that key's whole match set on a single reducer, salting spreads it.
    // AQE off so the raw shuffle layout is observable; broadcast off so the
    // join actually shuffles (the salting scenario).
    val conf = spark.conf
    val oldAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val oldBc = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val oldSp = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.shuffle.partitions", "4") // layout assertions below assume 4 reducers
    try {
      val big = spark.range(20000).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val small = spark.range(100).select(col("id").as("sk"),
        concat(lit("dim"), col("id")).as("name"))
      val plain = big.join(small, big("k") === small("sk"))
      val salted = DataFrames.saltedJoin(big, small, big("k"), small("sk"), 8)
      assert(DataFrames.areEqual(
        plain.select("k", "v", "sk", "name"), salted.select("k", "v", "sk", "name")))
      def partSizes(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select("k").rdd
          .mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
      val rows = partSizes(plain).sum
      // the hot key's matches all sit in one partition of the plain join...
      assert(partSizes(plain).max >= (rows * 0.9).toLong)
      // ...and the salted join's worst reducer holds only the few hot-key
      // slices (of 8) its hash drew — far below the plain join's monolith
      // (with 4 reducers the expected worst is 2-4 slices ≈ 25-50% of rows)
      assert(partSizes(salted).max <= (rows * 0.6).toLong,
        s"salted partitions still skewed: ${partSizes(salted)}")
    } finally {
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      conf.set("spark.sql.shuffle.partitions", oldSp)
    }
  }

  test("checkpoint path helpers (ref df_path/df_check_path)") {
    assert(Checkpoint.checkPath("/tmp/x.parquet") === "/tmp/x.parquet/_SUCCESS")
    assert(Checkpoint.basePath("/tmp/x.parquet/_SUCCESS") === "/tmp/x.parquet")
    assert(Checkpoint.basePath("/tmp/x.parquet") === "/tmp/x.parquet")
  }

  test("partitioned write prunes at read time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/li.parquet"
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Checkpoint.savePartitioned(li, dir, Seq("l_returnflag"))
    val filtered = Checkpoint.load(spark, dir).where(col("l_returnflag") === "R")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("l_returnflag"),
      s"no partition pruning in:\n$plan")
    assert(filtered.count() === li.where(col("l_returnflag") === "R").count())
  }

  test("checkpoint save/load round-trip (ref df_save/df_load)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString + "/out.parquet"
    val df = spark.range(1000).withColumn("v", col("id") * 2)
    Checkpoint.save(df, dir)
    val back = Checkpoint.load(spark, Checkpoint.checkPath(dir))
    assert(back.count() === 1000)
    assert(back.agg(sum("v")).collect()(0).getLong(0) === 999000L)
  }

  test("unsized sources (default huge stats) save without a wrapped repartition count") {
    // RDD-backed frames report sizeInBytes = defaultSizeInBytes (~Long.Max):
    // the partition-count formula must not wrap toInt negative — unsized
    // frames keep their current partitioning and the write still lands
    val rdd = spark.sparkContext.parallelize(1L to 100L, 4)
    val df = spark.createDataFrame(rdd.map(org.apache.spark.sql.Row(_)),
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType))
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(Long.MaxValue) / 2, "fixture no longer unsized")
    val base = java.nio.file.Files.createTempDirectory("graft-unsized").toString
    val out = Checkpoint.save(df, s"$base/p.parquet")
    assert(out.rdd.getNumPartitions === 4)
    assert(Checkpoint.load(spark, s"$base/p.parquet").count() === 100)
    Checkpoint.saveAs(df, s"$base/o.orc", "orc")
    assert(Checkpoint.loadAs(spark, s"$base/o.orc", "orc").count() === 100)
  }

  /** Runs `write` into a fresh directory under a listener; returns its jobs,
    * shuffle bytes written, part files and the task count of its last stage.
    */
  private def measure(write: String => Unit): (Int, Long, Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val lastStageTasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        lastStageTasks.set(sc.stageInfo.numTasks)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-once").resolve("out.parquet")
    spark.sparkContext.addSparkListener(listener)
    try {
      write(dir.toString)
      org.apache.spark.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val parts = dir.toFile.list().count(_.startsWith("part-"))
    (jobs.get(), shuffleBytes.get(), parts, lastStageTasks.get())
  }

  private def grouped = spark.range(20000).groupBy((col("id") % 97).as("k")).agg(sum("id").as("s"))

  /** Runs `f` with AQE's partition coalescing off, so every shuffle
    * partition of a small fixture stays its own task.
    */
  private def uncoalesced[A](f: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("checkpoint save runs its plan once: the shuffle is written once, like a plain write") {
    // under AQE, asking a frame for its partition count executes every
    // shuffle-map stage, and the write then executes them again
    val plain = measure(p => grouped.write.parquet(p))
    val saved = measure(p => Checkpoint.save(grouped, p))
    assert(plain._2 > 0, "fixture no longer shuffles")
    assert(saved === plain, "(jobs, shuffle bytes written, part files, last-stage tasks)")
    assert(saved._3 <= spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("a post-shuffle checkpoint keeps its final stage parallel; scans and scan-shuffle unions still coalesce") {
    uncoalesced {
      val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(partitions >= 2)
      // 97 keys over the shuffle partitions: every partition is non-empty
      val post = measure(p => Checkpoint.save(grouped, p))
      assert(post._4 === partitions && post._3 === partitions,
        "(final-stage tasks, part files) of a post-shuffle save")
      val scan = measure(p => Checkpoint.save(spark.range(0, 1000, 1, 4).toDF(), p))
      assert(scan._3 === 1, "a scan-only save writes one file")
      val union = measure(p => Checkpoint.save(
        spark.range(0, 100, 1, 4).select(col("id").as("k"), col("id").as("s")).union(grouped), p))
      assert(union._3 === 1, "a scan ∪ shuffle union still coalesces")
      assert(union._4 === 1)
    }
  }

  test("ORC checkpoints round-trip with pushdown and pruning intact; csv/json interchange") {
    val base = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_returnflag", "l_quantity")

    // ORC: columnar drop-in — values identical, filter reaches the scan,
    // projection prunes to the referenced columns
    Checkpoint.saveAs(li, s"$base/li.orc", "orc")
    val orc = Checkpoint.loadAs(spark, s"$base/li.orc", "orc")
    assert(graft.io.DataFrames.areEqual(orc, li))
    val plan = orc.where(col("l_quantity") > 45).select("l_orderkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"no ORC pushdown in:\n$plan")
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), s"unpruned ORC scan:\n$plan")

    // row-format interchange sinks: values survive (csv re-infers types,
    // so compare on the casted view)
    Checkpoint.saveAs(li.limit(100), s"$base/li.json", "json")
    assert(Checkpoint.loadAs(spark, s"$base/li.json", "json")
      .count() === 100)
    Checkpoint.saveAs(li.limit(100), s"$base/li.csv", "csv")
    val csv = Checkpoint.loadAs(spark, s"$base/li.csv", "csv")
    assert(csv.columns.toSeq === li.columns.toSeq)
    assert(csv.agg(sum("l_quantity")).head().getDouble(0) ===
      li.limit(100).agg(sum("l_quantity")).head().getDouble(0))
  }

  test("sharded corpus write: one sorted file per shard dir, training-order read-back") {
    import graft.ops.sample.Sampling
    val out = java.nio.file.Files.createTempDirectory("graft-shards").toString + "/corpus"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Shards.write(docs, "doc_id", nShards = 4, out)

    // one parquet file per shard directory — the no-second-exchange proof:
    // shardShuffle's window already co-located each shard in one task
    (0 until 4).foreach { s =>
      val files = new java.io.File(s"$out/shard=$s")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"shard=$s should hold exactly one file")
    }

    // round trip: nothing lost, nothing duplicated
    val back = Shards.read(spark, out)
    assert(back.count() === docs.count())
    assert(back.select("doc_id").distinct().count() === docs.count())

    // one shard in training order == the shardShuffle assignment's order
    val expected = Sampling.shardShuffle(docs, "doc_id", nShards = 4)
      .where(col("shard") === 2).orderBy("pos")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val got = Shards.readShard(spark, out, 2)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }
}
