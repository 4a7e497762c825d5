package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.io.{Checkpoint, Config}

/** The reference's ensembl real case (tests/resources/ensembl/
  * workflow.snakefile + tests/ketl/snake/test_real_case.py) driven PURELY
  * from a config fixture through [[Workflow.run]]: the config carries the
  * step DAG (map × 3 → pg → jsonl → load), the registry carries the mapper
  * code — the split the reference has between workflow.snakefile and
  * wf_mapping.py. Asserts the Snakemake properties the runner reproduces:
  * file-derived ordering, `_SUCCESS`/done-flag skip on rerun, partial
  * resume after deleting one intermediate, and a wave of ready steps run
  * concurrently with its failures waited out.
  */
class WorkflowSpec extends SparkSpec {

  private val ketlSource = "graft/WorkflowSpec"

  private def writeInput(dir: String): String = {
    val p = Paths.get(dir, "e2u.tsv")
    Files.writeString(p,
      "ENSEMBL ID\tUniProt ID\nAT4G24270\tAT4G24270.1\nAT1G19130\tAT1G19130.1\n")
    p.toString
  }

  /** wf_mapping.py counterpart: mapper code bound by name. */
  private lazy val registry: Map[String, TabFileMapper] = {
    val srcProp = Prop.constant("ketl:source", ketlSource)
    val geneId = Triples.wrap(col("ENSEMBL ID"), "gene:")
    val protId = Triples.wrap(col("UniProt ID"), "protein:")
    Map(
      "genes" -> TabFileMapper.chained(Seq(
        df => Triples.nodes(df, geneId,
          Seq(Prop.tpe("Gene"), KnetMappings.dataSourcesProp("ENSEMBL-Plants"), srcProp)),
        df => {
          val (n, e) = KnetMappings.accessionMappers(
            df, "ENSEMBL-Plants", col("ENSEMBL ID"), geneId, Seq(srcProp))
          n.union(e)
        })),
      "proteins" -> TabFileMapper.chained(Seq(
        df => Triples.nodes(df, protId,
          Seq(Prop.tpe("Protein"), KnetMappings.dataSourcesProp("ENSEMBL-Plants"), srcProp)),
        df => {
          val (n, e) = KnetMappings.accessionMappers(
            df, "UniProt", col("UniProt ID"), protId, Seq(srcProp))
          n.union(e)
        })),
      "encodes" -> TabFileMapper.edges("encodesProtein", geneId, protId,
        props = Seq(KnetMappings.dataSourcesProp("ENSEMBL Plants"), srcProp)))
  }

  /** workflow.snakefile counterpart, with the same env-var indirection the
    * reference uses (KETL_DATA/KETL_IN interpolated at parse time).
    */
  private val configText =
    """workflow:
      |  steps:
      |    s1_map_genes:
      |      kind: map
      |      mapper: genes
      |      input: ${KETL_IN}/e2u.tsv
      |      output: ${KETL_DATA}/tmp/gene-triples.parquet
      |    s1_map_proteins:
      |      kind: map
      |      mapper: proteins
      |      input: ${KETL_IN}/e2u.tsv
      |      output: ${KETL_DATA}/tmp/protein-triples.parquet
      |    s1_map_encodes:
      |      kind: map
      |      mapper: encodes
      |      input: ${KETL_IN}/e2u.tsv
      |      output: ${KETL_DATA}/tmp/gene2protein.parquet
      |    s2_build_pg:
      |      kind: pg
      |      inputs: ${KETL_DATA}/tmp/gene-triples.parquet/_SUCCESS, ${KETL_DATA}/tmp/protein-triples.parquet/_SUCCESS, ${KETL_DATA}/tmp/gene2protein.parquet/_SUCCESS
      |      output: ${KETL_DATA}/tmp/kg-pg.parquet
      |    s3_to_jsonl:
      |      kind: jsonl
      |      input: ${KETL_DATA}/tmp/kg-pg.parquet
      |      output: ${KETL_DATA}/output/knowledge-graph.json
      |    s4_load:
      |      kind: load
      |      input: ${KETL_DATA}/output/knowledge-graph.json
      |      done: ${KETL_DATA}/tmp/knowledge-graph.done
      |      batch_size: 3
      |""".stripMargin

  private def setup(): (Map[String, String], String) = {
    val data = Files.createTempDirectory("graft-wf").toString
    Files.createDirectories(Paths.get(data, "tmp"))
    Files.createDirectories(Paths.get(data, "output"))
    val in = Files.createTempDirectory("graft-wf-in").toString
    writeInput(in)
    val conf = Config.parse(configText,
      env = Map("KETL_DATA" -> data, "KETL_IN" -> in))
    (conf, data)
  }

  /** The config restricted to the named steps. */
  private def only(conf: Map[String, String], names: String*): Map[String, String] =
    conf.filter { case (k, _) =>
      !k.startsWith("workflow.steps.") || names.exists(n => k.startsWith(s"workflow.steps.$n."))
    }

  private val mapSteps = Seq("s1_map_encodes", "s1_map_genes", "s1_map_proteins")

  private def successMarkers(data: String): Seq[String] = {
    val s = Files.walk(Paths.get(data))
    try s.iterator().asScala.filter(_.getFileName.toString == "_SUCCESS").map(_.toString).toSeq
    finally s.close()
  }

  /** A Spark job: the workflow step and job group it was started under,
    * and its start and end times (ms).
    */
  private case class Job(step: Option[String], group: Option[String], start: Long, end: Long)

  /** Runs `body` and returns its result with every job it started. */
  private def recordingJobs[T](body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (java.util.Properties, Long)]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (Option(e.properties).getOrElse(new java.util.Properties), e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
    }
    sc.addSparkListener(listener)
    val result =
      try body
      finally { ListenerBus.drain(sc); sc.removeSparkListener(listener) }
    (result, starts.asScala.toSeq.map { case (id, (props, start)) =>
      Job(Option(props.getProperty(Workflow.StepProperty)),
        Option(props.getProperty("spark.jobGroup.id")), start, ends.get(id))
    })
  }

  test("config-driven run executes the full DAG in dependency order") {
    val (conf, data) = setup()
    RecordingTransport.reset(failFirst = 0)
    val runs = Workflow.run(spark, conf, registry, new RecordingTransport)

    // file-derived ordering: the 3 map steps first (name-sorted), then
    // pg, jsonl, load — exactly Snakemake's topology on the same files
    assert(runs.map(_.name) === Seq("s1_map_encodes", "s1_map_genes",
      "s1_map_proteins", "s2_build_pg", "s3_to_jsonl", "s4_load"))
    assert(runs.forall(!_.skipped))

    // the outputs of every stage exist and carry their markers
    for (ck <- Seq("tmp/gene-triples.parquet", "tmp/protein-triples.parquet",
        "tmp/gene2protein.parquet", "tmp/kg-pg.parquet", "output/knowledge-graph.json"))
      assert(Files.exists(Paths.get(s"$data/$ck/_SUCCESS")), ck)
    assert(Files.exists(Paths.get(s"$data/tmp/knowledge-graph.done.nodes")))
    assert(Files.exists(Paths.get(s"$data/tmp/knowledge-graph.done.edges")))

    // the PG built through the runner is the real-case graph:
    // 2 genes + 2 proteins + 4 accessions + 4 hasAccession + 2 encodes
    val pg = Checkpoint.load(spark, s"$data/tmp/kg-pg.parquet")
    assert(pg.count() === 14)
    assert(pg.where(col("type") === "edge").count() === 6)

    // the loader saw Cypher for both phases through the configured batching
    val stmts = RecordingTransport.snapshot
    assert(stmts.exists(_.contains("UNWIND")))
    assert(stmts.exists(_.contains("CREATE INDEX")))
  }

  test("rerun skips every completed step; deleting one intermediate resumes it alone") {
    val (conf, data) = setup()
    Workflow.run(spark, conf, registry, new RecordingTransport)

    // full rerun: everything checkpointed -> everything skipped
    val rerun = Workflow.run(spark, conf, registry, new RecordingTransport)
    assert(rerun.forall(_.skipped), rerun.mkString(", "))

    // delete ONE mapper checkpoint: that step reruns; the pg/jsonl/load
    // steps keep their checkpoints (Snakemake semantics on unchanged
    // outputs — downstream invalidation is the engine's file-mtime logic,
    // which the reference also leaves to Snakemake)
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm); p.delete()
    }
    rm(new java.io.File(s"$data/tmp/protein-triples.parquet"))
    val resumed = Workflow.run(spark, conf, registry, new RecordingTransport)
    val byName = resumed.map(r => r.name -> r.skipped).toMap
    assert(byName("s1_map_proteins") === false)
    assert(resumed.count(!_.skipped) === 1)
  }

  test("mappers declared purely in config (the reference snakefile's factorise-TODO)") {
    // reference tabmap-test.snakefile map_gene_tsv, whose body carries the
    // comment "TODO: factorise it in a config file, fixture or alike" —
    // here the whole mapper IS config: no registry entry, no code
    val in = Files.createTempDirectory("graft-wf-cfgmap").toString
    Files.writeString(Paths.get(in, "genes.tsv"),
      "accession\tname\tchromosome\tbegin\nAT1\tGeneA\t1\t100\nAT2\tGeneB\t2\t250\n")
    val data = Files.createTempDirectory("graft-wf-cfgmap-out").toString
    val conf = Config.parse(
      """workflow:
        |  mappers:
        |    genes:
        |      id.column: accession
        |      type: Gene
        |      props.hasGeneName: name
        |      props.hasChromosomeId: chromosome
        |      props.hasChromosomeBegin: begin
        |      constants.source: SnakeTest
        |      options.inferSchema: false
        |      types.begin: int
        |    encodes:
        |      edge.type: locatedOn
        |      edge.from.column: accession
        |      edge.from.prefix: "gene:"
        |      edge.to.column: chromosome
        |      edge.to.prefix: "chromosome:"
        |  steps:
        |    map_genes:
        |      kind: map
        |      mapper: genes
        |      input: ${IN}/genes.tsv
        |      output: ${DATA}/gene-triples.parquet
        |    map_located:
        |      kind: map
        |      mapper: encodes
        |      input: ${IN}/genes.tsv
        |      output: ${DATA}/located-triples.parquet
        |""".stripMargin, env = Map("IN" -> in, "DATA" -> data))
    val runs = Workflow.run(spark, conf, mappers = Map.empty)
    assert(runs.map(_.name).toSet === Set("map_genes", "map_located"))

    def triples(path: String): Set[(String, String, String)] =
      Checkpoint.load(spark, path).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

    // node mapper: identical output to the hand-coded equivalent
    val df = graft.io.DataFrames.readTable(spark, s"$in/genes.tsv",
      Map("inferSchema" -> "false"))
    val typed = graft.io.DataFrames.castColumns(df,
      Map("begin" -> org.apache.spark.sql.types.IntegerType))
    val expectedNodes = Triples.nodes(typed, col("accession"), Seq(
        Prop.tpe("Gene"),
        Prop.column("name", "hasGeneName"),
        Prop.column("chromosome", "hasChromosomeId"),
        Prop.column("begin", "hasChromosomeBegin"),
        Prop.constant("source", "SnakeTest")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(triples(s"$data/gene-triples.parquet") === expectedNodes)
    // int type really applied (serialised as a JSON number, not a string)
    assert(expectedNodes.contains(("AT1", "hasChromosomeBegin", "100")))

    // edge mapper: auto edge ids over the wrapped endpoints
    val located = triples(s"$data/located-triples.parquet")
    assert(located.contains(
      ("locatedOn:gene:AT1-chromosome:1", graft.model.Graph.FromKey, "gene:AT1")))
    assert(located.contains(
      ("locatedOn:gene:AT2-chromosome:2", graft.model.Graph.ToKey, "chromosome:2")))
  }

  test("misconfiguration fails loud: unknown mapper, unsatisfiable input, bad kind") {
    // every step is validated before any runs: no sibling writes a checkpoint
    val (conf, data) = setup()
    val noMapper = intercept[IllegalArgumentException] {
      Workflow.run(spark, conf, registry - "proteins", new RecordingTransport)
    }
    assert(noMapper.getMessage.contains("not registered"))
    assert(successMarkers(data).isEmpty, successMarkers(data).mkString(", "))

    // two steps declaring one output would be two writers into one directory
    val duplicate = intercept[IllegalArgumentException] {
      Workflow.run(spark,
        conf + ("workflow.steps.s1_map_proteins.output" -> s"$data/tmp/gene-triples.parquet"),
        registry, new RecordingTransport)
    }
    assert(duplicate.getMessage.contains("s1_map_genes, s1_map_proteins"))
    assert(duplicate.getMessage.contains("gene-triples.parquet"))
    assert(successMarkers(data).isEmpty, successMarkers(data).mkString(", "))

    // the load step runs last, yet its settings are checked before any
    // step writes: a batch size that is not a positive integer
    for (bad <- Seq("abc", "0", "-3")) {
      val badBatch = intercept[IllegalArgumentException] {
        Workflow.run(spark, conf + ("workflow.steps.s4_load.batch_size" -> bad),
          registry, new RecordingTransport)
      }
      assert(badBatch.getMessage.contains("s4_load"), badBatch.getMessage)
      assert(badBatch.getMessage.contains(s"batch_size must be a positive integer, got '$bad'"))
      assert(successMarkers(data).isEmpty, successMarkers(data).mkString(", "))
    }

    val (conf2, _) = setup()
    val stuck = intercept[IllegalArgumentException] {
      Workflow.run(spark,
        conf2 + ("workflow.steps.s1_map_genes.input" -> "/nonexistent/missing.tsv"),
        registry, new RecordingTransport)
    }
    assert(stuck.getMessage.contains("workflow stuck"))
    assert(stuck.getMessage.contains("s1_map_genes"))

    val badKind = intercept[IllegalArgumentException] {
      Workflow.run(spark, Map(
        "workflow.steps.x.kind" -> "mystery",
        "workflow.steps.x.input" -> "/tmp",
        "workflow.steps.x.output" -> "/tmp/out"), registry)
    }
    assert(badKind.getMessage.contains("unknown kind"))
  }

  test("pg step inputs accept the YAML block-sequence form (Config dotted indices)") {
    val s = Workflow.steps(Map(
      "workflow.steps.build.kind" -> "pg",
      "workflow.steps.build.inputs.0" -> "/data/a.parquet",
      "workflow.steps.build.inputs.1" -> "/data/b.parquet",
      "workflow.steps.build.output" -> "/data/pg.parquet")).head
    assert(s.inputs === Seq("/data/a.parquet", "/data/b.parquet"))
    // and the comma-separated single-key spelling still works
    val c = Workflow.steps(Map(
      "workflow.steps.build.kind" -> "pg",
      "workflow.steps.build.inputs" -> "/data/a.parquet, /data/b.parquet",
      "workflow.steps.build.output" -> "/data/pg.parquet")).head
    assert(c.inputs === Seq("/data/a.parquet", "/data/b.parquet"))
  }

  test("malformed step key (no sub-key) fails loud, not with a MatchError") {
    val e = intercept[IllegalArgumentException] {
      Workflow.steps(Map("workflow.steps.foo" -> "bar"))
    }
    assert(e.getMessage.contains("workflow.steps.foo"))
    assert(e.getMessage.contains("malformed"))
  }

  test("a producer's partial output (no _SUCCESS) does not satisfy its consumer") {
    val (conf, data) = setup()
    // simulate a crash mid-write of s2_build_pg BEFORE any step has run:
    // the output directory exists and holds corrupt bytes, but no _SUCCESS.
    // s3_to_jsonl declares this BASE path as its input — a bare-existence
    // check would schedule s3 in round 1 over the corrupt parquet; the
    // done-flag requirement blocks it until s2 actually completes.
    Files.createDirectories(Paths.get(s"$data/tmp/kg-pg.parquet"))
    Files.writeString(Paths.get(s"$data/tmp/kg-pg.parquet/part-00000.parquet"),
      "not parquet at all")

    RecordingTransport.reset(failFirst = 0)
    val runs = Workflow.run(spark, conf, registry, new RecordingTransport)

    // the DAG still executes in dependency order: s2 (not skipped — its
    // checkpoint was incomplete) strictly before s3
    assert(runs.map(_.name) === Seq("s1_map_encodes", "s1_map_genes",
      "s1_map_proteins", "s2_build_pg", "s3_to_jsonl", "s4_load"))
    assert(runs.forall(!_.skipped))
    // and s3 consumed the REBUILT graph, not the garbage
    val pg = Checkpoint.load(spark, s"$data/tmp/kg-pg.parquet")
    assert(pg.count() === 14)
  }

  test("a wave's map steps run concurrently: their jobs overlap in time") {
    val (conf, _) = setup()
    // every triple row waits, so each step's write job spans about half a
    // second and steps run one after another could not overlap
    val pause = udf((s: String) => { Thread.sleep(40); s })
    val slow = registry.map { case (name, m) =>
      name -> m.copy(mapper = df => m.mapper(df).withColumn("id", pause(col("id"))))
    }
    val (runs, jobs) = recordingJobs(Workflow.run(spark, only(conf, mapSteps: _*), slow))
    assert(runs.map(_.name) === mapSteps)
    val mapJobs = jobs.filter(_.step.exists(mapSteps.contains))
    val overlapping = for {
      a <- mapJobs; b <- mapJobs
      if a.step != b.step && a.start < b.end && b.start < a.end
    } yield (a.step, b.step)
    assert(overlapping.nonEmpty, s"no two map steps' jobs overlapped: $mapJobs")
  }

  test("a concurrent run writes the same JSONL text as its steps run one at a time") {
    val (conf, data) = setup()
    val runs = Workflow.run(spark, conf, registry, new RecordingTransport)
    val (serialConf, serialData) = setup()
    // one step per run, in the concurrent run's order: every wave holds one step
    runs.map(_.name).foreach(n => Workflow.run(spark, only(serialConf, n), registry,
      new RecordingTransport))
    def text(dir: String): Seq[String] =
      spark.read.text(s"$dir/output/knowledge-graph.json").collect().map(_.getString(0)).sorted.toSeq
    assert(text(data).nonEmpty)
    assert(text(data) === text(serialData))
  }

  test("a failing map step fails the run after its siblings finish; a rerun runs it alone") {
    val (conf, data) = setup()
    val mapsOnly = only(conf, mapSteps: _*)
    val boom = new IllegalStateException("genes mapper failed")
    val thrown = intercept[IllegalStateException] {
      Workflow.run(spark, mapsOnly, registry + ("genes" -> TabFileMapper(_ => throw boom)))
    }
    assert(thrown eq boom)
    // the siblings in the failed step's wave finished and kept their markers
    assert(successMarkers(data).map(p => Paths.get(p).getParent.getFileName.toString).sorted ===
      Seq("gene2protein.parquet", "protein-triples.parquet"))

    val rerun = Workflow.run(spark, mapsOnly, registry)
    assert(rerun.filterNot(_.skipped).map(_.name) === Seq("s1_map_genes"))
  }

  test("a job group set on the calling thread is on every job the run starts") {
    val (conf, _) = setup()
    val sc = spark.sparkContext
    sc.setJobGroup("workflow-spec-group", "WorkflowSpec job group")
    val (runs, jobs) =
      try recordingJobs(Workflow.run(spark, conf, registry, new RecordingTransport))
      finally sc.clearJobGroup()
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.group.contains("workflow-spec-group")),
      jobs.filterNot(_.group.contains("workflow-spec-group")).mkString(", "))
    // and each step's jobs carry its name
    assert(jobs.flatMap(_.step).toSet === runs.map(_.name).toSet)
  }
}
