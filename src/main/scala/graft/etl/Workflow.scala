package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Bounded
import graft.io.{Checkpoint, DataFrames}

/** Config-driven multi-step workflow runner — graft's counterpart of the
  * reference's Snakemake orchestration (reference:
  * tests/resources/ensembl/workflow.snakefile,
  * tests/resources/tabmap-test.snakefile,
  * tests/ketl/snake/test_real_case.py run_snakefile).
  *
  * Like Snakemake, every step declares input/output FILES and the runner
  * derives the DAG from them: a step is ready when each of its inputs
  * exists on disk (raw source file, or an upstream step's checkpoint), and
  * a step whose outputs are already checkpointed is SKIPPED — rerunning a
  * half-finished workflow resumes where it stopped, the property the
  * reference gets from Snakemake + df_check_path `_SUCCESS` markers.
  * Steps run in waves: every step whose inputs are satisfied runs in the
  * same wave, concurrently, on at most the session's default parallelism
  * of threads, and a pg step loads its input checkpoints the same way.
  * Each step writes only its own output, so only the order in which Spark
  * schedules their jobs changes. A wave's runs are reported in name order.
  * A failed step fails the run only after every sibling in its wave has
  * finished, so the finished ones keep their markers for a resume; the
  * exception rethrown is the first failure in name order. Every step is
  * validated before any runs.
  *
  * Mapper CODE is bound by NAME through a registry (`mappers`), exactly as
  * the reference's snakefile references mapper objects defined in
  * wf_mapping.py: the config carries the orchestration (files, order,
  * loader settings), the registry carries the mapping logic.
  *
  * Step kinds (config keys under `workflow.steps.<name>.`):
  *  - `kind: map` — `input` table file → `output` triples checkpoint via
  *    the registered [[TabFileMapper]] named by `mapper`
  *    (reference rule: map_gene_tsv / map_ensembl_plants_genes).
  *  - `kind: pg` — `inputs` (comma-separated triples checkpoints) →
  *    unionByName → [[PgGraph.toPg]] → `output` checkpoint
  *    (reference rule: node_triples_2_pg_df / triples_2_json_pg).
  *  - `kind: jsonl` — `input` PG checkpoint → [[PgGraph.toJsonl]] →
  *    `output` text directory (reference rule: node_triples_2_json_pg).
  *  - `kind: load` — `input` JSONL.pg → [[NeoLoader.load]] through the
  *    runner's transport, phase done-flags under `done`, optional
  *    `batch_size` (reference rule: neo_loader).
  *
  * Paths in the config may be written as base paths or `_SUCCESS` check
  * paths (the reference's df_path/df_check_path round-trip); `${VAR}` env
  * interpolation comes from [[graft.io.Config.parse]] upstream.
  */
object Workflow {

  final case class Step(name: String, conf: Map[String, String]) {
    def kind: String = conf.getOrElse("kind",
      throw new IllegalArgumentException(s"workflow step $name: missing kind"))

    private def get(key: String): String = conf.getOrElse(key,
      throw new IllegalArgumentException(s"workflow step $name ($kind): missing $key"))

    def inputs: Seq[String] = kind match {
      case "pg" =>
        // YAML block sequence (Config flattens to inputs.0, inputs.1, …)
        // or the comma-separated single-key form — either spelling works
        val indexed = conf.collect { case (k, v) if k.startsWith("inputs.") &&
            k.drop("inputs.".length).forall(_.isDigit) =>
          (k.drop("inputs.".length).toInt, v)
        }.toSeq.sortBy(_._1).map(_._2)
        if (indexed.nonEmpty) indexed
        else get("inputs").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case _ => Seq(get("input"))
    }

    def output: String = kind match {
      case "load" => get("done")
      case _ => get("output")
    }
  }

  /** One executed (or skipped) step; runs are listed wave by wave, each
    * wave in name order.
    */
  final case class StepRun(name: String, kind: String, skipped: Boolean)

  /** Local property naming the workflow step that started a Spark job. */
  val StepProperty = "graft.workflow.step"

  /** Extracts the step table from a parsed config's dotted keys
    * (`workflow.steps.<name>.<key> -> value`).
    */
  def steps(conf: Map[String, String],
            prefix: String = "workflow.steps."): Seq[Step] =
    conf.collect { case (k, v) if k.startsWith(prefix) =>
        k.drop(prefix.length).split("\\.", 2) match {
          case Array(name, key) => (name, key, v)
          case _ => throw new IllegalArgumentException(
            s"workflow config: malformed step key '$k' — expected " +
              s"$prefix<name>.<key>")
        }
      }
      .groupBy(_._1)
      .map { case (name, kvs) =>
        Step(name, kvs.map { case (_, k, v) => k -> v }.toMap)
      }
      .toSeq.sortBy(_.name)

  /** Builds a [[TabFileMapper]] declared entirely in config — the
    * reference snakefile's own TODO ("factorise it in a config file,
    * fixture or alike", tests/resources/tabmap-test.snakefile): the
    * column/constant/type mapper subset, which covers the reference's
    * sample mappers, needs no code at all. Keys under
    * `workflow.mappers.<name>.`:
    *
    *  - nodes: `id.column` (+ optional `id.prefix`/`id.postfix`)
    *  - edges: `edge.type`, `edge.from.column`/`edge.to.column`
    *    (+ optional `.prefix`/`.postfix` each)
    *  - `type: <label>`, `props.<property>: <source column>`,
    *    `constants.<property>: <value>` — shared by both
    *  - `options.<key>: <value>` — Spark read options
    *
    * Row-function mappers and other non-declarative logic still bind
    * through the code registry, exactly as wf_mapping.py does.
    */
  def mapperFromConf(conf: Map[String, String], name: String): Option[TabFileMapper] = {
    val prefix = s"workflow.mappers.$name."
    val sub = conf.collect { case (k, v) if k.startsWith(prefix) =>
      k.drop(prefix.length) -> v
    }
    if (sub.isEmpty) None
    else Some {
      def wrapped(key: String): org.apache.spark.sql.Column =
        Triples.wrap(org.apache.spark.sql.functions.col(sub.getOrElse(s"$key.column",
            throw new IllegalArgumentException(
              s"workflow mapper $name: missing $key.column"))),
          sub.getOrElse(s"$key.prefix", ""), sub.getOrElse(s"$key.postfix", ""))
      // sorted for a deterministic triple-mapper order run-to-run
      val props =
        sub.get("type").map(Prop.tpe).toSeq ++
          sub.collect { case (k, v) if k.startsWith("props.") =>
            Prop.column(v, k.drop("props.".length))
          }.toSeq.sortBy(_.key) ++
          sub.collect { case (k, v) if k.startsWith("constants.") =>
            Prop.constant(k.drop("constants.".length), v)
          }.toSeq.sortBy(_.key)
      val options = sub.collect { case (k, v) if k.startsWith("options.") =>
        k.drop("options.".length) -> v
      }
      // `types.<column>: <ddl type>` — the snakefile's SparkDataFrameTypes
      // counterpart (applies only with inferSchema off, like the reference)
      val columnTypes = sub.collect { case (k, v) if k.startsWith("types.") =>
        k.drop("types.".length) -> org.apache.spark.sql.types.DataType.fromDDL(v)
      }
      if (sub.contains("edge.type"))
        TabFileMapper.edges(sub("edge.type"), wrapped("edge.from"), wrapped("edge.to"),
          props, options, columnTypes)
      else TabFileMapper.nodes(wrapped("id"), props, options, columnTypes)
    }
  }

  /** Runs (or resumes) the workflow. Map steps resolve their mapper from
    * the code `mappers` registry first, then from `workflow.mappers.*`
    * config declarations ([[mapperFromConf]]). Returns the step runs wave
    * by wave, each wave in name order; `skipped = true` marks steps whose
    * outputs were already checkpointed. Each step's Spark jobs carry its
    * name in the local property [[StepProperty]].
    */
  def run(spark: SparkSession, conf: Map[String, String],
          mappers: Map[String, TabFileMapper] = Map.empty,
          transport: NeoLoader.CypherTransport = new NeoLoader.NoopTransport)
      : Seq[StepRun] = {
    var pending = steps(conf)
    require(pending.nonEmpty, "workflow: no steps configured")
    val mapperOf = validate(pending, conf, mappers)
    // Inputs that are another step's DECLARED OUTPUT must carry that
    // step's completion marker (`_SUCCESS` checkpoint / both load phase
    // flags): a producer that crashed mid-write leaves the directory on
    // disk WITHOUT the marker, and a bare-existence check would hand the
    // consumer corrupt parquet (the reference gets the same guarantee from
    // Snakemake + df_check_path). Raw sources — paths no step produces —
    // satisfy on existence as before.
    val produced: Map[String, Step] =
      pending.map(s => Checkpoint.basePath(s.output) -> s).toMap
    def satisfied(path: String): Boolean =
      produced.get(Checkpoint.basePath(path)).fold(available(path))(outputDone)
    val runs = Seq.newBuilder[StepRun]
    while (pending.nonEmpty) {
      val (ready, blocked) = pending.partition(_.inputs.forall(satisfied))
      if (ready.isEmpty)
        throw new IllegalArgumentException(
          "workflow stuck — no step's inputs are satisfiable: " +
            blocked.map(s => s"${s.name} waits on " +
              s.inputs.filterNot(satisfied).mkString(", ")).mkString("; "))
      runs ++= Bounded.map(ready, spark.sparkContext.defaultParallelism) { s =>
        spark.sparkContext.setLocalProperty(StepProperty, s.name)
        exec(spark, s, mapperOf, transport)
      }
      pending = blocked
    }
    runs.result()
  }

  /** A path is available when it exists as given, as a parquet/text
    * checkpoint with a `_SUCCESS` marker, or (for load done-flags) when
    * both phase flags exist.
    */
  private def available(path: String): Boolean = {
    val base = Checkpoint.basePath(path)
    Files.exists(Paths.get(path)) || Files.exists(Paths.get(Checkpoint.checkPath(base)))
  }

  /** A step's output is done when its checkpoint carries `_SUCCESS`, or,
    * for a load step, when both phase done-flags exist.
    */
  private def outputDone(step: Step): Boolean =
    if (step.kind == "load") NeoLoader.loaded(step.output)
    else Files.exists(Paths.get(Checkpoint.checkPath(Checkpoint.basePath(step.output))))

  private val Kinds = Set("map", "pg", "jsonl", "load")

  /** Checks every step before any runs, so a misconfigured step cannot fail
    * a wave after its siblings have written: every kind is known, no two
    * steps declare the same output (they would be two writers into one
    * directory), every map step's mapper resolves, and every load step's
    * settings parse. Returns each map step's mapper by step name.
    */
  private def validate(steps: Seq[Step], conf: Map[String, String],
                       mappers: Map[String, TabFileMapper]): Map[String, TabFileMapper] = {
    steps.find(s => !Kinds(s.kind)).foreach { s =>
      throw new IllegalArgumentException(
        s"workflow step ${s.name}: unknown kind '${s.kind}' " +
          "(expected map | pg | jsonl | load)")
    }
    steps.groupBy(s => Checkpoint.basePath(s.output)).toSeq.sortBy(_._1).foreach {
      case (out, writers) if writers.size > 1 =>
        throw new IllegalArgumentException(
          s"workflow steps ${writers.map(_.name).mkString(", ")} all declare output $out")
      case _ =>
    }
    steps.filter(_.kind == "load").foreach(loadConfig)
    steps.filter(_.kind == "map").map { s =>
      val mapperName = s.conf.getOrElse("mapper",
        throw new IllegalArgumentException(s"workflow step ${s.name}: missing mapper"))
      s.name -> mappers.get(mapperName)
        .orElse(mapperFromConf(conf, mapperName))
        .getOrElse(throw new IllegalArgumentException(
          s"workflow step ${s.name}: mapper '$mapperName' not registered " +
            s"and not declared under workflow.mappers " +
            s"(registry has: ${mappers.keys.toSeq.sorted.mkString(", ")})"))
    }.toMap
  }

  private def exec(spark: SparkSession, step: Step, mapperOf: Map[String, TabFileMapper],
                   transport: NeoLoader.CypherTransport): StepRun = {
    val skipped = outputDone(step)
    if (!skipped) {
      val out = Checkpoint.basePath(step.output)
      step.kind match {
        case "map" =>
          mapperOf(step.name).map(spark, step.inputs.head, outPath = Some(out))
        case "pg" =>
          val triples = DataFrames.unionAllByName(Bounded.map(step.inputs,
            spark.sparkContext.defaultParallelism)(Checkpoint.load(spark, _)))
          Checkpoint.save(PgGraph.toPg(triples), out)
        case "jsonl" =>
          PgGraph.writeJsonl(Checkpoint.load(spark, step.inputs.head), out,
            codec = step.conf.get("codec"))
        case "load" =>
          NeoLoader.load(PgGraph.fromJsonl(spark, step.inputs.head), transport,
            loadConfig(step))
      }
    }
    StepRun(step.name, step.kind, skipped)
  }

  /** A load step's loader settings: its done-flags and optional positive
    * integer `batch_size`.
    */
  private def loadConfig(step: Step): NeoLoader.Config = {
    val cfg = NeoLoader.Config(doneBasePath = Some(step.output))
    step.conf.get("batch_size").fold(cfg) { v =>
      cfg.copy(batchSize = v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"workflow step ${step.name}: batch_size must be a positive integer, got '$v'")))
    }
  }
}
