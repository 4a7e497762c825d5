package graft.io

/** Mirrors reference config tests (reference: tests/ketl/test_config.py). */
class ConfigSpec extends graft.SparkSpec {

  test("env interpolation with and without defaults") {
    val env = Map("NEO4J_PASSWORD" -> "s3cret")
    assert(Config.interpolate("pwd: ${NEO4J_PASSWORD}", env) === "pwd: s3cret")
    assert(Config.interpolate("uri: ${MISSING:bolt://localhost:7687}", env)
      === "uri: bolt://localhost:7687")
    assert(Config.interpolate("x: ${MISSING}", env) === "x: ")
  }

  test("nested keys flatten to dotted paths") {
    val conf = Config.parse(
      """# comment
        |spark:
        |  master: local[2]
        |  appName: graft-test-cfg
        |  config:
        |    spark.ui.enabled: "false"
        |neo4j:
        |  uri: ${GRAFT_NEO:bolt://localhost:7687}
        |""".stripMargin, env = Map.empty)
    assert(conf("spark.master") === "local[2]")
    assert(conf("spark.appName") === "graft-test-cfg")
    assert(conf("spark.config.spark.ui.enabled") === "false")
    assert(conf("neo4j.uri") === "bolt://localhost:7687")
  }

  test("block sequences flatten to dotted indices; quotes and inline comments are YAML-like") {
    // shaped like the reference's logging-test.yml (block list at the
    // parent key's indent) and its config.yml (list indented deeper)
    val conf = Config.parse(
      """root:
        |  level: DEBUG
        |  handlers:
        |  - console
        |  - file
        |fmt: '%(asctime)s # not a comment'
        |steps:
        |  inputs:
        |    - a.parquet   # trailing comment stripped
        |    - "b # kept.parquet"
        |timeout: 15 # seconds
        |""".stripMargin, env = Map.empty)
    assert(conf("root.handlers.0") === "console")
    assert(conf("root.handlers.1") === "file")
    assert(conf("root.level") === "DEBUG")
    // single-quoted scalar keeps its '#'
    assert(conf("fmt") === "%(asctime)s # not a comment")
    // deeper-indented list, inline comment on an unquoted item stripped,
    // quoted item kept verbatim
    assert(conf("steps.inputs.0") === "a.parquet")
    assert(conf("steps.inputs.1") === "b # kept.parquet")
    // inline comment after an unquoted value
    assert(conf("timeout") === "15")
  }

  test("flow collections: inline [a, b] and {k: v} flatten exactly like their block forms") {
    val flow = Config.parse(
      """steps:
        |  inputs: [a.parquet, "b, c.parquet"]   # comment after the bracket
        |spark:
        |  config: {spark.ui.enabled: "false", spark.sql.shuffle.partitions: 32}
        |empty_list: []
        |empty_map: {}
        |nested: [{name: n1, files: [x, y]}, {name: n2}]
        |seq:
        |  - [p, q]
        |""".stripMargin, env = Map.empty)
    assert(flow("steps.inputs.0") === "a.parquet")
    assert(flow("steps.inputs.1") === "b, c.parquet") // quoted comma protected
    assert(flow("spark.config.spark.ui.enabled") === "false")
    assert(flow("spark.config.spark.sql.shuffle.partitions") === "32")
    // empty collections emit no entries (the reference's `config: {}` default)
    assert(!flow.keys.exists(_.startsWith("empty_list.")))
    assert(!flow.keys.exists(_.startsWith("empty_map.")))
    // nesting recurses to the same dotted paths a block document produces
    assert(flow("nested.0.name") === "n1")
    assert(flow("nested.0.files.0") === "x")
    assert(flow("nested.0.files.1") === "y")
    assert(flow("nested.1.name") === "n2")
    // a flow collection as a block-sequence item
    assert(flow("seq.0.0") === "p")
    assert(flow("seq.0.1") === "q")

    // equivalence: the flow and block spellings of the same document agree
    val block = Config.parse(
      """steps:
        |  inputs:
        |    - a.parquet
        |    - "b, c.parquet"
        |spark:
        |  config:
        |    spark.ui.enabled: "false"
        |    spark.sql.shuffle.partitions: 32
        |""".stripMargin, env = Map.empty)
    assert(block.toSet.subsetOf(flow.toSet))

    // the reference ensembl config's commented-out flow default, uncommented
    // (tests/resources/ensembl/config.yml:13 `config: {}`)
    val ens = Config.parse(
      """spark:
        |  appName: test_ketl_snake
        |  config: {}
        |""".stripMargin, env = Map.empty)
    assert(ens("spark.appName") === "test_ketl_snake")
    assert(!ens.keys.exists(_.startsWith("spark.config.")))
  }

  test("a section header with a trailing comment is still a section header") {
    val conf = Config.parse(
      """workflow:   # orchestration section
        |  steps:    # the DAG
        |    build:
        |      kind: pg
        |""".stripMargin, env = Map.empty)
    assert(conf === Map("workflow.steps.build.kind" -> "pg"))
  }

  test("the reference's own config fixtures parse to the expected keys") {
    // tests/resources/test-config.yml shape (reference: test_config.py)
    val conf = Config.parse(
      """neoloader:
        |  default_property_config:
        |    multi_value_mode: multiple
        |  property_configs:
        |    has_pvalue:
        |      multi_value_mode: single
        |  loader_batch_size: 3000
        |neo4j:
        |  uri: bolt://neo.somewhere.net:7687
        |  auth:
        |    user: neo4j
        |    password: ${NEO4J_PASSWORD}
        |foo:
        |  fallback: ${KETL_TEST_FALLBACK: 42}
        |""".stripMargin, env = Map("NEO4J_PASSWORD" -> "pw"))
    assert(conf("neoloader.default_property_config.multi_value_mode") === "multiple")
    assert(conf("neoloader.property_configs.has_pvalue.multi_value_mode") === "single")
    assert(conf("neoloader.loader_batch_size") === "3000")
    // value containing colons splits at the FIRST colon only
    assert(conf("neo4j.uri") === "bolt://neo.somewhere.net:7687")
    assert(conf("neo4j.auth.password") === "pw")
    // the reference's YAML collapses the default's leading space in value
    // position; the subset parser trims to the same result
    assert(conf("foo.fallback") === "42")
  }

  test("nested block maps inside sequence items flatten to indexed paths") {
    val conf = Config.parse(
      """steps:
        |  - name: build      # first key on the dash line
        |    kind: pg
        |    inputs:
        |      - a.parquet
        |      - b.parquet
        |  - name: load
        |    kind: neo
        |single:
        |  - plain
        |""".stripMargin, env = Map.empty)
    assert(conf("steps.0.name") === "build")
    assert(conf("steps.0.kind") === "pg")
    assert(conf("steps.0.inputs.0") === "a.parquet")
    assert(conf("steps.0.inputs.1") === "b.parquet")
    assert(conf("steps.1.name") === "load")
    assert(conf("steps.1.kind") === "neo")
    assert(conf("single.0") === "plain")
    // a quoted item containing ": " is still a scalar
    assert(Config.parse("x:\n  - \"k: v\"\n", Map.empty)("x.0") === "k: v")
  }

  test("anchors, aliases, and merge keys resolve (scalar and subtree)") {
    val conf = Config.parse(
      """defaults: &base
        |  retries: 3
        |  timeout: 30
        |password: &pw hunter2
        |jobs:
        |  fast:
        |    <<: *base
        |    timeout: 5      # explicit key beats the merged one
        |  slow:
        |    <<: *base
        |copy: *base
        |again: *pw
        |""".stripMargin, env = Map.empty)
    assert(conf("jobs.fast.retries") === "3")
    assert(conf("jobs.fast.timeout") === "5")
    assert(conf("jobs.slow.retries") === "3")
    assert(conf("jobs.slow.timeout") === "30")
    assert(conf("copy.retries") === "3")
    assert(conf("copy.timeout") === "30")
    assert(conf("again") === "hunter2")
  }

  test("merge-key precedence holds when the explicit key comes BEFORE the merge") {
    val conf = Config.parse(
      """defaults: &base
        |  timeout: 30
        |job:
        |  timeout: 5
        |  <<: *base
        |""".stripMargin, env = Map.empty)
    assert(conf("job.timeout") === "5")
  }

  test("literal and folded block scalars with chomping") {
    val conf = Config.parse(
      """query: |
        |  SELECT *
        |  FROM t
        |note: >
        |  folded into
        |  one line
        |
        |  next paragraph
        |stripped: |-
        |  no trailing newline
        |""".stripMargin, env = Map.empty)
    assert(conf("query") === "SELECT *\nFROM t\n")
    assert(conf("note") === "folded into one line\n\nnext paragraph\n")
    assert(conf("stripped") === "no trailing newline")
  }

  test("multi-document streams split on --- / ... and parse independently") {
    val docs = Config.parseAll(
      """---
        |name: first
        |steps:
        |  - a
        |  - b
        |...
        |---
        |name: second
        |nested:
        |  k: v
        |""".stripMargin, env = Map.empty)
    assert(docs.size === 2)
    assert(docs(0)("name") === "first")
    assert(docs(0)("steps.0") === "a" && docs(0)("steps.1") === "b")
    assert(docs(1)("name") === "second" && docs(1)("nested.k") === "v")
    // no markers → one document, identical to parse()
    val single = "a: 1\nb:\n  c: 2\n"
    assert(Config.parseAll(single, Map.empty) === Seq(Config.parse(single, Map.empty)))
    // a dash-prefixed sequence item is NOT a document marker
    assert(Config.parseAll("xs:\n  - x\n", Map.empty).head("xs.0") === "x")
  }

  test("sparkSession builder consumes master/appName/config entries") {
    spark // force the shared test session so getOrCreate below reuses it
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val s = Config.sparkSession(Map(
        "master" -> "local[2]", "appName" -> "graft-cfg",
        "config.spark.sql.shuffle.partitions" -> "2"))
      assert(s.sparkContext.isLocal)
      // getOrCreate applied the config entry to the (shared) session
      assert(s.conf.get("spark.sql.shuffle.partitions") === "2")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("reliable staging rides the config path to DataFrames.stage") {
    // a YAML config switches every staging point to reliable checkpoints
    // without code changes: the key must reach the session, and stage()
    // must then checkpoint into the context's checkpoint directory
    spark
    val ckDir = java.nio.file.Files.createTempDirectory("graft-cfg-ck").toFile
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    try {
      val s = Config.sparkSession(Map(
        "master" -> "local[2]",
        "config.spark.graft.staging.reliable" -> "true"))
      assert(s.conf.get(DataFrames.ReliableStagingKey) === "true")
      val staged = DataFrames.stage(s.range(5).toDF("id"))
      val rdd = staged.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
      assert(rdd.flatMap(_.getCheckpointFile).exists(_.contains(ckDir.getName)),
        s"not reliably checkpointed under $ckDir")
      assert(staged.count() === 5)
    } finally spark.conf.unset(DataFrames.ReliableStagingKey)
  }
}
