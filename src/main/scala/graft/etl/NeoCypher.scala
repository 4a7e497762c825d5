package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Graph

/** PG rows → batched Cypher UNWIND statements (reference:
  * src/ketl/io/neoloader.py:362-445).
  *
  * The reference drives a live Neo4j driver; no database exists in this
  * container, so the loader is re-expressed as the *statement stream*: a
  * `Dataset[String]` of UNWIND batches (default 2500 elements per statement,
  * reference: src/ketl/io/neoloader.py:131), ready to be piped to any Cypher
  * endpoint. Batching happens per partition (mapPartitions — genuine
  * imperative chunking), so the operator stays fully distributed; no
  * driver-side collect.
  */
object NeoCypher {

  /** Reference: src/ketl/io/neoloader.py:164 — every node gets this label. */
  val CommonNodeLabel = "Node"

  /** Multi-value handling per property (reference:
    * src/ketl/io/neoloader.py:56-92 MultiValueMode): PG-JSONL always stores
    * arrays; `Single` unwraps (and it is an error to feed it >1 value),
    * `Multiple` keeps the array, `Auto` unwraps singletons only.
    */
  sealed trait MultiValueMode
  case object Single extends MultiValueMode
  case object Multiple extends MultiValueMode
  case object Auto extends MultiValueMode

  /** Per-property modes + the default for unlisted properties (reference:
    * src/ketl/io/neoloader.py:117-131 NeoLoaderConfig).
    */
  final case class PropertyConfig(
      modes: Map[String, MultiValueMode] = Map.empty,
      default: MultiValueMode = Auto) {
    def modeOf(key: String): MultiValueMode = modes.getOrElse(key, default)
  }

  object PropertyConfig {

    def parseMode(s: String): MultiValueMode = s match {
      case "single" => Single
      case "multiple" => Multiple
      case "auto" => Auto
      case other => throw new IllegalArgumentException(
        s"unknown multi_value_mode '$other' (expected single | multiple | auto)")
    }

    /** Builds the property configuration from a parsed config file — the
      * reference's NeoLoaderConfig.from_config layout
      * (tests/resources/test-config.yml, neoloader.py:170-199):
      * {{{
      * neoloader:
      *   default_property_config:
      *     multi_value_mode: multiple
      *   property_configs:
      *     has_pvalue:
      *       multi_value_mode: single
      * }}}
      */
    def fromConf(conf: Map[String, String],
                 prefix: String = "neoloader."): PropertyConfig = {
      val default = conf.get(s"${prefix}default_property_config.multi_value_mode")
        .map(parseMode).getOrElse(Auto)
      val per = s"${prefix}property_configs."
      val suffix = ".multi_value_mode"
      val modes = conf.collect {
        case (k, v) if k.startsWith(per) && k.endsWith(suffix) =>
          k.drop(per.length).dropRight(suffix.length) -> parseMode(v)
      }
      PropertyConfig(modes, default)
    }
  }

  val NodeQueryTemplate: String =
    """UNWIND $nodes AS node_js
      |WITH node_js.id AS nid, node_js.labels AS nlabels, node_js.properties AS nprops
      |CREATE (n)
      |SET n.id = nid
      |SET n += nprops
      |SET n :$(nlabels)""".stripMargin

  val EdgeQueryTemplate: String =
    s"""UNWIND $$edges AS edge_js
       |WITH edge_js.id AS eid, edge_js.labels[0] AS etype,
       |  edge_js.properties AS eprops, edge_js.from AS from_id, edge_js.to AS to_id
       |MATCH (from:$CommonNodeLabel{ id: from_id })
       |MATCH (to:$CommonNodeLabel{ id: to_id })
       |CREATE (from)-[e:$$(etype)]->(to)
       |SET e.id = eid
       |SET e += eprops""".stripMargin

  /** Index on node ids created between the node and edge phases
    * (reference: src/ketl/io/neoloader.py:384-394).
    */
  val NodeIndexStatement: String =
    s"CREATE INDEX all_node_ids IF NOT EXISTS FOR (n:$CommonNodeLabel) ON (n.id)"

  /** Emits one Cypher statement per batch of `batchSize` PG elements of the
    * requested kind ('node' or 'edge'). The element payload is inlined as a
    * JSON array in place of the `$nodes`/`$edges` parameter, each element
    * written by [[PgGraph.elementJson]], the writer JSONL lines use. Nodes
    * get [[CommonNodeLabel]] appended (reference:
    * src/ketl/io/neoloader.py:768-774); property arrays are shaped by
    * `config` (reference: src/ketl/io/neoloader.py:779-815
    * _parse_pg_elem_property). Property values are inlined as the JSON text
    * they hold — the one value form of [[PgGraph.toPg]] and
    * [[PgGraph.fromJsonl]] alike.
    */
  def statements(pg: DataFrame, elementType: String, batchSize: Int = 2500,
                 config: PropertyConfig = PropertyConfig()): Dataset[String] = {
    import pg.sparkSession.implicits._
    statementsWithCounts(pg, elementType, batchSize, config).map(_._1)
  }

  /** [[statements]] plus the element count of each batch — the shape
    * [[NeoLoader]] consumes for per-batch load accounting.
    */
  def statementsWithCounts(pg: DataFrame, elementType: String, batchSize: Int = 2500,
                           config: PropertyConfig = PropertyConfig()): Dataset[(String, Int)] = {
    import pg.sparkSession.implicits._
    val isNodes = elementType == Graph.NodeType
    def mode(m: MultiValueMode): String = m match {
      case Multiple => "array"
      case Single => "single"
      case Auto => "auto"
    }
    val template = if (isNodes) NodeQueryTemplate else EdgeQueryTemplate
    val param = if (isNodes) "$nodes" else "$edges"

    pg.where(col("type") === elementType)
      .select(PgGraph.elementJson(pg.sparkSession, None, col("properties"), lit(!isNodes),
        extraLabel = if (isNodes) Some(CommonNodeLabel) else None,
        mode(config.default), config.modes.map { case (k, m) => k -> mode(m) }).as("elem"))
      .as[String]
      .mapPartitions { it =>
        it.grouped(batchSize).map { batch =>
          (template.replace(param, batch.mkString("[", ",", "]")), batch.size)
        }
      }
  }
}
