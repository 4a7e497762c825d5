package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Graph

/** The Column formulation of PG assembly and PG element JSON that
  * [[PgGraph]] and [[NeoCypher]] used before their native expressions —
  * higher-order functions throughout. Kept only as the differential
  * oracle of [[PgNativeSpec]]: the native code must equal it byte for
  * byte.
  */
object PgColumnOracle {

  def toPg(triples: DataFrame): DataFrame = {
    val kvs = col("kvs")
    def ofKey(key: String): Column = filter(kvs, kv => kv.getField("key") === key)
    def firstOf(key: String): Column = {
      val f = ofKey(key)
      when(size(f) > 0, element_at(f, 1).getField("value"))
    }
    val propKvs = filter(kvs, kv => !kv.getField("key").isin(Graph.SpecialKeys.toSeq: _*))
    val propKeys = array_distinct(transform(propKvs, kv => kv.getField("key")))
    triples
      .groupBy("id")
      .agg(collect_list(struct(col("key"), col("value"))).as("kvs"))
      .select(
        col("id"),
        array_sort(array_distinct(transform(ofKey(Graph.TypeKey), kv => kv.getField("value")))).as("labels"),
        firstOf(Graph.FromKey).as("from"),
        firstOf(Graph.ToKey).as("to"),
        map_from_arrays(
          propKeys,
          transform(propKeys, k =>
            array_sort(array_distinct(transform(
              filter(propKvs, kv => kv.getField("key") === k),
              kv => kv.getField("value"))))))
          .as("properties"))
      .withColumn("type",
        when(col("from").isNotNull, lit(Graph.EdgeType)).otherwise(lit(Graph.NodeType)))
      .select("type", "id", "labels", "from", "to", "properties")
  }

  def toJsonl(pg: DataFrame, converters: Map[String, Column => Column] = Map.empty): DataFrame =
    pg.select(elementJson(
      concat(lit(""""type":"""), Triples.jsonSerialize(col("type")), lit(",")),
      col("labels"), col("type") === Graph.EdgeType,
      (key, vs) => jsonArray(transform(vs, v => perKey(key, converters, v)(_(v)))))
      .as("line"))

  def statements(pg: DataFrame, elementType: String, batchSize: Int,
                 config: NeoCypher.PropertyConfig): Dataset[String] = {
    import pg.sparkSession.implicits._
    val isNodes = elementType == Graph.NodeType
    val labels = if (isNodes)
      array_union(col("labels"), array(lit(NeoCypher.CommonNodeLabel)))
    else col("labels")
    def values(key: Column, vs: Column): Column = {
      def byMode(m: NeoCypher.MultiValueMode) = m match {
        case NeoCypher.Multiple => jsonArray(vs)
        case NeoCypher.Single => when(size(vs) > 1,
            raise_error(concat(lit("multiple values aren't allowed for property "), key)))
          .otherwise(element_at(vs, 1))
        case NeoCypher.Auto => when(size(vs) === 1, element_at(vs, 1)).otherwise(jsonArray(vs))
      }
      perKey(key, config.modes, byMode(config.default))(byMode)
    }
    val template = if (isNodes) NeoCypher.NodeQueryTemplate else NeoCypher.EdgeQueryTemplate
    val param = if (isNodes) "$nodes" else "$edges"
    pg.where(col("type") === elementType)
      .select(elementJson(lit(""), labels, lit(!isNodes), values).as("elem"))
      .as[String]
      .mapPartitions(_.grouped(batchSize).map(b => template.replace(param, b.mkString("[", ",", "]"))))
  }

  private def elementJson(lead: Column, labels: Column, isEdge: Column,
                          values: (Column, Column) => Column): Column = {
    val q = (c: Column) => Triples.jsonSerialize(c)
    val props = transform(array_sort(map_entries(col("properties"))), e =>
      concat(q(e.getField("key")), lit(":"), values(e.getField("key"), e.getField("value"))))
    val endpoints = when(isEdge,
        concat(lit(""","from":"""), q(col("from")), lit(""","to":"""), q(col("to"))))
      .otherwise(lit(""))
    concat(lit("{"), lead, lit(""""id":"""), q(col("id")),
      lit(""","labels":"""), jsonArray(transform(labels, q)),
      lit(""","properties":{"""), array_join(props, ","), lit("}"), endpoints, lit("}"))
  }

  private def jsonArray(vs: Column): Column = concat(lit("["), array_join(vs, ","), lit("]"))

  private def perKey[A](key: Column, overrides: Map[String, A], default: Column)
                       (f: A => Column): Column =
    overrides.foldLeft(default) { case (acc, (k, a)) => when(key === k, f(a)).otherwise(acc) }
}
