package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.model.Graph

/** A single property mapping: a target property key plus the Column expression
  * producing its value from a source row.
  *
  * `serialize = true` (the default for regular properties) routes the value
  * through `serializer` — by default [[Triples.jsonSerialize]], reproducing
  * the reference's JSONBasedValueConverter semantics (reference:
  * src/ketl/core.py:160-183); pass any `Column => Column` for a custom
  * converter (the reference's ValueConverter extension point,
  * src/ketl/core.py:99-157). Special keys (`@type`, `@from`, `@to`) must
  * use `serialize = false` (reference: src/ketl/helpers.py:38-52).
  */
final case class Prop(key: String, value: Column, serialize: Boolean = true,
                      serializer: Column => Column = Triples.jsonSerialize)

object Prop {
  /** Column-to-property mapping; property defaults to the column name
    * (reference: src/ketl/tabmap/core.py:173-194 ColumnTripleMapper).
    */
  def column(columnId: String, property: String = null): Prop =
    Prop(if (property == null) columnId else property, col(columnId))

  /** Constant property (reference: src/ketl/core.py:281 ConstantTripleMapper). */
  def constant(property: String, value: Any): Prop = Prop(property, lit(value))

  /** Node/edge label (reference: src/ketl/helpers.py:13 type_triple_mapper). */
  def tpe(typeValue: String): Prop = Prop(Graph.TypeKey, lit(typeValue), serialize = false)

  /** Edge source endpoint (reference: src/ketl/tabmap/helpers.py:64). */
  def from(value: Column): Prop = Prop(Graph.FromKey, value, serialize = false)

  /** Edge target endpoint (reference: src/ketl/tabmap/helpers.py:75). */
  def to(value: Column): Prop = Prop(Graph.ToKey, value, serialize = false)
}

/** Declarative re-expression of the reference's tabular→triples mapping.
  *
  * The reference iterates rows in Python via `mapInPandas`
  * (reference: src/ketl/tabmap/core.py:301-369). Here each mapper compiles to
  * `explode(array(struct(key,value)…))`, null values filtered out after it,
  * over pure Column expressions:
  * one narrow, whole-stage-codegen stage, no shuffle, column pruning and
  * filter pushdown reach the scan for free. At 100 TB this is a linear map
  * over input splits with zero exchange.
  */
object Triples {

  /** JSON-serialises any column value exactly like Python's `json.dumps`
    * for scalars: strings quoted/escaped, numbers bare, booleans `true/false`.
    *
    * Implementation trick: `to_json(array(v))` → `["x"]`, then the brackets
    * are stripped. This stays inside codegen (no UDF). Nulls and empty
    * strings yield null, which callers drop — matching the reference's
    * "saving empty values isn't worth" rule (reference: src/ketl/core.py:171-178).
    */
  def jsonSerialize(v: Column): Column = {
    val arr = to_json(array(v))
    val stripped = arr.substr(lit(2), length(arr) - 2)
    when(v.isNull || v.cast(StringType) === "", lit(null).cast(StringType))
      .otherwise(stripped)
  }

  /** Adds prefix/postfix to a non-empty value, else null
    * (reference: src/ketl/helpers.py:24 string_value_wrapper).
    */
  def wrap(v: Column, prefix: String = "", postfix: String = ""): Column =
    when(v.isNull || v.cast(StringType) === "", lit(null).cast(StringType))
      .otherwise(concat(lit(prefix), v.cast(StringType), lit(postfix)))

  /** Maps a DataFrame to node triples: one `(id, key, value)` row per
    * non-null property per input row. Rows with null/empty id are skipped
    * (reference: src/ketl/tabmap/core.py:330-332).
    */
  def nodes(df: DataFrame, id: Column, props: Seq[Prop]): DataFrame =
    emit(df, id.cast(StringType), props)

  /** Maps a DataFrame to edge triples with the auto edge id `type:from-to`
    * (reference: src/ketl/tabmap/helpers.py:105-163 edge_auto_id). The
    * `@type`/`@from`/`@to` props are added automatically; extra props are
    * regular (serialised) edge properties. `idPrefix` mirrors
    * AutoEdgeId(prefix) (reference: src/ketl/tabmap/core.py:248-253).
    */
  def edges(df: DataFrame, edgeType: String, from: Column, to: Column,
            props: Seq[Prop] = Seq.empty, idPrefix: String = ""): DataFrame = {
    val fromS = from.cast(StringType)
    val toS   = to.cast(StringType)
    val id = concat(lit(idPrefix + edgeType + ":"), fromS, lit("-"), toS)
    val all = Seq(Prop.tpe(edgeType), Prop.from(fromS), Prop.to(toS)) ++ props
    emit(df.where(fromS.isNotNull && fromS =!= "" && toS.isNotNull && toS =!= ""), id, all)
  }

  /** Unions several triple DataFrames (reference: src/ketl/tabmap/helpers.py:179
    * df_mappers_chain — a chained mapper is just the union of its parts).
    */
  def chain(first: DataFrame, rest: DataFrame*): DataFrame =
    rest.foldLeft(first)(_ union _)

  /** Arbitrary row-function escape hatch — the counterpart of the
    * reference's RowTripleMapper, which accepts ANY row→value function
    * (reference: src/ketl/tabmap/core.py:83-115). `fn` sees each source row
    * and emits whatever `(id, key, value)` triples it likes; value
    * serialisation is the function's own business (use
    * [[Triples.jsonSerialize]] semantics manually for regular properties).
    *
    * This runs as a typed Dataset flatMap — outside whole-stage codegen and
    * invisible to column pruning, so it reads every column and evaluates
    * per row. Use it only for logic genuinely not expressible as Column
    * expressions; every [[Prop]]-based form is strictly faster.
    */
  def rowTriples(df: DataFrame)(
      fn: org.apache.spark.sql.Row => IterableOnce[(String, String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.flatMap(fn).toDF("id", "key", "value")
      .where(col("id").isNotNull && col("id") =!= "" && col("value").isNotNull)
  }

  private def emit(df: DataFrame, id: Column, props: Seq[Prop]): DataFrame = {
    val entries = props.map { p =>
      val v = if (p.serialize) p.serializer(p.value) else p.value.cast(StringType)
      struct(lit(p.key).as("key"), v.as("value"))
    }
    df.select(id.as("id"), array(entries: _*).as("kvs"))
      .where(col("id").isNotNull && col("id") =!= "")
      .select(col("id"), explode(col("kvs")).as("kv"))
      .where(col("kv.value").isNotNull)
      .select(col("id"), col("kv.key").as("key"), col("kv.value").as("value"))
  }
}
