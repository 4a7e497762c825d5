package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.model.Graph

/** Triples → PG-format DataFrame (reference: src/ketl/io/core.py:16-127
  * triples_2_pg_df).
  *
  * The reference runs four separate groupBys (labels, from, to, properties)
  * and re-joins them on id — four shuffles plus three joins. Here the whole
  * element is assembled in ONE `groupBy("id")` (single exchange): the
  * key/value pairs of an element are collected once, and labels / endpoints /
  * property map are carved out of that array in one pass of the native
  * expression `graft_pg_assemble` ([[graft.functions.PgAssemble]]) —
  * per-element work, no further shuffle, no interpreted lambda. Property
  * counts per element are bounded by the mapper configuration, so the
  * collected array is small and map-side partial aggregation keeps the
  * shuffle compact. At 100 TB this is one hash-exchange on `id` instead of
  * four.
  *
  * Output columns: type ('node'|'edge'), id, labels (sorted string array),
  * from, to (null for nodes), properties (map key → sorted distinct values,
  * values still JSON-serialised; keys in order of first appearance;
  * defaults to empty map).
  */
object PgGraph {

  def toPg(triples: DataFrame): DataFrame = {
    GraftFunctions.register(triples.sparkSession)
    // one call per field: subexpression elimination evaluates it once
    val element = call_function("graft_pg_assemble", col("kvs"))
    triples
      .groupBy("id")
      .agg(collect_list(struct(col("key"), col("value"))).as("kvs"))
      .select(col("id") +: Seq("labels", "from", "to", "properties")
        .map(f => element.getField(f).as(f)): _*)
      .withColumn("type",
        when(col("from").isNotNull, lit(Graph.EdgeType)).otherwise(lit(Graph.NodeType)))
      .select("type", "id", "labels", "from", "to", "properties")
  }

  /** Upserts a triple batch into an existing PG snapshot — the reference's
    * reload story (drop and re-run the whole mapping; reference:
    * src/ketl/io/neoloader.py orchestrates a full reload) done
    * incrementally, so a 100 TB snapshot absorbs a day's delta without a
    * rebuild. Absence still means retention, and removal is EXPLICIT via
    * tombstone triples under the reserved [[Graph.DeleteKey]]:
    *
    *   - `(id, "@delete", "*")` deletes the whole element — within one
    *     batch the id-level tombstone WINS over any data triples for the
    *     same id (deterministic: a delete+reinsert needs two batches);
    *   - `(id, "@delete", k)` unsets property key `k` on the element —
    *     after the merge, so it also wins over batch-supplied values for
    *     `k` in the same batch; all sibling keys are untouched. An unset
    *     of an absent key (or on an absent id) is a no-op.
    *
    * Both forms are idempotent (re-merging the same tombstone batch is a
    * no-op) — the at-scale delete story the reference only gets by full
    * rebuild. Merge semantics for data triples:
    *
    *   - ids absent from the batch pass through byte-identical;
    *   - labels merge as a sorted-distinct set union (re-running a mapper
    *     that adds a label composes with prior mappers, matching toPg over
    *     the unioned triples);
    *   - endpoints take the batch's value when the batch supplies one
    *     (latest-state re-pointing), else keep the snapshot's;
    *   - property keys in `latestKeys` are REPLACED by the batch's value
    *     set (latest-state scalar semantics, the B44 stance); every other
    *     key unions sorted-distinct, matching toPg's multi-valued
    *     collection. Keys the batch doesn't mention are kept;
    *   - `type` is recomputed from the merged endpoints.
    *
    * Scale shape: the snapshot is never shuffled. Untouched rows exit via
    * a broadcast anti-join and the (few) touched rows are extracted via a
    * broadcast semi-join, so the cost is two map-side scans of the
    * snapshot plus batch-sized shuffle work; only `toPg(batchTriples)`
    * exchanges, and only on the batch. Tombstone relations are
    * batch-sized too, consumed as further broadcast joins. Idempotent:
    * re-merging the same batch is a no-op (every rule above is
    * idempotent; spec-pinned).
    */
  def mergeInc(snapshot: DataFrame, batchTriples: DataFrame,
               latestKeys: Set[String] = Set.empty): DataFrame = {
    val tombs = batchTriples.where(col("key") === Graph.DeleteKey)
    val delIds = broadcast(
      tombs.where(col("value") === Graph.DeleteAll).select("id").distinct())
    val unsets = broadcast(tombs.where(col("value") =!= Graph.DeleteAll)
      .groupBy("id").agg(collect_set(col("value")).as("drop_keys")))
    val batchPg = toPg(batchTriples.where(col("key") =!= Graph.DeleteKey))
      .join(delIds, Seq("id"), "left_anti") // id-level delete wins in-batch
    // touched = upserted OR key-unset; fully-deleted ids exit nowhere
    val bIds = broadcast(
      batchPg.select("id").union(unsets.select("id")).distinct())
    val untouched = snapshot
      .join(bIds, Seq("id"), "left_anti")
      .join(delIds, Seq("id"), "left_anti")
      .select("type", "id", "labels", "from", "to", "properties")
    val touchedSnap = snapshot.join(bIds, Seq("id"), "left_semi")
      .join(delIds, Seq("id"), "left_anti").select(
        col("id"), col("labels").as("s_labels"), col("from").as("s_from"),
        col("to").as("s_to"), col("properties").as("s_props"))
    // full outer: an unset-only id has a snapshot row but no batch row
    val joined = batchPg.select(
        col("id"), col("labels").as("b_labels"), col("from").as("b_from"),
        col("to").as("b_to"), col("properties").as("b_props"))
      .join(touchedSnap, Seq("id"), "full_outer")
    val noVals = typedlit(Seq.empty[String])
    val noProps = typedlit(Map.empty[String, Seq[String]])
    val sProps = coalesce(col("s_props"), noProps)
    val bProps = coalesce(col("b_props"), noProps)
    val keys = array_distinct(concat(map_keys(sProps), map_keys(bProps)))
    def mergedVals(k: Column): Column = {
      val union = array_sort(array_distinct(concat(
        coalesce(element_at(sProps, k), noVals),
        coalesce(element_at(bProps, k), noVals))))
      if (latestKeys.isEmpty) union
      else when(k.isin(latestKeys.toSeq: _*),
          coalesce(element_at(bProps, k), element_at(sProps, k)))
        .otherwise(union)
    }
    val mergedFrom = coalesce(col("b_from"), col("s_from"))
    val merged = joined.select(
      when(mergedFrom.isNotNull, lit(Graph.EdgeType))
        .otherwise(lit(Graph.NodeType)).as("type"),
      col("id"),
      array_sort(array_distinct(concat(
        coalesce(col("s_labels"), noVals),
        coalesce(col("b_labels"), noVals)))).as("labels"),
      mergedFrom.as("from"),
      coalesce(col("b_to"), col("s_to")).as("to"),
      map_from_arrays(keys, transform(keys, mergedVals _)).as("properties"))
    // per-key unsets apply AFTER the merge (they win over batch values)
    val unset = merged.join(unsets, Seq("id"), "left")
      .withColumn("properties",
        when(col("drop_keys").isNull, col("properties"))
          .otherwise(map_filter(col("properties"),
            (k, _) => !array_contains(col("drop_keys"), k))))
      .drop("drop_keys")
    untouched.unionByName(unset)
  }

  /** Reads JSONL.pg lines back into PG rows — the missing half of the
    * JSONL sink, so graft pipelines can also consume graphs produced
    * elsewhere. Distributed text scan + from_json; nodes get null
    * endpoints, absent properties become empty maps.
    *
    * The frame has the one property-value form [[toPg]] produces: each
    * value is its JSON text, so a string keeps its quotes and a number,
    * boolean or nested value keeps its JSON type — as the reference's
    * loader `json.loads` each line (reference:
    * src/ketl/io/neoloader.py:291-296). Values are parsed as variants and
    * re-serialised, so a number's spelling may change (`1.50` reads back
    * as `1.5`, `100.00` as `100.0`) but not its value or whether it is an
    * integer. Two cases fall outside that: an integer beyond the 64-bit
    * range reads back as a float, and a whole-valued float nested inside
    * an array or object value reads back as an integer.
    */
  def fromJsonl(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("type", StringType), StructField("id", StringType),
      StructField("labels", ArrayType(StringType)),
      StructField("from", StringType), StructField("to", StringType),
      StructField("properties", MapType(StringType, ArrayType(VariantType)))))
    // the parser stores a float literal as its narrowest decimal, so 1.0
    // and 100.00 print as integers unless given back their fraction
    def valueJson(v: Column): Column = {
      val json = to_json(v)
      when(schema_of_variant(v).startsWith("DECIMAL") && !json.contains("."),
        concat(json, lit(".0"))).otherwise(json)
    }
    spark.read.text(path)
      .select(from_json(col("value"), schema).as("pg"))
      .select(col("pg.type"), col("pg.id"), col("pg.labels"),
        col("pg.from"), col("pg.to"),
        coalesce(transform_values(col("pg.properties"),
          (_, vs) => transform(vs, valueJson _)), map()).as("properties"))
  }

  /** Validates PG rows against the graph invariants the reference lists as
    * its pending validations (reference: src/ketl/io/core.py:115-118 TODO):
    * every element labelled; edges with exactly one label and both
    * endpoints; nodes without endpoints. Returns one row per violation
    * `(id, problem)` — empty means loadable.
    */
  def validate(pg: DataFrame): DataFrame = {
    def violation(cond: Column, problem: String): DataFrame =
      pg.where(cond).select(col("id"), lit(problem).as("problem"))
    violation(size(col("labels")) === 0, "unlabelled element")
      .union(violation(col("type") === Graph.EdgeType && size(col("labels")) =!= 1,
        "edge must have exactly one label"))
      .union(violation(col("type") === Graph.EdgeType &&
        (col("from").isNull || col("to").isNull), "edge missing endpoint"))
      .union(violation(col("type") === Graph.NodeType &&
        (col("from").isNotNull || col("to").isNotNull), "node with endpoint"))
  }

  /** PG DataFrame → JSONL.pg lines (reference: src/ketl/io/core.py:130-191
    * pg_df_2_pg_jsonl). The reference serialises on the driver via
    * `toLocalIterator` — a non-starter at scale; here each line is built
    * distributively by [[elementJson]], the same writer Cypher statements
    * use, led by the element's `type`.
    *
    * Property values are already JSON representations, so by default each is
    * inlined verbatim (a `to_json` over the struct would double-encode
    * them). Properties written by a custom serialiser get their JSON
    * fragment from `converters` (keyed by property name) — the counterpart
    * of the reference's per-key value_converters unserialisation
    * (reference: src/ketl/io/core.py:150-174). Key order matches the
    * reference's dict layout: type, id, labels, properties[, from, to].
    */
  def toJsonl(pg: DataFrame,
              converters: Map[String, Column => Column] = Map.empty): DataFrame = {
    val props = if (converters.isEmpty) col("properties")
      else transform_values(col("properties"), (key, vs) => converters.foldLeft(vs) {
        case (acc, (k, f)) => when(key === k, transform(vs, f)).otherwise(acc)
      })
    pg.select(elementJson(pg.sparkSession, Some(col("type")), props, col("type") === Graph.EdgeType,
      extraLabel = None, defaultMode = "array").as("line"))
  }

  /** The one JSON encoding of a PG element, shared by [[toJsonl]] and
    * [[NeoCypher.statements]]: the native `graft_pg_element_json`
    * ([[graft.functions.PgElementJson]]) over `id`, `labels`, `from` and
    * `to`. `tpe`, when given, leads the element as a `"type"` field;
    * `isEdge` adds the endpoints; `extraLabel` is appended to the distinct
    * labels; `defaultMode` and `modes` (`array`, `auto` or `single`) shape
    * each property's value array. Entries are key-sorted: the map's
    * internal order follows collect_list arrival order (nondeterministic
    * under shuffle), and sorting makes the text stable run-to-run.
    */
  private[etl] def elementJson(spark: org.apache.spark.sql.SparkSession, tpe: Option[Column],
                               props: Column, isEdge: Column, extraLabel: Option[String],
                               defaultMode: String,
                               modes: Map[String, String] = Map.empty): Column = {
    GraftFunctions.register(spark)
    call_function("graft_pg_element_json",
      tpe.getOrElse(lit(null).cast("string")), col("id"), col("labels"),
      col("from"), col("to"), props, isEdge, lit(tpe.isDefined),
      lit(extraLabel.orNull).cast("string"), lit(defaultMode), typedlit(modes))
  }

  /** Writes the JSONL.pg text, optionally compressed — the reference's own
    * TODO (src/ketl/io/core.py: JSONL compression options). `codec` is any
    * Spark text-sink codec name (`gzip`, `bzip2`, `deflate`, `lz4`);
    * [[fromJsonl]] needs no counterpart option because the text source
    * auto-detects compression from the file extension.
    */
  def writeJsonl(pg: DataFrame, path: String, codec: Option[String] = None,
                 converters: Map[String, Column => Column] = Map.empty): Unit = {
    val writer = toJsonl(pg, converters).write.mode("overwrite")
    codec.fold(writer)(c => writer.option("compression", c)).text(path)
  }
}
