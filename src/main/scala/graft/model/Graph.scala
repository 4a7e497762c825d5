package graft.model

/** Core knowledge-graph data model.
  *
  * Mirrors the reference triple model (reference: src/ketl/core.py:18-83):
  * a graph is represented as rows of `(id, key, value)` where special keys
  * mark structure and all regular property values are stored as JSON string
  * representations (so heterogeneous property types fit one string column).
  */
object Graph {

  /** Node label / relationship type key (reference: src/ketl/core.py:35). */
  val TypeKey = "@type"

  /** Edge endpoint keys (reference: src/ketl/core.py:40). */
  val FromKey = "@from"
  val ToKey   = "@to"

  /** Reserved tombstone key consumed by [[graft.etl.PgGraph.mergeInc]] —
    * graft's incremental-delete extension (the reference's reload workflow
    * can only delete by full rebuild). Value [[DeleteAll]] removes the
    * whole element; any other value unsets that property key.
    */
  val DeleteKey = "@delete"
  val DeleteAll = "*"

  /** Keys whose values are NOT JSON-serialised (reference: src/ketl/helpers.py:38-52). */
  val SpecialKeys: Set[String] = Set(TypeKey, FromKey, ToKey, DeleteKey)

  /** PG-element types (reference: src/ketl/core.py:86-89). */
  val NodeType = "node"
  val EdgeType = "edge"
}
