"""DuckDB oracles, run on the first (warm-up) run's outputs of a workload.

The benchmark process writes an `oracle.json` beside those outputs. Every
later run is checked in-process against the first run's fingerprint, so a
wrong first result fails every run of that operation.

- kg_build: the built PG must equal a DuckDB build straight from the
  generated tables: every map step of conf/kg_build.yml as SQL (ids,
  labels, edge endpoints and JSON property values as Triples writes them),
  grouped into elements the way PgGraph.toPg does.
- delta_queries: the base snapshot must equal that build, and the final
  snapshot its triples with every batch applied under the semantics of the
  pg_merge_inc / pg_merge_tomb oracles, grouped the same way. Each query
  result must equal its oracle SQL (graft.SparkEntry.oracleSql) under the
  normalisation of tools/check_oracle.py: columns sorted by name, rows
  sorted, values stringified.
"""
import json
import math
import os

import duckdb
import yaml


def _fmt(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(tuple(_fmt(r[i]) for i in order) for r in rows)


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"


def _views(con, tables):
    for name in sorted(os.listdir(tables)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS "
                        f"SELECT * FROM {_parquet(os.path.join(tables, name))}")


def _queries(spec, results, con):
    failed = []
    for query, sql in sorted(spec["sql"].items()):
        got = con.execute(f"SELECT * FROM {_parquet(os.path.join(results, query))}")
        got = _norm([c[0] for c in got.description], got.fetchall())
        want = con.execute(sql)
        if got != _norm([c[0] for c in want.description], want.fetchall()):
            failed.append(query)
    return failed


def _json(column, sql_type):
    """A column's value as Triples.jsonSerialize writes it for the type Spark
    infers from the TSV export: JSON strings, bare numbers, and timestamps
    in Spark's JSON format at the UTC session time zone.
    """
    if sql_type == "VARCHAR":
        return f"CAST(to_json({column}) AS VARCHAR)"
    if sql_type.startswith("TIMESTAMP"):
        return f"""'"' || strftime({column}, '%Y-%m-%dT%H:%M:%S.%gZ') || '"'"""
    return f"CAST({column} AS VARCHAR)"


def _wrap(spec):
    """Triples.wrap: prefix, the value as a string, postfix."""
    return (f"'{spec.get('prefix', '')}' || CAST({spec['column']} AS VARCHAR) || "
            f"'{spec.get('postfix', '')}'")


def _mapper(decl, table, types):
    """The triples of a mapper declared in the workflow config, as
    Workflow.mapperFromConf builds it, as one SQL query over its table.
    """
    if "edge" in decl:
        edge = decl["edge"]
        src, dst = _wrap(edge["from"]), _wrap(edge["to"])
        element = f"'{edge['type']}:' || {src} || '-' || {dst}"
        kvs = [("@type", f"'{edge['type']}'"), ("@from", src), ("@to", dst)]
    else:
        element = _wrap(decl["id"])
        kvs = []
    if "type" in decl:
        kvs.append(("@type", f"'{decl['type']}'"))
    kvs += [(k, _json(c, types[c])) for k, c in decl.get("props", {}).items()]
    kvs += [(k, f"'{json.dumps(str(v))}'") for k, v in decl.get("constants", {}).items()]
    return " UNION ALL ".join(f"SELECT {element} AS id, '{k}' AS key, {v} AS value FROM {table}"
                              for k, v in kvs)


# the mapper bound in code (KgMapping.registry): a second label and a
# multi-valued supplier property, a JSON string, on the part ids
CODE_MAPPERS = {
    "part_supply": """
SELECT 'part:' || l_partkey AS id, '@type' AS key, 'Product' AS value FROM lineitem
UNION ALL
SELECT 'part:' || l_partkey, 'supplier', CAST(to_json('sup:' || l_suppkey) AS VARCHAR)
FROM lineitem""",
}


def base_triples(con, conf):
    """The triples of every map step in the workflow config (its tables
    must be views of `con`).
    """
    with open(conf) as fh:
        doc = yaml.safe_load(fh)
    wf = doc["workflow"]
    parts = []
    for step in wf["steps"].values():
        if step["kind"] != "map":
            continue
        table = os.path.basename(step["input"])[:-len(".tsv")]
        if step["mapper"] in CODE_MAPPERS:
            parts.append(CODE_MAPPERS[step["mapper"]])
            continue
        types = dict(con.execute(f"SELECT column_name, column_type FROM "
                                 f"(DESCRIBE {table})").fetchall())
        for name in doc["chains"].get(step["mapper"], [step["mapper"]]):
            parts.append(_mapper(wf["mappers"][name], table, types))
    return " UNION ALL ".join(f"({p})" for p in parts)


# one element row and one row per property: (id, type, labels, from, to)
# and (id, key, values), values sorted and distinct
PG_ROWS = """
SELECT id, type, array_to_string(list_sort(labels), ',') AS labels, "from", "to"
FROM {src}"""
PG_PROPS = """
SELECT id, e.key AS key, array_to_string(list_sort(list_distinct(e.value)), '|') AS vals
FROM (SELECT id, unnest(map_entries(properties)) AS e FROM {src})"""


def _same_elements(con, got):
    """Whether the PG at `got` holds exactly the elements of triple table s."""
    got = _parquet(got)
    want = """SELECT id,
          CASE WHEN max(value) FILTER (key = '@from') IS NULL THEN 'node' ELSE 'edge' END AS type,
          coalesce(list(DISTINCT value) FILTER (key = '@type'), []) AS labels,
          max(value) FILTER (key = '@from') AS "from", max(value) FILTER (key = '@to') AS "to"
        FROM s GROUP BY id"""
    want_props = """
        SELECT id, key, array_to_string(list_sort(list(DISTINCT value)), '|') AS vals
        FROM s WHERE key NOT IN ('@type', '@from', '@to') GROUP BY id, key"""
    for mine, theirs in ((PG_ROWS.format(src=got), PG_ROWS.format(src=f"({want})")),
                         (PG_PROPS.format(src=got), want_props)):
        diff = con.execute(f"SELECT count(*) FROM (({mine}) EXCEPT ALL ({theirs})) UNION ALL "
                           f"SELECT count(*) FROM (({theirs}) EXCEPT ALL ({mine}))").fetchall()
        if any(n for (n,) in diff):
            return False
    return True


def _base(con, spec):
    _views(con, spec["tables"])
    con.execute(f"CREATE TABLE s AS SELECT DISTINCT * FROM ({base_triples(con, spec['conf'])})")


def kg_build(spec, results, con):
    _base(con, spec)
    return [] if _same_elements(con, spec["pg"]) else ["pg_build"]


def delta_queries(spec, results, con):
    _base(con, spec)
    if not _same_elements(con, spec["base"]):
        return ["base snapshot"]
    latest = ", ".join(f"'{k}'" for k in spec["latest_keys"] + ["@from", "@to"])
    for batch in spec["batches"]:
        con.execute(f"CREATE OR REPLACE TABLE bt AS SELECT id, key, value FROM {_parquet(batch)}")
        con.execute("""CREATE OR REPLACE TABLE del AS
            SELECT DISTINCT id FROM bt WHERE key = '@delete' AND value = '*'""")
        con.execute("""CREATE OR REPLACE TABLE unset AS
            SELECT DISTINCT id, value AS key FROM bt WHERE key = '@delete' AND value <> '*'""")
        # an id-level tombstone wins over same-batch data
        con.execute("""CREATE OR REPLACE TABLE data AS
            SELECT * FROM bt ANTI JOIN del USING (id) WHERE key <> '@delete'""")
        # latest keys and endpoints replace, other values union, unsets last
        con.execute(f"""CREATE OR REPLACE TABLE s AS
            SELECT * FROM (
              SELECT * FROM (SELECT * FROM s ANTI JOIN del USING (id))
                ANTI JOIN (SELECT DISTINCT id, key FROM data WHERE key IN ({latest}))
                USING (id, key)
              UNION SELECT * FROM data)
            ANTI JOIN unset USING (id, key)""")
    failed = [] if _same_elements(con, spec["final"]) else [
        os.path.basename(b) for b in spec["batches"]]
    return failed + _queries(spec, results, con)


def check(workload, results):
    """Returns the operations whose first-run result differs from the oracle."""
    with open(os.path.join(results, "oracle.json")) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    return {"kg_build": kg_build, "delta_queries": delta_queries}[workload](spec, results, con)
