"""DuckDB oracles for the benchmark workloads, built from the package's
registered oracle SQL (``datas_spark.registry.ORACLES``), and the
order-independent output digest both sides are compared by.

- ``select``: ``ifd_model_scorer`` scores and filters the documents;
  ``datas_full_pipeline`` runs over the survivors; the kept rows carry
  their IFD score.
- ``dedup_lexical``: ``curate_corpus`` with a 3-gram Jaccard near-dup
  stage spliced in between exact dedup and decontamination, exactly
  where `curate_corpus` runs it. The near-dup CTEs follow the
  ``curate_corpus_full`` oracle (pairs at Jaccard >= 0.2, connected
  components, keep the longest doc, ties to the smaller id).

The replays (the recursive connected components especially) are far
slower than the engine, so they run on the small instance only.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb
import pyarrow.json as pajson
import pyarrow.parquet as pq

# MATERIALIZED: each of these feeds several later CTEs; inlined, DuckDB
# re-derives the shingles and pairs per reference (~6x slower here)
_NEAR_DUP_CTES = r"""nd_sh AS MATERIALIZED (
      SELECT d.doc_id, d.text,
        list_distinct(list_transform(
          range(1, greatest(len(string_split_regex(trim(d.text), '\s+')) - 2, 0) + 1),
          i -> array_to_string((string_split_regex(trim(d.text), '\s+'))[i:i+2], ' ')))
          AS grams
      FROM ded JOIN documents d USING (doc_id)
    ), nd_ex AS (
      SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM nd_sh
    ), nd_pairs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb,
             count(*) AS shared
      FROM nd_ex a JOIN nd_ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
      HAVING shared / (na + nb - shared) >= {threshold}
    ), nd_ee AS (
      SELECT id_a AS a, id_b AS b FROM nd_pairs
      UNION SELECT id_b, id_a FROM nd_pairs
    ), nd_reach(node, r) AS (
      SELECT a, a FROM nd_ee
      UNION
      SELECT nd_ee.a, nd_reach.r FROM nd_ee JOIN nd_reach ON nd_reach.node = nd_ee.b
    ), nd_comp AS (
      SELECT node, min(r) AS component FROM nd_reach GROUP BY node
    ), nd_lab AS (
      SELECT s.doc_id, length(s.text) AS sc,
             coalesce(c.component, s.doc_id) AS component
      FROM nd_sh s LEFT JOIN nd_comp c ON s.doc_id = c.node
    ), nd AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (
          PARTITION BY component ORDER BY sc DESC, doc_id ASC) AS rn
        FROM nd_lab
      ) WHERE rn = 1
    )"""


def _splice(sql: str, old: str, new: str) -> str:
    if sql.count(old) != 1:
        raise RuntimeError(f"registered oracle changed shape: {old!r} not found once")
    return sql.replace(old, new)


def _lexical_sql(oracles: dict[str, str], threshold: float) -> str:
    sql = oracles["curate_corpus"]
    sql = _splice(sql, "WITH t AS (", "WITH RECURSIVE t AS (")
    sql = _splice(sql, "), clean AS (", "), " + _NEAR_DUP_CTES.format(threshold=threshold) + ", clean AS (")
    return _splice(sql, "FROM ded d LEFT JOIN cont", "FROM nd d LEFT JOIN cont")


def expected_rows(workload: str, data_dir: str) -> list[dict]:
    """The oracle's output rows for ``workload`` over ``data_dir``."""
    from datas_spark.registry import ORACLES

    from workloads import LEX

    con = duckdb.connect()
    path = os.path.join(data_dir, "documents.parquet")
    con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{path}')")
    if workload == "select":
        con.execute(f"CREATE TABLE ifd AS {ORACLES['ifd_model_scorer']}")
        con.execute("ALTER TABLE documents RENAME TO documents_all")
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM documents_all "
            "WHERE doc_id IN (SELECT doc_id FROM ifd)"
        )
        con.execute(f"CREATE TABLE kept AS {ORACLES['datas_full_pipeline']}")
        q = (
            "SELECT k.*, i.score_ifd_model AS score_ifd "
            "FROM kept k JOIN ifd i USING (doc_id)"
        )
    elif workload == "dedup_lexical":
        con.execute(f"CREATE TABLE kept AS {_lexical_sql(ORACLES, LEX['near_dup_threshold'])}")
        q = "SELECT d.*, k.split FROM kept k JOIN documents d USING (doc_id)"
    else:
        raise ValueError(workload)
    cur = con.execute(q)
    cols = [c[0] for c in cur.description]
    rows = [dict(zip(cols, r)) for r in cur.fetchall()]
    con.close()
    return rows


def read_output(path: str, fmt: str) -> list[dict]:
    """Rows a sink wrote under ``path`` (JSON lines or parquet parts)."""
    if fmt == "parquet":
        return pq.read_table(path).to_pylist()
    rows: list[dict] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        if os.path.getsize(part):
            rows.extend(pajson.read_json(part).to_pylist())
    return rows


def digest(rows: list[dict]) -> str:
    """Order-independent digest: sha256 of the sorted canonical rows."""
    lines = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()[:16]}"
