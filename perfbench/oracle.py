"""Expected results, computed in DuckDB, and readers for the program's outputs.

Nothing here imports the engine under test: expected values come from
DuckDB over the generated inputs, and outputs are parsed back from the
text, XML, SQL, CSV and XLSX the engine produced (or, for parquet tables,
read by DuckDB), so a wrong result cannot be hidden by a shared bug.
"""

from __future__ import annotations

import csv
import glob
import io
import os
import re
import zipfile
import xml.etree.ElementTree as ET

import duckdb


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(":memory:")
    con.execute("SET threads TO 1")
    return con


def cell(v: object) -> str:
    """The text form every sink writes for a value (None -> empty)."""
    return "" if v is None else str(v)


def expected_rows(con, sql: str, params: dict) -> list[tuple[str, ...]]:
    """Run a ``:name``-parameterised statement in DuckDB; rows as text."""
    duck_sql = re.sub(r":([a-z_]+)", r"$\1", sql)
    rows = con.execute(duck_sql, params).fetchall()
    return [tuple(cell(v) for v in r) for r in rows]


# -- parsers for the report formats ----------------------------------------

def parse_text_table(text: str) -> list[tuple[str, ...]]:
    """Rows of a fixed-width text table (header dropped).  Report values
    hold no spaces and are shorter than the column width, so splitting on
    whitespace recovers them."""
    lines = text.rstrip("\n").split("\n")
    return [tuple(line.split()) for line in lines[1:]]


def parse_xml_rows(text: str) -> list[tuple[str, ...]]:
    root = ET.fromstring(text)
    return [tuple(c.text or "" for c in row) for row in root]


_SQL_VALUE = re.compile(r"'(?:[^']|'')*'|[^,\s]+")


def parse_sql_inserts(lines: list[str]) -> list[tuple[str, ...]]:
    out = []
    for line in lines:
        vals = line[line.index("VALUES (") + 8 : line.rindex(");")]
        row = []
        for tok in _SQL_VALUE.findall(vals):
            if tok.startswith("'"):
                row.append(tok[1:-1].replace("''", "'"))
            else:
                row.append("" if tok == "NULL" else tok)
        out.append(tuple(row))
    return out


def read_csv_dir(path: str, sep: str = ";") -> list[tuple[str, ...]]:
    """Rows of a Spark CSV output directory (one header per part file)."""
    rows: list[tuple[str, ...]] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="") as f:
            r = list(csv.reader(f, delimiter=sep))
        rows.extend(tuple(x) for x in r[1:])
    return rows


def xlsx_row_counts(path: str) -> list[int]:
    """Rows per worksheet of an .xlsx file, header row included."""
    counts = []
    with zipfile.ZipFile(path) as z:
        sheets = sorted(
            (n for n in z.namelist() if re.match(r"xl/worksheets/sheet\d+\.xml$", n)),
            key=lambda n: int(re.findall(r"\d+", n)[-1]),
        )
        for name in sheets:
            counts.append(len(re.findall(rb"<row[ >]", z.read(name))))
    return counts


def csv_bytes(rows: list[tuple[str, ...]]) -> int:
    """Size of rows as ``;``-separated text: the byte measure of user data."""
    buf = io.StringIO()
    csv.writer(buf, delimiter=";", lineterminator="\n").writerows(rows)
    return len(buf.getvalue().encode())


# -- table fingerprints ------------------------------------------------------

def table_hash(con, relation: str) -> tuple[int, int]:
    """(row count, order-insensitive content hash) of a DuckDB relation.

    Each column is normalised first -- timestamps to epoch milliseconds,
    integers to BIGINT -- so a table that went through parquet writers with
    other physical types still hashes the same when its values do."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    parts = []
    for name, typ, *_ in cols:
        ref = f'"{name}"'
        if typ.startswith("TIMESTAMP") or typ == "DATE":
            parts.append(f"CAST(epoch_ms({ref}) AS VARCHAR)")
        elif typ in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
            parts.append(f"CAST(CAST({ref} AS BIGINT) AS VARCHAR)")
        else:
            parts.append(f"CAST({ref} AS VARCHAR)")
    expr = " || '|' || ".join(f"coalesce({p}, '<null>')" for p in sorted(parts))
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({expr})), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def parquet_relation(path: str) -> str:
    """A DuckDB relation over a parquet table directory."""
    return f"read_parquet('{path}/*.parquet')"


# -- retrieval: the "== rebuild" pin -------------------------------------------

#: integer-rational BM25 (k1=1.2, b=0.75) over ``docs``, probed by the
#: (query_id, term) rows of ``q``: the engine's documented scoring, rebuilt
#: from scratch over the admitted documents
_BM25 = r"""
WITH tok AS (
    SELECT doc_id, unnest(list_filter(
        string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS tok
    FROM docs
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
st AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(1000 * sum(dl) // count(*) AS BIGINT) AS adl_m FROM dl),
tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT tf.tok, CAST(count(*) AS BIGINT) AS df FROM tf
        JOIN (SELECT DISTINCT term FROM q) qt ON tf.tok = qt.term GROUP BY 1),
sc AS (
    SELECT CAST(q.query_id AS BIGINT) AS query_id, tf.doc_id,
           CAST((1000000 * 22 * tf.tf * st.adl_m
                 // (10 * tf.tf * st.adl_m + 3 * st.adl_m + 9000 * dl.dl))
                * (1000 * (2 * st.n - 2 * dfq.df + 1) // (2 * dfq.df + 1))
                // 1000 AS BIGINT) AS term_score
    FROM q JOIN tf ON q.term = tf.tok JOIN dfq ON tf.tok = dfq.tok
    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
),
s AS (SELECT query_id, doc_id, CAST(sum(term_score) AS BIGINT) AS score_ppm
      FROM sc GROUP BY 1, 2)
SELECT query_id, doc_id, score_ppm, rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score_ppm DESC, doc_id) AS rnk FROM s
) WHERE rnk <= $k
"""

#: exact cosine top-k of the ``qv`` query vectors over ``emb``, scored at
#: 1e-6 like the engine, ties broken by id
_COSINE = r"""
WITH nv AS (
    SELECT doc_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
    FROM (SELECT doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM emb)
),
qn AS (
    SELECT query_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
    FROM (SELECT query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM qv)
),
c AS (
    SELECT qn.query_id, nv.doc_id,
           round(list_sum(list_transform(range(1, len(qn.v) + 1),
                                         i -> qn.v[i] * nv.v[i])) / (qn.nrm * nv.nrm), 6) AS cos
    FROM qn, nv WHERE qn.query_id <> nv.doc_id
)
SELECT query_id, doc_id, rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rnk
    FROM c
) WHERE rnk <= $k
"""


def retrieval_expected(con, docs, emb, terms, qvecs, k: int) -> dict[str, list[tuple]]:
    """Expected probe results over the admitted set, from scratch.

    ``docs`` and ``emb`` are pyarrow tables of the admitted documents
    (doc_id, text) and their embeddings; ``terms`` the (query_id, term)
    rows and ``qvecs`` the (query_id, vector) rows of one probe batch.
    Returns sorted rows per probe: ``text`` (query_id, doc_id, score_ppm,
    rnk), ``ivf`` (query_id, doc_id, rnk) for an every-cell probe, and
    ``hybrid`` (query_id, doc_id, n_lists, rrf_ppm, rnk): the two lists
    fused by reciprocal rank with k=60, as the engine documents it.
    """
    import pyarrow as pa

    q = pa.table({"query_id": [t[0] for t in terms], "term": [t[1] for t in terms]})
    qv = pa.table({"query_id": [v[0] for v in qvecs],
                   "embedding": pa.array([v[1] for v in qvecs], type=pa.list_(pa.float32()))})
    for name, t in (("docs", docs), ("emb", emb), ("q", q), ("qv", qv)):
        con.register(name, t)
    text = [tuple(int(x) for x in r) for r in con.execute(_BM25, {"k": k}).fetchall()]
    ivf = [tuple(int(x) for x in r) for r in con.execute(_COSINE, {"k": k}).fetchall()]
    for name in ("docs", "emb", "q", "qv"):
        con.unregister(name)
    fused: dict[tuple[int, int], list[int]] = {}
    for qid, doc, *_, rnk in text + ivf:
        n_rrf = fused.setdefault((qid, doc), [0, 0])
        n_rrf[0] += 1
        n_rrf[1] += 1_000_000 // (60 + rnk)
    hybrid = []
    for qid in sorted({qid for qid, _ in fused}):
        ranked = sorted(((-v[1], doc, v) for (q2, doc), v in fused.items() if q2 == qid))
        hybrid += [(qid, doc, v[0], v[1], r + 1) for r, (_, doc, v) in enumerate(ranked[:k])]
    return {"text": sorted(text), "ivf": sorted(ivf), "hybrid": sorted(hybrid)}
