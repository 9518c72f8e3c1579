"""The benchmark's workloads: closed-loop, one client thread each.

``report_sync`` is lwetl's own surface -- parameterised reports
(``SqlReport``) and a database changed through ``Uploader`` and synced with
``db_copy`` (``DbSync``) -- in one process; ``index_campaign`` is the
daily-crawl index lifecycle.  A workload makes its inputs from the seed,
prepares the engine state, warms its latency shapes, and runs numbered ops.
Every op is timed around the engine's public calls only, then checked
against DuckDB outside the timed part.  Calls into the engine go through
``tracer.call`` so a traced run gets one span per call.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

import fixtures
import oracle


@dataclass
class OpResult:
    shape: str  # op shape: every latency sample comes from one shape
    kind: str  # "read" or "write"
    ms: float
    ok: bool
    rows_changed: int = 0
    user_bytes: int = 0  # bytes of user data the op changed or exported
    local_bytes: int = 0  # bytes the driver wrote itself, outside Spark tasks
    files_written: int = 0  # new files the op left on disk
    disk_bytes_written: int = 0  # their bytes
    note: str = ""


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _timed(tracer, shape: str, fn):
    t0 = time.perf_counter()
    out = tracer.call(f"op.{shape}", fn)
    return out, (time.perf_counter() - t0) * 1000.0


# ---------------------------------------------------------------------------
# report_sync: SqlReport and DbSync
# ---------------------------------------------------------------------------

#: the report script: (name, formatter, statement).  Every statement orders
#: its rows; money is summed in integer cents so Spark and DuckDB agree bit
#: for bit.
REPORT = (
    ("scan_filter_agg", "text",
     "SELECT l_returnflag, count(*) AS n_lines,"
     " sum(CAST(l_quantity AS BIGINT)) AS qty,"
     " sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
     " * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_cents_x100"
     " FROM lineitem WHERE l_shipdate < :ship_before AND l_quantity >= :min_qty"
     " GROUP BY l_returnflag ORDER BY l_returnflag"),
    ("join_agg", "xml",
     "SELECT o_orderpriority, count(*) AS n_lines,"
     " sum(CAST(l_quantity AS BIGINT)) AS qty"
     " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
     " WHERE o_orderdate >= :since AND o_orderdate < :until"
     " GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    ("join_topn", "sql",
     "SELECT o_orderkey, c_name, o_totalprice, n_name"
     " FROM orders JOIN customer ON o_custkey = c_custkey"
     " JOIN nation ON c_nationkey = n_nationkey"
     " WHERE n_regionkey = :region AND o_orderstatus = :status"
     " ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    ("window_rank", "text",
     "SELECT n_name, c_custkey, c_acctbal, rk FROM ("
     " SELECT n_name, c_custkey, c_acctbal, row_number() OVER"
     " (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rk"
     " FROM customer JOIN nation ON c_nationkey = n_nationkey"
     " WHERE c_mktsegment = :segment) WHERE rk <= 3 ORDER BY n_name, rk"),
)

#: every EXPORT_EVERY-th report is also exported to CSV and XLSX
EXPORT_EVERY = 3
#: seeded bindings prepared (with their expected results) at set-up
BINDINGS = 8
#: ~60k line items: report latency is per-job overhead, not data volume
#: (a 5x smaller table measured the same), so a bigger table adds set-up only
SQL_ORDERS = 15_000


def _bindings(rng: np.random.Generator) -> dict:
    base = datetime.date(1992, 1, 1)
    since = base + datetime.timedelta(days=int(rng.integers(0, 1800)))
    return {
        "ship_before": base + datetime.timedelta(days=int(rng.integers(300, 2400))),
        "min_qty": int(rng.integers(1, 40)),
        "since": since,
        "until": since + datetime.timedelta(days=int(rng.integers(90, 720))),
        "region": int(rng.integers(0, fixtures.REGIONS)),
        "status": str(rng.choice(["F", "O", "P"])),
        "segment": str(rng.choice(fixtures.SEGMENTS)),
    }


class SqlReport:
    """Parameterised multi-statement reports rendered by the formatters.

    Read ops are reports; every ``EXPORT_EVERY``-th report is followed by a
    write op that exports the report's results with ``write_csv`` and
    ``write_xlsx_sheets``.
    """

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.export_dir = os.path.join(work, "export")
        self._last_export_bytes = 0
        self.problems: list[str] = []

    def setup_data(self) -> None:
        """Generate the tables, register them and compute expected results."""
        from lwetl_spark.api import SparkEtl

        data = os.path.join(self.work, "data")
        tables = fixtures.star_tables(self.seed, SQL_ORDERS)
        fixtures.write_tables(tables, data)
        self.etl = self.tracer.call("catalog.register_tables", SparkEtl, data, self.spark)
        con = oracle.connect()
        for name in tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"{oracle.parquet_relation(os.path.join(data, name + '.parquet'))}")
        rng = np.random.default_rng([self.seed, 1])
        self.bindings = [_bindings(rng) for _ in range(BINDINGS)]
        self.expected = [
            [oracle.expected_rows(con, sql, self._params(sql, b)) for _, _, sql in REPORT]
            for b in self.bindings
        ]
        con.close()
        self.order = np.random.default_rng([self.seed, 2]).permutation(BINDINGS)

    @staticmethod
    def _params(sql: str, b: dict) -> dict:
        return {k: v for k, v in b.items() if f":{k}" in sql}

    def n_ops_per_cycle(self) -> int:
        return EXPORT_EVERY + 1

    def run_op(self, i: int) -> OpResult:
        """Op ``i``: reports, with an export after every EXPORT_EVERY-th."""
        cycle, step = divmod(i, EXPORT_EVERY + 1)
        report_no = cycle * EXPORT_EVERY + min(step, EXPORT_EVERY - 1)
        b = int(self.order[report_no % BINDINGS])
        if step < EXPORT_EVERY:
            return self._report(b)
        return self._export(b)

    def _frames(self, b: int):
        binding = self.bindings[b]
        return [
            self.tracer.call("api.query_df", self.etl.query_df, sql, self._params(sql, binding))
            for _, _, sql in REPORT
        ]

    def _report(self, b: int) -> OpResult:
        from lwetl_spark.sinks.formatter import format_text_table, to_sql_inserts, to_xml_string

        tr = self.tracer
        render = {
            "text": lambda df: tr.call("formatter.text", format_text_table, df),
            "xml": lambda df: tr.call("formatter.xml", to_xml_string, df),
            "sql": lambda df: tr.call("formatter.sql_inserts", lambda: list(to_sql_inserts(df, "report"))),
        }

        def op():
            return [render[fmt](df) for (_, fmt, _), df in zip(REPORT, self._frames(b))]

        outs, ms = _timed(tr, "report", op)
        parse = {"text": oracle.parse_text_table, "xml": oracle.parse_xml_rows,
                 "sql": oracle.parse_sql_inserts}
        bad = [
            name for (name, fmt, _), out, want in zip(REPORT, outs, self.expected[b])
            if parse[fmt](out) != want
        ]
        return OpResult("report", "read", ms, not bad, note=",".join(bad))

    def _export(self, b: int) -> OpResult:
        from lwetl_spark.sinks.formatter import write_csv, write_xlsx_sheets

        tr = self.tracer
        shutil.rmtree(self.export_dir, ignore_errors=True)
        os.makedirs(self.export_dir)
        xlsx = os.path.join(self.export_dir, "report.xlsx")

        def op():
            frames = self._frames(b)
            for (name, _, _), df in zip(REPORT, frames):
                tr.call("formatter.csv_write", write_csv, df, os.path.join(self.export_dir, name))
            tr.call("formatter.xlsx_write", write_xlsx_sheets,
                    [(name, df) for (name, _, _), df in zip(REPORT, frames)], xlsx)

        _, ms = _timed(tr, "export", op)
        want = self.expected[b]
        bad = [
            name for (name, _, _), rows in zip(REPORT, want)
            if sorted(oracle.read_csv_dir(os.path.join(self.export_dir, name))) != sorted(rows)
        ]
        if oracle.xlsx_row_counts(xlsx) != [len(rows) + 1 for rows in want]:
            bad.append("xlsx")
        n_rows = sum(len(rows) for rows in want)
        self._last_export_bytes = sum(oracle.csv_bytes(rows) for rows in want)
        return OpResult("export", "write", ms, not bad, rows_changed=n_rows,
                        user_bytes=self._last_export_bytes, local_bytes=os.path.getsize(xlsx),
                        note=",".join(bad))

    def space(self) -> tuple[int, int]:
        """(bytes on disk, bytes of live user data) of the export directory."""
        return dir_bytes(self.export_dir), self._last_export_bytes


#: one 10k-row table: a sync runs ~30 Spark jobs per table, and a run must
#: hold a whole cycle of the four change kinds within its time budget
SYNC_ORDERS = 10_000
TABLE, KEY = "orders", "o_orderkey"
#: rows per insert and per delete change set (equal, so sizes stay constant)
CHANGE_ROWS = 10
#: orders whose status and price a merge rewrites (1 % of them)
MERGE_ROWS = SYNC_ORDERS // 100
#: the change sets of each sync round: inserts and deletes share a round,
#: so the table size is the same at every sync
CHANGE_KINDS = ("insert", "delete", "update", "merge")
ORDERS_DDL = ("o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double,"
              " o_orderdate timestamp_ntz, o_orderpriority string")


class DbSync:
    """A source database changed through ``Uploader`` and synced to a target.

    Each round applies four change sets to the source ``orders`` table, one
    ``Uploader`` call each (insert+commit, delete, a 1-row update and a
    merge), diffs the two catalogs with ``plan_copy`` and syncs the target
    with ``db_copy(mode="sync", activate=True)``.  Inserts and deletes are
    the same size, so the table size stays constant.  DuckDB keeps a model
    of the table; after every write the written parquet must hash like the
    model.
    """

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.problems: list[str] = []

    def setup_data(self) -> None:
        """Generate the source, copy it to an empty target, load the model."""
        from lwetl_spark.plans.db_copy import db_copy

        base = os.path.join(self.work, "data")
        self.src, self.trg = os.path.join(base, "src"), os.path.join(base, "trg")
        fixtures.write_tables({TABLE: fixtures.star_tables(self.seed, SYNC_ORDERS)[TABLE]}, self.src)
        self.tracer.call("db_copy.initial_copy", db_copy, self.spark, self.src, self.trg,
                         {TABLE: KEY}, mode="empty", activate=True)
        self.model = oracle.connect()
        self.model.execute(f"CREATE TABLE {TABLE} AS SELECT * FROM "
                           f"{oracle.parquet_relation(self._path(self.src))}")
        self.rng = np.random.default_rng([self.seed, 3])
        self.next_key = SYNC_ORDERS + 1
        self.pending = (0, 0)  # (rows, bytes) changed since the last sync
        self.target_rows = SYNC_ORDERS  # rows the target holds after the last sync
        if not self._matches(self.trg):
            self.problems.append(f"initial copy of {TABLE} differs from its source")

    def n_ops_per_cycle(self) -> int:
        return len(CHANGE_KINDS) + 2

    def run_op(self, i: int) -> OpResult:
        step = i % self.n_ops_per_cycle()
        if step < len(CHANGE_KINDS):
            return self._upload(CHANGE_KINDS[step])
        if step == len(CHANGE_KINDS):
            return self._plan()
        return self._sync()

    # -- change sets ---------------------------------------------------------
    def _keys(self, n: int) -> list[int]:
        keys = [r[0] for r in self.model.execute(f"SELECT {KEY} FROM {TABLE} ORDER BY 1").fetchall()]
        return sorted(int(k) for k in self.rng.choice(keys, n, replace=False))

    def _rows(self, where: str) -> list[tuple[str, ...]]:
        return [tuple(oracle.cell(v) for v in r)
                for r in self.model.execute(f"SELECT * FROM {TABLE} WHERE {where}").fetchall()]

    def _new_orders(self, n: int) -> list[dict]:
        rng, out = self.rng, []
        for _ in range(n):
            out.append({
                "o_orderkey": self.next_key,
                "o_custkey": int(rng.integers(1, SYNC_ORDERS // 10 + 1)),
                "o_orderstatus": str(rng.choice(["F", "O", "P"])),
                "o_totalprice": round(float(rng.uniform(1000, 400000)), 2),
                "o_orderdate": datetime.datetime(1992, 1, 1) + datetime.timedelta(days=int(rng.integers(0, 2400))),
                "o_orderpriority": str(rng.choice(fixtures.PRIORITIES)),
            })
            self.next_key += 1
        return out

    def _new_status_price(self) -> tuple[str, float]:
        return str(self.rng.choice(["F", "O", "P"])), round(float(self.rng.uniform(1000, 400000)), 2)

    def _upload(self, kind: str) -> OpResult:
        """One change set through one ``Uploader`` call; the model follows."""
        from lwetl_spark.sinks.uploader import Uploader, WritePolicy

        tr, m = self.tracer, self.model
        up = Uploader(self.spark, self._path(self.src), policy=WritePolicy.COMMIT, table_name=TABLE)
        if kind == "insert":
            rows = self._new_orders(CHANGE_ROWS)

            def op():
                for r in rows:
                    tr.call("uploader.insert", up.insert, r)
                return tr.call("uploader.commit", up.commit)

            want = len(rows)
            out, ms = _timed(tr, kind, op)
            cols = list(rows[0])
            m.executemany(f"INSERT INTO {TABLE} ({', '.join(cols)}) VALUES ({', '.join('?' * len(cols))})",
                          [[r[c] for c in cols] for r in rows])
            changed = self._rows(f"{KEY} >= {rows[0][KEY]}")
        elif kind == "update":
            key = self._keys(1)[0]
            status, price = self._new_status_price()
            want = 1
            out, ms = _timed(tr, kind, lambda: tr.call(
                "uploader.update", up.update,
                {"o_orderstatus": status, "o_totalprice": price}, {KEY: key}))
            m.execute(f"UPDATE {TABLE} SET o_orderstatus = ?, o_totalprice = ? WHERE {KEY} = ?",
                      [status, price, key])
            changed = self._rows(f"{KEY} = {key}")
        elif kind == "delete":
            keys = self._keys(CHANGE_ROWS)
            in_keys = f"{KEY} IN ({', '.join(map(str, keys))})"
            changed = self._rows(in_keys)
            keys_df = self.spark.createDataFrame([(k,) for k in keys], f"{KEY} long")
            want = len(keys)
            out, ms = _timed(tr, kind, lambda: tr.call(
                "uploader.delete", up.delete, keys_df=keys_df, key=KEY))
            m.execute(f"DELETE FROM {TABLE} WHERE {in_keys}")
        else:  # merge: ~1 % of the orders come back with a new status and price
            keys = self._keys(MERGE_ROWS)
            in_keys = f"{KEY} IN ({', '.join(map(str, keys))})"
            m.executemany(f"UPDATE {TABLE} SET o_orderstatus = ?, o_totalprice = ? WHERE {KEY} = ?",
                          [[*self._new_status_price(), k] for k in keys])
            src_df = self.spark.createDataFrame(
                m.execute(f"SELECT * FROM {TABLE} WHERE {in_keys}").fetchall(), ORDERS_DDL)
            want = {"inserted": 0, "updated": len(keys)}
            changed = self._rows(in_keys)
            out, ms = _timed(tr, kind, lambda: tr.call("uploader.merge", up.merge, src_df, key=KEY))
        ok = out == want and self._matches(self.src)
        n_bytes = oracle.csv_bytes(changed)
        self.pending = (self.pending[0] + len(changed), self.pending[1] + n_bytes)
        return OpResult(kind, "write", ms, ok, rows_changed=len(changed), user_bytes=n_bytes,
                        note="" if ok else f"source {TABLE}: returned {out!r}, want {want!r}")

    def _sync(self) -> OpResult:
        from lwetl_spark.plans.db_copy import db_copy

        _, ms = _timed(self.tracer, "sync", lambda: self.tracer.call(
            "db_copy.sync", db_copy, self.spark, self.src, self.trg, {TABLE: KEY},
            mode="sync", activate=True))
        ok = self._matches(self.trg)
        self.target_rows = self._count()
        rows, n_bytes = self.pending
        self.pending = (0, 0)
        return OpResult("sync", "write", ms, ok, rows_changed=rows, user_bytes=n_bytes,
                        note="" if ok else f"target {TABLE} differs from the model")

    def _plan(self) -> OpResult:
        from lwetl_spark.plans.db_copy import plan_copy

        plan, ms = _timed(self.tracer, "plan_copy", lambda: self.tracer.call(
            "db_copy.plan_copy", plan_copy, self.spark, self.src, self.trg))
        want = (self._count(), self.target_rows)
        ok = plan.counts == {TABLE: want} and plan.order == [TABLE]
        return OpResult("plan_copy", "read", ms, ok, note="" if ok else f"counts {plan.counts}")

    # -- checks ----------------------------------------------------------------
    def _count(self) -> int:
        return self.model.execute(f"SELECT count(*) FROM {TABLE}").fetchone()[0]

    @staticmethod
    def _path(db: str) -> str:
        return os.path.join(db, f"{TABLE}.parquet")

    def _matches(self, db: str) -> bool:
        """Does the table in ``db`` hold exactly the model's rows?"""
        got = oracle.table_hash(self.model, oracle.parquet_relation(self._path(db)))
        return got == oracle.table_hash(self.model, TABLE)

    def space(self) -> tuple[int, int]:
        """(bytes on disk, bytes of live user data) of the target database."""
        return dir_bytes(self.trg), oracle.csv_bytes(self._rows("true"))


class ReportSync:
    """lwetl's own surface in one process: reports and a synced database.

    A cycle runs ``EXPORT_EVERY`` reports and an export (``SqlReport``),
    then one ``DbSync`` round.  Latency samples are reports (read) and
    syncs (write); uploads, ``plan_copy`` and exports count in the rates.
    Warm-up runs one report and one sync of the unchanged source: a whole
    cycle (~30 s cold on 4 cores) does not fit every run within the
    benchmark's time budget, so the other op shapes meet their first call
    in the timed window.
    """

    name = "report_sync"
    latency_shapes = {"read": "report", "write": "sync"}

    def __init__(self, spark, work: str, seed: int, tracer):
        self.sql = SqlReport(spark, work, seed, tracer)
        self.db = DbSync(spark, work, seed, tracer)

    @property
    def problems(self) -> list[str]:
        return self.sql.problems + self.db.problems

    def setup_data(self) -> None:
        self.sql.setup_data()
        self.db.setup_data()

    def n_ops_per_cycle(self) -> int:
        return self.sql.n_ops_per_cycle() + self.db.n_ops_per_cycle()

    def run_op(self, i: int) -> OpResult:
        cycle, step = divmod(i, self.n_ops_per_cycle())
        n_sql = self.sql.n_ops_per_cycle()
        if step < n_sql:
            return self.sql.run_op(cycle * n_sql + step)
        return self.db.run_op(cycle * self.db.n_ops_per_cycle() + step - n_sql)

    def warm_up(self, traced: bool):
        yield self.sql.run_op(0)
        yield self.db.run_op(len(CHANGE_KINDS) + 1)

    def space(self) -> tuple[int, int]:
        """(bytes on disk, bytes of live user data) of the export directory
        and the target database together."""
        (d1, l1), (d2, l2) = self.sql.space(), self.db.space()
        return d1 + d2, l1 + l2


# ---------------------------------------------------------------------------
# index_campaign
# ---------------------------------------------------------------------------

#: documents generated; a seeded half is the bootstrapped index, the other
#: half is the crawl the increments deliver
CRAWL_DOCS = 800
#: documents per delta increment, and in the compaction change set
DELTA_DOCS = 20
#: distinct increments prepared (with expected probe results) at set-up;
#: op cycles take them in a seeded order
INCREMENTS = 8
QUERIES = 4  # queries per probe batch
TOP_K = 10
#: IVF cells of the vector index (the engine's default) -- probes visit all
#: of them, so the dense ranking is exact and checkable
CELLS = 16
QUERY_ID0 = 9_000_001
INDEX_PARTS = ("m", "s", "x", "v")  # manifest, admitted state, text index, vector index


def _copy_state(src: str, dst: str) -> None:
    """Hardlink copy of an index state.  The engine never rewrites a file in
    place (appends add files, overwrites unlink and recreate), so the copy
    is metadata-only and the template stays intact."""
    shutil.rmtree(dst, ignore_errors=True)
    for part in INDEX_PARTS:
        shutil.copytree(os.path.join(src, part), os.path.join(dst, part), copy_function=os.link)


class IndexCampaign:
    """The daily-crawl index lifecycle: increments, compaction, probes.

    Set-up bootstraps a text + IVF index over a seeded half of the crawl
    (``ingest_increment`` with embeddings) and keeps it as a template; the
    bootstrap runs the ingest code every write op runs.  A traced run's
    warm-up adds one compaction (``compact_changed=True``) of re-crawled
    documents with new content, for the per-layer compaction metrics: at
    ~12 s on 4 cores it does not fit an untimed part of every run within
    the benchmark's time budget.  Every cycle restores the template
    from a hardlink copy, outside the timed part, so every increment meets
    the same state; runs one delta increment (``snapshot_is_delta=True``) of
    new documents; and probes the result with ``query_text_index``,
    ``hybrid_topk`` and ``query_ivf_index`` on a seeded query batch, checked
    against DuckDB's from-scratch ranking over the admitted set.
    """

    name = "index_campaign"
    latency_shapes = {"read": "probe", "write": "increment"}

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.template = os.path.join(work, "template")
        self.live = os.path.join(work, "live")
        self.problems: list[str] = []

    def setup_data(self) -> None:
        """Generate the crawl and the change sets, compute every expected
        probe result, and bootstrap the template index."""
        import pyarrow as pa

        from lwetl_spark.operators.incremental import ingest_increment

        docs, emb = fixtures.crawl(self.seed, CRAWL_DOCS)
        rng = np.random.default_rng([self.seed, 15])
        order = rng.permutation(CRAWL_DOCS)
        base = np.sort(order[: CRAWL_DOCS // 2])
        pool = order[CRAWL_DOCS // 2:]
        base_docs, base_emb = docs.take(base), emb.take(base)
        inputs = os.path.join(self.work, "inputs")
        con = oracle.connect()
        self.increments, self.batches, self.expected, self.live_bytes = [], [], [], []
        for i in range(INCREMENTS):
            rows = pool[i * DELTA_DOCS:(i + 1) * DELTA_DOCS]
            d, e = docs.take(rows), emb.take(rows)
            self.increments.append(self._write_change(inputs, f"inc{i}", d, e))
            admitted = pa.concat_tables([base_docs, d]), pa.concat_tables([base_emb, e])
            terms, qvecs = fixtures.query_batch(self.seed, i, QUERIES, QUERY_ID0)
            self.expected.append(oracle.retrieval_expected(con, *admitted, terms, qvecs, TOP_K))
            self.live_bytes.append(self._user_bytes(*admitted))
            self.batches.append((terms, qvecs))
        con.close()
        self.inc_order = rng.permutation(INCREMENTS)
        # re-crawled documents: template ids with new text and new vectors
        ids = np.sort(rng.choice(base_docs.column("doc_id").to_numpy(), DELTA_DOCS, replace=False))
        recrawl, _ = fixtures.crawl(self.seed + 1_000_003, DELTA_DOCS)
        self.recrawl = self._write_change(
            inputs, "recrawl", pa.table({"doc_id": pa.array(ids), "text": recrawl.column("text")}),
            fixtures.embeddings_for(self.seed, ids, version=1))

        _, path, n_docs, _ = self._write_change(inputs, "base", base_docs, base_emb)
        docs_df, emb_df = self._frames(path)
        p = {k: os.path.join(self.template, k) for k in INDEX_PARTS}
        out = self.tracer.call(
            "incremental.bootstrap", ingest_increment, self.spark, docs_df, p["m"], p["s"], p["x"],
            embeddings=emb_df, vector_index_path=p["v"], vector_num_centroids=CELLS)
        if out["n_admitted"] != n_docs:
            self.problems.append(f"bootstrap admitted {out['n_admitted']} of {n_docs}")

    @staticmethod
    def _user_bytes(docs, emb) -> int:
        """Bytes of user data: document text plus 4-byte vector floats."""
        text = sum(len(t.encode()) for t in docs.column("text").to_pylist())
        return text + 4 * fixtures.DIM * emb.num_rows

    def _write_change(self, inputs: str, name: str, docs, emb) -> tuple:
        """Write a crawl delivery as parquet; (name, path, docs, user bytes)."""
        import pyarrow.parquet as pq

        out = os.path.join(inputs, name)
        for part, t in (("docs", docs), ("emb", emb)):
            os.makedirs(os.path.join(out, part))
            pq.write_table(t, os.path.join(out, part, "part-00000.parquet"))
        return name, out, docs.num_rows, self._user_bytes(docs, emb)

    def _frames(self, path: str):
        read = self.spark.read
        return (read.schema("doc_id long, text string").parquet(os.path.join(path, "docs")),
                read.schema("doc_id long, embedding array<float>").parquet(os.path.join(path, "emb")))

    def n_ops_per_cycle(self) -> int:
        return 2

    def warm_up(self, traced: bool):
        if traced:
            yield self._write("compact", self.recrawl)

    def run_op(self, i: int) -> OpResult:
        cycle, step = divmod(i, 2)
        inc = int(self.inc_order[cycle % INCREMENTS])
        if step == 0:
            self.state = inc
            return self._write("increment", self.increments[inc])
        return self._probe(inc)

    def _write(self, kind: str, change: tuple) -> OpResult:
        """Restore the template (untimed), then one timed ``ingest_increment``."""
        from lwetl_spark.operators.incremental import ingest_increment

        _copy_state(self.template, self.live)
        _, path, n_docs, n_bytes = change
        docs_df, emb_df = self._frames(path)
        p = {k: os.path.join(self.live, k) for k in INDEX_PARTS}
        out, ms = _timed(self.tracer, kind, lambda: self.tracer.call(
            f"incremental.{kind}", ingest_increment, self.spark, docs_df, p["m"], p["s"], p["x"],
            embeddings=emb_df, vector_index_path=p["v"], snapshot_is_delta=True,
            compact_changed=kind == "compact"))
        got = out["n_admitted"] if kind == "increment" else out["n_compacted"]
        ok = got == n_docs and out["n_vec_indexed"] == n_docs
        files, disk = _new_files(self.live)
        return OpResult(kind, "write", ms, ok, rows_changed=n_docs, user_bytes=n_bytes,
                        files_written=files, disk_bytes_written=disk,
                        note="" if ok else f"{kind} returned {out!r}")

    def _probe(self, b: int) -> OpResult:
        from lwetl_spark.operators.retrieval import hybrid_topk, query_text_index
        from lwetl_spark.operators.similarity import query_ivf_index

        tr, spark = self.tracer, self.spark
        terms = spark.createDataFrame(self.batches[b][0], "query_id long, term string")
        vecs = spark.createDataFrame(self.batches[b][1], "query_id long, embedding array<float>")
        x, v = os.path.join(self.live, "x"), os.path.join(self.live, "v")

        def op():
            text = tr.call("retrieval.query_text_index", lambda: query_text_index(
                spark, x, terms, k=TOP_K).collect())
            hybrid = tr.call("retrieval.hybrid_topk", lambda: hybrid_topk(
                spark, x, v, terms, vecs, k=TOP_K, nprobe=CELLS).collect())
            ivf = tr.call("similarity.query_ivf_index", lambda: query_ivf_index(
                spark, v, vecs, k=TOP_K, id_col="query_id", nprobe=CELLS).collect())
            return text, hybrid, ivf

        (text, hybrid, ivf), ms = _timed(tr, "probe", op)
        want = self.expected[b]
        got = {
            "text": sorted((r.query_id, r.doc_id, r.score_ppm, r.rnk) for r in text),
            "ivf": sorted((r.id, r.neighbor_id, r.rank) for r in ivf),
            "hybrid": sorted((r.query_id, r.doc_id, r.n_lists, r.rrf_ppm, r.rnk) for r in hybrid),
        }
        bad = [name for name in ("text", "hybrid", "ivf") if got[name] != want[name]]
        return OpResult("probe", "read", ms, not bad, note=",".join(bad))

    def space(self) -> tuple[int, int]:
        """(bytes on disk, bytes of live user data) of the index state the
        last increment left."""
        return dir_bytes(self.live), self.live_bytes[self.state]


def _new_files(state: str) -> tuple[int, int]:
    """(files, bytes) under ``state`` that are not hardlinks into the
    template: what the last write added or rewrote."""
    files = size = 0
    for root, _, names in os.walk(state):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if st.st_nlink == 1:
                files += 1
                size += st.st_size
    return files, size


WORKLOADS = {w.name: w for w in (ReportSync, IndexCampaign)}
