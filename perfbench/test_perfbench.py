"""The benchmark's own tests.

Run from the root of a source checkout::

    python3 -m pytest perfbench/test_perfbench.py -q

They pin the metric names, that census counts repeat across two traced
runs on one seed (jobs, tasks and rows written exactly, bytes to 0.5 %, see
``census.BYTE_COUNTERS``), and that the correctness checks catch a
deliberately corrupted expected result.  The census and check tests start
Spark, so they take about ten minutes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import oracle  # noqa: E402
import run  # noqa: E402
from census import BYTE_COUNTERS, EXACT_COUNTERS, Census, Tracer, _covered_ms  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, u, b, _ in run.PER_LAYER
    ]
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert "setup_s" in {m["name"] for m in bench["end_to_end"]}
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, how = run.tail(xs)
    assert value == 90.0 and how == "p90"
    assert sum(x > value for x in xs) == 10
    value, how = run.tail(xs[:5])
    assert value == 5.0 and how.startswith("max")


def test_covered_ms_unions_overlapping_jobs():
    assert _covered_ms([(0.0, 1.0), (0.5, 1.5), (3.0, 4.0)], 0.0, 5.0) == pytest.approx(2500.0)
    assert _covered_ms([(-1.0, 0.5)], 0.0, 5.0) == pytest.approx(500.0)


def test_self_time_subtracts_children():
    tr = Tracer()
    from census import Span

    tr.spans = [Span("op.report", 0, 0.0, 1.0), Span("formatter.text", 0, 0.1, 0.4, parent=0)]
    assert tr.self_ms() == pytest.approx({"op.report": 700.0, "formatter.text": 300.0})


class _SlowStore:
    """A status store whose census read takes 50 ms."""

    def mark(self):
        return 0, 0

    def census(self, start, t0, t1):
        time.sleep(0.05)
        return Census()


def test_census_reads_are_not_span_time():
    tr = Tracer(_SlowStore())
    tr.call("op.report", lambda: tr.call("formatter.text", lambda: tr.call("formatter.xml", int)))
    op, text, xml = tr.spans
    assert op.census_ms == pytest.approx(100.0, abs=40.0)  # its two nested reads
    assert text.census_ms == pytest.approx(50.0, abs=20.0)
    assert op.read_ms == pytest.approx(50.0, abs=20.0)
    assert op.ms < 30.0 and text.ms < 30.0


def test_parsers_round_trip_report_formats():
    rows = [("A", "12", "3.5"), ("N", "7", "")]
    text = "l_returnflag n x\n" + "\n".join(" ".join(r).rstrip() for r in rows[:1]) + "\n"
    assert oracle.parse_text_table(text) == [rows[0]]
    xml = "<table>\n  <row><a>A</a><b>12</b><c>3.5</c></row>\n  <row><a>N</a><b>7</b><c></c></row>\n</table>\n"
    assert oracle.parse_xml_rows(xml) == rows
    sql = ["INSERT INTO t (a, b, c) VALUES ('A', 12, 3.5);", "INSERT INTO t (a, b, c) VALUES ('N''s', 7, NULL);"]
    assert oracle.parse_sql_inserts(sql) == [("A", "12", "3.5"), ("N's", "7", "")]


def test_table_hash_ignores_order_and_catches_one_changed_value():
    con = oracle.connect()
    con.execute("CREATE TABLE a AS SELECT * FROM (VALUES (1, 'x', 2.5), (2, 'y', 3.5)) t(k, s, v)")
    con.execute("CREATE TABLE b AS SELECT * FROM (VALUES (2, 'y', 3.5), (1, 'x', 2.5)) t(k, s, v)")
    con.execute("CREATE TABLE c AS SELECT * FROM (VALUES (2, 'y', 3.5), (1, 'x', 2.51)) t(k, s, v)")
    assert oracle.table_hash(con, "a") == oracle.table_hash(con, "b")
    assert oracle.table_hash(con, "a") != oracle.table_hash(con, "c")


# -- with Spark ----------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    s = run.start_spark(work, 2)
    yield s
    run.stop_spark(s)


def _cycle(w, c: int) -> list:
    n = w.n_ops_per_cycle()
    return [w.run_op(i) for i in range(c * n, (c + 1) * n)]


def test_report_sync_checks_catch_corrupted_expected_results(spark, tmp_path):
    w = run.WORKLOADS["report_sync"](spark, str(tmp_path), 11, Tracer())
    w.setup_data()
    first = _cycle(w, 0)
    assert all(r.ok for r in first), [r.note for r in first if not r.ok]
    for want in w.sql.expected:  # one report statement's last value, off by one
        rows = want[0]
        want[0] = [rows[0][:-1] + (str(int(rows[0][-1]) + 1),)] + rows[1:]
    assert not all(r.ok for r in _cycle(w, 1) if r.shape == "report")
    w.db.model.execute("UPDATE orders SET o_totalprice = o_totalprice + 0.01"
                       " WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)")
    assert not all(r.ok for r in _cycle(w, 2) if r.shape == "sync")


def test_index_campaign_checks_catch_corrupted_expected_results(spark, tmp_path):
    w = run.WORKLOADS["index_campaign"](spark, str(tmp_path), 11, Tracer())
    w.setup_data()
    first = list(w.warm_up(traced=True)) + _cycle(w, 0)
    assert all(r.ok for r in first), [r.note for r in first if not r.ok]
    for want in w.expected:  # the top hit of one query, scored one higher
        q, doc, score, rnk = want["text"][0]
        want["text"][0] = (q, doc, score + 1, rnk)
    later = _cycle(w, 1)
    assert [r.ok for r in later] == [True, False]
    assert later[1].note == "text"


def _traced_run(name: str, seed: int) -> list[dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"], p.stdout
    path = re.search(r"^# trace written to (.+)$", p.stdout, re.M).group(1)
    with open(path) as f:
        spans = json.load(f)
    os.remove(path)
    return spans


@pytest.mark.parametrize("name", sorted(run.WORKLOADS))
def test_census_counts_repeat_exactly_on_one_seed(name):
    a, b = _traced_run(name, 5), _traced_run(name, 5)
    ca = [(s["op"], s["name"], s["census"]) for s in a if "census" in s]
    cb = [(s["op"], s["name"], s["census"]) for s in b if "census" in s]
    assert ca and [x[:2] for x in ca] == [x[:2] for x in cb]
    for (op, span, x), (_, _, y) in zip(ca, cb):
        assert {k: x[k] for k in EXACT_COUNTERS} == {k: y[k] for k in EXACT_COUNTERS}, (op, span)
        for k in BYTE_COUNTERS:
            assert x[k] == pytest.approx(y[k], rel=5e-3, abs=64), (op, span, k)
    assert sum(x["jobs"] for _, span, x in ca if span.startswith("op.")) > 0
    assert set(vars(Census())) >= set(EXACT_COUNTERS + BYTE_COUNTERS)


def test_runs_fail_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    os.symlink(HERE, tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "report_sync", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
