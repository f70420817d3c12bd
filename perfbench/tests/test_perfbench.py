"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload end to end at the benchmark's own input
sizes with ``--seconds 0`` (the warm-up passes and one timed pass), once
untraced and once traced, and check the result line against
BENCHMARK.json. They start a Spark session per run and take several
minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402
from perfbench.queries import QUERIES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)


def _run(workload: str, traced: int, tmp_path) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "0",
         "--trace", str(traced)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("traced", [0, 1])
def test_smoke(workload, traced, tmp_path):
    res = _run(workload, traced, tmp_path)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if traced else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    if not traced:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_event_log_fold_charges_shuffle_to_layer(tmp_path):
    """A tiny shuffle job under a layer span shows up as that layer's jobs,
    tasks and shuffle bytes; work outside any layer is charged to none."""
    from rdf2hk_spark.session import get_spark

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(app="perfbench-eventlog-test", cpus=2, extra={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    tracer = trace.Tracer(run_id="t", enabled=True, spark=spark)
    try:
        spark.range(100).count()
        with tracer.span("pass"):
            with tracer.span("dedup"):
                df = spark.range(20_000).selectExpr("id % 97 AS k", "id AS v")
                rows = df.groupBy("k").count().collect()
                tracer.rows(len(rows))
    finally:
        spark.stop()
    log = trace.fold_event_log(str(log_dir))
    assert set(log) == {"dedup"}
    m = trace.layer_metrics(tracer.spans, log, passes=1)
    assert m["dedup.jobs"] >= 1 and m["dedup.tasks"] >= 2
    assert m["dedup.shuffle_write_mb"] > 0 and m["dedup.shuffle_read_mb"] > 0
    assert m["dedup.rows_out"] == 97
    assert 0 < m["dedup.driver_s"] <= m["dedup.busy_s"]
    assert m["parse.busy_s"] == 0 and m["parse.jobs"] == 0


def test_self_time_and_coverage():
    spans = [
        trace.Span("pass", 0.0, 10.0, None, "r"),
        trace.Span("parse", 1.0, 4.0, 0, "r"),
        trace.Span("parse", 5.0, 6.0, 0, "r"),
    ]
    assert trace.self_times(spans) == {"pass": 6.0, "parse": 4.0}
    assert trace._covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.task_skew({1: [10, 10, 40], 2: [5]}) == 4.0
    assert trace.task_skew({}) == 1.0


def test_generators_are_seeded(tmp_path):
    a = gen.pages(str(tmp_path / "a.parquet"), 50, seed=5)
    b = gen.pages(str(tmp_path / "b.parquet"), 50, seed=5)
    c = gen.pages(str(tmp_path / "c.parquet"), 50, seed=6)
    assert a == b and a != c
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()


def test_documents_are_the_test_data_permuted(tmp_path):
    import pyarrow.parquet as pq

    n = gen.documents(str(tmp_path / "a.parquet"), seed=5)
    gen.documents(str(tmp_path / "b.parquet"), seed=6)
    a, b = (pq.read_table(tmp_path / f"{x}.parquet") for x in "ab")
    src = pq.read_table(gen.DOCUMENTS)
    assert n == src.num_rows == a.num_rows
    assert a.column("doc_id").to_pylist() != b.column("doc_id").to_pylist()
    assert sorted(a.to_pylist(), key=lambda r: r["doc_id"]) == src.to_pylist()


def test_pages_text_is_the_extraction_of_their_html(tmp_path):
    """Every page's ``text`` is what the program extracts from its html,
    the pages with NBSP, U+2028 and an invalid UTF-8 byte included."""
    import pyarrow.parquet as pq

    from rdf2hk_spark.pipeline import extract

    path = tmp_path / "p.parquet"
    _, texts = gen.pages(str(path), 400, seed=3)
    table = pq.read_table(path).to_pandas()
    assert texts == dict(zip(table["url"], table["text"]))
    assert any("\ufffd" in t for t in texts.values())
    assert any("\u00a0" in t and "\u2028" in t for t in texts.values())
    # a batch with an invalid byte takes the pandas chain; one without,
    # the Arrow chain
    valid = table[~table["text"].str.contains("\ufffd")].reset_index(drop=True)
    for batch in (table, valid):
        got = extract.extract_text_udf.func(batch["html"])
        assert list(got) == list(batch["text"])


def test_query_texts_are_the_programs(monkeypatch):
    """Each text equals, up to whitespace, the one the same-named
    ``__spark_entry__`` function passes to ``run_sparql``."""
    import __spark_entry__ as entry
    from rdf2hk_spark.plans import sparql

    seen = {}
    monkeypatch.setattr(entry.tpch_kg, "quads_df", lambda spark, sf_dir: None)
    monkeypatch.setattr(sparql, "run_sparql", lambda quads, text: text)
    for name, text in QUERIES.items():
        seen[name] = getattr(entry, f"q_{name}")(None, None)
        assert text.split() == seen[name].split(), name
