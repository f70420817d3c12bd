"""The benchmark's workloads: seeded inputs, one pass of work, and the checks
on every operation a pass runs.

A pass is a fixed list of operations, each a terminal action whose result a
user would wait for. ``Op`` records its latency and whether its result
passed the check. Every library call sits inside a span named for the
layer (module) it belongs to; in a traced pass ``Tracer.boundary``
materializes the layer's output so its work is charged to that layer.

A workload's ``prepare`` writes its seeded inputs into the work dir and runs
the DuckDB oracles over them; it is pure Python, and ``run.py`` calls it in a
child process before the Spark session starts, so that none of that memory
counts towards the driver's peak RSS. The workload itself, built with what
``prepare`` returned, loads its Spark frames and runs passes.

Why two workloads and not four: one Spark pass over any of these inputs is
overhead-bound (5-15 s of plan building and small jobs on a 4-core host
whatever the input size), and a benchmark run must fit session start,
warm-up passes and timed passes into about a minute. The web→KG and corpus
dedup paths are the data-bound, skewed half; the N-Quads round trip and the
SPARQL mix are the overhead-bound, latency-shaped half.
"""

from __future__ import annotations

import glob
import os
import random
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import gen, oracle
from perfbench.queries import QUERIES
from perfbench.trace import Tracer


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool


@dataclass
class Run:
    """What a workload needs from its run: session, seed, work dir, and what
    its ``prepare`` returned."""

    spark: object
    seed: int
    work: str
    cpus: int
    tracer: Tracer
    prepared: dict
    ratios: dict[str, list[float]] = field(default_factory=dict)  # samples

    def ratio(self, name: str, value: float) -> None:
        self.ratios.setdefault(name, []).append(value)


def _timed(ops: list[Op], name: str, fn, check) -> object:
    """Run one operation: time ``fn`` and record whether ``check`` accepts
    its result. An exception counts as a failed operation."""
    t0 = time.perf_counter()
    try:
        result = fn()
    except Exception:  # a failed operation is counted, the pass goes on
        import traceback

        traceback.print_exc()
        ops.append(Op(name, time.perf_counter() - t0, False))
        return None
    dt = time.perf_counter() - t0
    ok = bool(check(result))
    if not ok:
        print(f"check failed: {name}", flush=True)
    ops.append(Op(name, dt, ok))
    return result


def _normalize(rows, columns):
    return oracle.normalize([tuple(r) for r in rows], columns)


def _collect(tr: Tracer, df) -> tuple[list, list[str]]:
    """Collect ``df`` as the operation's result, counting its rows."""
    rows = df.collect()
    tr.rows(len(rows))
    return rows, df.columns


class WebKgDedup:
    """Web pages → text → relations → quads → HK entities, plus near-dup
    detection and term statistics over a document corpus.

    Why: the data-bound, skewed half. It is the only workload that runs the
    Arrow extract UDF, the relation extractors and the corpus operators
    (LSH, exact Jaccard, duplicate clusters, TF-IDF), and its hub pages put
    real skew on parse's salted property aggregation."""

    name = "web_kg_dedup"
    PAGES = 3_000
    # untimed passes before the timed ones. After one, the next pass was
    # still 0.2-2.1 s (median 1.2 s, 13%) slower than the one after it in
    # ten runs out of ten, and whether a run fit one timed pass or two
    # decided whether that slow pass set its figures. A second warm-up
    # pass costs ~10 s here; on roundtrip_sparql it would cost ~16 s, which
    # the benchmark's run budget cannot take, so that workload keeps one.
    WARMUP_PASSES = 2
    # __spark_entry__'s doc_* queries, run with the work dir as their data
    # dir: the plans the program and its oracles define. (name, layer)
    DOC_OPS = [
        ("doc_lsh_pairs", "dedup"), ("doc_jaccard", "dedup"),
        ("doc_dup_clusters", "dedup"), ("doc_tfidf_terms", "textstats"),
    ]
    MIN_PR = 0.95  # BASELINE's relation precision/recall floor

    @classmethod
    def prepare(cls, work: str, seed: int) -> dict:
        truth, texts = gen.pages(os.path.join(work, "pages.parquet"), cls.PAGES, seed)
        return {
            "truth": truth,
            "texts": texts,
            "n_docs": gen.documents(os.path.join(work, "documents.parquet"), seed),
            "expected": oracle.expected(work, ["documents"], [n for n, _ in cls.DOC_OPS]),
        }

    def __init__(self, run: Run):
        from rdf2hk_spark.pipeline import corpus

        self.run = run
        self.truth = set(run.prepared["truth"])
        self.texts = run.prepared["texts"]
        self.expected = run.prepared["expected"]
        self.n_pages, self.n_docs = len(self.texts), run.prepared["n_docs"]
        self.items = self.n_pages + self.n_docs
        self.expected_kg = None
        self.checks_ok = False
        self.catalog = corpus.catalog(run.spark).cache()
        self.pages = (
            run.spark.read.parquet(os.path.join(run.work, "pages.parquet"))
            .repartition(max(run.cpus * 2, 8)).cache()
        )
        self.catalog.count(), self.pages.count()

    def run_pass(self, warmup: bool = False) -> list[Op]:
        import __spark_entry__ as entry
        from rdf2hk_spark.operators.parse import ParseOptions, parse_quads
        from rdf2hk_spark.pipeline import extract, relations

        r, tr, ops = self.run, self.run.tracer, []
        state = {}

        def web_kg():
            with tr.span("extract"):
                ext = extract.extract_text(self.pages).select("url", "extracted_text")
                ext = tr.boundary(ext.persist())
            with tr.span("relations"):
                rels = relations.extract_relations(ext, self.catalog)
                ments = relations.detect_mentions(ext, self.catalog)
                quads = relations.relation_quads(rels, ments, distinct=False)
                quads = tr.boundary(quads.coalesce(max(r.cpus, self.n_pages // 25_000)))
            with tr.span("parse"):
                ents = parse_quads(quads, ParseOptions(
                    create_context=True, set_node_context=True,
                    assume_distinct_statements=True, property_salt=16,
                ))
                n, h = ents.agg(
                    F.count("*"),
                    F.sum(F.pmod(F.xxhash64("id", "type", "parent"), F.lit(2**31 - 1))),
                ).first()
                tr.rows(n)
            if warmup:
                state["texts"] = dict(ext.collect())
                state["rels"] = {
                    tuple(x) for x in
                    rels.select("url", "s_id", "predicate", "o_id").collect()
                }
            ents.unpersist()
            ext.unpersist()
            return n, h

        def kg_ok(result):
            if warmup:
                self._score(state["texts"], state["rels"])
                self.expected_kg = result
            return self.checks_ok and result == self.expected_kg

        _timed(ops, "web_kg", web_kg, kg_ok)

        for name, layer in self.DOC_OPS:
            query = getattr(entry, f"q_{name}")

            def doc_op(query=query, layer=layer):
                with tr.span(layer):
                    rows, cols = _collect(tr, query(r.spark, r.work))
                if query is entry.q_doc_jaccard and rows:
                    kept = sum(1 for x in rows if 2 * x["inter"] >= x["uni"])
                    r.ratio("dedup.pair_yield", kept / len(rows))
                return rows, cols

            _timed(ops, name, doc_op, self._oracle_check(name))
        return ops

    def _score(self, texts: dict, rels: set) -> None:
        """Check the warm-up pass's extraction and relations: every url's
        extracted text must equal the generator's, byte for byte (the noisy
        and invalid-UTF-8 pages included), and relation precision and recall
        against the generator's truth must reach ``MIN_PR``."""
        wrong = sum(1 for url, text in self.texts.items() if texts.get(url) != text)
        if wrong or len(texts) != len(self.texts):
            print(f"extract: {wrong} of {len(self.texts)} pages differ from their text")
        hit = len(rels & self.truth)
        precision = hit / len(rels) if rels else 0.0
        recall = hit / len(self.truth)
        self.run.ratio("relations.precision", precision)
        self.run.ratio("relations.recall", recall)
        pr_ok = precision >= self.MIN_PR and recall >= self.MIN_PR
        if not pr_ok:
            print(f"relations below {self.MIN_PR}: P={precision:.4f} R={recall:.4f}")
        self.checks_ok = pr_ok and not wrong and len(texts) == len(self.texts)

    def _oracle_check(self, name: str):
        def check(result):
            rows, cols = result
            return _normalize(rows, cols) == self.expected[name]

        return check

    def units(self, ops: list[Op]) -> dict:
        web = sum(o.seconds for o in ops if o.name == "web_kg")
        docs = sum(o.seconds for o in ops if o.name != "web_kg")
        passes = sum(1 for o in ops if o.name == "web_kg")
        return {
            "pages_per_s": self.n_pages * passes / web if web else None,
            "docs_per_s": self.n_docs * passes / docs if docs else None,
        }


class RoundtripSparql:
    """One ordered N-Quads file → HK entities → N-Quads, loaded back and
    queried with a SPARQL mix.

    Why: the overhead-bound, latency-shaped half. It runs ``parse`` in the
    opposite regime from web pages (many named graphs, References, no
    skew), it is the only workload that serializes and writes, and its
    queries are compile-dominated requests whose closure query sets the
    tail. One closed-loop client sends each query after the previous one
    returns."""

    name = "roundtrip_sparql"
    WARMUP_PASSES = 1
    SUPPLIERS = 100
    CUSTOMERS = 1_500
    TABLES = ["region", "nation", "supplier", "customer"]
    # A fixed subset of the 19 kg_sparql_* texts, one per compiler feature
    # family, all over the round-tripped tpch-layout quads: every pass runs
    # all of them, in a seeded order, so the latency percentiles never
    # depend on which queries a run happened to draw.
    MIX = [
        "kg_sparql_select", "kg_sparql_exists", "kg_sparql_minus",
        "kg_sparql_agg", "kg_sparql_path_agg",
    ]
    # each query runs six times per timed pass, for more latency samples;
    # the warm-up pass runs (and checks) each once
    ROUNDS = 6

    @classmethod
    def prepare(cls, work: str, seed: int) -> dict:
        from rdf2hk_spark.sources import tpch_kg

        gen.tpch_tables(work, cls.SUPPLIERS, cls.CUSTOMERS, seed)
        rows = oracle.rows(
            work, cls.TABLES, f"WITH {tpch_kg.QUADS_CTE} SELECT stmt_idx, s, p, o, g FROM quads"
        )
        return {
            "lines": gen.write_ordered_nquads(os.path.join(work, "input.nq"), rows),
            "expected": oracle.expected(work, cls.TABLES, cls.MIX),
        }

    def __init__(self, run: Run):
        self.run = run
        self.in_path = os.path.join(run.work, "input.nq")
        self.lines = Counter(run.prepared["lines"])
        self.items = sum(self.lines.values())
        self.expected = run.prepared["expected"]
        self.passes = 0

    def run_pass(self, warmup: bool = False) -> list[Op]:
        from rdf2hk_spark import constants as C
        from rdf2hk_spark.operators.parse import ParseOptions, parse_quads
        from rdf2hk_spark.operators.serialize import SerializeOptions, serialize_entities
        from rdf2hk_spark.plans.sparql import parse_sparql, run_sparql
        from rdf2hk_spark.sources import nquads

        r, tr, ops = self.run, self.run.tracer, []
        spark = r.spark
        out_path = os.path.join(r.work, f"output-{self.passes}.nq")
        self.passes += 1
        loaded = {}

        def roundtrip():
            with tr.span("nquads"):
                quads = tr.boundary(nquads.read_nquads(spark, self.in_path))
            with tr.span("parse"):
                ents = tr.boundary(parse_quads(
                    quads, ParseOptions(create_context=True, set_node_context=True)
                ))
            with tr.span("serialize"):
                rdf = tr.boundary(serialize_entities(
                    ents, SerializeOptions(default_graph=C.HK_NULL_URI)
                ))
            with tr.span("nquads"):
                nquads.write_nquads(rdf, out_path)
                back = nquads.read_nquads(spark, out_path).persist()
                n = back.count()
                tr.rows(n)
            ents.unpersist()
            loaded["tpch"] = back
            return n

        def same_quads(n):
            got = Counter()
            for part in glob.glob(os.path.join(out_path, "part-*")):
                with open(part, encoding="utf-8") as f:
                    got.update(line.rstrip("\n") for line in f)
            return got == self.lines and n == self.items

        _timed(ops, "roundtrip", roundtrip, same_quads)
        order = list(self.MIX) * (1 if warmup else self.ROUNDS)
        random.Random(f"mix:{r.seed}:{self.passes}").shuffle(order)
        for name in order:
            text = QUERIES[name]

            def query(text=text):
                with tr.span("sparql"):
                    if tr.enabled:
                        t0 = time.perf_counter()
                        parse_sparql(text)
                        r.ratio("sparql.parse_ms", (time.perf_counter() - t0) * 1e3)
                    return _collect(tr, run_sparql(loaded["tpch"], text))

            _timed(ops, name, query,
                   lambda res, name=name: _normalize(*res) == self.expected[name])
        if "tpch" in loaded:
            loaded["tpch"].unpersist()
        return ops

    def units(self, ops: list[Op]) -> dict:
        rt = [o.seconds for o in ops if o.name == "roundtrip"]
        q = sorted(o.seconds for o in ops if o.name != "roundtrip")
        out = {"quads_per_s": self.items * len(rt) / sum(rt) if rt else None}
        if q:
            out["queries_per_s"] = len(q) / sum(q)
            out["query_p50_ms"] = percentile(q, 50) * 1e3
            out["query_p90_ms"] = percentile(q, 90) * 1e3
        return out


def percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    k = max(0, min(len(sorted_vals) - 1, -(-len(sorted_vals) * p // 100) - 1))
    return sorted_vals[int(k)]


WORKLOADS = {w.name: w for w in (WebKgDedup, RoundtripSparql)}
