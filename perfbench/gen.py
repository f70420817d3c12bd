"""Seeded input generators. The same seed gives byte-identical inputs.

Every generator writes plain files (parquet or N-Quads) into the run's work
directory, so the program only ever receives generated inputs and the DuckDB
oracles read the very same bytes.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from rdf2hk_spark import constants as C
from rdf2hk_spark.pipeline import corpus

# web pages -----------------------------------------------------------------

HUB_SHARE = 0.25  # pages whose org is O0 and whose "knows" target is P0
NOISY_SHARE = 0.02  # pages whose filler carries NBSP and U+2028
BAD_UTF8_SHARE = 0.005  # pages whose filler carries an invalid UTF-8 byte
N_SITES = 20


def pages(path: str, n: int, seed: int) -> tuple[list[tuple], dict[str, str]]:
    """Write ``n`` biography pages in the input_hint shape
    ``(url, warc_ts, html, text, lang)``. Return the relation triples each
    page states, as ``(url, s_id, predicate, o_id)``, and each url's
    ``text``.

    ``text`` is what extracting the page's html must give, byte for byte:
    the title line, then the body paragraph. The html of a page with an
    invalid UTF-8 byte decodes that byte to U+FFFD, so its ``text`` holds
    U+FFFD there.

    Names come from ``corpus.catalog``'s surface forms. A hub page points
    its org and "knows" relations at the hub entities O0 and P0, which
    skews every per-entity aggregation downstream. Noise goes into the
    filler sentence only, so it never breaks a stated relation."""
    rng = random.Random(f"pages:{seed}")
    t0 = dt.datetime(2024, 1, 1)
    cols: dict[str, list] = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    truth = []
    for i in range(n):
        pid = rng.randrange(corpus.N_PEOPLE)
        cid = rng.randrange(len(corpus.CITIES))
        hub = rng.random() < HUB_SHARE
        oid = 0 if hub else rng.randrange(len(corpus.ORGS))
        kid = 0 if hub else rng.randrange(corpus.N_PEOPLE)
        filler = rng.choice(corpus.FILLERS)
        bad = b""
        r = rng.random()
        if r < NOISY_SHARE:
            filler = filler.replace(" ", "\u00a0", 1).replace(" ", "\u2028", 1)
        if r < BAD_UTF8_SHARE:
            bad = b"\xff"
        person = corpus.person_name(pid)
        knows = corpus.person_name(kid)
        city = corpus.CITIES[cid]
        org = corpus.ORGS[oid]
        title = f"{person} Biography"
        text = (
            f"{title}\n{person} was born in {city}. {person} works for {org}."
            f" {person} knows {knows}. {bad.decode(errors='replace')}{filler}"
        )
        html = (
            f"<html><head><title>{title}</title><meta charset=\"utf-8\"></head>"
            f"<body><h1>{title}</h1><p><b>{person}</b> was born in <b>{city}</b>."
            f" <b>{person}</b> works for <b>{org}</b>. <b>{person}</b> knows"
            f" <b>{knows}</b>. "
        ).encode() + bad + f"{filler}</p></body></html>".encode()
        url = f"https://site{rng.randrange(N_SITES)}.example/page/{seed}-{i}"
        cols["url"].append(url)
        cols["warc_ts"].append(t0 + dt.timedelta(seconds=i))
        cols["html"].append(html)
        cols["text"].append(text)
        cols["lang"].append("pt" if rng.random() < 0.09 else "en")
        s = corpus.person_id(pid)
        truth += [
            (url, s, corpus.P_BORN_IN, corpus.city_id(cid)),
            (url, s, corpus.P_WORKS_FOR, corpus.org_id(oid)),
            (url, s, corpus.P_KNOWS, corpus.person_id(kid)),
        ]
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    pq.write_table(pa.table(cols, schema=schema), path)
    return truth, dict(zip(cols["url"], cols["text"]))


# documents -----------------------------------------------------------------

# documents.parquet of the program's sf0.01 test data (500 rows), the table
# its doc_* queries and oracles target
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents.parquet")


def documents(path: str, seed: int) -> int:
    """Write the test-data documents with their row order permuted by the
    seed; return the row count."""
    table = pq.read_table(DOCUMENTS)
    order = list(range(table.num_rows))
    random.Random(f"documents:{seed}").shuffle(order)
    pq.write_table(table.take(order), path)
    return table.num_rows


# TPC-H-shaped tables for the tpch_kg statement layout ------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def tpch_tables(dir_: str, n_suppliers: int, n_customers: int, seed: int) -> None:
    """Write region, nation, supplier and customer parquet files with the
    columns ``tpch_kg.quads_df`` and the ``kg_sparql_*`` oracles read."""
    rng = random.Random(f"tpch:{seed}")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(
                [i % 5 if i < 5 else rng.randrange(5) for i in range(25)], pa.int32()
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_suppliers), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_suppliers)],
            "s_nationkey": pa.array(
                [rng.randrange(25) for _ in range(n_suppliers)], pa.int32()
            ),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_customers), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
            "c_nationkey": pa.array(
                [rng.randrange(25) for _ in range(n_customers)], pa.int32()
            ),
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_customers)],
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(dir_, f"{name}.parquet"))


def nquads_line(s: str, p: str, o: str, g: str) -> str:
    """One N-Quads statement; the default graph is written as a triple, the
    way ``write_nquads`` writes it."""
    return f"{s} {p} {o} ." if g == C.HK_NULL_URI else f"{s} {p} {o} {g} ."


def write_ordered_nquads(path: str, rows) -> list[str]:
    """Write ``rows`` of ``(stmt_idx, s, p, o, g)`` as ONE N-Quads file in
    statement order and return its lines.

    One file, in order: ``read_nquads`` numbers statements by split order,
    and under ``set_node_context`` a node's context follows statement
    order, so a multi-part input moves some nodes to another graph and the
    round trip no longer returns its input."""
    lines = [nquads_line(s, p, o, g) for _, s, p, o, g in sorted(rows)]
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return lines
