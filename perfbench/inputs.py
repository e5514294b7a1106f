"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes plain files; the
program under test receives only those files. The same seed gives
byte-identical files, which ``test_inputs.py`` checks.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Share of payload lines in each batch file that no parser accepts.
MALFORMED_SHARE = 0.02

COUNTRIES = ("DE", "FR", "US", "BR", "IN", "JP", "CN", "ZA", "MX", "SE", "PL", "KR")
STATUSES = (200, 200, 200, 201, 204, 301, 304, 404, 500, 503)
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
EVENT_TYPES = ("view", "click", "purchase", "signup", "debug")

#: Declared record schemas of the three batch payload formats (DDL).
CSV_SCHEMA = "id BIGINT, user STRING, amount DOUBLE, country STRING, qty INT"
JSON_SCHEMA = CSV_SCHEMA
#: The maprstream reader turns every ``events`` column but ``ts`` into a
#: JSON field and adds ``ts_ms``; this is the record the stream parses.
EVENT_SCHEMA = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING, ts_ms BIGINT"
)


def _rng(seed: int, stream: str) -> random.Random:
    # one independent generator per input, so adding an input never
    # shifts the values of another
    return random.Random(f"{seed}:{stream}")


# ---------------------------------------------------------------------------
# batch payloads


def batch_records(seed: int, n: int) -> list[dict | None]:
    """``n`` payload records with distinct ids; ``None`` marks a line
    that is written malformed."""
    r = _rng(seed, "records")
    ids = r.sample(range(10 * n), n)
    out: list[dict | None] = []
    for i in ids:
        if r.random() < MALFORMED_SHARE:
            out.append(None)
            continue
        out.append(
            {
                "id": i,
                "user": f"u{r.randrange(5000):05d}",
                "amount": r.randrange(100_000) / 100,
                "country": r.choice(COUNTRIES),
                "qty": r.randint(1, 20),
                "host": f"10.{r.randrange(256)}.{r.randrange(256)}.{r.randrange(256)}",
                "status": r.choice(STATUSES),
                "bytes": r.randrange(100, 200_000),
                "when": (
                    f"{r.randint(1, 28):02d}/{r.choice(MONTHS)}/2026:"
                    f"{r.randrange(24):02d}:{r.randrange(60):02d}:{r.randrange(60):02d} +0000"
                ),
            }
        )
    return out


def render_line(fmt: str, rec: dict | None, i: int) -> str:
    """One payload line of ``fmt`` for a record (``None`` = malformed)."""
    if rec is None:
        return {
            "csv": f"#corrupt-{i:08x}",
            "json": f'{{"id": {i}, "user": "trunc',
            "clf": f"corrupt log line {i:08x}",
        }[fmt]
    if fmt == "csv":
        return f"{rec['id']},{rec['user']},{rec['amount']:.2f},{rec['country']},{rec['qty']}"
    if fmt == "json":
        return json.dumps({k: rec[k] for k in ("id", "user", "amount", "country", "qty")})
    if fmt == "clf":
        return (
            f"{rec['host']} - {rec['user']} [{rec['when']}] "
            f'"GET /item/{rec["id"]} HTTP/1.1" {rec["status"]} {rec["bytes"]}'
        )
    raise ValueError(f"unknown format {fmt!r}")


def write_payloads(seed: int, n: int, out_dir: str) -> dict[str, str]:
    """Write one payload file per format; returns ``{fmt: path}``."""
    os.makedirs(out_dir, exist_ok=True)
    recs = batch_records(seed, n)
    paths = {}
    for fmt in ("csv", "json", "clf"):
        path = os.path.join(out_dir, f"payload.{fmt}")
        with open(path, "w") as fh:
            fh.write("\n".join(render_line(fmt, rec, i) for i, rec in enumerate(recs)))
            fh.write("\n")
        paths[fmt] = path
    return paths


def lookup_keys(seed: int, recs: list[dict | None], n: int, hit_ids: set[int]) -> list[int]:
    """``n`` point-lookup keys, alternating hits (ids in ``hit_ids``) and
    misses (ids that were filtered out, malformed or never generated)."""
    r = _rng(seed, "lookups")
    hits = sorted(hit_ids)
    present = {rec["id"] for rec in recs if rec is not None}
    misses = sorted(present - hit_ids) + [10 * len(recs) + k for k in range(n)]
    return [r.choice(hits) if k % 2 == 0 else r.choice(misses) for k in range(n)]


# ---------------------------------------------------------------------------
# event stream (the ``events`` schema the maprstream reader expects)

_EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def event_rows(seed: int, start: int, n: int) -> dict[str, list]:
    """Content columns of events ``start .. start+n-1``. Each event's
    values depend only on ``(seed, event_id)``, so a stream can be
    extended in any chunking and stays identical."""
    cols: dict[str, list] = {"event_id": [], "user_id": [], "event_type": [], "value": [], "props": []}
    for eid in range(start, start + n):
        r = random.Random(f"{seed}:event:{eid}")
        cols["event_id"].append(eid)
        cols["user_id"].append(r.randrange(2000))
        cols["event_type"].append(r.choice(EVENT_TYPES))
        cols["value"].append(r.randrange(50_000) / 100)
        cols["props"].append(f'{{"k": {r.randrange(100)}}}')
    return cols


def events_table(cols: dict[str, list], ts_us: list[int]) -> pa.Table:
    return pa.table({**cols, "ts": pa.array(ts_us, pa.timestamp("us"))}).select(
        _EVENTS_SCHEMA.names
    ).cast(_EVENTS_SCHEMA)


def write_topic(table: pa.Table, path: str) -> None:
    """Publish a topic file: write beside it, then rename into place, so
    a reader never sees a half-written file."""
    tmp = f"{path}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def backlog_ts_us(event_ids: list[int]) -> list[int]:
    """Stamps of a pre-loaded backlog: one event per ms from 2026-01-01."""
    return [1_767_225_600_000_000 + eid * 1000 for eid in event_ids]


def due_ts_us(t0: float, rate: float, event_ids: list[int]) -> list[int]:
    """Stamps of an offered stream: event ``i`` is due at ``t0 + i / rate``."""
    return [int((t0 + eid / rate) * 1e6) for eid in event_ids]


def write_backlog(seed: int, n: int, path: str) -> None:
    """A pre-loaded topic of ``n`` events."""
    cols = event_rows(seed, 0, n)
    write_topic(events_table(cols, backlog_ts_us(cols["event_id"])), path)


# ---------------------------------------------------------------------------
# TPC-H-ish tables for the query keys (the catalog's DECLARED_SCHEMAS)

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()


def write_tables(seed: int, out_dir: str, scale: float = 0.01) -> dict[str, int]:
    """Write the ten catalog tables at ``scale`` (0.01 ≈ 60k lineitem
    rows); returns ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_docs = int(50_000 * scale)
    n_vec = int(50_000 * scale)
    n_ev = int(1_000_000 * scale)
    day = np.datetime64("1995-01-01", "us")
    us_day = 86_400_000_000

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(g.integers(int(lo * 100), int(hi * 100), n) / 100, 2)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": g.integers(0, 25, n_cust, dtype=np.int32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": g.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": g.integers(0, 25, n_supp, dtype=np.int32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        g.choice(["small", "red", "blue", "large", "green"], n_part),
                        g.choice(["ring", "widget", "bolt", "gear", "pipe"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
                "p_type": g.choice(["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"], n_part),
                "p_size": g.integers(1, 51, n_part, dtype=np.int32),
                "p_retailprice": np.round(900 + np.arange(n_part) % 1000 / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": g.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000, 500_000, n_ord),
                "o_orderdate": day + g.integers(0, 2400, n_ord) * us_day,
                "o_orderpriority": g.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": g.integers(0, n_ord, n_li, dtype=np.int64),
                "l_partkey": g.integers(0, n_part, n_li, dtype=np.int64),
                "l_suppkey": g.integers(0, n_supp, n_li, dtype=np.int64),
                "l_linenumber": g.integers(1, 8, n_li, dtype=np.int32),
                "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(900, 105_000, n_li),
                "l_discount": g.integers(0, 11, n_li) / 100,
                "l_tax": g.integers(0, 9, n_li) / 100,
                "l_returnflag": g.choice(["A", "N", "R"], n_li),
                "l_linestatus": g.choice(["F", "O"], n_li),
                "l_shipdate": day + g.integers(1, 2500, n_li) * us_day,
            }
        ),
    }

    texts = []
    for i in range(n_docs):
        if i > 10 and g.random() < 0.05:
            # near-duplicate of an earlier document, like the shipped corpus
            src = texts[int(g.integers(0, i))].split()
            src[int(g.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(g.choice(_WORDS, int(g.integers(8, 90)))))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": g.choice(["en", "en", "en", "zh", "es", "de", "fr"], n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = g.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": g.integers(0, 10, n_vec, dtype=np.int32),
        }
    )
    ev_base = np.datetime64("2024-01-01", "us")
    offs = np.sort(g.integers(0, 30 * us_day, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_base + offs,
            "user_id": g.integers(0, max(1, n_cust // 10), n_ev, dtype=np.int64),
            "event_type": g.choice(["view", "click", "purchase", "signup", "error"], n_ev),
            "value": money(0.01, 490, n_ev),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
