"""Output checks, computed independently of the program in plain Python
(and DuckDB for the query oracle).

Document tables are read with pyarrow, never through the program's own
reader, and compared as a multiset of ``(_id, doc)`` where ``doc`` is
the parsed JSON object with its field order kept.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections import Counter

import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# batch pipelines: the transforms each format's pipeline declares, and
# the same transforms replayed in Python for the expectation

PIPELINES = {
    "csv": {
        "filters": ["amount >= 10.0"],
        "select": ["id", "user", "amount", "lower(country) AS country", "qty * 3 AS qty"],
        "sink_schema": "id BIGINT, user STRING, amount DOUBLE, country STRING, qty INT",
    },
    "json": {
        "filters": ["qty > 1"],
        "select": ["id", "upper(user) AS user", "amount", "country", "qty"],
        "sink_schema": "id BIGINT, user STRING, amount DOUBLE, country STRING, qty INT",
    },
    "clf": {
        "filters": ["try_cast(status AS INT) < 500"],
        "select": [
            "try_cast(regexp_extract(request, '^GET /item/([0-9]+) ', 1) AS BIGINT) AS id",
            "host",
            "authuser AS user",
            "try_cast(status AS INT) AS status",
            "try_cast(bytes AS BIGINT) AS bytes",
        ],
        "sink_schema": "id BIGINT, host STRING, user STRING, status INT, bytes BIGINT",
    },
}


def expected_records(fmt: str, recs: list[dict | None]) -> list[dict]:
    """The records ``fmt``'s pipeline should write, in sink-schema order."""
    out = []
    for r in recs:
        if r is None:
            continue
        if fmt == "csv" and r["amount"] >= 10.0:
            out.append({"id": r["id"], "user": r["user"], "amount": r["amount"],
                        "country": r["country"].lower(), "qty": r["qty"] * 3})
        elif fmt == "json" and r["qty"] > 1:
            out.append({"id": r["id"], "user": r["user"].upper(), "amount": r["amount"],
                        "country": r["country"], "qty": r["qty"]})
        elif fmt == "clf" and r["status"] < 500:
            out.append({"id": r["id"], "host": r["host"], "user": r["user"],
                        "status": r["status"], "bytes": r["bytes"]})
    return out


def doc_multiset(records: list[dict], key: str) -> Counter:
    return Counter((str(r[key]), tuple(r.items())) for r in records)


def read_doc_table(path: str) -> Counter:
    """``(_id, doc fields)`` multiset of a written document table. Documents
    are flat records; a nested object would make the entry unhashable and
    fail the check loudly."""
    t = pq.read_table(path, columns=["_id", "doc"])
    return Counter(
        (i, tuple(json.loads(d).items()))
        for i, d in zip(t.column("_id").to_pylist(), t.column("doc").to_pylist())
    )


def diff_count(got: Counter, want: Counter) -> int:
    """Documents missing plus documents unexpected (0 = exact match)."""
    if got == want:
        return 0
    return sum(((got - want) + (want - got)).values())


# ---------------------------------------------------------------------------
# stream: every consumed event written exactly once

STREAM_PIPELINE = {
    "filters": ["event_type <> 'debug'"],
    "sink_schema": "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, ts_ms BIGINT",
}


def expected_events(cols: dict[str, list], ts_us: list[int]) -> list[dict]:
    return [
        {"event_id": e, "user_id": u, "event_type": t, "value": v, "ts_ms": ts // 1000}
        for e, u, t, v, ts in zip(cols["event_id"], cols["user_id"], cols["event_type"],
                                  cols["value"], ts_us)
        if t != "debug"
    ]


def consumed_ids(end_pos: list[int]) -> list[int]:
    """Global row ids behind per-partition end offsets (the maprstream
    reader deals rows round-robin: partition p owns rows p, p+n, ...)."""
    n = len(end_pos)
    return [p + i * n for p, end in enumerate(end_pos) for i in range(end)]


# ---------------------------------------------------------------------------
# query mix: DuckDB oracle, compared after the same canonicalization the
# repo's oracle harness applies (columns by name, rows sorted, floats
# rounded to 9 places, int and float kept distinct)

ROUND_DP = 9


def _canon(v):
    import numpy as np

    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else ("f", round(v, ROUND_DP))
    if v is not None and str(v) == "NaT":
        return None
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, np.ndarray):
        return _canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def canonical_rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(x) for x in r) for r in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return rows


def rows_hash(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def oracle_rows(sql: str, sf_dir: str, tables: tuple[str, ...]) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return canonical_rows(con.execute(sql).fetchdf())
    finally:
        con.close()
