"""The benchmark's input generators are deterministic in the seed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest  # noqa: E402

from checks import consumed_ids  # noqa: E402
from inputs import (  # noqa: E402
    batch_records,
    event_rows,
    lookup_keys,
    write_backlog,
    write_payloads,
    write_tables,
)


def _generate(seed: int, d: str) -> dict[str, bytes]:
    """Every generated input, by path relative to ``d``."""
    write_payloads(seed, 2_000, f"{d}/payloads")
    write_backlog(seed, 1_000, f"{d}/backlog.parquet")
    write_tables(seed, f"{d}/tables", scale=0.001)
    recs = batch_records(seed, 2_000)
    hits = {r["id"] for r in recs[:500] if r is not None}
    files = {"lookups": repr(lookup_keys(seed, recs, 50, hits)).encode()}
    for root, _dirs, names in os.walk(d):
        for name in names:
            path = os.path.join(root, name)
            with open(path, "rb") as fh:
                files[os.path.relpath(path, d)] = fh.read()
    return files


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    base = tmp_path_factory.mktemp("inputs")
    return {
        "a": _generate(7, str(base / "a")),
        "b": _generate(7, str(base / "b")),
        "c": _generate(8, str(base / "c")),
    }


def test_same_seed_gives_byte_identical_inputs(generated):
    assert generated["a"].keys() == generated["b"].keys()
    for name in generated["a"]:
        assert generated["a"][name] == generated["b"][name], name


def test_another_seed_gives_different_inputs(generated):
    # region and nation are fixed dimension tables; every other input differs
    fixed = {"tables/region.parquet", "tables/nation.parquet"}
    for name in generated["a"]:
        if name not in fixed:
            assert generated["a"][name] != generated["c"][name], name


def test_payloads_have_the_seeded_share_of_malformed_lines():
    recs = batch_records(3, 20_000)
    bad = sum(r is None for r in recs)
    assert 300 <= bad <= 500  # 2 % of 20 000
    assert len({r["id"] for r in recs if r is not None}) == len(recs) - bad


def test_event_stream_is_independent_of_chunking():
    whole = event_rows(5, 0, 300)
    parts = [event_rows(5, s, 100) for s in (0, 100, 200)]
    for col in whole:
        assert whole[col] == [v for p in parts for v in p[col]]


def test_lookup_keys_mix_hits_and_misses():
    recs = batch_records(4, 1_000)
    hits = {r["id"] for r in recs[:200] if r is not None}
    keys = lookup_keys(4, recs, 40, hits)
    assert all(k in hits for k in keys[::2])
    assert not any(k in hits for k in keys[1::2])


def test_consumed_ids_follow_the_round_robin_deal():
    assert sorted(consumed_ids([2, 2, 1, 1])) == [0, 1, 2, 3, 4, 5]
