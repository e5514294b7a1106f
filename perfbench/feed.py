"""Open-loop event generator for the ``ingest_stream`` workload.

Runs as its own process. Every ``TICK_S`` seconds it appends the events
that have fallen due to a single-file parquet topic and publishes the
whole topic as a new immutable version ``v<k>.parquet`` in ``--topic-dir``
(written beside, then renamed into place). A published version is never
rewritten: the maprstream reader stats its file and opens it again, so a
file replaced between the two reads is torn (pyarrow raises "Page was
smaller than expected"). Each run_stream call reads the newest version.

Event ``i`` is due at ``t0 + i / rate`` and carries that due time as its
``ts`` stamp, so latency measured from the stamp includes any stall of
the generator. How late each publish ran behind its schedule is written
to ``--stats``.

    python3 perfbench/feed.py --topic-dir D --seed S --rate R --t0 EPOCH --seconds N --stats F
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import due_ts_us, event_rows, events_table, write_topic  # noqa: E402

#: Publish cadence. It sets how long a due event waits to be published,
#: so it is part of the benchmark, not an option.
TICK_S = 0.2


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--topic-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--stats", required=True)
    a = ap.parse_args()

    total = int(a.rate * a.seconds)
    cols: dict[str, list] = {}
    ts_us: list[int] = []
    lags_ms: list[float] = []
    k = 0
    while len(ts_us) < total:
        k += 1
        due = a.t0 + k * TICK_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        n_due = min(total, int((time.time() - a.t0) * a.rate))
        if n_due <= len(ts_us):
            continue
        new = event_rows(a.seed, len(ts_us), n_due - len(ts_us))
        for c, v in new.items():
            cols.setdefault(c, []).extend(v)
        ts_us.extend(due_ts_us(a.t0, a.rate, new["event_id"]))
        write_topic(events_table(cols, ts_us), os.path.join(a.topic_dir, f"v{k:06d}.parquet"))
        lags_ms.append((time.time() - due) * 1000)
    with open(a.stats, "w") as fh:
        json.dump({"events": len(ts_us), "publishes": len(lags_ms), "lag_ms": lags_ms}, fh)


if __name__ == "__main__":
    main()
