"""Open-loop load generator for the ``kinesis_tail`` workload.

One process, one thread.  It appends envelope records to the per-shard
JSONL logs that ``format("dks_kinesis")`` reads, on a fixed tick
schedule that does not slow down when the consumer does: a tick that
runs late is sent at once and the next tick keeps its own due time.
Each record's ``ts`` is the time its tick was due, so end-to-end latency
counts any stall in front of it.  Records are routed to shards by the
same MD5 ring as the package's producer.

Usage::

    python3 perfbench/generator.py --dir LOGS --seed 7 --rate 5000 --seconds 12

The last stdout line is JSON: records sent, ticks, and how late the
generator ran.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import lateness, percentile, tick_schedule  # noqa: E402

EVENT_TYPES = ("view", "purchase", "signup", "error")
EVENT_WEIGHTS = (0.4, 0.2, 0.2, 0.2)
TICK_S = 0.01


def make_records(seed: int, n: int, num_shards: int):
    """``n`` (shard, partition key, payload) triples drawn from ``seed``.

    Payloads have the ``events`` props shape plus the event type,
    ``{"k": <0..99>, "event_type": ...}``; a seed-chosen 1% of them are
    not JSON objects, which the payload filter must pass unfiltered."""
    from decisions_kinesis_spark.sources.pyds import route_md5

    rng = random.Random(seed)
    out = []
    for i in range(n):
        pk = str(rng.randrange(10_000))
        if rng.random() < 0.01:
            data = rng.choice((f"not-json-{i}", f"[{i}, 1]", f'"{i}"'))
        else:
            etype = rng.choices(EVENT_TYPES, EVENT_WEIGHTS)[0]
            data = json.dumps({"k": rng.randrange(100), "event_type": etype})
        out.append((route_md5(pk, num_shards), pk, data))
    return out


def line_prefix(pk: str, data: str) -> str:
    return '{"pk": %s, "data": %s, "ts": ' % (json.dumps(pk), json.dumps(data))


def iso_utc(t: float) -> str:
    return datetime.fromtimestamp(t, tz=timezone.utc).isoformat()


def run(log_dir: str, seed: int, rate: float, seconds: float, num_shards: int) -> dict:
    from decisions_kinesis_spark.sources.pyds import shard_file

    schedule = tick_schedule(rate, seconds, TICK_S)
    records = make_records(seed, sum(n for _, n in schedule), num_shards)
    prefixes = [(shard, line_prefix(pk, data)) for shard, pk, data in records]
    os.makedirs(log_dir, exist_ok=True)
    start = time.time() + 0.2  # first tick shortly after the records are prepared
    files = [
        open(os.path.join(log_dir, shard_file(s)), "a", encoding="utf-8")  # noqa: SIM115
        for s in range(num_shards)
    ]
    due_at, sent_at = [], []
    i = 0
    try:
        for offset, n in schedule:
            due = start + offset
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            stamp = json.dumps(iso_utc(due)) + "}\n"
            touched = set()
            for shard, prefix in prefixes[i : i + n]:
                files[shard].write(prefix + stamp)
                touched.add(shard)
            for shard in touched:
                files[shard].flush()
            i += n
            due_at.append(due)
            sent_at.append(time.time())
    finally:
        for f in files:
            f.close()
    late = lateness(due_at, sent_at)
    return {
        "sent": i,
        "ticks": len(schedule),
        "late_max_s": max(late),
        "late_p99_s": percentile(late, 99),
        "first_due": due_at[0],
        "last_due": due_at[-1],
        "last_sent": sent_at[-1],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="records per second")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--shards", type=int, default=8)
    a = ap.parse_args(argv)
    stats = run(a.dir, a.seed, a.rate, a.seconds, a.shards)
    print(json.dumps(stats), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
