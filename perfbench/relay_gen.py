"""Open-loop load generator for the ``ksim_relay`` workload.

One process, one thread. Every tick it calls ``kinesis_sim.put_records``
with the records due at that tick, whether or not the consumer keeps up.
Each record's data carries its generation index, key and due time; the
generator records when each put started and ended, so lateness is measured
from the due time, not from when the put happened to run.

Usage: python3 perfbench/relay_gen.py --dir STREAM --out RESULT.json
           --rate 2000 --seconds 10 --seed 1 --t0 EPOCH_S
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

N_KEYS = 64
SHARDS = 4
TICK_S = 0.05
PAYLOAD_CHARS = 160


def key_weights(rng: random.Random) -> list[float]:
    """Uneven key popularity: Zipf(1.1) over a seeded permutation."""
    ranks = list(range(1, N_KEYS + 1))
    rng.shuffle(ranks)
    return [1.0 / r**1.1 for r in ranks]


def record(i: int, key: str, due: float) -> tuple[str, str]:
    """(data, partition_key); data is JSON padded to PAYLOAD_CHARS."""
    head = json.dumps({"i": i, "k": key, "due": round(due, 6)})
    return head + " " * (PAYLOAD_CHARS - len(head)), key


def schedule(rate: int, seconds: float, seed: int, t0: float):
    """Ticks of the run: (due time, records due then)."""
    rng = random.Random(seed)
    weights = key_weights(rng)
    keys = [f"k{j:03d}" for j in range(N_KEYS)]
    per_tick = max(1, round(rate * TICK_S))
    i = 0
    for tick in range(int(round(seconds / TICK_S))):
        due = t0 + tick * TICK_S
        batch = []
        for key in rng.choices(keys, weights, k=per_tick):
            batch.append(record(i, key, due))
            i += 1
        yield due, batch


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from lagom_kinesis_spark.sources.kinesis_sim import put_records

    puts = []
    for due, batch in schedule(args.rate, args.seconds, args.seed, args.t0):
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        start = time.time()
        put_records(args.dir, batch, SHARDS)
        puts.append((due, start, time.time(), len(batch)))
    with open(args.out, "w") as f:
        json.dump({"puts": puts}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
