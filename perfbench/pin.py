#!/usr/bin/env python3
"""Pins the pipeline workload's result digests.

    python3 perfbench/pin.py

Runs the pipeline queries once without pins, checks every result that has
an oracle against the engine's DuckDB oracle SQL, holds b10_stream_index
to the HNSW recall gate, and only if all pass writes
perfbench/pipeline_digests.txt. Benchmark runs then hold every result to
these digests. Re-pin only when a query's output is meant to change.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


def main():
    raw = run.run_engine("pipeline", 0, 1, 0, None)
    bad = [o["kind"] for o in raw["ops"] if not o["ok"]]
    if bad:
        raise SystemExit(f"pin: not pinned, failed: {sorted(set(bad))}")
    digests = raw["extra"]["digests"]
    with open(run.DIGESTS, "w") as f:
        f.writelines(f"{n} {d}\n" for n, d in sorted(digests.items()))
    print(f"pinned {len(digests)} digests, {len(raw['extra']['oracle']['queries'])} "
          f"checked against the oracle, in {os.path.relpath(run.DIGESTS)}")


if __name__ == "__main__":
    main()
