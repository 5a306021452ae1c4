#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 18 --trace 0

Workloads (see perfbench/NOTES.md): serve_read, write_mix, pipeline. The
engine and the benchmark are built from source on first use. With
--trace 0 the last stdout line holds the end-to-end metrics; with --trace
1 the workload runs twice, untraced and then traced, the last line holds
the traced run's per-layer metrics, the lines before it name every layer
metric of the run, and the span tree is written under
.bench_build/perfbench/traces/. Every output is checked; a failed op or
check counts in "failed" and makes "correct" false.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ["serve_read", "write_mix", "pipeline"]
# every engine run of one invocation ends within this many seconds of the
# build
RUN_TIMEOUT_S = 165
# pipeline result digests, pinned by pin.py from an oracle-checked run
DIGESTS = os.path.join(HERE, "pipeline_digests.txt")

# the module opens Spark needs on JDK 17 outside spark-submit (the same
# list the repository's build.sbt passes)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def driver_heap():
    """As the repository's test command sizes it: half the machine's memory,
    between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def check_oracle(raw):
    """In a pinning run, compares each pipeline query's warm-up result with
    the engine's DuckDB oracle SQL over the same tables; marks mismatches
    failed."""
    spec = raw["extra"].get("oracle")
    if not spec:
        return
    sys.path.insert(0, os.path.join(build.ROOT, "tools"))
    import duckdb
    from compare_oracle import frame
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{spec['data']}/{t}.parquet/*.parquet'")
    ops = {o["id"]: o for o in raw["ops"]}
    for q in spec["queries"]:
        try:
            got = frame(con, f"SELECT * FROM '{spec['results']}/{q['name']}/*.parquet'")
            want = frame(con, q["sql"])
            ok = got == want
        except duckdb.Error as e:
            print(f"perfbench: oracle for {q['name']} failed: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {q['name']} does not match its oracle", file=sys.stderr)
            ops[q["op"]]["ok"] = False


def run_engine(workload, seed, seconds, trace, digests, deadline=None):
    """Runs the workload in a fresh JVM and returns its raw report.
    `digests` is the pinned pipeline digest file, or None to pin; the run
    is stopped at `deadline` (time.monotonic()), by default
    RUN_TIMEOUT_S after the build."""
    classpath = build.build()
    if deadline is None:
        deadline = time.monotonic() + RUN_TIMEOUT_S
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build.OUT, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    props = [f"-Dperfbench.digests={digests}"] if digests else []
    cmd = (["java", f"-Xmx{driver_heap()}", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + props
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main", workload,
              str(seed), str(seconds), str(trace), work, str(cores)])
    proc = None
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: the run took too long")
        if code != 0:
            raise SystemExit(f"perfbench: the run failed (exit {code})")
        with open(os.path.join(work, "raw.json")) as f:
            raw = json.load(f)
        check_oracle(raw)
        return raw
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def main():
    # a terminated benchmark stops its engine run too (see run_engine)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    if a.trace:
        # the tracing overhead compares the traced run's cycle time with an
        # untraced run's on the same inputs
        untraced = run_engine(a.workload, a.seed, a.seconds, 0, DIGESTS, deadline)
        raw = run_engine(a.workload, a.seed, a.seconds, 1, DIGESTS, deadline)
        doc = report.trace(raw, report.cycle_ms(untraced))
        ops = untraced["ops"] + raw["ops"]
        metrics, detail = report.per_layer(doc), report.summary(doc)
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump(doc, f, separators=(",", ":"))
        detail.append(f"spans written to {os.path.relpath(path, build.ROOT)}")
    else:
        raw = run_engine(a.workload, a.seed, a.seconds, 0, DIGESTS, deadline)
        metrics, detail = report.end_to_end(raw)
        ops = raw["ops"]

    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    for line in detail:
        print(line)
    print(f"error_rate {failed / attempted:.6f} ({failed} of {attempted} ops)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
