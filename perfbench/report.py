"""Turns a run's raw report (written by the JVM side) into the benchmark's
metrics, and a traced run's records into spans.

End-to-end metrics come from an untraced run; per-layer metrics and the
span tree from a traced run. Spans nest run > workload > op > spark.job >
spark.stage; a span's self time is its duration minus the part of it
that its children cover.

    python3 perfbench/report.py <span file>

prints every layer metric of a traced run from its span file.
"""
import math
import statistics

# op kinds that run on a maintenance cadence rather than every cycle;
# they count as ops but not towards a cycle's time
PERIODIC = {"VectorStore.compact"}


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). With the samples sorted, the value at
    0-based index i has n - 1 - i samples above it, so the highest
    qualifying index is n - 11 and its nearest-rank percentile is
    100 * (n - 10) / n. Fewer than 11 samples support no such percentile;
    the median is returned and labelled p50.
    """
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return median(s), 50.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(start, end, children):
    """A span's duration minus the part its children's intervals cover."""
    return (end - start) - union_ms(children, start, end)


def latency(op):
    return op["end_ms"] - op["start_ms"]


def by(items, key):
    out = {}
    for it in items:
        out.setdefault(key(it), []).append(it)
    return out


def kind_medians(ops, value):
    """Per op kind: the median of value(op)."""
    return {k: median([value(o) for o in group])
            for k, group in by(ops, lambda o: o["kind"]).items()}


def cycle_total(medians):
    """One cycle of the op mix, from per-kind medians: each kind occurs once
    per cycle, except periodic maintenance, which is left out."""
    return sum(v for k, v in medians.items() if k not in PERIODIC)


def measured_ops(ops):
    return [o for o in ops if o["phase"] == "measure"]


def cycle_ms(raw):
    """A run's cycle time: the sum of its measured per-kind median
    latencies, periodic maintenance left out."""
    return cycle_total(kind_medians(measured_ops(raw["ops"]), latency))


def end_to_end(raw):
    """The end-to-end metrics of an untraced run, plus detail lines.

    Route n's metric is the sum of the median latencies of the op kinds
    the workload lists as its n-th route (one kind, or for pipeline a
    family of queries), so each route is gated on its own. The tail,
    over every measured op, is a detail line: only serve_read measures
    enough ops of like cost for it to be a high percentile."""
    measured = measured_ops(raw["ops"])
    p50 = kind_medians(measured, latency)
    t, pct, n = tail([latency(o) for o in measured])
    s = raw["samples"]
    metrics = {"setup_s": (median(s["setup_s"]), "s")}
    for i, route in enumerate(raw["extra"]["routes"], 1):
        metrics[f"route{i}_ms"] = (sum(p50[k] for k in route), "ms")
    metrics.update({
        "ann_recall": (statistics.fmean(s["recall"]), "ratio"),
        "space_amp": (median(s["space_amp"]), "ratio"),
    })
    counts = by(measured, lambda o: o["kind"])
    detail = [f"route{i} = {' + '.join(r)}" for i, r in enumerate(raw["extra"]["routes"], 1)]
    detail += [f"tail_ms {t:.3f} (p{pct:.1f} of {n} ops)",
               f"cycle_ms {cycle_total(p50):.3f}",
               f"host.calib_ms {median(s['calib_ms']):.3f}"]
    detail += [f"{k}.p50_ms {v:.3f} (n={len(counts[k])})" for k, v in sorted(p50.items())]
    return metrics, detail


# per stage, summed over its tasks; shuffle_bytes are the bytes written
COUNTERS = ["tasks", "task_busy_ms", "task_wait_ms", "task_gc_ms", "input_records",
            "input_bytes", "output_bytes", "shuffle_bytes", "shuffle_read_bytes",
            "spill_bytes"]


def attribute(raw):
    """Per op id: its jobs; per job id: its stages. A job belongs to the op whose job group
    it carries; a job with a foreign group (a streaming query's own
    threads) belongs to the op running when it started — there is one
    client thread, so at most one op is in flight."""
    ops = raw["ops"]
    jobs_of = {o["id"]: [] for o in ops}
    for j in raw["jobs"]:
        parts = j["group"].split(":")
        if parts[0] == "perfbench" and len(parts) > 2 and int(parts[1]) in jobs_of:
            jobs_of[int(parts[1])].append(j)
            continue
        for o in ops:
            if o["start_ms"] - 1 <= j["start_ms"] <= o["end_ms"] + 1:
                jobs_of[o["id"]].append(j)
                break
    stages_of_job = by(raw["stages"], lambda s: s["job"])
    return jobs_of, stages_of_job


def trace(raw, untraced_cycle_ms):
    """A traced run as a span document: run > workload > op > spark.job >
    spark.stage, with times in ms from the run's start. Each span carries
    its self time; op and stage spans carry the Spark counters (an op's
    summed over its jobs' stages). `untraced_cycle_ms` is the cycle time
    of an untraced run of the same seed, kept for the tracing overhead."""
    jobs_of, stages_of_job = attribute(raw)
    t0 = raw["extra"]["run_ms"][0]

    def span(sid, parent, name, a, b, children, **attrs):
        return {"id": sid, "parent": parent, "name": name,
                "start_ms": round(a - t0, 3), "end_ms": round(b - t0, 3),
                "self_ms": round(self_ms(a, b, children), 3), **attrs}

    ops = raw["ops"]
    run_a, run_b = raw["extra"]["run_ms"]
    wl_a, wl_b = raw["extra"]["workload_ms"]
    out = [span("run", None, "run", run_a, run_b, [(wl_a, wl_b)]),
           span("workload", "run", raw["workload"], wl_a, wl_b,
                [(o["start_ms"], o["end_ms"]) for o in ops])]
    for o in ops:
        jobs = [j for j in jobs_of[o["id"]] if j["end_ms"] >= 0]
        stages = [s for j in jobs for s in stages_of_job.get(j["id"], [])]
        out.append(span(f"op{o['id']}", "workload", o["kind"], o["start_ms"], o["end_ms"],
                        [(j["start_ms"], j["end_ms"]) for j in jobs],
                        phase=o["phase"], cycle=o["cycle"], ok=o["ok"],
                        jobs=len(jobs), stages=len(stages),
                        job_ms=round(union_ms([(j["start_ms"], j["end_ms"]) for j in jobs],
                                              o["start_ms"], o["end_ms"]), 3),
                        **{c: sum(st[c] for st in stages) for c in COUNTERS}))
        for j in jobs:
            done = [s for s in stages_of_job.get(j["id"], []) if s["end_ms"] >= 0]
            out.append(span(f"job{j['id']}", f"op{o['id']}", "spark.job",
                            j["start_ms"], j["end_ms"],
                            [(s["submit_ms"], s["end_ms"]) for s in done]))
            out += [span(f"stage{s['id']}.{s['attempt']}", f"job{j['id']}", "spark.stage",
                         s["submit_ms"], s["end_ms"], [], **{c: s[c] for c in COUNTERS})
                    for s in done]
    return {"workload": raw["workload"], "seed": raw["seed"], "probes": raw["probes"],
            "routes": raw["extra"]["routes"],
            "facts": {k: raw["extra"][k] for k in ("live_rows", "batch_user_bytes")
                      if k in raw["extra"]},
            "samples": raw["samples"], "untraced_cycle_ms": untraced_cycle_ms, "spans": out}


def op_spans(doc):
    for s in doc["spans"]:
        if s["parent"] == "workload":
            yield dict(s, kind=s["name"], wall_ms=s["end_ms"] - s["start_ms"],
                       driver_self_ms=s["self_ms"])


# per-layer metrics: (name, unit, op span field summed over a cycle)
LAYER = [
    ("cycle.wall_ms", "ms", "wall_ms"),
    ("op.driver_self_ms", "ms", "driver_self_ms"),
    ("spark.job_ms", "ms", "job_ms"),
    ("spark.jobs", "count", "jobs"),
    ("spark.stages", "count", "stages"),
    ("spark.tasks", "count", "tasks"),
    ("task.busy_ms", "ms", "task_busy_ms"),
    ("task.wait_ms", "ms", "task_wait_ms"),
    ("io.input_records", "count", "input_records"),
    ("io.input_bytes", "bytes", "input_bytes"),
    ("io.output_bytes", "bytes", "output_bytes"),
    ("shuffle.write_bytes", "bytes", "shuffle_bytes"),
    ("shuffle.read_bytes", "bytes", "shuffle_read_bytes"),
    ("spill.bytes", "bytes", "spill_bytes"),
]
# per route: (op span field, unit), the route's kinds' medians summed
ROUTE_LAYER = [("wall_ms", "ms"), ("driver_self_ms", "ms"), ("job_ms", "ms"),
               ("jobs", "count"), ("tasks", "count"), ("task_busy_ms", "ms"),
               ("task_wait_ms", "ms"), ("input_records", "count")]
SETUP_LAYER = [
    ("setup.wall_ms", "ms", "wall_ms"),
    ("setup.driver_self_ms", "ms", "driver_self_ms"),
    ("setup.jobs", "count", "jobs"),
    ("setup.task_busy_ms", "ms", "task_busy_ms"),
]


def per_layer(doc):
    """The per-layer metrics of a traced run: for the measured cycles, each
    field's per-kind medians summed over one cycle of the op mix, and over
    each route's kinds (routeN.<field> splits routeN_ms by layer); for
    set-up, the median over its repetitions; the tracing overhead compares
    the traced cycle time with the untraced run's."""
    ops = list(op_spans(doc))
    measured = measured_ops(ops)

    def per_cycle(key):
        return cycle_total(kind_medians(measured, lambda o: o[key]))

    metrics = {name: (per_cycle(key), unit) for name, unit, key in LAYER}
    for key, unit in ROUTE_LAYER:
        med = kind_medians(measured, lambda o: o[key])
        for i, route in enumerate(doc["routes"], 1):
            metrics[f"route{i}.{key}"] = (sum(med[k] for k in route), unit)
    setups = by([o for o in ops if o["phase"] == "setup"], lambda o: o["cycle"])
    for name, unit, key in SETUP_LAYER:
        metrics[name] = (median([sum(o[key] for o in c) for c in setups.values()]), unit)
    metrics["host.calib_ms"] = (median(doc["samples"]["calib_ms"]), "ms")
    metrics["trace.overhead_pct"] = (
        100.0 * (per_cycle("wall_ms") / doc["untraced_cycle_ms"] - 1.0), "%")
    return metrics


def summary(doc):
    """Every layer metric of a traced run, one per line: per op kind the
    median of each op span field (<kind>.<field>, driver_self_ms being the
    op's self time), derived ratios, the direct layer probes, and the
    total self time of each span layer. Kinds the cycles run are taken
    from measured ops only; kinds only set-up runs (the index builds)
    from set-up ops; warm-up, probe and final ops are left out."""
    facts = doc["facts"]
    lines = []
    ops = list(op_spans(doc))
    kinds = by(measured_ops(ops), lambda o: o["kind"])
    for kind, group in by([o for o in ops if o["phase"] == "setup"],
                          lambda o: o["kind"]).items():
        kinds.setdefault(kind, group)
    for kind, group in sorted(kinds.items()):
        for key in ["wall_ms", "driver_self_ms", "job_ms", "jobs", "stages"] + COUNTERS:
            lines.append(f"{kind}.{key} {median([o[key] for o in group]):.3f}")
        if "live_rows" in facts and kind in ("VectorStore.search_ivf", "VectorStore.search_hnsw"):
            frac = median([o["input_records"] for o in group]) / facts["live_rows"]
            lines.append(f"{kind}.scan_fraction {frac:.4f}")
        if kind == "VectorStore.ingest" and "batch_user_bytes" in facts \
                and group[0]["phase"] == "measure":
            per_byte = median([o["output_bytes"] for o in group]) / facts["batch_user_bytes"]
            lines.append(f"DeltaLog.bytes_written_per_user_byte {per_byte:.3f}")
    lines += [f"{k} {v:.3f}" for k, v in doc["probes"].items()]
    totals = {}
    for s in doc["spans"]:
        layer = {"workload": "op", "run": "workload", None: "run"}.get(s["parent"], s["name"])
        totals[layer] = totals.get(layer, 0.0) + s["self_ms"]
    lines += [f"self_ms.{k} {v:.1f}" for k, v in totals.items()]
    return lines


if __name__ == "__main__":
    # python3 perfbench/report.py <span file>: print a traced run's layer metrics
    import json
    import sys
    with open(sys.argv[1]) as f:
        d = json.load(f)
    for line in summary(d):
        print(line)
    for name, (value, unit) in per_layer(d).items():
        print(f"{name} {value:.3f} {unit}")
