"""Turn the executor's event logs into the benchmark's metrics.

End-to-end metrics come from the untraced passes: the set-up wall,
operation walls, pass walls and the executor's heap and scratch peaks.
Per-layer metrics come from the traced passes of a `--trace 1` run:
the benchmark's own spans (self time = duration minus the part its
children cover) and the Spark listener's jobs, attributed by the job
group set around each call or, for jobs started on threads that do
not inherit the group, by the operation's time window.
"""
import os
import statistics

END_TO_END = {  # name -> unit
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s",
    "heap_peak_mb": "MB", "scratch_peak_mb": "MB",
}

KERNELS = ["fuzz_ratio", "winnow_set", "sorted_inter_atleast", "srp_code_i64", "maxsim_i64"]

PER_LAYER = {
    "tables.load_s": "s", "tables.load_jobs": "count", "tables.jobs": "count",
    "tables.job_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "plan.s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.s": "s", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.task_wait_s": "s",
    "exec.cpu_util": "ratio", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    **{f"functions.{k}.rows_per_s": "rows/s" for k in KERNELS},
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.machinery_s": "s", "streaming.jobs_per_batch": "count",
    "segstore.bytes_written_per_input_byte": "ratio",
    "segstore.active_segments_max": "count", "segstore.compaction_batches": "count",
    "segstore.compaction_extra_s": "s",
    "gate.docs_per_s": "docs/s", "gate.store_bytes_per_input_byte": "ratio",
    "jvm.gc_s": "s",
    "trace.overhead_s": "s",
}

# Times that are structurally 0 on one of the workloads (no frame is
# built in a gate trigger, no stream runs in the sweep, and on the
# pinned heap operations run without collections): they are in the
# report line only, so the result never carries a time that reads 0 on
# every run.
REPORT_ONLY = {"tables.job_s", "operators.build_s", "plan.s", "exec.gc_s", "jvm.gc_s",
               "streaming.trigger_s", "streaming.add_batch_s", "streaming.machinery_s",
               "segstore.compaction_extra_s"}

MB = 1 << 20


def _tsv(run_dir, name):
    path = os.path.join(run_dir, name)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def collect(run_dir):
    """Parse the executor's TSV logs."""
    ops = [{"pass": int(r[0]), "idx": int(r[1]), "name": r[2], "id": r[3],
            "t0": int(r[4]), "t1": int(r[5]), "ok": r[6] == "1", "traced": r[7] == "1",
            "err": r[8] if len(r) > 8 else ""} for r in _tsv(run_dir, "ops.tsv")]
    jobs = [{"job": int(r[0]), "group": r[1], "start": int(r[2]), "end": int(r[3]),
             "stages": int(r[4]), "tasks": int(r[5]), "failed": int(r[6]),
             "tables": r[7] == "1", "run_ms": int(r[8]), "cpu_ns": int(r[9]),
             "gc_ms": int(r[10]), "wait_ms": int(r[11]), "sr": int(r[12]),
             "sw": int(r[13]), "spill": int(r[14])} for r in _tsv(run_dir, "jobs.tsv")]
    triggers = [{"id": r[0], "batch": int(r[1]), "t0": int(r[2]), "t1": int(r[3]),
                 "w0": int(r[4]), "w1": int(r[5]), "trigger_ms": int(r[6]),
                 "add_ms": int(r[7]), "written": int(r[8]), "active": int(r[9]),
                 "compacted": r[10] == "1", "fed": int(r[11]), "rows": int(r[12])}
                for r in _tsv(run_dir, "triggers.tsv")]
    jvm_start_ms, first_op_ms = _tsv(run_dir, "setup.tsv")[0]
    return {
        "setup_s": (int(first_op_ms) - int(jvm_start_ms)) / 1e3,
        "probes": [{"group": f"probe:{r[0]}", "s": (int(r[2]) - int(r[1])) / 1e9}
                   for r in _tsv(run_dir, "probes.tsv")],
        "ops": ops,
        "spans": [{"op": r[0], "name": r[1], "start": int(r[2]), "end": int(r[3]),
                   "parent": r[4] if len(r) > 4 else ""} for r in _tsv(run_dir, "spans.tsv")],
        "jobs": jobs,
        "triggers": triggers,
        "kernels": [(r[0], int(r[1]), (int(r[3]) - int(r[2])) / 1e9)
                    for r in _tsv(run_dir, "kernels.tsv")],
        "summary": {r[0]: r[1] for r in _tsv(run_dir, "summary.tsv")},
        "extensions_on": any(r[0] == "graft_extensions" and r[1] == "true"
                             for r in _tsv(run_dir, "summary.tsv")),
    }


def tail(samples, beyond=10):
    """(value, percentile, n): the highest percentile that still has at
    least `beyond` samples above it, by nearest rank. With `beyond` or
    fewer samples no percentile qualifies and the maximum is returned
    with percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def self_times(spans):
    """{(op, name): self seconds}: each span's duration minus the union
    of its children's intervals, clipped to the span."""
    out = {}
    for s in spans:
        kids = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                      for c in spans
                      if c is not s and c["op"] == s["op"] and c["parent"] == s["name"])
        covered, cur_s, cur_e = 0, None, None
        for a, b in kids:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        key = (s["op"], s["name"])
        out[key] = out.get(key, 0.0) + (s["end"] - s["start"] - covered) / 1e9
    return out


def passes(ops):
    """{pass: wall} over complete passes: the sum of its operations' walls."""
    by = {}
    for o in ops:
        by.setdefault(o["pass"], []).append((o["t1"] - o["t0"]) / 1e9)
    return {p: sum(v) for p, v in by.items()}


def end_to_end(res):
    """(metrics, tail): the end-to-end metrics, and `op_tail_s` with its
    percentile and sample count. The tail is reported, not gated: a run
    has too few operations (17 queries or 4 triggers) for a percentile
    with 10 samples beyond it to lie above the median."""
    ops = [o for o in res["ops"] if not o["traced"]]
    walls = [(o["t1"] - o["t0"]) / 1e9 for o in ops]
    t, pct, n = tail(walls)
    s = res["summary"]
    return {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(passes(ops).values()),
        "op_p50_s": statistics.median(walls),
        "heap_peak_mb": int(s["heap_peak_bytes"]) / MB,
        "scratch_peak_mb": int(s["scratch_peak_bytes"]) / MB,
    }, (t, pct, n)


def gate_metrics(res, ops):
    trig = [t for t in res["triggers"] if t["id"] in {o["id"] for o in ops}]
    if not trig:
        return {"gate.docs_per_s": 0.0, "gate.store_bytes_per_input_byte": 0.0}
    s = res["summary"]
    return {
        "gate.docs_per_s": sum(t["rows"] for t in trig)
        / sum((t["t1"] - t["t0"]) / 1e9 for t in trig),
        "gate.store_bytes_per_input_byte": int(s["store_bytes"]) / int(s["fed_bytes"]),
    }


def per_layer(res, cores):
    """Per-layer metrics over the traced passes, as totals per pass."""
    traced = [o for o in res["ops"] if o["traced"]]
    untraced = [o for o in res["ops"] if not o["traced"]]
    n_pass = max(1, len({o["pass"] for o in traced}))
    ids = {o["id"] for o in traced}
    spans = [s for s in res["spans"] if s["op"] in ids]
    selfs = self_times(spans)
    by_id = {t["id"]: t for t in res["triggers"]}

    def op_of(job):
        g = job["group"]
        if g.startswith("op:"):
            return g.split(":", 2)[0] + ":" + g.split(":", 2)[1]
        return None

    # wall-clock windows of traced ops, for jobs without an inherited group
    wall = {}
    for o in traced:
        t = by_id.get(o["id"])
        if t:
            wall[o["id"]] = (t["w0"], t["w1"])
    exec_jobs, build_jobs = [], []
    for j in res["jobs"]:
        op = op_of(j)
        if op is None and not j["group"].startswith("probe:"):
            op = next((i for i, (a, b) in wall.items() if a <= j["start"] <= b), None)
            if op is not None:
                exec_jobs.append(j)
            continue
        if op not in ids:
            continue
        if j["group"].endswith(":operators.build"):
            build_jobs.append(j)
        elif not j["group"].endswith(":plan"):
            exec_jobs.append(j)
    op_jobs = build_jobs + exec_jobs
    sum_ = lambda xs, k: sum(x[k] for x in xs)  # noqa: E731
    span_total = lambda name: sum(v for (op, n), v in selfs.items() if n == name)  # noqa: E731
    exec_s = span_total("exec") or sum((o["t1"] - o["t0"]) / 1e9 for o in traced)
    probe_groups = {p["group"] for p in res["probes"]}
    probe_jobs = [j for j in res["jobs"] if j["group"] in probe_groups]
    m = {
        "tables.load_s": statistics.median(p["s"] for p in res["probes"]),
        "tables.load_jobs": len(probe_jobs) / max(1, len(res["probes"])),
        "tables.jobs": sum(1 for j in op_jobs if j["tables"]) / n_pass,
        "tables.job_s": sum((j["end"] - j["start"]) / 1e3 for j in op_jobs if j["tables"]) / n_pass,
        "operators.build_s": span_total("operators.build") / n_pass,
        "operators.build_jobs": len(build_jobs) / n_pass,
        "plan.s": span_total("plan") / n_pass,
        "exec.jobs": len(exec_jobs) / n_pass,
        "exec.stages": sum_(exec_jobs, "stages") / n_pass,
        "exec.tasks": sum_(exec_jobs, "tasks") / n_pass,
        "exec.failed_tasks": sum_(exec_jobs, "failed") / n_pass,
        "exec.s": exec_s / n_pass,
        "exec.task_run_s": sum_(exec_jobs, "run_ms") / 1e3 / n_pass,
        "exec.task_cpu_s": sum_(exec_jobs, "cpu_ns") / 1e9 / n_pass,
        "exec.gc_s": sum_(exec_jobs, "gc_ms") / 1e3 / n_pass,
        "exec.task_wait_s": sum_(exec_jobs, "wait_ms") / 1e3 / n_pass,
        "exec.shuffle_read_bytes": sum_(exec_jobs, "sr") / n_pass,
        "exec.shuffle_write_bytes": sum_(exec_jobs, "sw") / n_pass,
        "exec.spill_bytes": sum_(exec_jobs, "spill") / n_pass,
        "jvm.gc_s": int(res["summary"].get("gc_timed_ms", 0)) / 1e3
        / max(1, len({o["pass"] for o in res["ops"]})),
    }
    m["exec.cpu_util"] = m["exec.task_cpu_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0.0
    for k in KERNELS:
        runs = [(rows, s) for name, rows, s in res["kernels"] if name == k]
        m[f"functions.{k}.rows_per_s"] = (
            runs[0][0] / statistics.median(s for _, s in runs) if runs else 0.0)
    trig = [by_id[o["id"]] for o in traced if o["id"] in by_id]
    timed_trig = [by_id[o["id"]] for o in res["ops"] if o["id"] in by_id]
    if trig:
        m["streaming.trigger_s"] = statistics.median(t["trigger_ms"] / 1e3 for t in trig)
        m["streaming.add_batch_s"] = statistics.median(t["add_ms"] / 1e3 for t in trig)
        m["streaming.machinery_s"] = statistics.median(
            (t["trigger_ms"] - t["add_ms"]) / 1e3 for t in trig)
        m["streaming.jobs_per_batch"] = sum(
            1 for j in res["jobs"] for t in trig if t["w0"] <= j["start"] <= t["w1"]) / len(trig)
        comp = [(t["t1"] - t["t0"]) / 1e9 for t in timed_trig if t["compacted"]]
        rest = [(t["t1"] - t["t0"]) / 1e9 for t in timed_trig if not t["compacted"]]
        m["segstore.bytes_written_per_input_byte"] = (
            sum(t["written"] for t in timed_trig) / sum(t["fed"] for t in timed_trig))
        m["segstore.active_segments_max"] = max(t["active"] for t in timed_trig)
        m["segstore.compaction_batches"] = len(comp)
        m["segstore.compaction_extra_s"] = (
            statistics.median(comp) - statistics.median(rest) if comp and rest else 0.0)
    else:
        for k in PER_LAYER:
            if k.startswith(("streaming.", "segstore.")):
                m[k] = 0.0
    m.update(gate_metrics(res, traced))
    pt, pu = passes(traced), passes(untraced)
    m["trace.overhead_s"] = (statistics.median(pt.values()) - statistics.median(pu.values())
                             if pt and pu else 0.0)
    return m


def result(plan, res, failures, host, trace):
    """(report, result): a report with every metric and the check
    verdict, and the result object."""
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in failures
                 or (failures and plan["workload"] == "ingest_gate"))
    e2e, (t, pct, n) = end_to_end(res)
    report = {"workload": plan["workload"], "seed": plan["seed"], "host": host,
              "failed_ops": sorted({o["name"] for o in ops if not o["ok"]} | set(failures)),
              "failures": failures, "failed_ratio": failed / max(1, len(ops)),
              "passes": len({o["pass"] for o in ops}),
              "op_tail_percentile": round(pct, 1), "op_tail_samples": n,
              "end_to_end": {**{k: [v, END_TO_END[k]] for k, v in e2e.items()},
                             "op_tail_s": [t, "s"]}}
    if plan["workload"] == "ingest_gate":
        report["end_to_end"].update(
            {k.split(".", 1)[1]: [v, PER_LAYER[k]]
             for k, v in gate_metrics(res, [o for o in ops if not o["traced"]]).items()})
    if trace:
        values = per_layer(res, host["cores"])
        report["per_layer"] = {k: [values[k], u] for k, u in PER_LAYER.items()}
        units = {k: u for k, u in PER_LAYER.items() if k not in REPORT_ONLY}
    else:
        values, units = e2e, END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    out = {"correct": not failures and all(o["ok"] for o in ops),
           "attempted": len(ops), "failed": failed, "metrics": metrics}
    return report, out
