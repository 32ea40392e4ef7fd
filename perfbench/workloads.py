"""The benchmark's workloads: what each run executes, drawn from its
seed, and how its outputs are checked.

A plan is a dict the executor reads as `plan.txt`: the query order of
every pass (or the delta files of every pass for the gate).
"""
import contextlib
import glob
import io
import os
import random
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A fixed sample of the catalog: every 13th query by number from the
# seventh, skipping the ten slowest, plus the two kernel-bound heavy
# queries (the set-similarity join and winnowing). 17 queries keep one
# pass and a cold check pass within a run, and their walls lie close
# together around the median. Two of them (q33, q59) are approximate.
CATALOG = [
    "q07_topk", "q20_duration", "q33_knn_lsh", "q46_batched_lookup",
    "q59_dedup_embedding_ivf", "q72_asof_nearest", "q85_incremental_dedup",
    "q98_rolling_features", "q112_forward_fill", "q126_anomaly_zscore",
    "q141_gopher_rules", "q155_bpe_merges", "q171_chi_square", "q185_segment_scrub",
    "q199_benford", "q139_setsim_join", "q164_winnowing",
]

WORKLOADS = {
    "catalog_sweep": {"kind": "queries", "ops": CATALOG, "sf": 0.01},
    # compact_every = deltas_per_pass: one base compaction per pass;
    # 2 store buckets halve the per-trigger file count of the default 8
    "ingest_gate": {"kind": "gate", "sf": 0.1, "deltas_per_pass": 4, "delta_docs": 200,
                    "compact_every": 4, "buckets": 2},
}

MAX_PASSES = 8      # passes planned; the executor stops at the deadline


def orders(ops, seed, passes):
    """One seeded permutation of `ops` per pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        p = list(ops)
        rng.shuffle(p)
        out.append(p)
    return out


def plan(name, seed, seconds, trace, cpus, data, kernel_data, run_dir, smoke=False):
    wl = WORKLOADS[name]
    p = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace, "cpus": cpus,
         "kernel_data": kernel_data, "data": data,
         "compact_every": wl.get("compact_every", 0), "buckets": wl.get("buckets", 0)}
    if wl["kind"] == "queries":
        ops = wl["ops"][:3] if smoke else wl["ops"]
        p["passes"] = orders(ops, seed, 3 if smoke else MAX_PASSES)
    else:
        per_pass = 2 if smoke else wl["deltas_per_pass"]
        passes = 3 if smoke else MAX_PASSES
        deltas = make_deltas(seed, os.path.join(data, "documents.parquet"),
                             passes * per_pass, wl["delta_docs"])
        ddir = os.path.join(run_dir, "deltas")
        os.makedirs(ddir)
        names = []
        for i, d in enumerate(deltas):
            names.append(f"delta_{i:04d}.parquet")
            pq.write_table(d["table"], os.path.join(ddir, names[-1]))
        p["passes"] = [names[i:i + per_pass] for i in range(0, len(names), per_pass)]
        p["replays"] = {n: d["replays"] for n, d in zip(names, deltas)}
    return p


def write_plan(p, path):
    with open(path, "w") as f:
        for k in ("workload", "data", "seconds", "trace", "cpus", "kernel_data",
                  "compact_every", "buckets"):
            f.write(f"{k} {p[k]}\n")
        for ops in p["passes"]:
            f.write("pass " + ",".join(ops) + "\n")


def near_dup(rng, words):
    """Replace three words in the last third: the first two thirds keep
    their winnowing fingerprints, so the copy shares well over four."""
    w = list(words)
    for i in rng.choice(np.arange(2 * len(w) // 3, len(w)), 3, replace=False):
        w[i] = gen.VOCAB[rng.integers(0, len(gen.VOCAB))]
    return " ".join(w)


def make_deltas(seed, corpus_path, n, size):
    """`n` delta batches of `size` docs: 50% fresh docs over the corpus
    vocabulary, 30% near-duplicates of corpus docs, 20% exact replays
    of ids already ingested (the corpus or an earlier delta)."""
    rng = np.random.default_rng(seed)
    corpus = pq.read_table(corpus_path, columns=["doc_id", "text"]).to_pydict()
    ingested = dict(zip(corpus["doc_id"], corpus["text"]))
    long_docs = [t.split(" ") for t in corpus["text"] if len(t.split(" ")) >= 40]
    next_id = 10_000_000
    out = []
    n_fresh, n_near = size // 2, size * 3 // 10
    for _ in range(n):
        ids, texts = [], []
        for _ in range(n_fresh):
            ids.append(next_id)
            texts.append(gen.random_text(rng))
            next_id += 1
        for _ in range(n_near):
            ids.append(next_id)
            texts.append(near_dup(rng, long_docs[rng.integers(0, len(long_docs))]))
            next_id += 1
        keys = list(ingested)
        replays = [int(keys[i]) for i in rng.choice(len(keys), size - n_fresh - n_near,
                                                    replace=False)]
        fresh = dict(zip(ids, texts))
        ids += replays
        texts += [ingested[r] for r in replays]
        order = rng.permutation(len(ids))
        out.append({"table": pa.table({
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": [texts[i] for i in order]}), "replays": replays})
        ingested.update(fresh)
    return out


def check_queries(data, out_dir, names):
    """{query: reason} for every query whose output in `out_dir` fails
    the repo's oracle gate, `tools/local_verify.py`, or is missing."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import local_verify
    log = io.StringIO()
    with contextlib.redirect_stdout(log):
        local_verify.main(data, out_dir)
    failures = {n: "no output" for n in names if not os.path.isdir(os.path.join(out_dir, n))}
    for line in log.getvalue().splitlines():
        if line.startswith("  FAIL "):
            name, _, why = line[len("  FAIL "):].partition(": ")
            failures[name] = why
    return failures


def check(p, run_dir, res):
    """{operation name: failure reason} for every operation that failed."""
    if WORKLOADS[p["workload"]]["kind"] == "queries":
        return check_queries(p["data"], os.path.join(run_dir, "out"), set(p["passes"][0]))
    s = res["summary"]
    failures = {k: s.get(k, "missing") for k in ("check_index", "check_df") if s.get(k) != "ok"}
    batch_of = {t["id"]: t["batch"] for t in res["triggers"]}
    con = duckdb.connect()
    for op in res["ops"]:
        replays = p["replays"][op["name"]]
        flags = glob.glob(os.path.join(
            s["flags_dir"], f"batch_{batch_of.get(op['id'])}", "*.parquet"))
        if not (flags and replays):
            continue
        bad = con.sql(f"SELECT count(*) FROM read_parquet({flags!r}) "
                      f"WHERE new_doc IN ({','.join(map(str, replays))})").fetchone()[0]
        if bad:
            failures[op["name"]] = f"{bad} flags on replayed docs"
    return failures
