#!/usr/bin/env python3
"""Repo benchmark: end-to-end and per-layer timing of graft's gates.

    python3 perfbench/run.py --workload genetics --seed 1 --seconds 8 \
        --trace 0

Builds the program from source (perfbench/build.py), prepares the inputs,
runs perfbench.Harness in one JVM with one Spark session at local[nproc],
checks every op's output digest against perfbench/expected.json, prints a
table of every metric with its unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
DATA = BENCH / "data"
EXPECTED = BENCH / "expected.json"
RUN_LIMIT_S = 170  # the whole run, build excluded, must end before this
SPLIT_PARTS = 16

# Each workload: ops (SparkEntry gate names), the input tables its set-up
# touches, and which of them are split into part files per seed.
WORKLOADS = {
    "genetics": {
        "ops": ["vcf_import", "vcf_write_roundtrip", "qc_variant_qc",
                "linreg_rows", "linalg_pca", "geno_mendel_errors"],
        "tables": [],
        "split": [],
    },
    "curation": {
        "ops": ["pipe_minhash_pairs", "pipe_dedup_exact",
                "pipe_langid_quality", "stream_hourly_agg"],
        "tables": ["documents", "events"],
        "split": ["documents", "events"],
    },
}
# the row id each split table is hashed on
SPLIT_KEYS = {"documents": "doc_id", "events": "event_id"}

# entry-layer module of a gate, from its name prefix
MODULES = [
    ("streaming", ("stream_",)),
    ("linalg", ("linalg_",)),
    ("pipeline_pairs", ("pipe_minhash_pairs", "pipe_neardup_clusters",
                        "pipe_ppjoin", "pipe_ngram_jaccard",
                        "pipe_winnow_pairs", "pipe_triplet_mine",
                        "pipe_semdedup")),
    ("pipeline_text", ("pipe_",)),
    ("sources", ("vcf_", "bgen_", "plink_", "gen_", "mt_", "ht_",
                 "matrix_write_read")),
    ("methods", ("",)),
]

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
    ("op_p50_s", "s"), ("op_tail_s", "s"), ("heap_after_gc_mb", "MB"),
]


def module_of(op):
    return next(m for m, prefixes in MODULES if op.startswith(prefixes))


# ------------------------------------------------------------------ host


def nproc():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """-Xmx as the tier-1 test command derives it: MemTotal / 2 GiB,
    clamped to [2, 8] GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f
                      if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def steal_ticks():
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def bench_source_hash():
    h = hashlib.sha256()
    for f in sorted(BENCH.rglob("*")):
        if f.is_file() and f.suffix in (".py", ".scala", ".json") \
                and "__pycache__" not in f.parts:
            h.update(str(f.relative_to(BENCH)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- inputs


def split_inputs(tables, split, seed, dest):
    """Write each table in `split` as SPLIT_PARTS part files, a row going to
    part hash(seed, row id) % SPLIT_PARTS; rows keep their order inside a
    part. Part files get increasing mtimes, so a file stream reads them in
    part order. The other tables are copied whole."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    dest.mkdir(parents=True)
    for t in tables:
        if t not in split:
            shutil.copy(DATA / f"{t}.parquet", dest / f"{t}.parquet")
            continue
        table = pq.read_table(DATA / f"{t}.parquet")
        ids = table.column(SPLIT_KEYS[t]).to_pylist()
        parts = [
            int.from_bytes(hashlib.blake2b(f"{seed}:{i}".encode(),
                                           digest_size=8).digest(), "big")
            % SPLIT_PARTS for i in ids]
        out = dest / f"{t}.parquet"
        out.mkdir(parents=True)
        base = time.time() - 3600
        for p in range(SPLIT_PARTS):
            idx = [r for r, q in enumerate(parts) if q == p]
            f = out / f"part-{p:05d}.parquet"
            pq.write_table(table.take(pa.array(idx, type=pa.int64())), f)
            os.utime(f, (base + p, base + p))


# ------------------------------------------------------------------- jvm


def java_cmd(cp, heap, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # no hsperfdata file in the system temp dir: a run writes only inside
    # its checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [f"-Xmx{heap}g", "-XX:ReservedCodeCacheSize=512m",
                  "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(cp),
                  "perfbench.Harness"]


def run_harness(cp, args, wl, data_dir, tmp, deadline_at):
    """Run the harness JVM; return its records and the seconds from its
    process start until its session was ready."""
    out = tmp / "records.jsonl"
    cmd = java_cmd(cp, heap_gb(), tmp) + [
        "ops=" + ",".join(wl["ops"]),
        f"seed={args.seed}", f"seconds={args.seconds}",
        f"trace={args.trace}", f"data={data_dir}", f"out={out}",
        f"deadline={args.op_deadline}", f"cpus={nproc()}", f"scratch={tmp}",
        "tables=" + ",".join(wl["tables"])]
    with open(tmp / "jvm.log", "w") as log:
        started = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=ROOT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline_at - time.monotonic()))
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: harness exceeded the run limit; killed")
        finally:
            # also reached on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        sys.stderr.write((tmp / "jvm.log").read_text()[-4000:])
        sys.exit(f"perfbench: harness exited with code {rc}")
    recs = [json.loads(l) for l in out.read_text().splitlines()]
    ready = next(r["ready_ms"] for r in recs if r["type"] == "setup")
    return recs, ready / 1e3 - started


# --------------------------------------------------------------- metrics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def op_medians(ops):
    """Each op's median latency over its warm runs, slowest last."""
    by_op = {}
    for r in ops:
        by_op.setdefault(r["op"], []).append(r["sec"])
    return sorted(median(xs) for xs in by_op.values())


def tail(samples):
    """The highest percentile with at least 10 samples above it, as
    (value, percentile, sample count); None below 20 samples, where that
    percentile would not lie above the median."""
    xs = sorted(samples)
    if len(xs) < 20:
        return None
    k = len(xs) - 10
    return xs[k - 1], 100.0 * k / len(xs), len(xs)


def check_ops(recs, expected):
    """Failed op executions: threw, hit the deadline, or mismatched the
    expected digest."""
    failed = []
    for r in recs:
        if r["type"] != "op":
            continue
        want = expected.get(r["op"])
        if r["error"]:
            failed.append((r["op"], r["pass"], r["error"]))
        elif r["digest"] != want:
            failed.append((r["op"], r["pass"],
                           f"digest {r['digest']} != expected {want}"))
    return failed


def end_to_end(recs, setup_s):
    passes = [r for r in recs if r["type"] == "pass"]
    cold = next(p["wall_s"] for p in passes if p["kind"] == "cold")
    warm = [p for p in passes if p["kind"] == "warm"]
    warm_ids = {p["pass"] for p in warm}
    ops = [r for r in recs if r["type"] == "op" and r["pass"] in warm_ids]
    per_op = op_medians(ops)
    run = next(r for r in recs if r["type"] == "run")
    pooled = tail([r["sec"] for r in ops])
    notes = {"op_p50_s": f"median of {len(per_op)} per-op medians",
             "op_tail_s": "slowest op's median latency; " + (
                 f"pooled p{pooled[1]:.1f} of {pooled[2]} warm op samples: "
                 f"{pooled[0]:.4f} s" if pooled else
                 f"only {len(ops)} warm op samples, too few for a "
                 "percentile with 10 beyond it"),
             "warm_pass_s": f"median of {len(warm)} warm passes",
             "setup_s": "process start to ready session"}
    vals = {"setup_s": setup_s, "cold_pass_s": cold,
            "warm_pass_s": median([p["wall_s"] for p in warm]),
            "op_p50_s": median(per_op), "op_tail_s": per_op[-1],
            "heap_after_gc_mb": run["heap_after_gc_mb"]}
    return vals, notes


PER_LAYER = [  # name, unit
    ("entry.build_s", "s"), ("entry.eager_jobs", "count"),
    ("entry.sources_s", "s"), ("entry.methods_s", "s"),
    ("entry.linalg_s", "s"), ("entry.pipeline_pairs_s", "s"),
    ("entry.pipeline_text_s", "s"), ("entry.streaming_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimizer_s", "s"),
    ("catalyst.planning_s", "s"),
    ("codegen.classes", "count"), ("codegen.compile_s", "s"),
    ("codegen.cold_classes", "count"), ("codegen.cold_compile_s", "s"),
    ("codegen.warm_hit_ratio", "ratio"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.driver_only_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_frac", "ratio"), ("executor.failed_tasks", "count"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.spill_mb", "MB"), ("io.input_mb", "MB"), ("io.output_mb", "MB"),
    ("storage.pinned_mb", "MB"),
    ("streaming.batches", "count"), ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"), ("streaming.commit_s", "s"),
    ("streaming.state_commit_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"),
    ("jvm.gc_s", "s"), ("jvm.cold_jit_s", "s"),
    ("catalyst.sampled_s", "s"),
    ("trace.overhead_s", "s"), ("trace.parts_within_10pct", "ratio"),
    ("trace.driver_other_frac", "ratio"),
]


def op_parts(r):
    """Self times of one traced op, in seconds, each from its own source:
    `entry`, `catalyst`, `codegen` and `driver_other` from the stack
    sampler (the op thread's time while it runs), `jobs` from the
    SparkListener (the union of the op's job spans). Nothing is derived as
    the rest of the wall time, so the sum can miss it either way: above it
    when parts overlap, below when time goes unseen. The sampler's `wait`
    (the op thread blocked on work elsewhere) is what `jobs` should
    explain; it is returned apart and not summed."""
    L = r["layers"]
    s = L["sampled"]
    parts = {k: s.get(k, 0.0)
             for k in ("entry", "catalyst", "codegen", "driver_other")}
    parts["jobs"] = L["eager_jobs_s"] + L["action_jobs_s"]
    return parts, s.get("wait", 0.0)


def pass_layers(ops, wall, cpus):
    def tot(k):
        return sum(o["layers"]["build"].get(k, 0)
                   + o["layers"]["action"].get(k, 0) for o in ops)
    parts = [op_parts(o)[0] for o in ops]
    m = {
        "entry.build_s": sum(o["build_s"] for o in ops),
        "entry.eager_jobs": sum(o["layers"]["eager_jobs"] for o in ops),
        "catalyst.analysis_s": tot("analysis_ms") / 1e3,
        "catalyst.optimizer_s": tot("optimizer_ms") / 1e3,
        "catalyst.planning_s": tot("planning_ms") / 1e3,
        "codegen.classes": tot("codegen_classes"),
        "codegen.compile_s": tot("codegen_ns") / 1e9,
        "scheduler.jobs": tot("jobs"), "scheduler.stages": tot("stages"),
        "scheduler.tasks": tot("tasks"),
        "scheduler.driver_only_s": sum(
            o["sec"] - o["layers"]["eager_jobs_s"]
            - o["layers"]["action_jobs_s"] for o in ops),
        "executor.run_s": tot("run_ms") / 1e3,
        "executor.cpu_s": tot("cpu_ns") / 1e9,
        "executor.gc_s": tot("task_gc_ms") / 1e3,
        "executor.busy_frac": tot("run_ms") / 1e3 / (wall * cpus),
        "executor.failed_tasks": tot("failed_tasks"),
        "shuffle.write_mb": tot("shuffle_write_b") / 1e6,
        "shuffle.read_mb": tot("shuffle_read_b") / 1e6,
        "shuffle.spill_mb": tot("spill_b") / 1e6,
        "io.input_mb": tot("input_b") / 1e6,
        "io.output_mb": tot("output_b") / 1e6,
        "storage.pinned_mb": sum(o["layers"]["pinned_bytes"]
                                 for o in ops) / 1e6,
        "streaming.batches": tot("batches"),
        "streaming.add_batch_s": tot("add_batch_ms") / 1e3,
        "streaming.planning_s": tot("stream_planning_ms") / 1e3,
        "streaming.commit_s": tot("commit_ms") / 1e3,
        "streaming.state_commit_s": tot("state_commit_ms") / 1e3,
        "streaming.state_rows": sum(o["layers"]["state_rows"] for o in ops),
        "streaming.state_mb": sum(o["layers"]["state_bytes"]
                                  for o in ops) / 1e6,
        "jvm.gc_s": tot("jvm_gc_ms") / 1e3,
        "catalyst.sampled_s": sum(p["catalyst"] for p in parts),
    }
    for mod, _ in MODULES:
        m[f"entry.{mod}_s"] = sum(p["entry"] for o, p in zip(ops, parts)
                                  if module_of(o["op"]) == mod)
    return m


def per_layer(recs, cpus):
    passes = {p["pass"]: p for p in recs if p["type"] == "pass"}
    by_pass = {}
    for r in recs:
        if r["type"] == "op" and r["layers"] is not None:
            by_pass.setdefault(r["pass"], []).append(r)
    cold = pass_layers(by_pass[0], passes[0]["wall_s"], cpus)
    warm_traced = [p for p in by_pass if passes[p]["kind"] == "warm"]
    warm_plain = [p for p, r in passes.items()
                  if r["kind"] == "warm" and p not in by_pass]
    per_pass, all_parts = [], []
    for p in warm_traced:
        per_pass.append(pass_layers(by_pass[p], passes[p]["wall_s"], cpus))
        all_parts += [(o, op_parts(o)) for o in by_pass[p]]
    vals = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    vals["codegen.cold_classes"] = cold["codegen.classes"]
    vals["codegen.cold_compile_s"] = cold["codegen.compile_s"]
    vals["codegen.warm_hit_ratio"] = (
        1 - vals["codegen.classes"] / cold["codegen.classes"]
        if cold["codegen.classes"] else 1.0)
    vals["jvm.cold_jit_s"] = sum(
        o["layers"]["build"].get("jit_ms", 0)
        + o["layers"]["action"].get("jit_ms", 0) for o in by_pass[0]) / 1e3
    traced_wall = median([passes[p]["wall_s"] for p in warm_traced])
    plain_wall = median([passes[p]["wall_s"] for p in warm_plain])
    vals["trace.overhead_s"] = traced_wall - plain_wall
    ok = [abs(sum(q.values()) - o["sec"]) <= 0.1 * o["sec"]
          for o, (q, _) in all_parts]
    vals["trace.parts_within_10pct"] = sum(ok) / len(ok)
    vals["trace.driver_other_frac"] = median(
        [q["driver_other"] / o["sec"] for o, (q, _) in all_parts
         if o["sec"] > 0])
    notes = {"trace.overhead_s":
             f"traced {traced_wall:.3f} s - untraced {plain_wall:.3f} s "
             f"warm pass ({len(warm_traced)} vs {len(warm_plain)} passes)"}
    return vals, notes, all_parts


def print_layer_table(parts):
    """Per op, the median over traced warm passes of each layer's self
    time, the sampled wait beside the listener's job time it should match,
    and how close the parts' sum comes to the op's wall time."""
    by_op = {}
    for o, (q, wait) in parts:
        by_op.setdefault(o["op"], []).append((o["sec"], q, wait))
    keys = list(parts[0][1][0])
    print(f"  {'op':28s} {'wall_s':>7s} " +
          " ".join(f"{k:>12s}" for k in keys) +
          f" {'sum/wall':>8s} {'wait':>7s}")
    for op, xs in sorted(by_op.items()):
        wall = median([w for w, _, _ in xs])
        med = {k: median([q[k] for _, q, _ in xs]) for k in keys}
        ratio = median([sum(q.values()) / w for w, q, _ in xs])
        wait = median([x for _, _, x in xs])
        print(f"  {op:28s} {wall:7.3f} " +
              " ".join(f"{med[k]:12.3f}" for k in keys) +
              f" {ratio:8.3f} {wait:7.3f}")


# ------------------------------------------------------------------ main


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--op-deadline", type=float, default=60.0,
                    help="seconds one op may take before it counts as failed")
    ap.add_argument("--ops", help="comma list: run only these of the "
                    "workload's ops (development and tests)")
    ap.add_argument("--expected", default=str(EXPECTED),
                    help="expected digests (JSON: op -> digest)")
    ap.add_argument("--record", action="store_true",
                    help="run on unsplit inputs and write the observed "
                         "digests to --expected instead of checking them")
    return ap.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)
    # a terminated run unwinds through the finally blocks, which stop the
    # JVM and delete the run's scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    t_start = time.monotonic()
    wl = dict(WORKLOADS[args.workload])
    if args.ops:
        wl["ops"] = [o for o in wl["ops"] if o in args.ops.split(",")]
    cp = build.build()
    deadline_at = time.monotonic() + RUN_LIMIT_S
    if not DATA.is_dir():
        sys.exit(f"perfbench: input tables missing under {DATA}")
    run_root = build.build_dir() / "runs"
    run_root.mkdir(parents=True, exist_ok=True)
    tmp = run_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    try:
        data_dir = DATA
        if wl["split"] and not args.record:
            data_dir = tmp / "data"
            split_inputs(wl["tables"], wl["split"], args.seed, data_dir)
        steal0 = steal_ticks()
        recs, setup = run_harness(cp, args, wl, data_dir, tmp, deadline_at)
        steal1 = steal_ticks()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    run = next(r for r in recs if r["type"] == "run")
    if args.record:
        seen = {}
        for r in (r for r in recs if r["type"] == "op"):
            if r["error"]:
                sys.exit(f"perfbench: {r['op']} failed: {r['error']}")
            seen.setdefault(r["op"], set()).add(r["digest"])
        unstable = sorted(o for o, d in seen.items() if len(d) > 1)
        if unstable:
            sys.exit(f"perfbench: digests differ across passes: {unstable}")
        path = Path(args.expected)
        exp = json.loads(path.read_text()) if path.exists() else {}
        exp.update({o: d.pop() for o, d in seen.items()})
        path.write_text(json.dumps(dict(sorted(exp.items())), indent=1) + "\n")
        print(f"recorded {len(seen)} digests into {path}")

    expected = json.loads(Path(args.expected).read_text())
    failed = check_ops(recs, expected)
    attempted = sum(1 for r in recs if r["type"] == "op")
    for op, p, why in failed[:20]:
        print(f"FAILED {op} (pass {p}): {why}", file=sys.stderr)

    prov = {"workload": args.workload, "seed": args.seed, "nproc": run["cpus"],
            "heap_max_mb": run["heap_max_mb"], "conf_hash": run["conf_hash"],
            "bench_hash": bench_source_hash(),
            "steal_s": None if steal0 is None or steal1 is None
            else (steal1 - steal0) / os.sysconf("SC_CLK_TCK"),
            "failed_ops": len(failed), "attempted_ops": attempted,
            "failed_ops_share": len(failed) / attempted,
            "wall_s": round(time.monotonic() - t_start, 3)}
    if args.trace:
        vals, notes, parts = per_layer(recs, run["cpus"])
        units = PER_LAYER
        print_layer_table(parts)
    else:
        vals, notes = end_to_end(recs, setup)
        units = END_TO_END
    print("provenance " + json.dumps(prov))
    for name, unit in units:
        print(f"  {name:28s} {vals[name]:12.4f} {unit:6s} "
              f"{notes.get(name, '')}")
    print(f"  {'failed_ops':28s} {len(failed):12d} {'count':6s} "
          f"of {attempted} attempted ops")
    result = {
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {n: {"value": vals[n], "unit": u} for n, u in units}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
