"""Benchmark runner: one workload, one seed, one Python process.

    python3 perfbench/run.py --workload tpch_mix --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py sweep --workload tpch_mix --seeds 1-10 --out DIR
    python3 perfbench/run.py compare DIR_A DIR_B

A run generates its seeded inputs, starts Spark through the program's own
``get_spark()`` on ``local[nproc]`` with the program's defaults, runs one
untimed warm-up, then times whole warm passes until ``--seconds`` have
passed, checks every result, and prints one JSON line as the last line of
stdout.  ``--trace 1`` runs the traced variant: untraced and traced passes
alternate (untraced, traced, traced, untraced), and the line carries the
per-layer metrics.  Each run also writes
an artifact (and, when traced, a spans sidecar) under ``perfbench/_work``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import inputs
import procstat
import workloads
from tracing import Tracer, dedup_pair_counts, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
BENCHMARK_JSON = os.path.join(REPO, "BENCHMARK.json")
WORKLOADS = ("tpch_mix", "neardup_corpus", "etl_roundtrip")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(passes: list[dict], setup_s: float) -> dict[str, float]:
    """The four end-to-end metrics over whole timed passes."""
    lat = [x for p in passes for x in p["latencies"]]
    wall = sum(p["wall_s"] for p in passes)
    cpu = sum(p["cpu_s"] for p in passes)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(lat) / wall,
        "op_geomean_s": math.exp(sum(math.log(x) for x in lat) / len(lat)),
        "cpu_s_per_op": cpu / len(lat),
    }


def spread(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"q1": q1, "median": statistics.median(values), "q3": q3,
            "iqr_over_median": (q3 - q1) / statistics.median(values)}


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def _make_workload(name: str, seed: int, layout: dict, run_dir: str):
    # rounds per timed pass: one warm round of tpch_mix (~7 s) or
    # etl_roundtrip (~5 s) was too short to be steady.  The near-dup
    # operators still burn JIT CPU in their second round (a two-round pass
    # right after one warm-up round used ~57 s of CPU, the next ~43 s), so
    # they warm up for two rounds.
    if name == "tpch_mix":
        return workloads.QueryWorkload(
            workloads.TPCH_SUBSET, layout["sf_dir"], seed,
            warmup_rounds=1, rounds=2)
    if name == "neardup_corpus":
        return workloads.QueryWorkload(
            workloads.NEARDUP_OPS, layout["sf_dir"], seed,
            warmup_rounds=2, rounds=2)
    return workloads.EtlWorkload(layout["warehouse"], run_dir, seed, rounds=2)


def _execute(op, wl, tracer=None) -> dict:
    """Call one operation; returns its record (latency, result, error)."""
    from flowbyte_spark.operators import cache

    rec = {"op": op.name, "kind": op.kind, "layer": op.layer, "args": op.args,
           "result": None, "error": None}
    errors0 = getattr(wl, "errors", 0)
    t0 = time.perf_counter()
    try:
        if op.kind == "query":
            if tracer is None:
                df = op.build()
                rec["result"] = op.run(df)
                cache.release_persisted()
            else:
                with tracer.span("build", op.layer):
                    df = op.build()
                with tracer.span("run", op.layer):
                    rec["result"] = op.run(df)
                with tracer.span("storage_probe", "trace"):
                    rec["storage_bytes"] = tracer.storage_bytes()
                with tracer.span("release", "cache") as s:
                    rec["released"] = cache.release_persisted()
                rec["release_s"] = s.wall
                rec["df"] = df
        else:
            rec["result"] = op.call()
    except Exception as exc:  # counted as a failed operation
        rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
    rec["latency_s"] = time.perf_counter() - t0
    if rec["error"] is None:
        if getattr(wl, "errors", 0) > errors0:
            rec["error"] = "compat logged an error and returned normally"
        elif op.kind == "read" and rec["result"] is None:
            rec["error"] = "get_data returned None"
    return rec


def _table_files(path: str) -> dict[str, tuple[int, int]]:
    """Parquet file → (size, mtime) under a table directory."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _run_pass(idx: int, ops, wl, tracer=None) -> tuple[dict, list[dict]]:
    records = []
    cpu0 = procstat.tree_cpu_s()
    t0 = time.perf_counter()
    for op in ops:
        if tracer is None:
            rec = _execute(op, wl)
        else:
            before = _table_files(wl.table_dir(op.args["table"])) if op.kind == "write" else None
            with tracer.span(op.name, op.layer, job_group=True) as s:
                rec = _execute(op, wl, tracer)
            rec["span"] = s
            with tracer.span("attribute", "trace"):
                tracer.attribute(s)
                if op.kind == "write":
                    after = _table_files(wl.table_dir(op.args["table"]))
                    rec["bytes_written"] = sum(
                        size for f, (size, m) in after.items() if before.get(f) != (size, m)
                    )
                    rec["table_bytes_before"] = sum(v[0] for v in before.values())
                    rec["table_bytes_after"] = sum(v[0] for v in after.values())
                    rec["table_files"] = len(after)
                if op.name in workloads.NEARDUP_OPS and rec["error"] is None:
                    cand, ver = dedup_pair_counts(rec["df"])
                    if cand:  # not found when the pairs sit behind a checkpoint
                        rec["candidates"], rec["verified"] = cand, ver
        rec.pop("df", None)
        rec["pass"] = idx
        records.append(rec)
    wall = time.perf_counter() - t0
    p = {"pass": idx, "wall_s": wall, "cpu_s": procstat.tree_cpu_s() - cpu0,
         "traced": tracer is not None,
         "latencies": [r["latency_s"] for r in records]}
    return p, records


def _stop_spark(spark) -> None:
    """Stop Spark, the gateway JVM and its Python workers; wait for each."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    me = os.getpid()
    while time.time() < deadline:
        left = [p for p in procstat.descendants(me) if p != me]
        if not left:
            return
        time.sleep(0.1)
    for pid in [p for p in procstat.descendants(me) if p != me]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run_once(args) -> int:
    sys.path.insert(0, REPO)
    try:
        import flowbyte_spark.session  # noqa: F401  (the program must be present)
    except ImportError as exc:
        log(f"the program is not importable here: {exc}")
        return 2

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    t = time.perf_counter()
    layout = inputs.generate(args.seed, os.path.join(WORK, "inputs", str(args.seed)))
    wl = _make_workload(args.workload, args.seed, layout, run_dir)
    gen_s = time.perf_counter() - t
    log(f"inputs for seed {args.seed} ready in {gen_s:.2f} s")

    from flowbyte_spark.session import get_spark

    stat_setup = procstat.cpu_times()
    t_setup = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, cores) if args.trace else None
    try:
        wl.setup(spark)
        t_warm = time.perf_counter()
        warm, warm_records = _run_pass(-1, wl.warmup_ops(), wl)
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup
        log(f"setup {setup_s:.2f} s (get_spark {get_spark_s:.2f} s, warm-up {warmup_s:.2f} s)")

        passes, records = [], []
        stat0 = procstat.cpu_times()
        setup_steal = procstat.steal_fraction(stat_setup, stat0)
        timed = 0.0
        # traced runs alternate untraced (U) and traced (T) passes as U T T U,
        # so a warm-up trend across passes cancels out of the overhead
        while timed < args.seconds or (tracer is not None and len(passes) % 4):
            traced = tracer is not None and len(passes) % 4 in (1, 2)
            p, recs = _run_pass(len(passes), wl.pass_ops(), wl,
                                tracer if traced else None)
            passes.append(p)
            records.extend(recs)
            timed += p["wall_s"]
            log(f"pass {p['pass']}{' traced' if traced else ''}: {p['wall_s']:.3f} s wall, "
                f"{p['cpu_s']:.2f} s cpu")
        steal = procstat.steal_fraction(stat0, procstat.cpu_times())
        peak_rss_mb = procstat.tree_peak_rss_mb()

        t = time.perf_counter()
        problems = _check(wl, warm_records, records)
        log(f"results checked in {time.perf_counter() - t:.2f} s")
    finally:
        t = time.perf_counter()
        _stop_spark(spark)
        log(f"Spark stopped in {time.perf_counter() - t:.2f} s")
        shutil.rmtree(run_dir, ignore_errors=True)

    failed_recs = [r for r in records if r["error"] is not None or not r.get("ok", False)]
    warm_failed = [r for r in warm_records if r["error"] is not None or not r.get("ok", False)]
    for r in records + warm_records:
        if r["error"] is not None:
            problems.append(f"{r['op']} pass {r['pass']}: {r['error']}")
    for msg in problems:
        log(f"FAILED (seed {args.seed}): {msg}")

    untraced = [p for p in passes if not p["traced"]]
    e2e = end_to_end(untraced, setup_s)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "fingerprint": procstat.fingerprint(),
        "input_generation_s": gen_s, "get_spark_s": get_spark_s,
        "warmup": {"wall_s": warm["wall_s"], "cpu_s": warm["cpu_s"], "setup_s": setup_s},
        "passes": [{k: p[k] for k in ("pass", "wall_s", "cpu_s", "traced")} for p in passes],
        "steal_fraction": steal, "setup_steal_fraction": setup_steal,
        "peak_rss_mb": peak_rss_mb,
        "ops": [{"pass": r["pass"], "op": r["op"], "latency_s": r["latency_s"],
                 "ok": r.get("ok", False), "error": r["error"]} for r in records],
        "problems": problems, "end_to_end": e2e,
    }
    if tracer is not None:
        traced = [p for p in passes if p["traced"]]
        e2e_traced = end_to_end(traced, setup_s)
        artifact["end_to_end_traced"] = e2e_traced
        artifact["tracing_overhead"] = {k: e2e_traced[k] - e2e[k] for k in e2e if k != "setup_s"}
        layers = per_layer(tracer, [r for r in records if "span" in r], traced,
                           get_spark_s, peak_rss_mb, warmup_s,
                           sum(p["wall_s"] for p in traced) / sum(p["wall_s"] for p in untraced) - 1)
        artifact["per_layer"] = layers
    os.makedirs(args.artifacts, exist_ok=True)
    stem = os.path.join(args.artifacts, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    if tracer is not None:
        tracer.write(stem + ".spans.jsonl")
    with open(stem + ".json", "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)

    units = _units()
    metrics = artifact["per_layer"] if tracer is not None else e2e
    out = {
        "correct": not problems and not failed_recs and not warm_failed,
        "attempted": len(records),
        "failed": len(failed_recs),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


def _check(wl, warm_records: list[dict], records: list[dict]) -> list[str]:
    """Check the timed results.  The ETL replay also walks the warm-up
    round, whose writes the timed passes build on; a warm-up query result
    is only checked for errors (its oracle check would repeat the timed
    ones)."""
    if hasattr(wl, "replay"):
        return wl.replay(warm_records + records) + wl.final_state_problems()
    for r in warm_records:
        r["ok"] = r["error"] is None
    return wl.check(records)


def _units() -> dict[str, str]:
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run
# ---------------------------------------------------------------------------

SPARK_COUNTERS = ("jobs", "stages", "tasks", "driver_gap_s", "task_s", "task_cpu_s",
                  "gc_s", "slot_util", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tracer, recs, traced_passes, get_spark_s, peak_rss_mb, warmup_s,
              overhead_frac) -> dict[str, float]:
    """Per-operation means of the traced passes, named ``<layer>.<counter>``;
    a layer the workload does not reach reads 0."""
    selfs = self_times(tracer.spans)
    children: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, {})[s.name] = s.wall
    out: dict[str, float] = {}
    for layer in ("queries", "compat"):
        lr = [r for r in recs if r["layer"] == layer]
        spans = [r["span"] for r in lr]
        if layer == "queries":
            build = [children[s.id].get("build", 0.0) for s in spans]
            run = [children[s.id].get("run", 0.0) for s in spans]
        else:  # one call: split at the first Spark job the span submitted
            build = [min(s.counters["first_job_offset_s"], s.wall) for s in spans]
            run = [s.wall - b for s, b in zip(spans, build)]
        out[f"{layer}.build_s"] = _mean(build)
        out[f"{layer}.run_s"] = _mean(run)
        out[f"{layer}.self_s"] = _mean(selfs[s.id] for s in spans)
        for k in SPARK_COUNTERS:
            out[f"{layer}.{k}"] = _mean(s.counters[k] for s in spans)
        out[f"{layer}.out_rows"] = _mean(len(r["result"]) for r in lr if r["result"] is not None)
    out["session.get_spark_s"] = get_spark_s
    out["session.peak_rss_mb"] = peak_rss_mb
    out["setup.warmup_s"] = warmup_s
    rel = [r for r in recs if "release_s" in r]
    out["cache.release_s"] = _mean(r["release_s"] for r in rel)
    out["cache.released"] = _mean(r["released"] for r in rel)
    out["cache.storage_bytes"] = _mean(r["storage_bytes"] for r in rel)
    dd = [r for r in recs if "candidates" in r]
    cand, ver = sum(r["candidates"] for r in dd), sum(r["verified"] for r in dd)
    out["dedup.candidate_pairs"] = _mean(r["candidates"] for r in dd)
    out["dedup.verified_pairs"] = _mean(r["verified"] for r in dd)
    out["dedup.verify_yield"] = ver / cand if cand else 0.0
    reads = [r for r in recs if r["kind"] == "read"]
    writes = [r for r in recs if r["kind"] == "write"]
    out["compat.read_s"] = _mean(r["span"].wall for r in reads)
    out["compat.write_s"] = _mean(r["span"].wall for r in writes)
    out["compat.rows_fetched"] = _mean(len(r["result"]) for r in reads if r["result"] is not None)
    out["mutate.bytes_written"] = _mean(r["bytes_written"] for r in writes)
    out["mutate.table_files"] = _mean(r["table_files"] for r in writes)
    changed_bytes = 0.0  # rows changed x the table's bytes per row
    for r in writes:
        if r["rows_before"]:
            changed_bytes += r["rows_changed"] * r["table_bytes_before"] / r["rows_before"]
        elif r["rows_after"]:
            changed_bytes += r["rows_changed"] * r["table_bytes_after"] / r["rows_after"]
    out["mutate.write_amp"] = (sum(r["bytes_written"] for r in writes) / changed_bytes) if changed_bytes else 0.0
    op_wall = sum(r["span"].wall for r in recs)
    attributed = sum(s.wall for s in tracer.spans if s.parent is None and s.name == "attribute")
    pass_wall = sum(p["wall_s"] for p in traced_passes)
    out["trace.unattributed_s"] = (pass_wall - op_wall - attributed) / len(recs)
    out["trace.overhead_frac"] = overhead_frac
    out["trace.missing_records"] = float(tracer.missing)
    return out


# ---------------------------------------------------------------------------
# sweep and compare
# ---------------------------------------------------------------------------

def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def sweep(args) -> int:
    """Run one workload untraced on several seeds, one process each, in sequence."""
    with open(BENCHMARK_JSON) as fh:
        seconds = json.load(fh)["run_seconds"]
    rc = 0
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
               "--artifacts", args.out]
        t = time.time()
        res = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True)
        last = res.stdout.strip().splitlines()[-1] if res.stdout.strip() else ""
        print(f"{args.workload} seed {seed}: rc={res.returncode} {time.time() - t:.1f} s {last}", flush=True)
        rc = rc or res.returncode
    return rc


def _load_set(path: str) -> list[dict]:
    out = []
    for f in sorted(os.listdir(path)):
        if f.endswith(".json") and "-trace0-" in f:
            with open(os.path.join(path, f)) as fh:
                out.append(json.load(fh))
    return out


def compare(args) -> int:
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    sets = [_load_set(p) for p in (args.a, args.b)]
    for path, s in zip((args.a, args.b), sets):
        if not s:
            print(f"no untraced run artifacts in {path}")
            return 2
    prints = {json.dumps(a["fingerprint"], sort_keys=True) for s in sets for a in s}
    if len(prints) != 1:
        print("refusing to compare: the runs come from unlike hosts")
        for fp in sorted(prints):
            print("  ", fp)
        return 2
    agree = True
    names = sorted({a["workload"] for s in sets for a in s})
    for wl in names:
        a, b = ([x for x in s if x["workload"] == wl] for s in sets)
        if len(a) < 2 or len(b) < 2:
            print(f"{wl}: needs two or more runs per set ({len(a)}, {len(b)})")
            agree = False
            continue
        print(f"{wl}: {len(a)} vs {len(b)} runs; steal median "
              f"{statistics.median(x['steal_fraction'] for x in a):.3f} / "
              f"{statistics.median(x['steal_fraction'] for x in b):.3f}")
        for m in spec["end_to_end"]:
            k, bound = m["name"], m["bound"]
            sa = spread([x["end_to_end"][k] for x in a])
            sb = spread([x["end_to_end"][k] for x in b])
            # symmetric: the two medians differ by at most the bound of
            # either one, so swapping A and B gives the same verdict
            diff = abs(sb["median"] - sa["median"]) / min(sa["median"], sb["median"])
            ok = diff <= bound and sa["iqr_over_median"] <= bound and sb["iqr_over_median"] <= bound
            agree &= ok
            print(f"  {k:14s} {m['unit']:4s} A median {sa['median']:.5g} [{sa['q1']:.5g}, {sa['q3']:.5g}] "
                  f"iqr/med {sa['iqr_over_median']:.3f} | B median {sb['median']:.5g} "
                  f"[{sb['q1']:.5g}, {sb['q3']:.5g}] iqr/med {sb['iqr_over_median']:.3f} | "
                  f"B/A {sb['median'] / sa['median']:.3f}, medians differ by {diff:.3f} "
                  f"(bound {bound}) {'ok' if ok else 'OUTSIDE'}")
    print("the two sets agree within the bounds" if agree else "the two sets do NOT agree within the bounds")
    return 0 if agree else 1


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] in ("sweep", "compare"):
        p = argparse.ArgumentParser(prog="run.py " + argv[0])
        if argv[0] == "sweep":
            p.add_argument("--workload", required=True, choices=WORKLOADS)
            p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
            p.add_argument("--out", required=True)
            return sweep(p.parse_args(argv[1:]))
        p.add_argument("a")
        p.add_argument("b")
        return compare(p.parse_args(argv[1:]))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--artifacts", default=os.path.join(WORK, "artifacts"))
    return run_once(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
