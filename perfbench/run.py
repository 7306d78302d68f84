"""CDC-ingest benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload pipeline_html_mor --seed 1 --trace 0
    python3 perfbench/run.py --workload stream_small_mor_mv --seed 1 --trace 1
    python3 perfbench/run.py --workload pipeline_html_mor --seed 1 --repeat 10

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``,
with ``--trace 1`` its per-layer metrics.  A detail file (settings,
per-pass and per-batch series, every metric, and the spans of a traced
run) goes to ``perfbench/.results/``.  ``--repeat k`` runs the workload k
times with seeds ``seed .. seed+k-1`` and prints each metric's median,
quartiles and spread against its bound.  A run measures a fixed number
of passes of the workload (a traced run one untraced and one traced
pass), so every commit measures the same work; ``--seconds`` is accepted
for a uniform command line and only recorded.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import box
import helpers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")


def load_spec() -> dict:
    with open(SPEC_PATH) as fh:
        return json.load(fh)


def parse_args(argv, spec: dict) -> argparse.Namespace:
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"],
                    help="recorded only: a run measures one pass of the workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run the workload this many times and summarise")
    args = ap.parse_args(argv)
    if not 0 <= args.seed < 2**31 - 64:
        ap.error("--seed must be in [0, 2^31 - 64)")
    return args


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def measure(spark, cfg: dict, args) -> dict:
    """Set up, then measure the workload's passes; a traced run measures
    an untraced and a traced pass, so its tracing overhead is measured
    within the run.  Only a pass's ``run_pass`` is timed; its ``prepare``
    (a fresh, pre-populated table) is set-up.  Time metrics are medians
    over the untraced passes' samples (rates: over passes)."""
    import tracer as tracing
    import workloads

    wl = workloads.WORKLOADS[args.workload](spark, cfg["work"], args.seed)
    generate_s = []
    for _ in range(wl.generate_reps):
        t0 = time.perf_counter()
        wl.generate()
        generate_s.append(time.perf_counter() - t0)
    wl.build_oracle()
    t0 = time.perf_counter()
    wl.warm_up(os.path.join(cfg["work"], "warm"))
    warm_up_s = time.perf_counter() - t0

    tr = tracing.Tracer(spark) if args.trace else None
    passes: list[dict] = []
    errors: list[str] = []
    attempted = failed = 0
    with box.RssSampler() as rss:
        for k in range(2 if tr else wl.passes):
            traced = tr is not None and k % 2 == 1
            if traced:
                tracing.install_layer_spans(tr)
                tr.trace_id = f"p{k}"
            try:
                t0 = time.perf_counter()
                state = wl.prepare(os.path.join(cfg["work"], f"pass{k}"), f"p{k}")
                rec = {"pass": k, "traced": traced, "prepare_s": time.perf_counter() - t0}
                bytes_before = wl.written_bytes(state)
                os.sync()
                t0 = time.perf_counter()
                try:
                    res = wl.run_pass(state)
                except Exception:  # a failing operation is a result, not a crash
                    errors.append(traceback.format_exc())
                    failed += 1
                    attempted += 1
                    break
                t1 = time.perf_counter()
                rec.update(window=(t0, t1), wall_s=t1 - t0)
                mixes = []
                for _ in range(wl.read_mixes):
                    with tr.span("read_mix") if traced else contextlib.nullcontext():
                        secs, errs = wl.read_mix(res["table"])
                    mixes.append(secs)
                    attempted += len(secs)
                    failed += len(errs)
                    errors += errs
            finally:
                if traced:
                    tr.unpatch()
            wl.finish_pass(res)
            errs = wl.check(res)
            errors += errs
            failed += 1 if errs else 0
            attempted += res["batches"] + 1  # the writes and the final-state check
            rec.update(
                events=res["events"], batch_s=res["batch_s"], mixes=mixes,
                bytes=wl.written_bytes(res) - bytes_before,
            )
            passes.append(rec)
            if traced:
                rec["ledger_commit_s"] = [
                    [s["trace"], s["end"] - s["start"]]
                    for s in tr.spans
                    if s["name"] == "lake.ledger.commit" and t0 <= s["start"] <= t1
                ]
                workloads.isolated_dedup_extract(spark, tr, wl.isolated_batches())
    wl.oracle.close()

    plain = [p for p in passes if not p["traced"]]
    batch_s = [b for p in plain for b in p["batch_s"]]
    mix_s = [sum(m) for p in plain for m in p["mixes"]]
    tail = helpers.supported_percentile(len(batch_s))
    events = sum(p["events"] for p in plain)
    out = {
        "generate_s": generate_s,
        "warm_up_s": warm_up_s,
        "passes": passes,
        "errors": errors,
        "attempted": attempted,
        "failed": failed,
        "failed_op_frac": failed / max(1, attempted),
        "batch_samples": len(batch_s),
        "batch_tail": (
            {"percentile": tail, "value": helpers.percentile(batch_s, tail)}
            if tail else None
        ),
        "read_samples": len(mix_s),
        "read_query_p50_s": {
            q: statistics.median(m[i] for p in plain for m in p["mixes"])
            for i, q in enumerate(("scan_count", "lookup", "scan_where"))
        } if mix_s else {},
        "peak_rss_by_process_kb": rss.peak_by_process,
        "end_to_end": {},
        "per_layer": {},
    }
    if events and batch_s and mix_s:
        out["end_to_end"] = {
            "events_per_s": statistics.median(p["events"] / p["wall_s"] for p in plain),
            "batch_p50_s": statistics.median(batch_s),
            "read_p50_s": statistics.median(mix_s),
            "setup_s": (cfg["session_start_s"] + statistics.median(generate_s) + warm_up_s
                        + statistics.median(p["prepare_s"] for p in plain)),
            "bytes_written_per_event": sum(p["bytes"] for p in plain) / events,
            "peak_rss_mb": rss.peak_kb / 1024.0,
        }
    if tr is not None:
        traced_passes = [p for p in passes if p["traced"]]
        layers = tracing.layer_metrics(tr.spans, len(traced_passes), cfg["nproc"])
        if traced_passes and plain:
            layers["trace.overhead_frac"] = (
                statistics.median(p["wall_s"] for p in traced_passes)
                / statistics.median(p["wall_s"] for p in plain) - 1.0
            )
            layers["trace.coverage_frac"] = min(
                tracing.coverage(tr.spans, p["window"]) for p in traced_passes
            )
        out["per_layer"] = layers
        out["spans"] = tr.spans
    return out


def shutdown(spark) -> None:
    """Stop the session, end the driver JVM and wait for every process
    the session started."""
    pids = box.process_tree()
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    if jvm is not None:
        jvm.stdin.close()  # the gateway exits when its stdin closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    box.wait_gone(pids)


def run_once(args, spec: dict) -> int:
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    cfg = box.settings(work)
    cfg["work"] = work
    box.apply_env(cfg)
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    import pyarrow
    import pyspark

    import geomesa_nifi_spark as gns

    if not os.path.abspath(gns.__file__).startswith(ROOT + os.sep):
        print(f"geomesa_nifi_spark imported from outside the checkout: {gns.__file__}",
              file=sys.stderr)
        return 2
    spark = gns.get_spark(
        "perfbench", master=cfg["master"], shuffle_partitions=cfg["shuffle_partitions"],
        extra_conf=box.spark_conf(cfg),
    )
    cfg["session_start_s"] = time.perf_counter() - t0
    cfg.update(spark=pyspark.__version__, pyarrow=pyarrow.__version__, seed=args.seed,
               workload=args.workload, seconds=args.seconds, trace=args.trace)
    print("perfbench " + " ".join(
        f"{k}={cfg[k]}" for k in ("workload", "seed", "nproc", "mem_total_mb",
                                  "driver_memory", "master", "spark", "pyarrow")
    ), flush=True)
    try:
        out = measure(spark, cfg, args)
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    have = out["per_layer"] if args.trace else out["end_to_end"]
    metrics = {m["name"]: {"value": have[m["name"]], "unit": m["unit"]}
               for m in wanted if m["name"] in have}
    correct = out["failed"] == 0 and not out["errors"] and len(metrics) == len(wanted)
    for e in out["errors"]:
        print(e, file=sys.stderr)

    results = os.path.join(HERE, ".results")
    os.makedirs(results, exist_ok=True)
    detail = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(detail, "w") as fh:
        json.dump({"settings": cfg, **out}, fh, indent=1, default=str)
    print(f"detail: {os.path.relpath(detail, ROOT)}  attempted={out['attempted']} "
          f"failed={out['failed']} failed_op_frac={out['failed_op_frac']:.4f} "
          f"batch_samples={out['batch_samples']} batch_tail={out['batch_tail']} "
          f"read_samples={out['read_samples']}")
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if correct else 1


# ---------------------------------------------------------------------------
# repeat mode
# ---------------------------------------------------------------------------


def repeat(args, spec: dict) -> int:
    kind = "per_layer" if args.trace else "end_to_end"
    values: dict[str, list[float]] = {m["name"]: [] for m in spec[kind]}
    bounds = {m["name"]: m.get("bound") for m in spec[kind]}
    bad_runs = 0
    for i in range(args.repeat):
        seed = args.seed + i
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if not res or not res["correct"]:
            bad_runs += 1
            print(f"seed {seed}: FAILED (exit {proc.returncode})", flush=True)
            print("\n".join(proc.stderr.splitlines()[-20:]), file=sys.stderr)
            continue
        for name, m in res["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {seed}: {time.perf_counter() - t0:.1f}s " + " ".join(
            f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()), flush=True)
    summary = {}
    print(f"{'metric':<50} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        q = helpers.quartile_spread(vals)
        b = bounds[name]
        flag = "" if b is None else ("ok" if q["spread"] <= b / 3 else
                                     "WIDE" if q["spread"] > b else "within")
        print(f"{name:<50} {q['median']:>12.5g} {q['q1']:>12.5g} {q['q3']:>12.5g} "
              f"{q['spread']:>8.4f} {'' if b is None else b:>6} {flag}")
        summary[name] = {**q, "bound": b}
    print(json.dumps({"workload": args.workload, "runs": args.repeat,
                      "failed_runs": bad_runs, "metrics": summary}))
    return 0 if bad_runs == 0 else 1


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "geomesa_nifi_spark", "__init__.py")):
        print("perfbench: no geomesa_nifi_spark package beside perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    args = parse_args(argv, spec)
    if args.repeat:
        return repeat(args, spec)
    return run_once(args, spec)


if __name__ == "__main__":
    sys.exit(main())
