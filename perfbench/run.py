#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client driving the engine's user
paths on local[nproc], with every output checked by an engine-free oracle.

    python3 perfbench/run.py --workload assign --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Workloads: assign and harvest (see
README.md in this directory). With --trace 0 the last
line of standard output is a JSON object whose metrics are the end-to-end
metrics of BENCHMARK.json; with --trace 1 they are its per-layer metrics,
taken from spans written to .perfbench_work/traces/. Every metric, and a few
workload-specific figures, is also printed on a line of its own as
"name<TAB>value<TAB>unit" before that JSON line.

Set-up is session start, input build and warm-up: the build runs BUILDS
times, and setup_s is session start + the median build + one warm-up pass.
Timed passes then repeat until their summed time reaches --seconds (and at
least MIN_PASSES ran); throughputs and peak RSS are medians over passes. --scale toy shrinks
every input for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PASSES = 5
BUILDS = 3  # input builds per run; setup_s takes their median
MAX_FAILED_PASSES = 3

# per-layer metric -> span whose duration it is
SPAN_TIMES = {
    "cells.encode_s": "cells.encode",
    "cover.covers_s": "cover.covers",
    "pip.flagship_s": "pip.flagship",
    "harvest.plan_pages_s": "harvest.plan_pages",
    "harvest.fetch_items_s": "harvest.fetch_items",
    "compat.translate_s": "compat.translate",
    "sinks.delete_previous_s": "sinks.delete_previous",
    "sinks.write_objects_s": "sinks.write_objects",
    "sinks.merge_manifest_s": "sinks.merge_manifest",
    "lineage.kill_write_s": "lineage.kill",
    "lineage.resume_write_s": "lineage.resume",
    "knn.batch_s": "knn.batch",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "toy"), default="full")
    return p.parse_args(argv)


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _ratio(a, b) -> float:
    return float(a) / float(b) if b else 0.0


def pass_layer_values(spans: list[dict], facts: dict, layer_counters) -> dict:
    """Per-layer figures of one traced pass."""
    by = {s["name"]: s for s in spans}
    out = {}
    for layer, counters in layer_counters(spans).items():
        out.update({f"{layer}.{k}": v for k, v in counters.items()})
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out.update({f"{layer}.{k}": v for k, v in s["counts"].items()})
    out.update({m: by[name]["dur_s"] for m, name in SPAN_TIMES.items() if name in by})
    if "cells.encode" in by and "pip.flagship" in by:
        out["pip.join_refine_s"] = by["pip.flagship"]["dur_s"] - by["cells.encode"]["dur_s"]
        out["cells.rows"] = by["cells.encode"]["spark"]["input_records"]
    if "knn.batch" in by:
        out["knn.spark_jobs"] = by["knn.batch"]["spark_jobs"]
    if "lineage.resume" in by:
        out.update({
            "lineage.batches": facts["batches"],
            "lineage.partitions": facts["partitions"],
            "lineage.files": facts["files"],
            "lineage.bytes": facts["stored_bytes"],
            "lineage.bytes_per_row": _ratio(facts["stored_bytes"], facts["outputs"]),
            "lineage.resume_input_ratio": _ratio(by["lineage.resume"]["spark"]["input_records"],
                                                 facts["resume_rows"]),
        })
    if "sinks.write_objects" in by:
        out["sinks.bytes_per_doc"] = _ratio(facts["stored_bytes"], facts["outputs"])
    if "pass" in by:
        out["trace.pass_self_s"] = by["pass"]["self_s"]
    return out


def workload_figures(name: str, untraced: list[dict]) -> dict:
    """End-to-end figures that apply to one workload only, printed beside
    the BENCHMARK.json metrics: name -> (value, unit)."""
    if name == "assign":
        return {"images_per_s": (_median(f["inputs"] / f["s"] for f in untraced), "images/s")}
    return {
        "docs_per_s": (_median(f["outputs"] / f["s"] for f in untraced), "docs/s"),
        "stored_bytes_per_row": (_median(f["stored_bytes"] / f["outputs"] for f in untraced), "bytes/row"),
    }


def run(args, workdir: str) -> tuple[dict, dict, int, int, bool]:
    import harness
    import workloads

    trace_path = os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.jsonl")
    attempted = failed = failed_passes = 0
    build_s, untraced, traced = [], [], []
    session_s = warm_s = 0.0
    values: dict = {}
    with harness.RssSampler() as rss:
        session = harness.Session(ROOT, workdir, harness.core_count())
        try:
            ctx = workloads.Context(session, args.seed, workloads.SIZES[args.scale], workdir)
            wl = workloads.WORKLOADS[args.workload](ctx)
            t0 = time.perf_counter()
            session.start()
            session_s = time.perf_counter() - t0
            for _ in range(BUILDS):
                t0 = time.perf_counter()
                wl.build()
                build_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t0

            tracer = harness.Tracer(session.spark.sparkContext, wl.name, args.seed, enabled=bool(args.trace))
            spent, i = 0.0, 0
            while failed_passes < MAX_FAILED_PASSES and (
                spent < args.seconds or len(untraced) < MIN_PASSES
                or (args.trace and len(traced) < MIN_PASSES)
            ):
                # the traced run alternates untraced and traced passes, so the
                # tracing overhead is measured within one run
                tr = tracer if args.trace and i % 2 else harness.OFF
                tracer.pass_id = i
                attempted += 1
                rss.start_window()
                t0 = time.perf_counter()
                try:
                    facts = wl.run_pass(tr)
                except Exception:  # a failed pass is counted, and the run goes on
                    traceback.print_exc(file=sys.stderr)
                    facts = None
                dt = time.perf_counter() - t0
                spent += dt
                i += 1
                if facts is None:
                    failed += 1
                    failed_passes += 1
                    continue
                facts.update({"s": dt, "pass": tracer.pass_id, "rss": rss.end_window()})
                for check in wl.check_pass(facts):
                    attempted += 1
                    failed += _report(check)
                (traced if tr is tracer else untraced).append(facts)

            if args.trace:
                wl.probe_counts()
            for check in wl.check_run():
                attempted += 1
                failed += _report(check)
            if args.trace:
                tracer.finish(trace_path)
        finally:
            session.shutdown()

    figures = workload_figures(args.workload, untraced) if untraced else {}
    figures["failed_op_frac"] = (_ratio(failed, attempted), "ratio")
    figures["seed"] = (args.seed, "seed")
    figures["passes"] = (len(untraced) + len(traced), "count")
    figures["session_start_s"] = (session_s, "s")
    figures["build_s"] = (_median(build_s), "s")
    figures["warm_up_s"] = (warm_s, "s")
    if args.trace:
        per_pass = []
        for facts in traced:
            spans = [s for s in tracer.spans if s["pass"] == facts["pass"]]
            per_pass.append(pass_layer_values(spans, facts, harness.layer_counters))
        for key in {k for p in per_pass for k in p}:
            values[key] = _median(p[key] for p in per_pass if key in p)
        values.update(wl.run_counts)
        if "pip.candidates" in values:
            values["pip.refine_keep_ratio"] = _ratio(values.get("pip.assignments", 0), values["pip.candidates"])
        untraced_s = _median(f["s"] for f in untraced)
        traced_s = _median(s["dur_s"] for s in tracer.spans if s["name"] == "pass")
        values["trace.pass_untraced_s"] = untraced_s
        values["trace.pass_traced_s"] = traced_s
        values["trace.overhead_frac"] = _ratio(traced_s - untraced_s, untraced_s)
    elif untraced:
        values["setup_s"] = session_s + _median(build_s) + warm_s
        values["input_records_per_s"] = _median(f["inputs"] / f["s"] for f in untraced)
        values["peak_rss_mb"] = _median(f["rss"] for f in untraced) / 2**20
    ok = failed == 0 and bool(untraced)
    return values, figures, attempted, failed, ok


def _report(check) -> int:
    for what in check.failures:
        print(f"perfbench: oracle {check.name}: {what}", file=sys.stderr)
    return 0 if check.ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(spec_path) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: cannot read {spec_path}: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import stac_to_geocore_spark  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"perfbench: the engine package is not in this checkout ({e})", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        values, figures, attempted, failed, ok = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"{name}\t{m['value']!r}\t{m['unit']}")
    for name, (value, unit) in figures.items():
        print(f"{name}\t{value!r}\t{unit}")
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
