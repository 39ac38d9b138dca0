"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_serve --seed 1 --seconds 8 --trace 0

Runs one workload against the public API of `wrangler_spark` from the
checkout this file lives in, checks every output, prints the metrics
by name with their units, and ends with one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports
the end-to-end metrics; `--trace 1` measures again on the same state
with spans around each layer's entry points and reports the per-layer
metrics (spans are written to `.bench_out/`). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import harness
from harness import now

WORKLOADS = ("cdc_serve", "corpus_prep")

END_TO_END = {
    "setup_s": "s",
    "ingest_per_s": "1/s",
    "requests_per_s": "1/s",
    "request_s_p50": "s",
    "cpu_s_per_request": "s",
    "write_amp": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "cdc.events.gen_s": "s",
    "recipe.compile_s": "s",
    "recipe.plan_s": "s",
    "recipe.transform_s": "s",
    "recipe.rows_in": "count",
    "recipe.rows_out": "count",
    "recipe.error_rows": "count",
    "cdc.replay_epoch_s": "s",
    "cdc.checkpoint_s": "s",
    "cdc.jobs_per_epoch": "count",
    "cdc.tasks_per_epoch": "count",
    "cdc.failed_tasks": "count",
    "lake.merge_s": "s",
    "lake.merge.probe_s": "s",
    "lake.merge.write_s": "s",
    "lake.merge.keys": "count",
    "lake.merge.affected_buckets": "count",
    "lake.merge.files_written": "count",
    "lake.merge.bytes_written": "bytes",
    "lake.commit_s": "s",
    "lake.meta_bytes_per_commit": "bytes",
    "lake.compact_s": "s",
    "lake.compactions": "count",
    "lake.compact.bytes_rewritten": "bytes",
    "lake.delta_bytes_pending": "bytes",
    "lake.files_live": "count",
    "lake.files_per_bucket_max": "count",
    "lake.scan_plan_s": "s",
    "lake.files_read_per_lookup": "count",
    "lake.prune_frac": "ratio",
    "lake.table_changes_s": "s",
    "pipeline.annotate_s": "s",
    "pipeline.exact_dedup_s": "s",
    "pipeline.minhash_pairs_s": "s",
    "pipeline.clusters_s": "s",
    "pipeline.decontaminate_s": "s",
    "pipeline.pack_s": "s",
    "pipeline.candidate_pairs": "count",
    "pipeline.dup_recall": "ratio",
    "bench.self_s": "s",
    "recipe.self_s": "s",
    "cdc.replay.self_s": "s",
    "lake.merge.self_s": "s",
    "lake.table.self_s": "s",
    "lake.read.self_s": "s",
    "pipeline.self_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}

SELF_TIMED = ("bench", "recipe", "cdc.replay", "lake.merge", "lake.table", "lake.read", "pipeline")


def workload_class(name):
    if name == "cdc_serve":
        from cdc_serve import CdcServe

        return CdcServe
    from corpus_prep import CorpusPrep

    return CorpusPrep


def run(args) -> dict:
    # fail fast, before any result, when the program is not next to us
    if harness.ROOT not in sys.path:
        sys.path.insert(0, harness.ROOT)
    import wrangler_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(wrangler_spark.__file__))) != harness.ROOT:
        raise SystemExit(f"wrangler_spark imported from {wrangler_spark.__file__}, not this checkout")

    env = harness.Env(args.workload, args.seed)
    try:
        t = now()
        spark = env.start_spark()
        session_s = now() - t
        wl = workload_class(args.workload)(env, spark, args.seed, args.seconds)
        t = now()
        setup_s = session_s + wl.setup(reps=1 if args.trace else 3)
        t_meas = now()
        # a traced run keeps inputs for its later passes
        m = wl.measure(leave=(2 if wl.COLD else 1) if args.trace else 0)
        t_ver = now()
        wl.verify()
        parts = wl.setup_parts
        print(f"{args.workload}  phases: session {session_s:.1f}s, generate "
              f"{parts['generate']:.1f}s, builds {' '.join(f'{x:.1f}s' for x in parts['builds'])}, "
              f"warm-up {parts['warm']:.1f}s, setup total {t_meas - t:.1f}s, "
              f"measure {t_ver - t_meas:.1f}s, verify {now() - t_ver:.1f}s")
        e2e = wl.e2e(setup_s, m)
        for key, value, unit in wl.detail(m):
            print(f"{args.workload}  {key:<24} {value:>14.6g} {unit}")
        if not args.trace:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        else:
            from tracing import Tracer, install

            # the traced pass continues on the same state; its baseline is
            # the untraced pass just before it, warm like the traced one
            base = wl.measure(leave=1) if wl.COLD else m
            tracer = Tracer()
            install(tracer, force_pipeline_stages=(args.workload == "corpus_prep"))
            tm = wl.measure(tracer=tracer)
            wl.verify()
            values = dict.fromkeys(PER_LAYER, 0.0)
            values["session.start_s"] = session_s
            values.update(wl.layers(tracer, tm))
            selfs = tracer.self_times(wl.OP)
            for layer in SELF_TIMED:
                values[f"{layer}.self_s"] = selfs.get(layer, 0.0)
            values["trace.overhead_s"] = tm["mean_op_s"] - base["mean_op_s"]
            values["trace.overhead_frac"] = (
                values["trace.overhead_s"] / base["mean_op_s"] if base["mean_op_s"] else 0.0
            )
            out_dir = os.path.join(harness.ROOT, ".bench_out")
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        oc = wl.outcome
        print(f"{args.workload}  {'failed_frac':<24} {oc.failed / max(1, oc.attempted):>14.6g} ratio")
        for p in oc.problems:
            print(f"{args.workload}  check failed: {p}")
        for k, v in metrics.items():
            print(f"{args.workload}  {k:<30} {v['value']:>14.6g} {v['unit']}")
        return {
            "correct": oc.failed == 0,
            "attempted": oc.attempted,
            "failed": oc.failed,
            "metrics": metrics,
        }
    finally:
        env.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
