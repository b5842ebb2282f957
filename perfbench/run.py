"""Benchmark entry point.  Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

``--trace 0`` times the workload with tracing off and reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs a traced and
then an untraced unit and reports the per-layer metrics.  The
next-to-last stdout line is a JSON summary (the per-operation figures of
perfbench/README.md with units, host probes, phase times, failures); the
last line is the result object.  Exits non-zero, printing no result, when
the program or its fixtures are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import inputs  # noqa: E402
from common import NPROC, Env, Peak, Record, Timer  # noqa: E402
from tracing import Tracer, nesting_violations, self_times  # noqa: E402

SETUP_REPS = 3
REQUIRED = (
    "BENCHMARK.json",
    "repurpose_spark/__init__.py",
    "__spark_entry__.py",
    "bench.py",
    "tools/check_entry.py",
)
# per-layer metric prefixes each workload measures; the others read 0
LAYERS = {
    "pipeline": (
        "session.", "tables.", "pipeline.", "rollup.", "encode.", "skew.",
        "compaction.", "retention.", "spark.", "trace.",
    ),
    "queries": ("session.", "entry.", "spark.", "trace."),
}


def mark(out, phase: str) -> None:
    """Wall-clock end of a run phase, for the summary."""
    out["summary"].setdefault("phase_end", {})[phase] = time.time()


def set_up(env, out, stage):
    """Set up SETUP_REPS times: (re)start the session, then ``stage``;
    ``setup_s`` is the median.  Returns the session and the last stage
    result."""
    setups, starts, staged = [], [], None
    for _ in range(SETUP_REPS):
        with Timer() as t:
            with Timer() as s:
                if "spark" in out:
                    out.pop("spark").stop()
                out["spark"] = common.start_session(env)
            staged = stage(out["spark"])
        setups.append(t.s)
        starts.append(s.s)
    out["setup_s"] = statistics.median(setups)
    out["session_start_s"] = statistics.median(starts)
    out["summary"]["setup_reps_s"] = setups
    mark(out, "setup")
    return out["spark"], staged


def warm_up(out, fn) -> None:
    with Timer() as w:
        fn()
    out["summary"]["warmup_s"] = w.s
    mark(out, "warmup")


def measure(spark, args, out, unit, total, layers) -> None:
    """Time ``unit(tracer=None)`` (None when it failed) until
    ``--seconds`` have passed, at least once; or, traced, run it traced
    and then untraced and compute the per-layer metrics."""
    if args.trace:
        # the overhead is taken against the later untraced unit, so
        # residual warm-up cannot hide it
        tracer = Tracer(*common.job_group_hooks(spark.sparkContext))
        with Peak() as peak:
            traced = unit(tracer)
        plain = unit()
        if plain is None or traced is None:
            return
        import sparkrest

        out["layers"] = {
            **layers(tracer.spans, sparkrest.SparkRest(spark.sparkContext), traced),
            "trace.overhead_share": total(traced) / total(plain) - 1,
            "session.peak_rss_mb": peak.mb,
        }
        out["tracer"] = tracer
        return
    units = []
    t0 = time.perf_counter()
    with Peak() as peak:
        while not units or time.perf_counter() - t0 < args.seconds:
            u = unit()
            if u is None:
                break
            units.append(u)
    out["peak_rss_mb"] = peak.mb
    out["units"] = units
    out["summary"]["units"] = len(units)


def run_pipeline(env, args, rec, out):
    import pipeline_wl as pw

    offset = inputs.doc_offset(args.seed)
    digests = []

    def stage(spark):
        st = pw.Staged(env.path("pipeline"), offset, pw.N_DOCS)
        digests.append(st.digest)
        return st

    spark, staged = set_up(env, out, stage)
    op = rec.new_op()
    if len(set(digests)) != 1:
        rec.fail(op, "staged inputs differ between set-ups of one seed")
    out["summary"].update(
        doc_offset=offset, n_docs=pw.N_DOCS, input_tokens=staged.tokens,
        input_digest=digests[0],
    )
    warm_up(out, lambda: pw.warm_up(spark, staged, rec))

    measure(
        spark, args, out,
        unit=lambda tracer=None: pw.attempt_cycle(spark, staged, rec, tracer),
        total=lambda c: c["total_s"],
        layers=lambda spans, rest, c: pw.layer_metrics(spans, rest, c, NPROC),
    )
    if out.get("units"):
        out["e2e"] = pw.cycle_metrics(out["units"])


def run_queries(env, args, rec, out):
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    import queries_wl as qw
    from repurpose_spark.sources.testdata import TABLES

    def stage(spark):
        # fixture digest: every table present, with its row count
        sf = qw.fixture_dir(entry)
        return {
            t: pq.ParquetFile(os.path.join(sf, f"{t}.parquet")).metadata.num_rows
            for t in TABLES
        }

    spark, rows = set_up(env, out, stage)
    names = list(qw.LEAVES)
    order = inputs.leaf_order(names, args.seed)
    out["summary"].update(fixtures=rows, leaf_order=order)
    warm_up(out, lambda: qw.check_pass(spark, env.root, entry, names, rec))

    def unit(tracer=None):
        p = qw.timed_pass(spark, entry, order, rec, tracer)
        return p if len(p) == len(names) else None

    measure(
        spark, args, out,
        unit=unit,
        total=lambda p: sum(c + x for c, x in p.values()),
        layers=lambda spans, rest, p: qw.layer_metrics(spans, rest, p, NPROC),
    )
    if out.get("units"):
        out["e2e"] = qw.pass_metrics(out["units"])


WORKLOADS = {"pipeline": run_pipeline, "queries": run_queries}

# per-operation figures printed in the summary line, with their units
SUMMARY_UNITS = {
    "ingest_tokens_per_s": "tokens/s",
    "tier_bytes_per_token": "B/token",
    "refresh_p50_s": "s",
    "maintenance_s": "s",
    "query_total_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "op_failure_ratio": "ratio",
}


def write_trace(env, args, tracer) -> str:
    os.makedirs(env.traces, exist_ok=True)
    path = os.path.join(env.traces, f"{args.workload}-seed{args.seed}.json")
    selfs = self_times(tracer.spans)
    with open(path, "w") as f:
        json.dump(
            [
                {**vars(s), "self_s": selfs[s.span_id], "wall_s": s.wall}
                for s in tracer.spans
            ],
            f,
        )
    return os.path.relpath(path, env.root)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if not missing:
        sys.path.insert(0, root)
        import __spark_entry__ as entry
        import queries_wl

        sf = queries_wl.fixture_dir(entry)
        missing = [] if os.path.isdir(sf) else [sf]
    if missing:
        print(f"perfbench: missing {missing}; run from a checkout root",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    env = Env(root)
    rec = Record()
    out = {"summary": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": NPROC, "driver_mem": os.environ["SPARK_DRIVER_MEM"],
    }}
    probes = [common.host_probe()]
    mark(out, "probe")
    try:
        WORKLOADS[args.workload](env, args, rec, out)
    finally:
        mark(out, "timed")
        if "spark" in out:
            common.stop_session(out.pop("spark"))
        env.cleanup()
        mark(out, "teardown")
    probes.append(common.host_probe())

    summary = out["summary"]
    summary["probes"] = probes
    summary["op_failure_ratio"] = rec.failed / max(rec.attempted, 1)
    summary["failures"] = {str(k): v for k, v in list(rec.failures.items())[:20]}
    correct = rec.failed == 0
    if args.trace:
        tracer = out.get("tracer")
        if tracer is None:
            print(json.dumps(summary, default=str))
            print("perfbench: traced unit failed", file=sys.stderr)
            return 1
        bad = nesting_violations(tracer.spans)
        selfs = self_times(tracer.spans)
        bad += [
            s.span_id for s in tracer.spans if selfs[s.span_id] > s.wall + 1e-9
        ]
        summary["trace_violations"] = bad
        summary["trace_file"] = write_trace(env, args, tracer)
        correct = correct and not bad
        values = {**out["layers"], "session.start_s": out["session_start_s"]}
        own = LAYERS[args.workload]
        metrics = {}
        for m in spec["per_layer"]:
            v = values.get(m["name"])
            if v is None:
                if m["name"].startswith(own):
                    raise KeyError(f"{args.workload} did not measure {m['name']}")
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    else:
        if "e2e" not in out:
            print(json.dumps(summary, default=str))
            print("perfbench: no timed unit completed", file=sys.stderr)
            return 1
        values = {
            **out["e2e"],
            "setup_s": out["setup_s"],
            "peak_rss_mb": out["peak_rss_mb"],
            "op_failure_ratio": summary["op_failure_ratio"],
        }
        summary["metrics"] = {
            k: {"value": values[k], "unit": u}
            for k, u in SUMMARY_UNITS.items() if k in values
        }
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
