"""The ``pipeline`` workload: durable ingest, incremental refresh and
maintenance through ``TierPipeline`` and ``Warehouse``.

One timed cycle, one client, closed loop:

1. ``TierPipeline.run(input_path=..., n_batches=2)`` over 25k skewed docs
   (about 8M tokens) staged as 64 parquet files, with 32 cells;
2. two increments of 8 new docs, one file each, ``run_incremental``
   after each lands;
3. ``compact()``, ``apply_retention({"hourly": 6 h})``,
   ``expire_snapshots(2)``.

Every cycle rebuilds the base warehouse and resets the input directory at
the same paths: the ledger pins absolute input paths, and a copy at a
new path makes every base file look new to ``run_incremental``.

The sizes keep a run within the benchmark's time budget on a shared
4-core host.  Fixed costs dominate: the ingest takes about as long at 2k
docs as at 25k; each batch adds a write, a lineage job and a ledger
commit (two batches take about two thirds of the time of four); every
write, compaction and check lists and writes one file per cell (a cycle
on 32 cells takes about 60% of the time of one on 64); and each
increment costs a fixed few seconds whatever its size.  An increment of
8 docs touches about a fifth of the 32 cells, as one of 16 docs does of
64.
"""

from __future__ import annotations

import os
import shutil
import statistics

import inputs
from common import Record, Timer
from tracing import self_times

N_DOCS = 25_000
N_FILES = 64
N_BATCHES = 2
N_CELLS = 32
INC_DOCS = 8
N_INCS = 2
HORIZON = "2020-01-01 06:00:00"
JOB = "bench"


def data_files(table_dir: str) -> dict:
    """relative path -> size of the parquet files under a table's data dir."""
    out = {}
    for root, _dirs, names in os.walk(table_dir):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[os.path.relpath(p, table_dir)] = os.path.getsize(p)
    return out


def traced_classes(tracer):
    """Warehouse / TierPipeline subclasses whose public calls (and the
    ledger commits and sidecar reads the pipeline makes through them)
    record spans.  Used only by the traced cycle."""
    from repurpose_spark.plans.pipeline import LEDGER, TierPipeline
    from repurpose_spark.sources.tables import Warehouse

    class TracedWarehouse(Warehouse):
        batch_span = None

        def _written(self, span, table_dir, before):
            after = data_files(table_dir)
            new = [p for p in after if p not in before]
            span.attrs["files_written"] = len(new)
            span.attrs["bytes_written"] = sum(after[p] for p in new)

        def write(self, df, table, *a, **kw):
            with tracer.span("tables.write", table=table) as s:
                before = data_files(self.path(table))
                super().write(df, table, *a, **kw)
                self._written(s, self.path(table), before)

        def overwrite_partitions(self, df, table, *a, **kw):
            with tracer.span("tables.partition_overwrite", table=table) as s:
                before = data_files(self.path(table))
                super().overwrite_partitions(df, table, *a, **kw)
                self._written(s, self.path(table), before)

        def write_batch_partition(self, df, table, batch_id, *a, **kw):
            # the batch span closes after the batch's ledger commit, so
            # its self time is the per-cell lineage job between the two
            self.batch_span = tracer.open("pipeline.batch", batch_id=batch_id)
            with tracer.span("tables.batch_write", table=table) as s:
                d = os.path.join(self.path(table), f"batch_id={batch_id}")
                super().write_batch_partition(df, table, batch_id, *a, **kw)
                self._written(s, d, {})

        def read(self, table, *a, **kw):
            with tracer.span("tables.read", table=table):
                return super().read(table, *a, **kw)

        def _commit_many(self, table, mode, records):
            with tracer.span("tables.commit", table=table, mode=mode):
                super()._commit_many(table, mode, records)
            if (
                self.batch_span is not None
                and self.batch_span.end is None
                and table.endswith(LEDGER)
                and mode == "append"
            ):
                tracer.close(self.batch_span)
                self.batch_span = None

        def snapshots(self, table):
            with tracer.span("tables.snapshots", table=table) as s:
                out = super().snapshots(table)
                s.attrs["lines"] = len(out)
                return out

        def expire_snapshots(self, table, keep_last=2):
            with tracer.span("tables.expire_snapshots", table=table):
                return super().expire_snapshots(table, keep_last)

    class TracedPipeline(TierPipeline):
        def run(self, *a, **kw):
            with tracer.span("pipeline.run"):
                return super().run(*a, **kw)

        def run_incremental(self, *a, **kw):
            with tracer.span("pipeline.run_incremental"):
                return super().run_incremental(*a, **kw)

        def plan_batches(self, *a, **kw):
            with tracer.span("pipeline.plan"):
                return super().plan_batches(*a, **kw)

        def finalize(self, *a, **kw):
            with tracer.span("pipeline.finalize"):
                return super().finalize(*a, **kw)

        def compact(self, *a, **kw):
            with tracer.span("compaction.compact"):
                return super().compact(*a, **kw)

        def apply_retention(self, *a, **kw):
            with tracer.span("retention.apply"):
                return super().apply_retention(*a, **kw)

        def expire_snapshots(self, *a, **kw):
            with tracer.span("pipeline.expire_snapshots"):
                return super().expire_snapshots(*a, **kw)

    return TracedWarehouse, TracedPipeline


class Staged:
    """A seed's inputs on disk plus the values the checks expect."""

    def __init__(self, root: str, offset: int, n_docs: int):
        self.root = root
        self.in_dir = os.path.join(root, "in")
        self.n_docs = n_docs
        shutil.rmtree(root, ignore_errors=True)
        base = inputs.write_sequences(self.in_dir, offset, n_docs, N_FILES)
        self.incs = []
        # the cells an increment's doc ids hash to: what a refresh must touch
        self.touched = []
        for k in range(N_INCS):
            first = offset + n_docs + k * INC_DOCS
            self.incs += inputs.write_sequences(
                os.path.join(root, "incs"), first, INC_DOCS, 1, prefix=f"inc{k}"
            )
            self.touched.append(sorted({
                inputs.cell_of(f"doc{i:08d}", N_CELLS)
                for i in range(first, first + INC_DOCS)
            }))
        self.digest = inputs.files_digest(base + self.incs)
        self.tokens = inputs.closed_form_tokens(offset, n_docs)


class CycleFailed(Exception):
    pass


def run_cycle(spark, staged: Staged, rec: Record, tracer=None) -> dict:
    """One timed cycle.  Returns op latencies and what the checks saw."""
    from pyspark.sql import functions as F

    from repurpose_spark.config import EngineConfig
    from repurpose_spark.plans.pipeline import TierPipeline
    from repurpose_spark.sources.tables import Warehouse

    wh_dir = os.path.join(staged.root, "wh")
    for f in os.listdir(staged.in_dir):
        if f.startswith("inc"):
            os.remove(os.path.join(staged.in_dir, f))
    shutil.rmtree(wh_dir, ignore_errors=True)
    cfg = EngineConfig(n_cells=N_CELLS)
    wh_cls, pipe_cls = (
        traced_classes(tracer) if tracer else (Warehouse, TierPipeline)
    )
    pipe = pipe_cls(spark, wh_cls(spark, wh_dir), cfg, job_id=JOB)
    # the checks read through an untraced twin of the same warehouse
    plain = TierPipeline(spark, Warehouse(spark, wh_dir), cfg, job_id=JOB)
    wh = plain.wh
    out = {
        "ops": [], "refresh_s": [], "refreshed": [], "touched": [],
        "tokens": staged.tokens,
    }

    def op(kind, fn):
        op_id = rec.new_op()
        try:
            with Timer() as t:
                if tracer:
                    with tracer.operation(f"{kind}-{op_id}"), tracer.span(
                        f"op.{kind}"
                    ):
                        res = fn()
                else:
                    res = fn()
        except Exception as e:  # noqa: BLE001 — an op failure is a result
            rec.fail(op_id, f"{kind}: {type(e).__name__}: {e}")
            raise CycleFailed from e
        out["ops"].append((kind, t.s))
        return op_id, res, t.s

    def hourly_stats():
        r = wh.read(plain.hourly_table()).agg(
            F.count(F.lit(1)).alias("n"), F.sum("sum_v").alias("v")
        ).first()
        return r["n"], r["v"]

    op_id, _, out["ingest_s"] = op(
        "ingest", lambda: pipe.run(input_path=staged.in_dir, n_batches=N_BATCHES)
    )
    h = wh.read(plain.hourly_table()).agg(
        F.count(F.lit(1)).alias("rows"), F.sum("n_points").alias("pts")
    ).first()
    d_pts = wh.read(plain.daily_table()).agg(F.sum("n_points")).first()[0]
    n_packed = wh.read(plain.packed_table()).count()
    for ok, what in (
        (h["pts"] == staged.tokens, f"hourly points {h['pts']} != {staged.tokens}"),
        (d_pts == h["pts"], f"daily points {d_pts} != hourly {h['pts']}"),
        (n_packed == staged.n_docs, f"packed rows {n_packed} != {staged.n_docs}"),
    ):
        if not ok:
            rec.fail(op_id, what)
    tier_bytes = {
        t: sum(data_files(wh.path(t)).values())
        for t in (plain.hourly_table(), plain.daily_table(), plain.packed_table())
    }
    out["hourly_rows"] = h["rows"]
    out["tier_bytes"] = sum(tier_bytes.values())
    out["packed_bytes"] = tier_bytes[plain.packed_table()]
    per_cell: dict = {}
    for r in plain.ledger_rows():
        if r.get("status") == "cell":
            per_cell[r["cell_id"]] = per_cell.get(r["cell_id"], 0) + r["n_points"]
    total = sum(per_cell.values())
    out["hot_cells"] = sum(
        1 for v in per_cell.values() if v > pipe.hot_cell_threshold * total
    )

    for k, inc in enumerate(staged.incs):
        shutil.copyfile(inc, os.path.join(staged.in_dir, os.path.basename(inc)))
        op_id, res, s = op("refresh", lambda: pipe.run_incremental(staged.in_dir))
        want = len(staged.touched[k])
        out["refresh_s"].append(s)
        out["refreshed"].append(res["n_refreshed_cells"])
        out["touched"].append(want)
        if res["n_refreshed_cells"] != want:
            rec.fail(
                op_id,
                f"increment {k} refreshed {res['n_refreshed_cells']} cells, "
                f"its doc ids touch {want}",
            )

    n0, v0 = hourly_stats()
    op_id, res, out["compact_s"] = op("compact", pipe.compact)
    out["compact"] = res[plain.hourly_table()]
    n1, v1 = hourly_stats()
    if (n1, v1) != (n0, v0):
        rec.fail(op_id, f"compaction changed hourly {(n0, v0)} -> {(n1, v1)}")
    op_id, res, out["retention_s"] = op(
        "retention", lambda: pipe.apply_retention({"hourly": HORIZON})
    )
    ret = out["retention"] = res["hourly"]
    out["retained_bytes"] = sum(data_files(wh.path(plain.hourly_table())).values())
    if ret["n_kept"] + ret["n_dropped"] != n1:
        rec.fail(op_id, f"retention kept+dropped != {n1} rows before it: {ret}")
    op_id, _, out["expire_s"] = op("expire", lambda: pipe.expire_snapshots(2))
    n2, _ = hourly_stats()
    if n2 != ret["n_kept"]:
        rec.fail(op_id, f"hourly rows {n2} after expiry != {ret['n_kept']}")
    out["maintenance_s"] = out["compact_s"] + out["retention_s"] + out["expire_s"]
    out["total_s"] = sum(s for _, s in out["ops"])
    return out


def attempt_cycle(spark, staged, rec, tracer=None):
    """run_cycle, counting the ops a failure left unrun as failed."""
    before = rec.attempted
    try:
        return run_cycle(spark, staged, rec, tracer)
    except CycleFailed:
        for _ in range(1 + len(staged.incs) + 3 - (rec.attempted - before)):
            rec.fail(rec.new_op(), "not run: an earlier op of its cycle failed")
        return None


def warm_up(spark, staged: Staged, rec: Record) -> None:
    """One ingest of the staged input into a warehouse of its own,
    batched as the timed one.  The first ingest of a session pays for
    most of the JIT and code generation, and the refresh and maintenance
    paths reuse what it compiled; a smaller input leaves the hot loops
    of the timed ingest to be compiled while it runs."""
    from repurpose_spark.config import EngineConfig
    from repurpose_spark.plans.pipeline import TierPipeline
    from repurpose_spark.sources.tables import Warehouse

    wh_dir = os.path.join(staged.root, "warm-wh")
    op_id = rec.new_op()
    try:
        TierPipeline(
            spark, Warehouse(spark, wh_dir), EngineConfig(n_cells=N_CELLS),
            job_id=JOB,
        ).run(input_path=staged.in_dir, n_batches=N_BATCHES)
    except Exception as e:  # noqa: BLE001 — an op failure is a result
        rec.fail(op_id, f"warm-up ingest: {type(e).__name__}: {e}")
    shutil.rmtree(wh_dir, ignore_errors=True)


def cycle_metrics(cycles: list) -> dict:
    """End-to-end figures over the run's cycles (medians across cycles)."""
    med = statistics.median
    # the median op is the median refresh: the cycle's other ops differ
    # from each other by up to tenfold, so a median over all of them
    # would fall between two unrelated ops
    refresh = med(s for c in cycles for s in c["refresh_s"])
    return {
        "total_s": med(c["total_s"] for c in cycles),
        "op_p50_s": refresh,
        "op_max_s": med(max(s for _, s in c["ops"]) for c in cycles),
        "ingest_tokens_per_s": med(c["tokens"] / c["ingest_s"] for c in cycles),
        "tier_bytes_per_token": med(c["tier_bytes"] / c["tokens"] for c in cycles),
        "refresh_p50_s": refresh,
        "maintenance_s": med(c["maintenance_s"] for c in cycles),
    }


def layer_metrics(spans, rest, cycle, nproc) -> dict:
    """Per-layer figures of the traced cycle."""
    import sparkrest

    jobs, stages = rest.settled()
    by_group = sparkrest.stages_by_group(jobs, stages)
    njobs = sparkrest.jobs_by_group(jobs)
    sparkrest.annotate(spans, by_group, njobs)
    selfs = self_times(spans)
    by_id = {s.span_id: s for s in spans}

    def named(name, **attrs):
        return [
            s for s in spans
            if s.name == name and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def wall(name, **attrs):
        return sum(s.wall for s in named(name, **attrs))

    def stages_of(span_list):
        return [st for s in span_list for st in by_group.get(s.span_id, [])]

    def under(span, ancestor_name):
        p = by_id.get(span.parent)
        while p is not None:
            if p.name == ancestor_name:
                return True
            p = by_id.get(p.parent)
        return False

    ops = [s for s in spans if s.name.startswith("op.")]
    all_stages = stages_of(spans)
    batch_stages = stages_of(named("tables.batch_write"))
    map_stages = [s for s in batch_stages if s["inputBytes"] > 0]
    mp = sparkrest.totals(map_stages)
    tier_spans = {
        tier: [
            s for s in spans
            if s.name in ("tables.write", "tables.partition_overwrite")
            and s.attrs["table"] == f"{JOB}_{tier}"
            and under(s, "pipeline.finalize")
        ]
        for tier in ("daily", "packed")
    }
    fin_stages = stages_of(tier_spans["daily"] + tier_spans["packed"])
    skew = 0.0
    heavy = [s for s in fin_stages if s["numTasks"] > 1]
    if heavy:
        med, mx = rest.task_run_quantiles(max(heavy, key=lambda s: s["executorRunTime"]))
        skew = mx / med if med else 0.0
    plan_s = wall("pipeline.plan")
    for inc in named("pipeline.run_incremental"):
        runs = [s for s in spans if s.parent == inc.span_id and s.name == "pipeline.run"]
        if runs:
            plan_s += min(r.start for r in runs) - inc.start
    writes = [
        s for s in spans
        if s.name in ("tables.write", "tables.partition_overwrite", "tables.batch_write")
    ]
    refreshed = sum(cycle["refreshed"])
    comp = cycle["compact"]
    return {
        "pipeline.plan_s": plan_s,
        "pipeline.lineage_s": sum(selfs[s.span_id] for s in named("pipeline.batch")),
        "pipeline.finalize_s": wall("pipeline.finalize"),
        "pipeline.finalize_daily_s": sum(s.wall for s in tier_spans["daily"]),
        "pipeline.finalize_packed_s": sum(s.wall for s in tier_spans["packed"]),
        "pipeline.refreshed_cells": refreshed,
        "pipeline.refresh_precision": sum(cycle["touched"]) / refreshed if refreshed else 0.0,
        "pipeline.hot_cells": cycle["hot_cells"],
        "tables.batch_write_s": wall("tables.batch_write"),
        "tables.tier_write_s": wall("tables.write"),
        "tables.partition_overwrite_s": wall("tables.partition_overwrite"),
        "tables.read_s": wall("tables.read"),
        "tables.commit_s": wall("tables.commit"),
        "tables.snapshots_s": wall("tables.snapshots"),
        "tables.snapshot_lines_read": sum(s.attrs["lines"] for s in named("tables.snapshots")),
        "tables.files_written": sum(s.attrs.get("files_written", 0) for s in writes),
        "tables.bytes_written": sum(s.attrs.get("bytes_written", 0) for s in writes),
        "tables.expire_snapshots_s": wall("tables.expire_snapshots"),
        "rollup.map_stage_s": mp["executor_run_s"],
        "rollup.map_stage_cpu_s": mp["executor_cpu_s"],
        "rollup.partial_rows_per_token": mp["shuffle_write_records"] / cycle["tokens"],
        "rollup.shuffle_write_bytes": mp["shuffle_write_bytes"],
        "rollup.hourly_rows": cycle["hourly_rows"],
        "encode.packed_stage_s": sparkrest.totals(stages_of(tier_spans["packed"]))["executor_run_s"],
        "encode.packed_bytes_per_point": cycle["packed_bytes"] / cycle["hourly_rows"],
        "skew.finalize_task_max_over_median": skew,
        "compaction.compact_s": wall("compaction.compact"),
        "compaction.bytes_rewritten": comp["bytes"],
        "compaction.files_before": comp["files_before"],
        "compaction.files_after": comp["files_after"],
        "retention.expire_s": wall("retention.apply"),
        "retention.rows_dropped": cycle["retention"]["n_dropped"],
        "retention.bytes_rewritten": cycle["retained_bytes"],
        **sparkrest.engine_metrics(ops, all_stages, njobs, spans, nproc),
    }
