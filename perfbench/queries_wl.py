"""The ``queries`` workload: nine of the 50 ``__spark_entry__.queries()``
leaves, one at a time, each built and written to the ``noop`` sink.

A pass over all 50 leaves costs about as much as the whole time a run
may take (each leaf is dominated by fixed per-job costs, so even the
sf0.001 fixtures do not make it cheaper), so the workload times a fixed
set of nine, one per operator family: reorient, gapfill, collocate,
Gorilla encoding, ortho layout, resampling, MinHash near-duplicate
components (the heaviest eager construction-time probes), packing and
LSH similarity.

Timed leaves run on the sf0.1 fixtures, in a seed-shuffled order.  The
output check runs first, on the same fixtures, and doubles as the
warm-up: every leaf is collected and compared with its ``oracle_sql()``
twin, computed by DuckDB on a side thread meanwhile.  A check on the
smaller sf0.01 fixtures would cost as much and leave the first timed
pass a third slower, as the plans for sf0.1 would still be cold.
"""

from __future__ import annotations

import importlib.util
import inspect
import os
import statistics
import threading

DUCKDB_THREADS = 2
LEAVES = (
    "seq_reorient_roundtrip",
    "seq_gapfill_hourly",
    "seq_collocate_2h",
    "seq_gorilla_roundtrip",
    "seq_ortho_layout",
    "knn_resample_weighted",
    "doc_neardup_components",
    "doc_pack_assignments",
    "emb_lsh_topk",
)


def fixture_dir(entry) -> str:
    """The sf0.1 sibling of the fixture directory ``oracle_sql()``
    defaults to."""
    default = inspect.signature(entry.oracle_sql).parameters["sf_dir"].default
    return os.path.join(os.path.dirname(default), "sf0.1")


def load_check_entry(root: str):
    """tools/check_entry.py, for its result normalisation."""
    spec = importlib.util.spec_from_file_location(
        "check_entry", os.path.join(root, "tools", "check_entry.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle(threading.Thread):
    """DuckDB results of every leaf's oracle_sql() twin, on a side thread."""

    def __init__(self, entry, tables, sf_dir, names):
        super().__init__(daemon=True)
        self.entry, self.tables, self.sf_dir, self.names = entry, tables, sf_dir, names
        self.results: dict = {}

    def run(self):
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET threads={DUCKDB_THREADS}")
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            sql = self.entry.oracle_sql(self.sf_dir)
            for name in self.names:
                try:
                    res = con.sql(sql[name])
                    self.results[name] = (res.columns, res.fetchall())
                except Exception as e:  # noqa: BLE001 — reported per leaf
                    self.results[name] = e
        finally:
            con.close()


def check_pass(spark, root, entry, names, rec) -> None:
    """Collect every leaf on the fixtures and compare it with
    DuckDB.  A mismatch fails the leaf's op."""
    from repurpose_spark.sources.testdata import TABLES

    ce = load_check_entry(root)
    sf = fixture_dir(entry)
    oracle = Oracle(entry, TABLES, sf, names)
    oracle.start()
    qs = entry.queries()
    got = {}
    for name in names:
        try:
            df = qs[name](spark, sf)
            got[name] = (df.columns, df.collect())
        except Exception as e:  # noqa: BLE001 — reported per leaf
            got[name] = e
    oracle.join()
    for name in names:
        g, want = got[name], oracle.results.get(name)
        if isinstance(g, Exception) or isinstance(want, Exception) or want is None:
            rec.fail(name, f"check {name}: spark {g!r:.200} / duckdb {want!r:.200}")
            continue
        (scols, srows), (dcols, drows) = g, want
        if sorted(scols) != sorted(dcols) or len(srows) != len(drows):
            rec.fail(name, f"check {name}: shape {sorted(scols)}x{len(srows)} "
                     f"vs {sorted(dcols)}x{len(drows)}")
        elif ce._rows_to_set(
            scols, [[r[c] for c in scols] for r in srows]
        ) != ce._rows_to_set(dcols, drows):
            rec.fail(name, f"check {name}: values differ from DuckDB")


def timed_pass(spark, entry, order, rec, tracer=None) -> dict:
    """One pass over the leaves.  Returns per-leaf (construct, execute)
    seconds.  ``tracer`` wraps each leaf, its construction, its noop
    write and every DataFrameReader.parquet call in spans."""
    from pyspark.sql.readwriter import DataFrameReader

    from common import Timer

    qs = entry.queries()
    sf = fixture_dir(entry)
    out = {}
    original = DataFrameReader.parquet
    if tracer:
        def traced_parquet(self, *paths, **kw):
            with tracer.span("entry.read"):
                return original(self, *paths, **kw)

        DataFrameReader.parquet = traced_parquet
    try:
        for name in order:
            rec.new_op()
            try:
                if tracer:
                    with tracer.operation(name), tracer.span("op.leaf", leaf=name):
                        with Timer() as c, tracer.span("entry.construct"):
                            df = qs[name](spark, sf)
                        with Timer() as x, tracer.span("entry.execute"):
                            df.write.format("noop").mode("overwrite").save()
                else:
                    with Timer() as c:
                        df = qs[name](spark, sf)
                    with Timer() as x:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — an op failure is a result
                rec.fail(name, f"{name}: {type(e).__name__}: {e}")
                continue
            out[name] = (c.s, x.s)
    finally:
        DataFrameReader.parquet = original
    return out


def pass_metrics(passes: list) -> dict:
    """Medians across passes of each pass's figures.  A pass has nine
    leaves, too few for a tail percentile with ten samples beyond it, so
    ``summarize`` gives the median only; the maximum is reported too."""
    from tracing import summarize

    med = statistics.median
    leaves = [[c + x for c, x in p.values()] for p in passes]
    stats = [summarize(v) for v in leaves]
    total = med(sum(v) for v in leaves)
    p50 = med(s["p50"] for s in stats)
    return {
        "total_s": total,
        "op_p50_s": p50,
        "op_max_s": med(max(v) for v in leaves),
        "query_total_s": total,
        "query_p50_s": p50,
        "query_n": stats[0]["n"],
        "construct_s": med(sum(c for c, _ in p.values()) for p in passes),
    }


def layer_metrics(spans, rest, leaf_times, nproc) -> dict:
    import sparkrest

    jobs, stages = rest.settled()
    by_group = sparkrest.stages_by_group(jobs, stages)
    njobs = sparkrest.jobs_by_group(jobs)
    sparkrest.annotate(spans, by_group, njobs)
    by_id = {s.span_id: s for s in spans}

    def subtree_jobs(names):
        """Jobs run under spans called ``names`` or their descendants."""
        def inside(s):
            while s is not None:
                if s.name in names:
                    return True
                s = by_id.get(s.parent)
            return False

        return sum(njobs.get(s.span_id, 0) for s in spans if inside(s))

    def wall(name):
        return sum(s.wall for s in spans if s.name == name)

    ops = [s for s in spans if s.name.startswith("op.")]
    all_stages = [st for s in spans for st in by_group.get(s.span_id, [])]
    return {
        "entry.construct_s": wall("entry.construct"),
        "entry.construct_jobs": subtree_jobs({"entry.construct"}),
        "entry.execute_s": wall("entry.execute"),
        "entry.read_s": wall("entry.read"),
        "entry.read_jobs": subtree_jobs({"entry.read"}),
        **{f"entry.{n}_s": c + x for n, (c, x) in leaf_times.items()},
        **sparkrest.engine_metrics(ops, all_stages, njobs, spans, nproc),
    }
