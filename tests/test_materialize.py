"""One lifetime rule for every materialized frame: the package persists
and checkpoints only through ``plans/materialize.py``, a scope releases
everything registered in it, and outside a scope only the newest four
persisted frames stay cached."""

import inspect
import os
import pathlib
import re

from repurpose_spark.plans.materialize import materialize, materialize_scope

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_only_the_module_persists_or_releases():
    call = re.compile(r"\.(persist|cache|localCheckpoint|unpersist)\(")
    gone = re.compile(
        r"_CAND_CACHE|_CAND_KEEP|_retire_cand_caches|_persist_lsh_front"
        r"|_SIG_CACHE|_SIG_KEEP|_retire_sig_caches"
    )
    owner = ROOT / "repurpose_spark" / "plans" / "materialize.py"
    hits = []
    for path in sorted((ROOT / "repurpose_spark").rglob("*.py")):
        text = path.read_text()
        if path != owner:
            hits += [f"{path}: {m.group(0)}" for m in call.finditer(text)]
        hits += [f"{path}: {m.group(0)}" for m in gone.finditer(text)]
    for path in [ROOT / "__spark_entry__.py", *(ROOT / "tests").glob("*.py")]:
        if path != pathlib.Path(__file__).resolve():
            text = path.read_text()
            hits += [f"{path}: {m.group(0)}" for m in gone.finditer(text)]
    assert hits == []


def test_outside_scope_keeps_newest_four_and_every_checkpoint(spark):
    before = _persistent_rdds(spark)
    ckpt = materialize(
        spark.range(40).selectExpr("id % 7 AS k"), checkpoint=True
    )
    frames = [
        materialize(spark.range(10 + i).selectExpr(f"id * {i + 2} AS v"))
        for i in range(5)
    ]
    for df in frames:
        df.count()
    assert [df.is_cached for df in frames] == [False, True, True, True, True]
    assert [df.storageLevel.useMemory for df in frames] == [False] + [True] * 4
    # the checkpoint registered before them is never evicted
    assert ckpt.count() == 40
    with materialize_scope():
        scoped = materialize(spark.range(9).selectExpr("id + 1 AS w"))
        assert scoped.count() == 9
        scoped_ckpt = materialize(spark.range(8), checkpoint=True)
        assert scoped_ckpt.count() == 8
        assert len(_persistent_rdds(spark) - before) == 7
    # the scope released both kinds; the outside frames are untouched
    assert not scoped.is_cached
    assert len(_persistent_rdds(spark) - before) == 5
    assert ckpt.count() == 40


def test_headline_leaves_leave_nothing_behind(spark):
    """Every bench headline leaf, built and written to noop inside a
    scope, leaves no persisted or checkpointed RDD behind."""
    import __spark_entry__ as entry
    import bench

    default = inspect.signature(entry.oracle_sql).parameters["sf_dir"].default
    sf_dir = os.path.join(os.path.dirname(default), "sf0.001")
    qs = {**entry.queries(), **entry.extra_queries()}
    before = _persistent_rdds(spark)
    leaked = {}
    for name in bench.HEADLINE:
        with materialize_scope():
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        extra = _persistent_rdds(spark) - before
        if extra:
            leaked[name] = sorted(extra)
            before |= extra
    assert leaked == {}


def test_threads_share_the_keep_rule_but_not_scopes(spark):
    """Eight threads register at once under a shortened switch
    interval: the outside-scope list still keeps exactly four frames
    cached, and a scope captures only its own thread's frames."""
    import sys
    import threading

    def outside(out):
        for i in range(5):
            out.append(materialize(spark.range(i + 1).selectExpr("id AS t")))

    def scoped(out):
        with materialize_scope():
            out.append(materialize(spark.range(3).selectExpr("id AS s")))
            done.wait(timeout=60)
        out.append(out[0].is_cached)

    done = threading.Event()
    frames = [[] for _ in range(8)]
    kept = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        holder = threading.Thread(target=scoped, args=(kept,))
        holder.start()
        workers = [
            threading.Thread(target=outside, args=(f,)) for f in frames
        ]
        for t in workers:
            t.start()
        for t in workers:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in workers)
        # the other threads' registrations never evicted the scoped frame
        assert kept[0].is_cached
        done.set()
        holder.join(timeout=60)
        assert not holder.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert kept[1] is False
    cached = [df for f in frames for df in f if df.is_cached]
    assert len(cached) == 4
