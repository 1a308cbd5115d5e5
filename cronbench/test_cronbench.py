"""The benchmark's own tests.

    python3 -m pytest cronbench -q -p no:cacheprovider

Only the last needs Spark: it starts a local[4] session and makes five
untraced and three traced billing calls on a tiny fact (about two minutes
on a 4-core box).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

TINY = gen.BillingShape(
    rows=3_000, lines=300, accounts=40, zipf_s=1.1, projects=5, services=3,
    skus_per_service=2, rule_accounts=20, rules_per_pattern=(10, 5, 5, 3, 5, 3, 3, 3),
    dup_share=0.1,
)


def test_same_seed_same_inputs_other_seed_other_inputs():
    fact, dim, shape = gen.billing_tables(TINY, 7)
    fact2, dim2, shape2 = gen.billing_tables(TINY, 7)
    fact3, dim3, _ = gen.billing_tables(TINY, 8)
    assert fact.equals(fact2) and dim.equals(dim2) and shape == shape2
    assert not fact.equals(fact3) and not dim.equals(dim3)
    assert fact.num_rows == fact3.num_rows  # seeds change values, not sizes

    docs, _ = gen.documents(gen.DocShape(docs=30), 7)
    docs2, _ = gen.documents(gen.DocShape(docs=30), 7)
    docs3, _ = gen.documents(gen.DocShape(docs=30), 8)
    assert docs.equals(docs2) and not docs.equals(docs3)


def test_every_declared_name_is_well_formed_and_used_once():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert all(NAME_RE.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))


STATS = {
    "jobs": 3, "stages": 4, "tasks": 9, "run_s": 1.0, "cpu_s": 0.8, "gc_s": 0.1,
    "input_mb": 1.0, "shuffle_write_mb": 0.5, "spill_mb": 0.0,
}


def _calls(traced: bool, corpus: bool) -> list[dict]:
    """Synthetic call records shaped like Run.one_call's."""
    names = ("corpus", "bpe.train", "bpe.encode") if corpus else run.BILLING_LAYER_ORDER
    layers = {n: (0.01, 0.1 * (k + 1), dict(STATS)) for k, n in enumerate(names)}
    layers["_files_read"] = 5
    base = {"ok": True, "input_rows": 100, "output_rows": 10, "files": 5, "bytes": 500,
            "replaced": 5, "modes": {0: 1, 1: 9}}
    out = [dict(base, i=1, traced=False, wall_s=1.0, cpu_s=3.0, stats=dict(STATS))]
    if traced:
        out.append(dict(base, i=2, traced=True, wall_s=2.0, layers=layers))
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_printed_names_are_exactly_the_declared_ones(workload):
    corpus = workload == "corpus_tokenize"
    setup = {"setup_s": 1.0, "launch_s": 5.0, "start_s": 0.3, "peak_rss_mb": 900.0}
    e2e = run.end_to_end(setup, _calls(False, corpus)[0], _calls(False, corpus))
    assert list(e2e) == [m["name"] for m in SPEC["end_to_end"]]
    assert all(e2e[m["name"]]["unit"] == m["unit"] for m in SPEC["end_to_end"])

    wl = workloads.make(workload, "/nonexistent", 1)
    wl.measured = {"dim_rows": 10}
    cold = _calls(False, corpus)[0]
    layer = run.per_layer(
        workload, setup, cold, _calls(True, corpus), 1.0, 1, {"steal_share": 0.0}, wl
    )
    assert sorted(layer) == sorted(m["name"] for m in SPEC["per_layer"])
    assert all(layer[m["name"]]["unit"] == m["unit"] for m in SPEC["per_layer"])


def test_tail_has_ten_samples_beyond_it_once_there_are_forty():
    values = [float(v) for v in range(100)]
    assert run.tail(values) == 89.0
    assert run.tail([1.0, 2.0]) == 2.0
    assert run.tail([float(v) for v in range(8)]) == 5.0
    assert run.tail_beyond(100) == 10 and run.tail_beyond(5) == 1


WORK = os.path.join(run.ROOT, ".cronbench_work", "tests")


@pytest.fixture(scope="module")
def spark():
    conf = run._isolate(WORK)
    from billing_etl_v1_spark.session import get_spark

    session = get_spark("cronbench-test", extra_conf=conf)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()
    shutil.rmtree(WORK, ignore_errors=True)


def test_a_call_that_writes_nothing_fails_its_check():
    """The target starts out holding the verified month, so a call that
    leaves its window untouched has correct content; the check must still
    fail it. Fresh files with the same content pass."""
    from check import connect

    wl = workloads.Billing(TINY, os.path.join(WORK, "nowrite"), 3)
    con = connect()
    try:
        wl.generate(con)
        wl.oracle(con)
        wl.prepare_call(1)
        assert not wl.verify(con, 1).ok  # nothing was written

        for f in sorted(wl.before):  # a rewrite: same rows, new part files
            os.rename(f, f.replace(".parquet", "-new.parquet"))
        assert wl.verify(con, 1).ok

        wl.prepare_call(2)
        shutil.rmtree(os.path.dirname(sorted(wl.before)[0]))  # one day lost
        for f in sorted(wl.before):
            if os.path.exists(f):
                os.rename(f, f.replace(".parquet", "-new.parquet"))
        assert not wl.verify(con, 2).ok
    finally:
        con.close()
        shutil.rmtree(os.path.join(WORK, "nowrite"), ignore_errors=True)


# A layer's self time by prefix differencing reads below zero only from
# timing noise: on the tiny fact a prefix run takes 0.2-1 s and single
# traced calls read down to -0.23 s on a busy 4-core box. The benchmark
# reports the median over its traced calls, and so does this test.
NEGATIVE_TOLERANCE_S = 0.15


def test_layer_self_times_of_a_billing_call_fit_an_untraced_call(spark):
    import statistics

    from check import connect
    from spans import StatusStore, Tracer

    wl = workloads.Billing(TINY, os.path.join(WORK, "data"), 3)
    con = connect()
    wl.generate(con)
    wl.oracle(con)
    for i in range(2):  # warm the session up
        wl.prepare_call(i)
        wl.call(spark, i)
        assert wl.verify(con, i).ok
    tracer, store = Tracer(), StatusStore(spark)
    splits = []
    for i in range(2, 5):
        wl.prepare_call(i)
        layers = wl.traced_call(spark, i, tracer, store, f"call{i}")
        assert wl.verify(con, i).ok
        # every layer ran at least one Spark job under its own group
        assert all(layers[n][2]["jobs"] > 0 for n in run.BILLING_LAYER_ORDER)
        splits.append(run.layer_split(layers))
    walls = []
    for i in range(2, 5):  # the same windows untraced
        wl.prepare_call(i)
        walls.append(wl.call(spark, i))
        assert wl.verify(con, i).ok

    execs = {n: statistics.median(s[n] for s in splits) for n in run.BILLING_LAYER_ORDER}
    assert min(execs.values()) >= -NEGATIVE_TOLERANCE_S, execs
    # the six layers' self times add up to one warm run of the whole DAG,
    # which an untraced call contains, along with its reading and planning
    assert 0.0 < sum(execs.values()) <= statistics.median(walls), (execs, walls)
