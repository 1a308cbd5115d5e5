"""Billing-cron benchmark: one workload, one seed, one JSON line.

    python3 cronbench/run.py --workload daily_incremental --seed 1 --seconds 24 --trace 0

Run from the repository root. One Python process drives the engine on
``local[4]`` in a closed loop with one client: each driver call starts when
the previous one (and its output check) has finished, as the cron's calls do.

A run: set up five times (SparkContext start plus seeded input generation;
the JVM is launched once, by the first) and keep the last; check the oracle
once; make one cold call; then make a fixed number of timed calls, chosen so
that they last about ``--seconds`` on a 4-core box. Every call's output is checked; a call that raises or
fails its check counts in ``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced calls with traced ones (every layer boundary materialised, see
workloads.py) and prints the per-layer metrics; its spans are written to
``.cronbench_work/traces/``. Scratch data lives in ``.cronbench_work/`` and
is removed at exit.
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
CORES = 4
SETUP_REPS = 5


def _isolate(work: str) -> dict[str, str]:
    """Keep Spark's and the JVM's scratch files inside the work directory."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM started from here, spark-submit's launcher included: no
    # /tmp/hsperfdata_* files, temp files under the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {"spark.local.dir": local, "spark.ui.showConsoleProgress": "false"}


def tail_beyond(n: int) -> int:
    """How many of ``n`` samples lie beyond the tail: ten once n >= 40,
    n // 4 for shorter runs."""
    return min(10, n // 4)


def tail(values: list[float]) -> float:
    """The highest order statistic with ``tail_beyond(n)`` samples above it:
    the highest percentile with ten samples beyond it once n >= 40, about
    the 75th percentile for shorter runs."""
    v = sorted(values)
    return v[len(v) - 1 - tail_beyond(len(v))]


def _median(values, default=0.0) -> float:
    return statistics.median(values) if values else default


class Run:
    def __init__(self, args, work: str, conf: dict[str, str]):
        import check
        import workloads

        self.args, self.conf = args, conf
        self.wl = workloads.make(args.workload, os.path.join(work, "data"), args.seed)
        self.con = check.connect()
        self.con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
        self.spark = None
        self.attempted = self.failed = 0

    def log(self, msg: str) -> None:
        print(f"[cronbench {self.args.workload} seed={self.args.seed}] {msg}", file=sys.stderr, flush=True)

    # --- phases -------------------------------------------------------------
    def setup(self) -> dict:
        from billing_etl_v1_spark.session import get_spark

        setups, starts = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = get_spark("cronbench", extra_conf=self.conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            self.wl.generate(self.con)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        return {"setup_s": _median(setups), "launch_s": starts[0], "start_s": _median(starts[1:])}

    def one_call(self, i: int, store, tracer=None) -> dict:
        """Run, time and check call ``i``; exceptions and mismatches fail it."""
        from spans import tree_cpu_s

        self.wl.prepare_call(i)
        call_id = f"call{i}"
        rec = {"i": i, "traced": tracer is not None, "ok": False, "wall_s": 0.0}
        replaced = self.wl.existing_partitions(i)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                store.set_group(call_id)
                cpu0 = tree_cpu_s()
                try:
                    rec["wall_s"] = self.wl.call(self.spark, i)
                finally:
                    store.set_group(None)
                rec["cpu_s"] = tree_cpu_s() - cpu0
                rec["stats"] = store.group_metrics(call_id)
            else:
                rec["layers"] = self.wl.traced_call(self.spark, i, tracer, store, call_id)
                rec["wall_s"] = time.perf_counter() - t0
            res = self.wl.verify(self.con, i)
            rec.update(ok=res.ok, input_rows=res.input_rows, output_rows=res.output_rows,
                       files=res.files, bytes=res.bytes, replaced=replaced)
            if tracer is not None:
                rec["modes"] = self.wl.mode_lines(self.con, i)
            if not res.ok:
                self.log(f"call {i}: output check FAILED")
        except Exception:
            rec["wall_s"] = time.perf_counter() - t0
            self.log(f"call {i} raised:\n{traceback.format_exc()}")
        if not rec["ok"]:
            self.failed += 1
        self.wl.finish_call(i)
        return rec

    def run(self) -> dict:
        from spans import StatusStore, Tracer, cpu_ticks, jvm_peak_rss_mb, self_rss_mb, steal_share

        ticks0 = cpu_ticks()
        t_run = time.perf_counter()
        setup = self.setup()
        self.log(f"setup {setup}")
        self.wl.oracle(self.con)
        store = StatusStore(self.spark)
        tracer = Tracer() if self.args.trace else None

        cold = self.one_call(0, store)
        self.log(f"cold call {cold['wall_s']:.3f}s ok={cold['ok']}")
        # A fixed number of calls per run: per-call times keep falling for
        # several calls after the cold one (JIT warm-up), so a time-boxed loop
        # would give slow runs fewer, less-warm samples and skew their median.
        # The count makes the calls last about --seconds on a 4-core box.
        min_calls = 2 if tracer is not None else 1  # traced: one of each kind
        n_calls = max(min_calls, round(self.args.seconds / self.wl.nominal_call_s))
        timed = []
        for i in range(1, n_calls + 1):
            traced = tracer is not None and i % 2 == 0
            rec = self.one_call(i, store, tracer if traced else None)
            timed.append(rec)
            if not rec["ok"]:
                break  # the run is already incorrect; do not spin on a broken engine
        self.log(
            "calls " + " ".join(f"{r['wall_s']:.3f}{'t' if r['traced'] else ''}" for r in timed)
        )
        memo_mb, memo_rdds = store.memo()
        setup["peak_rss_mb"] = jvm_peak_rss_mb(self._jvm_pid()) + self_rss_mb()
        context = {
            "cores": CORES,
            "host_cpus": os.cpu_count(),
            "steal_share": round(steal_share(ticks0, cpu_ticks()), 4),
            "run_wall_s": round(time.perf_counter() - t_run, 3),
            "timed_calls": len(timed),
            "tail_samples_beyond": tail_beyond(len(timed)),
            "shape": self.wl.measured,
        }
        print(json.dumps({"context": context}), flush=True)
        if tracer is not None:
            tracer.write(
                os.path.join(ROOT, ".cronbench_work", "traces",
                             f"{self.args.workload}-seed{self.args.seed}.jsonl"),
                store.group_metrics,
            )
            metrics = per_layer(
                self.args.workload, setup, cold, timed, memo_mb, memo_rdds, context, self.wl
            )
        else:
            metrics = end_to_end(setup, cold, timed)
        return metrics

    def _jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        self.con.close()


# --- metric assembly ------------------------------------------------------------


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(setup: dict, cold: dict, timed: list[dict]) -> dict:
    """The gated metrics. Job cost is CPU seconds (the whole process tree's,
    and the executors' alone), not wall time: on a shared 4-core host,
    other tenants' load moved a daily run's median call wall time from
    4.9 s to 13.1 s across ten runs while its executor CPU stayed within
    0.85-0.97 s. Wall times are reported per layer, see :func:`wall_metrics`."""
    ok = [r for r in timed if r["ok"]]
    out_rows = sum(r.get("output_rows", 0) for r in ok)
    return {
        "setup_s": _m(setup["setup_s"], "s"),
        "cold_job_cpu_s": _m(cold.get("cpu_s", 0.0), "s"),
        "job_cpu_s": _m(_median([r["cpu_s"] for r in timed if "cpu_s" in r]), "s"),
        "task_cpu_s": _m(_median([r["stats"]["cpu_s"] for r in timed if "stats" in r]), "s"),
        "output_files": _m(_median([r["files"] for r in ok]), "count"),
        "output_bytes_per_row": _m(
            sum(r["bytes"] for r in ok) / out_rows if out_rows else 0.0, "B"
        ),
    }


def wall_metrics(cold: dict, calls: list[dict]) -> dict[str, float]:
    """Wall-time view of the cold call and of untraced timed calls."""
    walls = [r["wall_s"] for r in calls]
    rows = sum(r.get("input_rows", 0) for r in calls)
    return {
        "cold_job_s": cold["wall_s"],
        "job_p50_s": _median(walls),
        "job_tail_s": tail(walls) if walls else 0.0,
        "input_rows_per_s": rows / sum(walls) if walls else 0.0,
    }


BILLING_LAYER_ORDER = ("sources", "aggregate", "rules", "pricing", "conform", "writers")


def layer_split(layers: dict) -> dict[str, float]:
    """Execution self time of each layer of one traced billing call, by
    prefix differencing: layer k's prefix run minus layer k-1's. ``plan``
    is the time the layer functions took to build their plans; ``replay``
    is the earlier layers' re-execution inside each prefix run (tracing
    overhead, not work the untraced call does)."""
    out, prev, plan, replay = {}, 0.0, 0.0, 0.0
    for name in BILLING_LAYER_ORDER:
        call_s, prefix_s, _ = layers[name]
        out[name] = prefix_s - prev
        plan += call_s
        replay += prev
        prev = prefix_s
    out["plan"] = plan
    out["replay"] = replay
    return out


def per_layer(workload: str, setup: dict, cold: dict, timed: list[dict], memo_mb: float,
              memo_rdds: int, context: dict, wl) -> dict:
    traced = [r for r in timed if r["traced"] and r["ok"]]
    plain = [r for r in timed if not r["traced"]]
    m = {name: 0.0 for name in PER_LAYER_NAMES}

    def med(f):
        return _median([f(r) for r in traced])

    m.update(wall_metrics(cold, plain))
    m["session.start_s"] = setup["start_s"]
    m["session.launch_s"] = setup["launch_s"]
    m["session.peak_rss_mb"] = setup["peak_rss_mb"]
    stats = [r["stats"] for r in plain if "stats" in r]
    m["drivers.jobs"] = _median([s["jobs"] for s in stats])
    m["drivers.stages"] = _median([s["stages"] for s in stats])
    m["drivers.tasks"] = _median([s["tasks"] for s in stats])
    m["drivers.task_run_s"] = _median([s["run_s"] for s in stats])
    m["drivers.gc_s"] = _median([s["gc_s"] for s in stats])
    m["drivers.idle_core_s"] = _median(
        [r["wall_s"] * CORES - r["stats"]["run_s"] for r in plain if "stats" in r]
    )
    m["memo.cached_mb"] = memo_mb
    m["memo.persisted_rdds"] = memo_rdds
    m["trace.overhead_s"] = med(lambda r: r["wall_s"]) - _median([r["wall_s"] for r in plain])
    m["host.steal_share"] = context["steal_share"]
    m["host.cores"] = CORES

    if workload == "corpus_tokenize":
        m["corpus.exec_s"] = med(lambda r: r["layers"]["corpus"][1])
        m["corpus.docs_kept_share"] = med(
            lambda r: (r["output_rows"] - wl.batch.docs) / wl.shape.docs
        )
        m["bpe.train_call_s"] = med(lambda r: r["layers"]["bpe.train"][1])
        m["bpe.train_jobs"] = med(lambda r: r["layers"]["bpe.train"][2]["jobs"])
        m["bpe.per_merge_s"] = m["bpe.train_call_s"] / wl.NUM_MERGES
        m["bpe.encode_exec_s"] = med(lambda r: r["layers"]["bpe.encode"][1])
        m["bpe.encode_jobs"] = med(lambda r: r["layers"]["bpe.encode"][2]["jobs"])
        return {k: _m(v, PER_LAYER_UNITS[k]) for k, v in m.items()}

    def grp(r, name, key):
        return r["layers"][name][2][key]

    def delta(r, name, before, key):
        return grp(r, name, key) - (grp(r, before, key) if before else 0.0)

    splits = [layer_split(r["layers"]) for r in traced]

    def smed(name):
        return _median([s[name] for s in splits])

    m["sources.scan_s"] = med(lambda r: r["layers"]["sources"][0] + r["layers"]["sources"][1])
    m["sources.files_read"] = med(lambda r: r["layers"]["_files_read"])
    m["sources.bytes_read_mb"] = med(lambda r: grp(r, "sources", "input_mb"))
    m["aggregate.exec_s"] = smed("aggregate")
    m["aggregate.rows_out"] = med(lambda r: r["output_rows"])
    m["aggregate.reduction"] = med(lambda r: r["input_rows"] / max(r["output_rows"], 1))
    m["aggregate.shuffle_write_mb"] = med(lambda r: delta(r, "aggregate", "sources", "shuffle_write_mb"))
    m["aggregate.spill_mb"] = med(lambda r: delta(r, "aggregate", "sources", "spill_mb"))
    m["rules.call_s"] = med(lambda r: r["layers"]["rules"][0])
    m["rules.exec_s"] = smed("rules")
    m["rules.jobs"] = med(lambda r: delta(r, "rules", "aggregate", "jobs"))
    m["rules.dim_rows"] = wl.measured.get("dim_rows", 0)
    m["rules.matched_share"] = med(
        lambda r: 1 - r["modes"].get(0, 0) / max(r["output_rows"], 1)
    )
    m["pricing.exec_s"] = smed("pricing")
    for mode in range(5):
        m[f"pricing.mode_lines.{mode}"] = med(lambda r, mode=mode: r["modes"].get(mode, 0))
    m["conform.exec_s"] = smed("conform")
    m["writers.exec_s"] = smed("writers")
    m["writers.files"] = med(lambda r: r["files"])
    m["writers.bytes_mb"] = med(lambda r: r["bytes"] / 2**20)
    m["writers.partitions_replaced"] = med(lambda r: r["replaced"])
    m["writers.shuffle_write_mb"] = med(lambda r: delta(r, "writers", "conform", "shuffle_write_mb"))
    m["trace.replay_s"] = smed("replay")
    return {k: _m(v, PER_LAYER_UNITS[k]) for k, v in m.items()}


def _declared() -> tuple[list[str], dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer"]], {m["name"]: m["unit"] for m in spec["per_layer"]}


PER_LAYER_NAMES, PER_LAYER_UNITS = _declared()
WORKLOADS = ("daily_incremental", "corpus_tokenize")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    import billing_etl_v1_spark  # noqa: F401  -- fails here when the engine is absent

    work = os.path.join(ROOT, ".cronbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    conf = _isolate(work)
    run = Run(args, work, conf)
    try:
        metrics = run.run()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
