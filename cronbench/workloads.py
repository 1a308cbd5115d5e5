"""The workloads: what each generates, how one call runs untraced and
traced, and how its output is checked.

A billing call goes through ``plans.drivers`` exactly as the CLI does
(``run_daily`` over freshly read parquet). The traced twin
rebuilds the same DAG from the layers' public functions and materialises
every prefix through Spark's ``noop`` sink (the last through the writer),
timing a warm second run of each under its own job group, so a layer's self
time is the difference between consecutive prefixes.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import check
import gen
from spans import StatusStore, Tracer

# deployment overlay passed to both engine and oracle (apply_extra_discount)
EXTRA_DISCOUNTS = {"acct-00003": 0.975, "acct-00007": 0.95, "acct-00011": 0.88}


@dataclass
class CallResult:
    ok: bool
    input_rows: int
    output_rows: int
    files: int
    bytes: int


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Billing:
    """``run_daily`` for successive process dates over one generated,
    day-partitioned fact and dim, into a target that already holds the
    month: every call replaces the five day partitions of its window.

    Every call reuses the same dim, as the production cron reuses one
    month's contracts; so after the cold call ``match_rules``' dim memo
    (``rules._DIM_CACHE``) hits, and the timed calls measure that state."""

    def __init__(self, shape: gen.BillingShape, work: str, seed: int):
        self.shape, self.seed = shape, seed
        # warm seconds per call on a 4-core box (4.7-5.5 s measured with
        # little steal); --seconds divided by it, rounded, is the calls per run
        self.nominal_call_s = 5.5
        self.fact_path = os.path.join(work, "fact")
        self.dim_path = os.path.join(work, "dim")
        self.target = os.path.join(work, "target")
        self.expected: dict[str, tuple[int, int]] = {}
        self.rows_per_day: dict[str, int] = {}
        self.measured: dict = {}
        self.before: set[str] = set()

    # --- inputs -------------------------------------------------------------
    def generate(self, con) -> None:
        for p in (self.fact_path, self.dim_path, self.target):
            shutil.rmtree(p, ignore_errors=True)
        fact, dim, self.measured = gen.billing_tables(self.shape, self.seed)
        days, counts = np.unique(
            fact.column("usage_day").to_numpy(zero_copy_only=False), return_counts=True
        )
        self.rows_per_day = {str(d): int(n) for d, n in zip(days, counts)}
        gen.write_fact(fact, self.fact_path)
        gen.write_table(dim, self.dim_path)
        check.billing_views(con, self.fact_path, self.dim_path)
        # the month the daily runs rewrite: the oracle's output, laid out
        # like the engine's sink (invoice_month/usage_day partitions)
        con.execute(
            f"COPY ({check.billing_oracle_sql(gen.MONTH, EXTRA_DISCOUNTS)}) TO "
            f"'{self.target}' (FORMAT PARQUET, PARTITION_BY (invoice_month, usage_day))"
        )

    def _window_files(self, i: int) -> list[str]:
        return check.partition_files(check.day_partitions(self.target, gen.MONTH, self.window(i)[1]))

    def prepare_call(self, i: int) -> None:
        # the files the call must replace: the target already holds correct
        # partitions, so only fresh files show that the call wrote its window
        self.before = set(self._window_files(i))

    def finish_call(self, i: int) -> None:
        pass

    def oracle(self, con) -> None:
        parts = check.day_partitions(self.target, gen.MONTH, None)
        self.expected = check.target_day_hashes(con, check.partition_files(parts))

    # --- one call -----------------------------------------------------------
    def window(self, i: int) -> tuple[dt.date, list[str]]:
        """Process date of call ``i`` (5th..31st, cycling) and the day
        partitions its 4-day lookback rewrites."""
        from billing_etl_v1_spark.plans.drivers import daily_window

        pd = gen.FIRST_DAY + dt.timedelta(days=4 + i % (gen.DAYS - 4))
        _, lo, hi = daily_window(pd)
        days = [(lo + dt.timedelta(days=k)).isoformat() for k in range((hi - lo).days)]
        return pd, days

    def call(self, spark, i: int) -> float:
        from billing_etl_v1_spark.plans.drivers import run_daily

        t0 = time.perf_counter()
        fact = spark.read.parquet(self.fact_path)
        dim = spark.read.parquet(self.dim_path)
        run_daily(fact, dim, self.target, self.window(i)[0],
                  grain="pipeline", extra_discounts=EXTRA_DISCOUNTS)
        return time.perf_counter() - t0

    def traced_call(self, spark, i: int, tracer: Tracer, store: StatusStore, call_id: str) -> dict:
        """``run_daily``'s DAG rebuilt layer by layer (plans.pipeline order),
        every prefix materialised twice and the second run timed under its
        own job group. Returns per layer (plan-building seconds, prefix
        seconds, group metrics)."""
        from billing_etl_v1_spark.operators.aggregate import (
            PIPELINE_KEYS, SUM_MEASURES, filter_day_range, filter_month, source_aggregate,
        )
        from billing_etl_v1_spark.operators.conform import conform_to_target
        from billing_etl_v1_spark.operators.pricing import (
            apply_extra_discount, with_internal_measures, with_pricing_modes,
        )
        from billing_etl_v1_spark.operators.rules import match_rules
        from billing_etl_v1_spark.plans.drivers import daily_window
        from billing_etl_v1_spark.plans.pipeline import with_contract_month
        from billing_etl_v1_spark.sources.writers import write_calculated

        root = "drivers.run_daily"
        out: dict[str, tuple[float, float, dict]] = {}

        def layer(name: str, build, materialise):
            group = f"{call_id}:{name}"
            with tracer.span(name, call_id, parent=root, group=group):
                t0 = time.perf_counter()
                df = build()
                t1 = time.perf_counter()
                # an untimed first run takes the prefix's one-off costs (code
                # generation, JIT of new plan shapes); charged to the first
                # prefix that met them, they made the next layer read < 0
                materialise(df)
                store.mark()
                t1b = time.perf_counter()
                store.set_group(group)
                try:
                    materialise(df)
                finally:
                    store.set_group(None)
                t2 = time.perf_counter()
            out[name] = (t1 - t0, t2 - t1b, store.group_metrics(group))
            return df

        with tracer.span(root, call_id):
            _, lo, hi = daily_window(self.window(i)[0])
            fact = layer(
                "sources",
                lambda: filter_day_range(
                    filter_month(spark.read.parquet(self.fact_path), gen.MONTH), lo, hi
                ),
                lambda df: _noop(df.select(*PIPELINE_KEYS, *SUM_MEASURES)),
            )
            files = store.scan_files(self.fact_path)
            agg = layer(
                "aggregate",
                lambda: source_aggregate(
                    with_contract_month(fact), keys=PIPELINE_KEYS, extra_keys=["contract_month"]
                ),
                _noop,
            )
            dim = spark.read.parquet(self.dim_path)
            matched = layer("rules", lambda: match_rules(agg, dim, month_col="contract_month"), _noop)
            priced = layer(
                "pricing",
                lambda: with_pricing_modes(
                    apply_extra_discount(with_internal_measures(matched), EXTRA_DISCOUNTS)
                ),
                _noop,
            )
            conformed = layer("conform", lambda: conform_to_target(priced), _noop)
            layer("writers", lambda: conformed, lambda df: write_calculated(df, self.target))
        out["_files_read"] = files
        return out

    # --- checks -------------------------------------------------------------
    def verify(self, con, i: int) -> CallResult:
        """Check that the call replaced every day partition of its window
        (each holds files, none of them there before the call) and that
        their content equals the verified month's, per day."""
        days = self.window(i)[1]
        parts = check.day_partitions(self.target, gen.MONTH, days)
        files = check.partition_files(parts)
        rewritten = all(check.partition_files([p]) for p in parts) and not self.before & set(files)
        got = check.target_day_hashes(con, files)
        want = {d: self.expected[d] for d in days if d in self.expected}
        rows = sum(n for n, _ in got.values())
        return CallResult(
            ok=rewritten and got == want,
            input_rows=sum(self.rows_per_day.get(d, 0) for d in days),
            output_rows=rows,
            files=len(files),
            bytes=sum(os.path.getsize(f) for f in files),
        )

    def mode_lines(self, con, i: int) -> dict[int, int]:
        return check.output_counts(con, self._window_files(i))

    def existing_partitions(self, i: int) -> int:
        return sum(
            os.path.isdir(p) for p in check.day_partitions(self.target, gen.MONTH, self.window(i)[1])
        )


class Corpus:
    """corpus_build, then bpe_learn and bpe_encode, on fresh documents per
    call: repeating one input would measure the session memos
    (``corpus._CORPUS_CACHE``, ``bpe._LEARN_CACHE``) instead of the work."""

    MAX_WORD_LEN = 256  # bpe_learn's default cap, threaded to bpe_encode
    # Two merges, not the CLI's default eight: the trainer's cost is per
    # merge (one ~1 s round of Spark jobs each, reported as
    # bpe.per_merge_s), and eight would leave room for one timed call per
    # run. Two still run the merge loop and encode's batched apply.
    NUM_MERGES = 2

    def __init__(self, shape: gen.DocShape, batch: gen.DocShape, work: str, seed: int):
        self.shape, self.batch, self.seed, self.work = shape, batch, seed, work
        self.nominal_call_s = 9.0  # warm seconds per call on a 4-core box (8-11 s measured)
        self.measured: dict = {}
        self.merges: dict[int, list] = {}

    def _dir(self, i: int, what: str) -> str:
        return os.path.join(self.work, f"call{i}", what)

    def call_seed(self, i: int, part: int) -> int:
        return int(np.random.SeedSequence([self.seed, i, part]).generate_state(1)[0])

    def generate_call(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"call{i}"), ignore_errors=True)
        docs, self.measured = gen.documents(self.shape, self.call_seed(i, 0))
        batch, _ = gen.documents(self.batch, self.call_seed(i, 1), first_id=10**6)
        gen.write_table(docs, self._dir(i, "docs"))
        gen.write_table(batch, self._dir(i, "batch"))

    def generate(self, con) -> None:
        self.generate_call(0)

    def prepare_call(self, i: int) -> None:
        if i > 0:  # call 0's documents are made during set-up
            self.generate_call(i)

    def finish_call(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"call{i}"), ignore_errors=True)

    def oracle(self, con) -> None:
        pass  # every call has its own input, checked in verify()

    def existing_partitions(self, i: int) -> int:
        return 0  # writes plain overwrite tables, not partitions

    def mode_lines(self, con, i: int) -> dict[int, int]:
        return {}

    def _phases(self, spark, i: int):
        from billing_etl_v1_spark.operators.bpe import bpe_encode, bpe_learn
        from billing_etl_v1_spark.operators.corpus import corpus_build

        docs = spark.read.parquet(self._dir(i, "docs"))
        state = {}

        def build():
            corpus_build(docs).write.mode("overwrite").parquet(self._dir(i, "built"))

        def train():
            state["merges"], state["vocab"] = bpe_learn(
                docs, num_merges=self.NUM_MERGES, max_word_len=self.MAX_WORD_LEN
            )

        def encode():
            batch = spark.read.parquet(self._dir(i, "batch"))
            bpe_encode(
                batch, state["merges"], state["vocab"], max_word_len=self.MAX_WORD_LEN
            ).write.mode("overwrite").parquet(self._dir(i, "encoded"))

        return state, (("corpus", build), ("bpe.train", train), ("bpe.encode", encode))

    def call(self, spark, i: int) -> float:
        state, phases = self._phases(spark, i)
        t0 = time.perf_counter()
        for _, run in phases:
            run()
        wall = time.perf_counter() - t0
        self.merges[i] = [tuple(r) for r in state["merges"].collect()]
        return wall

    def traced_call(self, spark, i: int, tracer: Tracer, store: StatusStore, call_id: str) -> dict:
        state, phases = self._phases(spark, i)
        out = {}
        with tracer.span("drivers.corpus_tokenize", call_id):
            for name, run in phases:
                group = f"{call_id}:{name}"
                with tracer.span(name, call_id, parent="drivers.corpus_tokenize", group=group):
                    store.set_group(group)
                    t0 = time.perf_counter()
                    try:
                        run()
                    finally:
                        store.set_group(None)
                    out[name] = (0.0, time.perf_counter() - t0, store.group_metrics(group))
        self.merges[i] = [tuple(r) for r in state["merges"].collect()]
        return out

    def verify(self, con, i: int) -> CallResult:
        want_built, want_merges = check.corpus_expected(
            con, self._dir(i, "docs"), self.NUM_MERGES, self.MAX_WORD_LEN
        )
        got_built = check.corpus_actual(con, self._dir(i, "built"))
        batch = pq.read_table(self._dir(i, "batch"), columns=["doc_id", "text"]).to_pydict()
        want_enc = check.encode_expected(
            dict(zip(batch["doc_id"], batch["text"])), want_merges, self.MAX_WORD_LEN
        )
        got_enc = check.encode_actual(con, self._dir(i, "encoded"))
        files = [
            os.path.join(d, f)
            for d in (self._dir(i, "built"), self._dir(i, "encoded"))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        ]
        ok = (
            got_built == want_built
            and sorted(self.merges.get(i, [])) == want_merges
            and got_enc == want_enc
        )
        return CallResult(
            ok=ok,
            input_rows=self.shape.docs + self.batch.docs,
            output_rows=len(got_built) + len(got_enc),
            files=len(files),
            bytes=sum(os.path.getsize(f) for f in files),
        )


# --- the registry -------------------------------------------------------------

MONTH_SHAPE = gen.BillingShape(
    rows=150_000, lines=5_000, accounts=300, zipf_s=1.1, projects=40, services=12,
    skus_per_service=8, rule_accounts=120, rules_per_pattern=(120, 60, 60, 30, 60, 30, 30, 30),
    dup_share=0.05,
)
DOC_SHAPE = gen.DocShape(docs=60)
BATCH_SHAPE = gen.DocShape(docs=20)


def make(name: str, work: str, seed: int):
    if name == "daily_incremental":
        return Billing(MONTH_SHAPE, work, seed)
    if name == "corpus_tokenize":
        return Corpus(DOC_SHAPE, BATCH_SHAPE, work, seed)
    raise SystemExit(f"unknown workload {name!r}")

