"""Partition-overwrite idempotency + daily/monthly driver windows —
the Spark replacement for the reference's delete-then-insert swap."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from billing_etl_v1_spark.plans.drivers import daily_window, run_daily, run_month
from billing_etl_v1_spark.sources import synthetic
from billing_etl_v1_spark.sources.readers import register_views
from billing_etl_v1_spark.sources.writers import read_calculated
from tests.conftest import SF_SMALL


def _ctx(spark):
    register_views(spark, SF_SMALL, ["lineitem"])
    return synthetic.fact_df(spark), synthetic.dim_df(spark)


def test_daily_window_lookback_and_month_clamp():
    # mid-month: plain 4-day lookback (reference main.py:165-171)
    m, s, e = daily_window(dt.date(2026, 1, 20))
    assert (m, s, e) == ("202601", dt.date(2026, 1, 16), dt.date(2026, 1, 21))
    # near month start: clamped to the 1st
    m, s, e = daily_window(dt.date(2026, 1, 2))
    assert (m, s, e) == ("202601", dt.date(2026, 1, 1), dt.date(2026, 1, 3))


def test_month_overwrite_is_idempotent_and_partition_scoped(spark, tmp_path):
    fact, dim = _ctx(spark)
    target = str(tmp_path / "calculated")

    run_month(fact, dim, target, "199506", include_etl_time=False)
    run_month(fact, dim, target, "199507", include_etl_time=False)
    first = read_calculated(spark, target)
    counts = dict(
        first.groupBy("invoice_month").count().collect()
    )
    assert set(counts) == {"199506", "199507"}

    # re-run one month: its partitions are replaced, the other untouched
    run_month(fact, dim, target, "199506", include_etl_time=False)
    again = dict(read_calculated(spark, target).groupBy("invoice_month").count().collect())
    assert again == counts  # no duplication => delete-then-insert semantics


def test_daily_overwrites_only_window_days(spark, tmp_path):
    fact, dim = _ctx(spark)
    target = str(tmp_path / "daily")
    # seed the whole month, then re-run one day window on top
    run_month(fact, dim, target, "199506", include_etl_time=False)
    before = read_calculated(spark, target).count()
    run_daily(fact, dim, target, dt.date(1995, 6, 20), include_etl_time=False)
    after = read_calculated(spark, target).count()
    assert after == before  # re-run duplicated nothing


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    from billing_etl_v1_spark.sources.readers import load_table
    from billing_etl_v1_spark.sources.writers import write_bucketed
    from tests.conftest import SF_SMALL

    events = load_table(spark, SF_SMALL, "events")
    left = events.select("event_id", "user_id", "value")
    right = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    write_bucketed(left, "bk_left", "user_id", buckets=8, path=str(tmp_path / "l"))
    write_bucketed(right, "bk_right", "user_id", buckets=8, path=str(tmp_path / "r"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bk_left").join(spark.table("bk_right"), "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # both sides pre-bucketed: no shuffle
        assert joined.count() == left.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_csv_roundtrip_with_explicit_schema(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from billing_etl_v1_spark.sources.readers import read_csv
    from billing_etl_v1_spark.sources.writers import write_csv

    schema = StructType(
        [
            StructField("account", StringType()),
            StructField("n", IntegerType()),
            StructField("amount", DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [("ACCT-1", 1, 1.5), ("ACCT-2", None, 0.25), (None, 3, None)], schema
    )
    path = str(tmp_path / "csv_sink")
    write_csv(df, path)
    back = read_csv(spark, path, schema)
    assert back.schema == schema
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_json_roundtrip_preserves_arrays(spark, tmp_path):
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from billing_etl_v1_spark.sources.readers import read_json
    from billing_etl_v1_spark.sources.writers import write_json

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("credits", ArrayType(DoubleType())),
        ]
    )
    df = spark.createDataFrame([("a", [1.0, 2.5]), ("b", [])], schema)
    path = str(tmp_path / "json_sink")
    write_json(df, path)
    back = read_json(spark, path, schema)
    assert back.schema == schema
    assert sorted(r.k for r in back.collect()) == ["a", "b"]
    got = {r.k: r.credits for r in back.collect()}
    assert got["a"] == [1.0, 2.5]


def test_compact_partitions_reduces_files_and_preserves_rows(spark, tmp_path):
    from billing_etl_v1_spark.sources.writers import (
        compact_partitions,
        write_calculated,
    )
    import os

    path = str(tmp_path / "compact_me")
    base = spark.range(0, 2000).selectExpr(
        "'199506' AS invoice_month",
        "date_add(DATE '1995-06-01', CAST(id % 3 AS INT)) AS usage_day",
        "id AS v",
    )
    # simulate a NAIVE appender (pre_shuffle off — e.g. an external tool):
    # 4 appends x 32 tasks x 3 partitions -> hundreds of small files, the
    # fragmentation compact_partitions exists to repair
    for _ in range(4):
        write_calculated(
            base.repartition(32), path, mode="append", pre_shuffle=False
        )

    def parquet_files():
        return [
            os.path.join(r, f)
            for r, _d, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]

    before = len(parquet_files())
    total_before = spark.read.parquet(path).count()
    sum_before = spark.read.parquet(path).agg({"v": "sum"}).first()[0]

    compact_partitions(spark, path)

    after = len(parquet_files())
    assert after < before / 4
    assert spark.read.parquet(path).count() == total_before
    assert spark.read.parquet(path).agg({"v": "sum"}).first()[0] == sum_before


def test_write_calculated_preshuffle_one_file_per_partition(spark, tmp_path):
    """The default write must not explode into O(tasks x partitions) files:
    pre-shuffling by the partition keys yields exactly one parquet file per
    hive partition no matter how the incoming frame is partitioned
    (measured naive layout at 16x local scale: 79,968 files for 2,499
    partitions); files_per_partition=N bounds the spread at N."""
    import os

    from billing_etl_v1_spark.sources.writers import write_calculated

    base = spark.range(0, 2000).selectExpr(
        "'199506' AS invoice_month",
        "date_add(DATE '1995-06-01', CAST(id % 3 AS INT)) AS usage_day",
        "id AS v",
    ).repartition(32)  # worst case: every task holds rows of every partition

    def files_by_dir(path):
        out = {}
        for r, _d, fs in os.walk(path):
            n = len([f for f in fs if f.endswith(".parquet")])
            if n:
                out[os.path.relpath(r, path)] = n
        return out

    p1 = str(tmp_path / "one_per")
    write_calculated(base, p1)
    layout = files_by_dir(p1)
    assert len(layout) == 3 and set(layout.values()) == {1}, layout

    # files_per_partition is an UPPER bound on spread: the salt splits the
    # clustering key, but AQE legitimately coalesces small shuffle
    # partitions back together (at real scale partitions exceed the
    # advisory size and do spread) — so assert the bound, not a minimum
    p2 = str(tmp_path / "spread")
    write_calculated(base, p2, files_per_partition=4)
    layout2 = files_by_dir(p2)
    assert len(layout2) == 3 and all(1 <= n <= 4 for n in layout2.values()), layout2
    # same rows either way
    assert spark.read.parquet(p2).count() == spark.read.parquet(p1).count() == 2000


def test_compact_partitions_skips_already_compact_layout(spark, tmp_path):
    """Merge-only contract: a layout already at one file per partition (the
    pre-shuffling write_calculated's output) must be left byte-untouched —
    re-running compaction is a no-op, not a full-table rewrite (the r4
    probe recorded a 64.75s full-table pass exactly because this check was
    missing when it ran)."""
    import os

    from billing_etl_v1_spark.sources.writers import (
        compact_partitions,
        write_calculated,
    )

    path = str(tmp_path / "already_compact")
    base = spark.range(0, 2000).selectExpr(
        "'199506' AS invoice_month",
        "date_add(DATE '1995-06-01', CAST(id % 3 AS INT)) AS usage_day",
        "id AS v",
    )
    write_calculated(base, path)  # pre-shuffled: one file per partition

    def file_states():
        return {
            os.path.join(r, f): (os.path.getmtime(os.path.join(r, f)),
                                 os.path.getsize(os.path.join(r, f)))
            for r, _d, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        }

    before = file_states()
    compact_partitions(spark, path)
    assert file_states() == before  # same paths, same mtimes, same bytes


def test_write_calculated_salt_tolerates_map_columns(spark, tmp_path):
    """files_per_partition>1 must not feed MapType columns into hash()
    (Spark cannot hash maps — this raised AnalysisException before the
    salt filtered to hashable columns)."""
    from billing_etl_v1_spark.sources.writers import write_calculated

    base = spark.range(0, 200).selectExpr(
        "'199506' AS invoice_month",
        "date_add(DATE '1995-06-01', CAST(id % 2 AS INT)) AS usage_day",
        "map('k', id) AS props",
        "id AS v",
    )
    path = str(tmp_path / "map_salt")
    write_calculated(base, path, files_per_partition=4)
    assert spark.read.parquet(path).count() == 200

    # degenerate frame: every non-partition column is a map -> the
    # deterministic to_json(struct) salt fallback
    base2 = spark.range(0, 200).selectExpr(
        "'199506' AS invoice_month",
        "DATE '1995-06-01' AS usage_day",
        "map('k', id) AS props",
    ).select("props", "invoice_month", "usage_day")
    path2 = str(tmp_path / "map_only_salt")
    write_calculated(base2, path2, files_per_partition=2)
    assert spark.read.parquet(path2).count() == 200


def test_cli_month_backfill_end_to_end(spark, tmp_path, monkeypatch):
    """Drive the CLI surface end-to-end: write fact/dim parquet, run the
    month subcommand, read the target back."""
    from billing_etl_v1_spark import cli

    fact, dim = _ctx(spark)
    fact_path, dim_path = str(tmp_path / "fact"), str(tmp_path / "dim")
    target = str(tmp_path / "target")
    fact.write.parquet(fact_path)
    dim.write.parquet(dim_path)
    # reuse the test session instead of building a second JVM-attached one
    monkeypatch.setattr("billing_etl_v1_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(
        [
            "month",
            "--fact", fact_path,
            "--dim", dim_path,
            "--target", target,
            "--invoice-month", "199506",
        ]
    )
    assert rc == 0
    out = spark.read.parquet(target)
    assert out.count() > 0
    assert set(r.invoice_month for r in out.select("invoice_month").distinct().collect()) == {"199506"}


def test_cli_daily_window_args(spark, tmp_path, monkeypatch):
    from billing_etl_v1_spark import cli

    fact, dim = _ctx(spark)
    fact_path, dim_path = str(tmp_path / "factd"), str(tmp_path / "dimd")
    target = str(tmp_path / "targetd")
    fact.write.parquet(fact_path)
    dim.write.parquet(dim_path)
    monkeypatch.setattr("billing_etl_v1_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(
        [
            "daily",
            "--fact", fact_path,
            "--dim", dim_path,
            "--target", target,
            "--date", "1995-06-20",
        ]
    )
    assert rc == 0
    # usage_day is a partition column and type inference is disabled, so it
    # reads back as 'YYYY-MM-DD' strings; window is [16th, 21st) — which of
    # those days carry data depends on the synthetic fact
    days = {str(r.usage_day) for r in spark.read.parquet(target).select("usage_day").distinct().collect()}
    assert days and all("1995-06-16" <= d <= "1995-06-20" for d in days)


def test_cli_schema_subcommand(spark, monkeypatch, capsys):
    from billing_etl_v1_spark import cli

    monkeypatch.setattr("billing_etl_v1_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(["schema", f"{SF_SMALL}/region.parquet"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "r_regionkey" in out and "r_name" in out


def test_cli_tokenizer_train_then_encode(spark, tmp_path, monkeypatch):
    """Drive the tokenizer serving story end-to-end through the CLI:
    train + persist on one corpus, encode a different batch under the
    stored artifact, and check the counts against the library path."""
    from billing_etl_v1_spark import cli
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    train_path = str(tmp_path / "train_docs")
    new_path = str(tmp_path / "new_docs")
    tok = str(tmp_path / "tok")
    target = str(tmp_path / "counts")
    spark.createDataFrame(
        [(0, "aaabab banana aab"), (1, "banana aaabab aaaa .")],
        "doc_id long, text string",
    ).write.parquet(train_path)
    new_df = spark.createDataFrame(
        [(0, "banana bandana aa"), (1, "zzz .")], "doc_id long, text string"
    )
    new_df.write.parquet(new_path)
    monkeypatch.setattr("billing_etl_v1_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(
        ["tokenizer", "train", "--docs", train_path, "--tokenizer", tok,
         "--num-merges", "4"]
    )
    assert rc == 0
    rc = cli.main(
        ["tokenizer", "encode", "--docs", new_path, "--tokenizer", tok,
         "--target", target]
    )
    assert rc == 0
    got = sorted(map(tuple, spark.read.parquet(target).collect()))
    merges, vocab, cap, level = bpe_ops.load_bpe(spark, tok)
    assert cap == 256  # train default, stored in the artifact
    exp = sorted(
        map(
            tuple,
            bpe_ops.bpe_encode(
                new_df, merges, vocab, max_word_len=cap, level=level
            ).collect(),
        )
    )
    assert got == exp
    # byte-level train+encode: the stored level must drive serving — the
    # artifact meta round-trips through the CLI without re-stating it
    btok = str(tmp_path / "btok")
    btarget = str(tmp_path / "bcounts")
    rc = cli.main(
        ["tokenizer", "train", "--docs", train_path, "--tokenizer", btok,
         "--num-merges", "4", "--level", "byte"]
    )
    assert rc == 0
    rc = cli.main(
        ["tokenizer", "encode", "--docs", new_path, "--tokenizer", btok,
         "--target", btarget]
    )
    assert rc == 0
    bm, bv, bcap, blevel = bpe_ops.load_bpe(spark, btok)
    assert blevel == "byte"
    bgot = sorted(map(tuple, spark.read.parquet(btarget).collect()))
    bexp = sorted(
        map(
            tuple,
            bpe_ops.bpe_encode(
                new_df, bm, bv, max_word_len=bcap, level=blevel
            ).collect(),
        )
    )
    assert bgot == bexp

    # the CLI persists exactly the library trainer's tables
    lm, lv = bpe_ops.bpe_learn(spark.read.parquet(train_path), num_merges=4)
    assert sorted(map(tuple, lm.collect())) == sorted(map(tuple, merges.collect()))
    assert sorted((r.word, r.freq, tuple(r.tokens)) for r in lv.collect()) == sorted(
        (r.word, r.freq, tuple(r.tokens)) for r in vocab.collect()
    )

    # encode without --target is a usage error, not a crash
    assert cli.main(
        ["tokenizer", "encode", "--docs", new_path, "--tokenizer", tok]
    ) == 2
    bpe_ops.release_bpe_cache(spark)


def test_cli_corpus_build_end_to_end(spark, tmp_path, monkeypatch):
    from billing_etl_v1_spark import cli
    from billing_etl_v1_spark.sources.readers import load_table
    from tests.conftest import SF_SMALL

    target = str(tmp_path / "shards")
    monkeypatch.setattr("billing_etl_v1_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main(
        [
            "corpus",
            "--docs", f"{SF_SMALL}/documents.parquet",
            "--target", target,
            "--shard-tokens", "2000",
        ]
    )
    assert rc == 0
    out = spark.read.parquet(target)
    assert out.count() > 0
    assert {"doc_id", "shard_id", "lang_pred", "quality_score"} <= set(out.columns)
    # the quality gate really dropped something
    assert out.count() < load_table(spark, SF_SMALL, "documents").count()


def test_cli_corpus_full_flag_runs_training_dag(spark, tmp_path, monkeypatch, capsys):
    """--full routes the corpus subcommand through the complete
    training-corpus DAG: output gains split/shard columns, splits are
    disjoint, and the eval slice is absent."""
    from billing_etl_v1_spark import cli
    from tests.conftest import SF_SMALL

    monkeypatch.setattr("billing_etl_v1_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    target = str(tmp_path / "shards")
    rc = cli.main(
        ["corpus", "--docs", f"{SF_SMALL}/documents.parquet", "--target", target, "--full"]
    )
    assert rc == 0
    out = spark.read.parquet(target)
    assert {"doc_id", "split", "shard_id", "n_tokens"} <= set(out.columns)
    rows = out.collect()
    assert rows and all(r.split in ("train", "val", "test") for r in rows)
    assert all(r.doc_id % 97 != 0 for r in rows)  # eval slice excluded


def test_cli_sql_subcommand_query_and_list_tables(spark, monkeypatch, capsys):
    """The reference README documents --query/--list-tables but its main.py
    never wires them (README.md:38-45, SURVEY §3.3) — our `sql` subcommand
    is the real pass-through over the parquet tables."""
    from billing_etl_v1_spark import cli
    from tests.conftest import SF_SMALL

    monkeypatch.setattr("billing_etl_v1_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    rc = cli.main(["sql", "--tables", SF_SMALL, "--list-tables"])
    assert rc == 0
    listed = capsys.readouterr().out.split()
    assert {"region", "nation", "lineitem", "documents"} <= set(listed)

    rc = cli.main(
        [
            "sql",
            "--tables", SF_SMALL,
            "--query",
            "SELECT r_name, count(*) AS n FROM region GROUP BY r_name ORDER BY r_name LIMIT 5",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "r_name" in out and "AFRICA" in out


def test_cli_explain_subcommand(spark, monkeypatch, capsys):
    """`explain` prints the formatted physical plan of any registered query
    (and lists names when none given) — the one-command plan review the
    scale posture workflow leans on."""
    from billing_etl_v1_spark import cli
    from tests.conftest import SF_SMALL

    monkeypatch.setattr("billing_etl_v1_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    rc = cli.main(["explain"])
    assert rc == 0
    names = capsys.readouterr().out.split()
    assert "tpch_q6" in names and "billing_flagship" in names

    rc = cli.main(["explain", "tpch_q6", "--tables", SF_SMALL])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out

    rc = cli.main(["explain", "no_such_query"])
    assert rc == 2


def test_partitioned_sink_prunes_on_read(spark, tmp_path):
    """The (invoice_month, usage_day) layout must make month/day-filtered
    reads prune partitions at PLAN time — the property that lets a daily
    job over a 100 TB calculated table touch one day's files. Asserted via
    the scan's partition filters and the pruned input-file count."""
    from billing_etl_v1_spark.sources.writers import write_calculated

    base = spark.range(0, 300).selectExpr(
        "CAST(199505 + (id % 3) AS STRING) AS invoice_month",
        "date_add(DATE'1995-06-01', CAST(id % 5 AS INT)) AS usage_day",
        "id AS v",
    )
    path = str(tmp_path / "calc")
    write_calculated(base, path)

    filtered = spark.read.parquet(path).filter(F.col("invoice_month") == "199506")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "invoice_month" in plan.split(
        "PartitionFilters"
    )[1][:200]
    n_all = spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    n_pruned = filtered.select(F.input_file_name()).distinct().count()
    assert 0 < n_pruned < n_all
    assert filtered.count() == 100


def test_write_zordered_narrows_per_file_ranges_on_both_columns(spark, tmp_path):
    """The Morton layout's whole point: per-file min/max footers are narrow
    on EVERY z-column (a plain sort narrows only its leading column), so
    predicate-driven file pruning works for either column."""
    import pyarrow.parquet as pq

    from billing_etl_v1_spark.sources.readers import load_table
    from billing_etl_v1_spark.sources.writers import write_zordered
    from tests.conftest import SF_SMALL

    events = load_table(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    zpath, npath = str(tmp_path / "z"), str(tmp_path / "n")
    write_zordered(events, zpath, cols=("user_id", "value"), num_files=8)
    events.repartition(8).write.mode("overwrite").parquet(npath)

    def range_sum(path, col):
        import glob
        import os

        total = 0.0
        files = glob.glob(os.path.join(path, "*.parquet"))
        assert len(files) >= 4
        for f in files:
            md = pq.ParquetFile(f).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            if los:
                total += float(max(his) - min(los))
        return total

    for col in ("user_id", "value"):
        z, n = range_sum(zpath, col), range_sum(npath, col)
        # natural layout: every file spans ~the full range (sum ~ 8x range);
        # z-order: each file covers a fraction. 0.6 is a loose, stable bound.
        assert z < 0.6 * n, (col, z, n)

    # layout change must not change content
    zdf = spark.read.parquet(zpath)
    assert zdf.count() == events.count()
    assert zdf.selectExpr("sum(event_id)").first()[0] == events.selectExpr(
        "sum(event_id)"
    ).first()[0]


def test_write_zordered_refuses_string_columns(spark, tmp_path):
    from billing_etl_v1_spark.sources.readers import load_table
    from billing_etl_v1_spark.sources.writers import write_zordered
    from tests.conftest import SF_SMALL

    import pytest

    docs = load_table(spark, SF_SMALL, "documents")
    with pytest.raises(ValueError, match="numeric"):
        write_zordered(docs, str(tmp_path / "z"), cols=("doc_id", "text"))


def test_versioned_writes_time_travel_and_rollback(spark, tmp_path):
    """Snapshot versioning: latest follows the marker, pinned reads stay
    byte-stable as new versions land, and rollback repoints without
    touching data."""
    from billing_etl_v1_spark.sources.writers import (
        current_version,
        list_versions,
        read_versioned,
        rollback_version,
        write_versioned,
    )

    import pytest

    d = str(tmp_path / "dim_versions")
    mk = lambda v: spark.range(v * 10).withColumnRenamed("id", "k")  # noqa: E731
    assert write_versioned(mk(1), d) == 1
    assert write_versioned(mk(2), d) == 2
    assert write_versioned(mk(3), d) == 3
    assert list_versions(spark, d) == [1, 2, 3]
    assert current_version(spark, d) == 3
    assert read_versioned(spark, d).count() == 30
    assert read_versioned(spark, d, version=1).count() == 10
    rollback_version(spark, d, 1)
    assert read_versioned(spark, d).count() == 10
    assert list_versions(spark, d) == [1, 2, 3]  # no data moved
    # a new write continues the version line past the rollback point
    assert write_versioned(mk(4), d) == 4
    assert read_versioned(spark, d).count() == 40
    with pytest.raises(ValueError, match="does not exist"):
        rollback_version(spark, d, 99)


def test_vacuum_versions_retention_and_rollback_safety(spark, tmp_path):
    """Retention sweep deletes only snapshots past keep_last, never the
    one _LATEST points at — a vacuum after rollback must not become data
    loss."""
    import pytest

    from billing_etl_v1_spark.sources.writers import (
        list_versions,
        read_versioned,
        rollback_version,
        vacuum_versions,
        write_versioned,
    )

    d = str(tmp_path / "dim_vacuum")
    for v in range(1, 6):
        assert write_versioned(spark.range(v * 10), d) == v
    assert vacuum_versions(spark, d, keep_last=2) == [1, 2, 3]
    assert list_versions(spark, d) == [4, 5]
    assert read_versioned(spark, d).count() == 50  # latest untouched

    # rollback to the oldest survivor, then vacuum keep_last=1: the
    # rollback target survives even though it is past the horizon
    rollback_version(spark, d, 4)
    assert vacuum_versions(spark, d, keep_last=1) == []
    assert list_versions(spark, d) == [4, 5]
    assert read_versioned(spark, d).count() == 40

    with pytest.raises(ValueError, match="keep_last"):
        vacuum_versions(spark, d, keep_last=0)


def test_snapshot_diff_added_removed_changed(spark, tmp_path):
    """CDC-lite between two snapshots: added/removed/changed per key with
    null-safe change detection (NULL->NULL unchanged, NULL->value
    changed); unchanged keys dropped."""
    import pytest

    from billing_etl_v1_spark.sources.writers import snapshot_diff, write_versioned

    d = str(tmp_path / "dim_diff")
    rows_v1 = [
        (1, "a", 10.0),
        (2, "b", None),
        (3, "c", 30.0),
        (4, "d", None),
    ]
    rows_v2 = [
        (1, "a", 10.0),  # unchanged
        (2, "b", 20.0),  # NULL -> value
        (4, "d", None),  # NULL -> NULL: unchanged
        (5, "e", 50.0),  # added
    ]
    schema = ["k", "name", "score"]
    assert write_versioned(spark.createDataFrame(rows_v1, schema), d) == 1
    assert write_versioned(spark.createDataFrame(rows_v2, schema), d) == 2

    out = {
        r["k"]: r
        for r in snapshot_diff(spark, d, 1, 2, key_cols=["k"]).collect()
    }
    assert {k: r["change_type"] for k, r in out.items()} == {
        2: "changed",
        3: "removed",
        5: "added",
    }
    assert out[2]["before"]["score"] is None and out[2]["after"]["score"] == 20.0
    assert out[3]["after"] is None and out[3]["before"]["name"] == "c"
    assert out[5]["before"] is None and out[5]["after"]["name"] == "e"

    with pytest.raises(ValueError, match="key columns"):
        snapshot_diff(spark, d, 1, 2, key_cols=["nope"])
    with pytest.raises(ValueError, match="do not exist"):
        snapshot_diff(spark, d, 1, 99, key_cols=["k"])


def test_snapshot_diff_across_schema_evolution(spark, tmp_path):
    """Snapshots may not share a schema (columns added between writes):
    change detection runs over the SHARED columns only, and the
    before/after structs each keep their own snapshot's full shape."""
    from billing_etl_v1_spark.sources.writers import snapshot_diff, write_versioned

    d = str(tmp_path / "dim_evolve")
    write_versioned(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "name"]), d)
    write_versioned(
        spark.createDataFrame(
            [(1, "a", 10), (2, "B", 20)], ["k", "name", "extra"]
        ),
        d,
    )
    out = {r["k"]: r for r in snapshot_diff(spark, d, 1, 2, key_cols=["k"]).collect()}
    # k=1: shared columns equal -> NOT reported even though v2 adds a column
    assert set(out) == {2}
    assert out[2]["change_type"] == "changed"
    assert out[2]["after"]["extra"] == 20
    assert "extra" not in out[2]["before"].asDict()


def test_cli_versions_surface(spark, tmp_path, monkeypatch, capsys):
    """The versions subcommand drives list/vacuum/diff/rollback over a
    versioned table end-to-end."""
    from billing_etl_v1_spark import cli
    from billing_etl_v1_spark.sources.writers import list_versions, write_versioned

    d = str(tmp_path / "dim_cli")
    for v in range(1, 4):
        write_versioned(
            spark.createDataFrame([(k, v) for k in range(5 * v)], ["k", "ver"]), d
        )
    monkeypatch.setattr(
        "billing_etl_v1_spark.session.get_spark", lambda *a, **k: spark
    )
    monkeypatch.setattr(spark, "stop", lambda: None)

    assert cli.main(["versions", "list", "--table", d]) == 0
    out = capsys.readouterr().out
    assert "v=3  <- _LATEST" in out and "v=1" in out

    assert cli.main(
        ["versions", "diff", "--table", d, "--from", "1", "--to", "2", "--keys", "k"]
    ) == 0
    assert "added" in capsys.readouterr().out

    assert cli.main(["versions", "rollback", "--table", d, "--to", "2"]) == 0
    assert cli.main(["versions", "vacuum", "--table", d, "--keep-last", "1"]) == 0
    # v=2 survives as the rollback target, v=3 as the newest
    assert list_versions(spark, d) == [2, 3]

    # diff without keys is a usage error, not a crash
    assert cli.main(
        ["versions", "diff", "--table", d, "--from", "2", "--to", "3"]
    ) == 2


def test_csv_quarantine_splits_good_and_bad_rows(spark, tmp_path):
    """PERMISSIVE + corrupt-record capture: malformed rows land in the
    quarantine frame as raw text, fully-parsed rows come back typed and
    complete, and the union accounts for every input line (the reference's
    failure-CSV posture moved into the data plane, at row grain)."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from billing_etl_v1_spark.sources.readers import read_csv_quarantine

    path = str(tmp_path / "q.csv")
    with open(path, "w") as f:
        f.write("id,name,qty\n")
        f.write("1,alpha,10\n")
        f.write("2,beta,not-a-number\n")
        f.write("3,gamma,30\n")
        f.write("4,delta,4.5\n")
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("name", StringType()),
            StructField("qty", IntegerType()),
        ]
    )
    good, bad = read_csv_quarantine(spark, path, schema)
    g = {r.id: r for r in good.collect()}
    b = sorted(r.corrupt_record for r in bad.collect())
    assert set(g) == {1, 3} and g[1].qty == 10 and g[3].qty == 30
    assert b == ["2,beta,not-a-number", "4,delta,4.5"]
    assert good.columns == ["id", "name", "qty"]


def test_csv_quarantine_embedded_newlines_accounted_or_parsed(spark, tmp_path):
    """The classic silent-corruption CSV hazard: an RFC-4180 quoted field
    containing a newline. Default (line-per-record) mode must QUARANTINE
    both physical halves — accounted and recoverable, never a garbage
    'good' row; multiline=True must parse the record correctly (trade:
    multiLine files are not splittable, documented)."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from billing_etl_v1_spark.sources.readers import read_csv_quarantine

    path = str(tmp_path / "nl.csv")
    with open(path, "w") as f:
        f.write("id,s,v\n")
        f.write("1,hello,5\n")
        f.write('2,"multi\nline field",6\n')
        f.write("3,ok,7\n")
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("s", StringType()),
            StructField("v", IntegerType()),
        ]
    )
    good, bad = read_csv_quarantine(spark, path, schema)
    assert {r.id for r in good.collect()} == {1, 3}
    assert sorted(r.corrupt_record for r in bad.collect()) == [
        '2,"multi',
        'line field",6',
    ]
    good2, bad2 = read_csv_quarantine(spark, path, schema, multiline=True)
    g2 = {r.id: r for r in good2.collect()}
    assert set(g2) == {1, 2, 3} and g2[2].s == "multi\nline field"
    assert bad2.count() == 0


def test_orc_round_trip_with_partitions_and_nested_types(spark, tmp_path):
    """ORC source/sink: partitioned write + typed read round-trips exactly,
    including nested array columns CSV can't carry; the optional read
    schema pins projection like the CSV/JSON readers' mandatory one."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from billing_etl_v1_spark.sources.readers import read_orc
    from billing_etl_v1_spark.sources.writers import write_orc

    df = spark.createDataFrame(
        [(1, "a", ["x", "y"], "d1"), (2, "b", [], "d2"), (3, None, ["z"], "d1")],
        "id int, s string, tags array<string>, part string",
    )
    path = str(tmp_path / "orc_t")
    write_orc(df, path, partition_by=("part",))
    back = read_orc(spark, path)
    assert sorted(
        (r.id, r.s, tuple(r.tags), r.part) for r in back.collect()
    ) == sorted((r.id, r.s, tuple(r.tags), r.part) for r in df.collect())
    pinned = read_orc(
        spark,
        path,
        schema=StructType(
            [
                StructField("id", IntegerType()),
                StructField("tags", ArrayType(StringType())),
                StructField("part", StringType()),
            ]
        ),
    )
    assert pinned.columns == ["id", "tags", "part"] and pinned.count() == 3


def test_quarantine_release_unpersists_pinned_scans(spark, tmp_path):
    """The quarantine readers pin the parsed scan (SPARK-21610 split);
    release_quarantine_cache must unpersist it so a backfill's input
    doesn't stay in storage memory for the session's lifetime (review
    finding: there was no release path at all)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from billing_etl_v1_spark.sources import readers

    path = str(tmp_path / "r.jsonl")
    with open(path, "w") as f:
        f.write('{"id": 1}\nnot json\n')
    schema = StructType([StructField("id", IntegerType())])
    good, bad = readers.read_json_quarantine(spark, path, schema)
    assert good.count() == 1 and bad.count() == 1
    pinned = readers._QUARANTINE_PINNED[-1]
    assert pinned.storageLevel.useMemory, "split must run on a pinned scan"
    assert readers.release_quarantine_cache() >= 1
    assert not pinned.storageLevel.useMemory
    assert readers._QUARANTINE_PINNED == []
    # post-release the split frames are INVALID again (SPARK-21610: the
    # corrupt-column filter needs a materialized scan) — documented
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    with _pytest.raises(AnalysisException):
        bad.count()


def test_json_quarantine_splits_good_and_bad_rows(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from billing_etl_v1_spark.sources.readers import read_json_quarantine

    path = str(tmp_path / "q.jsonl")
    with open(path, "w") as f:
        f.write('{"id": 1, "tag": "a"}\n')
        f.write("this is not json\n")
        f.write('{"id": 3, "tag": "c"}\n')
    schema = StructType(
        [StructField("id", IntegerType()), StructField("tag", StringType())]
    )
    good, bad = read_json_quarantine(spark, path, schema)
    assert {r.id for r in good.collect()} == {1, 3}
    assert [r.corrupt_record for r in bad.collect()] == ["this is not json"]


def test_cli_tokenizer_family_flag_wordpiece_and_unigram_alias(
    spark, tmp_path, monkeypatch
):
    """The unified tokenizer CLI (VERDICT r7 #7): --family wordpiece
    trains/serves the third family end-to-end, and --family unigram
    produces the identical artifact as the legacy `unigram` subcommand
    (back-compat alias)."""
    from billing_etl_v1_spark import cli
    from billing_etl_v1_spark.operators import unigram as ug_ops
    from billing_etl_v1_spark.operators import wordpiece as wp_ops

    train_path = str(tmp_path / "train_docs")
    new_path = str(tmp_path / "new_docs")
    spark.createDataFrame(
        [(0, "aaabab banana aab"), (1, "banana aaabab aaaa .")],
        "doc_id long, text string",
    ).write.parquet(train_path)
    new_df = spark.createDataFrame(
        [(0, "banana bandana aa"), (1, "zzz .")], "doc_id long, text string"
    )
    new_df.write.parquet(new_path)
    monkeypatch.setattr("billing_etl_v1_spark.session.get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    # wordpiece: train, then encode under the stored cap
    wtok = str(tmp_path / "wtok")
    wtarget = str(tmp_path / "wcounts")
    rc = cli.main(
        ["tokenizer", "train", "--family", "wordpiece", "--docs", train_path,
         "--tokenizer", wtok, "--num-merges", "4"]
    )
    assert rc == 0
    rc = cli.main(
        ["tokenizer", "encode", "--family", "wordpiece", "--docs", new_path,
         "--tokenizer", wtok, "--target", wtarget]
    )
    assert rc == 0
    ids, segs, cap = wp_ops.load_wordpiece(spark, wtok)
    assert cap == 16  # family train default, stored in the artifact
    got = sorted(map(tuple, spark.read.parquet(wtarget).collect()))
    exp = sorted(
        map(
            tuple,
            wp_ops.wordpiece_encode(new_df, ids, segs, max_word_len=cap).collect(),
        )
    )
    assert got == exp

    # the CLI persists exactly the library trainer's tables
    _lm, li, ls = wp_ops.wordpiece_artifacts(
        spark.read.parquet(train_path), num_merges=4, max_word_len=cap
    )
    assert sorted(map(tuple, li.collect())) == sorted(map(tuple, ids.collect()))
    assert sorted(
        (r.word, tuple(r.pieces), r.n_tokens) for r in ls.collect()
    ) == sorted((r.word, tuple(r.pieces), r.n_tokens) for r in segs.collect())

    # unigram via --family == legacy `unigram` subcommand, artifact-identical
    utok1, utok2 = str(tmp_path / "utok1"), str(tmp_path / "utok2")
    rc = cli.main(
        ["tokenizer", "train", "--family", "unigram", "--docs", train_path,
         "--tokenizer", utok1, "--vocab-size", "8"]
    )
    assert rc == 0
    rc = cli.main(
        ["unigram", "train", "--docs", train_path, "--tokenizer", utok2,
         "--vocab-size", "8"]
    )
    assert rc == 0
    p1, s1, mpl1, mwl1 = ug_ops.load_unigram(spark, utok1)
    p2, s2, mpl2, mwl2 = ug_ops.load_unigram(spark, utok2)
    assert (mpl1, mwl1) == (mpl2, mwl2)
    assert sorted(map(tuple, p1.collect())) == sorted(map(tuple, p2.collect()))
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    wp_ops.release_wordpiece_cache(spark)
    ug_ops.release_unigram_cache(spark)
