"""Output checks for the billing-cron benchmark, all in DuckDB.

Billing: the oracle is ``billing_etl_v1_spark.oracle``'s flagship fragments
(dim dedupe, the 8 rule subsets, the grain aggregate, the priority join,
pandas-path pricing and the sink's defaults) composed over the generated
fact and dim instead of the testdata-derived ones. It runs once per distinct
input; every later call is checked against its order-insensitive content
hash (row count plus the sum of per-row hashes, ``etl_time`` excluded,
doubles quantised exactly as the oracle quantises them).

Corpus: ``oracle_ext.corpus_build_sql`` and ``bpe_merges_sql`` over a
``documents`` view of the same parquet, and a sequential reference encoder
for the serving path.
"""

from __future__ import annotations

import glob
import os
import re

import duckdb

from billing_etl_v1_spark import oracle
from billing_etl_v1_spark.schemas import TARGET_COLUMNS, TARGET_NUMERIC_COLUMNS
from billing_etl_v1_spark.sources.synthetic import DIM_SQL, FACT_SQL

HASHED_COLUMNS = [c for c in TARGET_COLUMNS if c != "etl_time"]


def _hash_projection() -> str:
    cols = []
    for c in HASHED_COLUMNS:
        if c in TARGET_NUMERIC_COLUMNS:
            cols.append(oracle._r6(f"CAST({c} AS DOUBLE)"))
        elif c == "mode":
            cols.append("CAST(mode AS BIGINT)")
        elif c == "usage_day":
            cols.append("CAST(usage_day AS DATE)")
        else:
            cols.append(f"CAST({c} AS VARCHAR)")
    return "hash(" + ", ".join(cols) + ")"


ROW_HASH = _hash_projection()


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def billing_oracle_sql(month: str, mapping: dict[str, float]) -> str:
    """The flagship oracle at the production grain, over views
    ``bench_fact`` and ``bench_dim``."""
    sql = oracle.flagship_sql(month=month, grain="pipeline", mapping=mapping)
    for generated, view in ((FACT_SQL, "bench_fact"), (DIM_SQL, "bench_dim")):
        if sql.count(generated) != 1:
            raise RuntimeError("oracle.flagship_sql no longer embeds the synthetic SQL once")
        sql = sql.replace(generated, f"SELECT * FROM {view}")
    return sql


def billing_views(con: duckdb.DuckDBPyConnection, fact_path: str, dim_path: str) -> None:
    """Register the generated tables (the fact day-partitioned) as the
    oracle's ``bench_fact``/``bench_dim``."""
    con.execute(
        "CREATE OR REPLACE VIEW bench_fact AS SELECT * FROM "
        f"read_parquet('{fact_path}/*/*.parquet', hive_partitioning = true, "
        "hive_types = {'usage_day': DATE})"
    )
    con.execute(f"CREATE OR REPLACE VIEW bench_dim AS SELECT * FROM read_parquet('{dim_path}/*.parquet')")


def day_partitions(target: str, month: str, days: list[str] | None) -> list[str]:
    base = os.path.join(target, f"invoice_month={month}")
    if days is None:
        return sorted(glob.glob(os.path.join(base, "usage_day=*")))
    return [os.path.join(base, f"usage_day={d}") for d in days]


def partition_files(parts: list[str]) -> list[str]:
    return sorted(f for p in parts for f in glob.glob(os.path.join(p, "*.parquet")))


def target_day_hashes(
    con: duckdb.DuckDBPyConnection, files: list[str]
) -> dict[str, tuple[int, int]]:
    """Content hash of written target files, per usage_day partition."""
    if not files:
        return {}
    listing = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    rows = con.execute(
        f"SELECT CAST(usage_day AS VARCHAR), count(*), sum({ROW_HASH}) FROM read_parquet("
        f"{listing}, hive_partitioning = true, union_by_name = true, "
        "hive_types = {'invoice_month': VARCHAR, 'usage_day': DATE}) GROUP BY 1"
    ).fetchall()
    return {d: (int(n), int(h)) for d, n, h in rows}


def output_counts(con: duckdb.DuckDBPyConnection, files: list[str]) -> dict[str, int]:
    """Lines per pricing mode 0-4 in written target files."""
    listing = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    rows = con.execute(
        f"SELECT CAST(mode AS BIGINT), count(*) FROM read_parquet({listing}) GROUP BY 1"
    ).fetchall()
    return {int(m): int(n) for m, n in rows}


# --- corpus -----------------------------------------------------------------


def _rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def corpus_expected(
    con: duckdb.DuckDBPyConnection, docs_path: str, num_merges: int, max_word_len: int
) -> tuple[list, list]:
    """(corpus_build rows, BPE merge rows) from the DuckDB twins."""
    from billing_etl_v1_spark import oracle_ext

    con.execute(
        f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs_path}/*.parquet')"
    )
    built = _rows(
        con,
        "SELECT doc_id, n_tokens, shard_id, lang_pred, "
        f"{oracle._r6('quality_score')} FROM ({oracle_ext.corpus_build_sql()})",
    )
    merges = _rows(
        con,
        "SELECT merge_rank, left_sym, right_sym, merged, pair_count "
        f"FROM ({oracle_ext.bpe_merges_sql(num_merges, max_word_len)})",
    )
    return built, merges


def corpus_actual(con: duckdb.DuckDBPyConnection, built_path: str) -> list[tuple]:
    return _rows(
        con,
        "SELECT doc_id, n_tokens, shard_id, lang_pred, "
        f"{oracle._r6('quality_score')} FROM read_parquet('{built_path}/*.parquet')",
    )


def encode_expected(texts: dict[int, str], merges: list[tuple], max_word_len: int) -> list[tuple]:
    """Sequential reference for ``bpe_encode``: per doc (pre-tokens, tokens),
    applying each merge in rank order to every adjacent pair (Sennrich)."""
    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE

    ranked = [(m[1], m[2]) for m in sorted(merges)]
    memo: dict[str, int] = {}

    def n_tokens(word: str) -> int:
        if word not in memo:
            syms = list(word)
            if len(syms) <= max_word_len:
                for a, b in ranked:
                    out, i = [], 0
                    while i < len(syms):
                        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                            out.append(a + b)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
            memo[word] = len(syms)
        return memo[word]

    pre = re.compile(BPE_TOKEN_RE)
    out = []
    for doc_id, text in texts.items():
        words = pre.findall(text)
        out.append((doc_id, len(words), sum(n_tokens(w) for w in words)))
    return sorted(out)


def encode_actual(con: duckdb.DuckDBPyConnection, path: str) -> list[tuple]:
    return _rows(
        con,
        "SELECT doc_id, CAST(n_pretokens AS BIGINT), CAST(n_bpe_tokens AS BIGINT) "
        f"FROM read_parquet('{path}/*.parquet')",
    )
