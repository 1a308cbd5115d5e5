"""Dtype-exact parity in the default test run: ``strict_check.check_query``
(the driver-mimic comparison — row count, columns, dtype kind, exact
values) over registered queries against their unchanged DuckDB twins at
sf0.01. Covers the tokenizer families' queries; the float-tolerant mirror
in test_oracle_parity.py sits in the slow lane."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE, TESTDATA_TABLES
from tests.strict_check import check_query

STRICT_QUERIES = [
    "docs_bpe_merges",
    "docs_bpe_tokens",
    "docs_bpe_merges_byte",
    "docs_bpe_tokens_byte",
    "docs_bpe_vocab",
    "docs_bpe_vocab_byte",
    "docs_bpe_token_seq",
    "docs_bpe_fertility",
    "docs_bpe_pack_ids",
    "docs_wordpiece_vocab",
    "docs_wordpiece_tokens",
    "docs_wordpiece_fertility",
    "docs_wordpiece_seq",
    "docs_wordpiece_pack_ids",
]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()


def test_strict_queries_cover_every_tokenizer_query():
    """The list tracks the registry: every docs_bpe_* / docs_wordpiece_*
    query is checked, and each one has an oracle twin."""
    names = [
        n for n in entrymod.queries() if n.startswith(("docs_bpe_", "docs_wordpiece_"))
    ]
    assert sorted(names) == sorted(STRICT_QUERIES)
    assert set(STRICT_QUERIES) <= set(entrymod.oracle_sql())


@pytest.mark.parametrize("name", STRICT_QUERIES)
def test_query_strict_equals_oracle(spark, oracle_con, name):
    rec = check_query(
        name, spark, oracle_con, entrymod.queries(), entrymod.oracle_sql()
    )
    assert rec["ok"] and rec["rows"], rec["problems"]
