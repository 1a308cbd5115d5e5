"""Driver-mimic strict comparison: first-50 ``queries()`` vs ``oracle_sql()``
at sf0.01, flagging what the float-tolerant parity test can't see —
per-column dtype-kind mismatches (int vs float killed billing_dq_audit in
round 1) and exact value drift on non-float columns.

Run: python tests/strict_check.py [--json OUT.json] [N] [name ...]

With ``--json`` the run also emits a machine-readable artifact (one record
per query: ok / problems / row count / max float drift, plus the start
loadavg and wall time, load-stamped like the bench) so the full-registry
strict verification is a committed, auditable fact rather than a docstring
claim — the r9 VERDICT's "Next round" item 2.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from billing_etl_v1_spark.session import get_spark
from tests.conftest import SF_ORACLE, TESTDATA_TABLES, normalize


def kind(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "b"
    if pd.api.types.is_integer_dtype(s):
        return "i"
    if pd.api.types.is_float_dtype(s):
        return "f"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "t"
    if s.dtype == object:
        import datetime as dt
        from decimal import Decimal

        for v in s:
            if v is None:
                continue
            if isinstance(v, Decimal):
                return "dec"
            if isinstance(v, (dt.date, dt.datetime)):
                return "t"
            if isinstance(v, (int, np.integer)):
                return "i"
            if isinstance(v, float):
                return "f"
            return "s"
        return "s"
    return str(s.dtype)


def check_query(name: str, spark, con, queries: dict, oracles: dict) -> dict:
    """Run one registered query and its DuckDB oracle (views over
    ``SF_ORACLE`` on ``con``) and compare them dtype-exact: row count,
    column names, per-column dtype kind, exact non-float values, floats
    within 1e-9. Returns the artifact record: ok / problems / rows /
    max_float_drift / sec (plus ``no_oracle`` for unpaired queries); an
    exception in either engine is a failed record, not a raise."""
    t_q = time.time()
    try:
        sdf = queries[name](spark, SF_ORACLE).toPandas()
        if name not in oracles:
            return {
                "ok": True,
                "no_oracle": True,
                "rows": len(sdf),
                "problems": [],
                "max_float_drift": None,
                "sec": round(time.time() - t_q, 3),
            }
        ddf = con.execute(oracles[name]).df()
        problems = []
        max_drift = 0.0
        if len(sdf) != len(ddf):
            problems.append(f"rows {len(sdf)} != {len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(ddf.columns)}")
        else:
            a, b = normalize(sdf), normalize(ddf)
            for c in a.columns:
                ka, kb = kind(a[c]), kind(b[c])
                if ka != kb:
                    problems.append(f"dtype[{c}]: spark={ka} oracle={kb}")
                    continue
                if ka == "f":
                    av = pd.to_numeric(a[c], errors="coerce").astype(float)
                    bv = pd.to_numeric(b[c], errors="coerce").astype(float)
                    bad = ~np.isclose(
                        av.fillna(-1.23e18), bv.fillna(-1.23e18), rtol=0, atol=1e-9
                    )
                    if bad.any():
                        i = int(np.argmax(bad))
                        problems.append(
                            f"float[{c}] row {i}: {av.iloc[i]!r} != {bv.iloc[i]!r}"
                        )
                    else:
                        # driver quantizes floats before hashing; warn when
                        # raw values differ beyond ~1e-12 even though the
                        # tolerant test passes
                        drift = float(
                            np.max(
                                np.abs(
                                    av.fillna(0).to_numpy() - bv.fillna(0).to_numpy()
                                )
                            )
                            if len(av)
                            else 0.0
                        )
                        max_drift = max(max_drift, drift)
                        if drift > 1e-12:
                            print(f"  note {name}.{c}: max float drift {drift:.3e}")
                else:
                    av = a[c].astype(str).where(~a[c].isna(), "<NULL>")
                    bv = b[c].astype(str).where(~b[c].isna(), "<NULL>")
                    bad = (av != bv).to_numpy()
                    if bad.any():
                        i = int(np.argmax(bad))
                        problems.append(
                            f"value[{c}] row {i}: {av.iloc[i]!r} != {bv.iloc[i]!r}"
                        )
        return {
            "ok": not problems,
            "rows": len(sdf),
            "problems": problems,
            "max_float_drift": max_drift,
            "sec": round(time.time() - t_q, 3),
        }
    except Exception as exc:  # noqa: BLE001 — recorded as a failed query
        return {
            "ok": False,
            "rows": None,
            "problems": [f"{type(exc).__name__}: {exc}"],
            "max_float_drift": None,
            "sec": round(time.time() - t_q, 3),
        }


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):  # trailing --json: usage error, not a traceback
            raise SystemExit("usage: strict_check.py [--json OUT.json] [N] [names...]")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    n = int(argv[0]) if argv else 50
    only = set(argv[1:])
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [k for k in list(queries)[:n] if not only or k in only]

    spark = get_spark("strict-check", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )

    failures = []
    records: dict[str, dict] = {}
    t_start = time.time()
    load_start = os.getloadavg()
    for name in names:
        rec = records[name] = check_query(name, spark, con, queries, oracles)
        if rec.get("no_oracle"):
            print(f"{name}: NO-ORACLE rows={rec['rows']}")
        elif rec["ok"]:
            print(f"{name}: ok rows={rec['rows']}")
        else:
            failures.append(name)
            print(f"{name}: FAIL  {'; '.join(rec['problems'])}")

    print(f"\n{len(names) - len(failures)}/{len(names)} strict-ok; failures: {failures}")
    if json_out:
        artifact = {
            "strict_ok": len(names) - len(failures),
            "checked": len(names),
            "failures": failures,
            "sf_dir": SF_ORACLE,
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "wall_sec": round(time.time() - t_start, 1),
            "queries": records,
        }
        with open(json_out, "w") as fh:
            json.dump(artifact, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
