"""Seeded input generators for the billing-cron benchmark.

Everything here is plain NumPy + PyArrow: the engine under test never sees
the generator, only the parquet it writes. The same ``(shape, seed)`` always
yields byte-identical tables; a different seed changes the values but keeps
the row counts of every table, so run-to-run figures compare like for like.

Billing tables follow the reference fact/dim schema (the columns
``sources/synthetic.FACT_SQL`` and ``DIM_SQL`` produce). Documents follow
the testdata ``documents`` table (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTH = "202403"  # invoice month of every generated fact row
CONTRACT_MONTH = "2024-03"
PRIOR_CONTRACT_MONTH = "2024-02"  # dim rows the month filter must drop
DAYS = 31
FIRST_DAY = dt.date(2024, 3, 1)

# the 8 NULL-wildcard rule patterns, by non-wildcard column. Restated from
# operators.rules (as CREDIT_COLUMNS is from schemas), not imported, so an
# engine edit cannot change the generated inputs.
PATTERN_COLUMNS = {
    1: (),
    2: ("project_id",),
    3: ("service_description",),
    4: ("project_id", "service_description"),
    5: ("sku_id",),
    6: ("project_id", "sku_id"),
    7: ("service_description", "sku_id"),
    8: ("project_id", "service_description", "sku_id"),
}

CREDIT_COLUMNS = (
    "c_cud", "c_cud_db", "c_discount", "c_free_tier",
    "c_promotion", "c_rm", "c_sub_benefit", "c_sud",
)
# chance that a usage row carries each credit bucket
_CREDIT_P = (0.15, 0.05, 0.2, 0.05, 0.05, 0.1, 0.05, 0.1)
_COST_TYPES = np.array(["regular", "tax", "adjustment"])
_COST_TYPE_P = (0.9, 0.05, 0.05)
_UNITS = np.array(["hour", "gibibyte hour", "gibibyte", "count"])


@dataclass(frozen=True)
class BillingShape:
    rows: int            # usage rows in the fact
    lines: int           # distinct production-grain (8-key) groups targeted
    accounts: int
    zipf_s: float        # account-size skew: weight of rank r is r**-zipf_s
    projects: int
    services: int
    skus_per_service: int
    rule_accounts: int   # accounts (largest first) that have contracts
    rules_per_pattern: tuple[int, ...]  # rules wanted for patterns 1..8
    dup_share: float     # share of rules duplicated with another payload
    heavy: int = 14      # accounts counted as heavy (reference main.py:86-104)


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    return w / w.sum()


def _names(prefix: str, n: int) -> list[str]:
    width = 5 if prefix == "acct-" else 0
    return [f"{prefix}{i:0{width}d}" for i in range(n)]


def _labels(prefix: str, n: int, idx: np.ndarray) -> pa.Array:
    """String column ``prefix + index`` built by gathering from the ``n``
    distinct labels (far cheaper than formatting every row)."""
    return pa.array(_names(prefix, n)).take(idx)


def _const(value: str, n: int) -> pa.Array:
    return pa.array([value]).take(np.zeros(n, dtype=np.int64))


def _groups(shape: BillingShape, rng: np.random.Generator) -> dict[str, np.ndarray]:
    """``shape.lines`` distinct 8-key groups, as integer codes."""
    n_sku = shape.services * shape.skus_per_service
    card = (shape.accounts, DAYS, shape.projects, n_sku, len(_COST_TYPES))
    want = shape.lines
    codes = np.empty(0, dtype=np.int64)
    while codes.size < want:
        draw = 2 * (want - codes.size) + 16
        acct = rng.choice(shape.accounts, size=draw, p=_zipf_weights(shape.accounts, shape.zipf_s))
        day = rng.integers(0, DAYS, draw)
        proj = rng.integers(0, shape.projects, draw)
        sku = rng.integers(0, n_sku, draw)
        ct = rng.choice(len(_COST_TYPES), size=draw, p=_COST_TYPE_P)
        new = np.ravel_multi_index((acct, day, proj, sku, ct), card)
        merged = np.concatenate([codes, new])
        _, first = np.unique(merged, return_index=True)
        codes = merged[np.sort(first)]
    codes = codes[:want]
    acct, day, proj, sku, ct = np.unravel_index(codes, card)
    return {"acct": acct, "day": day, "proj": proj, "sku": sku, "ct": ct}


def billing_tables(shape: BillingShape, seed: int) -> tuple[pa.Table, pa.Table, dict]:
    """(fact, dim, measured shape) for one seed."""
    rng = np.random.default_rng(seed)
    g = _groups(shape, rng)
    n_lines = g["acct"].size
    if shape.rows >= 2 * n_lines:
        # many usage rows per line: rows land on lines uniformly
        line_of_row = rng.integers(0, n_lines, shape.rows)
    else:
        # about one row per line: every line once, the rest repeat lines
        extra = rng.integers(0, n_lines, max(shape.rows - n_lines, 0))
        line_of_row = np.concatenate([np.arange(n_lines), extra])[: shape.rows]
        rng.shuffle(line_of_row)
    n = line_of_row.size
    acct = g["acct"][line_of_row]
    day = g["day"][line_of_row]
    proj = g["proj"][line_of_row]
    sku = g["sku"][line_of_row]
    svc = sku // shape.skus_per_service
    ct = g["ct"][line_of_row]

    unit_price = rng.uniform(0.01, 2.0, shape.services * shape.skus_per_service)
    amount = np.round(rng.lognormal(1.0, 1.2, n), 6)
    cost = np.round(amount * unit_price[sku], 6)
    cost_at_list = np.round(cost * rng.uniform(1.0, 1.3, n), 6)
    credits = {}
    for name, p in zip(CREDIT_COLUMNS, _CREDIT_P):
        on = rng.random(n) < p
        credits[name] = np.where(on, -np.round(cost * rng.uniform(0.01, 0.3, n), 6), 0.0)
    unknown = np.where(rng.random(n) < 0.02, -0.5, 0.0)
    credit_sum = sum(credits.values()) + unknown

    n_sku = shape.services * shape.skus_per_service
    days = pa.array([FIRST_DAY + dt.timedelta(days=d) for d in range(DAYS)], pa.date32())
    fact = pa.table(
        {
            "invoice_month": _const(MONTH, n),
            "contract_month": _const(CONTRACT_MONTH, n),
            "usage_day": days.take(day),
            "billing_account_id": _labels("acct-", shape.accounts, acct),
            "project_id": _labels("proj-", shape.projects, proj),
            "project_name": _labels("Project ", shape.projects, proj),
            "service_id": _labels("svc-", shape.services, svc),
            "service_description": _labels("service-", shape.services, svc),
            "sku_id": _labels("sku-", n_sku, sku),
            "sku_description": _labels("SKU ", n_sku, sku),
            "usage_pricing_unit": pa.array(_UNITS).take(sku % len(_UNITS)),
            "usage_amount_in_pricing_units": pa.array(amount),
            "currency": _const("USD", n),
            "currency_conversion_rate": pa.array(np.ones(n)),
            "cost_type": pa.array(_COST_TYPES).take(ct),
            "cost": pa.array(cost),
            "cost_at_list": pa.array(cost_at_list),
            **{k: pa.array(v) for k, v in credits.items()},
            "internal_credits_cost": pa.array(credit_sum),
            "internal_credits_consumption": pa.array(credit_sum - credits["c_rm"]),
        }
    )
    dim, dim_shape = _dim(shape, g, rng)
    sizes = np.bincount(acct, minlength=shape.accounts)
    measured = {
        "rows": n,
        "lines": n_lines,
        "reduction": round(n / n_lines, 3),
        "accounts": int((sizes > 0).sum()),
        "heavy_share": round(float(np.sort(sizes)[::-1][: shape.heavy].sum() / n), 3),
        **dim_shape,
        "fact_mb": round(fact.nbytes / 2**20, 1),
    }
    return fact, dim, measured


def _payload(rng: np.random.Generator, k: int) -> dict[str, np.ndarray]:
    """Rule payloads over every pricing mode 1-4, with the NULL defaults and
    the mode-4 zero-price guard the pricing layer special-cases."""
    mode = rng.integers(1, 5, k).astype(np.int32)
    disc = np.char.mod("%.2f", rng.uniform(0.5, 0.99, k)).astype(object)
    price = np.char.mod("%.3f", rng.uniform(0.01, 2.0, k)).astype(object)
    disc[mode == 2] = None
    price[mode == 1] = None
    m4 = mode == 4
    price[m4 & (rng.random(k) < 0.2)] = "0"       # zero-price guard
    disc[m4 & (rng.random(k) < 0.2)] = None        # mode-4 NULL default
    fields = np.array(["c_cud", "c_cud/c_discount/c_rm", "c_rm/c_sud", "c_cud/c_cud_db"])
    credit = np.where(m4, fields[rng.integers(0, len(fields), k)], None).astype(object)
    cust = np.char.add("CUST-", rng.integers(0, 10**6, k).astype(str)).astype(object)
    ctr = np.char.add("CTR-", rng.integers(0, 10**6, k).astype(str)).astype(object)
    cust[rng.random(k) < 0.05] = None
    ctr[rng.random(k) < 0.05] = None
    return {"mode": mode, "discount": disc, "price": price, "credit_fields": credit,
            "customer_id": cust, "contract_id": ctr}


def _dim(shape: BillingShape, g: dict, rng: np.random.Generator) -> tuple[pa.Table, dict]:
    """Contract rules keyed on values present in the fact, so every pattern
    matches lines; the largest accounts hold the contracts."""
    order = np.argsort(-np.bincount(g["acct"], minlength=shape.accounts), kind="stable")
    ruled = np.isin(g["acct"], order[: shape.rule_accounts])
    lines = {k: v[ruled] for k, v in g.items()}
    svc = lines["sku"] // shape.skus_per_service
    n_sku = shape.services * shape.skus_per_service
    cols = {
        "project_id": np.array(_names("proj-", shape.projects), dtype=object)[lines["proj"]],
        "service_description": np.array(_names("service-", shape.services), dtype=object)[svc],
        "sku_id": np.array(_names("sku-", n_sku), dtype=object)[lines["sku"]],
    }
    accts = np.array(_names("acct-", shape.accounts), dtype=object)[lines["acct"]]
    parts = []
    per_pattern = {}
    for pattern, want in zip(PATTERN_COLUMNS, shape.rules_per_pattern):
        keyed = PATTERN_COLUMNS[pattern]
        key = accts
        for c in keyed:
            key = key + "|" + cols[c]
        _, first = np.unique(key, return_index=True)
        pick = rng.permutation(first)[:want]
        per_pattern[pattern] = int(pick.size)
        part = {"billing_account_id": accts[pick]}
        for c in ("project_id", "service_description", "sku_id"):
            part[c] = cols[c][pick] if c in keyed else np.full(pick.size, None)
        parts.append(part)
    rules = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    k = rules["billing_account_id"].size
    dup = rng.permutation(k)[: int(shape.dup_share * k)]
    rules = {c: np.concatenate([v, v[dup]]) for c, v in rules.items()}
    k = rules["billing_account_id"].size
    payload = _payload(rng, k)
    months = [CONTRACT_MONTH, PRIOR_CONTRACT_MONTH]
    table = {
        "month": np.repeat(np.array(months, dtype=object), k),
        **{c: np.concatenate([v, v]) for c, v in rules.items()},
        # the prior month's contracts carry other payloads: a broken month
        # filter changes the output
        **{c: np.concatenate([v, _payload(rng, k)[c]]) for c, v in payload.items()},
    }
    schema = pa.schema(
        [("month", pa.string()), ("billing_account_id", pa.string()),
         ("project_id", pa.string()), ("service_description", pa.string()),
         ("sku_id", pa.string()), ("mode", pa.int32()), ("discount", pa.string()),
         ("price", pa.string()), ("credit_fields", pa.string()),
         ("customer_id", pa.string()), ("contract_id", pa.string())]
    )
    dim = pa.table({f.name: pa.array(table[f.name], f.type) for f in schema}, schema=schema)
    modes = np.bincount(payload["mode"], minlength=5)[1:]
    return dim, {
        "dim_rows": dim.num_rows,
        "rules_per_pattern": [per_pattern[p] for p in PATTERN_COLUMNS],
        "rule_modes": [int(m) for m in modes],
        "dim_dup_share": round(len(dup) / max(k - len(dup), 1), 3),
    }


def write_fact(fact: pa.Table, path: str) -> None:
    """One ``usage_day=`` hive partition per day — the layout a daily
    billing export lands in."""
    days = fact.column("usage_day").to_numpy(zero_copy_only=False)
    rest = fact.drop_columns(["usage_day"])
    for d in np.unique(days):
        sub = rest.filter(pa.array(days == d))
        part = os.path.join(path, f"usage_day={d}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(sub, os.path.join(part, "part-0.parquet"))


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


# --- documents --------------------------------------------------------------

_EN = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "on"]
_DE = ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"]
_FR = ["le", "la", "les", "et", "est", "pas", "pour", "dans", "un", "une"]
_SYL = ["ka", "lo", "mi", "ra", "te", "su", "no", "vi", "pe", "da", "ren", "tor",
        "bal", "sin", "gar", "mel", "qu", "xo", "zen", "ith"]


@dataclass(frozen=True)
class DocShape:
    docs: int
    vocab: int = 2000
    zipf_s: float = 1.1
    min_words: int = 20
    max_words: int = 120
    exact_dup_share: float = 0.08
    near_dup_share: float = 0.05
    low_quality_share: float = 0.1
    foreign_share: float = 0.1


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    syl = np.array(_SYL)
    k = rng.integers(1, 4, n)
    words = []
    for i in range(n):
        words.append("".join(syl[rng.integers(0, len(syl), k[i])]))
    return np.array(words)


def documents(shape: DocShape, seed: int, first_id: int = 0) -> tuple[pa.Table, dict]:
    """Zipfian-vocabulary English-like documents with planted exact and
    near duplicates (case/whitespace variants, which the quality gate's
    normalised fingerprint folds), short or digit-heavy low-quality docs,
    and German/French docs (kept) plus stopword-free docs (dropped as
    ``und``)."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, shape.vocab)
    p = _zipf_weights(shape.vocab, shape.zipf_s)
    texts, langs = [], []
    kinds = rng.random(shape.docs)
    dup_cut = shape.exact_dup_share
    near_cut = dup_cut + shape.near_dup_share
    low_cut = near_cut + shape.low_quality_share
    foreign_cut = low_cut + shape.foreign_share
    for i in range(shape.docs):
        u = kinds[i]
        if i > 0 and u < near_cut:
            j = int(rng.integers(0, i))
            src = texts[j]
            texts.append(src if u < dup_cut else "  " + src.upper().replace(" ", "  "))
            langs.append(langs[j])
            continue
        n_words = int(rng.integers(shape.min_words, shape.max_words))
        words = list(vocab[rng.choice(shape.vocab, size=n_words, p=p)])
        if u < low_cut:
            # low quality: short, or digit/punctuation-heavy
            words = words[:8] if rng.random() < 0.5 else [w + "1234." for w in words]
            stop, lang = _EN, "en"
        elif u < foreign_cut:
            stop, lang = (_DE, "de") if rng.random() < 0.5 else (None, "xx")
        else:
            stop, lang = _EN, "en"
        if stop is not None:
            for j in rng.integers(0, len(words), max(len(words) // 4, 1)):
                words[j] = stop[rng.integers(0, len(stop))]
        text = " ".join(words)
        if rng.random() < 0.3:
            text += "."
        texts.append(text)
        langs.append(lang)
    ids = np.arange(first_id, first_id + shape.docs, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 4}" for i in range(shape.docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    distinct = len(set(texts))
    return table, {
        "docs": shape.docs,
        "exact_dup_share": round(1 - distinct / shape.docs, 3),
        "vocab": shape.vocab,
        "input_mb": round(table.nbytes / 2**20, 3),
    }
