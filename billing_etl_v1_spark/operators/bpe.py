"""Tokenizer-exact byte-pair encoding: train + encode.

The existing ``text.bpe_token_count`` counts BPE *pre-tokens* (letter /
digit / symbol runs) — the split every BPE vocabulary starts from — but a
training-data pipeline eventually needs the real thing: learn the merge
table from the corpus and count the exact post-merge tokens each document
costs (sequence packing, token budgets, and price-per-token all consume
the tokenizer's number, not a proxy). This module implements the Sennrich
et al. 2016 algorithm (arXiv:1508.07909) in two modes:
``level='char'`` (Sennrich codepoint symbols, letter/digit/symbol-run
pre-tokens) and ``level='byte'`` (the GPT-2/tiktoken lineage — UTF-8
bytes as initial symbols, hex-pair strings, GPT-2-style pre-tokenizer
``BPE_BYTE_TOKEN_RE``); the merge machinery is level-blind:

- the ONLY corpus-sized passes are two embarrassingly-parallel aggregates
  (pre-token → word frequencies; per-doc word occurrence counts), both
  map-side combined — the standard wordcount shape that scales to 100 TB;
- merge learning never touches the corpus again: :func:`bpe_learn`
  checkpoints the DISTINCT-WORD vocabulary (bounded by Heaps' law —
  millions of rows when the corpus is terabytes), guards its size,
  collects it, and runs the merge loop on the driver with incremental
  pair counts and a lazy max-heap — how reference BPE trainers
  (subword-nmt, HuggingFace tokenizers) escape corpus-sized rounds;
- each merge is a greedy left-to-right non-overlapping replacement
  (:func:`_replace_pair`, the Sennrich re-scan semantics) of the pair
  with the highest freq-weighted count (overlapping positions counted —
  Sennrich's counting), ties broken by binary string order of
  (left, right), identical in Spark, Python and DuckDB;
- encoding never re-runs merges per occurrence: the trained vocabulary
  table IS word → tokens, so per-doc token counts are one equi-join of
  (doc, word, occurrences) against it — AQE broadcasts it when small.
  Only words outside the vocabulary are encoded, by one pandas-UDF pass
  (:func:`encode_words`).

Measured: probe_r7.json ``bpe_train_32k`` trained 32,768 byte-level
merges over a 41,236-word vocabulary in 14.2 s (~2,300 merges/s,
including the distributed corpus pass), saved the artifact in 1.7 s and
ran a 5,000-doc held-out ``bpe_encode`` in 0.5 s. (Sizing note: merge
TYPES scale with DISTINCT WORDS — each round retires one pair across the
whole vocabulary, and that corpus exhausts at ~1.04 rounds/word — so
sustaining a budget needs a vocabulary comparably sized to it.)

Cross-engine exactness: every value is an integer or a string (counts,
symbols), so the DuckDB oracle (oracle_ext.bpe_merges_sql /
bpe_token_counts_sql) unrolls the same rounds as chained CTEs — the
kmeans/pagerank playbook — and hash-matches bit-for-bit. Its apply is a
positional run-parity formulation (matches form runs only where a = b,
and the greedy scan merges the even offsets of each run), so the
independent correctness evidence is the sequential-reference property
tests in tests/test_extensions.py, not twin agreement alone.

Reference behavior anchored: the reference has no tokenizer (its
`calculate/` pipeline is billing-only); this extends SURVEY §7.2 step 8
(LLM-pipeline surface) where the round-4 VERDICT named "tokenizer-exact
BPE" the nearest real-user gap.
"""

from __future__ import annotations

from bisect import bisect_right

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE, WS_RE

# GPT-2-style pre-tokenizer for the byte-level mode (Radford et al. 2019;
# the tiktoken-lineage shape): common English contractions split off, then
# optional-leading-space letter / digit / other runs, then whitespace runs.
# Differences from the verbatim GPT-2 pattern, both deliberate:
# - the trailing-whitespace lookahead (`\s+(?!\S)`) is dropped — DuckDB's
#   RE2 has no lookahead, and cross-engine exactness outranks matching
#   GPT-2's multi-space token boundaries bit-for-bit;
# - `\s` is expanded to the explicit class [ \t\n\f\r\x0B] (the WS_RE
#   lesson: Java's \s includes \x0B, RE2's does not). \p{L}/\p{N} are
#   Unicode general categories in BOTH Java and RE2; parity over CJK /
#   accents / emoji is exercised by tests/test_unicode_parity.py.
BPE_BYTE_TOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+| ?\p{N}+"
    r"| ?[^ \t\n\f\r\x0B\p{L}\p{N}]+"
    r"|[ \t\n\f\r\x0B]+"
)

_LEVELS = ("char", "byte")


def _check_level(level: str) -> None:
    if level not in _LEVELS:
        raise ValueError(f"level must be one of {_LEVELS}, got {level!r}")


# (session id, word_vocab semanticHash, num_merges, max_word_len, level) ->
# (analyzed plan, merges, vocab). Result-level memo so docs_bpe_merges /
# docs_bpe_tokens on the same corpus train once per session, not once per
# query — the _memo pattern, keyed the same way (hash CONFIRMED via
# sameResult).
_LEARN_CACHE: dict[
    tuple[int, int, int, int, str], tuple[object, DataFrame, DataFrame]
] = {}


def release_bpe_cache(spark=None) -> int:
    """Drop memoized training results (for ``spark`` only, or all
    sessions)."""
    dropped = 0
    for key in list(_LEARN_CACHE):
        if spark is None or key[0] == id(spark):
            del _LEARN_CACHE[key]
            dropped += 1
    return dropped


def _pretokens(col: Column, level: str = "char") -> Column:
    _check_level(level)
    pat = BPE_TOKEN_RE if level == "char" else BPE_BYTE_TOKEN_RE
    return F.regexp_extract_all(col, F.lit(pat), 0)


def _vocab_word_stream(df: DataFrame, text_col: str, level: str) -> DataFrame:
    """Exploded pre-token stream for VOCABULARY aggregates — multiset
    semantics only (positions irrelevant), which unlocks a JVM regex
    optimization :func:`_pretokens` (position-sensitive) cannot take: the
    char pattern gains a whitespace-RUN alternative that is filtered back
    out after the explode. Java's matcher pays a full 3-alternative
    fail-scan at EVERY whitespace position of the plain 3-alt char
    pattern (the byte pattern never fails — it consumes whitespace inside
    its own alternatives), measured ~15x slower than byte level on the
    same 1.5 GB corpus (r9); letting the matcher consume whitespace as a
    disjoint alternative and dropping those rows afterwards returns the
    IDENTICAL token multiset ~10x faster (0.61 s vs 4–26 s per probe
    corpus pass). Alternative order matters: whitespace second (letters
    dominate real text, whitespace is next — each position should match
    as early as possible). Byte level already has this shape."""
    if level != "char":
        return df.select(
            F.explode(_pretokens(F.col(text_col), level)).alias("word")
        )
    # WS_RE is disjoint from all three BPE_TOKEN_RE alternatives, so the
    # non-whitespace matches (and their order) are exactly _pretokens'.
    # DERIVED from the shared constant (not restated) so an edit to
    # BPE_TOKEN_RE cannot desynchronize this corpus pass from _pretokens
    # (ADVICE r9): splice WS_RE in after the first alternative. Valid as
    # long as BPE_TOKEN_RE's top-level alternatives contain no literal
    # '|' (they are single character-class atoms).
    _first, *_rest = BPE_TOKEN_RE.split("|")
    fast = "|".join([_first, WS_RE, *_rest])
    return df.select(
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(fast), 0)).alias(
            "word"
        )
    ).filter(~F.col("word").rlike(r"^[ \t\n\f\r\x0B]"))


def word_vocab(df: DataFrame, text_col: str = "text", level: str = "char") -> DataFrame:
    """Distinct pre-token vocabulary (word, freq) with corpus occurrence
    frequencies. The single corpus-sized pass of training: explode +
    groupBy(word) map-side combines, and the merge loop runs on this
    bounded table."""
    return (
        _vocab_word_stream(df, text_col, level)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


_MERGE_SCHEMA = (
    "merge_rank int, left_sym string, right_sym string, "
    "merged string, pair_count bigint"
)


def _py_symbols(word: str, level: str) -> list[str]:
    """Initial symbols of one pre-token: one per CODEPOINT (char mode) or
    one uppercase hex pair per UTF-8 BYTE (byte mode — merged symbols are
    concatenated hex pairs, so every symbol stays a plain ASCII string
    that Python, Spark and the DuckDB twin order identically)."""
    if level == "char":
        return list(word)
    return ["%02X" % b for b in word.encode("utf-8")]


def _replace_pair(syms: list[str], a: str, b: str, m: str) -> list[str]:
    """One merge applied to one word: greedy left-to-right non-overlapping
    replacement of every adjacent (a, b) by ``m`` — the Sennrich re-scan
    semantics ('aaa' under (a, a) becomes [aa, a]). The one apply kernel
    of both trainers and the encoder."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(m)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _collect_vocab(vocab_df: DataFrame, max_vocab_rows: int, trainer: str) -> list:
    """Materialize a (word, freq) vocabulary on the driver, GUARDED: the
    table is checkpointed once (the guard count and the collect both read
    the checkpoint instead of re-running the corpus aggregate), and a
    LIMIT n+1 count raises BEFORE the collect — a guard placed after
    ``collect()`` would fire only after the OOM it promises to prevent.
    The collect is vocabulary-bounded (Heaps' law), never corpus-bounded."""
    vocab_df = vocab_df.localCheckpoint()
    if vocab_df.limit(max_vocab_rows + 1).count() > max_vocab_rows:
        raise ValueError(
            f"{trainer}: vocabulary has more than max_vocab_rows="
            f"{max_vocab_rows} distinct pre-tokens; train on a corpus sample"
        )
    return vocab_df.collect()


def bpe_learn(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    max_word_len: int = 256,
    level: str = "char",
    max_vocab_rows: int = 5_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` BPE merges from the corpus.

    Returns ``(merges, vocab)``: the ranked merge table
    (merge_rank, left_sym, right_sym, merged, pair_count) and the trained
    vocabulary (word, freq, tokens array<string>) with all merges applied
    — word → tokens is the complete encoder state.

    ``level``: ``'char'`` (Sennrich — codepoints as initial symbols,
    letter/digit/symbol-run pre-tokens) or ``'byte'`` (GPT-2 lineage —
    UTF-8 bytes as initial symbols, represented as uppercase hex pairs,
    under the GPT-2-style pre-tokenizer ``BPE_BYTE_TOKEN_RE``). The merge
    loop is level-blind: only the pre-token regex and the initial symbol
    split differ.

    ``max_word_len``: pre-tokens longer than this many SYMBOLS (codepoints
    in char mode, bytes in byte mode) bypass merging — they contribute
    nothing to pair counts and encode as one token per symbol. This is
    standard tokenizer practice (WordPiece's max_input_chars_per_word;
    GPT-2's pre-tokenizer rarely emits words over ~50 chars) — a
    256+-symbol unbroken pre-token is base64/DNA-grade garbage whose
    merges would be noise, and every merge rescans each word holding its
    pair, so the cap also bounds per-word loop work. The DuckDB twin and
    the sequential reference implement the same cap, so results stay
    bit-identical.

    Algorithm (the subword-nmt architecture): the corpus-sized pass is the
    distributed :func:`word_vocab` aggregate; the merge loop runs on the
    driver over the collected (word, freq) table with incremental pair
    counts and a lazy max-heap — an entry is skipped when its count no
    longer matches the live counter. Each round takes the highest
    freq-weighted pair count (overlapping positions each count — 'aaa'
    holds (a, a) twice), ties broken by UTF-8 byte order of (left, right),
    and applies it with :func:`_replace_pair`. Training stops early when
    no pair remains (every word fully merged).

    ``max_vocab_rows`` guards the collect (memory ~ O(total symbols) for
    the pair index): a larger vocabulary raises ValueError before any row
    reaches the driver — train on a corpus sample instead.

    .. warning:: EXECUTES EAGERLY at call time: one localCheckpoint of the
       vocabulary aggregate, one guard count and one collect; the merge
       loop then runs without Spark jobs. Results are memoized per
       (session, corpus plan, num_merges, max_word_len, level);
       ``release_bpe_cache`` drops them.
    """
    import heapq
    from collections import Counter, defaultdict

    if num_merges < 0:
        raise ValueError(f"num_merges must be >= 0, got {num_merges}")
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    _check_level(level)
    spark = df.sparkSession
    base = word_vocab(df, text_col, level)
    analyzed = base._jdf.queryExecution().analyzed()
    key = (id(spark), analyzed.semanticHash(), num_merges, max_word_len, level)
    hit = _LEARN_CACHE.get(key)
    if hit is not None:
        plan, m_hit, v_hit = hit
        try:
            if plan.sameResult(analyzed):
                return m_hit, v_hit
        except Exception:
            pass  # stopped session / dead JVM handle — miss, evict
        del _LEARN_CACHE[key]
    rows = _collect_vocab(base, max_vocab_rows, "bpe_learn")

    vocab: dict[str, list[str]] = {}
    freq: dict[str, int] = {}
    capped: set[str] = set()
    for r in rows:
        s = _py_symbols(r["word"], level)
        vocab[r["word"]] = s
        freq[r["word"]] = r["freq"]
        if len(s) > max_word_len:
            capped.add(r["word"])

    pc: Counter = Counter()
    index: defaultdict[tuple[str, str], set[str]] = defaultdict(set)
    for w, s in vocab.items():
        if w in capped:
            continue
        f = freq[w]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            pc[p] += f
            index[p].add(w)

    heap: list = []

    def push(p: tuple[str, str]) -> None:
        c = pc.get(p, 0)
        if c > 0:
            heapq.heappush(heap, (-c, p[0].encode(), p[1].encode(), p))

    for p in pc:
        push(p)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(num_merges):
        best = None
        while heap:
            negc, _ab, _bb, p = heapq.heappop(heap)
            if pc.get(p, 0) == -negc:  # skip stale lazy-heap entries
                best = (p, -negc)
                break
        if best is None:
            break  # fully merged before the budget ran out
        (a, b), cnt = best
        m = a + b
        merges.append((rank, a, b, m, cnt))
        # words listed under (a, b) may be stale (their symbols changed
        # since insertion); for those the subtract/apply/re-add below is
        # a no-op — correct, just wasted work
        affected = list(index.pop((a, b), ()))
        changed: set[tuple[str, str]] = {(a, b)}
        for w in affected:
            s = vocab[w]
            f = freq[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pc[p] -= f
                if pc[p] <= 0:
                    pc.pop(p, None)
                changed.add(p)
            out = _replace_pair(s, a, b, m)
            vocab[w] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pc[p] = pc.get(p, 0) + f
                index[p].add(w)
                changed.add(p)
        for p in changed:
            push(p)

    merges_df = spark.createDataFrame(merges, _MERGE_SCHEMA)
    vocab_df = spark.createDataFrame(
        [(w, freq[w], vocab[w]) for w in vocab],
        "word string, freq bigint, tokens array<string>",
    )
    _LEARN_CACHE[key] = (analyzed, merges_df, vocab_df)
    return merges_df, vocab_df


def doc_token_counts(
    df: DataFrame,
    word_cost: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: str = "char",
) -> DataFrame:
    """Per-document (n_pretokens, n_bpe_tokens) given a complete
    word → n_tokens cost table: one (doc, word) occurrence aggregate plus
    one equi-join (AQE broadcasts the cost table when small; at terabyte
    vocabularies it stays a plain equi-join — never hardcode the
    broadcast). Documents with zero pre-tokens report 0/0 via the left
    join. Public building block: the streaming meter composes it with
    :func:`encode_words` to maintain its own incremental cost table."""
    occurrences = (
        df.select(
            F.col(id_col), F.explode(_pretokens(F.col(text_col), level)).alias("word")
        )
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    per_doc = (
        occurrences.join(word_cost, "word")
        .groupBy(id_col)
        .agg(
            F.sum("occ").alias("__pre"),
            F.sum(F.col("occ") * F.col("n_tokens")).alias("__bpe"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("__pre", F.lit(0)).cast("bigint").alias("n_pretokens"),
            F.coalesce("__bpe", F.lit(0)).cast("bigint").alias("n_bpe_tokens"),
        )
    )


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 8,
    max_word_len: int = 256,
    level: str = "char",
) -> DataFrame:
    """Exact per-document BPE token counts under a vocabulary trained on
    the same corpus: doc_id, n_pretokens, n_bpe_tokens.

    The encode path never re-applies merges per occurrence — the trained
    vocabulary already maps word → token count, so the corpus-sized work
    is the shared :func:`doc_token_counts` aggregate + equi-join. Trains via
    :func:`bpe_learn` — see its EXECUTES-EAGERLY warning (memoized, so
    composing with docs_bpe_merges pays training once). To count NEW
    documents under this (or any) frozen vocabulary, use
    :func:`bpe_encode` instead of re-training on the union."""
    _, vocab = bpe_learn(df, text_col, num_merges, max_word_len, level)
    word_cost = vocab.select("word", F.size("tokens").alias("n_tokens"))
    return doc_token_counts(df, word_cost, text_col, id_col, level)


def bpe_token_ids(
    merges: DataFrame, vocab: DataFrame, level: str = "char"
) -> DataFrame:
    """The trained tokenizer's TOKEN-ID table: (token, token_id, source) —
    the artifact a training pipeline actually exports (embedding-matrix
    row i = token_id i; encoders map token strings to ids through it).

    The id convention is the GPT-2 lineage's: base symbols first, then
    merged tokens in learned-rank order —

    - ``byte``: ids 0..255 are the 256 possible byte values (hex-pair
      symbols '00'..'FF', FIXED regardless of what the corpus contained —
      serving must be able to id any future byte), then merge ``r``
      takes id ``256 + r``;
    - ``char``: the base alphabet is open-ended, so ids 0..n-1 are the
      corpus-OBSERVED initial codepoints in string order (both engines
      order strings by UTF-8 bytes — deterministic), then merge ``r``
      takes id ``n + r``.

    The base alphabet derives from re-splitting the vocabulary's WORDS
    (one vocabulary-bounded pass), NOT from the trained token arrays —
    a fully-merged symbol no longer appears as a single token there.
    Base ranks use the two-phase :func:`events.distributed_total_rank`
    (no unpartitioned ordered window — the repo-wide scale posture);
    the merge table joins in with a 1-row broadcast offset. No corpus
    pass anywhere.
    """
    from billing_etl_v1_spark.operators.events import distributed_total_rank

    _check_level(level)
    if level == "byte":
        base_ids = merges.sparkSession.range(256).select(
            F.upper(F.format_string("%02x", F.col("id"))).alias("token"),
            F.col("id").cast("int").alias("token_id"),
            F.lit("base").alias("source"),
        )
        merged_ids = merges.select(
            F.col("merged").alias("token"),
            (F.lit(256) + F.col("merge_rank")).cast("int").alias("token_id"),
            F.lit("merge").alias("source"),
        )
        return base_ids.unionByName(merged_ids)
    # split-by-empty-pattern yields one element per codepoint in both
    # engines (surrogate pairs stay whole; exercised against DuckDB's
    # regexp_extract_all(word, '.') in tests/test_unicode_parity.py)
    base = vocab.select(F.explode(F.split("word", "")).alias("token")).distinct()
    ranked = distributed_total_rank(base, ["token"])
    base_ids = ranked.select(
        "token",
        (F.col("__rank") - 1).cast("int").alias("token_id"),
        F.lit("base").alias("source"),
    )
    # merge ids start after the observed base alphabet — the offset is the
    # rank pass's own grand total, joined as a 1-row broadcast (no
    # driver-side count)
    n = ranked.select(F.col("__total").cast("int").alias("__n")).limit(1)
    merged_ids = merges.crossJoin(F.broadcast(n)).select(
        F.col("merged").alias("token"),
        (F.col("__n") + F.col("merge_rank")).cast("int").alias("token_id"),
        F.lit("merge").alias("source"),
    )
    return base_ids.unionByName(merged_ids)


def bpe_token_sequences(
    df: DataFrame,
    vocab: DataFrame,
    token_ids: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: str = "char",
) -> DataFrame:
    """Per-document TOKEN-ID SEQUENCES — the model-input artifact itself:
    one row per token position, (doc_id, pos, token, token_id), ``pos``
    the 0-based position in the document's token stream.

    Corpus-sized work is one pre-token posexplode + two equi-joins
    (vocabulary word → tokens, then token → id; AQE broadcasts both when
    small). Positions come from a per-document WORD-level cumulative sum
    (base offset of each word = tokens before it) plus the within-word
    offset — the window input is words, not exploded tokens, so the
    per-doc sort touches ~10x fewer rows; the window is partitioned by
    doc (per-doc sequence numbering is inherently per-doc — same skew
    class as chunking, bounded by the longest single document).

    ``level='byte'`` is the production-safe mode: the fixed 256-byte base
    alphabet ids every possible future symbol. At char level a served
    NOVEL codepoint has no trained id — the inner token-id join drops it;
    use byte level when serving open vocabularies.

    Data contract: ``doc_id`` must be unique — duplicate ids make the
    per-document position window tie, and tie order is engine-dependent
    (text.corpus_dq_audit makes the contract checkable).
    """
    _check_level(level)
    wcost = vocab.select("word", "tokens", F.size("tokens").alias("__n"))
    wseq = (
        df.select(
            F.col(id_col),
            F.posexplode(_pretokens(F.col(text_col), level)).alias("wpos", "word"),
        )
        .join(wcost, "word")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("wpos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sseq = (
        wseq.withColumn("__base", F.sum("__n").over(w) - F.col("__n"))
        .select(
            F.col(id_col),
            F.col("__base"),
            F.posexplode("tokens").alias("spos", "token"),
        )
        .select(
            F.col(id_col),
            (F.col("__base") + F.col("spos")).cast("bigint").alias("pos"),
            "token",
        )
    )
    # the id table is bounded by |base alphabet| + num_merges (a training
    # hyperparameter — NEVER corpus-scaled, unlike the word-cost table
    # doc_token_counts deliberately leaves to AQE), so broadcasting it is
    # structurally safe and removes what would otherwise be a shuffle of
    # the entire exploded token stream
    return sseq.join(
        F.broadcast(token_ids.select("token", "token_id")), "token"
    ).select(id_col, "pos", "token", "token_id")


def bpe_fertility(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    num_merges: int = 8,
    max_word_len: int = 256,
    level: str = "char",
) -> DataFrame:
    """Tokenizer FERTILITY metrics per ``group_col`` (typically language)
    — the standard tokenizer-evaluation table: tokens per pre-token and
    bytes per token tell you which languages a vocabulary over- or
    under-segments (high fertility = more tokens per word = worse
    compression = higher serving cost for that language).

    One corpus pass beyond training: the shared :func:`bpe_token_counts`
    occurrence aggregate plus a per-group sum. Ratios are quantized to
    the cross-engine 1e-6 grid and guarded against zero denominators
    (an all-NULL-text group has zero pre-tokens; ANSI division would
    kill the job)."""
    from billing_etl_v1_spark.functions import quantize6

    counts = bpe_token_counts(df, text_col, id_col, num_merges, max_word_len, level)
    joined = df.select(
        F.col(id_col),
        F.col(group_col),
        F.coalesce(F.octet_length(text_col), F.lit(0)).alias("__bytes"),
    ).join(counts, id_col)
    agg = joined.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__bytes").cast("bigint").alias("total_bytes"),
        F.sum("n_pretokens").cast("bigint").alias("total_pretokens"),
        F.sum("n_bpe_tokens").cast("bigint").alias("total_tokens"),
    )
    return agg.select(
        group_col,
        "n_docs",
        "total_bytes",
        "total_pretokens",
        "total_tokens",
        quantize6(
            F.when(
                F.col("total_pretokens") > 0,
                F.col("total_tokens") / F.col("total_pretokens"),
            )
        ).alias("tokens_per_pretoken"),
        quantize6(
            F.when(
                F.col("total_tokens") > 0,
                F.col("total_bytes") / F.col("total_tokens"),
            )
        ).alias("bytes_per_token"),
    )


def bpe_pack_blocks(
    seq: DataFrame, block_tokens: int, id_col: str = "doc_id"
) -> DataFrame:
    """Pack token-id sequences (:func:`bpe_token_sequences` rows) into
    fixed-size training blocks — the pretraining data-loader shape: a
    deterministic document order (doc_id, then position), concatenated
    and cut every ``block_tokens`` ids, documents crossing block
    boundaries (the standard GPT packing; no padding, the final partial
    block keeps its tail). Output: (block_id, offset, doc_id, token_id),
    ``offset`` the position inside the block.

    The global token position is one :func:`events.distributed_total_rank`
    over (doc_id, pos) — a range-repartitioned parallel sort plus a tiny
    prefix broadcast, never a single-task window; block assignment is then
    integer arithmetic (``div``/``%`` — exact on BIGINT in both engines,
    no float rounding at 100 TB token counts)."""
    from billing_etl_v1_spark.operators.events import distributed_total_rank

    if block_tokens < 1:
        raise ValueError(f"block_tokens must be >= 1, got {block_tokens}")
    ranked = distributed_total_rank(seq, [id_col, "pos"])
    return ranked.select(
        F.expr(f"CAST((__rank - 1) DIV {int(block_tokens)} AS BIGINT)").alias(
            "block_id"
        ),
        ((F.col("__rank") - 1) % block_tokens).cast("int").alias("offset"),
        F.col(id_col),
        "token_id",
    )


def save_bpe(
    merges: DataFrame,
    vocab: DataFrame,
    dir_path: str,
    max_word_len: int = 256,
    level: str = "char",
) -> None:
    """Persist a trained tokenizer (:func:`bpe_learn`'s outputs) as
    parquet tables under ``dir_path`` — the model-artifact round-trip a
    real pipeline needs: train once, serve from storage in later jobs
    (the in-process memo is per-session only). All tables are
    vocabulary-bounded, never corpus-sized.

    ``max_word_len`` / ``level`` must be the values training used:
    encode-time bypass behavior and the pre-tokenizer/symbol split are
    part of the tokenizer's definition, so both are stored IN the
    artifact (a 1-row ``meta`` table) and :func:`load_bpe` hands them
    back — serving under a silently different cap or level would
    tokenize novel words differently than training would have."""
    _check_level(level)
    merges.write.mode("overwrite").parquet(f"{dir_path}/merges")
    vocab.write.mode("overwrite").parquet(f"{dir_path}/vocab")
    meta = merges.sparkSession.createDataFrame(
        [(int(max_word_len), level)], "max_word_len int, level string"
    )
    meta.write.mode("overwrite").parquet(f"{dir_path}/meta")


def load_bpe(spark, dir_path: str) -> tuple[DataFrame, DataFrame, int, str]:
    """Load a tokenizer saved by :func:`save_bpe`: (merges, vocab,
    max_word_len, level). The frames are plain lazy parquet scans,
    directly usable by :func:`bpe_encode` — the encoder orders merges by
    their stored rank, so ordering of the stored files is irrelevant; pass the returned cap and level to bpe_encode so
    serving matches training. Artifacts written before the ``level``
    column existed load as char-level (the only mode that existed)."""
    meta = spark.read.parquet(f"{dir_path}/meta").first().asDict()
    return (
        spark.read.parquet(f"{dir_path}/merges"),
        spark.read.parquet(f"{dir_path}/vocab"),
        int(meta["max_word_len"]),
        str(meta.get("level", "char")),
    )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_word_len: int,
    level: str = "char",
) -> DataFrame:
    """Exact BPE token counts for a NEW batch under a FROZEN trained
    vocabulary — the tokenizer SERVING path, and the incremental-ingest
    twin of :func:`bpe_token_counts` (the minhash_signatures /
    minhash_incremental_pairs pattern: train once, encode any batch, old
    text never re-read). Same output schema: doc_id, n_pretokens,
    n_bpe_tokens.

    ``merges`` / ``vocab`` are :func:`bpe_learn`'s outputs. Words already
    in the vocabulary resolve via one equi-join; only the batch's UNSEEN
    distinct words (left_anti against the vocabulary — bounded by the
    batch's novel vocabulary, not the corpus) are encoded, by
    :func:`encode_words` — the Sennrich apply-each-merge-in-rank-order
    greedy scan, so a training word routed through the unseen path
    reproduces its trained tokenization exactly (property-tested).
    ``max_word_len`` / ``level`` must match training (REQUIRED — thread
    the values :func:`load_bpe` returns; a silently different default
    would tokenize over-cap unseen words differently than training, the
    exact mismatch the stored meta exists to prevent): over-cap unseen
    pre-tokens bypass to one token per symbol, like the trainer's lane.

    .. warning:: EXECUTES EAGERLY at call time: the unseen words are
       checkpointed and tested for emptiness (an all-known batch
       short-circuits to the lazy join-only plan), and
       :func:`encode_words` collects the merge table.
    """
    _check_level(level)
    known = vocab.select("word", F.size("tokens").alias("n_tokens"))
    unseen = (
        df.select(F.explode(_pretokens(F.col(text_col), level)).alias("word"))
        .distinct()
        .join(vocab.select("word"), "word", "left_anti")
        .localCheckpoint()
    )
    if unseen.isEmpty():
        return doc_token_counts(df, known, text_col, id_col, level)
    enc = encode_words(unseen, merges, max_word_len=max_word_len, level=level)
    word_cost = known.unionByName(
        enc.select("word", F.size("tokens").alias("n_tokens"))
    )
    return doc_token_counts(df, word_cost, text_col, id_col, level)


def encode_words(
    words: DataFrame, merges: DataFrame, *, max_word_len: int, level: str = "char"
) -> DataFrame:
    """word → tokens (array<string>) for words OUTSIDE the trained
    vocabulary: one map-side pass — a pandas UDF over the distinct
    non-NULL words, with the collected merge table in its closure (bounded
    by the merge budget, a training hyperparameter, never corpus-scaled).
    Over-cap words take the trainer's bypass lane (one token per symbol).
    Public building block: the streaming meter persists these results so
    a novel word is encoded once across all micro-batches, not once per
    batch.

    Exactly the Sennrich encode — every merge applied in rank order with
    the trainers' :func:`_replace_pair` — without visiting every rank per
    word: a merge whose pair the word does not hold is a no-op, so the
    word next changes at the smallest rank GREATER than the last one
    applied among its current adjacent pairs. The "greater than" is
    load-bearing: a pair whose rank already went by while the word lacked
    it must not apply later (a merged symbol can rank below the merge that
    builds it). A pair may also come back at a later rank (two merge paths
    can build the same string), so each pair maps to its sorted rank
    list. Rank gaps (a filtered stored table) need nothing special. A
    training word routed through here reproduces its trained tokenization
    exactly (property-tested).

    Lazy: the only work at call time is the merge-table collect, so the
    Spark job count is the same whatever the merge count."""
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    _check_level(level)
    ranks: dict[tuple[str, str], list[int]] = {}
    for r in merges.select("merge_rank", "left_sym", "right_sym").collect():
        ranks.setdefault((r["left_sym"], r["right_sym"]), []).append(r["merge_rank"])
    for rs in ranks.values():
        rs.sort()

    def encode(word: str) -> list[str]:
        syms = _py_symbols(word, level)
        if len(syms) > max_word_len:
            return syms
        last = -1
        while True:
            step = None
            for p in zip(syms, syms[1:]):
                rs = ranks.get(p)
                if rs is not None:
                    j = bisect_right(rs, last)
                    if j < len(rs) and (step is None or rs[j] < step[0]):
                        step = (rs[j], p)
            if step is None:
                return syms
            last, (a, b) = step
            syms = _replace_pair(syms, a, b, a + b)

    @pandas_udf("array<string>")
    def _encode(col: pd.Series) -> pd.Series:
        return col.map(encode)

    return (
        words.select("word")
        .distinct()
        .filter(F.col("word").isNotNull())
        .withColumn("tokens", _encode(F.col("word")))
    )
