"""WordPiece tokenizer family — train + greedy serve.

Completes the three production tokenizer families next to BPE
(operators/bpe.py — the GPT lineage) and unigram-LM (operators/unigram.py
— the Llama lineage): WordPiece is the BERT lineage (Schuster & Nakajima
2012; Devlin et al. 2019, arXiv:1810.04805), built here from public
knowledge only — the HuggingFace-tokenizers trainer formulation
(likelihood-ratio pair scoring over a ``##``-continuation alphabet) and
the BERT greedy longest-match-first encoder. The reference engine has no
tokenizer surface; this module is part of the LLM-data-pipeline extension
catalog (SURVEY.md §2 extensions).

Design (Spark-first — the bpe.py machinery reused, not re-implemented):

- SYMBOLS carry position-form: a word's first codepoint stays raw, every
  later codepoint takes the ``##`` continuation prefix ('hello' → [h,
  ##e, ##l, ##l, ##o]). Merging (a, b) concatenates ``a`` with ``b``'s
  payload (``b`` minus its leading '##'): the merged symbol keeps ``a``'s
  position-form — exactly the HF trainer's convention. (The convention
  has a known inherent ambiguity when '#' itself appears in text — a raw
  piece '###' is indistinguishable from continuation-'#' — which every
  WordPiece implementation shares; both engines here apply the identical
  convention, so results still match bit-exactly.)
- TRAINING is :func:`bpe.bpe_learn`'s shape — one distributed corpus
  pass (:func:`bpe.word_vocab` at char level: the pre-tokenizer all three
  families share, so fertility numbers compare on the same
  denominator), a guarded collect, then a merge loop on
  the driver sharing the greedy apply kernel (:func:`bpe._replace_pair`)
  — but each round maximizes the likelihood-ratio score
  ``score(a,b) = c_ab / (c_a · c_b)`` over the CURRENT symbol counts,
  instead of the raw pair count. The score is computed as
  ``float(c_ab) / (float(c_a) * float(c_b))``: IEEE-754 +,*,/ are
  correctly rounded and engine-independent (unlike transcendentals), so
  Python, the DuckDB twin, and the sequential test reference rank every
  candidate pair bit-identically; converting each count to double
  BEFORE the product also mirrors the twin's overflow-safe form (c_a·c_b
  can pass 2^63 at 100 TB corpus counts). Ties break by (a, b) binary
  string order — UTF-8 byte comparison, as DuckDB compares strings.
- ENCODE is NOT the trainer's merge state: WordPiece serves with the
  greedy longest-match-first scan against the trained piece set, per
  DISTINCT word only (the unigram Viterbi posture — one pandas UDF whose
  closure holds the piece set, bounded by |alphabet| + num_merges + 1, a
  training hyperparameter, never corpus-scaled). A word longer than
  ``max_word_len`` codepoints, or with no matching piece at some
  position, encodes as the single ``[UNK]`` token — HF's
  ``max_input_chars_per_word`` semantics, and the family's defining
  difference from the BPE/unigram per-symbol bypass lanes. Greedy tries
  EVERY prefix length from the remaining-word length down (words are
  capped, so ≤ max_word_len candidates per position); bounding by the
  longest piece instead would match identically but adds a derived
  constant both engines must agree on — all-prefixes needs none.
- Corpus-sized work everywhere is the shared wordcount-shaped aggregate
  plus one equi-join (:func:`bpe.doc_token_counts`); sequences and packed
  blocks reuse :func:`bpe.bpe_token_sequences` / :func:`bpe.bpe_pack_blocks`
  verbatim (the sequencer/packer are tokenizer-blind). The token-id and
  training-segmentation tables are derived in Python from the collected
  vocabulary, with no further Spark jobs.

.. warning:: Like ``bpe_learn``, :func:`wordpiece_learn` EXECUTES EAGERLY
   at call time (a checkpoint, a guard count and a collect of the
   vocabulary) and memoizes per (session, corpus plan, budget, cap);
   ``release_wordpiece_cache`` drops the memo.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from billing_etl_v1_spark.operators.bpe import (
    _collect_vocab,
    _pretokens,
    _replace_pair,
    doc_token_counts,
    word_vocab,
)

WP_UNK = "[UNK]"

_MERGE_SCHEMA = (
    "merge_rank int, left_sym string, right_sym string, merged string, "
    "pair_count bigint, left_count bigint, right_count bigint"
)

# (session id, word_vocab semanticHash, num_merges, max_word_len) ->
# (analyzed plan, merges, token_ids, segments, state) — one train serves
# the vocab/tokens/fertility/seq/pack queries (the bpe/unigram memo
# pattern)
_LEARN_CACHE: dict[tuple[int, int, int, int], tuple] = {}


def release_wordpiece_cache(spark=None) -> int:
    """Drop memoized training results (for ``spark`` only, or all
    sessions)."""
    dropped = 0
    for key in list(_LEARN_CACHE):
        if spark is None or key[0] == id(spark):
            del _LEARN_CACHE[key]
            dropped += 1
    return dropped


def wordpiece_learn(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    max_word_len: int = 16,
    max_vocab_rows: int = 5_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` WordPiece merges from the corpus.

    Returns ``(merges, state)``: the ranked merge table (merge_rank,
    left_sym, right_sym, merged, pair_count, left_count, right_count —
    the integral score evidence, so the DuckDB twin matches exactly) and
    the final trainer STATE (word, freq, tokens) with all merges applied.
    The state is introspective — WordPiece SERVES with the greedy
    longest-match encoder (:func:`wordpiece_segments`), not the trainer
    state; pre-tokens over ``max_word_len`` CODEPOINTS bypass training
    and keep their raw symbol arrays in the state. ``max_vocab_rows``
    guards the vocabulary collect (see :func:`bpe.bpe_learn`).

    .. warning:: EXECUTES EAGERLY (a checkpoint, a guard count and a
       collect of the vocabulary); memoized per (session, corpus plan,
       num_merges, max_word_len) together with the derived token-id and
       greedy-segmentation tables, so the whole family trains once per
       corpus per session.
    """
    merges, _ids, _segs, state = _learn_full(
        df, text_col, num_merges, max_word_len, max_vocab_rows
    )
    return merges, state


def wordpiece_artifacts(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    max_word_len: int = 16,
    max_vocab_rows: int = 5_000_000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train and return the full serving artifact set in one memoized
    call: ``(merges, token_ids, segments)`` — what
    :func:`save_wordpiece` persists (the CLI's train path)."""
    merges, ids, segments, _state = _learn_full(
        df, text_col, num_merges, max_word_len, max_vocab_rows
    )
    return merges, ids, segments


def _learn_full(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    max_word_len: int,
    max_vocab_rows: int = 5_000_000,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(merges, token_ids, segments, state) — memoized train + derive.

    The id and segmentation tables are derived IN PYTHON from the
    trainer's own collected vocabulary, so no Spark job runs between the
    collect and the final createDataFrame calls. Token-id convention
    (the exported table, BERT-style): id 0 is the ``[UNK]`` special (it
    IS vocabulary), ids 1..n the corpus-OBSERVED position-form alphabet
    of ALL words, over-cap included, in UTF-8 byte order (Spark's and
    DuckDB's string order — the same convention as the bpe char alphabet
    and the unigram alphabet), merge ``r`` at ``n + 1 + r``. Segments
    are the training words under :func:`greedy_pieces`, the same kernel
    the serving UDF maps."""
    if num_merges < 0:
        raise ValueError(f"num_merges must be >= 0, got {num_merges}")
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    spark = df.sparkSession
    base = word_vocab(df, text_col, "char")
    analyzed = base._jdf.queryExecution().analyzed()
    key = (id(spark), analyzed.semanticHash(), num_merges, max_word_len)
    hit = _LEARN_CACHE.get(key)
    if hit is not None:
        plan, m_hit, i_hit, s_hit, st_hit = hit
        try:
            if plan.sameResult(analyzed):
                return m_hit, i_hit, s_hit, st_hit
        except Exception:
            pass  # stopped session / dead JVM handle — miss, evict
        del _LEARN_CACHE[key]

    rows = _collect_vocab(base, max_vocab_rows, "wordpiece_learn")
    freq = {r["word"]: r["freq"] for r in rows}
    merges, state = _train_loop(freq, num_merges, max_word_len)

    alpha = sorted(
        {c if i == 0 else "##" + c for w in freq for i, c in enumerate(w)},
        key=lambda t: t.encode("utf-8"),
    )
    id_rows = [(WP_UNK, 0, "special")]
    id_rows += [(t, i + 1, "base") for i, t in enumerate(alpha)]
    n = len(alpha) + 1
    id_rows += [(m[3], n + m[0], "merge") for m in merges]
    piece_set = frozenset(t for t, _i, _s in id_rows)
    seg_rows = []
    for w in freq:
        pieces = greedy_pieces(w, piece_set, max_word_len)
        seg_rows.append((w, freq[w], pieces, len(pieces)))

    merges_df = spark.createDataFrame(merges, _MERGE_SCHEMA)
    token_ids = spark.createDataFrame(
        id_rows, "token string, token_id int, source string"
    )
    segments = spark.createDataFrame(
        seg_rows, "word string, freq bigint, pieces array<string>, n_tokens bigint"
    )
    state_df = spark.createDataFrame(
        [(w, freq[w], state[w]) for w in state],
        "word string, freq bigint, tokens array<string>",
    )
    _LEARN_CACHE[key] = (analyzed, merges_df, token_ids, segments, state_df)
    return merges_df, token_ids, segments, state_df


def _train_loop(
    freq: dict[str, int], num_merges: int, max_word_len: int
) -> tuple[list, dict]:
    """The merge loop over the collected vocabulary: ``(merges, state)``
    as plain Python structures.

    The :func:`bpe.bpe_learn` loop, with one twist the likelihood-ratio
    score forces: a merge of (a, b) lowers the symbol counts of ``a`` and
    ``b``, which RAISES the score of every other pair containing them
    (smaller denominator), so BPE's skip-stale lazy max-heap is unsound
    here — a stale-LOW entry would pop too late. Instead every pair whose
    score an applied merge changes (pairs whose pair_count moved, plus
    every pair listed under ``a``, ``b``, or the merged symbol in a
    symbol→pairs index) gets a FRESH heap entry at its new score, and
    pops validate the stored (pair_count, left_count, right_count) triple
    against the live counters — an exact integer staleness check, no
    float equality. The heap then always holds a current entry for every
    live pair, so pop-max is the true argmax.
    """
    import heapq
    from collections import Counter, defaultdict

    state: dict[str, list[str]] = {}
    capped: set[str] = set()
    for w in freq:
        s = [c if i == 0 else "##" + c for i, c in enumerate(w)]
        state[w] = s
        if len(s) > max_word_len:
            capped.add(w)

    pc: Counter = Counter()  # pair -> freq-weighted adjacent count
    sc: Counter = Counter()  # symbol -> freq-weighted occurrence count
    index: defaultdict = defaultdict(set)  # pair -> words containing it
    sym_pairs: defaultdict = defaultdict(set)  # symbol -> pairs containing it
    for w, s in state.items():
        if w in capped:
            continue
        f = freq[w]
        for sym in s:
            sc[sym] += f
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            pc[p] += f
            index[p].add(w)
            sym_pairs[p[0]].add(p)
            sym_pairs[p[1]].add(p)

    heap: list = []
    enc: dict[str, bytes] = {}  # tie-break byte forms, computed once per symbol

    def _e(x: str) -> bytes:
        b = enc.get(x)
        if b is None:
            b = enc[x] = x.encode()
        return b

    hpush = heapq.heappush

    def push(p: tuple[str, str]) -> None:
        c = pc.get(p, 0)
        if c > 0:
            ca, cb = sc[p[0]], sc[p[1]]
            score = float(c) / (float(ca) * float(cb))
            hpush(heap, (-score, _e(p[0]), _e(p[1]), p, c, ca, cb))

    for p in pc:
        push(p)

    merges: list[tuple[int, str, str, str, int, int, int]] = []
    for rank in range(num_merges):
        best = None
        while heap:
            _negs, _ab, _bb, p, c0, ca0, cb0 = heapq.heappop(heap)
            if pc.get(p, 0) == c0 and sc[p[0]] == ca0 and sc[p[1]] == cb0:
                best = (p, c0, ca0, cb0)
                break
        if best is None:
            break  # fully merged before the budget ran out
        (a, b), cnt, ca, cb = best
        m = a + b[2:]
        merges.append((rank, a, b, m, cnt, ca, cb))
        affected = list(index.pop((a, b), ()))
        sym_pairs[a].discard((a, b))
        sym_pairs[b].discard((a, b))
        changed: set = {(a, b)}
        for w in affected:
            s = state[w]
            f = freq[w]
            for sym in s:
                sc[sym] -= f
                if sc[sym] <= 0:
                    sc.pop(sym, None)
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pc[p] -= f
                if pc[p] <= 0:
                    pc.pop(p, None)
                    # dead pair: deregister from every index NOW (r9 —
                    # pc[p] == 0 means NO word contains p, so the stale
                    # registrations only feed no-op pushes; the fan-out
                    # sets stayed O(history) instead of O(live) and 75%
                    # of all heap pushes were for dead pairs. A revived
                    # pair re-registers in the rewrite loop below.)
                    index.pop(p, None)
                    sym_pairs[p[0]].discard(p)
                    sym_pairs[p[1]].discard(p)
                changed.add(p)
            out = _replace_pair(s, a, b, m)
            state[w] = out
            for sym in out:
                sc[sym] += f
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pc[p] = pc.get(p, 0) + f
                index[p].add(w)
                sym_pairs[p[0]].add(p)
                sym_pairs[p[1]].add(p)
                changed.add(p)
        # every pair whose score moved: counts of a/b/m changed, so every
        # pair listed under them re-scores (the sets hold LIVE pairs only
        # — dead pairs deregister at pc == 0 above; push()'s pc > 0 check
        # still guards the races within this very loop)
        for sym in (a, b, m):
            changed.update(sym_pairs.get(sym, ()))
        for p in changed:
            push(p)

    return merges, state


def wordpiece_vocab(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    max_word_len: int = 16,
) -> DataFrame:
    """Train on the corpus and export the token-id table (see
    :func:`_learn_full` for the id convention) — the artifact an embedding
    matrix indexes. Memoized with the rest of the family."""
    _m, ids, _s, _st = _learn_full(df, text_col, num_merges, max_word_len)
    return ids


def greedy_pieces(word: str, piece_set, max_word_len: int) -> list[str]:
    """Greedy longest-match-first WordPiece encode of ONE word — the
    sequential kernel the pandas UDF maps and the tests call directly.
    Tries every prefix length from the remaining length down (the word is
    ≤ max_word_len codepoints, so ≤ max_word_len candidates/position);
    continuation candidates carry the '##' prefix. Over-cap or
    unmatched-at-any-position words are the single ``[UNK]`` token."""
    n = len(word)
    if n > max_word_len:
        return [WP_UNK]
    out: list[str] = []
    pos = 0
    while pos < n:
        match = None
        for ln in range(n - pos, 0, -1):
            cand = ("" if pos == 0 else "##") + word[pos : pos + ln]
            if cand in piece_set:
                match = (cand, ln)
                break
        if match is None:
            return [WP_UNK]
        out.append(match[0])
        pos += match[1]
    return out


def wordpiece_segments(
    words: DataFrame, token_ids: DataFrame, *, max_word_len: int
) -> DataFrame:
    """word → greedy WordPiece segmentation for a DataFrame of distinct
    words: all input columns pass through, plus ``pieces array<string>``
    and ``n_tokens bigint``. The piece set is collected into the UDF
    closure — bounded by |alphabet| + num_merges + 1 (training
    hyperparameters; the unigram serving_ilp posture), NEVER
    corpus-scaled. The cap counts CODEPOINTS (pandas str length = Python
    codepoints; the DuckDB twin's len(regexp '.') agrees — not JVM UTF-16
    units). Training words always match (their chars seeded the alphabet
    in the exact position-form greedy probes); novel serving words can
    hit ``[UNK]``."""
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    piece_set = frozenset(
        r["token"] for r in token_ids.select("token").distinct().collect()
    )

    @pandas_udf("array<string>")
    def _seg(col: pd.Series) -> pd.Series:
        return col.map(lambda w: greedy_pieces(w, piece_set, max_word_len))

    return words.withColumn("pieces", _seg(F.col("word"))).withColumn(
        "n_tokens", F.size("pieces").cast("bigint")
    )


def wordpiece_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 8,
    max_word_len: int = 16,
) -> DataFrame:
    """Exact per-document WordPiece token counts under the corpus-trained
    vocabulary: (doc_id, n_pretokens, n_wordpiece_tokens) — train once
    (memoized), greedy-encode the DISTINCT words once, then the shared
    :func:`bpe.doc_token_counts` occurrence aggregate + equi-join (never
    re-encodes per occurrence)."""
    _m, _ids, segments, _st = _learn_full(df, text_col, num_merges, max_word_len)
    out = doc_token_counts(
        df, segments.select("word", "n_tokens"), text_col, id_col, level="char"
    )
    return out.withColumnRenamed("n_bpe_tokens", "n_wordpiece_tokens")


def wordpiece_fertility(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    num_merges: int = 8,
    max_word_len: int = 16,
) -> DataFrame:
    """Tokenizer FERTILITY per ``group_col`` under the corpus-trained
    WordPiece vocabulary — the bpe_fertility/unigram_fertility twin
    (tokens per pre-token, bytes per token), making the standard
    evaluation table comparable across ALL THREE families on one corpus.
    Ratios on the 1e-6 grid; zero denominators → NULL."""
    from billing_etl_v1_spark.functions import quantize6

    counts = wordpiece_token_counts(
        df, text_col, id_col, num_merges=num_merges, max_word_len=max_word_len
    )
    joined = df.select(
        F.col(id_col),
        F.col(group_col),
        F.coalesce(F.octet_length(text_col), F.lit(0)).alias("__bytes"),
    ).join(counts, id_col)
    agg = joined.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__bytes").cast("bigint").alias("total_bytes"),
        F.sum("n_pretokens").cast("bigint").alias("total_pretokens"),
        F.sum("n_wordpiece_tokens").cast("bigint").alias("total_tokens"),
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


def wordpiece_token_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 8,
    max_word_len: int = 16,
) -> DataFrame:
    """Per-document TOKEN-ID SEQUENCES (doc_id, pos, token, token_id)
    under the trained WordPiece vocabulary — the position/cumsum/join
    machinery is :func:`bpe.bpe_token_sequences` verbatim (the greedy
    segmentation table IS a word → tokens vocabulary, the id table IS a
    token → id table). Coverage: training words always greedy-match and
    ``[UNK]`` holds id 0, so no row drops at the id join. Same unique-
    doc_id contract as the other families."""
    from billing_etl_v1_spark.operators.bpe import bpe_token_sequences

    _m, ids, segments, _st = _learn_full(df, text_col, num_merges, max_word_len)
    vocab = segments.select("word", "freq", F.col("pieces").alias("tokens"))
    return bpe_token_sequences(
        df, vocab, ids.select("token", "token_id"), text_col, id_col, level="char"
    )


def wordpiece_pack_blocks(seq: DataFrame, block_tokens: int = 128) -> DataFrame:
    """Fixed-size training blocks over a WordPiece token-id sequence —
    :func:`bpe.bpe_pack_blocks` verbatim (the packer is tokenizer-blind)."""
    from billing_etl_v1_spark.operators.bpe import bpe_pack_blocks

    return bpe_pack_blocks(seq, block_tokens=block_tokens)


# --- serving path: persist / load / encode under a FROZEN vocabulary ------


def save_wordpiece(
    token_ids: DataFrame,
    segments: DataFrame,
    dir_path: str,
    *,
    max_word_len: int,
) -> None:
    """Persist a trained WordPiece tokenizer as parquet under
    ``dir_path``: the token-id table, the training-corpus greedy
    segmentations (the known-word fast path), and a 1-row meta table
    holding ``max_word_len`` — the cap is part of the tokenizer's
    definition (the save_bpe lesson: serving under a silently different
    cap would UNK novel words differently than training's convention).
    All tables vocabulary-bounded, never corpus-sized."""
    token_ids.write.mode("overwrite").parquet(f"{dir_path}/pieces")
    segments.select("word", "pieces", "n_tokens").write.mode("overwrite").parquet(
        f"{dir_path}/segments"
    )
    meta = token_ids.sparkSession.createDataFrame(
        [(int(max_word_len),)], "max_word_len int"
    )
    meta.write.mode("overwrite").parquet(f"{dir_path}/meta")


def load_wordpiece(spark: SparkSession, dir_path: str):
    """(token_ids, segments, max_word_len) from :func:`save_wordpiece` —
    lazy parquet scans, directly usable by :func:`wordpiece_encode`."""
    meta = spark.read.parquet(f"{dir_path}/meta").first().asDict()
    return (
        spark.read.parquet(f"{dir_path}/pieces"),
        spark.read.parquet(f"{dir_path}/segments"),
        int(meta["max_word_len"]),
    )


def wordpiece_encode(
    df: DataFrame,
    token_ids: DataFrame,
    segments: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_word_len: int,
) -> DataFrame:
    """Exact WordPiece token counts for a NEW batch under a FROZEN
    vocabulary — the serving path (bpe_encode / unigram_encode twin):
    words in the stored segmentation table resolve via one equi-join;
    only the batch's UNSEEN distinct words (left_anti — bounded by the
    batch's novel vocabulary) run the greedy scan, under the same frozen
    piece set, where a no-match position or over-cap length yields
    ``[UNK]`` (greedy under a frozen vocabulary is deterministic — known
    and novel paths agree exactly for the same string, unlike unigram's
    EM-window drift). Output: (doc_id, n_pretokens, n_wordpiece_tokens).
    ``max_word_len`` is a REQUIRED keyword — thread the value
    :func:`load_wordpiece` returns."""
    known = segments.select("word", "n_tokens")
    unseen = (
        df.select(F.explode(_pretokens(F.col(text_col), "char")).alias("word"))
        .distinct()
        .join(segments.select("word"), "word", "left_anti")
        .localCheckpoint()
    )
    if not unseen.isEmpty():
        enc = wordpiece_segments(unseen, token_ids, max_word_len=max_word_len)
        known = known.unionByName(enc.select("word", "n_tokens"))
    out = doc_token_counts(df, known, text_col, id_col, level="char")
    return out.withColumnRenamed("n_bpe_tokens", "n_wordpiece_tokens")
