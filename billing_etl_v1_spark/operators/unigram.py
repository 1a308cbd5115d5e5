"""Unigram-LM (SentencePiece-style) tokenizer: distributed train + encode.

The OTHER production tokenizer family (Kudo 2018, arXiv:1804.10959 — what
SentencePiece implements and Llama-lineage models train with), complementing
the BPE family in :mod:`operators.bpe`: instead of greedily merging pairs,
a unigram language model scores every candidate piece with a probability
and each word is segmented by VITERBI into the maximum-likelihood piece
sequence; training alternates EM probability re-estimation with vocabulary
pruning.

This implementation is the HARD-EM (Viterbi-EM) variant: the E-step uses
the single best segmentation per word rather than Kudo's lattice
forward-backward expectations. Deliberate, for two reasons: (a) hard-EM is
a recognized member of the unigram-LM family with the same fixed points in
the well-separated regime, and (b) it keeps every training decision an
INTEGER comparison — expected counts under a soft E-step are float sums
whose cross-engine reduction order is unfixable, while Viterbi counts are
exact integers, so the DuckDB oracle (oracle_ext.unigram_vocab_sql)
hash-matches bit-for-bit like the BPE twins do.

Algorithm (the exact spec all three implementations share — this module,
the DuckDB oracle, and the sequential property-test reference):

1. **Pre-tokenize** with the BPE char-level pre-tokenizer (letter / digit /
   symbol runs, ``text.BPE_TOKEN_RE``) and build the distinct
   (word, freq) vocabulary — the single corpus-sized pass (wordcount
   shape, map-side combined). Words longer than ``max_word_len``
   codepoints BYPASS training and encode as one piece per codepoint
   (the bpe_learn over-cap lane).
2. **Seed** (Kudo §3.2's frequent-substring seeding): count every
   substring of length 1..``max_piece_len`` of every in-cap word
   (all positions, overlapping, weighted by word freq). The seed piece
   set is the ALPHABET (every distinct codepoint observed in ANY word,
   count floored at 1 so coverage never dies) plus the top
   ``seed_multiplier * vocab_size - |alphabet|`` multi-char substrings
   by (count DESC, piece ASC) — the deterministic tie-break used
   everywhere in this repo (both engines order strings by UTF-8 bytes).
3. **Integer log-probs**: ``ilp(piece) = floor(1e6 * ln(count / total))``
   as BIGINT, total = sum of counts over the current piece set. The 1e-6
   grid makes Viterbi score sums integer-exact in both engines; ln() of
   the same IEEE double can differ across libm implementations only in
   the last ulp, ~1e-10 of the grid — the same accepted risk class as
   the repo-wide quantize6 hashing.
4. **EM rounds** (``em_rounds``): segment every in-cap word by VITERBI
   under the current ilp — dp[0] = 0, dp[j] = max over piece lengths
   l = 1..min(max_piece_len, j) of dp[j-l] + ilp(word[j-l:j]), ties
   broken toward the LONGER piece (score DESC, l DESC — a total order:
   l determines the predecessor) — then recount: count(piece) = Σ freq ×
   occurrences in the chosen segmentations. Next round's piece set =
   alphabet (count floored at 1) ∪ multi-char pieces with count > 0;
   recompute total and ilp.
5. **Prune** to ``vocab_size``: alphabet ∪ top (vocab_size - |alphabet|)
   multi-char pieces by (count DESC, piece ASC). (Kudo prunes by
   likelihood loss; count order is its hard-EM analogue — a piece's
   Viterbi count IS its contribution to the corpus log-likelihood up to
   the shared total.)
6. **Final round**: one more Viterbi + recount under the pruned set —
   the exported probabilities reflect the vocabulary users get.
7. **Export**: piece table (piece, freq, logprob quantized to 1e-6,
   token_id = rank by freq DESC, piece ASC — two-phase distributed
   rank, no unpartitioned window) and the word segmentation table
   (word, freq, pieces), which makes per-document token counts ONE
   equi-join (the bpe doc_token_counts machinery, shared).

Scale posture: the corpus is touched exactly once (the word_vocab
aggregate). Every EM round runs on the BOUNDED distinct-word table;
Viterbi is per-word CPU work — an Arrow-batched pandas UDF over the
vocabulary rows with the piece→ilp table as a plain dict closure
(hyperparameter-bounded: ≤ seed_multiplier × vocab_size entries — the
DSIR ratio-table posture). The per-round piece-table collect is the same
documented exception class as bpe.encode_words' merge-table collect:
bounded by a hyperparameter, never by corpus size. Counting stays distributed
(explode + groupBy, map-side combined).

Reference behavior anchored: the reference has no tokenizer (billing-only
pipeline); this extends SURVEY §7.2 step 8 where the r6 VERDICT named the
unigram-LM family the top residual ("what Llama-lineage models use").
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from billing_etl_v1_spark.operators.bpe import _pretokens, word_vocab

# training decisions happen on this integer grid (see module docstring §3)
ILP_SCALE = 1_000_000


# (session id, word_vocab semanticHash, vocab_size, max_piece_len,
#  max_word_len, em_rounds, seed_multiplier) -> (analyzed, pieces, segments)
# — the bpe._LEARN_CACHE pattern: docs_unigram_vocab / docs_unigram_tokens
# on the same corpus train once per session.
_LEARN_CACHE: dict[tuple, tuple[object, DataFrame, DataFrame]] = {}


def release_unigram_cache(spark=None) -> int:
    """Drop memoized training results (for ``spark`` only, or all)."""
    dropped = 0
    for key in list(_LEARN_CACHE):
        if spark is None or key[0] == id(spark):
            del _LEARN_CACHE[key]
            dropped += 1
    return dropped


def viterbi_segment(
    word: str,
    ilp: dict[str, int],
    max_piece_len: int,
    unk_ilp: int | None = None,
) -> list[str]:
    """The shared Viterbi spec (module docstring §4) for ONE word: maximum
    integer-score segmentation, ties toward the longer piece. Pure
    function so the pandas UDF, the serving path, and tests all call
    the identical code path.

    ``unk_ilp=None`` (training): raises KeyError if a codepoint of
    ``word`` has no piece — during training the alphabet invariant
    guarantees coverage, so a miss is a bug. Serving a FROZEN vocabulary
    (:func:`unigram_encode`) passes an integer ``unk_ilp``: codepoints
    outside the stored alphabet segment as single-char pieces at that
    score (the SentencePiece <unk> lane, minus the id remap)."""
    n = len(word)
    NEG = float("-inf")
    dp: list = [NEG] * (n + 1)
    back: list[int] = [0] * (n + 1)  # chosen piece length at j
    dp[0] = 0
    for j in range(1, n + 1):
        best_score, best_l = NEG, 0
        for l in range(1, min(max_piece_len, j) + 1):
            prev = dp[j - l]
            if prev == NEG:
                continue
            s = ilp.get(word[j - l : j])
            if s is None and l == 1 and unk_ilp is not None:
                s = unk_ilp
            if s is None:
                continue
            cand = prev + s
            # score DESC, then piece length DESC — the exact tie-break
            # the DuckDB oracle's row_number ORDER BY reproduces
            if cand > best_score or (cand == best_score and l > best_l):
                best_score, best_l = cand, l
        dp[j], back[j] = best_score, best_l
    if dp[n] == NEG:
        raise KeyError(
            f"unigram alphabet invariant broken: {word!r} not segmentable"
        )
    out: list[str] = []
    j = n
    while j > 0:
        l = back[j]
        out.append(word[j - l : j])
        j -= l
    out.reverse()
    return out


def _segments_df(
    words: DataFrame, ilp: dict[str, int], max_piece_len: int
) -> DataFrame:
    """(word, freq) -> (word, freq, pieces) via an Arrow-batched pandas
    UDF: per-word sequential DP is the one semantics DataFrame ops can't
    express (each dp cell depends on the previous), so this is the
    documented drop-to-pandas lane — the piece table rides the closure
    (hyperparameter-bounded, ≤ seed pieces; Spark broadcasts the
    serialized closure to executors once per stage)."""

    @pandas_udf("array<string>")
    def _seg(col: pd.Series) -> pd.Series:
        return col.map(lambda w: viterbi_segment(w, ilp, max_piece_len))

    return words.withColumn("pieces", _seg(F.col("word")))


def _counts_from_segments(segments: DataFrame) -> DataFrame:
    """Distributed M-step recount: Σ freq × occurrences per piece (the
    wordcount shape — explode + groupBy, map-side combined)."""
    return (
        segments.select("freq", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )


def _with_ilp(pieces: DataFrame) -> DataFrame:
    """Attach the integer log-prob column: floor(1e6 * ln(cnt/total)).
    The 1-row total broadcasts (the DSIR-totals posture) — no collect."""
    total = pieces.agg(F.sum("cnt").cast("double").alias("__total"))
    return pieces.crossJoin(F.broadcast(total)).withColumn(
        "ilp",
        F.floor(
            F.lit(float(ILP_SCALE))
            * F.log(F.col("cnt").cast("double") / F.col("__total"))
        ).cast("long"),
    )


def _collect_ilp(pieces: DataFrame) -> dict[str, int]:
    """Materialize the bounded piece table for the Viterbi closure — the
    documented hyperparameter-bounded collect (module docstring; the
    encode_words merge-table exception class: ≤ seed_multiplier × vocab_size
    rows by construction, never corpus-sized)."""
    return {r["piece"]: r["ilp"] for r in _with_ilp(pieces).collect()}


def unigram_learn(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 32,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    em_rounds: int = 2,
    seed_multiplier: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Train the unigram-LM tokenizer; returns ``(pieces, segments)``.

    ``pieces``: (piece, freq, logprob, token_id) — the exported
    vocabulary: final Viterbi counts (alphabet floored at 1), log
    probability quantized to the 1e-6 grid, ids dense by (freq DESC,
    piece ASC). ``segments``: (word, freq, pieces, n_tokens) for every
    distinct pre-token INCLUDING the over-cap bypass lane — the cost
    table :func:`unigram_token_counts` joins against.

    .. warning:: EXECUTES EAGERLY (one bounded piece-table collect per
       EM round — see module docstring); memoized per (session, corpus
       plan, hyperparameters) like :func:`bpe.bpe_learn`.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    if em_rounds < 0:
        raise ValueError(f"em_rounds must be >= 0, got {em_rounds}")
    spark = df.sparkSession
    words_all = word_vocab(df, text_col, level="char").select("word", "freq")
    analyzed = words_all._jdf.queryExecution().analyzed()
    key = (
        id(spark),
        analyzed.semanticHash(),
        vocab_size,
        max_piece_len,
        max_word_len,
        em_rounds,
        seed_multiplier,
    )
    hit = _LEARN_CACHE.get(key)
    if hit is not None:
        plan, p_hit, s_hit = hit
        try:
            if plan.sameResult(analyzed):
                return p_hit, s_hit
        except Exception:
            pass  # stopped session / dead JVM handle — miss, evict
        del _LEARN_CACHE[key]

    # the EM loop iterates on the BOUNDED word table; checkpoint it once
    # so rounds don't re-run the corpus aggregate (the bpe_learn posture)
    words_all = words_all.localCheckpoint()
    incap = words_all.filter(F.length("word") <= max_word_len)

    # alphabet: every distinct codepoint of EVERY word (over-cap included
    # — bypass segmentation and coverage both need them); split-by-empty
    # yields one element per codepoint (the bpe _symbols twin)
    alphabet = (
        words_all.select(F.explode(F.split("word", "")).alias("piece"))
        .distinct()
        .localCheckpoint()
    )

    # seed: substring counts over in-cap words, lengths 1..max_piece_len,
    # all (overlapping) positions, freq-weighted — one bounded explode
    sub = incap.select(
        "freq",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.least(F.length("word"), F.lit(max_piece_len))),
                    lambda l: F.transform(
                        F.sequence(F.lit(1), F.length("word") - l + F.lit(1)),
                        lambda st: F.substring(F.col("word"), st, l),
                    ),
                )
            )
        ).alias("piece"),
    )
    sub_counts = sub.groupBy("piece").agg(F.sum("freq").alias("cnt"))

    n_alpha = alphabet.count()
    seed_size = seed_multiplier * vocab_size
    n_multi_seed = max(0, seed_size - n_alpha)
    multi = sub_counts.filter(F.length("piece") > 1)
    seed_multi = (
        multi.orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(n_multi_seed)
        if n_multi_seed
        else multi.limit(0)
    )

    def _with_alphabet_floor(counts: DataFrame) -> DataFrame:
        """alphabet pieces always present, count floored at 1; multi-char
        pieces keep their exact counts (zero-count multis are gone
        already — counts only contains used pieces)."""
        alpha_cnt = (
            alphabet.join(counts.filter(F.length("piece") == 1), "piece", "left")
            .select("piece", F.greatest(F.coalesce("cnt", F.lit(0)), F.lit(1)).alias("cnt"))
        )
        return alpha_cnt.unionByName(counts.filter(F.length("piece") > 1))

    pieces_cnt = _with_alphabet_floor(
        sub_counts.filter(F.length("piece") == 1).unionByName(seed_multi)
    ).localCheckpoint()

    segments = None
    # em_rounds EM sweeps, then prune, then the final export sweep
    for rnd in range(em_rounds + 1):
        if rnd == em_rounds:
            # prune (module docstring §5): alphabet + top multi pieces
            n_multi_keep = max(0, vocab_size - n_alpha)
            kept_multi = (
                pieces_cnt.filter(F.length("piece") > 1)
                .orderBy(F.col("cnt").desc(), F.col("piece").asc())
                .limit(n_multi_keep)
            )
            pieces_cnt = (
                pieces_cnt.filter(F.length("piece") == 1)
                .unionByName(kept_multi)
                .localCheckpoint()
            )
        ilp = _collect_ilp(pieces_cnt)
        segments = _segments_df(incap, ilp, max_piece_len)
        if rnd == em_rounds:
            # only the FINAL sweep's segments have two consumers (the
            # count aggregate below and the exported segments table);
            # intermediate sweeps feed counts exactly once, and their
            # lineage is already O(1) (checkpointed incap + a literal ilp
            # dict), so materializing them bought nothing (r12, guide §5)
            segments = segments.localCheckpoint()
        pieces_cnt = _with_alphabet_floor(
            _counts_from_segments(segments)
        ).localCheckpoint()

    # export: quantized log probability + dense ids by (freq DESC, piece)
    from billing_etl_v1_spark.functions import quantize6
    from billing_etl_v1_spark.operators.events import distributed_total_rank

    total = pieces_cnt.agg(F.sum("cnt").cast("double").alias("__total"))
    scored = (
        pieces_cnt.crossJoin(F.broadcast(total))
        .select(
            "piece",
            F.col("cnt").alias("freq"),
            quantize6(F.log(F.col("cnt").cast("double") / F.col("__total"))).alias(
                "logprob"
            ),
        )
        .withColumn("__negfreq", -F.col("freq"))
    )
    pieces_out = (
        distributed_total_rank(scored, ["__negfreq", "piece"], rank_col="__rank")
        .select(
            "piece",
            "freq",
            "logprob",
            (F.col("__rank") - 1).cast("int").alias("token_id"),
        )
    )

    # segments incl. the over-cap bypass lane (one piece per codepoint),
    # with the encode cost precomputed. split-by-empty yields no empty
    # elements for non-empty strings (verified on Spark 4.1.2), so this
    # lane is textually identical to the alphabet and serving bypasses.
    overcap = words_all.filter(F.length("word") > max_word_len).select(
        "word",
        "freq",
        F.split("word", "").alias("pieces"),
    )
    segments_out = (
        segments.select("word", "freq", "pieces")
        .unionByName(overcap)
        .withColumn("n_tokens", F.size("pieces").cast("bigint"))
    )

    _LEARN_CACHE[key] = (analyzed, pieces_out, segments_out)
    return pieces_out, segments_out


def unigram_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 32,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    em_rounds: int = 2,
    seed_multiplier: int = 4,
) -> DataFrame:
    """Exact per-document unigram-LM token counts under the corpus-trained
    vocabulary: (doc_id, n_pretokens, n_unigram_tokens) — train once
    (memoized), then ONE equi-join of per-doc word occurrences against
    the segmentation cost table (the shared bpe.doc_token_counts
    machinery; never re-runs Viterbi per occurrence)."""
    from billing_etl_v1_spark.operators.bpe import doc_token_counts

    _, segments = unigram_learn(
        df,
        text_col,
        vocab_size=vocab_size,
        max_piece_len=max_piece_len,
        max_word_len=max_word_len,
        em_rounds=em_rounds,
        seed_multiplier=seed_multiplier,
    )
    out = doc_token_counts(
        df, segments.select("word", "n_tokens"), text_col, id_col, level="char"
    )
    return out.withColumnRenamed("n_bpe_tokens", "n_unigram_tokens")


# --- serving path: persist / load / encode under a FROZEN vocabulary ------

# serving score for codepoints outside the stored alphabet: more negative
# than any real piece's ilp until the vocabulary total exceeds e^100 counts
# (unreachable), so an unknown char never outbids a real segmentation —
# but a path through one stays finite and deterministic
UNK_ILP = -100 * ILP_SCALE


def save_unigram(
    pieces: DataFrame,
    segments: DataFrame,
    dir_path: str,
    max_piece_len: int = 4,
    max_word_len: int = 16,
) -> None:
    """Persist a trained unigram tokenizer (:func:`unigram_learn`'s
    outputs) as parquet under ``dir_path`` — the save_bpe twin. Both
    tables are vocabulary-bounded. ``max_piece_len`` / ``max_word_len``
    are part of the tokenizer's definition (they bound the Viterbi DP
    and the bypass lane), so they live IN the artifact (1-row ``meta``)
    and :func:`load_unigram` hands them back.

    The serving ilp is derived from the stored (freq, total) at load
    time with the training formula — floor(1e6 * ln(freq/total)) is a
    pure function of the stored integers, so persisting it separately
    could only ever disagree."""
    pieces.write.mode("overwrite").parquet(f"{dir_path}/pieces")
    segments.write.mode("overwrite").parquet(f"{dir_path}/segments")
    meta = pieces.sparkSession.createDataFrame(
        [(int(max_piece_len), int(max_word_len))],
        "max_piece_len int, max_word_len int",
    )
    meta.write.mode("overwrite").parquet(f"{dir_path}/meta")


def load_unigram(spark: SparkSession, dir_path: str):
    """Load a tokenizer saved by :func:`save_unigram`:
    (pieces, segments, max_piece_len, max_word_len) — lazy parquet scans
    plus the stored hyperparameters."""
    meta = spark.read.parquet(f"{dir_path}/meta").first().asDict()
    return (
        spark.read.parquet(f"{dir_path}/pieces"),
        spark.read.parquet(f"{dir_path}/segments"),
        int(meta["max_piece_len"]),
        int(meta["max_word_len"]),
    )


def serving_ilp(pieces: DataFrame) -> dict[str, int]:
    """piece → integer log-prob under the FINAL exported probabilities
    (freq / Σfreq on the training grid) — what novel words are scored
    with at serving time. Bounded collect: ≤ vocab_size rows."""
    with_total = pieces.crossJoin(
        F.broadcast(pieces.agg(F.sum("freq").cast("double").alias("__total")))
    )
    rows = with_total.select(
        "piece",
        F.floor(
            F.lit(float(ILP_SCALE))
            * F.log(F.col("freq").cast("double") / F.col("__total"))
        ).cast("long").alias("ilp"),
    ).collect()
    return {r["piece"]: r["ilp"] for r in rows}


def encode_unigram_words(
    words: DataFrame,
    pieces: DataFrame,
    *,
    max_piece_len: int,
    max_word_len: int,
) -> DataFrame:
    """word → pieces (array<string>) for words OUTSIDE the stored
    segmentation table, by Viterbi under the frozen final probabilities
    — the unigram twin of :func:`bpe.encode_words`. Over-cap words take
    the bypass lane (one piece per codepoint); codepoints outside the
    stored alphabet segment as single-char pieces at :data:`UNK_ILP`
    (see :func:`viterbi_segment`). Cost scales with the input's
    vocabulary, never a corpus."""
    ilp = serving_ilp(pieces)
    base = words.select("word").distinct()
    incap = base.filter(F.length("word") <= max_word_len)
    overcap = base.filter(F.length("word") > max_word_len).select(
        "word", F.split("word", "").alias("pieces")
    )

    @pandas_udf("array<string>")
    def _seg(col: pd.Series) -> pd.Series:
        return col.map(
            lambda w: viterbi_segment(w, ilp, max_piece_len, unk_ilp=UNK_ILP)
        )

    return incap.withColumn("pieces", _seg(F.col("word"))).unionByName(overcap)


def unigram_encode(
    df: DataFrame,
    pieces: DataFrame,
    segments: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_piece_len: int,
    max_word_len: int,
) -> DataFrame:
    """Exact unigram token counts for a NEW batch under a FROZEN trained
    vocabulary — the serving path (the bpe_encode twin): words already
    in the stored segmentation table resolve via one equi-join (exact
    training parity); only the batch's UNSEEN distinct words run Viterbi
    under the final exported probabilities. Output: (doc_id,
    n_pretokens, n_unigram_tokens).

    Known vs novel can differ for the SAME string only in the window
    between the final pre-prune segmentation and the final recount —
    that drift is a property of unigram-LM EM itself (SentencePiece's
    final encode also uses the last EM step's probabilities), and the
    stored-table fast path pins training words to their training cost.
    ``max_piece_len`` / ``max_word_len`` are REQUIRED keywords — thread
    the values :func:`load_unigram` returns (the save_bpe cap lesson)."""
    from billing_etl_v1_spark.operators.bpe import doc_token_counts

    known = segments.select("word", F.col("n_tokens"))
    unseen = (
        df.select(F.explode(_pretokens(F.col(text_col), "char")).alias("word"))
        .distinct()
        .join(segments.select("word"), "word", "left_anti")
        .localCheckpoint()
    )
    if not unseen.isEmpty():
        enc = encode_unigram_words(
            unseen, pieces, max_piece_len=max_piece_len, max_word_len=max_word_len
        )
        known = known.unionByName(
            enc.select("word", F.size("pieces").cast("bigint").alias("n_tokens"))
        )
    out = doc_token_counts(df, known, text_col, id_col, level="char")
    return out.withColumnRenamed("n_bpe_tokens", "n_unigram_tokens")


def unigram_fertility(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    vocab_size: int = 32,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    em_rounds: int = 2,
    seed_multiplier: int = 4,
) -> DataFrame:
    """Tokenizer FERTILITY per ``group_col`` under the corpus-trained
    unigram-LM vocabulary — the bpe_fertility twin (tokens/pre-token and
    bytes/token per language, the standard tokenizer-evaluation table,
    now comparable ACROSS the two tokenizer families on the same
    corpus). One corpus pass beyond training (the shared
    :func:`unigram_token_counts` aggregate plus a per-group sum);
    ratios on the 1e-6 grid, zero denominators → NULL."""
    from billing_etl_v1_spark.functions import quantize6

    counts = unigram_token_counts(
        df,
        text_col,
        id_col,
        vocab_size=vocab_size,
        max_piece_len=max_piece_len,
        max_word_len=max_word_len,
        em_rounds=em_rounds,
        seed_multiplier=seed_multiplier,
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
        F.sum("n_unigram_tokens").cast("bigint").alias("total_tokens"),
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


def unigram_token_sequences(
    df: DataFrame,
    pieces: DataFrame,
    segments: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document TOKEN-ID SEQUENCES under the trained unigram
    vocabulary — the model-input artifact, structurally identical to the
    BPE one: the position/cumsum/join machinery is
    :func:`bpe.bpe_token_sequences` verbatim (the segmentation table IS
    a (word → tokens) vocabulary and the piece table IS a (token → id)
    table; the two families differ only in how those were learned).
    Coverage note: over-cap words segment per-codepoint and the alphabet
    spans every observed codepoint, so no training row can drop at the
    id join. Same unique-doc_id data contract (corpus_dq_audit checks it)."""
    from billing_etl_v1_spark.operators.bpe import bpe_token_sequences

    vocab = segments.select("word", "freq", F.col("pieces").alias("tokens"))
    ids = pieces.select(F.col("piece").alias("token"), "token_id")
    return bpe_token_sequences(df, vocab, ids, text_col, id_col, level="char")


def unigram_pack_blocks(seq: DataFrame, block_tokens: int = 128) -> DataFrame:
    """Fixed-size training blocks over a unigram token-id sequence —
    :func:`bpe.bpe_pack_blocks` verbatim (the packer is tokenizer-blind:
    it consumes (doc_id, pos, token_id) rows)."""
    from billing_etl_v1_spark.operators.bpe import bpe_pack_blocks

    return bpe_pack_blocks(seq, block_tokens=block_tokens)


# --- subword regularization: sampled segmentations (Kudo 2018 §4) ---------


def viterbi_nbest(
    word: str, ilp: dict[str, int], max_piece_len: int, n: int, unk_ilp: int | None = None
) -> list[tuple[int, list[str]]]:
    """Top-``n`` segmentations of one word by integer score — the l-best
    lattice enumeration subword regularization samples from (Kudo 2018
    §4.2). Total order (score DESC, piece-list ASC), so the list is
    deterministic; its top-1 can differ from :func:`viterbi_segment`
    only on EXACT score ties (which that function breaks positionally).
    Same UNK contract as viterbi_segment."""
    nn = len(word)
    # dp[j]: top-n (score, path) reaching position j
    dp: list[list[tuple[int, tuple[str, ...]]]] = [[] for _ in range(nn + 1)]
    dp[0] = [(0, ())]
    for j in range(1, nn + 1):
        cands: list[tuple[int, tuple[str, ...]]] = []
        for l in range(1, min(max_piece_len, j) + 1):
            piece = word[j - l : j]
            s = ilp.get(piece)
            if s is None and l == 1 and unk_ilp is not None:
                s = unk_ilp
            if s is None:
                continue
            for sc, path in dp[j - l]:
                cands.append((sc + s, path + (piece,)))
        cands.sort(key=lambda t: (-t[0], t[1]))
        dp[j] = cands[:n]
    if not dp[nn]:
        raise KeyError(
            f"unigram alphabet invariant broken: {word!r} not segmentable"
        )
    return [(sc, list(path)) for sc, path in dp[nn]]


def unigram_sample_segments(
    df: DataFrame,
    pieces: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_piece_len: int,
    max_word_len: int,
    n_best: int = 4,
    alpha: float = 0.2,
    salt: int = 0,
) -> DataFrame:
    """SUBWORD REGULARIZATION: per word OCCURRENCE, sample a segmentation
    from the word's ``n_best`` list with probability ∝ p(seg)^alpha —
    the data-augmentation trick unigram-LM tokenizers exist for (Kudo
    2018 §4.2's l-best approximation; alpha=0 → uniform over the n-best,
    large alpha → the 1-best). Output: one row per word occurrence
    (id_col, wpos, word, pieces, n_tokens).

    Spark-first split of the work: the n-best LATTICE enumeration (per
    DISTINCT word — bounded CPU work, the Viterbi posture) runs in an
    Arrow-batched pandas UDF, while the per-OCCURRENCE choice is pure
    JVM column math — xxhash64(doc, position, salt) folded to [0,1) and
    walked through the softmax-alpha cumulative weights with one
    F.aggregate over the (small, n_best-bounded) candidate array. So
    sampling is DETERMINISTIC given salt (reproducible training runs,
    and a new epoch is just a new salt), and the corpus-sized pass never
    enters Python.

    NOT oracle-registered: the choice math is float softmax over hashes
    — cross-engine float reduction is exactly what the trainer's integer
    grid exists to avoid — so this op is property-tested (validity,
    determinism, distribution) rather than driver-hashed. Over-cap words
    have one candidate (per-codepoint bypass), so sampling degenerates
    to the deterministic bypass, matching encode."""
    if n_best < 1:
        raise ValueError(f"n_best must be >= 1, got {n_best}")
    ilp = serving_ilp(pieces)

    @pandas_udf(
        "array<struct<score: bigint, segs: array<string>>>"
    )
    def _nbest(col: pd.Series) -> pd.Series:
        def run(w: str):
            if len(w) > max_word_len:
                return [(sum(ilp.get(c, UNK_ILP) for c in w), list(w))]
            return viterbi_nbest(w, ilp, max_piece_len, n_best, unk_ilp=UNK_ILP)

        return col.map(run)

    words = (
        df.select(
            F.col(id_col),
            F.posexplode(_pretokens(F.col(text_col), "char")).alias("wpos", "word"),
        )
    )
    nbest = (
        words.select("word").distinct().withColumn("nbest", _nbest(F.col("word")))
    )
    occ = words.join(nbest, "word")
    nb = F.col("nbest")
    best_score = F.element_at(nb, 1)["score"]
    weights = F.transform(
        nb,
        lambda c: F.exp(
            F.lit(float(alpha))
            * (c["score"] - best_score).cast("double")
            / F.lit(float(ILP_SCALE))
        ),
    )
    total = F.aggregate(weights, F.lit(0.0), lambda a, x: a + x)
    u = F.pmod(
        F.xxhash64(F.col(id_col), F.col("wpos"), F.lit(int(salt))), F.lit(1 << 30)
    ).cast("double") / F.lit(float(1 << 30))
    target = u * total
    # index of the first candidate whose cumulative weight exceeds target
    # (one left-to-right scan; `done` freezes the index once crossed)
    pick = F.aggregate(
        weights,
        F.struct(
            F.lit(0.0).alias("cum"), F.lit(0).alias("idx"), F.lit(False).alias("done")
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x).alias("cum"),
            F.when(acc["done"] | (acc["cum"] + x > target), acc["idx"])
            .otherwise(acc["idx"] + 1)
            .alias("idx"),
            (acc["done"] | (acc["cum"] + x > target)).alias("done"),
        ),
        # float round-off can leave target >= full sum: clamp to the last
        lambda acc: F.least(acc["idx"], F.size(nb) - 1),
    )
    chosen = F.element_at(nb, pick + 1)["segs"]
    return occ.select(
        F.col(id_col),
        F.col("wpos"),
        F.col("word"),
        chosen.alias("pieces"),
        F.size(chosen).cast("bigint").alias("n_tokens"),
    )


# --- lattice (soft-EM) trainer: the full Kudo algorithm, driver-side ------


def unigram_learn_lattice(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 32,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    em_rounds: int = 2,
    seed_multiplier: int = 4,
    max_vocab_rows: int = 5_000_000,
) -> tuple[DataFrame, DataFrame]:
    """The FULL Kudo 2018 trainer — lattice forward-backward soft-EM and
    likelihood-loss pruning — as the driver-side sibling of
    :func:`unigram_learn` (a different algorithm — soft vs hard EM — not
    a second path to the same result): the corpus-sized pass stays the distributed :func:`word_vocab`
    aggregate; the EM runs driver-side over the collected bounded
    vocabulary, because soft expected counts are float sums whose
    reduction order cross-engine exactness cannot survive — this trainer
    trades the DuckDB-hashable integer grid for the textbook algorithm,
    and is therefore property-tested (EM likelihood monotonicity,
    hard/soft agreement on unambiguous corpora, serving-schema
    compatibility) instead of oracle-registered.

    Differences from :func:`unigram_learn`, all Kudo-faithful:

    - E-step: expected piece counts from the word lattice
      (forward-backward over positions; direct probability space —
      words are <= max_word_len pieces, so products stay far above
      double underflow), not Viterbi hard counts;
    - prune: LIKELIHOOD LOSS — a piece's value is
      count_i * (cost of its best self-segmentation via OTHER pieces −
      its own log-prob), the SentencePiece estimate of how much corpus
      log-likelihood removing it costs; alphabet never pruned;
    - export: identical schema/conventions to :func:`unigram_learn`
      (freq = expected counts rounded to BIGINT for the artifact,
      logprob quantized, ids by (freq DESC, piece ASC); segments =
      final Viterbi under the soft-trained probabilities via the shared
      :func:`viterbi_segment`), so ``save_unigram`` / ``unigram_encode``
      / the streaming meter serve either trainer's artifact unchanged.

    Same guarded-collect contract as ``bpe_learn``: the
    vocabulary is pre-counted with a LIMIT n+1 probe and refuses to
    collect past ``max_vocab_rows``.
    """
    import math
    from collections import Counter

    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    if em_rounds < 0:
        raise ValueError(f"em_rounds must be >= 0, got {em_rounds}")
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    spark = df.sparkSession
    # ONE corpus pass (r9): checkpoint the bounded vocabulary so the guard
    # count and the collect don't each re-run the corpus aggregate
    vocab_df = (
        word_vocab(df, text_col, level="char").select("word", "freq").localCheckpoint()
    )
    if vocab_df.limit(max_vocab_rows + 1).count() > max_vocab_rows:
        raise ValueError(
            f"unigram_learn_lattice: vocabulary has more than "
            f"max_vocab_rows={max_vocab_rows} distinct pre-tokens; train "
            f"on a corpus sample or use the distributed unigram_learn"
        )
    rows = vocab_df.collect()
    words = {r["word"]: r["freq"] for r in rows}
    alphabet = sorted({c for w in words for c in w})
    incap = {w: f for w, f in words.items() if len(w) <= max_word_len}

    # seed: identical spec to the distributed trainer (substring counts,
    # alphabet floored at 1, top multi-char by (count DESC, piece ASC))
    sub: Counter = Counter()
    for w, f in incap.items():
        for l in range(1, max_piece_len + 1):
            for st in range(len(w) - l + 1):
                sub[w[st : st + l]] += f
    n_multi = max(0, seed_multiplier * vocab_size - len(alphabet))
    multi = sorted(
        ((p, c) for p, c in sub.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[:n_multi]
    counts: dict[str, float] = {p: float(c) for p, c in multi}
    for ch in alphabet:
        counts[ch] = float(max(sub.get(ch, 0), 1))

    def probs_of(cnt: dict[str, float]) -> dict[str, float]:
        total = sum(cnt.values())
        return {p: c / total for p, c in cnt.items()}

    def lattice_expect(w: str, p: dict[str, float]):
        """(expected piece counts for one occurrence, log-likelihood)."""
        n = len(w)
        fwd = [0.0] * (n + 1)
        fwd[0] = 1.0
        for j in range(1, n + 1):
            s = 0.0
            for l in range(1, min(max_piece_len, j) + 1):
                pi = p.get(w[j - l : j])
                if pi:
                    s += fwd[j - l] * pi
            fwd[j] = s
        if fwd[n] <= 0.0:
            return {}, float("-inf")
        bwd = [0.0] * (n + 1)
        bwd[n] = 1.0
        for i in range(n - 1, -1, -1):
            s = 0.0
            for l in range(1, min(max_piece_len, n - i) + 1):
                pi = p.get(w[i : i + l])
                if pi:
                    s += pi * bwd[i + l]
            bwd[i] = s
        e: dict[str, float] = {}
        for i in range(n):
            for l in range(1, min(max_piece_len, n - i) + 1):
                piece = w[i : i + l]
                pi = p.get(piece)
                if pi:
                    e[piece] = e.get(piece, 0.0) + fwd[i] * pi * bwd[i + l] / fwd[n]
        return e, math.log(fwd[n])

    def em_round(cnt: dict[str, float]) -> tuple[dict[str, float], float]:
        p = probs_of(cnt)
        new: dict[str, float] = {}
        ll = 0.0
        for w, f in incap.items():
            e, lw = lattice_expect(w, p)
            ll += f * lw
            for piece, c in e.items():
                new[piece] = new.get(piece, 0.0) + f * c
        out = {p_: c for p_, c in new.items() if len(p_) > 1 and c > 0.0}
        for ch in alphabet:
            out[ch] = max(new.get(ch, 0.0), 1.0)
        return out, ll

    for _ in range(em_rounds):
        counts, _ll = em_round(counts)

    # likelihood-loss prune (SentencePiece estimate): keep the alphabet
    # plus the top multi-char pieces by count_i * (best alternative
    # self-segmentation cost - own logprob) — how much corpus likelihood
    # removing the piece would cost
    p = probs_of(counts)
    ilp_full = {q: math.log(v) for q, v in p.items()}

    def alt_cost(piece: str) -> float:
        """best log-prob of segmenting `piece` WITHOUT itself."""
        n = len(piece)
        NEG = float("-inf")
        dp = [NEG] * (n + 1)
        dp[0] = 0.0
        for j in range(1, n + 1):
            best = NEG
            for l in range(1, min(max_piece_len, j) + 1):
                q = piece[j - l : j]
                if q == piece:
                    continue
                s = ilp_full.get(q)
                if s is not None and dp[j - l] != NEG:
                    best = max(best, dp[j - l] + s)
            dp[j] = best
        return dp[n]

    n_keep = max(0, vocab_size - len(alphabet))
    scored = []
    for q, c in counts.items():
        if len(q) == 1:
            continue
        loss = c * (ilp_full[q] - alt_cost(q))  # >0: keeping it is worth `loss`
        scored.append((q, loss))
    kept = sorted(scored, key=lambda t: (-t[1], t[0]))[:n_keep]
    counts = {q: counts[q] for q, _ in kept}
    for ch in alphabet:
        counts[ch] = max(counts.get(ch, 0.0), 1.0)

    # final soft recount under the pruned set, then export
    counts, _ll = em_round(counts)
    total = sum(counts.values())
    ranked = sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))
    q6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    # freq floors at 1: a kept piece with expected count < 0.5 would
    # otherwise export freq=0 and serving_ilp's ln(freq/total) would go
    # NULL, silently disabling the piece at encode time.
    pieces_rows = [
        (q, max(1, int(round(c))), q6(math.log(c / total)), i)
        for i, (q, c) in enumerate(ranked)
    ]
    pieces_out = spark.createDataFrame(
        pieces_rows, "piece string, freq bigint, logprob double, token_id int"
    )
    ilp_final = {
        q: math.floor(ILP_SCALE * math.log(c / total)) for q, c in counts.items()
    }
    seg_rows = [
        (w, f, viterbi_segment(w, ilp_final, max_piece_len)) for w, f in incap.items()
    ] + [(w, f, list(w)) for w, f in words.items() if len(w) > max_word_len]
    segments_out = spark.createDataFrame(
        [(w, f, s, len(s)) for w, f, s in seg_rows],
        "word string, freq bigint, pieces array<string>, n_tokens bigint",
    )
    return pieces_out, segments_out
