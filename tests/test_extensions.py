"""Quality/behavior tests for the extension operators beyond oracle parity:
MinHash recall against exact Jaccard, IVF recall against brute force,
SimHash sanity, multimodal plumbing."""

from __future__ import annotations

import importlib.util

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from billing_etl_v1_spark.operators import multimodal as mm
from billing_etl_v1_spark.operators.dedup import (
    embedding_cosine_pairs,
    embedding_lsh_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from billing_etl_v1_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
)
from billing_etl_v1_spark.sources.readers import load_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF_SMALL, "embeddings").cache()


def test_exact_dedup_partitions_ids(spark, docs):
    total = docs.count()
    agg = exact_dedup(docs).agg(F.sum("n_docs"), F.count(F.lit(1))).collect()[0]
    assert agg[0] == total  # every doc in exactly one group
    assert agg[1] <= total


def test_minhash_recall_of_high_jaccard_pairs(spark, docs):
    """LSH candidates must contain every pair with true Jaccard >= 0.5
    (4 bands x 4 rows: p(miss at j=0.5) = (1-0.5^4)^4 ~ 0.77 per pair —
    so assert on the very-high band where miss probability is negligible,
    and on overall candidate sanity)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    cand = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    missed = exact - cand
    assert not missed, f"LSH missed near-identical pairs: {missed}"


def test_minhash_estimates_close_to_exact(spark, docs):
    est = minhash_lsh_pairs(docs).withColumnsRenamed({"est_jaccard": "est"})
    exact = ngram_jaccard_pairs(docs, threshold=0.0)
    joined = est.join(exact, ["doc_a", "doc_b"]).select("est", "jaccard").collect()
    assert joined, "no overlapping pairs to compare"
    mae = sum(abs(r.est - r.jaccard) for r in joined) / len(joined)
    assert mae < 0.25  # 16 hashes -> coarse but unbiased estimate


def test_ngram_jaccard_guard_refuses_large_input(spark, docs):
    # same loud-refusal contract as embedding_cosine_pairs: the quadratic
    # baseline must not silently run on a corpus-sized input
    with pytest.raises(ValueError, match="quadratic exactness baseline"):
        ngram_jaccard_pairs(docs, max_rows=10).collect()


def test_ngram_jaccard_doc_freq_prune_only_shrinks_scores(spark, docs):
    """Stop-shingle pruning may drop pairs / lower scores but must never
    create pairs or raise a score (denominators keep full shingle counts)."""
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    pruned = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=3).collect()
    }
    assert set(pruned) <= set(full)
    assert all(pruned[k] <= full[k] + 1e-9 for k in pruned)
    # prune at a high cutoff is a no-op on this corpus-free fixture only if
    # no shingle exceeds it; at cutoff >= n_docs it must be exactly identity
    n_docs = docs.count()
    same = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, threshold=0.0, max_doc_freq=n_docs
        ).collect()
    }
    assert same == full


def test_remove_repeated_spans_drops_cross_doc_spans_only(spark):
    from billing_etl_v1_spark.operators.text import remove_repeated_spans

    dup = "the quick brown fox jumps"  # 5 words = one exact 5-gram
    rows = [
        (1, f"alpha beta {dup} gamma delta"),
        (2, f"epsilon zeta {dup} eta theta"),
        (3, "iota kappa lambda mu nu xi omicron pi"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_repeated_spans(df, n=5).collect()}
    # the shared 5-gram is removed from BOTH docs, the unique words survive
    assert out[1].clean_text == "alpha beta gamma delta"
    assert out[2].clean_text == "epsilon zeta eta theta"
    # a doc with no repeated span is unchanged (modulo normalization)
    assert out[3].clean_text == "iota kappa lambda mu nu xi omicron pi"
    for r in out.values():
        assert r.n_tokens_kept <= r.n_tokens


def test_kmeans_refine_improves_cosine_objective(spark, embeddings):
    """Spherical-k-means monotonicity: two Lloyd rounds must not worsen the
    mean max-cosine vs assigning straight to the raw seeds (iters=0)."""
    from billing_etl_v1_spark.operators.similarity import kmeans_refine

    def mean_sim(iters):
        out = kmeans_refine(embeddings, iters=iters)
        return out.agg(F.avg("sim")).first()[0]

    base, refined = mean_sim(0), mean_sim(2)
    assert refined >= base - 1e-9, (base, refined)
    # every vector assigned exactly once
    out = kmeans_refine(embeddings, iters=2)
    assert out.count() == embeddings.count()
    assert out.select("vec_id").distinct().count() == embeddings.count()


def test_decontaminate_fuzzy_flags_near_copy_of_eval_doc(spark):
    from billing_etl_v1_spark.operators.text import decontaminate_fuzzy

    eval_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, eval_text, "en", "bench"),          # eval doc (0 % 97 == 0)
        (1, eval_text + " tail", "en", "web"),  # near-copy: must flag
        (2, "completely different words about spark shuffles and joins", "en", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r.doc_id: r for r in decontaminate_fuzzy(df, threshold=0.5).collect()}
    assert set(out) == {1, 2}  # eval docs excluded from output
    assert out[1].is_contaminated and out[1].max_est_jaccard >= 0.5
    assert not out[2].is_contaminated and out[2].n_candidates == 0


def test_remove_repeated_spans_within_doc_repeat(spark):
    from billing_etl_v1_spark.operators.text import remove_repeated_spans

    phrase = "a b c d e"
    df = spark.createDataFrame(
        [(1, f"{phrase} x {phrase}"), (2, "unrelated words only here now")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_repeated_spans(df, n=5).collect()}
    # the twice-occurring 5-gram inside ONE doc is removed at both sites
    assert out[1].clean_text == "x"
    assert out[1].n_tokens_kept == 1


def test_simhash_identical_docs_hamming_zero(spark, docs):
    dups = (
        exact_dedup(docs)
        .filter(F.col("n_docs") >= 2)
        .count()
    )
    pairs = simhash_pairs(docs, max_hamming=0)
    if dups:
        assert pairs.count() >= dups  # exact dups always collide at hamming 0


def test_ivf_recall_vs_bruteforce(spark, embeddings):
    bf = {(r.query_id, r.neighbor_id) for r in cosine_topk_bruteforce(embeddings).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in cosine_topk_ivf(embeddings).collect()}
    recall = len(bf & ivf) / len(bf)
    # cluster pruning trades recall for candidate reduction; sanity floor
    assert recall > 0.1, f"IVF recall collapsed: {recall}"
    assert ivf, "IVF returned nothing"


def test_embedding_lsh_is_subset_of_bruteforce(spark, embeddings):
    brute = {
        (r.vid_a, r.vid_b, r.cosine)
        for r in embedding_cosine_pairs(embeddings).collect()
    }
    lsh = {
        (r.vid_a, r.vid_b, r.cosine)
        for r in embedding_lsh_pairs(embeddings).collect()
    }
    assert lsh <= brute  # bucketing can only prune, never invent pairs
    assert len(brute) > 0


def test_embedding_cosine_pairs_symmetric_and_bounded(spark, embeddings):
    rows = embedding_cosine_pairs(embeddings, threshold=0.0).limit(500).collect()
    assert all(r.vid_a < r.vid_b for r in rows)
    assert all(-1.0 <= r.cosine <= 1.0 for r in rows)


def test_embedding_lsh_recall_measured(spark, embeddings):
    """The LSH docstring promises recall is directly measurable against the
    brute baseline — measure it and hold a floor. 4 bands x 4 sign bits on
    the sf0.001 embeddings lands ~0.53 at threshold 0.4; the floor guards
    against a banding regression silently collapsing the candidate set."""
    brute = {
        (r.vid_a, r.vid_b) for r in embedding_cosine_pairs(embeddings).collect()
    }
    lsh = {(r.vid_a, r.vid_b) for r in embedding_lsh_pairs(embeddings).collect()}
    assert lsh <= brute
    assert brute, "no near-dup pairs at threshold 0.4 — fixture changed?"
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.4, f"embedding LSH recall {recall:.3f} below floor"


def test_bruteforce_baselines_refuse_large_input(spark, embeddings):
    """VERDICT r1: the O(n²) exactness baselines must not silently run
    all-pairs on a big corpus — the max_rows guard refuses eagerly."""
    import pytest

    from billing_etl_v1_spark.operators.similarity import cosine_topk_bruteforce

    with pytest.raises(ValueError, match="max_rows"):
        embedding_cosine_pairs(embeddings, max_rows=10)
    with pytest.raises(ValueError, match="max_rows"):
        cosine_topk_bruteforce(embeddings, max_rows=10)
    # None disables the guard for deliberate offline measurement
    assert embedding_cosine_pairs(embeddings, max_rows=None).count() >= 0


@pytest.mark.parametrize("raw", ["abc", "", "0", "-8", "6.4"])
def test_dot_unroll_dim_env_rejects_bad_values(monkeypatch, raw):
    """A malformed or non-positive SPARK_GRAFT_DOT_UNROLL_DIM fails with
    an error naming the variable; a valid one is honoured."""
    from billing_etl_v1_spark.operators import similarity

    monkeypatch.setenv("SPARK_GRAFT_DOT_UNROLL_DIM", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DOT_UNROLL_DIM"):
        similarity._env_unroll_dim()
    monkeypatch.setenv("SPARK_GRAFT_DOT_UNROLL_DIM", "32")
    assert similarity._env_unroll_dim() == 32


def test_asof_join_point_in_time_correct(spark):
    from billing_etl_v1_spark.operators.events import asof_join

    left = spark.createDataFrame(
        [(1, 100), (2, 205), (3, 300)], "id int, ts int"
    ).withColumn("user", F.lit("u"))
    right = spark.createDataFrame(
        [(200, 2.0), (205, 2.5), (250, 3.0)], "ts int, value double"
    ).withColumn("user", F.lit("u"))
    got = {
        r.id: r.value_asof
        for r in asof_join(left, right, by="user", ts_col="ts").collect()
    }
    # before first right row -> NULL; equal ts matches (<=); latest wins
    assert got == {1: None, 2: 2.5, 3: 3.0}


def test_multimodal_features_deterministic_and_batched(spark, docs):
    withp = mm.attach_payload(docs.limit(50))
    out1 = mm.extract_features(withp, fake=True).orderBy("doc_id").collect()
    out2 = mm.extract_features(withp, fake=True).orderBy("doc_id").collect()
    assert out1 == out2
    assert all(len(r.features) == mm.FEATURE_DIM for r in out1)
    assert all(r.byte_len > 0 for r in out1)


def test_multimodal_frame_sample_reassembles(spark, docs):
    payloads = mm.attach_payload(docs).select("doc_id", "payload").limit(20)
    frames = mm.sample_frames(payloads, frame_size=64, every_n=1).collect()
    by_doc: dict = {}
    for f in frames:
        by_doc.setdefault(f.doc_id, []).append(f)
    originals = {r.doc_id: bytes(r.payload) for r in payloads.collect()}
    for doc_id, fs in by_doc.items():
        fs.sort(key=lambda f: f.frame_idx)
        assert b"".join(bytes(f.frame) for f in fs) == originals[doc_id]


def test_multimodal_resize_downsamples_deterministically(spark, docs):
    payloads = mm.attach_payload(docs).limit(20)
    a = {r.doc_id: bytes(r.resized) for r in mm.resize_payload(payloads).collect()}
    b = {r.doc_id: bytes(r.resized) for r in mm.resize_payload(payloads).collect()}
    assert a == b  # deterministic across runs
    assert all(len(v) <= 64 for v in a.values())


def test_multimodal_real_decode_gated_without_pil():
    """Without Pillow the non-fake image branches refuse (and non-image
    media always refuses — no codec exists for them here); NULL payloads
    stay NULL in every mode."""
    if importlib.util.find_spec("PIL") is None:
        with pytest.raises(NotImplementedError):
            mm._decode_payload(b"xx", "image/png", fake=False)
        with pytest.raises(NotImplementedError):
            mm._resize_payload(b"xx", "image/png", 64, fake=False)
    with pytest.raises(NotImplementedError):
        mm._decode_payload(b"xx", "audio/wav", fake=False)
    with pytest.raises(NotImplementedError):
        mm._resize_payload(b"xx", "audio/wav", 64, fake=False)
    assert mm._resize_payload(None, "image/png", 64, fake=False) is None
    assert mm._resize_payload(None, "image/png", 64, fake=True) is None


@pytest.mark.skipif(
    importlib.util.find_spec("PIL") is None, reason="Pillow not installed"
)
def test_multimodal_real_decode_with_pil(spark):
    """When Pillow IS present, the non-fake branch decodes a real PNG
    through the same mapInPandas plumbing the fake path uses (the driver
    queries keep fake=True)."""
    from io import BytesIO

    from PIL import Image

    buf = BytesIO()
    Image.new("RGB", (4, 2), color=(255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()

    feats = mm._decode_payload(png, "image/png", fake=False)
    assert feats[:3] == [4.0, 2.0, 3.0]  # width, height, channels
    assert feats[7] == 0.0  # dominant channel is R

    df = spark.createDataFrame([(1, "image/png", bytearray(png))],
                               "doc_id long, media_type string, payload binary")
    out = mm.extract_features(df, fake=False).collect()
    assert len(out) == 1 and out[0].features[:2] == [4.0, 2.0]

    # real RESIZE lane (r9): a 64x32 PNG thumbnails into a 16x16 box
    # (aspect preserved -> 16x8), re-encoded as PNG, through the same
    # mapInPandas plumbing; deterministic across runs (pinned resample)
    buf2 = BytesIO()
    Image.new("RGB", (64, 32), color=(0, 255, 0)).save(buf2, format="PNG")
    big = buf2.getvalue()
    out1 = mm._resize_payload(big, "image/png", 16, fake=False)
    out2 = mm._resize_payload(big, "image/png", 16, fake=False)
    assert out1 == out2
    with Image.open(BytesIO(out1)) as thumb:
        assert thumb.size == (16, 8) and thumb.format == "PNG"
    df2 = spark.createDataFrame([(1, "image/png", bytearray(big))],
                                "doc_id long, media_type string, payload binary")
    rows = mm.resize_payload(df2, target_len=16, fake=False).collect()
    assert len(rows) == 1 and bytes(rows[0].resized) == out1
    assert rows[0].orig_len == len(big) and rows[0].resized_len == len(out1)


# --- corpus prep (sampling + quality filter + dedup) -----------------------


def test_hash_sample_split_is_a_partition(spark, docs):
    """sample(f) and its complement partition the table exactly: the same
    salted hash drives both, so train/holdout are disjoint and exhaustive."""
    from billing_etl_v1_spark.operators.corpus import (
        hash_sample,
        hash_sample_complement,
    )

    total = docs.count()
    train = hash_sample(docs, fraction=0.2)
    # the PUBLIC complement API (review finding: hash_sample(1-f) selects
    # buckets [0, t(1-f)) which OVERLAPS the sample — the docstring used
    # to advertise exactly that broken recipe)
    holdout = hash_sample_complement(docs, fraction=0.2)
    n_train, n_hold = train.count(), holdout.count()
    assert n_train + n_hold == total
    assert train.join(holdout, "doc_id", "inner").count() == 0
    assert 0 < n_train < total


def test_hash_sample_is_layout_independent(spark, docs):
    from billing_etl_v1_spark.operators.corpus import hash_sample

    a = sorted(r.doc_id for r in hash_sample(docs, 0.3).select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in hash_sample(docs.repartition(13), 0.3).select("doc_id").collect()
    )
    assert a == b


def test_quality_corpus_gates_and_dedups(spark, docs):
    from billing_etl_v1_spark.operators.corpus import quality_corpus

    out = quality_corpus(docs, min_tokens=30, min_quality=0.5).cache()
    rows = out.collect()
    assert rows, "corpus should not be empty on testdata"
    assert all(r.token_count >= 30 and r.quality_score >= 0.5 for r in rows)
    assert all(r.lang_pred in ("en", "de", "fr", "es") for r in rows)
    # exact-dup free: normalized texts are unique post-dedup
    n_norm = (
        out.select(
            F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ").alias("n")
        )
        .distinct()
        .count()
    )
    assert n_norm == out.count()


# --- skew salting -----------------------------------------------------------


def test_salted_join_matches_plain_join(spark):
    from billing_etl_v1_spark.operators.skew import salted_join

    events = load_table(spark, SF_SMALL, "events")
    totals = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    plain = events.join(totals, "user_id").select("event_id", "user_id", "n")
    for buckets in (1, 4, 16):
        salted = salted_join(
            events, totals, key="user_id", salt_from="event_id", buckets=buckets
        ).select("event_id", "user_id", "n")
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


def test_salted_left_join_keeps_unmatched_rows(spark):
    from billing_etl_v1_spark.operators.skew import salted_join

    events = load_table(spark, SF_SMALL, "events")
    some = events.filter(F.col("user_id") < 5).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = salted_join(events, some, key="user_id", salt_from="event_id", how="left")
    assert out.count() == events.count()
    assert out.filter(F.col("n").isNull()).count() == events.filter(
        F.col("user_id") >= 5
    ).count()


# --- n-grams ----------------------------------------------------------------


def test_top_ngrams_handles_degenerate_docs(spark):
    from billing_etl_v1_spark.operators.text import top_ngrams

    df = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "   "), (4, "a b a b"), (5, "a b c")],
        "doc_id long, text string",
    )
    rows = {r["ngram"]: r["n"] for r in top_ngrams(df, k=10).collect()}
    # blank/single-token docs contribute nothing; counts are corpus-wide
    assert rows == {"a b": 3, "b a": 1, "b c": 1}


# --- round-2 text ops: repetition + decontamination ------------------------


def test_repetition_stats_flags_degenerate_docs(spark):
    from billing_etl_v1_spark.operators.text import repetition_stats

    rows = [
        (1, "spam spam spam spam spam spam", "en", "s"),
        (2, "one two three four five six", "en", "s"),
        (3, "", "en", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    # 6x"spam": 6 words 1 distinct -> 5/6; 5 bigrams 1 distinct -> 4/5
    assert out[1].dup_word_frac == pytest.approx(5 / 6, abs=1e-6)
    assert out[1].dup_2gram_frac == pytest.approx(4 / 5, abs=1e-6)
    assert out[1].is_repetitive
    assert out[2].dup_word_frac == 0.0 and not out[2].is_repetitive
    assert out[3].n_tokens == 0 and out[3].dup_3gram_frac == 0.0


def test_decontaminate_flags_benchmark_overlap(spark):
    from billing_etl_v1_spark.operators.text import decontaminate

    bench = "alpha bravo charlie delta echo"
    rows = [
        (0, f"intro words {bench} closing words", "en", "s"),  # eval slice (0 % 97 == 0)
        (1, f"training doc copying {bench} verbatim here", "en", "s"),
        (2, "completely unrelated training text with no overlap at all", "en", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r.doc_id: r for r in decontaminate(df).collect()}
    assert set(out) == {1, 2}  # eval docs excluded from the output
    assert out[1].is_contaminated and out[1].n_overlap_grams >= 1
    assert not out[2].is_contaminated and out[2].n_overlap_grams == 0


def test_chunk_documents_overlap_and_tail(spark):
    from billing_etl_v1_spark.operators.text import chunk_documents

    words = [f"w{i}" for i in range(10)]
    rows = [(1, " ".join(words), "en", "s"), (2, "", "en", "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = sorted(
        chunk_documents(df, chunk_tokens=4, stride=3).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    # blank doc contributes nothing; 10 tokens, stride 3 -> starts 1,4,7,10
    assert [r.doc_id for r in out] == [1, 1, 1, 1]
    assert [r.chunk_text for r in out] == [
        "w0 w1 w2 w3",        # full chunk
        "w3 w4 w5 w6",        # overlaps previous by chunk-stride = 1 token
        "w6 w7 w8 w9",
        "w9",                 # tail truncates
    ]
    assert [r.n_chunk_tokens for r in out] == [4, 4, 4, 1]
    # every source token is covered
    covered = {w for r in out for w in r.chunk_text.split()}
    assert covered == set(words)


def test_chunk_documents_gap_stride_drops_gap_tokens(spark):
    """stride > chunk_tokens leaves gaps: a gap token belongs to NO chunk.
    Unguarded, Spark's sequence(k_lo, k_hi) with k_lo > k_hi runs
    DESCENDING and assigned each gap token to two wrong chunks (review
    finding) — the slice-form oracle and the old slice implementation
    both drop them."""
    from billing_etl_v1_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6")], "doc_id long, text string"
    )
    out = sorted(
        chunk_documents(df, chunk_tokens=2, stride=4).collect(),
        key=lambda r: r.chunk_idx,
    )
    # chunks span positions [1,2] and [5,6]; t3/t4 sit in the gap
    assert [(r.chunk_idx, r.chunk_text) for r in out] == [
        (0, "t1 t2"),
        (1, "t5 t6"),
    ]


def test_chunk_documents_null_doc_ids_never_merge(spark):
    """Two documents with NULL doc_id must produce NO chunks (the NULL-key
    exclusion), not one interleaved garbage chunk via the (doc_id,
    chunk_idx) reassembly grouping both under NULL (review finding)."""
    from billing_etl_v1_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(None, "a b c"), (None, "x y z"), (7, "p q r")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=8, stride=8).collect()
    assert [(r.doc_id, r.chunk_text) for r in out] == [(7, "p q r")]


def test_winnow_guarantees_shared_fingerprint_for_long_matches(spark):
    """Winnowing's core guarantee: two docs sharing a substring of length
    >= k + window - 1 (here 8+4-1=11 chars) ALWAYS share a fingerprint;
    disjoint-alphabet docs share none."""
    from billing_etl_v1_spark.operators.text import winnow_fingerprints

    shared = "identical run of text preserved verbatim"
    rows = [
        (1, f"left context AAA {shared} right tail one", "en", "s"),
        (2, f"other prefix BBB {shared} different end", "en", "s"),
        (3, "zzzz yyyy xxxx wwww vvvv uuuu tttt", "en", "s"),
        (4, "ab", "en", "s"),  # shorter than k -> no fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    fps: dict[int, set] = {}
    for r in winnow_fingerprints(df).collect():
        fps.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert fps[1] & fps[2], "shared 40-char run must produce a shared fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert 4 not in fps


def test_incremental_minhash_matches_full_batch(spark, docs):
    """The daily-ingest path must find exactly the pairs the full-corpus
    operator finds, restricted to pairs touching the new batch — same
    bands, same signatures, same estimates — while never re-reading the
    old corpus text (it sees only the persisted signature table)."""
    from billing_etl_v1_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    old_docs = docs.filter(F.col("doc_id") % 2 == 0)
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    old_sig = minhash_signatures(old_docs)

    full = {
        frozenset((r.doc_a, r.doc_b)): r.est_jaccard
        for r in minhash_lsh_pairs(docs).collect()
    }
    new_ids = {r.doc_id for r in new_docs.select("doc_id").collect()}
    expected = {p: j for p, j in full.items() if p & new_ids}

    got = {
        frozenset((r.doc_a, r.doc_b)): r.est_jaccard
        for r in minhash_incremental_pairs(new_docs, old_sig).collect()
    }
    assert got == expected
    # doc_a is always the batch side for new-vs-old pairs
    for r in minhash_incremental_pairs(new_docs, old_sig).collect():
        assert r.doc_a in new_ids


def test_bigram_fluency_scores_common_vs_rare(spark):
    from billing_etl_v1_spark.operators.text import bigram_fluency

    rows = [
        (1, "the quick fox", "en", "s"),
        (2, "the quick fox", "en", "s"),      # duplicates doc 1's bigrams
        (3, "zebra quantum yodel", "en", "s"),  # all hapax bigrams
        (4, "one", "en", "s"),                 # no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r.doc_id: r for r in bigram_fluency(df).collect()}
    # docs 1 and 2 share both bigrams -> every bigram has corpus freq 2
    assert out[1].avg_bigram_freq == pytest.approx(2.0)
    assert out[1].hapax_frac == 0.0
    assert out[3].avg_bigram_freq == pytest.approx(1.0)
    assert out[3].hapax_frac == 1.0  # noise doc: all bigrams unique
    assert out[4].n_bigrams == 0 and out[4].avg_bigram_freq == 0.0


def test_semantic_dedup_keeps_first_of_near_dup_chain(spark):
    """Within a cluster, every vector with a smaller-id near-duplicate is
    dropped; exactly one representative (the smallest id) survives a chain
    of mutual near-dups. Orthogonal vectors are all kept."""
    from billing_etl_v1_spark.operators.dedup import semantic_dedup

    rows = [
        # near-dup chain: 0/1/2 all ~parallel -> keep only 0
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [0.998, 0.02, 0.0, 0.0]),
        # orthogonal to the chain -> kept
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r
        for r in semantic_dedup(df, centroid_mod=4, threshold=0.95).collect()
    }
    assert out[0].is_kept and out[3].is_kept
    assert not out[1].is_kept and not out[2].is_kept
    assert out[1].n_dups >= 1 and out[2].n_dups >= 2


def test_quantized_topk_recall_vs_float_baseline(spark):
    """Int8 quantization must preserve neighbor structure: rank-1 neighbors
    agree with the float brute-force baseline for nearly all queries, and
    reconstructed scores sit within the int8 grid error of the true cosine."""
    from billing_etl_v1_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_quantized,
    )
    from billing_etl_v1_spark.sources.readers import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in cosine_topk_bruteforce(emb).collect()
    }
    quant = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in cosine_topk_quantized(emb).collect()
    }
    assert set(q for q, _ in exact) == set(q for q, _ in quant)
    r1_hits = sum(
        1 for key in exact if key[1] == 1 and exact[key][0] == quant[key][0]
    )
    n_queries = len({q for q, _ in exact})
    assert r1_hits >= n_queries - 1  # rank-1 agreement, at most one flip
    for key in exact:
        if key in quant and exact[key][0] == quant[key][0]:
            assert abs(exact[key][1] - quant[key][1]) < 0.02


def test_daily_anomaly_flags_constructed_spike(spark):
    """A flat series with one 10x day: only that day is flagged, and only
    once it has min_days of history."""
    import datetime as dt

    from billing_etl_v1_spark.operators.timeseries import daily_anomaly_flags

    rows = []
    eid = 0
    for d in range(10):
        v = 1000.0 if d == 8 else 10.0
        rows.append(
            (eid, dt.datetime(2024, 1, 1 + d, 12, 0, 0), 1, "click", v, "{}")
        )
        eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r.day.isoformat(): r for r in daily_anomaly_flags(df).collect()}
    assert out["2024-01-09"].is_spike
    assert sum(r.is_spike for r in out.values()) == 1
    # early days lack history -> never flaggable
    assert not out["2024-01-01"].is_spike and not out["2024-01-03"].is_spike


def test_purchase_attribution_last_touch_and_counts(spark):
    import datetime as dt

    from billing_etl_v1_spark.operators.events import purchase_attribution

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    rows = [
        (1, s(0), 7, "view", 1.0, "{}"),
        (2, s(100), 7, "click", 1.0, "{}"),
        (3, s(200), 7, "purchase", 12.34, "{}"),
        # outside the lookback window
        (4, s(200 - 4000), 7, "click", 1.0, "{}"),
        # different user
        (5, s(150), 8, "click", 1.0, "{}"),
        # purchase with no touches
        (6, s(300), 9, "purchase", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r.event_id: r for r in purchase_attribution(df).collect()}
    p = out[3]
    assert (p.n_touches, p.n_click, p.n_view) == (2, 1, 1)
    assert p.last_touch_type == "click" and p.purchase_cents == 1234
    q = out[6]
    assert q.n_touches == 0 and q.last_touch_type is None


def test_scd2_history_gap_and_change_semantics(spark):
    from billing_etl_v1_spark.operators.rules import scd2_history

    cols = (
        "month string, billing_account_id string, project_id string, "
        "service_description string, sku_id string, mode int, discount string, "
        "price string, credit_fields string, customer_id string, contract_id string"
    )
    k = ("A", None, None, None, "C1", "T1")

    def row(month, discount):
        return (month, k[0], k[1], k[2], k[3], 1, discount, None, None, k[4], k[5])

    rows = [
        row("2024-01", "0.9"),
        row("2024-02", "0.9"),   # unchanged, contiguous -> same version
        row("2024-03", "0.8"),   # attribute change -> v2
        row("2024-05", "0.8"),   # month gap -> v3 even though attrs equal
    ]
    df = spark.createDataFrame(rows, cols)
    hist = sorted(scd2_history(df).collect(), key=lambda r: r.version)
    assert [(h.valid_from, h.valid_to, h.n_months) for h in hist] == [
        ("2024-01", "2024-02", 2),
        ("2024-03", "2024-03", 1),
        ("2024-05", "2024-05", 1),
    ]
    assert [h.is_current for h in hist] == [False, False, True]


def test_hard_negatives_exclude_anchor_label(spark):
    """Every mined negative must carry a different label than its anchor,
    ranks are contiguous from 1, and scores are non-increasing."""
    from billing_etl_v1_spark.operators.similarity import hard_negatives
    from billing_etl_v1_spark.sources.readers import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    by_anchor: dict[int, list] = {}
    for r in hard_negatives(emb).collect():
        assert labels[r.negative_id] == r.negative_label != labels[r.anchor_id]
        by_anchor.setdefault(r.anchor_id, []).append(r)
    assert by_anchor
    for rows in by_anchor.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_similarity_pagerank_mass_and_centrality(spark):
    """PageRank invariants on a constructed star graph: total mass ~= 1,
    the hub outranks the leaves, and isolated docs share the dangling
    baseline below every connected node."""
    from billing_etl_v1_spark.operators.dedup import similarity_pagerank

    hub = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, hub, "en", "s"),
        (1, hub + " one", "en", "s"),
        (2, hub + " two", "en", "s"),
        (3, hub + " three", "en", "s"),
        (4, "completely different words nothing shared here at all", "en", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {r.doc_id: r for r in similarity_pagerank(df).collect()}
    total = sum(r.pagerank for r in out.values())
    assert abs(total - 1.0) < 1e-3
    connected = [r for r in out.values() if r.degree > 0]
    assert out[0].doc_id in {r.doc_id for r in connected} and len(connected) >= 3
    assert out[0].pagerank == max(r.pagerank for r in out.values())
    assert out[4].degree == 0
    assert out[4].pagerank < min(r.pagerank for r in connected)


def test_train_split_is_disjoint_exhaustive_and_growth_stable(spark):
    """Every doc lands in exactly one split; adding new docs never migrates
    an existing assignment (the hash-based holdout-boundary property)."""
    from billing_etl_v1_spark.operators.corpus import train_split
    from billing_etl_v1_spark.sources.readers import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    full = {r.doc_id: r.split for r in train_split(docs).collect()}
    assert set(full.values()) <= {"train", "val", "test"}
    assert len(full) == docs.count()
    assert list(full.values()).count("train") > len(full) * 0.9
    # "smaller corpus earlier in time": assignments must be identical
    subset = {r.doc_id: r.split for r in train_split(docs.filter("doc_id < 25")).collect()}
    assert all(full[k] == v for k, v in subset.items())


def test_quadratic_baseline_guards_refuse_large_inputs(spark):
    """Every all-pairs baseline must refuse loudly past max_rows rather
    than silently launching an O(n^2) job."""
    import pytest

    from billing_etl_v1_spark.operators.similarity import (
        cosine_topk_quantized,
        hard_negatives,
    )
    from billing_etl_v1_spark.sources.readers import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    with pytest.raises(ValueError, match="max_rows"):
        cosine_topk_quantized(emb, max_rows=10)
    with pytest.raises(ValueError, match="max_rows"):
        hard_negatives(emb, max_rows=10)


def test_decontaminate_against_external_benchmark(spark):
    """The production path: a separate benchmark frame drives the gram
    set; every corpus doc (including ones that would have been the
    eval slice) gets a verdict, and only true overlaps flag."""
    from billing_etl_v1_spark.operators.text import decontaminate

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon", "en", "b")],
        "doc_id long, text string, lang string, source string",
    )
    corpus = spark.createDataFrame(
        [
            (0, "prefix alpha beta gamma delta epsilon suffix", "en", "s"),
            (1, "totally unrelated words that never match anything here", "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r.doc_id: r for r in decontaminate(corpus, eval_docs=bench).collect()}
    assert set(out) == {0, 1}  # doc_id 0 is NOT dropped as an eval slice
    assert out[0].is_contaminated and out[0].n_overlap_grams >= 1
    assert not out[1].is_contaminated and out[1].n_overlap_grams == 0


def test_pack_blocks_cuts_exact_blocks_across_doc_boundaries(spark):
    """GPT-style packing invariants: every block but the last holds exactly
    block_tokens tokens, the concatenation of blocks equals the
    concatenation of documents along the deterministic order, and at
    least one document is split across a boundary."""
    from billing_etl_v1_spark.operators.corpus import (
        _global_token_offsets,
        pack_blocks,
    )

    rows = [(i, " ".join(f"d{i}w{j}" for j in range(n)), "en", "s")
            for i, n in enumerate([3, 7, 2, 6, 4])]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    B = 5
    blocks = sorted(pack_blocks(df, block_tokens=B).collect(), key=lambda r: r.block_id)
    total = sum(r.n_tokens for r in blocks)
    assert total == 22
    assert [r.n_tokens for r in blocks[:-1]] == [B] * (len(blocks) - 1)
    assert blocks[-1].n_tokens == total - B * (len(blocks) - 1)
    # stream equality against the offset order
    offs = sorted(
        _global_token_offsets(df, "doc_id", "text", "pack").collect(),
        key=lambda r: r["__start"],
    )
    texts = {r.doc_id: r.text for r in df.collect()}
    want = " ".join(texts[r.doc_id].lower() for r in offs)
    got = " ".join(r.block_text for r in blocks)
    assert got == want
    assert any(r.n_docs >= 2 for r in blocks)  # boundaries crossed


# --- memo layer posture (VERDICT r3 item 7) --------------------------------


def test_memo_semantic_hash_collision_cannot_cross_serve(spark):
    """A registry entry whose 32-bit semanticHash collides with a DIFFERENT
    plan must not be served: the sameResult confirmation has to reject it,
    evict the colliding entry, and persist the requested plan. Simulated by
    injecting dfA's cached relation under dfB's key."""
    from billing_etl_v1_spark.operators import _memo

    registry: _memo.Registry = {}
    df_a = spark.range(10).withColumn("v", F.lit("a"))
    df_b = spark.range(20).withColumn("v", F.lit("b"))
    cached_a = _memo.memo_persist(df_a, registry)
    assert cached_a.count() == 10

    key_b = (id(spark), df_b._jdf.queryExecution().analyzed().semanticHash())
    plan_a = df_a._jdf.queryExecution().analyzed()
    registry[key_b] = (plan_a, cached_a)  # forged collision

    served = _memo.memo_persist(df_b, registry)
    assert served is not cached_a
    assert served.count() == 20
    assert [r.v for r in served.take(1)] == ["b"]
    # the forged entry was replaced by the genuine one
    plan, stored = registry[key_b]
    assert stored is served and plan.sameResult(df_b._jdf.queryExecution().analyzed())
    _memo.release(registry)


def test_memo_release_leaves_no_cached_relations(spark):
    """release() must drop every materialized block the registry pinned:
    the executor-storage listing returns to its pre-memo baseline (other
    fixtures' caches excluded by counting relative to it)."""
    from billing_etl_v1_spark.operators import _memo

    def n_cached_rdds():
        return len(
            [
                i
                for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
                if i.numCachedPartitions() > 0
            ]
        )

    baseline = n_cached_rdds()
    registry: _memo.Registry = {}
    a = _memo.memo_persist(spark.range(100).withColumn("x", F.col("id") * 2), registry)
    b = _memo.memo_persist(spark.range(200).withColumn("y", F.col("id") + 1), registry)
    a.count(), b.count()  # materialize the cached blocks
    assert n_cached_rdds() >= baseline + 2
    assert _memo.release(registry, spark) == 2
    assert registry == {}
    assert n_cached_rdds() == baseline


def test_named_release_wrappers_drop_their_caches(spark):
    """release_corpus_cache / release_vector_cache (the public twins of
    dedup.release_signature_cache) must actually unpersist what their
    operators memoized — a long-lived session that interleaves corpus
    builds and kmeans sweeps relies on these to bound executor storage."""
    from billing_etl_v1_spark.operators import corpus as corpus_ops
    from billing_etl_v1_spark.operators import similarity as sim_ops
    from billing_etl_v1_spark.sources.readers import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    emb = load_table(spark, SF_SMALL, "embeddings")

    corpus_ops.training_corpus(docs).count()
    assert len(corpus_ops._CORPUS_CACHE) > 0
    assert corpus_ops.release_corpus_cache(spark) > 0
    assert corpus_ops._CORPUS_CACHE == {}

    sim_ops.kmeans_refine(emb).count()
    assert len(sim_ops._VEC_CACHE) > 0
    assert sim_ops.release_vector_cache(spark) > 0
    assert sim_ops._VEC_CACHE == {}

    from billing_etl_v1_spark.operators import intervals as interval_ops

    events = load_table(spark, SF_SMALL, "events")
    interval_ops.session_concurrency(events).count()
    assert len(interval_ops._NET_CACHE) > 0
    assert interval_ops.release_boundary_cache(spark) > 0
    assert interval_ops._NET_CACHE == {}

    from billing_etl_v1_spark.operators import events as event_ops

    event_ops.value_deciles(events).count()
    assert len(event_ops._RANK_CACHE) > 0
    assert event_ops.release_rank_cache(spark) > 0
    assert event_ops._RANK_CACHE == {}


def test_multimodal_ops_null_payloads_propagate_not_crash(spark):
    """A missing/corrupt blob is a NULL payload — routine at 100 TB, and it
    must flow through the Arrow UDFs as NULL output (features/resize) or
    zero frames (sampler), never kill the Python worker (len(None) did,
    round 5). NULL semantics are mirrored in the DuckDB twins and verified
    bit-exact on a NULL-bearing corpus."""
    from billing_etl_v1_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(0, "hello world payload"), (1, None), (2, "x")], "doc_id long, text string"
    )
    payloads = mm.attach_payload(docs)

    feats = {r.doc_id: r for r in mm.extract_features(payloads, fake=True).collect()}
    assert feats[1].byte_len is None and feats[1].features is None
    assert feats[0].byte_len == 19 and len(feats[0].features) == mm.FEATURE_DIM

    resized = {r.doc_id: r for r in mm.resize_payload(payloads, target_len=8).collect()}
    assert resized[1].orig_len is None and resized[1].resized is None
    assert resized[1].resized_len is None
    assert resized[2].resized == b"x"

    frames = mm.sample_frames(payloads, frame_size=4, every_n=1).collect()
    assert {r.doc_id for r in frames} == {0, 2}  # NULL doc yields no frames


def test_minhash_linear_on_pathological_long_doc(spark):
    """One degenerate multi-hundred-kilotoken document must not stall the
    MinHash family. Round 5 found word_shingles re-tokenizing the whole
    document once PER SHINGLE POSITION (a free sub-expression inside an
    interpreted HOF lambda — the docs_chunk trap) and minhash_signatures
    recomputing the entire shingle pass once per signature component
    (projection collapse over chained selects): a single 400k-token doc
    hung >300s. The fixed path (_bind_once + explode-to-rows min-agg)
    does it in seconds; at the O(len^2) complexity this 60k-token doc
    alone would run for minutes and trip the suite as a hang."""
    from billing_etl_v1_spark.operators.dedup import minhash_lsh_pairs

    words = " ".join(f"w{i % 997}" for i in range(60_000))
    docs = spark.createDataFrame(
        [(0, words), (1, words + " tail shift"), (2, "tiny doc")],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in minhash_lsh_pairs(docs).collect()}
    # near-identical giants must be caught as a candidate pair
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.5


def test_bpe_sequences_linear_on_pathological_long_doc(spark):
    """One multi-hundred-kiloword document must not stall the token-id
    sequence / pack-blocks path (the per-position probe the verify
    playbook prescribes for every new text op — the O(len²) traps all
    only showed past toy scale). The plan's per-position work is rows
    (posexplode + a word-level window + joins), never an interpreted HOF
    over a long array, so this 60k-word doc runs in seconds; a quadratic
    regression would trip the suite as a hang. Also re-proves positions:
    the giant doc's sequence is dense 0..n-1."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    words = " ".join(f"w{i % 997}" for i in range(60_000))
    docs = spark.createDataFrame(
        [(0, words), (1, "tiny doc")], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(docs, num_merges=2, level="byte")
    ids_df = bpe_ops.bpe_token_ids(merges, vocab, level="byte")
    seq = bpe_ops.bpe_token_sequences(docs, vocab, ids_df, level="byte")
    packed = bpe_ops.bpe_pack_blocks(seq, block_tokens=1024)
    stats = packed.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("block_id").alias("blocks"),
    ).first()
    n_giant = (
        seq.filter(F.col("doc_id") == 0)
        .agg(F.count(F.lit(1)), F.min("pos"), F.max("pos"))
        .first()
    )
    assert n_giant[0] > 100_000  # byte-level splits 'w123' into runs
    assert (n_giant[1], n_giant[2]) == (0, n_giant[0] - 1), "dense positions"
    assert stats.blocks == -(-stats.n // 1024)
    bpe_ops.release_bpe_cache(spark)


def test_json_props_survives_malformed_props_bit_identical(spark):
    """One malformed props document or one non-numeric k must not kill
    the job (round 5: ANSI CAST_INVALID_INPUT on Spark, Invalid Input
    Error from DuckDB's json_extract_string) and both engines must agree
    on every edge the fix pins down — notably fractional k, where a bare
    DuckDB '3.7'::INTEGER ROUNDS to 4 while Spark's try_cast NULLs it;
    the shared ^-?[0-9]+$ gate makes both NULL."""
    import duckdb
    import pandas as pd

    import billing_etl_v1_spark.oracle_ext as ox
    from billing_etl_v1_spark.operators import events as ev
    from tests.conftest import normalize

    rows = [
        (1, "click", '{"k":3}'), (2, "click", '{"k":"abc"}'),
        (3, "view", "not-json{"), (4, "view", None), (5, "view", '{"j":9}'),
        (6, "view", '{"k":"3.7"}'), (7, "scroll", '{"k":3.9}'),
        (8, "scroll", "7"), (9, "scroll", '{"k":null}'),
        (10, "scroll", '{"k":-12}'), (11, "scroll", "[1,2]"), (12, "scroll", '""'),
        (13, "tap", '{"k":99999999999999999999}'), (14, "tap", '{"k":true}'),
        (15, "tap", '{"k":"007"}'), (16, "tap", '{"k":[1]}'),
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, props string")
    s = normalize(ev.json_props_agg(df).toPandas())
    con = duckdb.connect()
    con.register("events", pd.DataFrame(rows, columns=["event_id", "event_type", "props"]))
    d = normalize(con.execute(ox.json_props_sql()).df())
    pd.testing.assert_frame_equal(s, d, check_dtype=False)


# --- tokenizer-exact BPE (operators/bpe.py) -------------------------------


def _naive_bpe(texts: list[str], num_merges: int, max_word_len: int = 256):
    """Reference implementation of Sennrich et al. BPE: per-position pair
    counting (overlaps counted), deterministic argmax (max count, then
    smallest (left, right) by UTF-8 byte order), sequential greedy
    left-to-right non-overlapping replacement. Pre-tokens longer than
    max_word_len codepoints bypass merging (the operator's cap)."""
    import re
    from collections import Counter

    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE as pre_re
    wf = Counter(w for t in texts for w in re.findall(pre_re, t))
    vocab = {w: list(w) for w in wf}
    capped = {w for w in wf if len(w) > max_word_len}
    merges = []
    for rank in range(num_merges):
        pc = Counter()
        for w, syms in vocab.items():
            if w in capped:
                continue
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        mx = max(pc.values())
        a, b = min(
            (p for p, c in pc.items() if c == mx),
            key=lambda p: (p[0].encode(), p[1].encode()),
        )
        merges.append((rank, a, b, a + b, mx))
        for w, syms in vocab.items():
            if w in capped:
                continue
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab, wf


def _spark_bpe(spark, texts: list[str], num_merges: int):
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(df, num_merges=num_merges)
    got_m = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in merges.orderBy("merge_rank").collect()
    ]
    got_v = {r["word"]: list(r["tokens"]) for r in vocab.collect()}
    return df, got_m, got_v


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab1 .'", min_size=0, max_size=24), min_size=0, max_size=6
    ),
    num_merges=st.integers(min_value=0, max_value=6),
)
def test_bpe_matches_naive_reference(spark, texts, num_merges):
    """The trainer must agree with the sequential reference on
    adversarially small alphabets — "ab1 .'" forces count ties (byte-order
    tie-break), a==b chain runs ('aaaa'), digit/symbol pre-token splits,
    and fully-merged-early vocabularies within the merge budget; the
    random corpora reach the incremental pair-count/heap machinery's
    stale-entry and count-revert paths, which fixed cases do not."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    exp_m, exp_v, _ = _naive_bpe(texts, num_merges)
    df, got_m, got_v = _spark_bpe(spark, texts, num_merges)
    assert got_m == exp_m
    assert got_v == exp_v

    import re

    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE as pre_re
    got_tc = {
        r["doc_id"]: (r["n_pretokens"], r["n_bpe_tokens"])
        for r in bpe_ops.bpe_token_counts(df, num_merges=num_merges).collect()
    }
    exp_tc = {
        i: (
            len(re.findall(pre_re, t)),
            sum(len(exp_v[w]) for w in re.findall(pre_re, t)),
        )
        for i, t in enumerate(texts)
    }
    assert got_tc == exp_tc


@pytest.mark.parametrize(
    "texts,level,num_merges,cap",
    [
        (["aaabab banana aab .12 ab1", "banana aaabab aaaa"], "char", 6, 256),
        (["the cat's café 日本 the cat", "café 日本語 the"], "byte", 6, 256),
        (["a" * 20 + " the mat the", "the cat"], "char", 4, 8),  # cap lane
        (["ab ab", "ab"], "char", 10, 256),  # early stop before budget
        # astral plane: U+1D54F / U+1F642 are one codepoint (two UTF-16
        # units) each — the classic Python-vs-JVM divergence point
        (["a\U0001d54f\U0001f642b \U0001d54f\U0001f642 banana"], "char", 4, 256),
    ],
    ids=["ties-chains", "byte-multibyte", "cap8", "early-stop", "astral"],
)
def test_bpe_edge_corpora_match_naive_reference(spark, texts, level, num_merges, cap):
    """Corpora engineered to stress one behaviour each — count ties and
    a==b chains, multibyte bytes with a contraction, the over-cap bypass,
    the early full-merge stop, astral-plane codepoints — must give the
    sequential reference's merges, vocabulary and per-doc counts."""
    import re

    from billing_etl_v1_spark.operators import bpe as bpe_ops
    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE

    if level == "char":
        pre_re = BPE_TOKEN_RE
        exp_m, exp_v, _ = _naive_bpe(texts, num_merges, max_word_len=cap)
    else:
        pre_re = _py_byte_pre_re("a-zA-Zé日本語", "0-9")
        exp_m, exp_v, _ = _naive_bpe_byte(texts, num_merges, cap, pre_re=pre_re)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(
        df, num_merges=num_merges, max_word_len=cap, level=level
    )
    assert [tuple(r) for r in merges.orderBy("merge_rank").collect()] == exp_m
    assert {r.word: list(r.tokens) for r in vocab.collect()} == exp_v
    got_tc = {
        r.doc_id: (r.n_pretokens, r.n_bpe_tokens)
        for r in bpe_ops.bpe_token_counts(
            df, num_merges=num_merges, max_word_len=cap, level=level
        ).collect()
    }
    assert got_tc == {
        i: (len(re.findall(pre_re, t)), sum(len(exp_v[w]) for w in re.findall(pre_re, t)))
        for i, t in enumerate(texts)
    }
    bpe_ops.release_bpe_cache(spark)


def test_bpe_greedy_chain_resolves_left_to_right(spark):
    """'aaaa' under merge (a,a) must become [aa, aa] and 'aaa' [aa, a] —
    the overlap case where a fencepost bug in either engine's replacement
    (or a non-greedy formulation) diverges first."""
    _, got_m, got_v = _spark_bpe(spark, ["aaaa aaa aaaa"], 1)
    # pair (a,a): 'aaaa' holds 3 overlapping positions × corpus freq 2,
    # 'aaa' holds 2 × freq 1 → 8 (Sennrich counting)
    assert got_m == [(0, "a", "a", "aa", 8)]
    assert got_v == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"]}


def test_bpe_chain_parity_survives_renumbering(spark):
    """Round 2+ chains are where sparse-position parity breaks: after
    (a,a) → aa the survivors of 'aaaaaa' sat at positions 0/2/4, and an
    even-GAP parity test marked every (aa,aa) match a start, collapsing
    the word to ['aaaa'] instead of ['aaaa','aa'] (caught by the naive
    reference; positions are now renumbered densely per round)."""
    exp_m, exp_v, _ = _naive_bpe(["aaaaaa aaaaaaaaaa"], 2)
    _, got_m, got_v = _spark_bpe(spark, ["aaaaaa aaaaaaaaaa"], 2)
    assert got_m == exp_m
    assert got_v == exp_v
    assert got_v["aaaaaa"] == ["aaaa", "aa"]
    assert got_v["aaaaaaaaaa"] == ["aaaa", "aaaa", "aa"]


def test_bpe_word_len_cap_matches_naive_and_oracle(spark):
    """Pre-tokens over max_word_len codepoints must bypass merging on all
    THREE implementations (Spark loop, DuckDB unrolled CTEs, sequential
    reference): excluded from pair counts, encoded one token per
    codepoint. The cap is what keeps a base64/DNA monster word from
    costing O(len²) in the position loop."""
    import duckdb

    from billing_etl_v1_spark import oracle_ext
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    texts = ["the cat the", "a" * 20 + " the mat"]
    exp_m, exp_v, _ = _naive_bpe(texts, 3, max_word_len=8)
    assert exp_v["a" * 20] == list("a" * 20), "cap must bypass the monster"
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(df, num_merges=3, max_word_len=8)
    got_m = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in merges.orderBy("merge_rank").collect()
    ]
    got_v = {r["word"]: list(r["tokens"]) for r in vocab.collect()}
    assert got_m == exp_m
    assert got_v == exp_v
    assert all(a != "a" or b != "a" for _, a, b, _, _ in got_m), (
        "the monster's (a,a) pairs must not reach the merge table"
    )

    spark_tc = {
        r["doc_id"]: (r["n_pretokens"], r["n_bpe_tokens"])
        for r in bpe_ops.bpe_token_counts(df, num_merges=3, max_word_len=8).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    duck_tc = {
        int(r[0]): (int(r[1]), int(r[2]))
        for r in con.execute(
            oracle_ext.bpe_token_counts_sql(3, max_word_len=8)
        ).fetchall()
    }
    assert spark_tc == duck_tc
    duck_m = [
        (int(r[0]), r[1], r[2], r[3], int(r[4]))
        for r in con.execute(oracle_ext.bpe_merges_sql(3, max_word_len=8)).fetchall()
    ]
    assert sorted(duck_m) == got_m


# --- byte-level (GPT-2-lineage) BPE mode -----------------------------------

# explicit Python twin of BPE_BYTE_TOKEN_RE for the test alphabets below:
# Python's re has no \p{L}/\p{N}, so letter/digit classes are spelled out
# for exactly the characters the tests generate (contraction alternatives,
# optional-leading-space runs, explicit whitespace class — same shape)
def _py_byte_pre_re(letters: str, digits: str = "0-9") -> str:
    ws = " \\t\\n\\f\\r\\x0b"
    return (
        f"'(?:s|t|re|ve|m|ll|d)"
        f"| ?[{letters}]+| ?[{digits}]+"
        f"| ?[^{ws}{letters}{digits}]+"
        f"|[{ws}]+"
    )


_BYTE_TEST_ALPHABET = "ab1 .'é日\x0b"
_BYTE_TEST_PRE_RE = _py_byte_pre_re("abé日", "1")


def _hex_syms(word: str) -> list[str]:
    return ["%02X" % b for b in word.encode("utf-8")]


def _naive_bpe_byte(texts, num_merges: int, max_word_len: int = 256, pre_re=None):
    """Sequential byte-level reference: GPT-2-style pre-tokenization, UTF-8
    bytes as initial symbols (uppercase hex pairs — the engine's symbol
    representation), then the identical Sennrich merge loop; the cap
    counts BYTES."""
    import re
    from collections import Counter

    pre_re = pre_re or _BYTE_TEST_PRE_RE
    wf = Counter(w for t in texts for w in re.findall(pre_re, t))
    vocab = {w: _hex_syms(w) for w in wf}
    capped = {w for w in wf if len(vocab[w]) > max_word_len}
    merges = []
    for rank in range(num_merges):
        pc = Counter()
        for w, syms in vocab.items():
            if w in capped:
                continue
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        mx = max(pc.values())
        a, b = min(
            (p for p, c in pc.items() if c == mx),
            key=lambda p: (p[0].encode(), p[1].encode()),
        )
        merges.append((rank, a, b, a + b, mx))
        for w, syms in vocab.items():
            if w in capped:
                continue
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab, wf


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.text(alphabet=_BYTE_TEST_ALPHABET, min_size=0, max_size=20),
        min_size=0,
        max_size=5,
    ),
    num_merges=st.integers(min_value=0, max_value=4),
)
def test_byte_bpe_matches_naive_reference(spark, texts, num_merges):
    """The byte-level trainer must agree with the sequential byte-level
    reference — the alphabet forces multibyte symbols (é = 2 bytes,
    日 = 3), apostrophes (contraction-alternative boundaries), the \\x0b
    whitespace edge, and count ties broken by hex-string byte order."""
    import re

    from billing_etl_v1_spark.operators import bpe as bpe_ops

    exp_m, exp_v, _ = _naive_bpe_byte(texts, num_merges)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(df, num_merges=num_merges, level="byte")
    got_m = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in merges.orderBy("merge_rank").collect()
    ]
    got_v = {r["word"]: list(r["tokens"]) for r in vocab.collect()}
    assert got_m == exp_m
    assert got_v == exp_v

    got_tc = {
        r["doc_id"]: (r["n_pretokens"], r["n_bpe_tokens"])
        for r in bpe_ops.bpe_token_counts(
            df, num_merges=num_merges, level="byte"
        ).collect()
    }
    exp_tc = {
        i: (
            len(re.findall(_BYTE_TEST_PRE_RE, t)),
            sum(len(exp_v[w]) for w in re.findall(_BYTE_TEST_PRE_RE, t)),
        )
        for i, t in enumerate(texts)
    }
    assert got_tc == exp_tc
    bpe_ops.release_bpe_cache(spark)


def test_byte_bpe_cap_counts_bytes_not_codepoints(spark):
    """In byte mode max_word_len caps BYTES: 'ééééé' is 5 codepoints but
    10 bytes, so a cap of 8 must bypass it (one token per BYTE) while the
    8-byte 'aaaaaaaa' still merges — the exact place a codepoint-counting
    bug would hide. The DuckDB twin must agree."""
    import duckdb

    from billing_etl_v1_spark import oracle_ext
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    texts = ["aaaaaaaa ééééé", "aaaaaaaa"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(
        df, num_merges=2, max_word_len=8, level="byte"
    )
    got_v = {r["word"]: list(r["tokens"]) for r in vocab.collect()}
    # ' ééééé' is 6 codepoints but 11 UTF-8 bytes — over the 8-BYTE cap,
    # so it must bypass (a codepoint-counting bug would merge it)
    assert got_v[" ééééé"] == _hex_syms(" ééééé")
    # 'aaaaaaaa' (8 bytes, at cap) must merge
    assert len(got_v["aaaaaaaa"]) < 8

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    duck_m = [
        (int(r[0]), r[1], r[2], r[3], int(r[4]))
        for r in con.execute(
            oracle_ext.bpe_merges_sql(2, max_word_len=8, level="byte")
        ).fetchall()
    ]
    got_m = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in merges.orderBy("merge_rank").collect()
    ]
    assert sorted(duck_m) == got_m
    bpe_ops.release_bpe_cache(spark)


def test_byte_bpe_serving_and_artifact_roundtrip(spark, tmp_path):
    """Byte-level serving: a persisted byte tokenizer must round-trip its
    level and serve novel docs (including multibyte words novel to the
    vocabulary) identically to the in-memory one, via the level-threaded
    encode path."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    train = spark.createDataFrame(
        [(0, "the cat café"), (1, "the café 日本 cat")], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(train, num_merges=4, level="byte")
    tok = str(tmp_path / "btok")
    bpe_ops.save_bpe(merges, vocab, tok, max_word_len=256, level="byte")
    m2, v2, cap2, level2 = bpe_ops.load_bpe(spark, tok)
    assert (cap2, level2) == (256, "byte")
    new_df = spark.createDataFrame(
        [(0, "the caté 日本語 naïve"), (1, "")], "doc_id long, text string"
    )
    got = sorted(
        map(
            tuple,
            bpe_ops.bpe_encode(
                new_df, m2, v2, max_word_len=cap2, level=level2
            ).collect(),
        )
    )
    exp = sorted(
        map(
            tuple,
            bpe_ops.bpe_encode(
                new_df, merges, vocab, max_word_len=256, level="byte"
            ).collect(),
        )
    )
    assert got == exp and len(got) == 2
    bpe_ops.release_bpe_cache(spark)


def test_bpe_token_ids_convention(spark):
    """The exported token-id table follows the GPT-2 lineage convention:
    byte level — ids 0..255 are the FIXED byte alphabet plus merges at
    256+rank; char level — ids 0..n-1 are the observed initial codepoints
    in UTF-8-byte string order plus merges at n+rank. Ids must be dense,
    unique, and stable under the two-phase distributed rank."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    df = spark.createDataFrame(
        [(0, "the cat café"), (1, "the café cat 日本")], "doc_id long, text string"
    )
    # char
    merges, vocab = bpe_ops.bpe_learn(df, num_merges=3)
    ids = {r.token: (r.token_id, r.source) for r in
           bpe_ops.bpe_token_ids(merges, vocab).collect()}
    base = sorted([t for t, (_, s) in ids.items() if s == "base"])
    assert [ids[t][0] for t in base] == list(range(len(base))), (
        "char base ids must be dense ranks in string order"
    )
    got_m = {r.merged: r.merge_rank for r in merges.collect()}
    for tok, rank in got_m.items():
        assert ids[tok] == (len(base) + rank, "merge")
    assert len(set(i for i, _ in ids.values())) == len(ids), "ids unique"
    # byte: fixed 256-base regardless of corpus
    bm, bv = bpe_ops.bpe_learn(df, num_merges=3, level="byte")
    bids = {r.token: (r.token_id, r.source) for r in
            bpe_ops.bpe_token_ids(bm, bv, level="byte").collect()}
    assert bids["00"] == (0, "base") and bids["FF"] == (255, "base")
    assert sum(1 for _, s in bids.values() if s == "base") == 256
    for r in bm.collect():
        assert bids[r.merged] == (256 + r.merge_rank, "merge")
    bpe_ops.release_bpe_cache(spark)


def test_bpe_token_sequences_match_naive_reference(spark):
    """Per-document token-id sequences must equal the sequential
    reconstruction: pre-tokenize in order, concatenate each word's trained
    token array, map through the id table — positions dense from 0, ids
    per the GPT-2 convention. Byte level, multibyte + contraction input."""
    import re

    from billing_etl_v1_spark.operators import bpe as bpe_ops

    texts = ["the cat's café", "日本 the the cat", ""]
    exp_m, exp_v, _ = _naive_bpe_byte(
        texts, 4, pre_re=_py_byte_pre_re("a-zA-Zéü日本", "0-9")
    )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(df, num_merges=4, level="byte")
    ids_df = bpe_ops.bpe_token_ids(merges, vocab, level="byte")
    id_of = {r.token: r.token_id for r in ids_df.collect()}
    got = sorted(
        (r.doc_id, r.pos, r.token, r.token_id)
        for r in bpe_ops.bpe_token_sequences(
            df, vocab, ids_df, level="byte"
        ).collect()
    )
    pre_re = _py_byte_pre_re("a-zA-Zéü日本", "0-9")
    exp = []
    for i, t in enumerate(texts):
        pos = 0
        for w in re.findall(pre_re, t):
            for tok in exp_v[w]:
                exp.append((i, pos, tok, id_of[tok]))
                pos += 1
    assert got == sorted(exp) and len(got) > 0
    bpe_ops.release_bpe_cache(spark)


def test_bpe_token_sequences_null_and_empty_text(spark):
    """NULL-text and empty-text documents contribute ZERO sequence rows
    (regexp over NULL propagates NULL, posexplode drops it — identical in
    the DuckDB twin via unnest(range(0, len(NULL)))), and non-NULL docs in
    the same batch are unaffected — the NULL-text corpus-killer lane from
    r5, applied to the new sequence op."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    df = spark.createDataFrame(
        [(0, "the cat"), (1, None), (2, "")], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(df, num_merges=2, level="byte")
    ids_df = bpe_ops.bpe_token_ids(merges, vocab, level="byte")
    rows = bpe_ops.bpe_token_sequences(df, vocab, ids_df, level="byte").collect()
    assert {r.doc_id for r in rows} == {0}
    assert sorted(r.pos for r in rows) == list(range(len(rows))) and rows
    bpe_ops.release_bpe_cache(spark)


def test_bpe_pack_blocks_cuts_exact_boundaries(spark):
    """Packed training blocks: blocks are full except the last, offsets
    are dense 0..block-1, documents CROSS block boundaries (standard GPT
    packing, no padding), and concatenating blocks in order reproduces
    the per-doc sequences in (doc_id, pos) order exactly."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    df = spark.createDataFrame(
        [(0, "the cat sat"), (1, "on the mat"), (2, "cat cat")],
        "doc_id long, text string",
    )
    merges, vocab = bpe_ops.bpe_learn(df, num_merges=3, level="byte")
    ids_df = bpe_ops.bpe_token_ids(merges, vocab, level="byte")
    seq = bpe_ops.bpe_token_sequences(df, vocab, ids_df, level="byte")
    flat = [
        r.token_id
        for r in seq.orderBy("doc_id", "pos").collect()
    ]
    block = 5
    got = bpe_ops.bpe_pack_blocks(seq, block_tokens=block).collect()
    n = len(flat)
    assert len(got) == n
    by_block: dict[int, dict[int, int]] = {}
    for r in got:
        by_block.setdefault(r.block_id, {})[r.offset] = r.token_id
    n_blocks = -(-n // block)
    assert sorted(by_block) == list(range(n_blocks))
    rebuilt = []
    for b in range(n_blocks):
        offs = by_block[b]
        want_len = block if b < n_blocks - 1 else n - block * (n_blocks - 1)
        assert sorted(offs) == list(range(want_len)), "dense offsets"
        rebuilt.extend(offs[o] for o in range(want_len))
    assert rebuilt == flat, "block concatenation must reproduce the stream"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="block_tokens"):
        bpe_ops.bpe_pack_blocks(seq, block_tokens=0)
    bpe_ops.release_bpe_cache(spark)


def test_bpe_fertility_ratios_and_zero_denominators(spark):
    """Fertility: per-group totals are exact integers; ratios are
    quantized; a group whose docs have NO pre-tokens (NULL/whitespace
    text) reports NULL ratios instead of an ANSI divide-by-zero job kill;
    byte totals count UTF-8 bytes, not codepoints. DuckDB twin must agree
    on the same poisoned corpus."""
    import duckdb

    from billing_etl_v1_spark import oracle_ext
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    rows = [
        (0, "the cat", "en"),
        (1, "café 日本", "xx"),
        # group zz has zero pre-tokens: NULL and EMPTY text only (unlike
        # char mode, byte-level whitespace IS a pre-token — GPT-2 keeps
        # space runs — so whitespace-only text would NOT qualify here)
        (2, None, "zz"),
        (3, "", "zz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.lang: tuple(r)[1:]
        for r in bpe_ops.bpe_fertility(df, num_merges=2, level="byte").collect()
    }
    assert got["zz"][3] == 0 and got["zz"][4] is None and got["zz"][5] is None
    assert got["xx"][1] == len("café 日本".encode("utf-8"))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    duck = {
        r[0]: tuple(r)[1:]
        for r in con.execute(
            oracle_ext.bpe_fertility_sql(num_merges=2, level="byte")
        ).fetchall()
    }
    assert duck == got
    bpe_ops.release_bpe_cache(spark)


def test_dsir_importance_prefers_target_like_docs(spark):
    """DSIR log-likelihood-ratio weights: documents sharing the target
    domain's n-grams must score HIGHER than off-domain documents; a doc
    with no features (short/NULL text) scores exactly 0.0; the DuckDB
    twin agrees value-for-value on the same corpus."""
    import duckdb

    from billing_etl_v1_spark import oracle_ext
    from billing_etl_v1_spark.operators import corpus as corpus_ops

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox sleeps", "en"),
        (2, "der schnelle braune fuchs springt", "de"),
        (3, "quick brown fox over the lazy dog again", "de"),  # en-LIKE text
        (4, "völlig anderes vokabular hier drüben heute", "de"),
        (5, "tiny", "de"),  # 1 token < bigram n -> no features
        (6, None, "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: (r.n_feats, r.importance)
        for r in corpus_ops.dsir_importance(
            docs, docs.filter(F.col("lang") == "en")
        ).collect()
    }
    assert got[5] == (0, 0.0) and got[6] == (0, 0.0)
    # the en-like de doc must outscore the genuinely-foreign de doc
    assert got[3][1] > got[4][1]
    # and target members outscore the foreign doc too
    assert min(got[0][1], got[1][1]) > got[4][1]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    duck = {
        int(r[0]): (int(r[1]), float(r[2]))
        for r in con.execute(oracle_ext.dsir_importance_sql()).fetchall()
    }
    assert duck == {k: (v[0], float(v[1])) for k, v in got.items()}


def test_dsir_importance_matches_python_reference(spark):
    """Third independent implementation: a sequential pure-Python DSIR
    (hashlib md5 buckets, Counter distributions, math.log) must reproduce
    the engine's importance weights to the quantize grid — guards the
    smoothing arithmetic and the hash/bucket convention against a
    mirrored-but-wrong twin pair."""
    import hashlib
    import math
    from collections import Counter

    from billing_etl_v1_spark.operators import corpus as corpus_ops

    rows = [
        (0, "alpha beta gamma alpha beta", "t"),
        (1, "alpha beta delta epsilon", "t"),
        (2, "zeta eta theta iota kappa", "r"),
        (3, "alpha beta gamma zeta", "r"),
        (4, "", "r"),
    ]
    B, ALPHA, N = 64, 1.0, 2
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: (r.n_feats, r.importance)
        for r in corpus_ops.dsir_importance(
            docs,
            docs.filter(F.col("lang") == "t"),
            num_buckets=B,
            alpha=ALPHA,
            n=N,
        ).collect()
    }

    def buckets(text):
        toks = text.strip().lower().split()
        grams = [" ".join(toks[i : i + N]) for i in range(len(toks) - N + 1)]
        return [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B for g in grams
        ]

    tf = Counter(b for i, t, lang in rows if lang == "t" for b in buckets(t))
    rf = Counter(b for i, t, _ in rows for b in buckets(t))
    T, R = sum(tf.values()), sum(rf.values())
    for doc_id, text, _ in rows:
        fs = buckets(text)
        imp = sum(
            math.log(tf.get(b, 0) + ALPHA)
            - math.log(T + ALPHA * B)
            - math.log(rf[b] + ALPHA)
            + math.log(R + ALPHA * B)
            for b in fs
        )
        assert got[doc_id][0] == len(fs)
        assert abs(got[doc_id][1] - imp) < 1e-6, (doc_id, got[doc_id][1], imp)


def test_corpus_dq_audit_counts_poison_classes(spark):
    """The corpus DQ gate must count each poison class on a deliberately
    poisoned corpus — and agree with the DuckDB twin on the SAME rows
    (the driver corpus is clean, so its hash-match alone never exercises
    nonzero counts)."""
    import duckdb

    from billing_etl_v1_spark import oracle_ext
    from billing_etl_v1_spark.operators.text import corpus_dq_audit

    rows = [
        (1, "good doc"),
        (1, "duplicate id"),        # duplicate_doc_id_rows
        (2, None),                  # null_text_rows
        (None, "orphan"),           # null_doc_id_rows
        (None, None),               # null id AND null text: both counts
        (3, ""),                    # empty_text_rows
        (4, " \t\x0b\n"),           # whitespace_only_rows
        (5, "fine"),
        (5, "fine"),                # duplicate again (same id twice more?)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.check: r.violations for r in corpus_dq_audit(df).collect()}
    assert got == {
        "null_doc_id_rows": 2,
        "duplicate_doc_id_rows": 2,  # 7 non-null rows over 5 distinct ids
        "null_text_rows": 2,
        "empty_text_rows": 1,
        "whitespace_only_rows": 1,
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    duck = {r[0]: int(r[1]) for r in con.execute(oracle_ext.corpus_dq_audit_sql()).fetchall()}
    assert duck == got
    # an EMPTY corpus reports zeros, not NULLs (the coalesce lane)
    empty = spark.createDataFrame([], "doc_id long, text string")
    got0 = {r.check: r.violations for r in corpus_dq_audit(empty).collect()}
    assert set(got0.values()) == {0}


def test_bpe_learn_handles_production_merge_budget(spark):
    """A deep merge budget (500 merges) must complete, stay internally
    consistent (ranks dense), and the trained vocabulary must re-encode
    exactly through the shared serving path; the vocabulary guard must
    refuse an over-cap corpus."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    # ~900 distinct words over a 30-symbol alphabet: plenty of merge room
    texts = [
        " ".join(
            "w%s%s" % (chr(97 + (i * 7 + j) % 26), chr(97 + (i * 13 + 3 * j) % 26))
            + "x" * ((i + j) % 4)
            for j in range(40)
        )
        for i in range(25)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(df, num_merges=500)
    got = merges.collect()
    ranks = sorted(r.merge_rank for r in got)
    assert ranks == list(range(len(ranks)))
    assert len(ranks) > 50, "must actually learn a deep merge table"
    # vocabulary tokens must reproduce through the frozen-vocab encoder
    enc = bpe_ops.bpe_encode(df, merges, vocab, max_word_len=256)
    tc = {r.doc_id: r.n_bpe_tokens for r in enc.collect()}
    direct = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe_ops.doc_token_counts(
            df, vocab.select("word", F.size("tokens").alias("n_tokens"))
        ).collect()
    }
    assert tc == direct
    with pytest.raises(ValueError, match="max_vocab_rows"):
        bpe_ops.bpe_learn(df, num_merges=1, max_vocab_rows=10)
    bpe_ops.release_bpe_cache(spark)


def test_bpe_learn_guard_raises_before_collect(spark, monkeypatch):
    """The max_vocab_rows guard must fire BEFORE the driver collects the
    vocabulary (ADVICE r6 medium / VERDICT r6 #1): the documented property
    is 'fails loudly instead of OOMing the driver', which is only true if
    the over-cap check happens without materializing the rows. Assert by
    poisoning DataFrame.collect — the guarded path must raise ValueError
    without ever calling it."""
    from pyspark.sql import DataFrame as _DF

    from billing_etl_v1_spark.operators import bpe as bpe_ops

    df = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c") for i in range(20)], "doc_id long, text string"
    )

    def _no_collect(self):
        raise AssertionError("collect() called before the max_vocab_rows guard")

    monkeypatch.setattr(_DF, "collect", _no_collect)
    with pytest.raises(ValueError, match="max_vocab_rows"):
        bpe_ops.bpe_learn(df, num_merges=1, max_vocab_rows=5)


def test_bpe_family_empty_corpus(spark):
    """An EMPTY corpus (routine at scale: an empty day partition) must
    flow through the whole tokenizer surface without errors: zero merges,
    empty counts/sequences/blocks, fertility empty — and the byte-level
    token-id table still reports its FIXED 256-entry base alphabet (ids
    exist independent of any corpus, that is the point of byte level)."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    for level in ("char", "byte"):
        merges, vocab = bpe_ops.bpe_learn(empty, num_merges=3, level=level)
        assert merges.count() == 0 and vocab.count() == 0
        assert bpe_ops.bpe_token_counts(empty, num_merges=3, level=level).count() == 0
        ids = bpe_ops.bpe_token_ids(merges, vocab, level=level)
        assert ids.count() == (256 if level == "byte" else 0)
        seq = bpe_ops.bpe_token_sequences(empty, vocab, ids, level=level)
        assert seq.count() == 0
        assert bpe_ops.bpe_pack_blocks(seq, block_tokens=8).count() == 0
        assert bpe_ops.bpe_fertility(empty, num_merges=3, level=level).count() == 0
        bpe_ops.release_bpe_cache(spark)


def test_bpe_stops_early_when_fully_merged(spark):
    """A vocabulary that merges to single tokens before the budget runs out
    must yield a short merge table, not fail or loop."""
    _, got_m, got_v = _spark_bpe(spark, ["ab ab ab"], 8)
    assert got_m == [(0, "a", "b", "ab", 3)]
    assert got_v == {"ab": ["ab"]}


def _naive_encode_word(word: str, merges, max_word_len: int = 256, level="char"):
    """Sequential Sennrich ENCODE: apply each learned merge in rank order
    as one greedy left-to-right non-overlapping pass (the same scan the
    naive trainer uses), with the over-cap bypass lane."""
    syms = list(word) if level == "char" else _hex_syms(word)
    if len(syms) > max_word_len:
        return syms
    for _rank, a, b, _m, _c in sorted(merges):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_unseen_path_reproduces_training_tokens(spark):
    """A training word routed through bpe_encode's unseen-word merge loop
    (frozen merges, EMPTY vocabulary) must reproduce its trained
    tokenization exactly — train and encode share the apply semantics."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    texts = ["aaabab banana aab .12 ab1", "banana aaabab aaaa"]
    df, _, got_v = _spark_bpe(spark, texts, 4)
    merges, vocab = bpe_ops.bpe_learn(df, num_merges=4)
    got = {
        r["doc_id"]: (r["n_pretokens"], r["n_bpe_tokens"])
        for r in bpe_ops.bpe_encode(
            df, merges, vocab.limit(0), max_word_len=256
        ).collect()
    }
    exp = {}
    import re

    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE as pre_re
    for i, t in enumerate(texts):
        words = re.findall(pre_re, t)
        exp[i] = (len(words), sum(len(got_v[w]) for w in words))
    assert got == exp
    bpe_ops.release_bpe_cache(spark)


def test_bpe_encode_new_docs_mixed_known_and_novel(spark):
    """Serving path: new documents mixing vocabulary words with novel ones
    (including an over-cap monster and a no-pretoken doc) must match the
    sequential reference encoder under the frozen merge table, and an
    all-known batch must agree with the training-corpus counter."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    train = ["aaabab banana aab", "banana aaabab aaaa ."]
    cap = 8
    exp_m, _, _ = _naive_bpe(train, 4, max_word_len=cap)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train)], "doc_id long, text string"
    )
    merges, vocab = bpe_ops.bpe_learn(df, num_merges=4, max_word_len=cap)

    new_texts = ["banana bandana aa", "zzz a" + "b" * 20 + " .", "   ", ""]
    new_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(new_texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_pretokens"], r["n_bpe_tokens"])
        for r in bpe_ops.bpe_encode(
            new_df, merges, vocab, max_word_len=cap
        ).collect()
    }
    import re

    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE as pre_re
    exp = {}
    for i, t in enumerate(new_texts):
        words = re.findall(pre_re, t)
        exp[i] = (
            len(words),
            sum(len(_naive_encode_word(w, exp_m, cap)) for w in words),
        )
    assert got == exp

    # all-known batch: the lazy join-only short-circuit must agree with
    # the trained counter on the training corpus itself
    enc = bpe_ops.bpe_encode(df, merges, vocab, max_word_len=cap)
    tc = bpe_ops.bpe_token_counts(df, num_merges=4, max_word_len=cap)
    assert sorted(map(tuple, enc.collect())) == sorted(map(tuple, tc.collect()))
    bpe_ops.release_bpe_cache(spark)


@st.composite
def _encode_case(draw):
    """A random merge table plus words to encode. Merge symbols come from
    the base alphabet and its two-symbol concatenations, so tables include
    pairs that recur at a later rank and merged symbols used at ranks
    below the merge that builds them; ranks advance by 1-3 (gaps, as in a
    filtered stored table); the cap sometimes sends words to the bypass."""
    level = draw(st.sampled_from(["char", "byte"]))
    chars = "abc" if level == "char" else "aé"
    base = sorted({s for c in chars for s in (list(c) if level == "char" else _hex_syms(c))})
    pool = base + [x + y for x in base for y in base]
    merges, rank = [], -1
    for _ in range(draw(st.integers(min_value=0, max_value=14))):
        rank += draw(st.integers(min_value=1, max_value=3))
        a, b = draw(st.sampled_from(pool)), draw(st.sampled_from(pool))
        merges.append((rank, a, b, a + b, 0))
        pool.append(a + b)
    words = draw(
        st.lists(st.text(alphabet=chars, min_size=1, max_size=10), min_size=1, max_size=25)
    )
    cap = draw(st.integers(min_value=2, max_value=24))
    return level, merges, words, cap


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=_encode_case())
# (ab, c) ranks below the (a, b) merge that builds 'ab', and comes back at
# rank 4: rank order gives 'abc' -> [ab, c] -> [abc]; lowest-rank-first
# would merge at rank 1 too early, and one rank per pair would miss rank 4
@example(case=("char", [(1, "ab", "c", "abc", 0), (2, "a", "b", "ab", 0),
                        (4, "ab", "c", "abc", 0)], ["abc", "ababc", "cab"], 24))
@example(case=("char", [(1, "ab", "c", "abc", 0), (2, "a", "b", "ab", 0)],
               ["abc", "abcabc"], 4))
def test_encode_words_matches_rank_order_apply(spark, case):
    """encode_words (one pandas-UDF pass) must equal applying every merge
    in rank order, word by word — on arbitrary merge tables, at both
    levels, with the over-cap bypass."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    level, merges, words, cap = case
    mdf = spark.createDataFrame(merges, bpe_ops._MERGE_SCHEMA)
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r.word: list(r.tokens)
        for r in bpe_ops.encode_words(wdf, mdf, max_word_len=cap, level=level).collect()
    }
    assert got == {w: _naive_encode_word(w, merges, cap, level) for w in words}


def test_encode_words_job_count_independent_of_merge_count(spark, tmp_path):
    """Encoding runs a fixed number of Spark jobs: 2 merges and 200
    merges (stored tables, read back as the serving path does) cost the
    same job count."""
    import random

    from billing_etl_v1_spark.operators import bpe as bpe_ops

    rng = random.Random(7)
    words = spark.createDataFrame(
        [("".join(rng.choice("abcd") for _ in range(12)),) for _ in range(40)],
        "word string",
    )
    sc = spark.sparkContext
    jobs = {}
    for n in (2, 200):
        pairs = [(rng.choice("abcd"), rng.choice("abcd")) for _ in range(n)]
        rows = [(r, a, b, a + b, 0) for r, (a, b) in enumerate(pairs)]
        path = str(tmp_path / f"m{n}")
        spark.createDataFrame(rows, bpe_ops._MERGE_SCHEMA).write.parquet(path)
        merges = spark.read.parquet(path)
        group = f"encode-jobs-{n}"
        sc.setJobGroup(group, group)
        try:
            assert len(bpe_ops.encode_words(words, merges, max_word_len=256).collect()) == 40
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[2] == jobs[200] > 0


def test_bpe_save_load_roundtrip_serves_identically(spark, tmp_path):
    """Persisted tokenizer (save_bpe/load_bpe parquet round-trip) must
    serve a new batch identically to the in-memory trained one — the
    cross-session artifact path the per-session memo can't cover."""
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    train = spark.createDataFrame(
        [(0, "aaabab banana aab"), (1, "banana aaabab aaaa .")],
        "doc_id long, text string",
    )
    merges, vocab = bpe_ops.bpe_learn(train, num_merges=4, max_word_len=77)
    bpe_ops.save_bpe(merges, vocab, str(tmp_path / "tok"), max_word_len=77)
    merges2, vocab2, cap2, level2 = bpe_ops.load_bpe(spark, str(tmp_path / "tok"))
    assert cap2 == 77, "stored max_word_len must round-trip"
    assert level2 == "char", "stored level must round-trip"
    new_df = spark.createDataFrame(
        [(0, "banana bandana aa"), (1, "zzz .")], "doc_id long, text string"
    )
    # the stored cap is threaded through — bpe_encode has no default cap,
    # so a caller can no longer silently serve under a different one
    # (review finding)
    got = sorted(
        map(
            tuple,
            bpe_ops.bpe_encode(
                new_df, merges2, vocab2, max_word_len=cap2, level=level2
            ).collect(),
        )
    )
    exp = sorted(
        map(tuple, bpe_ops.bpe_encode(new_df, merges, vocab, max_word_len=77).collect())
    )
    assert got == exp
    # the reloaded frames must also reproduce the trained state itself
    assert sorted(map(tuple, merges2.collect())) == sorted(
        map(tuple, merges.collect())
    )
    assert {r["word"]: list(r["tokens"]) for r in vocab2.collect()} == {
        r["word"]: list(r["tokens"]) for r in vocab.collect()
    }
    bpe_ops.release_bpe_cache(spark)


def test_bpe_memo_and_release(spark, docs):
    from billing_etl_v1_spark.operators import bpe as bpe_ops

    m1, v1 = bpe_ops.bpe_learn(docs, num_merges=2)
    m2, v2 = bpe_ops.bpe_learn(docs, num_merges=2)
    assert m1 is m2 and v1 is v2, "same corpus+budget must reuse training"
    m3, _ = bpe_ops.bpe_learn(docs, num_merges=3)
    assert m3 is not m1, "different budget must retrain"
    assert bpe_ops.release_bpe_cache(spark) >= 2
    m4, _ = bpe_ops.bpe_learn(docs, num_merges=2)
    assert m4 is not m1, "release must drop the memo"
    bpe_ops.release_bpe_cache(spark)


# --- unigram-LM (SentencePiece-style) tokenizer ----------------------------


def _seq_unigram(texts, vocab_size, max_piece_len, max_word_len, em_rounds,
                 seed_multiplier=4):
    """Sequential pure-Python reference for the unigram-LM trainer spec
    (operators/unigram.py module docstring): independent Counter/dict
    formulation — substring seeding, integer-log-prob Viterbi hard-EM,
    count-order pruning, alphabet floor. Returns (pieces, segments):
    pieces as {piece: (freq, logprob, token_id)}, segments as
    {word: [piece, ...]} for EVERY distinct pre-token (over-cap words
    per-codepoint)."""
    import math
    import re
    from collections import Counter

    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE

    pat = re.compile(BPE_TOKEN_RE)
    words = Counter(w for t in texts if t for w in pat.findall(t))
    if not words:
        return {}, {}
    alphabet = sorted({c for w in words for c in w})
    incap = {w: f for w, f in words.items() if len(w) <= max_word_len}

    def top_multi(counts, n):
        multi = sorted(
            ((p, c) for p, c in counts.items() if len(p) > 1),
            key=lambda pc: (-pc[1], pc[0]),
        )
        return dict(multi[:n])

    def alpha_floor(counts):
        out = {p: c for p, c in counts.items() if len(p) > 1 and c > 0}
        for ch in alphabet:
            out[ch] = max(counts.get(ch, 0), 1)
        return out

    def ilp_of(counts):
        total = float(sum(counts.values()))
        return {p: math.floor(1e6 * math.log(c / total)) for p, c in counts.items()}

    def viterbi(w, ilp):
        # independent formulation: forward best-(score, l) per position
        best = {0: (0, [])}
        for j in range(1, len(w) + 1):
            cands = []
            for l in range(1, min(max_piece_len, j) + 1):
                if j - l in best and w[j - l : j] in ilp:
                    sc, segs = best[j - l]
                    cands.append((sc + ilp[w[j - l : j]], l, segs + [w[j - l : j]]))
            if cands:
                sc, l, segs = max(cands, key=lambda t: (t[0], t[1]))
                best[j] = (sc, segs)
        return best[len(w)][1]

    sub = Counter()
    for w, f in incap.items():
        for l in range(1, max_piece_len + 1):
            for st_ in range(len(w) - l + 1):
                sub[w[st_ : st_ + l]] += f
    counts = alpha_floor(
        {
            **{p: c for p, c in sub.items() if len(p) == 1},
            **top_multi(sub, max(0, seed_multiplier * vocab_size - len(alphabet))),
        }
    )
    segs = {}
    for rnd in range(em_rounds + 1):
        if rnd == em_rounds:
            counts = {
                **{p: c for p, c in counts.items() if len(p) == 1},
                **top_multi(counts, max(0, vocab_size - len(alphabet))),
            }
        ilp = ilp_of(counts)
        segs = {w: viterbi(w, ilp) for w in incap}
        c = Counter()
        for w, f in incap.items():
            for p in segs[w]:
                c[p] += f
        counts = alpha_floor(c)
    total = float(sum(counts.values()))
    ranked = sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))
    pieces = {
        p: (c, math.floor(math.log(c / total) * 1e6 + 0.5) / 1e6, i)
        for i, (p, c) in enumerate(ranked)
    }
    for w in words:
        if len(w) > max_word_len:
            segs[w] = list(w)
    return pieces, segs


def _spark_unigram(spark, texts, **kw):
    from billing_etl_v1_spark.operators import unigram as ug

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    pieces, segments = ug.unigram_learn(df, **kw)
    got_p = {
        r["piece"]: (r["freq"], r["logprob"], r["token_id"]) for r in pieces.collect()
    }
    got_s = {r["word"]: list(r["pieces"]) for r in segments.collect()}
    ug.release_unigram_cache(spark)
    return got_p, got_s


def test_unigram_matches_reference_fixed_case(spark):
    """Trainer end-to-end on a corpus with real structure: repeated stems
    so EM genuinely reassigns mass, an over-cap word for the bypass lane,
    and more seed pieces than vocab_size so pruning bites."""
    texts = [
        "banana band bandana",
        "an ana banana",
        "nab an and",
        "bandbandbandbandbandx",  # 21 codepoints > max_word_len=16: bypass
    ]
    kw = dict(vocab_size=8, max_piece_len=3, max_word_len=16, em_rounds=2)
    exp_p, exp_s = _seq_unigram(texts, **kw)
    got_p, got_s = _spark_unigram(spark, texts, **kw)
    assert got_s == exp_s
    assert got_p == exp_p
    # structural invariants: alphabet always survives; ids dense by rank
    assert {p for p in got_p if len(p) == 1} >= {"a", "b", "d", "n", "x"}
    assert sorted(v[2] for v in got_p.values()) == list(range(len(got_p)))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab1 .'", min_size=0, max_size=24), min_size=0, max_size=6
    ),
    vocab_size=st.integers(min_value=1, max_value=12),
    em_rounds=st.integers(min_value=0, max_value=3),
)
def test_unigram_matches_reference_property(spark, texts, vocab_size, em_rounds):
    """Property sweep vs the sequential reference on adversarial random
    corpora: count ties in seeding/pruning, vocab_size below the alphabet
    size, zero EM rounds (seed -> prune -> final only), empty corpora."""
    kw = dict(
        vocab_size=vocab_size, max_piece_len=3, max_word_len=8, em_rounds=em_rounds
    )
    exp_p, exp_s = _seq_unigram(texts, **kw)
    got_p, got_s = _spark_unigram(spark, texts, **kw)
    assert got_s == exp_s
    assert got_p == exp_p


def test_unigram_token_counts_consistent(spark):
    """Per-doc counts must equal summing the segmentation costs by hand,
    and every doc must appear (zero-pretoken docs report 0/0)."""
    import re

    from billing_etl_v1_spark.operators import unigram as ug
    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE

    texts = ["banana band", "an and ana banana nab", "", None, "zzz zz z"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    kw = dict(vocab_size=8, max_piece_len=3, max_word_len=16, em_rounds=2)
    _, segments = ug.unigram_learn(df, **kw)
    cost = {r["word"]: r["n_tokens"] for r in segments.collect()}
    got = {
        r.doc_id: (r.n_pretokens, r.n_unigram_tokens)
        for r in ug.unigram_token_counts(df, **kw).collect()
    }
    pat = re.compile(BPE_TOKEN_RE)
    for i, t in enumerate(texts):
        ws = pat.findall(t) if t else []
        assert got[i] == (len(ws), sum(cost[w] for w in ws)), (i, t)
    ug.release_unigram_cache(spark)


def test_unigram_empty_corpus(spark):
    """Empty / all-NULL corpora flow through without errors (the empty
    day-partition lane): empty pieces, empty segments, 0/0 counts."""
    from billing_etl_v1_spark.operators import unigram as ug

    for rows in ([], [(1, None)]):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pieces, segments = ug.unigram_learn(df, vocab_size=4)
        assert pieces.count() == 0 and segments.count() == 0
        counts = ug.unigram_token_counts(df, vocab_size=4)
        assert counts.count() == len(rows)
        lp, ls = ug.unigram_learn_lattice(df, vocab_size=4)
        assert lp.count() == 0 and ls.count() == 0
        ug.release_unigram_cache(spark)


def test_unigram_memo_and_release(spark, docs):
    from billing_etl_v1_spark.operators import unigram as ug

    p1, s1 = ug.unigram_learn(docs, vocab_size=8)
    p2, s2 = ug.unigram_learn(docs, vocab_size=8)
    assert p1 is p2 and s1 is s2, "same corpus+hyperparameters must reuse"
    p3, _ = ug.unigram_learn(docs, vocab_size=9)
    assert p3 is not p1, "different vocab_size must retrain"
    assert ug.release_unigram_cache(spark) >= 2
    p4, _ = ug.unigram_learn(docs, vocab_size=8)
    assert p4 is not p1, "release must drop the memo"
    ug.release_unigram_cache(spark)


@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab1 .'", min_size=0, max_size=24), min_size=0, max_size=6
    ),
    vocab_size=st.integers(min_value=1, max_value=12),
    em_rounds=st.integers(min_value=0, max_value=2),
)
def test_unigram_oracle_matches_reference_property(texts, vocab_size, em_rounds):
    """The DuckDB twin must equal the sequential reference on random
    corpora (no Spark needed — this closes the triangle: Spark==ref and
    oracle==ref imply the driver's hash comparison can only fail on a
    real defect, not twin drift)."""
    import duckdb

    from billing_etl_v1_spark import oracle_ext

    kw = dict(
        vocab_size=vocab_size, max_piece_len=3, max_word_len=8, em_rounds=em_rounds
    )
    exp_p, _ = _seq_unigram(texts, **kw)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)) or [(0, None)]
    )
    duck = {
        r[0]: (r[1], float(r[2]), r[3])
        for r in con.execute(oracle_ext.unigram_vocab_sql(**kw)).fetchall()
    }
    assert duck == exp_p


def test_unigram_save_load_encode_roundtrip(spark, tmp_path):
    """The artifact round-trip (save_bpe twin): hyperparameters travel IN
    the artifact; known words resolve at their stored training cost; a
    novel word Viterbi-segments under the final probabilities; a word
    with codepoints outside the stored alphabet takes the UNK single-char
    lane instead of failing; an over-cap novel word takes the bypass."""
    from billing_etl_v1_spark.operators import unigram as ug

    train = spark.createDataFrame(
        [(1, "banana band bandana"), (2, "an ana banana nab")],
        "doc_id long, text string",
    )
    kw = dict(vocab_size=8, max_piece_len=3, max_word_len=16, em_rounds=2)
    pieces, segments = ug.unigram_learn(train, **kw)
    tok = str(tmp_path / "unitok")
    ug.save_unigram(pieces, segments, tok, max_piece_len=3, max_word_len=16)
    lp, ls, mpl, mwl = ug.load_unigram(spark, tok)
    assert (mpl, mwl) == (3, 16)
    assert sorted(map(tuple, lp.collect())) == sorted(map(tuple, pieces.collect()))

    new = spark.createDataFrame(
        [
            (10, "banana band"),          # all known words
            (11, "bananana"),             # novel, all-known chars
            (12, "bandanaΩband"),         # novel with an unknown codepoint
            (13, "a" * 20),               # novel over-cap: bypass
            (14, ""),                     # zero pretokens
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_pretokens, r.n_unigram_tokens)
        for r in ug.unigram_encode(
            new, lp, ls, max_piece_len=mpl, max_word_len=mwl
        ).collect()
    }
    cost = {r["word"]: r["n_tokens"] for r in segments.collect()}
    assert got[10] == (2, cost["banana"] + cost["band"])
    # novel word: segmentation must be Viterbi-optimal under the served
    # ilp — verify against the shared pure function
    ilp = ug.serving_ilp(pieces)
    assert got[11] == (1, len(ug.viterbi_segment("bananana", ilp, 3, ug.UNK_ILP)))
    # the pre-tokenizer splits the non-ASCII codepoint into its own run;
    # each pre-token segments independently (Ω goes through the UNK lane)
    import re

    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE

    words12 = re.compile(BPE_TOKEN_RE).findall("bandanaΩband")
    assert got[12] == (
        len(words12),
        sum(len(ug.viterbi_segment(w, ilp, 3, ug.UNK_ILP)) for w in words12),
    )
    assert got[13] == (1, 20)
    assert got[14] == (0, 0)
    # determinism: encoding the same batch twice is identical
    again = {
        r.doc_id: (r.n_pretokens, r.n_unigram_tokens)
        for r in ug.unigram_encode(
            new, lp, ls, max_piece_len=mpl, max_word_len=mwl
        ).collect()
    }
    assert again == got
    ug.release_unigram_cache(spark)


def test_unigram_training_words_roundtrip_through_novel_path(spark):
    """Every training word routed through the NOVEL path must segment to
    a VALID segmentation whose score under the final probabilities is >=
    the stored one (the final model may legitimately improve on the
    pre-recount segmentation; it must never be worse — that would mean
    the serving Viterbi is broken)."""
    from billing_etl_v1_spark.operators import unigram as ug

    train = spark.createDataFrame(
        [(1, "banana band bandana an ana nab and")], "doc_id long, text string"
    )
    pieces, segments = ug.unigram_learn(
        train, vocab_size=8, max_piece_len=3, max_word_len=16, em_rounds=2
    )
    ilp = ug.serving_ilp(pieces)
    for r in segments.collect():
        novel = ug.viterbi_segment(r["word"], ilp, 3, ug.UNK_ILP)
        assert "".join(novel) == r["word"]
        stored_score = sum(ilp.get(p, ug.UNK_ILP) for p in r["pieces"])
        novel_score = sum(ilp.get(p, ug.UNK_ILP) for p in novel)
        assert novel_score >= stored_score, (r["word"], novel, list(r["pieces"]))
    ug.release_unigram_cache(spark)


def test_unigram_sequences_cover_overcap_and_positions(spark):
    """Token-id sequences must cover EVERY training token — including the
    over-cap bypass lane (absent from the driver corpus, so the oracle
    hash-match never exercises it): positions are contiguous 0..n-1 per
    doc, every position carries a valid token_id, over-cap words appear
    as per-codepoint pieces, and the packed blocks partition the global
    sequence exactly."""
    from billing_etl_v1_spark.operators import unigram as ug

    texts = ["banana band bandana an", "abcdefghijabcdefghijx nab"]  # 21>16: bypass
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    kw = dict(vocab_size=8, max_piece_len=3, max_word_len=16, em_rounds=2)
    pieces, segments = ug.unigram_learn(df, **kw)
    seq = ug.unigram_token_sequences(df, pieces, segments)
    rows = seq.collect()
    by_doc: dict = {}
    for r in rows:
        assert r.token_id is not None and r.token_id >= 0
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.token))
    counts = {
        r.doc_id: r.n_unigram_tokens
        for r in ug.unigram_token_counts(df, **kw).collect()
    }
    for d, toks in by_doc.items():
        toks.sort()
        assert [p for p, _ in toks] == list(range(len(toks))), "positions contiguous"
        assert len(toks) == counts[d], "sequence length == token count"
    # the over-cap word contributes per-codepoint tokens in order
    doc1 = "".join(t for _, t in sorted(by_doc[1]))
    assert doc1 == "abcdefghijabcdefghijxnab"
    # packed blocks partition the global order exactly
    packed = ug.unigram_pack_blocks(seq, block_tokens=7).collect()
    n_total = sum(counts.values())
    assert len(packed) == n_total
    slots = sorted((r.block_id, r.offset) for r in packed)
    assert slots == [(i // 7, i % 7) for i in range(n_total)]
    ug.release_unigram_cache(spark)


def test_unigram_sample_segments_properties(spark):
    """Subword regularization sampler: every sampled segmentation is a
    valid member of the word's n-best set and concatenates to the word;
    sampling is deterministic per salt; large alpha collapses to the
    1-best; alpha=0 actually explores (multiple variants appear across
    occurrences); over-cap words degenerate to the per-codepoint bypass."""
    from billing_etl_v1_spark.operators import unigram as ug

    train = spark.createDataFrame(
        [(1, "banana band bandana an ana nab and")], "doc_id long, text string"
    )
    kw = dict(vocab_size=8, max_piece_len=3, max_word_len=16, em_rounds=2)
    pieces, _segments = ug.unigram_learn(train, **kw)
    ilp = ug.serving_ilp(pieces)

    # a corpus with MANY occurrences of the same ambiguous word + an
    # over-cap word (18 codepoints > 16)
    docs = spark.createDataFrame(
        [(i, "banana bandana " + "a" * 18) for i in range(64)],
        "doc_id long, text string",
    )
    out = ug.unigram_sample_segments(
        docs, pieces, max_piece_len=3, max_word_len=16, n_best=4, alpha=0.0, salt=7
    ).collect()
    nbest = {
        w: [tuple(p) for _s, p in ug.viterbi_nbest(w, ilp, 3, 4, unk_ilp=ug.UNK_ILP)]
        for w in ("banana", "bandana")
    }
    seen: dict = {}
    for r in out:
        assert "".join(r.pieces) == r.word
        assert r.n_tokens == len(r.pieces)
        if r.word == "a" * 18:
            assert list(r.pieces) == ["a"] * 18, "over-cap bypass is deterministic"
        else:
            assert tuple(r.pieces) in nbest[r.word], (r.word, r.pieces)
            seen.setdefault(r.word, set()).add(tuple(r.pieces))
    # alpha=0 = uniform over the n-best: 64 occurrences must explore
    # beyond a single variant for a word with >1 candidates
    assert len(nbest["bandana"]) > 1
    assert len(seen["bandana"]) > 1, "alpha=0 sampler never explored"

    # determinism per salt
    a = sorted(
        (r.doc_id, r.wpos, tuple(r.pieces))
        for r in ug.unigram_sample_segments(
            docs, pieces, max_piece_len=3, max_word_len=16, n_best=4, alpha=0.0, salt=7
        ).collect()
    )
    b = sorted((r.doc_id, r.wpos, tuple(r.pieces)) for r in out)
    assert a == b

    # large alpha -> the n-best top-1 everywhere (in-cap words)
    hard = ug.unigram_sample_segments(
        docs, pieces, max_piece_len=3, max_word_len=16, n_best=4, alpha=1e6, salt=3
    ).collect()
    for r in hard:
        if r.word != "a" * 18:
            assert tuple(r.pieces) == nbest[r.word][0], (r.word, r.pieces)
    ug.release_unigram_cache(spark)


def test_unigram_lattice_trainer_properties(spark):
    """The lattice (soft-EM) driver-side trainer — Kudo's full algorithm:
    (a) corpus log-likelihood is non-decreasing across EM rounds (the
    fundamental EM guarantee; computed here independently by running the
    trainer at increasing em_rounds and scoring the corpus under each
    export); (b) on an UNAMBIGUOUS corpus (every word one segmentation)
    soft counts equal hard counts, so the two trainers export identical
    piece tables; (c) the export is serving-schema compatible — a
    save/load/encode round-trip works unchanged; (d) the guard refuses
    over-cap vocabularies before collecting."""
    import math

    import pytest as _pytest
    from pyspark.sql import DataFrame as _DF

    from billing_etl_v1_spark.operators import unigram as ug

    # (a) EM monotonicity on an ambiguous corpus
    train = spark.createDataFrame(
        [(1, "banana band bandana an ana nab and")], "doc_id long, text string"
    )

    def corpus_ll(pieces) -> float:
        rows = {r["piece"]: r["freq"] for r in pieces.collect()}
        total = float(sum(rows.values()))
        p = {q: c / total for q, c in rows.items()}
        import re

        from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE

        pat = re.compile(BPE_TOKEN_RE)
        ll = 0.0
        for t in ["banana band bandana an ana nab and"]:
            for w in pat.findall(t):
                # forward sum over the lattice
                fwd = [0.0] * (len(w) + 1)
                fwd[0] = 1.0
                for j in range(1, len(w) + 1):
                    fwd[j] = sum(
                        fwd[j - l] * p.get(w[j - l : j], 0.0)
                        for l in range(1, min(3, j) + 1)
                    )
                ll += math.log(fwd[len(w)])
        return ll

    lls = []
    for r in (0, 1, 2, 3):
        pieces, _ = ug.unigram_learn_lattice(
            train, vocab_size=8, max_piece_len=3, max_word_len=16, em_rounds=r
        )
        lls.append(corpus_ll(pieces))
    # rounds past the first may move mass through the PRUNE differently,
    # so assert the core EM property on the pre-prune-dominated steps:
    # likelihood never drops by more than float noise round-to-round
    for a, b in zip(lls, lls[1:]):
        assert b >= a - 1e-9, (lls, "EM likelihood decreased")

    # (b) unambiguous corpus: every word segments uniquely (vocab too
    # small to admit multi-char pieces) -> soft == hard exactly
    una = spark.createDataFrame([(1, "ab cd ab cd ef")], "doc_id long, text string")
    hard_p, hard_s = ug.unigram_learn(
        una, vocab_size=6, max_piece_len=1, max_word_len=16, em_rounds=1
    )
    soft_p, soft_s = ug.unigram_learn_lattice(
        una, vocab_size=6, max_piece_len=1, max_word_len=16, em_rounds=1
    )
    assert sorted(map(tuple, soft_p.collect())) == sorted(map(tuple, hard_p.collect()))
    assert {r["word"]: list(r["pieces"]) for r in soft_s.collect()} == {
        r["word"]: list(r["pieces"]) for r in hard_s.collect()
    }

    # (c) serving-schema compatibility: save/load/encode round-trip
    import tempfile

    pieces, segments = ug.unigram_learn_lattice(
        train, vocab_size=8, max_piece_len=3, max_word_len=16, em_rounds=2
    )
    with tempfile.TemporaryDirectory() as td:
        ug.save_unigram(pieces, segments, td + "/tok", max_piece_len=3, max_word_len=16)
        lp, ls, mpl, mwl = ug.load_unigram(spark, td + "/tok")
        out = ug.unigram_encode(
            spark.createDataFrame([(9, "banana nab zebra")], "doc_id long, text string"),
            lp,
            ls,
            max_piece_len=mpl,
            max_word_len=mwl,
        ).collect()
        assert len(out) == 1 and out[0].n_pretokens == 3

    # (d) guard fires BEFORE collect
    def _no_collect(self):
        raise AssertionError("collect() called before the max_vocab_rows guard")

    orig = _DF.collect
    _DF.collect = _no_collect
    try:
        with _pytest.raises(ValueError, match="max_vocab_rows"):
            ug.unigram_learn_lattice(train, vocab_size=8, max_vocab_rows=2)
    finally:
        _DF.collect = orig

    # (e) hyperparameter guards match unigram_learn's: max_word_len < 1
    # must raise, not silently train an alphabet-only vocabulary through
    # the all-words-bypass lane (ADVICE r7)
    with _pytest.raises(ValueError, match="max_word_len"):
        ug.unigram_learn_lattice(train, vocab_size=8, max_word_len=0)
    ug.release_unigram_cache(spark)


# --- WordPiece (BERT-lineage) tokenizer -------------------------------------


def _naive_wordpiece(texts, num_merges: int, max_word_len: int = 16):
    """Sequential reference WordPiece trainer: position-form symbols (raw
    first codepoint, '##'-prefixed continuations), likelihood-ratio pair
    scoring score(a,b) = c_ab / (c_a * c_b) over the CURRENT state's
    freq-weighted symbol counts, ties by (a, b) UTF-8 byte order, greedy
    left-to-right non-overlapping apply, merged = a + b[2:]. The score is
    computed in the engine-identical float op order —
    float(c_ab) / (float(c_a) * float(c_b)) — so the argmax matches the
    Spark/DuckDB double arithmetic bit-exactly. Pre-tokens over
    max_word_len CODEPOINTS bypass training."""
    import re
    from collections import Counter

    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE as pre_re

    wf = Counter(w for t in texts for w in re.findall(pre_re, t))
    state = {
        w: [c if i == 0 else "##" + c for i, c in enumerate(w)] for w in wf
    }
    capped = {w for w in wf if len(w) > max_word_len}
    merges = []
    for rank in range(num_merges):
        sc: Counter = Counter()
        pc: Counter = Counter()
        for w, syms in state.items():
            if w in capped:
                continue
            for s in syms:
                sc[s] += wf[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        a, b = min(
            pc,
            key=lambda p: (
                -(float(pc[p]) / (float(sc[p[0]]) * float(sc[p[1]]))),
                p[0].encode(),
                p[1].encode(),
            ),
        )
        merges.append((rank, a, b, a + b[2:], pc[(a, b)], sc[a], sc[b]))
        for w, syms in state.items():
            if w in capped:
                continue
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b[2:])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    alphabet = {s for w, syms0 in (
        (w, [c if i == 0 else "##" + c for i, c in enumerate(w)]) for w in wf
    ) for s in syms0}
    pieces = {"[UNK]"} | alphabet | {m[3] for m in merges}
    return merges, pieces, wf


def _naive_greedy(word: str, pieces, max_word_len: int):
    """Greedy longest-match-first reference encoder (all-prefixes scan,
    over-cap/unmatched -> single [UNK]) — intentionally a second
    from-the-paper implementation, not an import of the operator kernel."""
    n = len(word)
    if n > max_word_len:
        return ["[UNK]"]
    out, pos = [], 0
    while pos < n:
        hit = None
        for ln in range(n - pos, 0, -1):
            cand = ("##" if pos else "") + word[pos : pos + ln]
            if cand in pieces:
                hit = (cand, ln)
                break
        if hit is None:
            return ["[UNK]"]
        out.append(hit[0])
        pos += hit[1]
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab#é😀 .", min_size=0, max_size=24), min_size=0, max_size=6
    ),
    num_merges=st.integers(min_value=0, max_value=5),
)
def test_wordpiece_matches_naive_reference(spark, texts, num_merges):
    """Spark trainer + greedy segmentation vs the sequential reference on
    random corpora (the '#' alphabet member exercises the ##-convention
    ambiguity lanes; the emoji exercises codepoint-vs-UTF-16 capping; cap
    6 exercises the over-cap [UNK] lane)."""
    import re

    from billing_etl_v1_spark.operators import wordpiece as wp
    from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE as pre_re

    cap = 6
    exp_m, exp_pieces, wf = _naive_wordpiece(texts, num_merges, max_word_len=cap)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, _state = wp.wordpiece_learn(df, num_merges=num_merges, max_word_len=cap)
    got_m = [
        (
            r["merge_rank"],
            r["left_sym"],
            r["right_sym"],
            r["merged"],
            r["pair_count"],
            r["left_count"],
            r["right_count"],
        )
        for r in merges.orderBy("merge_rank").collect()
    ]
    assert got_m == exp_m

    # exported piece set matches, [UNK] holds id 0, ids are dense & unique
    ids = wp.wordpiece_vocab(df, num_merges=num_merges, max_word_len=cap)
    rows = ids.collect()
    assert {r["token"] for r in rows} == exp_pieces
    by_id = sorted(r["token_id"] for r in rows)
    assert by_id == list(range(len(rows)))
    assert [r["token"] for r in rows if r["token_id"] == 0] == ["[UNK]"]

    # per-document counts under greedy encode match the reference encoder
    got_c = {
        r["doc_id"]: (r["n_pretokens"], r["n_wordpiece_tokens"])
        for r in wp.wordpiece_token_counts(
            df, num_merges=num_merges, max_word_len=cap
        ).collect()
    }
    exp_c = {}
    for i, t in enumerate(texts):
        words = re.findall(pre_re, t)
        exp_c[i] = (
            len(words),
            sum(len(_naive_greedy(w, exp_pieces, cap)) for w in words),
        )
    assert got_c == exp_c

    wp.release_wordpiece_cache(spark)


@pytest.mark.parametrize(
    "texts,num_merges,cap",
    [
        # astral plane: the alphabet splits codepoints in Python while the
        # serving UDF and the DuckDB twin see JVM / RE2 strings — U+1D54F
        # and U+1F642 are surrogate pairs in UTF-16
        (
            [
                "aaabab banana aab",
                "banana aaabab aaaa .",
                "a\U0001d54f\U0001f642b \U0001d54f\U0001f642 banana",
            ],
            4,
            10,
        ),
        (["a" * 20 + " the mat the", "the cat"], 4, 8),  # over-cap word
        (["ab ab", "ab"], 10, 16),  # early stop before budget
    ],
    ids=["astral", "cap8", "early-stop"],
)
def test_wordpiece_edge_corpora_match_naive_reference(spark, texts, num_merges, cap):
    """Fixed corpora against the sequential reference: merges with their
    score evidence, the exported piece set, and every training word's
    greedy segmentation."""
    from billing_etl_v1_spark.operators import wordpiece as wp

    exp_m, exp_pieces, wf = _naive_wordpiece(texts, num_merges, max_word_len=cap)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, ids, segments = wp.wordpiece_artifacts(
        df, num_merges=num_merges, max_word_len=cap
    )
    assert [tuple(r) for r in merges.orderBy("merge_rank").collect()] == exp_m
    assert {r.token for r in ids.collect()} == exp_pieces
    assert {r.word: list(r.pieces) for r in segments.collect()} == {
        w: _naive_greedy(w, exp_pieces, cap) for w in wf
    }
    wp.release_wordpiece_cache(spark)


def test_wordpiece_greedy_kernel_cases():
    """The greedy kernel on hand cases: longest-match-first, continuation
    prefixes, unmatched -> [UNK], over-cap -> [UNK], and the '#'
    convention lanes."""
    from billing_etl_v1_spark.operators.wordpiece import greedy_pieces

    pieces = {"[UNK]", "un", "##happ", "##ily", "##y", "h", "##a", "u", "##n"}
    assert greedy_pieces("unhappily", pieces, 16) == ["un", "##happ", "##ily"]
    # a match mid-word cannot rescue a later unmatched position: 'u'
    # matches, then '##h' has no piece -> the WHOLE word is [UNK]
    assert greedy_pieces("uh", pieces, 16) == ["[UNK]"]
    # unmatched first position -> [UNK]
    assert greedy_pieces("zebra", pieces, 16) == ["[UNK]"]
    # over-cap -> [UNK] without scanning
    assert greedy_pieces("a" * 17, pieces, 16) == ["[UNK]"]
    # '#' convention lanes: at pos 0 the raw '###' piece wins whole;
    # from pos > 0 the same string is reachable as continuation-'#'
    p2 = {"[UNK]", "#", "###"}
    assert greedy_pieces("###", p2, 16) == ["###"]
    assert greedy_pieces("##", p2, 16) == ["#", "###"]


def test_wordpiece_serving_roundtrip_and_unk_lanes(spark, tmp_path):
    """save/load/encode round-trip: an all-known batch equals the trained
    counter; novel words run greedy under the frozen pieces (zzz has no
    'z' in the alphabet -> [UNK]); an over-cap monster is one [UNK]; empty
    and no-pretoken docs count 0/0."""
    from billing_etl_v1_spark.operators import wordpiece as wp

    train = spark.createDataFrame(
        [(0, "aaabab banana aab"), (1, "banana aaabab aaaa .")],
        "doc_id long, text string",
    )
    cap = 10
    ids, segments = wp.wordpiece_artifacts(train, num_merges=4, max_word_len=cap)[1:]
    tok = str(tmp_path / "wp")
    wp.save_wordpiece(ids, segments, tok, max_word_len=cap)
    ids2, segs2, cap2 = wp.load_wordpiece(spark, tok)
    assert cap2 == cap

    # all-known batch: equi-join fast path == training counter
    enc = wp.wordpiece_encode(train, ids2, segs2, max_word_len=cap2)
    tc = wp.wordpiece_token_counts(train, num_merges=4, max_word_len=cap)
    assert sorted(map(tuple, enc.collect())) == sorted(map(tuple, tc.collect()))

    # novel batch: known word, novel-but-coverable word, alphabet-miss,
    # over-cap monster, empty, NULL
    new = spark.createDataFrame(
        [(0, "banana bab"), (1, "zzz"), (2, "a" * 25), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_pretokens"], r["n_wordpiece_tokens"])
        for r in wp.wordpiece_encode(new, ids2, segs2, max_word_len=cap2).collect()
    }
    pieces = {r["token"] for r in ids2.collect()}
    exp = {
        0: (2, len(_naive_greedy("banana", pieces, cap)) + len(_naive_greedy("bab", pieces, cap))),
        1: (1, 1),  # zzz -> [UNK]
        2: (1, 1),  # over-cap -> [UNK]
        3: (0, 0),
        4: (0, 0),
    }
    assert got == exp
    wp.release_wordpiece_cache(spark)


def test_wordpiece_memo_and_guards(spark):
    from billing_etl_v1_spark.operators import wordpiece as wp

    df = spark.createDataFrame([(0, "aa ab")], "doc_id long, text string")
    m1, s1 = wp.wordpiece_learn(df, num_merges=2)
    m2, s2 = wp.wordpiece_learn(df, num_merges=2)
    assert m1 is m2 and s1 is s2, "same corpus+budget must reuse training"
    m3, _ = wp.wordpiece_learn(df, num_merges=3)
    assert m3 is not m1, "different budget must retrain"
    assert wp.release_wordpiece_cache(spark) >= 2
    with pytest.raises(ValueError, match="num_merges"):
        wp.wordpiece_learn(df, num_merges=-1)
    with pytest.raises(ValueError, match="max_word_len"):
        wp.wordpiece_learn(df, max_word_len=0)
    with pytest.raises(ValueError, match="max_word_len"):
        wp.wordpiece_segments(df.select(F.lit("x").alias("word")), df.limit(0).select(F.lit("t").alias("token")), max_word_len=0)
    wp.release_wordpiece_cache(spark)


def test_wordpiece_empty_and_null_corpus(spark):
    """Zero-row and all-NULL corpora: vocabulary is the [UNK] special
    alone, merges empty, counts 0/0 per doc — no crash anywhere."""
    from billing_etl_v1_spark.operators import wordpiece as wp

    for df in (
        spark.createDataFrame([], "doc_id long, text string"),
        spark.createDataFrame([(0, None), (1, "")], "doc_id long, text string"),
    ):
        merges, _state = wp.wordpiece_learn(df, num_merges=3)
        assert merges.count() == 0
        ids = wp.wordpiece_vocab(df, num_merges=3)
        assert [(r["token"], r["token_id"]) for r in ids.collect()] == [("[UNK]", 0)]
        got = {
            r["doc_id"]: (r["n_pretokens"], r["n_wordpiece_tokens"])
            for r in wp.wordpiece_token_counts(df, num_merges=3).collect()
        }
        assert all(v == (0, 0) for v in got.values())
    wp.release_wordpiece_cache(spark)


def test_wordpiece_driver_artifacts_serve_identically(spark, tmp_path):
    """The driver-side trainer's artifacts persist through save_wordpiece
    and serve a novel batch identically to the in-memory tables — the
    train->artifact->serve story. Also: a budget beyond exhaustion stops
    cleanly, and the vocabulary guard pre-counts BEFORE collecting."""
    import pytest as _pytest
    from pyspark.sql import DataFrame as _DF

    from billing_etl_v1_spark.operators import wordpiece as wp

    train = spark.createDataFrame(
        [
            (0, "aaabab banana aab"),
            (1, "banana aaabab aaaa ."),
            (2, "a\U0001d54f\U0001f642b \U0001d54f\U0001f642 banana"),
        ],
        "doc_id long, text string",
    )
    cap = 10
    _m, ids, segs = wp.wordpiece_artifacts(train, num_merges=4, max_word_len=cap)

    # budget beyond exhaustion: the loop must stop when no pair remains
    mx, _sx = wp.wordpiece_learn(train, num_merges=10_000, max_word_len=cap)
    nx = mx.count()
    assert 0 < nx < 10_000

    # serve a novel batch from the persisted artifact
    tok = str(tmp_path / "wpd")
    wp.save_wordpiece(ids, segs, tok, max_word_len=cap)
    li, ls, lcap = wp.load_wordpiece(spark, tok)
    new = spark.createDataFrame(
        [(0, "banana bab zzz")], "doc_id long, text string"
    )
    a = sorted(map(tuple, wp.wordpiece_encode(new, li, ls, max_word_len=lcap).collect()))
    b = sorted(map(tuple, wp.wordpiece_encode(new, ids, segs, max_word_len=cap).collect()))
    assert a == b

    # guard fires BEFORE collect (the r6 bpe lesson, applied to new code)
    def _no_collect(self):
        raise AssertionError("collect() called before the max_vocab_rows guard")

    orig = _DF.collect
    _DF.collect = _no_collect
    try:
        with _pytest.raises(ValueError, match="max_vocab_rows"):
            wp.wordpiece_learn(train, max_vocab_rows=2)
    finally:
        _DF.collect = orig
    wp.release_wordpiece_cache(spark)


def test_vocab_word_stream_multiset_equals_pretokens(spark):
    """The whitespace-run-fast vocabulary explode (r9 — the trainer's
    corpus pass) must return EXACTLY the _pretokens multiset on
    adversarial text: ws runs incl. \\x0B, unicode, digit/letter/punct
    boundaries, empty and NULL docs, ws-only docs."""
    from billing_etl_v1_spark.operators.bpe import _pretokens, _vocab_word_stream

    texts = [
        "hello  world\t\tfoo\x0b\x0bbar",
        "a1b2c3 .. !! ..",
        "  leading and trailing   ",
        "\t\n\f\r\x0b",
        "",
        None,
        "héllo wörld 東京 2024!",
        "x" * 500 + " " * 50 + "9" * 40,
        "mixed\x0bws\truns \n\n here",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    from collections import Counter

    fast = Counter(
        r["word"] for r in _vocab_word_stream(df, "text", "char").collect()
    )
    plain = Counter(
        r["w"]
        for r in df.select(
            F.explode(_pretokens(F.col("text"), "char")).alias("w")
        ).collect()
    )
    assert fast == plain
    assert sum(fast.values()) > 0
    # byte level passes through untouched
    fast_b = Counter(
        r["word"] for r in _vocab_word_stream(df, "text", "byte").collect()
    )
    plain_b = Counter(
        r["w"]
        for r in df.select(
            F.explode(_pretokens(F.col("text"), "byte")).alias("w")
        ).collect()
    )
    assert fast_b == plain_b
