"""LLM-pipeline operator tests: planted near-duplicate micro-fixtures for
every dedup flavor, pinned-IVF recall vs brute force, multimodal
plumbing, and DuckDB oracle parity for every oracled query."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapreduce_code_spark.operators import dedup, multimodal, similarity
from mapreduce_code_spark.registry import oracle_sql, queries
from mapreduce_code_spark.sources.io import load_table
from tests.helpers import assert_parity

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm window sill and the birds sing in the tall green trees"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one-word edit → near-dup
OTHER = (
    "completely different content about spark query engines and shuffle "
    "partitioning strategies for large scale distributed aggregation jobs"
)


@pytest.fixture(scope="module")
def docs_micro(spark):
    rows = [
        (0, BASE, "en", "s", len(BASE)),
        (1, BASE, "en", "s", len(BASE)),        # exact dup of 0
        (2, NEAR, "en", "s", len(NEAR)),        # near dup of 0
        (3, OTHER, "en", "s", len(OTHER)),      # unrelated
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_micro(docs_micro):
    rows = {r["doc_id"]: r for r in dedup.exact_dedup(docs_micro).collect()}
    assert rows[1]["is_dup"] and rows[1]["keeper_id"] == 0
    assert not rows[0]["is_dup"] and not rows[2]["is_dup"] and not rows[3]["is_dup"]


def test_minhash_lsh_micro(docs_micro):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs_micro).collect()
    }
    assert (0, 1) in pairs          # identical docs always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup should collide
    assert (0, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_micro(docs_micro):
    rows = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_micro, threshold=0.3).collect()
    }
    assert rows[(0, 1)] == 1.0      # identical shingle sets
    assert 0.5 < rows[(0, 2)] < 1.0  # one-word edit knocks out k shingles
    assert (0, 3) not in rows


def test_simhash_micro(docs_micro):
    rows = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs_micro).collect()}
    assert rows[0] == rows[1]  # identical text → identical simhash
    ham_near = bin(rows[0] ^ rows[2]).count("1")
    ham_far = bin(rows[0] ^ rows[3]).count("1")
    assert ham_near < ham_far  # near-dup closer in Hamming space


@pytest.fixture(scope="module")
def emb_micro(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(64).astype("float32")
    near = base + rng.standard_normal(64).astype("float32") * 0.01
    rows = [(0, [float(v) for v in base], 0), (1, [float(v) for v in near], 0)]
    for i in range(2, 30):
        v = rng.standard_normal(64).astype("float32")
        rows.append((i, [float(x) for x in v], i % 3))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_topk_cosine_micro(emb_micro):
    rows = similarity.topk_cosine(emb_micro, n_queries=1, k=3).collect()
    assert rows[0]["vec_id"] == 1 and rows[0]["rank"] == 1  # planted neighbor
    assert rows[0]["cosine"] > 0.99


def test_multimodal_decode_stub_raises(docs_micro):
    """fake=False must raise loudly when NO codec library exists — in an
    environment with PIL/soundfile installed the real path runs instead,
    so the assertion only applies to codec-free environments."""
    if multimodal.HAS_PIL or multimodal.HAS_SOUNDFILE:
        pytest.skip("codec libraries installed — real decode path active")
    media = multimodal.media_from_documents(docs_micro)
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(media, fake=False)


def test_multimodal_fake_decode(docs_micro):
    media = multimodal.media_from_documents(docs_micro)
    rows = {r["media_id"]: r for r in multimodal.decode_media(media, fake=True).collect()}
    assert len(rows) == 4
    for r in rows.values():
        assert len(r["features"]) == multimodal.FEATURE_DIM
        assert abs(sum(r["features"]) - 1.0) < 1e-9  # L1-normalized
    assert rows[0]["features"] == rows[1]["features"]  # same payload


def test_frame_plan(docs_micro):
    media = multimodal.media_from_documents(docs_micro)
    rows = multimodal.sample_frames(media).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append((r["frame_idx"], r["ts_ms"]))
    # only kind == video (doc_id % 3 == 2)
    assert set(by_media) == {2}
    assert by_media[2][0] == (0, 0)
    assert all(ts == i * 2000 for i, ts in by_media[2])


ORACLED = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_near_dup_scalable",
    "dedup_incremental",
    "dedup_streamed_incremental",
    "dedup_components_starcontract",
    "dedup_simhash",
    "similarity_topk_cosine",
    "similarity_cosine_dups",
    "text_stats",
    "text_lang_id",
    "text_quality",
    "text_winnow_fingerprint",
    "multimodal_meta",
    "multimodal_frame_plan",
    "sampling_chunk_documents",
    "sampling_source_cap",
    "dedup_substring_spans",
    "similarity_label_centroids",
    "similarity_assign_centroids",
    "similarity_semantic_dedup",
    "text_redact_pii",
    "sampling_temperature_mix",
    "text_quality_classifier",
]


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(spark, sf_dir, name):
    assert_parity(queries()[name](spark, sf_dir), sf_dir, oracle_sql()[name], rtol=0)


def test_semantic_dedup_micro(emb_micro):
    """SemDeDup domination rule on the planted pair: exactly one of the
    near-identical pair {0, 1} is pruned — the one CLOSER to the label-0
    centroid (higher cent_cosine; the atypical member survives) — and
    vectors with no ≥-threshold neighbor are never pruned."""
    got = {r["vec_id"]: r for r in similarity.semantic_dedup(emb_micro).collect()}
    assert set(got) == set(range(30))  # one row per vector, flag included
    pruned_pair = {v for v in (0, 1) if got[v]["pruned"] == 1}
    assert len(pruned_pair) == 1
    loser = pruned_pair.pop()
    keeper = 1 - loser
    assert (
        got[loser]["cent_cosine"] > got[keeper]["cent_cosine"]
        or (
            got[loser]["cent_cosine"] == got[keeper]["cent_cosine"]
            and keeper < loser
        )
    )
    # random 64-dim vectors never reach cosine 0.9 — nothing else pruned
    assert all(got[v]["pruned"] == 0 for v in range(2, 30))
    # global invariant: each label group's minimum-cent_cosine member
    # survives by construction (it has no strictly-more-atypical neighbor)
    by_label = {}
    for v, r in got.items():
        by_label.setdefault(r["label"], []).append(r)
    # the domination rule prunes v on a cosine tie only when the
    # neighbor has a LOWER vec_id, so the guaranteed survivor is the
    # min by (cent_cosine, vec_id) — nothing can dominate it
    for rows in by_label.values():
        least = min(rows, key=lambda r: (r["cent_cosine"], r["vec_id"]))
        assert least["pruned"] == 0


def test_derive_ivf_centroids_reproduces_pinned(spark):
    """IVF_CENTROIDS_Q is a trained artifact, not a hand-picked table
    (the QUALITY_THETA precedent): re-running the exact-integer Lloyd
    recipe at the sf0.01 corpus it was derived from reproduces the
    pinned 16x64 table bit-for-bit — integer arithmetic end to end, so
    no partitioning or host can move it — and training genuinely moved
    the centroids off their lowest-vec_id init."""
    import os

    from mapreduce_code_spark.operators.ivf_centroids_pinned import (
        IVF_CENTROIDS_Q,
    )

    sf01 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf01):
        pytest.skip(f"derivation corpus {sf01} not on this host")
    emb = load_table(spark, sf01, "embeddings")
    got = similarity.derive_ivf_centroids(emb)
    assert got == [list(c) for c in IVF_CENTROIDS_Q]
    assert len(IVF_CENTROIDS_Q) == 16
    assert all(len(c) == 64 for c in IVF_CENTROIDS_Q)
    init = [
        [int(v) for v in r["qv"]]
        for r in emb.select(
            "vec_id",
            F.transform("embedding", similarity._q).alias("qv"),
        )
        .orderBy("vec_id")
        .limit(16)
        .collect()
    ]
    assert [list(c) for c in IVF_CENTROIDS_Q] != init


def test_ivf_pinned_parity_and_recall(spark, sf_dir):
    """The registered pinned-quantizer serving path: bit-exact DuckDB
    parity at the smoke corpus (assignment, probes, and re-rank all
    mirrored), and at the derivation corpus a partial probe (4 of 16
    cells) still recalls most of the brute-force top-k — the
    approximate-family quality bar, alongside a hash oracle."""
    import os

    from tests.helpers import assert_parity

    emb = load_table(spark, sf_dir, "embeddings")
    assert_parity(
        similarity.ivf_topk_pinned(emb),
        sf_dir,
        similarity.ivf_topk_pinned_sql(),
    )
    sf01 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf01):
        pytest.skip(f"derivation corpus {sf01} not on this host")
    emb01 = load_table(spark, sf01, "embeddings")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.topk_cosine(emb01).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in similarity.ivf_topk_pinned(emb01).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.7  # measured 0.84


def test_near_dup_scalable_vs_exhaustive(spark, sf_dir):
    """The LSH+rerank path is a subset of the exhaustive Jaccard pairs
    (exact precision) and catches most of them (band recall)."""
    docs = load_table(spark, sf_dir, "documents")
    exhaustive = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    scalable = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.near_dup_pairs_scalable(docs, threshold=0.2).collect()
    }
    assert set(scalable) <= set(exhaustive)  # no false positives
    for pair, j in scalable.items():
        assert abs(j - exhaustive[pair]) < 1e-12  # same exact jaccard
    if exhaustive:
        assert len(scalable) / len(exhaustive) >= 0.5  # band recall


def test_short_and_empty_docs_dont_crash(spark):
    """Docs shorter than k words produce zero shingles/fingerprints (the
    sequence(0, negative) slice crash regression) and get NO shingle-id
    set row: an empty set would give every short doc the same empty band
    key and pair them all up as LSH candidates."""
    from mapreduce_code_spark.functions import text as TXT

    docs = spark.createDataFrame(
        [(1, "one two", "en", "s", 7), (2, "", "en", "s", 0),
         (3, "a b c d e f g h", "en", "s", 15),
         (4, "x y", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sets = {r["doc_id"]: r for r in dedup.doc_shingle_sets(docs).collect()}
    assert set(sets) == {3}
    assert sets[3]["sz"] == 6 and sets[3]["sids"] == sorted(sets[3]["sids"])
    assert dedup.minhash_lsh_pairs(docs).count() == 0
    assert dedup.ngram_jaccard_pairs(docs, threshold=0.0).count() == 0
    assert dedup.near_dup_pairs_scalable(docs, threshold=0.0).count() == 0
    odd, even = docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0")
    assert dedup.incremental_near_dups(odd, even, threshold=0.0).count() == 0
    fp = {r["doc_id"] for r in TXT.winnow_fingerprint(docs).collect()}
    assert fp == {3}


def test_zero_duration_media_plans_zero_frames(spark):
    from mapreduce_code_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(2, "", "en", "s", 0)],  # doc_id % 3 == 2 → video, n_chars 0
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = MM.media_from_documents(docs)
    assert media.filter("kind = 'video'").count() == 1
    assert MM.sample_frames(media).count() == 0


def test_dup_components_transitivity(spark):
    """A≈B and B≈C land in ONE component with A as the keeper, even
    though (A,C) is not a pair; disjoint clusters keep separate labels."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (11, 12)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: (r["component"], r["is_keeper"])
        for r in dedup.dup_components_star(pairs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        10: (10, True), 11: (10, False), 12: (10, False),
        20: (20, True), 21: (20, False),
    }


def test_star_contraction_deep_chain_olog_rounds(spark):
    """A 200-node chain (eccentricity 199 — min-label propagation would
    need ~200 rounds) converges under star contraction within its
    25-round O(log n) budget, with every node labeled by the chain min."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["component"], r["is_keeper"])
        for r in dedup.dup_components_star(chain).collect()
    }
    assert got == {i: (0, i == 0) for i in range(200)}


def test_incremental_matches_cross_parity_subset(spark, sf_dir):
    """Signatures are per-document, so the incremental new×corpus pairs
    must equal exactly the cross-parity subset of the full-corpus
    near-dup pairs — no pairs invented, none lost at the shard boundary."""
    docs = load_table(spark, sf_dir, "documents")
    inc = {
        tuple(sorted((r["new_doc"], r["corpus_doc"])))
        for r in dedup.incremental_near_dups(
            docs.filter(F.col("doc_id") % 2 == 1),
            docs.filter(F.col("doc_id") % 2 == 0),
        ).collect()
    }
    full_cross = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.near_dup_pairs_scalable(docs).collect()
        if r["doc_a"] % 2 != r["doc_b"] % 2
    }
    assert inc == full_cross


def test_int8_quantization_roundtrip(emb_micro):
    """Quantized codes reconstruct each element within scale/2 =
    max|x|/254 — the symmetric-quantization error bound — and zero
    vectors quantize to all-zero codes with scale 0."""
    import pyspark.sql.functions as _F

    with_zero = emb_micro.union(
        emb_micro.sparkSession.createDataFrame(
            [(99, [0.0] * 64, 0)], "vec_id long, embedding array<float>, label int"
        )
    )
    q = similarity.quantize_int8(with_zero).collect()
    vecs = {r["vec_id"]: r["embedding"] for r in with_zero.collect()}
    assert all(abs(r["q"]) <= 127 for r in q)
    for r in q:
        scale = r["scale_q9"] / 1e9
        x = vecs[r["vec_id"]][r["pos"]]
        if r["vec_id"] == 99:
            assert r["q"] == 0 and r["scale_q9"] == 0
        else:
            assert abs(r["q"] * scale - x) <= scale / 2 + 1e-9, (
                r["vec_id"], r["pos"])


def test_quality_classifier_hand_checked(spark):
    """z_micro matches the hand-computed integer formula, and the keep
    bit separates a diverse doc from a degenerate repetition."""
    import math

    from mapreduce_code_spark.functions import text as TXT

    good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    bad = "the " * 199 + "the"  # 200 identical stopwords
    docs = spark.createDataFrame(
        [(0, good), (1, bad.strip())], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in TXT.quality_classifier(docs).collect()}

    def z(text):
        words = text.split(" ")
        q6 = lambda r: math.floor(r * 1_000_000.0 + 0.5)
        r_uniq = len(set(words)) / len(words)
        r_stop = min(
            sum(w in TXT.STOPWORDS_EN for w in words) / len(words),
            TXT.QC_STOP_CAP,
        )
        cpw = len(text) / len(words)
        return (
            TXT.QC_W_UNIQ * q6(r_uniq)
            + TXT.QC_W_STOP * q6(r_stop)
            + TXT.QC_W_CPW * q6(cpw)
        )

    assert out[0]["z_micro"] == z(good) and out[0]["keep"] == 1
    assert out[1]["z_micro"] == z(bad.strip())
    # the stopword CAP is what rejects this: uncapped, 200× 'the' would
    # ride r_stop=1.0 to a positive score despite total uniqueness collapse
    assert out[1]["keep"] == 0


def test_redact_pii_hand_checked(spark):
    """Planted realistic PII redacts to exactly the expected string;
    counts are per-kind and pre-redaction; clean text passes untouched."""
    from mapreduce_code_spark.functions import text as TXT

    docs = spark.createDataFrame(
        [
            (
                0,
                "reach alice.smith+work@mail.co or bob@sub.example.org, "
                "call +44-201-555-0199, server 192.168.1.254 down",
            ),
            (1, "no pii here, just 1.2 version numbers and a plus + sign"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TXT.redact_pii(docs).collect()}
    assert out[0]["redacted"] == (
        "reach <EMAIL> or <EMAIL>, call <PHONE>, server <IP> down"
    )
    assert (out[0]["n_emails"], out[0]["n_phones"], out[0]["n_ips"]) == (2, 1, 1)
    assert out[1]["redacted"] == docs.collect()[1]["text"]
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (0, 0, 0)


def test_repetition_stats_hand_checked(spark):
    """Gopher duplicate-n-gram fractions on a crafted doc: 'a b a b a'
    has 2-grams [a b, b a, a b, b a] — all 4 occurrences duplicated,
    top gram count 2."""
    from mapreduce_code_spark.functions import text as TXT

    docs = spark.createDataFrame(
        [(1, "a b a b a", "en", "s", 9),
         (2, "all words differ here now", "en", "s", 25),
         (3, "x", "en", "s", 1)],  # shorter than n: no row
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in TXT.repetition_stats(docs).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_ngrams"] == 4
    assert rows[1]["n_dup_ngrams"] == 4
    assert rows[1]["top_ngram_count"] == 2
    assert rows[1]["dup_ngram_frac"] == 1.0
    assert rows[1]["top_ngram_frac"] == 0.5
    assert rows[2]["n_dup_ngrams"] == 0 and rows[2]["dup_ngram_frac"] == 0.0


def test_contamination_semantics_and_plan(spark):
    """A train doc sharing a 3-gram with the eval suite is flagged with
    its distinct shared-gram count; disjoint docs are not. The eval side
    must be BROADCAST (the corpus never shuffles for the probe)."""
    from mapreduce_code_spark.functions import text as TXT

    mk = "doc_id long, text string, lang string, source string, n_chars long"
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "en", "s", 25),
         (2, "totally unrelated words here", "en", "s", 28),
         (3, "quick brown fox runs quick brown fox", "en", "s", 36)],
        mk,
    )
    ev = spark.createDataFrame(
        [(100, "a quick brown fox appeared", "en", "s", 26)], mk
    )
    out = TXT.ngram_contamination(train, ev, k=3)
    rows = {r["doc_id"]: r["n_shared_ngrams"] for r in out.collect()}
    # doc 1 shares "quick brown fox"; doc 3 shares the same (distinct → 1)
    assert rows == {1: 1, 3: 1}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_chunking_semantics(spark):
    """Chunk boundaries: size=4/stride=3 over 10 words → starts 0,3,6
    with the tail chunk truncated; a doc shorter than size yields one
    whole-doc chunk; no shuffle in the plan (pure narrow map)."""
    from mapreduce_code_spark.operators import sampling as SMP

    mk = "doc_id long, text string, lang string, source string, n_chars long"
    ten = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    docs = spark.createDataFrame(
        [(1, ten, "en", "s", len(ten)), (2, "a b", "en", "s", 3)], mk
    )
    out = SMP.chunk_documents(docs, size=4, stride=3)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    assert {(d, c) for d, c in rows} == {(1, 0), (1, 1), (1, 2), (2, 0)}
    assert rows[(1, 0)]["chunk_text"] == "w0 w1 w2 w3"
    assert rows[(1, 1)]["chunk_text"] == "w3 w4 w5 w6"
    assert rows[(1, 2)]["chunk_text"] == "w6 w7 w8 w9"
    assert rows[(1, 2)]["chunk_words"] == 4 and rows[(1, 2)]["start_word"] == 6
    assert rows[(2, 0)]["chunk_text"] == "a b" and rows[(2, 0)]["chunk_words"] == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # chunking must not shuffle


def test_source_cap_semantics_and_plan(spark):
    """Cap keeps at most `cap` docs per source, deterministically, and
    the rank filter must compile to WindowGroupLimit (map-side pruning
    for hot domains)."""
    from mapreduce_code_spark.operators import sampling as SMP

    mk = "doc_id long, text string, lang string, source string, n_chars long"
    rows = [(i, "t", "en", "big" if i < 30 else "small", 1) for i in range(35)]
    docs = spark.createDataFrame(rows, mk)
    out = SMP.source_cap_sample(docs, cap=20)
    got = out.collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src["big"]) == 20 and len(by_src["small"]) == 5
    # pure function of the data: a second run selects the identical set
    again = {r["doc_id"] for r in SMP.source_cap_sample(docs, cap=20).collect()}
    assert again == by_src["big"] | by_src["small"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_dup_spans_micro(docs_micro):
    """Identical docs are one full-width span each; a doc with no 8-gram
    shared with any other doc emits no row; the near-dup's span excludes
    the edited region's unique grams."""
    from mapreduce_code_spark.operators import dedup as DD

    n_words = len(BASE.split(" "))
    out = {r["doc_id"]: r for r in DD.dup_spans(docs_micro, n=8).collect()}
    assert 3 not in out  # unrelated doc: no shared 8-grams
    for d in (0, 1):  # exact dups: every position duplicated, one span
        assert out[d]["span_start"] == 0
        assert out[d]["span_end"] == n_words
        assert out[d]["n_dup_grams"] == n_words - 7
    # near-dup shares prefix and suffix grams but not those crossing the
    # one-word edit — its duplicated-gram count is strictly smaller
    assert 2 in out and out[2]["n_dup_grams"] < n_words - 7


def test_label_centroids_exact(spark):
    """Centroid of known vectors is exact: quantized integer sums, one
    IEEE division; single shuffle with partial aggregation."""
    from mapreduce_code_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0], 7), (1, [3.0, 4.0], 7), (2, [10.0, -10.0], 8)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {(r["label"], r["pos"]): r for r in SIM.label_centroids(emb).collect()}
    assert out[(7, 1)]["centroid"] == 2.0 and out[(7, 2)]["centroid"] == 3.0
    assert out[(8, 1)]["centroid"] == 10.0 and out[(8, 2)]["centroid"] == -10.0
    assert out[(7, 1)]["n"] == 2 and out[(7, 1)]["sum_q"] == 40_000_000


def test_assign_centroids_matches_bruteforce(emb_micro):
    """Every vector's assigned label equals the numpy argmax of cosine
    against per-label means under the module's 1e-7 quantization."""
    import numpy as np
    from mapreduce_code_spark.operators import similarity as SIM

    rows = emb_micro.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    labels = {r["vec_id"]: r["label"] for r in rows}
    S = SIM.SCALE
    by_label = {}
    for vid, v in vecs.items():
        by_label.setdefault(labels[vid], []).append(np.floor(v * S + 0.5))
    cents = {
        lab: np.stack(qs).sum(axis=0) / (len(qs) * S)
        for lab, qs in by_label.items()
    }
    got = {r["vec_id"]: r for r in SIM.assign_centroids(emb_micro).collect()}
    assert set(got) == set(vecs)
    for vid, v in vecs.items():
        qv = np.floor(v * S + 0.5)
        best = max(
            sorted(cents),
            key=lambda lab: float(
                (qv * np.floor(cents[lab] * S + 0.5)).sum()
                / (np.sqrt((qv * qv).sum())
                   * np.sqrt((np.floor(cents[lab] * S + 0.5) ** 2).sum()))
            ),
        )
        assert got[vid]["assigned_label"] == best, vid
        assert -1.0 <= got[vid]["cosine"] <= 1.0


# ------------------------------------------------- hybrid retrieval (RRF)


def test_hybrid_rrf_oracle_parity_exact(spark, sf_dir):
    from mapreduce_code_spark.operators import similarity as S

    df = S.hybrid_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )
    assert_parity(df, sf_dir, S.hybrid_rrf_sql(), rtol=0)


def test_hybrid_rrf_fuses_both_legs(spark, sf_dir):
    from mapreduce_code_spark.operators import similarity as S

    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    out = S.hybrid_rrf(docs, embs).collect()
    # every query emits exactly k=10 ranked rows, ranks 1..10
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(5))
    for q, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == list(range(1, 11))
        # scores non-increasing in rank; a doc present in BOTH legs with
        # better ranks never scores below one with worse ranks in both
        rows = sorted(rows, key=lambda r: r["rank"])
        scores = [r["rrf_score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
    # fusion actually mixes: some fused row exists that is missing from
    # one leg (NULL rank on that side)
    assert any(r["r_dense"] is None or r["r_sparse"] is None for r in out)
    assert any(
        r["r_dense"] is not None and r["r_sparse"] is not None for r in out
    )


def test_keyword_ranked_matches_brute_force(spark, sf_dir):
    from mapreduce_code_spark.operators import similarity as S

    docs = load_table(spark, sf_dir, "documents")
    pdf = docs.select("doc_id", "text").toPandas()
    vocab = {
        int(r.doc_id): {w for w in str(r.text).split(" ") if w}
        for r in pdf.itertuples()
    }
    got = {
        (r["query_id"], r["doc_id"]): r["overlap"]
        for r in S.keyword_ranked(docs, n_queries=3, k=10**9).collect()
    }
    want = {}
    for q in range(3):
        for d, ws in vocab.items():
            if d == q:
                continue
            ov = len(vocab[q] & ws)
            if ov:
                want[(q, d)] = ov
    assert got == want


def test_bpe_merges_sennrich_example(spark):
    """The classic corpus from Sennrich et al. 2016 (low×5, lower×2,
    newest×6, widest×3, no end-of-word marker): first four merges are
    hand-computable — (e,s)@9, (es,t)@9, then the 7-count tie between
    (l,o) and (o,w) breaks to the lexicographically smaller (l,o), then
    (lo,w)@7."""
    from mapreduce_code_spark.functions import text as TXT

    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    docs = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
    got = [
        (r["merge_round"], r["lhs"], r["rhs"], r["merged"], r["pair_cnt"])
        for r in TXT.bpe_merges(docs, n_merges=4)
        .orderBy("merge_round")
        .collect()
    ]
    assert got == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "l", "o", "lo", 7),
        (4, "lo", "w", "low", 7),
    ]


def test_bpe_merges_greedy_overlap_and_tiebreak(spark):
    """'aaa aaaa': round 1 counts the OVERLAPPING (a,a) pairs (2+3=5)
    but applies the merge greedily left-to-right (aaa→[aa,a],
    aaaa→[aa,aa]); round 2's 1-count tie between (aa,a) and (aa,aa)
    breaks on the smaller rhs."""
    from mapreduce_code_spark.functions import text as TXT

    docs = spark.createDataFrame(
        [(0, "aaa aaaa")], "doc_id long, text string"
    )
    got = [
        (r["merge_round"], r["lhs"], r["rhs"], r["merged"], r["pair_cnt"])
        for r in TXT.bpe_merges(docs, n_merges=2)
        .orderBy("merge_round")
        .collect()
    ]
    assert got == [(1, "a", "a", "aa", 5), (2, "aa", "a", "aaa", 1)]


def test_bpe_oracles_survive_pair_exhaustion(spark):
    """A corpus that runs out of learnable pairs before n_merges rounds
    ('ab ab': one merge, then the word is a single symbol) must yield
    the same truncated merge table AND the same encoding in BOTH
    engines — the oracle's exhausted rounds are identity maps (COALESCE
    impossible-needle guard), not NULL poison that empties the result."""
    import duckdb
    import pandas as pd

    from mapreduce_code_spark.functions import text as TXT

    rows = [(0, "ab ab"), (1, "ab cd")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )

    merges = [
        tuple(r)
        for r in TXT.bpe_merges(docs, n_merges=3)
        .orderBy("merge_round")
        .collect()
    ]
    want_merges = [
        tuple(r) for r in con.sql(
            TXT.bpe_merges_sql(n_merges=3)
            + " ORDER BY merge_round"
        ).fetchall()
    ]
    assert merges == want_merges
    # rounds 1-2 learn (a,b) then (c,d); round 3 has NO pairs left —
    # truncated to 2 rows, not 3, in both engines
    assert [m[:4] for m in merges] == [
        (1, "a", "b", "ab"),
        (2, "c", "d", "cd"),
    ]

    got = sorted(
        tuple(r)
        for r in TXT.bpe_encode(docs, TXT.bpe_merges(docs, n_merges=3))
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in con.sql(TXT.bpe_encode_sql(n_merges=3)).fetchall()
    )
    assert got == want
    # both learned rules applied, exhausted round 3 a no-op — nothing
    # nulled, nothing dropped
    assert got == sorted(
        [(0, 0, "ab"), (0, 1, "ab"), (1, 0, "ab"), (1, 1, "cd")]
    )


def test_bpe_merges_rejects_zero_rounds(spark):
    """n_merges=0 has no merge table to return — a descriptive
    ValueError, not an IndexError from the union fold."""
    import pytest

    from mapreduce_code_spark.functions import text as TXT

    docs = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_merges"):
        TXT.bpe_merges(docs, n_merges=0)


def test_quality_filter_train_and_score_separates(spark):
    """End-to-end model-based quality filter: train logistic SGD on a
    planted labeled sample (clean English prose vs degenerate token
    spam), score the full corpus with the learned theta, and the margin
    separates the classes perfectly — and monotonically agrees with the
    labels the trainer saw."""
    from mapreduce_code_spark.plans import pipeline as P

    good = [
        "the quick brown fox jumps over a lazy dog and the day is "
        "bright in the field of tall grass where the birds sing to "
        "the morning sun that rises over the hill"
        + f" extra words number {i} pad the text a bit more"
        for i in range(20)
    ]
    bad = [" ".join(["zzz"] * (30 + i)) for i in range(20)]
    rows = [(i, t) for i, t in enumerate(good)] + [
        (100 + i, t) for i, t in enumerate(bad)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    labels = spark.createDataFrame(
        [(i, 1.0) for i in range(20)] + [(100 + i, 0.0) for i in range(20)],
        "doc_id long, y double",
    )
    res = P.fit_quality_filter(docs, labels, max_iter=30)
    scored = P.score_quality_filter(docs, res.theta).toPandas()
    g = scored[scored.doc_id < 100]["margin"]
    b = scored[scored.doc_id >= 100]["margin"]
    assert g.min() > b.max()  # perfect separation on the planted corpus


def test_quality_filter_scores_streams(spark, sf_dir, tmp_path):
    """score_quality_filter is a stateless projection, so a trained
    theta scores an incoming document STREAM unchanged — the filter
    drops straight into an ingest pipeline; streamed margins equal the
    batch margins exactly."""
    from mapreduce_code_spark.plans import pipeline as P

    docs = load_table(spark, sf_dir, "documents").limit(100)
    theta = [0.5, -1.0, 2.0, 3.0, -0.25]  # any valid arity works
    src = str(tmp_path / "docs_stream")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        P.score_quality_filter(stream, theta)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("qf_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = (
            spark.table("qf_stream")
            .toPandas()
            .set_index("doc_id")["margin"]
            .sort_index()
        )
    finally:
        q.stop()
    want = (
        P.score_quality_filter(docs, theta)
        .toPandas()
        .set_index("doc_id")["margin"]
        .sort_index()
    )
    assert (got == want).all()


def test_quality_margins_registered_oracle_parity(spark, sf_dir):
    """The registered scoring row (pipeline_quality_margins, r6 verdict
    #7): margin = θ·x with the pinned QUALITY_THETA hash-matches the
    DuckDB twin bit-for-bit (IEEE-exact fold, every literal
    double-cast), and the margins are non-degenerate (the features
    actually vary — a constant column would pass parity vacuously)."""
    from mapreduce_code_spark.registry import oracle_sql, queries
    from tests.helpers import assert_parity

    df = queries()["pipeline_quality_margins"](spark, sf_dir)
    assert_parity(df, sf_dir, oracle_sql()["pipeline_quality_margins"])
    margins = [r["margin"] for r in df.collect()]
    assert len(set(margins)) > 1 and len(margins) > 0


def test_quality_theta_reproduces_from_its_recipe(spark):
    """QUALITY_THETA is a trained artifact, not a hand-picked vector:
    re-running derive_quality_theta at the sf0.01 corpus it was derived
    from (heuristic-gate bootstrap labels riding the feature projection,
    single sequential partition — host-independent trajectory)
    reproduces the pinned dyadic vector
    bit-for-bit, and the pinned vector actually separates the gate's
    classes (higher mean margin on gate-passing docs)."""
    import os

    from mapreduce_code_spark.functions.text import quality_score
    from mapreduce_code_spark.plans import pipeline as P

    sf01 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf01):
        pytest.skip(f"derivation corpus {sf01} not on this host")
    docs = load_table(spark, sf01, "documents")
    assert P.derive_quality_theta(docs) == list(P.QUALITY_THETA)
    labels = quality_score(docs).select(
        "doc_id",
        (F.col("quality") >= P.MIN_QUALITY).cast("double").alias("y"),
    )
    means = {
        r["y"]: r["m"]
        for r in P.score_quality_filter(docs, P.QUALITY_THETA)
        .join(labels, "doc_id")
        .groupBy("y")
        .agg(F.avg("margin").alias("m"))
        .collect()
    }
    assert means[1.0] > means[0.0]


def test_bpe_encode_sennrich_example(spark):
    """Encoding with the 4 merges trained on the Sennrich corpus:
    'lowest' folds to [low, est] (es→est→lo→low apply in training
    order), 'newest'/'widest' keep their unmergeable prefixes, 'low'
    is a single token; pos numbers the doc-wide token stream."""
    from mapreduce_code_spark.functions import text as TXT

    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    train = spark.createDataFrame(
        [(0, corpus)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(7, "lowest newest widest low"), (8, "???"), (9, "")],
        "doc_id long, text string",
    )
    got = [
        (r["doc_id"], r["pos"], r["token"])
        for r in TXT.bpe_encode(docs, TXT.bpe_merges(train, n_merges=4))
        .orderBy("doc_id", "pos")
        .collect()
    ]
    want_tokens = [
        "low", "est",            # lowest
        "n", "e", "w", "est",    # newest
        "w", "i", "d", "est",    # widest
        "low",                   # low
    ]
    # docs 8 and 9 have no BPE words -> no rows
    assert got == [(7, i, t) for i, t in enumerate(want_tokens)]


def test_bpe_merges_matches_oracle(spark, sf_dir):
    from mapreduce_code_spark.functions import text as TXT

    assert_parity(
        TXT.bpe_merges(load_table(spark, sf_dir, "documents")),
        sf_dir,
        TXT.bpe_merges_sql(),
    )


def test_bpe_encode_matches_oracle(spark, sf_dir):
    """The registered train-then-encode row: full-corpus vocabulary
    applied to the deterministic 1-in-5 document slice, token stream
    hash-equal to the unrolled DuckDB twin."""
    from mapreduce_code_spark.registry import oracle_sql, queries

    assert_parity(
        queries()["text_bpe_encode"](spark, sf_dir),
        sf_dir,
        oracle_sql()["text_bpe_encode"],
    )
