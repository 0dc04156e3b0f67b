"""E4 trainable quality classifier — training, scoring, export, curation.

Pins the verdict-item-4 contract: distributed training is exactly the
pure-Python reference on a single partition (bit-equality), separates
planted labels (AUC), and the frozen-vocab export serves the same dot
product as the hashed model (within weight-rounding) through a pure
JVM Column expression.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from opcua_ingestion_engine_spark.operators import quality as Q
from opcua_ingestion_engine_spark.session import local_frame

pytestmark = pytest.mark.usefixtures("executed_plans")


GOOD_WORDS = ["insight", "theorem", "evidence", "rigorous", "analysis"]
BAD_WORDS = ["click", "buy", "winner", "free", "casino"]
COMMON = ["the", "a", "of", "data", "table", "and", "with"]


def _planted_corpus(n=400, seed=7):
    """Synthetic labeled docs: good docs draw from GOOD_WORDS + COMMON,
    bad from BAD_WORDS + COMMON — linearly separable by construction."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        y = i % 2
        pool = (GOOD_WORDS if y else BAD_WORDS) + COMMON
        words = [rng.choice(pool) for _ in range(rng.randint(10, 25))]
        rows.append((i, " ".join(words), float(y)))
    return rows


def _train_reference(rows, n_features, epochs, lr, l2):
    """Independent pure-Python trainer: same feature hash, same scalar
    sigmoid convention, same full-batch update — the parity oracle."""
    w = np.zeros(n_features, dtype=np.float64)
    b = 0.0
    for _ in range(epochs):
        g = np.zeros(n_features, dtype=np.float64)
        gb = 0.0
        for _, text, y in rows:
            counts: dict[int, int] = {}
            for t in text.split(" "):
                if t:
                    h = Q._hash_token(t, n_features)
                    counts[h] = counts.get(h, 0) + 1
            idx = np.fromiter(counts.keys(), dtype=np.int64, count=len(counts))
            cnt = np.fromiter(
                counts.values(), dtype=np.float64, count=len(counts)
            )
            z = b + float(w[idx] @ cnt)
            if z >= 0:
                p = 1.0 / (1.0 + math.exp(-z))
            else:
                e = math.exp(z)
                p = e / (1.0 + e)
            err = p - y
            np.add.at(g, idx, err * cnt)
            gb += err
        n = len(rows)
        w = w - lr * (g / n + l2 * w)
        b = b - lr * (gb / n)
    return w, b


def _auc(scores_labels):
    """Exact AUC by rank statistic (ties get midranks)."""
    ranked = sorted(scores_labels)
    pos = sum(1 for _, y in scores_labels if y == 1.0)
    neg = len(scores_labels) - pos
    # midrank handling: group equal scores
    ranks = {}
    i = 0
    while i < len(ranked):
        j = i
        while j < len(ranked) and ranked[j][0] == ranked[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        for k in range(i, j):
            ranks[k] = mid
        i = j
    rank_sum = sum(ranks[k] for k, (_, y) in enumerate(ranked) if y == 1.0)
    return (rank_sum - pos * (pos + 1) / 2.0) / (pos * neg)


def test_train_separates_planted_labels_and_is_deterministic(spark):
    rows = _planted_corpus()
    df = local_frame(spark,
        rows, "doc_id long, text string, label double"
    ).repartition(6)
    model = Q.train_quality_classifier(
        df, n_features=1 << 12, epochs=20, lr=0.5, l2=1e-4
    )
    scored = Q.score_quality(df, model)
    pairs = [
        (r["quality_score"], r["label"])
        for r in scored.select("quality_score", "label").collect()
    ]
    auc = _auc(pairs)
    assert auc >= 0.95, auc
    # signal direction is learnable per-token too
    assert model.token_weight("insight") > 0 > model.token_weight("casino")

    # full-batch GD on a fixed layout is bit-deterministic
    model2 = Q.train_quality_classifier(
        df, n_features=1 << 12, epochs=20, lr=0.5, l2=1e-4
    )
    assert model2.bias == model.bias
    assert np.array_equal(model2.weights, model.weights)


def test_train_matches_pure_python_reference_exactly(spark):
    """On a single partition the distributed trainer IS the reference:
    one partial gradient, same row order, same scalar ops — weights and
    bias must be bit-equal, not approximately equal."""
    rows = _planted_corpus(n=60, seed=3)
    df = local_frame(spark,
        rows, "doc_id long, text string, label double"
    ).coalesce(1)
    nf, epochs, lr, l2 = 1 << 10, 8, 0.3, 1e-3
    model = Q.train_quality_classifier(
        df, n_features=nf, epochs=epochs, lr=lr, l2=l2
    )
    w_ref, b_ref = _train_reference(rows, nf, epochs, lr, l2)
    assert model.bias == b_ref
    assert np.array_equal(model.weights, w_ref)


def test_vocab_export_serves_the_same_dot_product(spark):
    """to_vocab + score_quality_vocab (pure JVM decimal fold) reproduces
    the hashed model's logit within the 6-dp weight rounding."""
    rows = _planted_corpus(n=120, seed=11)
    df = local_frame(spark, rows, "doc_id long, text string, label double")
    model = Q.train_quality_classifier(
        df, n_features=1 << 12, epochs=12, lr=0.5, l2=1e-4
    )
    all_tokens = sorted({t for _, text, _ in rows for t in text.split(" ")})
    vocab = model.to_vocab(all_tokens)
    out = Q.score_quality_vocab(
        df, vocab, round(model.bias, 6)
    ).select("doc_id", "text", "quality_logit", "keep").collect()
    for r in out:
        toks = r["text"].split(" ")
        exact = model.bias + sum(model.token_weight(t) for t in toks if t)
        # rounding each weight to 6dp bounds the drift by 5e-7 per token
        assert abs(r["quality_logit"] - exact) <= 5e-7 * len(toks) + 1e-9
        assert r["keep"] == (r["quality_logit"] > 0)


def test_vocab_scoring_edges(spark):
    """No-vocab-hit docs score exactly the bias; empty vocab matches
    nothing; decimal fold is exact (no float accumulation drift)."""
    df = local_frame(spark,
        [(0, "zzz yyy xxx"), (1, "pos pos neg"), (2, "pos")],
        "doc_id long, text string",
    )
    vocab = {"pos": 0.25, "neg": -0.1}
    got = {
        r["doc_id"]: (r["quality_logit"], r["keep"])
        for r in Q.score_quality_vocab(df, vocab, bias=-0.05).collect()
    }
    assert got[0] == (-0.05, False)
    # exact decimal fold: 0.35 on the nose, where a float accumulation
    # of 0.25+0.25-0.1-0.05 would land on 0.35000000000000003
    assert got[1] == (0.35, True)
    assert got[2] == (0.2, True)


def test_curate_corpus_model_mode(spark):
    """curate_corpus(quality='model') gates on the classifier and still
    dedups: a low-scoring doc is dropped by the model gate, exact dups
    of survivors collapse, and the rules/model pipelines differ only in
    stage 1."""
    rows = [
        (1, "insight analysis the data table evidence rigorous", "en"),
        (2, "insight analysis the data table evidence rigorous", "en"),  # dup
        (3, "casino winner free click buy casino winner free", "en"),
        (4, "theorem evidence of rigorous analysis and insight", "en"),
    ]
    df = local_frame(spark, rows, "doc_id long, text string, lang string")
    vocab = {w: 0.5 for w in GOOD_WORDS}
    vocab.update({w: -0.5 for w in BAD_WORDS})
    from opcua_ingestion_engine_spark.operators.curate import curate_corpus

    kept = curate_corpus(
        df, quality="model", model=(vocab, 0.0), near_threshold=0.95
    )
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert ids == {1, 4}  # 2 exact-dup-collapsed, 3 model-gated

    # hashed-model form of the same gate
    labeled = df.withColumn(
        "label", F.when(F.col("doc_id") == 3, 0.0).otherwise(1.0)
    )
    model = Q.train_quality_classifier(
        labeled, n_features=1 << 10, epochs=25, lr=1.0, l2=0.0
    )
    kept2 = curate_corpus(df, quality="model", model=model, near_threshold=0.95)
    assert {r["doc_id"] for r in kept2.select("doc_id").collect()} == {1, 4}

    with pytest.raises(ValueError, match="quality"):
        curate_corpus(df, quality="nonsense")
    with pytest.raises(ValueError, match="model"):
        curate_corpus(df, quality="model", model="not-a-model")


def test_null_text_scores_null(spark):
    """NULL text must score NULL in the hashed-model Arrow kernel —
    the vocab path's SQL convention (split(NULL) -> NULL logit) — and
    train as the empty document, instead of crashing on txt.split of
    None (ADVICE r8)."""
    labeled = local_frame(spark,
        [
            (1, "insight analysis rigorous evidence", 1.0),
            (2, "casino winner free click", 0.0),
            (3, None, 0.0),  # null text trains as the empty doc
        ],
        "doc_id long, text string, label double",
    )
    model = Q.train_quality_classifier(
        labeled, n_features=1 << 10, epochs=5, lr=0.5, l2=0.0
    )
    scored = {
        r["doc_id"]: r["quality_score"]
        for r in Q.score_quality(labeled, model).collect()
    }
    assert scored[3] is None  # NULL score, like split(NULL) in SQL
    assert 0.0 < scored[1] < 1.0 and 0.0 < scored[2] < 1.0
    # vocab path has the same convention: NULL text -> NULL logit,
    # NULL keep (gated out)
    vdf = Q.score_quality_vocab(
        labeled, {"insight": 0.5}, bias=-0.25
    ).collect()
    by_id = {r["doc_id"]: r for r in vdf}
    assert by_id[3]["quality_logit"] is None
    assert by_id[3]["keep"] is None
    assert by_id[1]["quality_logit"] == pytest.approx(0.25)
