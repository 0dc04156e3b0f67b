"""E8 dataset-assembly semantics (operators/datapipe.py): deterministic
splits and their fraction bounds, stratified mixing rates, planted
benchmark contamination, and chunk-packing arithmetic. Oracle parity
runs separately in test_parity.py; these pin the semantics the hash
equality alone can't show."""

from __future__ import annotations

import pytest

from opcua_ingestion_engine_spark.session import local_frame

from tests.conftest import SF_CORRECT

pytestmark = pytest.mark.usefixtures("executed_plans")


@pytest.fixture(scope="module")
def docs(spark):
    from opcua_ingestion_engine_spark import catalog as C

    return C.load_table(spark, SF_CORRECT, "documents")


def test_frac_hex_edges():
    from opcua_ingestion_engine_spark.operators.datapipe import frac_hex

    assert frac_hex(0.0) == "0000"
    assert frac_hex(0.5) == "8000"
    assert frac_hex(1.0) == "g"          # sorts after every hex string
    assert frac_hex(0.999999) == "g"     # rounds to 2^16 -> keep-all, not 0000
    assert frac_hex(0.99999) == "ffff"   # rounds to 65535 -> still hex
    assert frac_hex(0.8) == "cccd"
    with pytest.raises(ValueError):
        frac_hex(1.5)


def test_split_fractions_and_determinism(spark, docs):
    from opcua_ingestion_engine_spark.operators import datapipe as DP

    out = {r["doc_id"]: r["split"] for r in DP.split_assign(docs).collect()}
    n = len(out)
    counts = {s: sum(1 for v in out.values() if v == s) for s in ("train", "val", "test")}
    assert sum(counts.values()) == n
    # md5 buckets are uniform: 500 docs stay within generous binomial bounds
    assert 0.7 <= counts["train"] / n <= 0.9
    assert 0.04 <= counts["val"] / n <= 0.17
    assert 0.04 <= counts["test"] / n <= 0.17

    # determinism + stability: rerun identical; a different salt re-rolls
    out2 = {r["doc_id"]: r["split"] for r in DP.split_assign(docs).collect()}
    assert out == out2
    out3 = {
        r["doc_id"]: r["split"]
        for r in DP.split_assign(docs, salt="other-salt").collect()
    }
    assert out != out3

    # growth stability: assignment of a doc doesn't depend on the corpus
    subset = {
        r["doc_id"]: r["split"]
        for r in DP.split_assign(docs.limit(50)).collect()
    }
    assert all(out[k] == v for k, v in subset.items())


def test_stratified_sample_rates(spark, docs):
    from pyspark.sql import functions as F

    from opcua_ingestion_engine_spark.operators import datapipe as DP

    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {
        r["lang"]: r["n"]
        for r in DP.stratified_sample(docs, {"de": 1.0, "en": 0.25}, default_rate=0.0)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert kept.get("de") == totals["de"]          # rate 1.0 keeps ALL
    langs_kept = set(kept)
    assert "de" in langs_kept and langs_kept <= {"de", "en"}  # default 0 drops others
    if "en" in kept:
        assert 0.1 <= kept["en"] / totals["en"] <= 0.45


def test_contamination_planted(spark):
    from opcua_ingestion_engine_spark.operators import datapipe as DP

    bench_text = "the secret benchmark question about ducks flying south for winter"
    rows = [
        (0, bench_text),                                  # benchmark (0 % 97 == 0)
        (1, "completely unrelated text with no overlap at all in any gram here"),
        # copies the full benchmark sentence (>= one shared 8-gram)
        (2, f"prefix words then {bench_text} and a suffix"),
        (3, "another clean document that shares nothing with the benchmark set"),
    ]
    docs = local_frame(spark, rows, "doc_id long, text string")
    out = {r["doc_id"]: r["contaminated"] for r in DP.contamination_flags(docs).collect()}
    assert 0 not in out                 # benchmark docs are not scored
    assert out == {1: False, 2: True, 3: False}


def test_pack_chunks_arithmetic(spark):
    from opcua_ingestion_engine_spark.operators import datapipe as DP

    rows = [
        (1, "en", "a b c d"),        # 4 tokens, start 0, chunk 0
        (2, "en", "e f g"),          # start 4 -> crosses the max_tokens=6 cut? no: chunk 0
        (3, "en", "h i"),            # start 7 -> chunk 1
        (10, "de", "x y z"),         # separate shard: start 0, chunk 0
    ]
    docs = local_frame(spark, rows, "doc_id long, lang string, text string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["start_offset"], r["chunk_id"])
        for r in DP.pack_chunks(docs, max_tokens=6).collect()
    }
    assert out == {
        1: (4, 0, 0),
        2: (3, 4, 0),
        3: (2, 7, 1),
        10: (3, 0, 0),
    }


def test_pii_redaction_semantics(spark):
    from opcua_ingestion_engine_spark.operators.text import redact_pii

    rows = [
        (1, "contact john.doe+spam@example.co.uk or visit 192.168.1.1 today"),
        (2, "call +1 (555) 123-4567 now; backup line 555 987 6543 ok"),
        (3, "clean text with no pii at all just words"),
        (4, "edge 999.999.999.999 and a@b.io and 12345678901"),
    ]
    docs = local_frame(spark, rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}

    assert out[1]["clean_text"] == "contact <EMAIL> or visit <IP> today"
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (1, 1, 0)
    assert out[2]["clean_text"] == "call <PHONE> now; backup line <PHONE> ok"
    assert out[2]["n_phone"] == 2
    assert out[3]["clean_text"] == rows[2][1]  # untouched
    assert (out[3]["n_email"], out[3]["n_ip"], out[3]["n_phone"]) == (0, 0, 0)
    # long digit run redacts as phone-like; >255 octets still match the
    # syntactic IPv4 shape (documented: shape, not semantic validity)
    assert out[4]["clean_text"] == "edge <IP> and <EMAIL> and <PHONE>"


def test_repetition_metrics_planted(spark):
    from opcua_ingestion_engine_spark.operators.text import repetition_metrics

    rows = [
        (1, "spam spam spam spam spam spam spam spam spam ham"),  # 9/10 one word
        (2, "all words here are fully distinct tokens okay"),     # 8 distinct
        (3, "one"),                                               # shorter than bigram
    ]
    docs = local_frame(spark, rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}

    assert out[1]["n_tokens"] == 10
    assert abs(out[1]["top_word_frac"] - 0.9) < 1e-12
    # "spam spam" fills 8 of 9 bigram slots
    assert abs(out[1]["top_bigram_frac"] - 8 / 9) < 1e-12
    assert abs(out[2]["top_word_frac"] - 1 / 8) < 1e-12
    # single-token doc: whole-text gram on both lanes -> fraction 1.0
    assert out[3]["top_word_frac"] == 1.0 and out[3]["top_bigram_frac"] == 1.0


def test_heavy_hitters_planted_adversarial_partitioning(spark):
    """MG sketch correctness under the worst layout: the heavy token's
    occurrences split across many partitions, capacity at the guarantee
    floor. The verify phase must still return the exact answer."""
    import pyspark.sql.functions as F

    from opcua_ingestion_engine_spark.operators.text import frequent_tokens

    # 400 docs of unique-ish filler + 'hot' in 10% of docs (freq ~ 3.3%
    # of tokens); 'warm' just under a 5% threshold on purpose
    rows = []
    for i in range(400):
        base = f"tok{i}a tok{i}b"
        if i % 10 == 0:
            base += " hot"
        rows.append((i, base))
    docs = local_frame(spark, rows, "doc_id long, text string").repartition(16)

    out = {r["token"]: r["cnt"] for r in
           frequent_tokens(docs, min_frac=0.02, capacity=50).collect()}
    total = 400 * 2 + 40
    assert out == {"hot": 40}, out
    assert 40 > 0.02 * total

    # threshold above the planted frequency -> empty result, not noise
    none = frequent_tokens(docs, min_frac=0.1, capacity=50).collect()
    assert none == []

    # determinism across layouts: a different partitioning, same answer
    out2 = {r["token"]: r["cnt"] for r in
            frequent_tokens(docs.repartition(3), min_frac=0.02,
                            capacity=50).collect()}
    assert out2 == out


def test_unigram_logprob_hand_computed(spark):
    """Tiny corpus where the unigram distribution is computable by hand:
    6 tokens total, 'a' x3, 'b' x2, 'c' x1."""
    import math

    from opcua_ingestion_engine_spark.operators.text import unigram_logprob

    docs = local_frame(spark,
        [(1, "a a b"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["n_tokens"], r["nll"]) for r in
           unigram_logprob(docs).collect()}
    def dec6(x):
        # mirror the DECIMAL(38,6) cast of each addend
        return round(x, 6)
    nll1 = -(2 * dec6(math.log(3 / 6)) + dec6(math.log(2 / 6))) / 3
    nll2 = -(dec6(math.log(3 / 6)) + dec6(math.log(2 / 6))
             + dec6(math.log(1 / 6))) / 3
    assert out[1][0] == 3 and abs(out[1][1] - nll1) < 1e-9
    assert out[2][0] == 3 and abs(out[2][1] - nll2) < 1e-9
    # rare-token soup scores strictly worse (higher nll)
    assert out[2][1] > out[1][1]


def _model_bpe(word_counts, n_merges, min_count=2):
    """Pure-Python reference BPE trainer (Sennrich alg.) — same tie-break
    (count desc, then lexicographic pair) as operators/bpe.py."""
    state = {}
    for w, c in word_counts.items():
        state[tuple(w)] = state.get(tuple(w), 0) + c
    merges = []
    for _ in range(n_merges):
        pc = {}
        for syms, c in state.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + c
        if not pc:
            break
        (left, right), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append((left, right, cnt))
        new = {}
        for syms, c in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + c
        state = new
    return merges


def test_bpe_train_matches_reference_model(spark, docs):
    from collections import Counter

    from opcua_ingestion_engine_spark.operators import bpe as B

    wc = Counter()
    for r in docs.select("text").collect():
        wc.update(r["text"].split(" "))
    expect = _model_bpe(wc, n_merges=12)
    got = B.bpe_train(docs, n_merges=12)
    assert got == expect, (got[:4], expect[:4])


def test_bpe_planted_corpus(spark):
    from opcua_ingestion_engine_spark.operators import bpe as B

    # 'aaab' x3, 'ab' x2: round 1 merges (a,a) cnt=6; round 2 (b: 'aa a b')
    # pairs: (aa,a)x3,(a,b)x5 -> (a,b) cnt=5; round 3 (aa,ab) cnt=3
    docs = local_frame(spark,
        [(1, "aaab aaab ab"), (2, "aaab ab")], "doc_id long, text string"
    )
    merges = B.bpe_train(docs, n_merges=3)
    assert merges == [("a", "a", 6), ("a", "b", 5), ("aa", "ab", 3)], merges

    seg = {r["doc_id"]: (r["n_tokens_ws"], r["n_tokens_bpe"])
           for r in B.bpe_segment(docs, merges).collect()}
    # every word collapses to ONE token under the learned merges
    assert seg == {1: (3, 3), 2: (2, 2)}, seg

    # no merges -> every word is split to characters
    chars = {r["doc_id"]: r["n_tokens_bpe"]
             for r in B.bpe_segment(docs, []).collect()}
    assert chars == {1: 10, 2: 6}, chars


def test_bpe_segment_fertility_bounds(spark, docs):
    from opcua_ingestion_engine_spark.operators import bpe as B

    merges = B.bpe_train(docs, n_merges=8)
    assert len(merges) == 8
    out = B.bpe_segment(docs, merges).collect()
    for r in out:
        # BPE token count is bounded by chars-per-word below and words above
        assert r["n_tokens_bpe"] >= r["n_tokens_ws"]
        assert abs(r["compression"] - r["n_tokens_bpe"] / r["n_tokens_ws"]) < 1e-12


def test_heavy_hitters_capacity_guard(spark):
    """A capacity below 1/min_frac voids the Misra-Gries superset
    guarantee — the batch operator must refuse it (the streaming sink
    already does), never silently return an incomplete 'exact' set."""
    import pytest as _pytest

    from opcua_ingestion_engine_spark.operators.text import frequent_tokens

    docs = local_frame(spark, [(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="superset guarantee"):
        frequent_tokens(docs, min_frac=0.002, capacity=100)


def test_split_leakage_detector_fires_on_planted_neardups(spark):
    """The leakage audit must surface a near-dup pair whose members hash
    into different splits. Plant near-identical docs across many ids so
    some pair necessarily straddles the 80/10/10 split, then check the
    flagged pairs are exactly the cross-split near-dups."""
    import pyspark.sql.functions as F

    from opcua_ingestion_engine_spark.operators import datapipe as DP
    from opcua_ingestion_engine_spark.operators.dedup import jaccard_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i}", "en") for i in range(20)]
    rows += [(100 + i, f"unrelated text number {i} with no overlap at all "
              f"word{i}a word{i}b word{i}c", "en") for i in range(5)]
    docs = local_frame(spark, rows, "doc_id long, text string, lang string")

    splits = {r["doc_id"]: r["split"] for r in DP.split_assign(docs).collect()}
    assert len(set(splits[i] for i in range(20))) > 1, (
        "planted ids all hashed to one split — extend the id range"
    )

    pairs = jaccard_pairs(docs, threshold=0.2)
    sa = DP.split_assign(docs).select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = DP.split_assign(docs).select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    leaks = {
        (r["doc_a"], r["doc_b"])
        for r in pairs.join(sa, "doc_a").join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b")).collect()
    }
    expect = {
        (a, b)
        for (a, b) in [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
        if splits[a] != splits[b]
    }
    assert leaks == expect and len(leaks) > 0


def test_bpe_local_and_distributed_paths_agree(spark):
    """The driver-side fast path (collected word-freq table + incremental
    in-memory loop) must produce EXACTLY the distributed loop's merges —
    same pair counts, same tie-break, same min_count stop (VERDICT r3 #2:
    the per-merge driver round-trip wall)."""
    from opcua_ingestion_engine_spark.operators import bpe as B

    docs = local_frame(spark,
        [
            (1, "the quick brown fox jumps over the lazy dog the end"),
            (2, "pack my box with five dozen liquor jugs the fox"),
            (3, "the the quick quick brown jugs jugs jugs"),
        ],
        "doc_id long, text string",
    )
    local = B.bpe_train(docs, n_merges=20)                          # fast path
    dist = B.bpe_train(docs, n_merges=20, driver_byte_budget=0)     # fallback
    assert local == dist, (local[:5], dist[:5])
    assert len(local) > 0


def test_bpe_local_path_runs_constant_jobs(spark):
    """At n_merges=32 the distributed loop pays O(n_merges) driver-barrier
    Spark jobs; the local path must stay at a handful regardless of merge
    count (>=10x fewer — the scale argument for 32k-merge vocabularies)."""
    from opcua_ingestion_engine_spark.operators import bpe as B

    # three 16-char words x2 occurrences -> 45 learnable merges
    docs = local_frame(spark,
        [(1, "abcdefghijklmnop qrstuvwxyz012345 ABCDEFGHIJKLMNOP"),
         (2, "abcdefghijklmnop qrstuvwxyz012345 ABCDEFGHIJKLMNOP")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("bpe-local", "local path")
    local = B.bpe_train(docs, n_merges=32)
    n_local = len(tracker.getJobIdsForGroup("bpe-local"))

    sc.setJobGroup("bpe-dist", "distributed path")
    dist = B.bpe_train(docs, n_merges=32, driver_byte_budget=0)
    n_dist = len(tracker.getJobIdsForGroup("bpe-dist"))
    sc.setJobGroup("", "")

    assert local == dist
    assert len(local) == 32
    # local path: size probe + collect (+ possible incremental first()
    # jobs) — constant in n_merges; distributed: ~2 jobs per merge round.
    # At 32 rounds that's already ~10x; at a production 32k-merge
    # vocabulary the ratio is ~10,000x.
    assert n_local <= 6, n_local
    assert n_dist >= 50 and n_dist >= 8 * n_local, (n_local, n_dist)


def test_cluster_safe_split_prevents_leakage(spark):
    """The prevention half of the split-leakage audit: with near-dup
    clusters split as units, ZERO pairs straddle splits — while the
    plain id-hash split on the same corpus does leak; singletons keep
    exactly their plain assignment; a doc joining a cluster adopts the
    cluster's assignment."""
    from pyspark.sql import functions as F

    from opcua_ingestion_engine_spark.operators import datapipe as DP
    from opcua_ingestion_engine_spark.operators.dedup import jaccard_pairs

    # many planted near-dup pairs with far-apart ids (so the id hash
    # usually separates at least one pair) + singleton noise
    rows = []
    for g in range(12):
        base = " ".join(f"g{g}tok{i}" for i in range(30))
        near = " ".join(f"g{g}tok{i}" for i in range(28)) + " zz qq"
        rows.append((g + 1, base, "en"))
        rows.append((1000 + g * 37, near, "en"))
    rows += [(5000 + i, " ".join(f"n{i}w{j}" for j in range(30)), "en")
             for i in range(20)]
    docs = local_frame(spark, rows, "doc_id long, text string, lang string")
    pairs = jaccard_pairs(docs, threshold=0.2)
    assert pairs.count() == 12  # every planted pair found, no extras

    def leaks(split_df):
        sa = split_df.select(F.col("doc_id").alias("doc_a"),
                             F.col("split").alias("split_a"))
        sb = split_df.select(F.col("doc_id").alias("doc_b"),
                             F.col("split").alias("split_b"))
        return (
            pairs.join(sa, "doc_a").join(sb, "doc_b")
            .filter(F.col("split_a") != F.col("split_b"))
            .count()
        )

    plain = DP.split_assign(docs, train=0.6, val=0.2)
    safe = DP.split_assign_cluster_safe(docs, train=0.6, val=0.2,
                                        threshold=0.2)
    assert leaks(plain) > 0       # the audit fires on the id-hash split
    assert leaks(safe) == 0       # impossible by construction

    # singletons: identical assignment to the plain split
    paired = {r["doc_a"] for r in pairs.collect()} | {
        r["doc_b"] for r in pairs.collect()
    }
    plain_map = {r["doc_id"]: r["split"] for r in plain.collect()}
    safe_map = {r["doc_id"]: r["split"] for r in safe.collect()}
    for d, s in safe_map.items():
        if d not in paired:
            assert s == plain_map[d]

    # cluster members share their REPRESENTATIVE's (min id) assignment
    for r in pairs.collect():
        assert safe_map[r["doc_a"]] == safe_map[r["doc_b"]]
        assert safe_map[r["doc_b"]] == plain_map[min(r["doc_a"], r["doc_b"])]


def test_sliding_chunks_multiwindow_and_edges(spark):
    """Sliding-window chunking on documents LONGER than one window
    (the sf fixtures are single-chunk): starts advance by
    max_tokens - overlap, consecutive chunks share exactly `overlap`
    tokens, the final partial chunk keeps the tail, token counts are
    exact, and reassembling the stride-prefixes of every chunk plus the
    last chunk reproduces the document. overlap >= max_tokens refuses."""
    import pytest as _pytest

    from opcua_ingestion_engine_spark.operators import datapipe as DP

    words = lambda n: " ".join(f"w{i}" for i in range(n))
    docs = local_frame(spark,
        [
            (1, words(25)),   # starts 0,6,12,18 (24 dropped: no unseen)
            (2, words(10)),   # exactly one window — NO redundant tail
            (3, words(11)),   # one window + a tail with one unseen token
            (4, "solo"),      # single token
        ],
        "doc_id long, text string",
    )
    out = DP.sliding_chunks(docs, max_tokens=10, overlap=4).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r["chunk_id"])

    # doc 1: start 24 is dropped (24 + overlap >= 25: chunk 18..24
    # already covered token 24) -> counts 10,10,10,7
    assert [r["n_tokens"] for r in by_doc[1]] == [10, 10, 10, 7]
    assert [r["chunk_id"] for r in by_doc[1]] == [0, 1, 2, 3]
    # consecutive chunks overlap by exactly 4 tokens
    a, b = by_doc[1][0]["chunk_text"].split(), by_doc[1][1]["chunk_text"].split()
    assert a[6:] == b[:4]
    # every chunk's text is the right slice of the source, and the
    # union of chunks covers every token
    src = [f"w{i}" for i in range(25)]
    seen: set = set()
    for r in by_doc[1]:
        s = r["chunk_id"] * 6
        assert r["chunk_text"].split() == src[s:s + 10]
        assert r["n_tokens"] == len(src[s:s + 10])
        seen.update(range(s, s + r["n_tokens"]))
    assert seen == set(range(25))

    # a doc that fits one window emits exactly one chunk
    assert [r["n_tokens"] for r in by_doc[2]] == [10]
    assert [r["n_tokens"] for r in by_doc[3]] == [10, 5]
    assert [(r["chunk_text"], r["n_tokens"]) for r in by_doc[4]] == [
        ("solo", 1)
    ]

    with _pytest.raises(ValueError, match="must be smaller"):
        DP.sliding_chunks(docs, max_tokens=8, overlap=8)


def test_softdedup_weights_groups(spark):
    """Weights are 1/|exact-duplicate group| on the sha256 digest:
    duplicates share the group size, uniques weigh 1.0, and the total
    weight equals the number of DISTINCT texts (the soft-dedup
    invariant — each distinct content contributes one unit)."""
    from opcua_ingestion_engine_spark.operators import datapipe as DP

    docs = local_frame(spark,
        [(1, "aa"), (2, "bb"), (3, "aa"), (4, "cc"), (5, "aa"), (6, "bb")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["cluster_size"], r["weight"])
           for r in DP.softdedup_weights(docs).collect()}
    assert got[1] == (3, 1.0 / 3) and got[3] == (3, 1.0 / 3)
    assert got[2] == (2, 0.5) and got[6] == (2, 0.5)
    assert got[4] == (1, 1.0)
    assert abs(sum(w for _, w in got.values()) - 3.0) < 1e-12


def test_token_budget_sample_exact_prefix_without_global_sort(spark):
    """The 256-block two-phase cumulative equals the naive global
    running sum EXACTLY (same kept set, same cum_before), the crossing
    document is included, budget 0 keeps nothing, and a budget >= total
    keeps everything."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W2

    from opcua_ingestion_engine_spark.operators import datapipe as DP

    docs = local_frame(spark,
        [(i, " ".join(["w"] * (1 + (i * 7) % 13))) for i in range(300)],
        "doc_id long, text string",
    )

    def naive(budget):
        h = F.md5(F.concat(F.lit("tb1|"), F.col("doc_id").cast("string")))
        n = F.size(F.split(F.col("text"), " ")).cast("long")
        w = W2.orderBy("_h", "doc_id").rowsBetween(W2.unboundedPreceding, -1)
        return {
            (r["doc_id"], r["n_tokens"], r["cum_before"])
            for r in docs.select(
                "doc_id", h.alias("_h"), n.alias("n_tokens")
            )
            .withColumn(
                "cum_before",
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
            )
            .filter(F.col("cum_before") < budget)
            .collect()
        }

    got_mid = {
        tuple(r)
        for r in DP.token_budget_sample(docs, budget_tokens=500).collect()
    }
    assert got_mid == naive(500)
    assert 0 < len(got_mid) < 300
    # the crossing doc is included: max cum_before < 500 but its own
    # tokens may push past the budget
    kept_tokens = sum(r[1] for r in got_mid)
    assert kept_tokens >= 500

    assert DP.token_budget_sample(docs, budget_tokens=0).count() == 0
    big = DP.token_budget_sample(docs, budget_tokens=10**9)
    assert big.count() == 300
    assert {tuple(r) for r in big.collect()} == naive(10**9)
    with pytest.raises(ValueError, match="non-negative"):
        DP.token_budget_sample(docs, budget_tokens=-1)


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """DSIR (Xie et al. 2023): a doc made of target-typical tokens must
    log-weigh higher than one made of source-typical tokens; tokenless
    docs weigh exactly 0 (empty product); the ratio table covers the
    union vocabulary."""
    from opcua_ingestion_engine_spark.operators.datapipe import (
        dsir_logratio_table,
        dsir_weights,
    )

    target = local_frame(spark,
        [("medical patient dose trial",), ("patient trial outcome dose",)],
        "text string",
    )
    corpus = local_frame(spark,
        [
            (1, "patient dose trial medical"),      # target-like
            (2, "pizza recipe cheese oven"),        # source-only tokens
            (3, ""),                                # tokenless
            (4, "patient pizza"),                   # mixed
        ],
        "doc_id long, text string",
    )
    w = {
        r["doc_id"]: float(r["logw"])
        for r in dsir_weights(corpus, target).collect()
    }
    assert w[1] > w[4] > w[2]
    assert w[3] == 0.0
    ratio = dsir_logratio_table(corpus, target)
    toks = {r["token"] for r in ratio.collect()}
    assert {"medical", "pizza", "outcome"} <= toks
    # target-only token has a positive ratio, source-only negative
    by_tok = {r["token"]: float(r["logratio"]) for r in ratio.collect()}
    assert by_tok["outcome"] > 0 > by_tok["pizza"]


def test_dsir_sample_is_deterministic_biased_and_rerollable(spark):
    """Gumbel top-k with md5-derived noise: the same salt reproduces the
    same sample; a different salt re-rolls it; the sample over-selects
    high-weight (target-like) docs vs their corpus share; n >= corpus
    returns everything."""
    from opcua_ingestion_engine_spark.operators.datapipe import dsir_sample

    # 200 docs: ids 0-39 target-like, 40-199 source-like
    rows = [
        (i, "patient dose trial medical" if i < 40 else "pizza recipe cheese oven")
        for i in range(200)
    ]
    corpus = local_frame(spark, rows, "doc_id long, text string")
    target = local_frame(spark,
        [("medical patient dose trial",)], "text string"
    )

    s1 = sorted(r["doc_id"] for r in dsir_sample(corpus, target, 50).collect())
    s2 = sorted(r["doc_id"] for r in dsir_sample(corpus, target, 50).collect())
    assert s1 == s2 and len(s1) == 50
    s3 = sorted(
        r["doc_id"]
        for r in dsir_sample(corpus, target, 50, salt="dsir-v2").collect()
    )
    assert s3 != s1  # re-rolled
    # target-like docs are 20% of the corpus but must dominate the
    # sample (importance ratio strongly favors them)
    target_like = sum(1 for d in s1 if d < 40)
    assert target_like >= 35, target_like

    everything = dsir_sample(corpus, target, 500)
    assert everything.count() == 200

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-negative"):
        dsir_sample(corpus, target, -1)
    empty = local_frame(spark, [], "doc_id long, text string")
    with _pytest.raises(ValueError, match="vocabulary"):
        dsir_sample(empty, empty, 5)


def test_dsir_bigrams_capture_order_unigrams_cannot(spark):
    """ngrams=2 (the paper's feature unit): two docs with IDENTICAL
    token multisets but different orderings get the SAME unigram weight
    and DIFFERENT bigram weights — the bigram LM rewards target-typical
    adjacency, not just vocabulary."""
    from opcua_ingestion_engine_spark.operators.datapipe import dsir_weights

    target = local_frame(spark,
        [("new york city hall",), ("new york city council",)], "text string"
    )
    corpus = local_frame(spark,
        [
            (1, "new york city hall"),   # target-typical adjacency
            (2, "york hall new city"),   # same tokens, shuffled order
            (3, "one token doc"),
        ],
        "doc_id long, text string",
    )
    uni = {
        r["doc_id"]: float(r["logw"])
        for r in dsir_weights(corpus, target, ngrams=1).collect()
    }
    bi = {
        r["doc_id"]: float(r["logw"])
        for r in dsir_weights(corpus, target, ngrams=2).collect()
    }
    assert uni[1] == uni[2]       # unigrams are order-blind
    assert bi[1] > bi[2]          # bigrams are not
    # the sub-bigram fallback (whole text) keeps every doc weighted
    assert 3 in bi


def test_pack_bins_ffd_invariants(spark):
    """Whole-doc bin packing: no bin's content exceeds max_tokens
    (except flagged oversize singletons), packing is deterministic,
    waste is near-optimal on a mixed-length corpus, and every doc packs
    exactly once."""
    from opcua_ingestion_engine_spark.operators.datapipe import pack_bins

    rows = [
        (i, " ".join(["w"] * n))
        for i, n in enumerate([900, 700, 600, 500, 400, 400, 300, 200,
                               100, 60, 40, 1500, 2100])
    ]
    docs = local_frame(spark, rows, "doc_id long, text string")
    out = pack_bins(docs, max_tokens=1000, n_shards=1).collect()
    assert len(out) == len(rows)  # every doc packed once

    by_bin: dict = {}
    for r in out:
        by_bin.setdefault((r["shard"], r["bin"]), []).append(r)
    for members in by_bin.values():
        if any(m["oversize"] for m in members):
            assert len(members) == 1  # oversize docs pack alone
        else:
            assert sum(m["n_tokens"] for m in members) <= 1000
    assert {r["n_tokens"] for r in out if r["oversize"]} == {2100, 1500}

    # FFD packs the 4200 packable tokens into the OPTIMAL 5
    # thousand-token bins (ceil(4200/1000)); the oversize docs add
    # their own flagged singletons
    packable_bins = {
        b for b, members in by_bin.items()
        if not any(m["oversize"] for m in members)
    }
    assert len(packable_bins) == 5

    # deterministic
    again = pack_bins(docs, max_tokens=1000, n_shards=1).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    # sharded mode still packs every doc, within-shard bound holds
    sharded = pack_bins(docs, max_tokens=1000, n_shards=4).collect()
    assert len(sharded) == len(rows)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        pack_bins(docs, max_tokens=0)


def test_bm25_topk_hand_computed(spark):
    """BM25 against a hand-mirrored reference: length normalization
    beats raw term frequency (the shorter doc outranks the 2x-tf longer
    one), non-matching docs never appear, k truncates, and scores equal
    the formula to quantization precision."""
    import math

    from opcua_ingestion_engine_spark.operators.retrieval import bm25_topk

    docs = local_frame(spark,
        [(1, "fast fast slow"), (2, "fast"), (3, "slow table")],
        "doc_id long, text string",
    )
    got = bm25_topk(docs, ["fast"], k=10).collect()
    assert [r["doc_id"] for r in got] == [2, 1]  # d3 matches nothing
    assert [r["rank"] for r in got] == [1, 2]

    n, avg = 3, (3 + 1 + 2) / 3
    idf = float(f"{math.log((n - 2 + 0.5) / (2 + 0.5) + 1.0):.6f}")

    def score(tf, ln):
        return idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (ln / avg))))

    by_id = {r["doc_id"]: r["score"] for r in got}
    assert abs(by_id[2] - score(1, 1)) < 1e-6
    assert abs(by_id[1] - score(2, 3)) < 1e-6

    assert bm25_topk(docs, ["fast"], k=1).count() == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        bm25_topk(docs, [])
    with _pytest.raises(ValueError, match="positive"):
        bm25_topk(docs, ["fast"], k=0)


def test_rrf_fuse_semantics(spark):
    """RRF: a doc ranked well in BOTH lists beats single-list docs;
    missing entries contribute zero; ties break on id; validation."""
    from opcua_ingestion_engine_spark.operators.retrieval import rrf_fuse

    a = local_frame(spark,
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    b = local_frame(spark,
        [(2, 1), (4, 2), (1, 3)], "doc_id long, rank int"
    )
    got = rrf_fuse([a, b], k=10).collect()
    by_id = {r["doc_id"]: (r["rrf_score"], r["rank"]) for r in got}
    # doc 2: 1/62 + 1/61; doc 1: 1/61 + 1/63; both-list docs beat
    # single-list docs (3: 1/63, 4: 1/62)
    assert by_id[2][0] == 1 / 62 + 1 / 61
    assert by_id[1][0] == 1 / 61 + 1 / 63
    order = [r["doc_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert order == [2, 1, 4, 3]

    # k truncates; single-list fusion is a monotone transform of it
    assert rrf_fuse([a, b], k=2).count() == 2
    solo = rrf_fuse([a], k=10).collect()
    assert [r["doc_id"] for r in sorted(solo, key=lambda r: r["rank"])] == [1, 2, 3]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        rrf_fuse([])
    with _pytest.raises(ValueError, match="positive"):
        rrf_fuse([a], k=0)


def test_bm25_empty_corpus_schema_matches_id_type(spark):
    """The empty-corpus early return must carry the INPUT's id type so
    it unions cleanly with non-empty results (ADVICE r8: it hardcoded
    long, breaking rrf_fuse over string-id corpora)."""
    from pyspark.sql import functions as F

    from opcua_ingestion_engine_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )

    full = local_frame(spark,
        [("a", "fast fast slow"), ("b", "fast")], "doc_id string, text string"
    )
    empty = full.filter(F.lit(False))
    got_empty = bm25_topk(empty, ["fast"], k=5)
    got_full = bm25_topk(full, ["fast"], k=5)
    assert got_empty.schema == got_full.schema
    assert got_empty.count() == 0
    # the downstream union that used to break
    fused = rrf_fuse([got_full, got_empty], k=5, id_col="doc_id")
    assert [r["doc_id"] for r in fused.orderBy("rank").collect()] == ["b", "a"]
