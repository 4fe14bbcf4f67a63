"""Fixture-sensitivity hardening (NOTES limitations 4-5): the shipped
documents fixture draws from a ~30-word vocabulary, so dedup/BM25 behavior
could in principle be tuned to it without anyone noticing. These properties
run the same operators over RICHER generated vocabularies (320 distinct
words, arbitrary corpora) and assert STRUCTURAL invariants — candidate
membership, rank monotonicity, equal-text-equal-score, provable near-dup
detection bounds, survivor-set structure — never value hashes, so they must
hold for any vocabulary.

Kept to few, small examples — each example is a Spark job.
"""

from hypothesis import HealthCheck, given, settings, strategies as st

from melt_spark.functions.dedup import (exact_dedup, jaccard_pairs,
                                        minhash_dedup_pairs)
from melt_spark.functions.retrieval import bm25_topk

# 8 onsets x 5 vowels x 8 codas = 320 distinct 3-letter words — an order of
# magnitude richer than the fixture corpus vocabulary
VOCAB = [a + b + c for a in "bdfghklm" for b in "aeiou" for c in "lmnprstz"]

word = st.sampled_from(VOCAB)
doc = st.lists(word, min_size=6, max_size=30).map(" ".join)
corpus = st.lists(doc, min_size=3, max_size=7)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from melt_spark.session import get_spark
        _spark = get_spark("melt-spark-tests", master="local[4]",
                           extra_conf={"spark.sql.shuffle.partitions": "4"})
    return _spark


def _docs(texts):
    return _get_spark().createDataFrame(list(enumerate(texts)),
                                        "doc_id long, text string")


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus, st.lists(word, min_size=1, max_size=3, unique=True))
def test_bm25_structural_invariants_any_vocabulary(texts, terms):
    # plant one doc that definitely contains a query term, so the result
    # is non-empty for every drawn corpus
    texts = texts + [" ".join([terms[0]] * 3) + " " + texts[0]]
    out = sorted(bm25_topk(_docs(texts), tuple(terms), k=5).collect(),
                 key=lambda r: r["rank"])
    assert 1 <= len(out) <= 5
    # every hit contains >= 1 query term; score order is the rank order
    for r in out:
        assert any(t in texts[r["doc_id"]].split() for t in terms)
        assert r["score"] > 0
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus, st.lists(word, min_size=1, max_size=2, unique=True))
def test_bm25_identical_text_identical_score(texts, terms):
    # BM25 is a pure function of (text, corpus stats): two docs with the
    # SAME text must score identically regardless of vocabulary or ids
    texts = texts + [" ".join([terms[0]] * 2) + " " + texts[-1]]
    doubled = texts + list(texts)  # ids 0..n-1 and n..2n-1, same texts
    rows = bm25_topk(_docs(doubled), tuple(terms), k=len(doubled)).collect()
    by_text = {}
    for r in rows:
        by_text.setdefault(doubled[r["doc_id"]], set()).add(r["score"])
    assert all(len(s) == 1 for s in by_text.values())


# near-dup generator with a PROVABLE detection bound: a base doc of >= 14
# unique tokens (13+ distinct 3-shingles) perturbed at one middle position
# touches <= 3 shingles, so Jaccard >= (12-3)/(12+3) = 0.6 >= the 0.5
# threshold — detection is deterministic, not fixture-tuned
unique_doc = st.lists(word, min_size=14, max_size=24, unique=True)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(unique_doc, corpus, st.integers(min_value=4, max_value=9))
def test_planted_near_dup_always_detected(base_tokens, noise, pos):
    near = list(base_tokens)
    near[pos] = near[pos] + "~x"  # guaranteed out-of-vocab replacement
    texts = [" ".join(base_tokens), " ".join(near)] + noise
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in jaccard_pairs(_docs(texts), k=3,
                                    threshold=0.5).collect()}
    assert (0, 1) in pairs
    assert pairs[(0, 1)] >= 0.5


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(unique_doc, corpus)
def test_exact_duplicate_found_by_minhash_lsh_and_exact_dedup(base_tokens,
                                                              noise):
    """An EXACT duplicate has identical minhash signatures, so every band
    collides — LSH detection is guaranteed (probability 1), vocabulary
    aside. exact_dedup must drop the higher id; survivors = distinct
    texts."""
    text = " ".join(base_tokens)
    texts = [text] + noise + [text]  # ids 0 and len(noise)+1 are twins
    dup_id = len(noise) + 1
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in minhash_dedup_pairs(_docs(texts), k=3,
                                          threshold=0.5).collect()}
    assert pairs.get((0, dup_id)) == 1.0

    kept = exact_dedup(_docs(texts)).collect()
    assert sorted(r["text"] for r in kept) == sorted(set(texts))
    assert dup_id not in {r["doc_id"] for r in kept}  # min id survives


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(word, min_size=6, max_size=15, unique=True),
       st.lists(word, min_size=6, max_size=15, unique=True))
def test_disjoint_vocabulary_docs_never_pair(tokens_a, tokens_b):
    # force disjoint token sets by suffixing one side — docs sharing no
    # 3-shingle must produce no candidate pair at any threshold
    a = " ".join(tokens_a)
    b = " ".join(t + "~q" for t in tokens_b)
    pairs = jaccard_pairs(_docs([a, b]), k=3, threshold=0.0).collect()
    assert pairs == []


def _bpe_reference(texts, rounds):
    """Plain-Python BPE trainer with the same tie-break (count DESC,
    s1 ASC, s2 ASC) and greedy left-to-right merge."""
    from collections import Counter

    freqs = Counter(tok for t in texts for tok in t.split(" "))
    words = {w: list(w) for w in freqs}
    merges = []
    for _ in range(rounds):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += freqs[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((best[0], best[1], pc[best]))
        a, b = best
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges, {w: "|".join(s) for w, s in words.items()}


def _assert_bpe_matches_reference(texts):
    from melt_spark.functions.bpe import bpe_train

    merges_df, words_df = bpe_train(_docs(texts), rounds=2)
    got_merges = [(r.s1, r.s2, r.n)
                  for r in merges_df.orderBy("round").collect()]
    got_words = {r.word: r.seg for r in words_df.collect()}
    want_merges, want_words = _bpe_reference(texts, rounds=2)
    assert got_merges == want_merges
    assert got_words == want_words


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus)
def test_bpe_matches_python_reference(texts):
    """Spark BPE training == the classic Python trainer on arbitrary
    corpora: same merges in the same order, same final segmentations —
    the fold/consume equivalence argument, checked empirically."""
    _assert_bpe_matches_reference(texts)


def test_bpe_matches_python_reference_fixed_corpus():
    """The same equivalence on one fixed corpus of VOCAB words: a single
    Spark run, cheap enough for the default profile. Round 1 breaks a
    count tie ("al" and "ba" both occur 5 times) by s1 ASC."""
    texts = ["bal bal mez hip bal", "mez hip gun bal kos",
             "kos bal mez dot"]
    assert all(w in VOCAB for t in texts for w in t.split())
    _assert_bpe_matches_reference(texts)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus, st.sampled_from([0.2, 0.3, 0.5, 0.8]))
def test_prefix_filter_complete_vs_inverted_index(texts, t):
    # 0.2 exercises the float-ceil guard: fl(0.2)*5k is a hair ABOVE the
    # integer k, so an unguarded ceil shortens the prefix below the
    # provable bound and drops qualifying pairs.
    """PPJoin prefix filtering must return EXACTLY the inverted-index
    Jaccard pair set at any threshold — completeness (the prefix bound
    loses no qualifying pair) and soundness (verification filters the
    rest), on arbitrary corpora."""
    from melt_spark.functions.dedup import (jaccard_pairs,
                                            prefix_filtered_pairs)

    docs = _docs(texts)
    full = {(r.doc_a, r.doc_b): r.jaccard
            for r in jaccard_pairs(docs, threshold=t).collect()}
    pref = {(r.doc_a, r.doc_b): r.jaccard
            for r in prefix_filtered_pairs(docs, threshold=t).collect()}
    assert pref == full


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 40), st.floats(1.0, 100.0)),
                min_size=2, max_size=25, unique_by=lambda t: t[0]))
def test_gapfill_interp_bounded_by_neighbors(points):
    """Gap-fill property on arbitrary hourly series: every gap row's
    linear interpolation lies between (inclusive) its bracketing observed
    values, and LOCF always equals the previous observed value."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F2

    from melt_spark.functions.timeseries import gapfill

    spark = _get_spark()
    rows = [Row(k="s", ts=f"2024-01-{1 + h // 24:02d} {h % 24:02d}:00:00",
                v=float(round(v, 3)))
            for h, v in points]
    df = spark.createDataFrame(rows).select(
        "k", F2.col("ts").cast("timestamp").alias("ts"), "v")
    out = sorted(gapfill(df, "ts", ["k"], "v", 3600).collect(),
                 key=lambda r: r.bucket)
    observed = {r.bucket: r.v_sum for r in out if r.n > 0}
    assert len(observed) == len(points)
    prev = None
    for r in out:
        if r.n > 0:
            prev = r.v_sum
            assert r.v_locf == r.v_interp == r.v_sum
        else:
            assert r.v_locf == prev
            nxts = [o.v_sum for o in out if o.n > 0 and o.bucket > r.bucket]
            lo, hi = sorted((prev, nxts[0]))
            assert lo - 1e-9 <= r.v_interp <= hi + 1e-9


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(1, 1000), min_size=25, max_size=60))
def test_priority_sample_deterministic_and_sized(weights):
    """Priority sampling on arbitrary weight vectors: exactly k rows,
    all kept priorities >= tau, and resampling is bit-identical (the
    deterministic-uniform contract)."""
    from pyspark.sql import Row

    from melt_spark.functions.cleaning import priority_sample

    spark = _get_spark()
    df = spark.createDataFrame(
        [Row(id=i, w=w) for i, w in enumerate(weights)])
    a = priority_sample(df, "w", "id", k=10).collect()
    b = priority_sample(df, "w", "id", k=10).collect()
    assert len(a) == 10
    tau = a[0].tau
    assert all(r.priority >= tau for r in a)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(corpus)
def test_incremental_minhash_equals_cross_restricted_self_join(texts):
    """On arbitrary corpora: banding a batch against the store's persisted
    signatures finds EXACTLY the cross pairs the full self-join LSH finds
    over store ∪ batch — the incremental path loses nothing and invents
    nothing (same signatures, same bands, same verification)."""
    from pyspark.sql import functions as F2

    from melt_spark.functions.dedup import (_minhash_col, _with_digest,
                                            incremental_minhash_pairs,
                                            minhash_dedup_pairs, shingles)

    store = _docs(texts)
    batch = store.withColumn("doc_id", F2.col("doc_id") + 10_000)
    store_sh = _with_digest(shingles(store)).cache()
    store_sigs = store_sh.groupBy("doc_id").agg(
        *[_minhash_col(s).alias(f"mh{s}") for s in range(8)])
    incr = {(r.store_doc, r.batch_doc): round(r.jaccard, 9)
            for r in incremental_minhash_pairs(
                batch, store_sigs, store_sh.select("doc_id", "sid"),
                threshold=0.5).collect()}
    full = minhash_dedup_pairs(store.unionByName(batch),
                               threshold=0.5).collect()
    cross = {(r.doc_a, r.doc_b): round(r.jaccard, 9)
             for r in full if r.doc_a < 10_000 <= r.doc_b}
    assert incr == cross


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(0, 30), min_size=3, max_size=30))
def test_cusum_matches_python_reference(xs):
    """Spark's CUSUM fold == a plain-Python recurrence on arbitrary count
    series (same mu/slack/threshold derivation, same IEEE order)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F2

    from melt_spark.functions.timeseries import cusum_monitor

    spark = _get_spark()
    rows = [Row(k="s",
                ts=f"2024-01-{1 + i // 24:02d} {i % 24:02d}:00:00")
            for i, x in enumerate(xs) for _ in range(x)]
    if not rows:
        return
    df = spark.createDataFrame(rows).select(
        "k", F2.col("ts").cast("timestamp").alias("ts"))
    [got] = cusum_monitor(df, "ts", ["k"], 3600).collect()

    series = [x for x in xs if x > 0]   # empty buckets don't exist
    mu = sum(series) / len(series)
    slack, h = mu * 0.25, 4.0 * (mu ** 0.5)
    s = smax = 0.0
    alarms = 0
    for x in series:
        s = max(0.0, s + (float(x) - mu - slack))
        smax = max(smax, s)
        if s > h:
            alarms += 1
    assert got.n_buckets == len(series)
    assert got.mu == round(mu, 9)
    assert got.s_final == round(s, 9)
    assert got.s_max == round(smax, 9)
    assert got.n_alarms == alarms
