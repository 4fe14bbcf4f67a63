"""BPE training (functions/bpe.py): greedy-merge semantics and the
segmentation invariant."""

from pyspark.sql import Row

from melt_spark.functions.bpe import bpe_train
from melt_spark.sources.parquet import read_table


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])


def test_learns_the_dominant_pair_first(spark):
    """'abab' x 10 + 'cd' x 1: round 1 must merge (a,b) — count 20 beats
    everything; round 2 merges the resulting (ab, ab)."""
    merges, words = bpe_train(
        _docs(spark, ["abab abab abab abab abab",
                      "abab abab abab abab abab cd"]), rounds=2)
    m = {r.round: (r.s1, r.s2, r.n) for r in merges.collect()}
    assert m[1] == ("a", "b", 20)
    assert m[2] == ("ab", "ab", 10)
    seg = {r.word: r.seg for r in words.collect()}
    assert seg["abab"] == "abab"
    assert seg["cd"] == "c|d"


def test_greedy_run_handling(spark):
    """'aaa' with merge (a,a): greedy left-to-right gives [aa, a] — the
    fold must not merge the freshly-merged 'aa' with the trailing 'a'."""
    merges, words = bpe_train(_docs(spark, ["aaa aaa"]), rounds=1)
    [m] = merges.collect()
    assert (m.s1, m.s2) == ("a", "a")
    [w] = words.collect()
    assert w.seg == "aa|a" and w.n_syms == 2


def test_segmentation_reconstructs_word(spark, sf_dir):
    """Removing the '|' separators from every segmentation must give the
    original word back, and n_syms matches the segment count."""
    docs = read_table(spark, sf_dir, "documents")
    _, words = bpe_train(docs, rounds=3)
    rows = words.collect()
    assert rows
    for r in rows:
        assert r.seg.replace("|", "") == r.word
        assert r.n_syms == r.seg.count("|") + 1
        assert r.n_syms <= len(r.word)


def test_postings_stats_python_reference(spark):
    """postings_stats == a plain-Python varint costing of the same corpus."""
    from melt_spark.functions.retrieval import postings_stats

    texts = {1: "a b a c", 2: "b a", 7: "a a a"}
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()])
    got = {r.term: (r.df, r.total_tf, r.doc_gap_bytes, r.pos_gap_bytes)
           for r in postings_stats(docs).collect()}

    def vb(g):
        return (max(g.bit_length(), 1) + 6) // 7

    want = {}
    post = {}
    for d, t in texts.items():
        for i, tok in enumerate(t.split(" "), start=1):
            post.setdefault(tok, {}).setdefault(d, []).append(i)
    for term, by_doc in post.items():
        df = len(by_doc)
        tf = sum(len(v) for v in by_doc.values())
        doc_b, prev = 0, 0
        for d in sorted(by_doc):
            doc_b += vb(d - prev)
            prev = d
        pos_b = 0
        for d, ps in by_doc.items():
            pr = 0
            for p in ps:
                pos_b += vb(p - pr)
                pr = p
        want[term] = (df, tf, doc_b, pos_b)
    assert got == want


def test_degenerate_corpus_no_pairs(spark):
    """All words single-symbol: zero merges, words unchanged — the empty
    pair table must NOT annihilate the vocabulary."""
    merges, words = bpe_train(_docs(spark, ["a b c a", "b c"]), rounds=2)
    assert merges.count() == 0
    got = {r.word: r.seg for r in words.collect()}
    assert got == {"a": "a", "b": "b", "c": "c"}


def test_bpe_encode_hand_computed(spark):
    """Encode applies the trained segmentation per word in order; the
    stream is the '|'-joined full token sequence."""
    from melt_spark.functions.bpe import bpe_encode

    docs = _docs(spark, ["abab cd abab", "cd cd"])
    _merges, words = bpe_train(docs, rounds=2)
    out = {r.doc_id: r for r in bpe_encode(docs, words).collect()}
    # rounds: (a,b) count 4 -> ab; (c,d) count 3 beats (ab,ab) at 2 -> cd
    assert (out[0].n_words, out[0].n_tokens) == (3, 5)
    assert out[0].stream == "\u2581ab|ab|\u2581cd|\u2581ab|ab"
    assert (out[1].n_words, out[1].n_tokens) == (2, 2)
    assert out[1].stream == "\u2581cd|\u2581cd"


def test_bpe_encode_oov_falls_back_to_chars(spark):
    """Encoding a NEW corpus against yesterday's vocab: unseen words
    segment to characters (the training initialization), so the encoder
    is total."""
    from melt_spark.functions.bpe import bpe_encode

    train = _docs(spark, ["abab abab"])
    _m, words = bpe_train(train, rounds=2)
    new = _docs(spark, ["abab zq"])
    out = bpe_encode(new, words).collect()[0]
    assert out.stream == "\u2581abab|\u2581z|q"
    assert (out.n_words, out.n_tokens) == (2, 3)


def test_bpe_encode_token_counts_match_train_segmentation(spark, sf_dir):
    """Corpus-wide: sum of per-doc n_tokens == freq-weighted n_syms of
    the vocabulary — encode and train agree on the whole corpus."""
    from pyspark.sql import functions as F

    from melt_spark.functions.bpe import bpe_encode
    from melt_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    _m, words = bpe_train(docs, rounds=3)
    enc_total = bpe_encode(docs, words).agg(
        F.sum("n_tokens")).collect()[0][0]
    vocab_total = words.select(
        (F.col("freq") * F.col("n_syms")).alias("t")).agg(
        F.sum("t")).collect()[0][0]
    assert enc_total == vocab_total


def test_bpe_decode_round_trips_the_corpus(spark, sf_dir):
    """decode(encode(doc)) == doc for EVERY fixture document — the
    tokenizer integrity property the '\u2581' word-start markers exist
    to guarantee."""
    from pyspark.sql import functions as F

    from melt_spark.functions.bpe import bpe_decode, bpe_encode
    from melt_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    _m, words = bpe_train(docs, rounds=3)
    enc = bpe_encode(docs, words)
    bad = (enc.join(docs.select("doc_id", "text"), "doc_id")
           .filter(bpe_decode("stream") != F.col("text")).count())
    assert bad == 0


def test_incremental_encode_against_persisted_store_idempotent(
        spark, tmp_path):
    """The daily-crawl shape (r8 verdict next-round #7): train once,
    PERSIST the vocab table, then encode a new batch against the
    re-read store — twice. Both passes must produce byte-identical
    streams (idempotent resume: a re-run after a partial failure
    re-emits the same rows), OOV words must round-trip through the
    char fallback, and the training corpus never enters the encode."""
    from pyspark.sql import functions as F

    from melt_spark.functions.bpe import bpe_decode, bpe_encode

    corpus = _docs(spark, ["abab abab cd cd", "abab cd abab abab"])
    _merges, words = bpe_train(corpus, rounds=2)
    store = str(tmp_path / "bpe_vocab.parquet")
    words.write.mode("overwrite").parquet(store)      # the persisted store

    batch = _docs(spark, ["abab zz cd", "zz zz abab"]) \
        .select((F.col("doc_id") + 100).alias("doc_id"), "text")

    def encode_once():
        vocab = spark.read.parquet(store)             # resume from disk
        enc = bpe_encode(batch, vocab)
        return {r.doc_id: (r.n_words, r.n_tokens, r.stream)
                for r in enc.collect()}

    first, second = encode_once(), encode_once()
    assert first == second                            # idempotent resume
    # 'zz' is OOV -> char fallback; streams still round-trip exactly
    rt = (bpe_encode(batch, spark.read.parquet(store))
          .join(batch, "doc_id")
          .select((bpe_decode("stream") == F.col("text")).alias("ok"))
          .collect())
    assert all(r.ok for r in rt)
    assert first[100][2] == "▁abab|▁z|z|▁c|d"   # OOV 'zz' char-split
