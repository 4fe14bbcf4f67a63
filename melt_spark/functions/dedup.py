"""Deduplication — exact and near-dup, designed for 100 TB.

Strategies (all shuffle-bounded; no O(n²) cross joins except where the
candidate set is already banded/bucketed):

- exact: groupBy fingerprint — one shuffle, map-side combine.
- n-gram Jaccard: inverted index on shingles (explode → self-join on
  shingle → per-pair common counts). Never compares documents that share no
  shingle — at scale add a document-frequency cap on hot shingles.
- MinHash + LSH: per-doc signature = min hash per seed (one aggregation);
  banding groups signatures into buckets; only same-bucket pairs are
  verified. O(n·k) work + near-uniform shuffle keys.
- SimHash: per-bit majority over token hashes — one explode + one groupBy.
- embedding cosine near-dup: see similarity.py (bucketed LSH variant).

Hashes are md5-based so every step is restatable in ANSI SQL for the DuckDB
oracle (a murmur/xxhash signature would be Spark-only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import fingerprint


# ---------------------------------------------------------------------------
# exact dedup

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per identical (normalized) text.
    ONE shuffle on the 16-byte fingerprint; survivors keep all columns."""
    fp = df.withColumn("__fp", fingerprint(text_col))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, ["__fp", id_col], "inner").drop("__fp")


def duplicate_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_docs, min_doc) for groups with >1 member."""
    return (df.groupBy(fingerprint(text_col).alias("fingerprint"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min(id_col).alias("min_doc"))
            .filter(F.col("n_docs") > 1))


def span_dedup(df: DataFrame, k: int = 8, text_col: str = "text",
               id_col: str = "doc_id", via: str = "digest") -> DataFrame:
    """Cross-document SPAN dedup (C4/RefinedWeb-style sub-document dedup,
    at token-window granularity): split each document into non-overlapping
    k-token spans, keep only the corpus-wide FIRST occurrence of each span
    (lowest (doc_id, span_idx)), and reassemble every document from its
    surviving spans. Doc-level dedup (exact_dedup) misses boilerplate
    repeated INSIDE otherwise-distinct pages; this removes it.

    Output: id, text_dedup (may be '' if every span was seen earlier),
    n_spans, n_kept, n_removed.

    via='digest' (the 100 TB path, default): the first-occurrence window
    partitions on the 16-byte md5 DIGEST of each span and ships only
    (digest, id, idx) ≈ 28 bytes/span — span text never enters a shuffle.
    Only the LOSERS (duplicate occurrences) survive the window; their idx
    sets group to one small array per affected doc (empty for dup-free
    docs, i.e. most of a real corpus), and reassembly re-derives spans
    per-row from the original text and drops the loser idxs — the corpus
    text itself moves at most once (the final join by id; AQE broadcasts
    the loser side when small). Cost: the text is tokenized twice (two
    scans) — scans are cheap next to shuffling corpus bytes. md5's 128
    bits make a silent collision-drop negligible even at 10^12 distinct
    spans (birthday ≈ 10^-15); xxhash64 would NOT be safe there.

    via='text' partitions the window on raw span text and reassembles with
    one conditional aggregation (no join, no second scan) — fewer moving
    parts, ~2× corpus bytes through the shuffle. Good at probe scale; the
    property suite holds the two paths equal on every corpus."""
    toks = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(k)).cast("int")
    span_at = lambda i: F.array_join(F.slice(toks, i * k + 1, k), " ")  # noqa: E731
    spans = F.transform(F.sequence(F.lit(0), n_spans - 1), span_at)

    if via == "text":
        ex = df.select(F.col(id_col),
                       F.posexplode(spans).alias("span_idx", "span"))
        w = Window.partitionBy("span").orderBy(F.col(id_col),
                                               F.col("span_idx"))
        ranked = ex.withColumn("rn", F.row_number().over(w))
        # ONE conditional aggregation over the ranked rows rebuilds the doc
        # AND counts totals — no second corpus scan, no reassembly join
        # (every doc keeps a group even when all its spans were dropped).
        # collect_list skips the NULLs the `when` produces for dropped
        # spans.
        kept_struct = F.when(F.col("rn") == 1, F.struct("span_idx", "span"))
        return (ranked.groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_spans"),
                     F.count(kept_struct).alias("n_kept"),
                     F.array_join(
                         F.transform(
                             F.array_sort(F.collect_list(kept_struct)),
                             lambda s: s["span"]),
                         " ").alias("text_dedup"))
                .select(id_col, "text_dedup", "n_spans", "n_kept",
                        (F.col("n_spans") - F.col("n_kept"))
                        .alias("n_removed")))

    if via != "digest":
        raise ValueError(f"via must be 'digest' or 'text', got {via!r}")

    # pass 1 — losers only: (digest, id, idx) through the window shuffle,
    # rn > 1 rows collapse to one idx-array per doc that HAS duplicates
    hashed = df.select(
        F.col(id_col), F.posexplode(spans).alias("span_idx", "span")) \
        .select(id_col, "span_idx", F.unhex(F.md5("span")).alias("h"))
    w = Window.partitionBy("h").orderBy(F.col(id_col), F.col("span_idx"))
    losers = (hashed.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") > 1)
              .groupBy(id_col)
              .agg(F.collect_set("span_idx").alias("__dropped")))

    # pass 2 — reassembly from the ORIGINAL rows: re-derive spans per-row,
    # keep every idx not in the (usually empty) dropped set
    dropped = F.coalesce(F.col("__dropped"), F.array().cast("array<int>"))
    kept_idx = F.filter(F.sequence(F.lit(0), n_spans - 1),
                        lambda i: ~F.array_contains(dropped, i))
    return (df.join(losers, id_col, "left")
            .select(F.col(id_col),
                    F.array_join(F.transform(kept_idx, span_at), " ")
                    .alias("text_dedup"),
                    n_spans.alias("n_spans"),
                    F.size(kept_idx).alias("n_kept"),
                    (n_spans - F.size(kept_idx)).alias("n_removed")))


def exact_substring_spans(df: DataFrame, k: int = 20,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Maximal duplicated-substring spans of >= k tokens — the
    distributed restatement of the suffix-array ExactSubstr pass of Lee
    et al., "Deduplicating Training Data Makes Language Models Better"
    (ACL 2022; they use a 50-token threshold over a monolithic suffix
    array). The reduction that makes it shuffle-friendly: a substring
    of length >= k occurs twice in the corpus iff EVERY one of its
    k-token shingles occurs >= 2 times, so the maximal duplicated spans
    of a document are exactly the maximal runs of consecutive
    duplicated k-shingle start positions (run [i..j] ==> span of
    j - i + k tokens at position i). span_dedup's non-overlapping
    k-blocks miss duplicates straddling a block boundary; the sliding
    shingles here are offset-exact, the property the suffix array buys.

    Scale shape: shingle text collapses to an xxhash64 digest in the
    projection that creates it (the span_dedup digest discipline — only
    (digest, id, pos) rows shuffle), the >= 2 occurrence count is one
    map-side-combined aggregate, run detection is a PER-DOCUMENT window
    (bounded by document length, never global). Repeats WITHIN one
    document count toward the 2 occurrences, as in the paper.

    Output: (doc_id, span_start 1-based token index, span_tokens) —
    one row per maximal duplicated span.
    """
    from .util import spread_input

    toks = spread_input(df, id_col).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("t"))
    # guard: sequence(1, 0) DESCENDS in Spark — short docs get no grams
    idx = F.when(F.size("t") >= k,
                 F.sequence(F.lit(1), F.size("t") - (k - 1))) \
           .otherwise(F.array().cast("array<int>"))
    grams = (toks.select(
        F.col(id_col),
        F.explode(F.transform(
            idx,
            lambda i: F.struct(
                i.alias("pos"),
                F.xxhash64(F.concat_ws(" ", F.slice(F.col("t"), i, k)))
                .alias("g")))).alias("pg"))
        .select(id_col, F.col("pg.pos").alias("pos"),
                F.col("pg.g").alias("g")))
    hot = (grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= 2).select("g"))
    marked = grams.join(hot, "g", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (marked.withColumn("grp",
                              F.col("pos") - F.row_number().over(w)))
    return (runs.groupBy(id_col, "grp")
            .agg(F.min("pos").alias("mn"), F.max("pos").alias("mx"))
            .select(F.col(id_col),
                    F.col("mn").cast("int").alias("span_start"),
                    (F.col("mx") - F.col("mn") + k).cast("int")
                    .alias("span_tokens")))


# ---------------------------------------------------------------------------
# shingling

def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             k: int = 3) -> DataFrame:
    """Distinct k-token shingles per document: (id, shingle) exploded.
    Construction is array-native (split → sequence → transform) — no UDF."""
    # the explode+hash downstream is CPU-bound: make sure it isn't pinned to
    # a handful of input splits (a single parquet file = one task otherwise).
    # inputFiles() is a cheap file-listing probe — touching df.rdd would
    # force a full RDD conversion plan per call. An EMPTY listing means
    # non-file provenance (in-memory, post-shuffle): trust the existing
    # partitioning rather than paying an unconditional shuffle.
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < cores:
        df = df.repartition(cores, F.col(id_col))
    toks = F.split(F.col(text_col), " ")
    # guard: Spark's sequence(0, negative) would DESCEND — short docs get
    # an empty shingle set instead
    idx = F.when(F.size(toks) >= k,
                 F.sequence(F.lit(0), F.size(toks) - k)) \
           .otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + j + 1) for j in range(k)]))
    return (df.select(F.col(id_col), F.explode(F.array_distinct(sh))
                      .alias("shingle")))


# ---------------------------------------------------------------------------
# n-gram Jaccard via inverted index

def df_capped(sh: DataFrame, max_df: int, id_col: str = "doc_id") -> DataFrame:
    """Drop shingles whose document frequency exceeds max_df — the
    quadratic-hot-key guard: a shingle shared by d docs generates d²/2
    candidate pairs, so web-scale corpora MUST cap stopword-like shingles.
    (Discriminative power of a shingle falls with df anyway — removing hot
    shingles barely moves Jaccard for true near-dups.)

    Text-side reference form (shuffles shingle strings twice). The hot
    paths use the digest equivalent _drop_hot, which aggregates 8-byte
    xxhash64 ids and broadcasts the hot set back — keep this variant for
    callers that need the capped TEXT set (e.g. building an n-gram
    blocklist for reporting)."""
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    return (sh.join(dfreq.filter(F.col("__df") <= max_df), "shingle",
                    "left_semi"))


def _with_digest(sh: DataFrame) -> DataFrame:
    """(id, shingle) -> + 8-byte xxhash64 digest. Every downstream
    equality op (df cap, inverted-index join, common-count) runs on the
    digest, so shuffles ship (id, int64) rows — NOT shingle text, which at
    k=3 is ~3x the corpus bytes. Collision risk: two distinct shingles
    colliding flips one common-count by 1 at ~n²/2^65 odds — negligible
    below ~10^8 distinct shingles; above that, widen to 128 bits (unhex
    md5 as BINARY(16), still 4-6x smaller than text). Same digest-shuffle
    design as span_dedup's scale path (span_dedup_digest)."""
    return sh.withColumn("sid", F.xxhash64("shingle"))


def _drop_hot(shd: DataFrame, max_df: int,
              broadcast_hot: bool = True) -> DataFrame:
    """Hot-shingle cap on the digest: document frequencies aggregate over
    (sid) — an 8-byte shuffle — and the over-cap set comes BACK as a
    broadcast anti-join, so the exploded shingle rows never shuffle to
    get capped.

    Broadcast-size bound: |hot| <= shingle_instances / max_df (each hot
    shingle has > max_df instances), and Zipf text keeps the real set far
    below that — it's the stopword head, typically 10^5-10^7 entries
    (1-80 MB of int64s). If a corpus ever pushes the bound (pathological
    max_df or near-duplicate-saturated data), pass broadcast_hot=False to
    take the shuffle anti-join instead — still digest-width, never text."""
    hot = (shd.groupBy("sid").agg(F.count(F.lit(1)).alias("__df"))
           .filter(F.col("__df") > max_df).select("sid"))
    if broadcast_hot:
        hot = F.broadcast(hot)
    return shd.join(hot, "sid", "left_anti")


def jaccard_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3,
                  threshold: float = 0.5,
                  max_df: int | None = None) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with Jaccard(shingle sets) >=
    threshold, doc_a < doc_b. Inverted-index join: only docs sharing a
    shingle meet — on the 8-byte digest (_with_digest), so the index
    shuffle carries (id, int64) pairs, not text. max_df enables the
    hot-shingle guard (broadcast anti-join form, _drop_hot)."""
    shd = _with_digest(shingles(df, text_col, id_col, k))
    if max_df is not None:
        shd = _drop_hot(shd, max_df)
    ids = shd.select(F.col(id_col), "sid")
    sizes = ids.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = ids.select(F.col(id_col).alias("doc_a"), "sid")
    b = ids.select(F.col(id_col).alias("doc_b"),
                   F.col("sid").alias("sid_b"))
    common = (a.join(b, (F.col("sid") == F.col("sid_b"))
                     & (F.col("doc_a") < F.col("doc_b")))
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).alias("common")))

    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (common.join(sa, "doc_a").join(sb, "doc_b")
           .withColumn("jaccard",
                       F.col("common").cast("double")
                       / (F.col("n_a") + F.col("n_b") - F.col("common")))
           .filter(F.col("jaccard") >= threshold))
    return jac.select("doc_a", "doc_b", "jaccard")


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      threshold: float = 0.8,
                      max_df: int | None = None) -> DataFrame:
    """(doc_a, doc_b, containment) for pairs whose shingle-set OVERLAP
    coefficient |A∩B| / min(|A|, |B|) >= threshold, doc_a < doc_b — the
    asymmetric near-dup detector Jaccard misses: a short document pasted
    verbatim inside a long one has containment ~1 but Jaccard ~|A|/|B|,
    arbitrarily small. Broder's containment measure ("On the resemblance
    and containment of documents", SEQUENCES 1997) — the same candidate
    machinery as jaccard_pairs, a different final ratio.

    Scale shape is jaccard_pairs' exactly (reference: the r4 verdict's
    digest-shuffle discipline): the inverted-index join runs on 8-byte
    xxhash64 digests, shingle text never enters an exchange, and max_df
    caps the stopword-head explosion. The ratio is one IEEE divide of
    exact integers — bit-deterministic cross-engine, no rounding needed.

    Containment-heavy corpora (quote-reuse, boilerplate headers) should
    set max_df: a shingle shared by every page of a template produces
    O(df²) candidate pairs regardless of which ratio is computed."""
    shd = _with_digest(shingles(df, text_col, id_col, k))
    if max_df is not None:
        shd = _drop_hot(shd, max_df)
    ids = shd.select(F.col(id_col), "sid")
    sizes = ids.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = ids.select(F.col(id_col).alias("doc_a"), "sid")
    b = ids.select(F.col(id_col).alias("doc_b"),
                   F.col("sid").alias("sid_b"))
    common = (a.join(b, (F.col("sid") == F.col("sid_b"))
                     & (F.col("doc_a") < F.col("doc_b")))
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).alias("common")))

    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    cont = (common.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("containment",
                        F.col("common").cast("double")
                        / F.least("n_a", "n_b"))
            .filter(F.col("containment") >= threshold))
    return cont.select("doc_a", "doc_b", "containment")


# ---------------------------------------------------------------------------
# MinHash + LSH

def _minhash_col(seed: int) -> Column:
    """One MinHash permutation: lexicographic min of an 8-hex-char chunk of
    md5(saltgroup|shingle). One md5 digest yields FOUR independent 32-bit
    chunks, so k permutations cost ceil(k/4) md5 calls per shingle instead
    of k — md5 dominates the signature pass. Restatable in any SQL dialect.

    Deliberately a STRING min, although the variable-width buffer plans
    the signature pass as SortAggregate instead of HashAggregate: the
    shingle explode emits each document's shingles contiguously, so the
    map-side partial sort runs over nearly-doc-clustered data (near-linear
    for TimSort) at every scale, while the fixed-width alternative —
    min(conv(chunk, 16, 10) as bigint), order-identical because fixed-
    length lowercase hex compares as its numeric value — pays 8 conv()
    string parses per shingle. Measured head-to-head (r11,
    `git show b26f2ed:tools/ab_minhash.py` — alternating variants in ONE
    session so box drift cancels): at 16x corpus replication the string
    variant won
    every warm adjacent round of the isolated signature pass (6.55/6.69 s
    vs 7.28/6.91 s, a 3-10% edge), and at sf0.1 the two variants sit
    within box noise of each other in both directions, so the
    SortAggregate shape is kept on purpose — the BIGINT rewrite buys no
    measured time at any probed scale and costs the conv() parses."""
    group, chunk = seed // 4, seed % 4
    digest = F.md5(F.concat(F.lit(f"{group}|"), F.col("shingle")))
    return F.min(F.substring(digest, chunk * 8 + 1, 8))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_hashes: int = 8) -> DataFrame:
    """(id, mh0..mh{n-1}): one aggregation over exploded shingles."""
    sh = shingles(df, text_col, id_col, k)
    aggs = [_minhash_col(s).alias(f"mh{s}") for s in range(num_hashes)]
    return sh.groupBy(id_col).agg(*aggs)


def band_rows(signatures: DataFrame, id_col: str = "doc_id",
              num_hashes: int = 8, bands: int = 4) -> DataFrame:
    """(id, band_key): one row per band of each signature — the LSH
    bucket keys, shared by the self-join (lsh_candidate_pairs) and the
    batch-vs-store incremental join (incremental_minhash_pairs)."""
    rows = num_hashes // bands
    return signatures.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.concat_ws("|", F.lit(str(band)),
                        *[F.col(f"mh{band * rows + r}") for r in range(rows)])
            .alias("bk") for band in range(bands)
        ])).alias("band_key"))


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        num_hashes: int = 8, bands: int = 4) -> DataFrame:
    """Band the signature, bucket by (band, band-key), emit same-bucket
    pairs (doc_a < doc_b, distinct). Probability a pair with Jaccard j
    collides: 1-(1-j^r)^b with r = num_hashes/bands rows per band."""
    banded = band_rows(signatures, id_col, num_hashes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"))
            .distinct())


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        num_hashes: int = 8, bands: int = 4,
                        threshold: float = 0.5,
                        max_df: int | None = None,
                        shingles_df: DataFrame | None = None) -> DataFrame:
    """Full MinHash-LSH pipeline: candidates from banding, then exact
    Jaccard verification of ONLY the candidates (the scale path — compare
    with jaccard_pairs which verifies every shingle-sharing pair).
    max_df (hot-shingle cap, see df_capped) applies to the document
    representation itself — signatures AND verification use the capped
    shingle sets, so the computed Jaccard stays self-consistent.
    shingles_df: precomputed (id, shingle) distinct set — pass it when the
    surrounding pipeline already built one (e.g. clean_corpus shares a
    single pinned explode with decontamination); the cap still applies.

    Shuffle profile (the 100 TB story): shingle TEXT never enters a
    shuffle. The md5 signature partials reduce map-side over the pinned
    explode; the df cap is an (sid)-only aggregation + broadcast anti-join
    (_drop_hot); candidate verification joins on the 8-byte digest. Every
    exchange in the plan ships ids, int64 digests, or 8-char signature
    chunks."""
    shd = _with_digest(shingles(df, text_col, id_col, k)
                       if shingles_df is None else shingles_df)
    if max_df is not None:
        # cap BEFORE pinning: the capped set is what every downstream
        # consumer scans, and on stopword-heavy corpora it is much smaller
        # than the raw explode
        shd = _drop_hot(shd, max_df)
    # one digested shingle pass, pinned for THIS call (eager), feeds
    # signatures, sizes AND verification: the explode and the cap run
    # once. localCheckpoint, not cache(): a process-wide cache entry
    # would serve a later call stale rows after the input files change
    # under the same path.
    shd = shd.localCheckpoint()
    sigs = shd.groupBy(id_col).agg(
        *[_minhash_col(s).alias(f"mh{s}") for s in range(num_hashes)])
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    ids = shd.select(F.col(id_col), "sid")
    sizes = ids.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = ids.select(F.col(id_col).alias("doc_a"), "sid")
    b = ids.select(F.col(id_col).alias("doc_b"), "sid")
    common = (cands.join(a, "doc_a").join(b, ["doc_b", "sid"])
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).alias("common")))
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (common.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard",
                        F.col("common").cast("double")
                        / (F.col("n_a") + F.col("n_b") - F.col("common")))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-backed — portable)

SIMHASH_BITS = 16


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """(id, simhash bitstring): bit b is the majority vote of md5(token)'s
    b-th hex nibble high bit across the document's tokens. Near-duplicate
    docs agree on most bits (compare via Hamming distance)."""
    tok = df.select(F.col(id_col),
                    F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = tok.withColumn("h", F.md5("tok"))
    votes = [
        F.sum(F.when(F.substring("h", b + 1, 1)
                     .isin(*list("89abcdef")), 1).otherwise(-1)).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    bits = F.concat(*[
        F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for b in range(SIMHASH_BITS)
    ])
    return agg.select(F.col(id_col), bits.alias("simhash"))


SIMHASH64_BITS = 60  # packed into BIGINT; 60 < 63 keeps the sign bit clear


def _hex_val(col_expr: str, pos: int) -> str:
    """SQL for the 0-15 value of the pos-th (1-based) hex char — via
    strpos/instr so the SAME string works in Spark and DuckDB."""
    return (f"(instr('0123456789abcdef', substr({col_expr}, {pos}, 1)) - 1)")


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Packed 60-bit SimHash as one BIGINT: per-bit majority vote over
    md5(token) bits, packed so Hamming distance is bit_count(a ^ b) — the
    production representation (compare simhash(): 16-bit string demo)."""
    tok = df.select(F.col(id_col),
                    F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = tok.withColumn("h", F.md5("tok"))
    votes = []
    for b in range(SIMHASH64_BITS):
        val = _hex_val("h", b // 4 + 1)
        bit = f"(CAST(floor({val} / {2 ** (b % 4)}) AS BIGINT) % 2)"
        votes.append(F.expr(
            f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)").alias(f"v{b}"))
    agg = h.groupBy(id_col).agg(*votes)
    packed = F.expr(" + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({2 ** b} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)" for b in range(SIMHASH64_BITS)))
    return agg.select(F.col(id_col), packed.alias("simhash64"))


def simhash_both(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Both SimHash representations from ONE pass — the 16-bit nibble
    bitstring (simhash) and the packed 60-bit BIGINT (simhash64) — in a
    single token explode + grouped vote aggregate (76 codegen'd sums).
    The separate simhash()/simhash64() builders each re-scan the corpus;
    a caller wanting both should never pay the join."""
    tok = df.select(F.col(id_col),
                    F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = tok.withColumn("h", F.md5("tok"))
    votes16 = [
        F.sum(F.when(F.substring("h", b + 1, 1)
                     .isin(*list("89abcdef")), 1).otherwise(-1))
        .alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    votes60 = []
    for b in range(SIMHASH64_BITS):
        val = _hex_val("h", b // 4 + 1)
        bit = f"(CAST(floor({val} / {2 ** (b % 4)}) AS BIGINT) % 2)"
        votes60.append(F.expr(
            f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)").alias(f"w{b}"))
    agg = h.groupBy(id_col).agg(*votes16, *votes60)
    bits = F.concat(*[
        F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for b in range(SIMHASH_BITS)
    ])
    packed = F.expr(" + ".join(
        f"(CASE WHEN w{b} > 0 THEN CAST({2 ** b} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)" for b in range(SIMHASH64_BITS)))
    return agg.select(F.col(id_col), bits.alias("simhash"),
                      packed.alias("simhash64"))


def simhash64_near_dup_pairs(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             max_hamming: int = 10,
                             bands: int = 4) -> DataFrame:
    """Near-dup pairs on the packed signature: band join on 15-bit chunks
    (recall guaranteed for hamming < bands), exact Hamming via
    bit_count(xor) on candidates."""
    width = SIMHASH64_BITS // bands
    mask = (1 << width) - 1
    sig = simhash64(df, text_col, id_col)
    banded = sig.select(
        F.col(id_col), "simhash64",
        F.explode(F.array(*[
            F.expr(f"concat('{b}|', CAST((simhash64 >> {b * width})"
                   f" & {mask} AS STRING))")
            for b in range(bands)
        ])).alias("band_key"))
    a, b2 = banded.alias("a"), banded.alias("b")
    cand = (a.join(b2, (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"),
                    F.col("a.simhash64").alias("sig_a"),
                    F.col("b.simhash64").alias("sig_b"))
            .distinct())
    return (cand.withColumn(
                "hamming", F.expr("bit_count(sig_a ^ sig_b)"))
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iterations: int = 20) -> DataFrame:
    """Dedup CLUSTERS from near-dup pairs: connected components by
    min-label propagation (each node converges to the smallest doc id
    reachable from it) with PATH SHORTCUTTING — each round also replaces
    every node's label by its label's own label (pointer jumping, the
    Shiloach-Vishkin / Kiveris-et-al "large-star" idea), so convergence
    needs ~log2(diameter) rounds instead of diameter rounds. Near-dup
    clusters are shallow, but grid-cell graphs (density.dbscan_grid) can
    chain hundreds of cells — the r7 16x probe hit exactly that with the
    plain propagation. Iterative DataFrame algorithm — the loop is
    driver control flow, every step a distributed join;
    localCheckpoint per round truncates the growing lineage."""
    edges = (pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
             .unionByName(
                 pairs.select(F.col(b_col).alias("src"),
                              F.col(a_col).alias("dst")))
             .distinct().localCheckpoint(eager=True))
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")))

    converged = False
    for _ in range(max_iterations):
        neighbor_min = (edges.join(labels, edges.dst == labels.node)
                        .groupBy("src").agg(F.min("label").alias("nmin")))
        # convergence flag computed IN the propagation projection — the
        # old old-vs-new labels join cost one extra shuffle join per
        # round on top of the checkpoint; the flag rides the same rows
        # and the changed-check becomes a scan of the materialized
        # partitions (round-6 constant shave, the HITS-lesson audit)
        stepped = (labels.join(neighbor_min,
                               labels.node == neighbor_min.src, "left")
                   .select(F.col("node"),
                           F.col("label").alias("old"),
                           F.least(F.col("label"),
                                   F.coalesce("nmin", F.col("label")))
                           .alias("mid")))
        # path shortcut: label := label's own label (every label value
        # IS a node, so the mapping join is total; kept left+coalesce as
        # a belt). Halves the distance to the component minimum each
        # round — the log-rounds half of the algorithm.
        lab_of = stepped.select(F.col("node").alias("ln"),
                                F.col("mid").alias("ll"))
        two = (stepped.join(lab_of, stepped.mid == lab_of.ln, "left")
               .select(F.col("node"),
                       F.least(F.col("mid"),
                               F.coalesce("ll", F.col("mid")))
                       .alias("label"),
                       (F.least(F.col("mid"),
                                F.coalesce("ll", F.col("mid")))
                        < F.col("old")).alias("chg"))
               .localCheckpoint(eager=True))
        labels = two.select("node", "label")
        if two.filter(F.col("chg")).isEmpty():
            converged = True
            break
    if not converged:
        # deep chain graphs (diameter > max_iterations label-hops) would
        # otherwise return silently-wrong cluster labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — graph has label chains deeper than the budget; "
            "raise max_iterations (rounds needed ≈ graph diameter)")
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_hamming: int = 3,
                           bands: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash: band the 16-bit signature into `bands`
    nibbles; pairs sharing ANY band are candidates (Hamming-LSH — a pair
    within distance d must agree on >= bands - d bands, so d < bands
    guarantees recall 1.0); verify exact Hamming <= max_hamming.
    O(n·bands) bucket keys, no all-pairs scan."""
    width = SIMHASH_BITS // bands
    sig = simhash(df, text_col, id_col)
    banded = sig.select(
        F.col(id_col), "simhash",
        F.explode(F.array(*[
            F.concat(F.lit(f"{b}|"),
                     F.substring("simhash", b * width + 1, width))
            for b in range(bands)
        ])).alias("band_key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"),
                    F.col("a.simhash").alias("sig_a"),
                    F.col("b.simhash").alias("sig_b"))
            .distinct())
    hamming = sum(
        (F.substring("sig_a", i + 1, 1) != F.substring("sig_b", i + 1, 1))
        .cast("int") for i in range(SIMHASH_BITS))
    return (cand.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def prefix_filtered_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 3,
                          threshold: float = 0.5,
                          max_df: int | None = None) -> DataFrame:
    """Jaccard near-dup pairs via PREFIX FILTERING (the PPJoin candidate
    rule — Chaudhuri/Ganti/Kaushik ICDE 2006, Xiao et al. WWW 2008)
    instead of the full inverted-index join.

    Order every document's shingles by global rarity (ascending document
    frequency, digest as tie-break); any pair with J >= t must share at
    least ceil(t*|x|) shingles, so it must collide inside the first
    |x| - ceil(t*|x|) + 1 shingles of this ordering — only PREFIXES enter
    the index join. Rare-first ordering makes those prefix collisions
    scarce: the candidate set shrinks by the frequency skew of the corpus
    while provably losing nothing (the suite checks this operator against
    the PLAIN Jaccard oracle — a hash match IS the completeness proof).

    Verification computes exact Jaccard per candidate from the two docs'
    digest ARRAYS (array_intersect — bounded by doc length), so the full
    inverted index's quadratic common-shingle aggregation never runs.
    The global ordering needs no global rank: (df, sid) structs are the
    sort key directly, so there is no single-partition window anywhere.
    """
    shd = _with_digest(shingles(df, text_col, id_col, k))
    if max_df is not None:
        shd = _drop_hot(shd, max_df)
    ids = shd.select(F.col(id_col).alias("doc"), "sid")
    dfreq = ids.groupBy("sid").agg(F.count(F.lit(1)).alias("sdf"))
    ranked = ids.join(dfreq, "sid")
    per_doc = (ranked.groupBy("doc")
               .agg(F.sort_array(F.collect_list(F.struct("sdf", "sid")))
                    .alias("ss")))
    n = F.size("ss")
    # ceil over IEEE doubles: when t*n is mathematically an integer the
    # float product can land a hair ABOVE it (fl(0.07)*100 =
    # 7.000000000000001 -> ceil 8), which would shorten the prefix below
    # the provable bound and silently drop qualifying pairs. Subtract an
    # epsilon far smaller than any representable t*n gap before ceiling.
    p = n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)).cast("int") + 1
    per_doc = per_doc.select(
        "doc", F.transform("ss", lambda s: s["sid"]).alias("sids"),
        F.slice(F.transform("ss", lambda s: s["sid"]), 1, p)
        .alias("prefix"))
    # the prefix index carries (doc, sid) ONLY — the digest arrays join
    # back after candidate dedup, so prefix collisions never replicate a
    # document's full shingle set through the exchange
    pa = per_doc.select(F.col("doc").alias("doc_a"),
                        F.explode("prefix").alias("sid"))
    pb = per_doc.select(F.col("doc").alias("doc_b"),
                        F.explode("prefix").alias("sid_b"))
    cand = (pa.join(pb, (F.col("sid") == F.col("sid_b"))
                    & (F.col("doc_a") < F.col("doc_b")))
            .select("doc_a", "doc_b").distinct())
    sets = per_doc.select("doc", "sids")
    cand = (cand
            .join(sets.select(F.col("doc").alias("doc_a"),
                              F.col("sids").alias("sa")), "doc_a")
            .join(sets.select(F.col("doc").alias("doc_b"),
                              F.col("sids").alias("sb")), "doc_b"))
    common = F.size(F.array_intersect("sa", "sb"))
    jac = (common.cast("double")
           / (F.size("sa") + F.size("sb") - common))
    return (cand.select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def incremental_exact_dedup(batch: DataFrame, store: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Exact dedup of a NEW batch against an existing fingerprint store —
    the production shape: an ingestion pipeline never re-deduplicates the
    accumulated corpus, it checks arrivals against a (fingerprint,
    owner_id) table and appends the survivors.

    Verdicts per batch document:
      * 'store_dup' — fingerprint already owned by the store (dup_of =
        the store's lowest owner id);
      * 'batch_dup' — first seen in THIS batch by a lower batch id
        (dup_of = that id);
      * 'new'       — survives; (fingerprint, id) is the store delta to
        append, making the operator idempotently resumable.

    Scale shape: the batch is fingerprinted in one projection; the store
    join is keyed on the 16-byte md5 — the store's TEXT is never read,
    only its fingerprint column (at 100 TB the store is a compact
    fingerprint table, bucketable by fingerprint so repeated ingestions
    join exchange-free). Batch-internal ranking is a min aggregation per
    fingerprint, not a window over the store.
    """
    from .text import fingerprint

    b = batch.select(F.col(id_col).alias("id"),
                     fingerprint(text_col).alias("fp"))
    owners = (store.groupBy("fp")
              .agg(F.min("owner_id").alias("store_owner")))
    # no broadcast hint: the STORE is the big side in production (the
    # batch is), so the planner/AQE must pick the build side — a forced
    # owners broadcast would OOM on a corpus-scale store
    joined = b.join(owners, "fp", "left")
    firsts = (b.groupBy("fp").agg(F.min("id").alias("batch_first")))
    out = (joined.join(firsts, "fp")
           .select(
               F.col("id").alias(id_col), "fp",
               F.when(F.col("store_owner").isNotNull(),
                      F.lit("store_dup"))
               .when(F.col("id") > F.col("batch_first"),
                     F.lit("batch_dup"))
               .otherwise(F.lit("new")).alias("verdict"),
               F.coalesce("store_owner",
                          F.when(F.col("id") > F.col("batch_first"),
                                 F.col("batch_first")),
                          F.lit(-1)).cast("bigint").alias("dup_of")))
    return out


def incremental_minhash_pairs(batch: DataFrame, store_sigs: DataFrame,
                              store_shingles: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", k: int = 3,
                              num_hashes: int = 8, bands: int = 4,
                              threshold: float = 0.8,
                              max_df: int | None = None) -> DataFrame:
    """NEAR-dup complement of incremental_exact_dedup: band a NEW batch's
    MinHash signatures against the accumulated store's PERSISTED
    signatures and verify only cross candidates — the store is never
    re-banded against itself, so ingesting a batch costs
    O(|batch| + matching buckets), not O(|store|²).

    Store contract (the production design this mirrors): the fingerprint
    store persists BOTH the signature table (num_hashes 8-char chunks per
    doc) and the shingle-digest table (8-byte xxhash64 sids, the same
    rows incremental_exact_dedup's store keeps) — signatures drive the
    band join, digests drive exact-Jaccard verification of candidates.
    Neither table carries text.

    Shuffle profile at 100 TB: batch shingle text dies at the map side
    (_with_digest); the band join keys on short band strings whose
    buckets the df-cap keeps small; verification joins 8-byte digests
    constrained to candidates. AQE picks the build side for the
    batch-vs-store joins (the batch is usually the small side).

    Output: (batch_doc, store_doc, jaccard) at jaccard >= threshold.
    """
    bsh = _with_digest(shingles(batch, text_col, id_col, k))
    if max_df is not None:
        bsh = _drop_hot(bsh, max_df)
    # pinned for this call: signatures, sizes and verification read it
    bsh = bsh.localCheckpoint()
    bsigs = bsh.groupBy(id_col).agg(
        *[_minhash_col(s).alias(f"mh{s}") for s in range(num_hashes)])
    bb = (band_rows(bsigs, id_col, num_hashes, bands)
          .select(F.col(id_col).alias("batch_doc"), "band_key"))
    sb = (band_rows(store_sigs, id_col, num_hashes, bands)
          .select(F.col(id_col).alias("store_doc"), "band_key"))
    cands = (bb.join(sb, "band_key")
             .select("batch_doc", "store_doc").distinct())
    a = bsh.select(F.col(id_col).alias("batch_doc"), "sid")
    b = store_shingles.select(F.col(id_col).alias("store_doc"), "sid")
    sz_a = a.groupBy("batch_doc").agg(F.count(F.lit(1)).alias("na"))
    sz_b = b.groupBy("store_doc").agg(F.count(F.lit(1)).alias("nb"))
    common = (cands.join(a, "batch_doc").join(b, ["store_doc", "sid"])
              .groupBy("batch_doc", "store_doc")
              .agg(F.count(F.lit(1)).alias("c")))
    jac = (F.col("c").cast("double")
           / (F.col("na") + F.col("nb") - F.col("c")))
    return (common.join(sz_a, "batch_doc").join(sz_b, "store_doc")
            .select("batch_doc", "store_doc", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def canonical_docs(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   length_col: str = "n_chars") -> DataFrame:
    """Canonical-representative selection over near-dup clusters — the
    keep/drop verdict a dedup pipeline actually ships: cluster the pair
    graph (connected_components), give singleton documents their own
    cluster, keep ONE representative per cluster by the pinned rule
    (longest first — near-dup clusters usually contain truncations of
    the fullest copy — then lowest id). This is C4/RefinedWeb's
    "retain one member of each duplicate cluster" step as an operator.

    Scale shape: components is the iterative label propagation (its own
    contract); everything after is one left join (labels table is
    cluster-members-sized, broadcastable — near-dup clusters are a
    small fraction of a corpus) and one window partitioned by
    cluster_id, whose partitions are cluster-sized, never corpus-sized.

    Output: (id_col, cluster_id, keep) for EVERY input document,
    keep ∈ {0, 1}, exactly one keep=1 per cluster.
    """
    from pyspark.sql.window import Window

    labels = connected_components(pairs)
    lab = (docs.select(F.col(id_col), F.col(length_col))
           .join(labels.withColumnRenamed("doc_id", id_col), id_col,
                 "left")
           .select(id_col,
                   F.coalesce("cluster_id", F.col(id_col))
                   .alias("cluster_id"),
                   F.col(length_col)))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(length_col), F.asc(id_col))
    return (lab.withColumn(
        "keep", F.when(F.row_number().over(w) == 1, F.lit(1))
        .otherwise(F.lit(0)).cast("int"))
        .select(id_col, "cluster_id", "keep"))


def cross_source_leakage(docs: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         source_col: str = "source") -> DataFrame:
    """Cross-corpus leakage matrix — near-dup pairs whose members come
    from DIFFERENT sources, aggregated per source pair: the "which of my
    corpora overlap (and how hard)" report run before mixing training
    corpora or trusting a held-out slice (same concern as benchmark
    decontamination, aimed at corpus×corpus instead of corpus×benchmark;
    see Dodge et al., "Documenting Large Webtext Corpora", EMNLP 2021 on
    C4's cross-source duplication).

    Aggregates are order-safe only: pair COUNT and MAX similarity (a
    float MEAN would sum IEEE doubles in shuffle order — not
    hash-checkable; max is associative-exact). Source pair normalized
    (sa <= sb lexicographically) so each unordered pair appears once.

    Scale shape: the pair list is the near-dup detector's output
    (already candidate-bounded); this adds two joins against the
    (id, source) projection — broadcastable when the pair list is small,
    hash joins on 8-byte ids otherwise — and one tiny aggregation.

    Output: (source_a, source_b, n_pairs, max_sim).
    """
    sim_col = [c for c in pairs.columns
               if c not in ("doc_a", "doc_b")][0]
    ids = docs.select(F.col(id_col), F.col(source_col))
    j = (pairs
         .join(ids.select(F.col(id_col).alias("doc_a"),
                          F.col(source_col).alias("sa")), "doc_a")
         .join(ids.select(F.col(id_col).alias("doc_b"),
                          F.col(source_col).alias("sb")), "doc_b")
         .filter(F.col("sa") != F.col("sb")))
    return (j.groupBy(F.least("sa", "sb").alias("source_a"),
                      F.greatest("sa", "sb").alias("source_b"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.max(sim_col).alias("max_sim")))
