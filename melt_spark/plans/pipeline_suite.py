"""Oracle-checked queries for the LLM-data-pipeline operators (SURVEY.md §7
Phase 5 / driver north star): dedup, similarity search, text analysis,
multimodal. Same registry shape as suite.py; merged there.

Oracle-portability notes: hashes are md5 (identical hex in any engine);
float folds are left-to-right in both Spark (aggregate) and DuckDB
(list_reduce) with a 0.0 seed, so doubles hash-match bit-for-bit; integer
plane/metadata arithmetic is pure int math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import (assign_shards, contamination,
                                  pii_count, repetition_features,
                                  scrub_pii, stratified_sample)
from ..functions.dedup import (duplicate_groups, jaccard_pairs,
                               minhash_dedup_pairs, simhash, SIMHASH_BITS)
from ..functions.multimodal import (attach_binary, decode_metadata,
                                    sample_frames)
from ..functions.similarity import cosine_topk, lsh_bucketed
from ..functions.text import STOPWORDS, quality_score, with_text_stats
from ..sources.parquet import read_table

# ---------------------------------------------------------------------------
# shared oracle SQL fragments

_TOKS = "string_split(text, ' ')"

_SHINGLES_CTE = f"""
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, len({_TOKS}) - 2),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         ))) AS shingle
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""

# hot-shingle document-frequency cap (see functions/dedup.py df_capped):
# a shingle shared by d docs creates d²/2 candidate pairs, so the scale
# path MUST cap stopword-like shingles. Mirrored on both engines.
MAX_SHINGLE_DF = 200

_CAPPED_SHINGLES_CTE = f"""
sh0 AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, len({_TOKS}) - 2),
           i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
         ))) AS shingle
  FROM documents
),
sh AS (
  SELECT sh0.* FROM sh0
  JOIN (SELECT shingle FROM sh0
        GROUP BY shingle HAVING COUNT(*) <= {MAX_SHINGLE_DF}) ok
  USING (shingle)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""


def _stopword_hits_sql(lang: str) -> str:
    lits = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_intersect({_TOKS}, [{lits}]))"


def _lang_case_sql() -> str:
    langs = sorted(STOPWORDS)
    scores = {lg: f"s_{lg}" for lg in langs}
    greatest = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "\n".join(
        f"  WHEN {scores[lg]} = {greatest} THEN '{lg}'" for lg in langs)
    return f"CASE WHEN {greatest} = 0 THEN 'und'\n{whens}\n  END"


# ---------------------------------------------------------------------------
# text analysis


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (ws + BPE-ish), language-ID heuristic, fingerprint."""
    docs = read_table(spark, sf_dir, "documents")
    return with_text_stats(docs).select(
        "doc_id", "n_tokens_ws", "n_tokens_bpe", "lang_pred", "fingerprint")


SQL_TEXT_STATS = f"""
WITH scored AS (
  SELECT doc_id, text,
         {", ".join(f"{_stopword_hits_sql(lg)} AS s_{lg}" for lg in sorted(STOPWORDS))}
  FROM documents
)
SELECT doc_id,
  len({_TOKS}) AS n_tokens_ws,
  len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tokens_bpe,
  {_lang_case_sql()} AS lang_pred,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM scored
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + composite score."""
    docs = read_table(spark, sf_dir, "documents")
    return quality_score(docs).select(
        "doc_id", "q_chars", "q_tokens", "q_mean_tok_len",
        "q_punct_ratio", "q_stopword_ratio", "quality")


SQL_QUALITY_SCORES = f"""
WITH feats AS (
  SELECT doc_id,
    length(text) AS q_chars,
    len({_TOKS}) AS q_tokens,
    CAST(length(text) AS DOUBLE) / len({_TOKS}) AS q_mean_tok_len,
    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
      / len({_TOKS}) AS q_punct_ratio,
    CAST({_stopword_hits_sql('en')} AS DOUBLE)
      / {len(STOPWORDS['en'])} AS q_stopword_ratio
  FROM documents
)
SELECT doc_id, q_chars, q_tokens, q_mean_tok_len, q_punct_ratio,
  q_stopword_ratio,
  least(q_stopword_ratio * 2, 1.0) * 0.5
    + CASE WHEN q_mean_tok_len >= 3 AND q_mean_tok_len <= 10
           THEN 0.3 ELSE 0.0 END
    + CASE WHEN q_punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END AS quality
FROM feats
"""


# ---------------------------------------------------------------------------
# repetition signals + PII scrub (corpus cleaning, functions/cleaning.py)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition ratios per document — boilerplate/spam
    signals. Pure per-row array folds, no shuffle of consequence — but
    the folds are interpreted higher-order expressions, so a one-file
    input would run them on ONE task (r12, guide §2.6 idle capacity:
    11.3 s single-threaded at sf0.1); spread_input repartitions only
    when files < cores — a no-op on a real many-file 100 TB table."""
    from ..functions.util import spread_input

    docs = spread_input(read_table(spark, sf_dir, "documents"), "doc_id")
    return repetition_features(docs)


_BG = ("list_transform(range(1, len(toks)), "
       "i -> toks[i] || ' ' || toks[i+1])")

SQL_REPETITION = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (SELECT doc_id, toks, {_BG} AS bg FROM t)
SELECT doc_id,
  1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
    AS dup_token_frac,
  CASE WHEN len(bg) < 1 THEN 0.0
       ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
  END AS dup_bigram_frac,
  CASE WHEN len(bg) < 1 THEN 0.0
       ELSE CAST(list_max(list_transform(list_distinct(bg),
                 x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg)
  END AS top_bigram_frac
FROM b
"""


def q_rep_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 repetition-family additions (functions/cleaning.py
    repeat_entropy_cols): ladder-resolved longest repeated n-gram and
    unigram token entropy per document — pure per-row array expressions,
    zero shuffle."""
    from ..functions.cleaning import repeat_entropy_cols
    from ..functions.util import spread_input

    # same one-task hazard as q_repetition (r12): the ladder folds are
    # per-row CPU; spread a few-file input across cores first
    docs = spread_input(read_table(spark, sf_dir, "documents"), "doc_id")
    cols = repeat_entropy_cols("text")
    return docs.select("doc_id",
                       *[c.alias(n) for n, c in cols.items()])


def _rep_ngrams_sql() -> str:
    from ..functions.cleaning import NGRAM_REPEAT_LADDER

    def ng(n: int) -> str:
        if n == 1:
            return "toks"
        return (f"list_transform(range(1, len(toks) - {n - 2}), "
                f"i -> array_to_string(list_slice(toks, i, i + {n - 1}),"
                f" ' '))")

    rungs = ", ".join(
        f"CASE WHEN len({ng(n)}) > len(list_distinct({ng(n)}))"
        f" THEN {n} ELSE 0 END" for n in NGRAM_REPEAT_LADDER)
    # entropy: per-distinct-token c·ln c terms rounded(9), folded in
    # sorted-token order — the identical term sequence to Spark's sorted
    # run-length fold
    term = ("round(len(list_filter(toks, y -> y = x)) * "
            "CASE WHEN len(list_filter(toks, y -> y = x)) > 1 "
            "THEN ln(len(list_filter(toks, y -> y = x))) ELSE 0.0 END, 9)")
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
e AS (
  SELECT doc_id, toks, len(toks) AS n,
    list_reduce(list_prepend(0.0,
      list_transform(list_sort(list_distinct(toks)), x -> {term})),
      (a, b) -> a + b) AS s
  FROM t
)
SELECT doc_id,
  CAST(greatest({rungs}) AS INT) AS max_rep_ngram,
  CASE WHEN n <= 1 THEN 0.0
       ELSE round(ln(n) - s / n, 9) END AS token_entropy
FROM e
"""


SQL_REP_NGRAMS = _rep_ngrams_sql()


def _planted_pii() -> "F.Column":
    """text + deterministic planted PII (email iff doc_id%3=0, IP iff %4=0,
    phone iff %5=0) — the fixture corpus is PII-free, so the suite plants
    its own to prove detection AND redaction."""
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(did % 3 == 0,
               F.concat(F.lit(" mail user"), did.cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(did % 4 == 0,
               F.concat(F.lit(" host 10.0."), (did % 256).cast("string"),
                        F.lit(".7"))).otherwise(F.lit("")),
        F.when(did % 5 == 0,
               F.concat(F.lit(" tel +1-555-"),
                        F.lpad((did % 1000).cast("string"), 3, "0"),
                        F.lit("-"),
                        F.lpad((did % 10000).cast("string"), 4, "0")))
         .otherwise(F.lit("")),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction battery over the planted-PII corpus — counts and the
    scrubbed fingerprint prove detection AND redaction on both engines."""
    docs = read_table(spark, sf_dir, "documents")
    salted = docs.select("doc_id", _planted_pii().alias("text"))
    return salted.select(
        "doc_id",
        pii_count("text", "email").alias("n_email"),
        pii_count("text", "ipv4").alias("n_ipv4"),
        pii_count("text", "phone").alias("n_phone"),
        F.md5(scrub_pii("text")).alias("scrubbed_fp"))


_PII_SQL_RE = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4": "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone": "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}",
}

SQL_PII_SCRUB = f"""
WITH planted AS (
  SELECT doc_id,
    text
      || CASE WHEN doc_id % 3 = 0
              THEN ' mail user' || doc_id || '@example.com' ELSE '' END
      || CASE WHEN doc_id % 4 = 0
              THEN ' host 10.0.' || (doc_id % 256) || '.7' ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN ' tel +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(text, '{_PII_SQL_RE["email"]}')) AS n_email,
  len(regexp_extract_all(text, '{_PII_SQL_RE["ipv4"]}')) AS n_ipv4,
  len(regexp_extract_all(text, '{_PII_SQL_RE["phone"]}')) AS n_phone,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '{_PII_SQL_RE["email"]}', '<EMAIL>', 'g'),
      '{_PII_SQL_RE["ipv4"]}', '<IPV4>', 'g'),
      '{_PII_SQL_RE["phone"]}', '<PHONE>', 'g')) AS scrubbed_fp
FROM planted
"""


def q_text_profile_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL per-document text features in ONE projection pass — stats,
    quality, repetition, PII — the shape a 100 TB corpus scan wants (the
    oracle restates it as a 4-way join of the constituent queries; the
    Spark plan is a single scan with zero joins and zero shuffles at real
    file counts). The per-doc work is CPU-heavy (the top-bigram count is
    O(distinct²) per row), so when the fixture is a single parquet file —
    one task — we buy parallelism with one repartition; a 100 TB corpus
    has thousands of files and skips this."""
    from ..functions.cleaning import (pii_count, repeat_entropy_cols,
                                      repetition_cols, scrub_pii)

    docs = read_table(spark, sf_dir, "documents")
    cores = spark.sparkContext.defaultParallelism
    if len(docs.inputFiles()) < cores:
        docs = docs.repartition(cores, F.col("doc_id"))
    rep = repetition_cols("text")
    rep5 = repeat_entropy_cols("text")
    planted = _planted_pii()
    return quality_score(with_text_stats(docs)).select(
        "doc_id", "n_tokens_ws", "n_tokens_bpe", "lang_pred", "fingerprint",
        "q_chars", "q_tokens", "q_mean_tok_len", "q_punct_ratio",
        "q_stopword_ratio", "quality",
        *[c.alias(name) for name, c in rep.items()],
        *[c.alias(name) for name, c in rep5.items()],
        pii_count(planted, "email").alias("n_email"),
        pii_count(planted, "ipv4").alias("n_ipv4"),
        pii_count(planted, "phone").alias("n_phone"),
        F.md5(scrub_pii(planted)).alias("scrubbed_fp"))


# ---------------------------------------------------------------------------
# dedup


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups over a corpus with planted duplicates (documents
    unioned with an id-shifted copy of itself)."""
    docs = read_table(spark, sf_dir, "documents")
    copy = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10000))
    return duplicate_groups(docs.unionByName(copy))


SQL_DEDUP_EXACT = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 10000, text FROM documents
)
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document span dedup (functions/dedup.span_dedup): the corpus
    with a planted id-shifted copy — every span of a copied doc is a
    corpus-level duplicate, so copies reassemble empty while originals
    survive intact (plus any natural cross-doc span repeats)."""
    from ..functions.dedup import span_dedup

    docs = read_table(spark, sf_dir, "documents")
    copy = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10000))
    return span_dedup(docs.unionByName(copy), k=8)


SQL_SPAN_DEDUP = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 10000, text FROM documents
),
toks AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM corpus
),
spans AS (
  SELECT doc_id, CAST(g.i AS INT) AS span_idx,
         array_to_string(arr[(g.i * 8 + 1):(g.i * 8 + 8)], ' ') AS span
  FROM toks,
       unnest(generate_series(0,
              CAST(ceil(len(arr) / 8.0) AS INT) - 1)) AS g(i)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY span
                               ORDER BY doc_id, span_idx) AS rn
  FROM spans
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(span, ' ' ORDER BY span_idx) AS text_dedup
  FROM ranked WHERE rn = 1 GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id)
SELECT t.doc_id, coalesce(r.text_dedup, '') AS text_dedup,
       CAST(t.n_spans AS BIGINT) AS n_spans,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(t.n_spans - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
"""


def q_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring spans >= 20 tokens
    (functions/dedup.exact_substring_spans — the distributed ExactSubstr
    of Lee et al., ACL 2022) over the raw corpus: sliding 20-token
    shingles, offset-exact, so duplicates straddling span_dedup's block
    boundaries are found too. The fixture's planted exact copies emit
    full-document spans; natural boilerplate emits partial ones."""
    from ..functions.dedup import exact_substring_spans

    return exact_substring_spans(read_table(spark, sf_dir, "documents"),
                                 k=20)


SQL_EXACT_SUBSTRING = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
pos AS (
  SELECT doc_id, CAST(unnest(generate_series(1, len(t) - 19)) AS INT)
           AS pos, t
  FROM toks WHERE len(t) >= 20
),
g AS (
  SELECT doc_id, pos,
         array_to_string(t[pos:pos + 19], ' ') AS gram
  FROM pos
),
hot AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
m AS (SELECT doc_id, pos FROM g JOIN hot USING (gram)),
r AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS grp
  FROM m
)
SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
       CAST(MAX(pos) - MIN(pos) + 20 AS INT) AS span_tokens
FROM r GROUP BY doc_id, grp
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (inverted-index join), j >= 0.8,
    with the hot-shingle df cap ON (the scale default — an uncapped
    inverted index is quadratic on stopword-like shingles)."""
    docs = read_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, threshold=0.8, max_df=MAX_SHINGLE_DF)


SQL_DEDUP_JACCARD = f"""
WITH {_CAPPED_SHINGLES_CTE},
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
"""


def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup pair set as q_dedup_jaccard but through PPJoin-style
    prefix filtering (functions/dedup.py prefix_filtered_pairs). The
    oracle is the PLAIN inverted-index Jaccard SQL — the hash match is an
    empirical completeness proof for the prefix candidate rule."""
    from ..functions.dedup import prefix_filtered_pairs

    docs = read_table(spark, sf_dir, "documents")
    return prefix_filtered_pairs(docs, threshold=0.8,
                                 max_df=MAX_SHINGLE_DF)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (functions/dedup.py
    incremental_exact_dedup): docs with doc_id % 3 == 0 arrive as the new
    batch, the rest are the already-ingested fingerprint store — the
    ingestion-pipeline shape where the corpus is never re-deduplicated."""
    from ..functions.dedup import incremental_exact_dedup
    from ..functions.text import fingerprint

    docs = read_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    store = old.select(fingerprint("text").alias("fp"),
                       F.col("doc_id").alias("owner_id"))
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    return incremental_exact_dedup(batch, store)


SQL_INCREMENTAL_DEDUP = """
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS fp
  FROM documents
),
store AS (SELECT fp, MIN(doc_id) AS store_owner FROM fp
          WHERE doc_id % 3 <> 0 GROUP BY fp),
batch AS (SELECT doc_id AS id, fp FROM fp WHERE doc_id % 3 = 0),
firsts AS (SELECT fp, MIN(id) AS batch_first FROM batch GROUP BY fp)
SELECT b.id AS doc_id, b.fp,
  CASE WHEN s.store_owner IS NOT NULL THEN 'store_dup'
       WHEN b.id > f.batch_first THEN 'batch_dup'
       ELSE 'new' END AS verdict,
  CAST(coalesce(s.store_owner,
                CASE WHEN b.id > f.batch_first THEN f.batch_first END,
                -1) AS BIGINT) AS dup_of
FROM batch b
LEFT JOIN store s USING (fp)
JOIN firsts f USING (fp)
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) + LSH(4 bands) candidates, verified at j >= 0.8 — the
    scale path: only same-bucket pairs are verified."""
    docs = read_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, num_hashes=8, bands=4, threshold=0.8)


_SIGS = ", ".join(
    f"min(substr(md5('{s // 4}|' || shingle), {(s % 4) * 8 + 1}, 8)) AS mh{s}"
    for s in range(8))
_BANDS = ", ".join(
    f"'{b}' || '|' || mh{2*b} || '|' || mh{2*b+1}" for b in range(4))


def q_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets (functions/cleaning.py
    contrastive_pairs): anchors/positives from the inverted-index
    near-dup pairs, negatives via deterministic hash-jump into the
    ranked corpus — SimCSE/E5-style pair mining, no RNG."""
    from ..functions.cleaning import contrastive_pairs
    from ..functions.dedup import jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.5)
    return contrastive_pairs(pairs, docs)


def _contrastive_sql() -> str:
    # inline 48-bit md5 fold (defined before _hex_int12_sql's module
    # position — same expression, the dsir pattern)
    h = ("list_reduce(list_transform(string_split_regex("
         "substr(md5(CAST(anchor AS VARCHAR)), 1, 12), ''), "
         "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)), "
         "(a,b) -> a*16+b)")
    return f"""
WITH pairs AS ({SQL_DEDUP_JACCARD}),
ids AS (SELECT DISTINCT doc_id AS cid FROM documents),
cnt AS (SELECT COUNT(*) AS n FROM ids),
ranked AS (
  SELECT cid, row_number() OVER (ORDER BY cid) - 1 AS rn FROM ids
),
dirs AS (
  SELECT doc_a AS anchor, doc_b AS positive FROM pairs
  UNION ALL
  SELECT doc_b AS anchor, doc_a AS positive FROM pairs
),
cand AS (
  SELECT anchor, positive,
         ({h}) % (SELECT n FROM cnt) AS r0
  FROM dirs
),
j AS (
  SELECT c.anchor, c.positive, a.cid AS n0, b.cid AS n1, d.cid AS n2
  FROM cand c
  JOIN ranked a ON a.rn = c.r0
  JOIN ranked b
    ON (b.rn + (SELECT n FROM cnt) - 1) % (SELECT n FROM cnt) = c.r0
  JOIN ranked d
    ON (d.rn + (SELECT n FROM cnt) - 2) % (SELECT n FROM cnt) = c.r0
)
SELECT anchor, positive,
  CASE WHEN n0 <> anchor AND n0 <> positive THEN n0
       WHEN n1 <> anchor AND n1 <> positive THEN n1
       ELSE n2 END AS negative
FROM j
"""


SQL_CONTRASTIVE = _contrastive_sql()


def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup (functions/dedup.py incremental_minhash_pairs):
    a new batch (id-shifted copy of the corpus, so every doc has a
    planted twin) banded against the store's persisted signatures only —
    the store is never re-banded against itself. Store tables (sigs +
    shingle digests) are derived here for the self-contained demo; in
    production both persist with the fingerprint store."""
    from ..functions.dedup import (_minhash_col, _with_digest,
                                   incremental_minhash_pairs, shingles)

    docs = read_table(spark, sf_dir, "documents")
    store_sh = _with_digest(shingles(docs)).localCheckpoint()
    store_sigs = store_sh.groupBy("doc_id").agg(
        *[_minhash_col(s).alias(f"mh{s}") for s in range(8)])
    batch = docs.withColumn("doc_id", F.col("doc_id") + 20000)
    return incremental_minhash_pairs(
        batch, store_sigs, store_sh.select("doc_id", "sid"),
        threshold=0.8)


SQL_INCREMENTAL_MINHASH = f"""
WITH {_SHINGLES_CTE},
bsh AS (SELECT doc_id + 20000 AS doc_id, shingle FROM sh),
ssigs AS (SELECT doc_id, {_SIGS} FROM sh GROUP BY doc_id),
bsigs AS (SELECT doc_id, {_SIGS} FROM bsh GROUP BY doc_id),
sbands AS (SELECT doc_id, unnest([{_BANDS}]) AS band_key FROM ssigs),
bbands AS (SELECT doc_id, unnest([{_BANDS}]) AS band_key FROM bsigs),
cands AS (
  SELECT DISTINCT b.doc_id AS batch_doc, s.doc_id AS store_doc
  FROM bbands b JOIN sbands s USING (band_key)
),
bsizes AS (SELECT doc_id, COUNT(*) AS n FROM bsh GROUP BY doc_id),
common AS (
  SELECT batch_doc, store_doc, COUNT(*) AS c
  FROM cands
  JOIN bsh a ON a.doc_id = batch_doc
  JOIN sh s2 ON s2.doc_id = store_doc AND s2.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT batch_doc, store_doc,
       CAST(c AS DOUBLE) / (ba.n + sa.n - c) AS jaccard
FROM common
JOIN bsizes ba ON ba.doc_id = batch_doc
JOIN sizes sa ON sa.doc_id = store_doc
WHERE CAST(c AS DOUBLE) / (ba.n + sa.n - c) >= 0.8
"""

SQL_DEDUP_MINHASH = f"""
WITH {_SHINGLES_CTE},
sigs AS (SELECT doc_id, {_SIGS} FROM sh GROUP BY doc_id),
bands AS (SELECT doc_id, unnest([{_BANDS}]) AS band_key FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS c
  FROM cands
  JOIN sh a ON a.doc_id = doc_a
  JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
"""


def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash-LSH recall vs exact-Jaccard truth — the
    empirical complement of lsh_planner's closed-form S-curve: the
    banded candidate set (8 hashes, 4 bands — this entry's own
    parameters) evaluated against the full inverted-index pair truth at
    Jaccard thresholds 0.5..0.9. Per threshold: how many true pairs
    exist, how many the LSH bands caught, recall in exact ppm — the
    table that says whether the chosen (b, r) actually delivers the
    recall the planner predicted ON THIS CORPUS.

    Scale shape: truth is the digest-keyed inverted-index join (the
    jaccard_pairs machinery), candidates are the banded self-join; the
    evaluation itself is one left join on the pair key + a 5-row
    threshold aggregate."""
    from ..functions.dedup import (jaccard_pairs, lsh_candidate_pairs,
                                   minhash_signatures)

    docs = read_table(spark, sf_dir, "documents")
    truth = jaccard_pairs(docs, threshold=0.5)
    sigs = minhash_signatures(docs, num_hashes=8)
    cands = (lsh_candidate_pairs(sigs, num_hashes=8, bands=4)
             .withColumn("caught", F.lit(1)))
    flag = (truth.join(cands, ["doc_a", "doc_b"], "left")
            .select("jaccard",
                    F.coalesce("caught", F.lit(0)).alias("caught")))
    thr = (spark.range(1).select(F.explode(F.array(
        *[F.lit(t) for t in (50, 60, 70, 80, 90)])).alias("e"))
        .select(F.col("e").cast("int").alias("thr_e2")))
    g = (flag.crossJoin(F.broadcast(thr))
         .groupBy("thr_e2")
         .agg(F.sum(F.when(F.col("jaccard")
                           >= F.col("thr_e2") / F.lit(100.0), 1)
                    .otherwise(0)).alias("n_true"),
              F.sum(F.when((F.col("jaccard")
                            >= F.col("thr_e2") / F.lit(100.0))
                           & (F.col("caught") == 1), 1)
                    .otherwise(0)).alias("n_caught")))
    return g.select(
        "thr_e2", F.col("n_true").cast("bigint"),
        F.col("n_caught").cast("bigint"),
        F.when(F.col("n_true") > 0,
               F.expr("n_caught * 1000000 div n_true"))
        .otherwise(F.lit(-1)).cast("bigint").alias("recall_ppm"))


SQL_MINHASH_RECALL = f"""
WITH {_SHINGLES_CTE},
tcommon AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b,
         CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
  FROM tcommon
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
),
sigs AS (SELECT doc_id, {_SIGS} FROM sh GROUP BY doc_id),
bands AS (SELECT doc_id, unnest([{_BANDS}]) AS band_key FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
flag AS (
  SELECT t.j,
         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
  FROM truth t LEFT JOIN cands c
    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
),
thr AS (SELECT unnest([50, 60, 70, 80, 90]) AS thr_e2),
g AS (
  SELECT t.thr_e2,
         SUM(CASE WHEN f.j >= t.thr_e2 / 100.0 THEN 1 ELSE 0 END)
           AS n_true,
         SUM(CASE WHEN f.j >= t.thr_e2 / 100.0 AND f.caught = 1
                  THEN 1 ELSE 0 END) AS n_caught
  FROM flag f CROSS JOIN thr t
  GROUP BY t.thr_e2
)
SELECT CAST(thr_e2 AS INT) AS thr_e2,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_caught AS BIGINT) AS n_caught,
       CAST(CASE WHEN n_true > 0 THEN n_caught * 1000000 // n_true
                 ELSE -1 END AS BIGINT) AS recall_ppm
FROM g
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components (iterative min-label
    propagation) over the MinHash-LSH near-dup pairs; cluster id = smallest
    member. Oracle: recursive-CTE transitive closure."""
    from ..functions.dedup import connected_components

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, num_hashes=8, bands=4, threshold=0.8)
    return connected_components(pairs)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SHINGLES_CTE},
sigs AS (SELECT doc_id, {_SIGS} FROM sh GROUP BY doc_id),
bands AS (SELECT doc_id, unnest([{_BANDS}]) AS band_key FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS c
  FROM cands
  JOIN sh a ON a.doc_id = doc_a
  JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS node, src AS reached FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.reached
)
SELECT node AS doc_id, MIN(reached) AS cluster_id
FROM (SELECT node, reached FROM reach
      UNION SELECT src, src FROM edges) t
GROUP BY node
"""


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection (functions/dedup.py
    canonical_docs) over the same MinHash-LSH cluster graph as
    q_dedup_clusters — every document gets (cluster_id, keep), exactly
    one keep=1 per cluster by the (longest, lowest-id) rule."""
    from ..functions.dedup import canonical_docs

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, num_hashes=8, bands=4, threshold=0.8)
    return canonical_docs(docs, pairs)


def _canonical_sql() -> str:
    """Reuses SQL_DEDUP_CLUSTERS' CTE chain: strip its WITH RECURSIVE
    head, rename its final SELECT into a cc CTE, add the singleton
    completion + keep window (WITH RECURSIVE must prefix the whole
    list — the NOTES.md rule)."""
    body = SQL_DEDUP_CLUSTERS.strip()
    head = "WITH RECURSIVE "
    assert body.startswith(head)
    ctes, final = body[len(head):].rsplit("\nSELECT node AS doc_id", 1)
    return f"""WITH RECURSIVE {ctes},
cc AS (
SELECT node AS doc_id{final}
),
lab AS (
  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
         d.n_chars
  FROM documents d LEFT JOIN cc USING (doc_id)
)
SELECT doc_id, cluster_id,
       CASE WHEN row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY n_chars DESC, doc_id) = 1
            THEN 1 ELSE 0 END AS keep
FROM lab"""


SQL_CANONICAL_DOCS = _canonical_sql()


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split (functions/cleaning.py
    cluster_split): near-dup clusters route the split atomically so a
    doc and its near-duplicates can never straddle train and eval;
    the '__naive_leak' row quantifies the contamination the per-doc
    hash split would have caused on this corpus."""
    from ..functions.cleaning import cluster_split

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs, num_hashes=8, bands=4,
                                threshold=0.8)
    return cluster_split(docs, pairs)


def _cluster_split_sql() -> str:
    """Reuses SQL_DEDUP_CLUSTERS' CTE chain (the _canonical_sql strip
    pattern) + the split_corpus bucket arithmetic on cluster vs doc."""
    body = SQL_DEDUP_CLUSTERS.strip()
    head = "WITH RECURSIVE "
    assert body.startswith(head)
    ctes, final = body[len(head):].rsplit("\nSELECT node AS doc_id", 1)
    hc = _hex_int_sql("'split:' || CAST(cluster_id AS VARCHAR)")
    hd = _hex_int_sql("'split:' || CAST(doc_id AS VARCHAR)")
    return f"""WITH RECURSIVE {ctes},
cc AS (
SELECT node AS doc_id{final}
),
lab AS (
  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
         d.n_chars
  FROM documents d LEFT JOIN cc USING (doc_id)
),
per AS (
  SELECT doc_id, cluster_id, n_chars,
    CASE WHEN {hc} % 100 < 5 THEN 'test'
         WHEN {hc} % 100 < 10 THEN 'val' ELSE 'train' END AS split,
    CASE WHEN {hd} % 100 < 5 THEN 'test'
         WHEN {hd} % 100 < 10 THEN 'val' ELSE 'train' END AS naive
  FROM lab
),
s1 AS (
  SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM per GROUP BY 1
),
lk AS (
  SELECT cluster_id, COUNT(*) AS n
  FROM per GROUP BY 1 HAVING COUNT(DISTINCT naive) > 1
)
SELECT * FROM s1
UNION ALL
SELECT '__naive_leak' AS split,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(-1 AS BIGINT) AS sum_chars
FROM lk
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash, both representations in ONE vote pass: the
    16-bit md5-nibble bitstring (readable demo) and the production
    packed 60-bit BIGINT whose Hamming distance is bit_count(a ^ b) —
    one token explode, one grouped aggregate, no join."""
    from ..functions.dedup import simhash_both

    return simhash_both(read_table(spark, sf_dir, "documents"))


def q_simhash64_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed 60-bit SimHash near-dups: banded join + bit_count(xor)."""
    from ..functions.dedup import simhash64_near_dup_pairs

    return simhash64_near_dup_pairs(read_table(spark, sf_dir, "documents"))


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via Hamming-LSH banding (hamming <= 3)."""
    from ..functions.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(read_table(spark, sf_dir, "documents"))


from ..functions.dedup import SIMHASH64_BITS, _hex_val  # noqa: E402

_SIM_SUMS = ", ".join(
    "SUM(CASE WHEN substr(h, {p}, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v{b}"
    .format(p=b + 1, b=b) for b in range(SIMHASH_BITS))
_SIM_BITS = " || ".join(
    f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(SIMHASH_BITS))
# packed 60-bit votes in the SAME aggregate (w{b}: the v{b} names carry
# the 16-bit votes)
_SIM_SUMS_W = ", ".join(
    f"SUM(CASE WHEN (CAST(floor({_hex_val('h', b // 4 + 1)}"
    f" / {2 ** (b % 4)}) AS BIGINT) % 2) = 1 THEN 1 ELSE -1 END) AS w{b}"
    for b in range(SIMHASH64_BITS))
_SIM_PACK_W = " + ".join(
    f"(CASE WHEN w{b} > 0 THEN CAST({2 ** b} AS BIGINT)"
    f" ELSE CAST(0 AS BIGINT) END)" for b in range(SIMHASH64_BITS))

SQL_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
h AS (SELECT doc_id, md5(tok) AS h FROM tok),
agg AS (SELECT doc_id, {_SIM_SUMS}, {_SIM_SUMS_W} FROM h GROUP BY doc_id)
SELECT doc_id, {_SIM_BITS} AS simhash, {_SIM_PACK_W} AS simhash64 FROM agg
"""

_S64_SUMS = ", ".join(
    f"SUM(CASE WHEN (CAST(floor({_hex_val('h', b // 4 + 1)}"
    f" / {2 ** (b % 4)}) AS BIGINT) % 2) = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIMHASH64_BITS))
_S64_PACK = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN CAST({2 ** b} AS BIGINT)"
    f" ELSE CAST(0 AS BIGINT) END)" for b in range(SIMHASH64_BITS))
_S64_W = SIMHASH64_BITS // 4
_S64_BANDS = ", ".join(
    f"'{b}|' || CAST((simhash64 >> {b * _S64_W}) & {(1 << _S64_W) - 1}"
    f" AS VARCHAR)" for b in range(4))

SQL_SIMHASH64_NEAR_DUP = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
h AS (SELECT doc_id, md5(tok) AS h FROM tok),
agg AS (SELECT doc_id, {_S64_SUMS} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {_S64_PACK} AS simhash64 FROM agg),
banded AS (
  SELECT doc_id, simhash64, unnest([{_S64_BANDS}]) AS band_key FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash64 AS sig_a, b.simhash64 AS sig_b
  FROM banded a JOIN banded b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 10
"""

_SIM_BANDS = ", ".join(
    f"'{b}|' || substr(simhash, {b * 4 + 1}, 4)" for b in range(4))
_SIM_HAMMING = " + ".join(
    f"CASE WHEN substr(sig_a, {i + 1}, 1) <> substr(sig_b, {i + 1}, 1)"
    f" THEN 1 ELSE 0 END" for i in range(SIMHASH_BITS))

SQL_SIMHASH_NEAR_DUP = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
h AS (SELECT doc_id, md5(tok) AS h FROM tok),
agg AS (SELECT doc_id, {_SIM_SUMS} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {_SIM_BITS} AS simhash FROM agg),
banded AS (
  SELECT doc_id, simhash, unnest([{_SIM_BANDS}]) AS band_key FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM banded a JOIN banded b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, {_SIM_HAMMING} AS hamming
FROM cand WHERE {_SIM_HAMMING} <= 3
"""


# ---------------------------------------------------------------------------
# similarity search

_DVEC = "CAST(embedding AS DOUBLE[])"


def _dot_sql(a: str, b: str, dims: int = 64) -> str:
    return (f"list_reduce(list_transform(generate_series(1, {dims}),"
            f" i -> {a}[i] * {b}[i]), (x, y) -> x + y)")


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < 5."""
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 5).limit(5), k=10)


def q_ann_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage int8 ANN (functions/similarity.py int8_rerank_topk):
    exact-integer quantized dot products pick 4x-overscanned candidates,
    full-precision cosine re-ranks only those, in_exact flags measured
    recall against the exact top-10 — the memory-bound scale path
    (FAISS-style SQ8 + refine) beside the brute-force baseline."""
    from ..functions.similarity import int8_rerank_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return int8_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 5).limit(5), k=10, overscan=4)


SQL_ANN_INT8_RERANK = f"""
WITH v AS (SELECT vec_id, {_DVEC} AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
    CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0 THEN 1.0
         ELSE list_max(list_transform(e, x -> abs(x))) / 127.0 END AS scale
  FROM v
),
q AS (
  SELECT vec_id, e, scale,
    list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
  FROM s
),
qs AS (SELECT vec_id AS query_id, e AS qe, scale AS qsc, qv AS qqv
       FROM q WHERE vec_id < 5),
sc AS (
  SELECT query_id, c.vec_id AS neighbor_id, qe, c.e AS ce,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, 64), i -> qqv[i] * c.qv[i])),
           (a, b) -> a + b) AS DOUBLE) * qsc * c.scale AS approx
  FROM qs, q c WHERE query_id <> c.vec_id
),
cand AS (
  SELECT query_id, neighbor_id, qe, ce FROM
    (SELECT *, row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx DESC, neighbor_id)
       AS arn FROM sc)
  WHERE arn <= 40
),
rr AS (
  SELECT query_id, neighbor_id,
         {_dot_sql('qe', 'ce')}
           / (sqrt({_dot_sql('qe', 'qe')}) * sqrt({_dot_sql('ce', 'ce')}))
           AS cos
  FROM cand
),
rt AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id) AS rank
       FROM rr),
exs AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         {_dot_sql('qe', 'c.e')}
           / (sqrt({_dot_sql('qe', 'qe')}) * sqrt({_dot_sql('c.e', 'c.e')}))
           AS cos
  FROM (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5) qx,
       v c WHERE query_id <> c.vec_id
),
ex AS (
  SELECT query_id, neighbor_id FROM
    (SELECT query_id, neighbor_id,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
     FROM exs)
  WHERE rank <= 10
)
SELECT rt.query_id, rt.neighbor_id, rt.rank, rt.cos,
       CAST(CASE WHEN ex.neighbor_id IS NOT NULL
                 THEN 1 ELSE 0 END AS INT) AS in_exact
FROM rt LEFT JOIN ex
  ON ex.query_id = rt.query_id AND ex.neighbor_id = rt.neighbor_id
WHERE rt.rank <= 10
"""


BM25_TERMS = ("spark", "join", "window")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-15 for a fixed bag-of-terms query
    (functions/retrieval.py) — the keyword-retrieval counterpart of the
    vector ANN branch it shares this entry with."""
    from ..functions.retrieval import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_TERMS, k=15)


SQL_BM25_TOPK = f"""
WITH lens AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens),
tf AS (
  SELECT doc_id, u.tok, COUNT(*) AS tf
  FROM documents, unnest(string_split(text, ' ')) AS u(tok)
  WHERE u.tok IN {BM25_TERMS!r}
  GROUP BY doc_id, u.tok
),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
contrib AS (
  SELECT t.doc_id, t.tok,
    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
      * (t.tf * (1.2 + 1) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)))
      AS c
  FROM tf t
  JOIN dfreq d USING (tok)
  JOIN lens l USING (doc_id), stats s
),
perdoc AS (
  SELECT doc_id,
    list_reduce(list_prepend(0.0, list(c ORDER BY tok)), (x, y) -> x + y)
      AS score
  FROM contrib GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM perdoc
)
SELECT doc_id, round(score, 9) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 15
"""

# shared CTE body for the BM25 ranking (reused by the RRF fusion oracle)
_BM25_CTES = SQL_BM25_TOPK.split("WITH", 1)[1].rsplit("SELECT", 1)[0].rstrip()


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF fusion of the vector ANN top-10 for query
    vec_id=0 with the BM25 lexical top-15 (embeddings.vec_id and
    documents.doc_id are the fixture's 1:1 correspondence). Rank-only
    arithmetic — hash-exact without rounding."""
    from ..functions.retrieval import bm25_topk, rrf_fuse
    from ..functions.similarity import cosine_topk

    emb = read_table(spark, sf_dir, "embeddings")
    docs = read_table(spark, sf_dir, "documents")
    ann = cosine_topk(emb, emb.filter(F.col("vec_id") == 0).limit(1), k=10)
    bm25 = bm25_topk(docs, BM25_TERMS, k=15)
    return rrf_fuse(ann, bm25, "neighbor_id", "doc_id", k=10)


SQL_RRF_FUSION = f"""
WITH q AS (SELECT vec_id AS query_id, {_DVEC} AS qv
           FROM embeddings WHERE vec_id = 0),
cv_t AS (SELECT vec_id AS neighbor_id, {_DVEC} AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         {_dot_sql('qv', 'cv')}
           / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')}))
           AS cos
  FROM q, cv_t WHERE query_id <> neighbor_id
),
ar AS (
  SELECT neighbor_id,
         row_number() OVER (ORDER BY cos DESC, neighbor_id) AS rank_a
  FROM s QUALIFY rank_a <= 10
),
{_BM25_CTES},
br AS (SELECT doc_id, rank AS rank_b FROM ranked WHERE rank <= 15),
fused AS (
  SELECT coalesce(ar.neighbor_id, br.doc_id) AS item,
         coalesce(1.0 / (60 + ar.rank_a), 0.0)
           + coalesce(1.0 / (60 + br.rank_b), 0.0) AS fused
  FROM ar FULL OUTER JOIN br ON ar.neighbor_id = br.doc_id
)
SELECT item, fused,
       CAST(row_number() OVER (ORDER BY fused DESC, item) AS INT) AS rank
FROM fused QUALIFY rank <= 10
"""


def q_rrf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval quality: recall@10 of the RRF-fused list against
    the exact brute-force cosine top-10 for the fusion's query vector —
    ivf_recall's mirror for the BM25+RRF stack, so hybrid retrieval has a
    quality number (how much vector ground truth the fused list retains
    after mixing in lexical evidence), not just a hash match."""
    from ..functions.similarity import cosine_topk

    emb = read_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb, emb.filter(F.col("vec_id") == 0).limit(1), k=10) \
        .select("neighbor_id")
    fused = q_rrf_fusion(spark, sf_dir).select(F.col("item").alias("f_item"))
    hits = exact.join(fused, exact.neighbor_id == fused.f_item, "left")
    return hits.agg(F.count("f_item").alias("hits"),
                    (F.count("f_item").cast("double") / 10.0).alias("recall"))


SQL_RRF_RECALL = f"""
WITH fused_q AS ({SQL_RRF_FUSION}),
q AS (SELECT vec_id AS query_id, {_DVEC} AS qv
      FROM embeddings WHERE vec_id = 0),
cv_t AS (SELECT vec_id AS neighbor_id, {_DVEC} AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         {_dot_sql('qv', 'cv')}
           / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')}))
           AS cos
  FROM q, cv_t WHERE query_id <> neighbor_id
),
ar AS (
  SELECT neighbor_id,
         row_number() OVER (ORDER BY cos DESC, neighbor_id) AS rank_a
  FROM s QUALIFY rank_a <= 10
)
SELECT COUNT(f.item) AS hits,
       CAST(COUNT(f.item) AS DOUBLE) / 10.0 AS recall
FROM ar e LEFT JOIN fused_q f ON f.item = e.neighbor_id
"""


def q_rrf_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the RRF-fused hybrid list against exact-cosine graded
    relevance (functions/retrieval.py ndcg_at_k) — recall@10 says how
    much ground truth the fusion keeps; nDCG says whether it keeps the
    BEST of it first."""
    from ..functions.retrieval import ndcg_at_k
    from ..functions.similarity import cosine_topk

    emb = read_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb, emb.filter(F.col("vec_id") == 0).limit(1), k=10)
    fused = q_rrf_fusion(spark, sf_dir)
    return ndcg_at_k(fused, exact, sys_item="item",
                     truth_item="neighbor_id", k=10)


def _ndcg_sql() -> str:
    from ..functions.retrieval import _idcg

    return f"""
WITH fused_q AS ({SQL_RRF_FUSION}),
q AS (SELECT vec_id AS query_id, {_DVEC} AS qv
      FROM embeddings WHERE vec_id = 0),
cv_t AS (SELECT vec_id AS neighbor_id, {_DVEC} AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         {_dot_sql('qv', 'cv')}
           / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')}))
           AS cos
  FROM q, cv_t WHERE query_id <> neighbor_id
),
ar AS (
  SELECT neighbor_id,
         row_number() OVER (ORDER BY cos DESC, neighbor_id) AS rank_a
  FROM s QUALIFY rank_a <= 10
),
graded AS (
  SELECT f.rank,
         coalesce(CAST(11 - ar.rank_a AS DOUBLE), 0.0) AS rel
  FROM fused_q f LEFT JOIN ar ON ar.neighbor_id = f.item
  WHERE f.rank <= 10
),
dcg AS (
  SELECT round(list_reduce(list_prepend(0.0,
    list(round(rel / log2(rank + 1.0), 9) ORDER BY rank)),
    (a, b) -> a + b), 9) AS dcg
  FROM graded
)
SELECT dcg, round(dcg / {_idcg(10)!r}, 9) AS ndcg FROM dcg
"""


SQL_RRF_NDCG = _ndcg_sql()


SQL_ANN_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, {_DVEC} AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, {_DVEC} AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         {_dot_sql('qv', 'cv')}
           / (sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')}))
           AS cos
  FROM q, c WHERE query_id <> neighbor_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 10
"""


def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket histogram (the ANN scale path's partitioning)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (lsh_bucketed(emb, num_planes=6, dims=64)
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))


def _plane_sql(p: int, dims: int = 64) -> str:
    # mirrors similarity._plane_component: ((p+1)*73856093*(d+1)+19349663)%2001
    # with d = i-1 for 1-based i
    return (f"list_reduce(list_transform(generate_series(1, {dims}),"
            f" i -> {_DVEC}[i] * CAST((({(p + 1) * 73856093}::BIGINT * i"
            f" + 19349663) % 2001 - 1000) AS DOUBLE) / 1000.0),"
            f" (x, y) -> x + y)")


_BUCKET_SQL = " || ".join(
    f"CASE WHEN {_plane_sql(p)} >= 0 THEN '1' ELSE '0' END"
    for p in range(6))

SQL_LSH_BUCKETS = f"""
SELECT {_BUCKET_SQL} AS bucket, COUNT(*) AS n
FROM embeddings GROUP BY 1
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via LSH buckets: same-bucket candidate
    pairs verified at cos >= 0.4 (corpus plants no >0.52 pairs; the
    operator's recall/cost profile is the point, the threshold is data-
    dependent config)."""
    from ..functions.similarity import lsh_cosine_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    return lsh_cosine_pairs(emb, threshold=0.4, num_planes=6, dims=64)


SQL_EMBEDDING_NEAR_DUP = f"""
WITH b AS (
  SELECT vec_id, {_DVEC} AS v, {_BUCKET_SQL} AS bucket FROM embeddings
)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       {_dot_sql('a.v', 'b2.v')}
         / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b2.v', 'b2.v')}))
         AS cos
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE {_dot_sql('a.v', 'b2.v')}
        / (sqrt({_dot_sql('a.v', 'a.v')}) * sqrt({_dot_sql('b2.v', 'b2.v')}))
        >= 0.4
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (functions/ivf.py): probe the 3 nearest of ~10 deterministic
    centroid lists per query instead of scanning the corpus."""
    from ..functions.ivf import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 5).limit(5),
                    k=10, nprobe=3, every=50)


def _cos_sql(a: str, b: str) -> str:
    return (f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)})"
            f" * sqrt({_dot_sql(b, b)}))")


# ---------------------------------------------------------------------------
# round 6: graph-based ANN — kNN proximity graph + greedy beam search
# (the NSW/HNSW/DiskANN family beside LSH and IVF)


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN graph (functions/similarity.py knn_graph): top-8
    neighbors per vector by exact cosine within the vector's IVF list —
    the cluster-local sub-quadratic graph build (N·every pairs, never
    N²); the navigable structure graph_ann searches."""
    from ..functions.similarity import knn_graph

    emb = read_table(spark, sf_dir, "embeddings")
    return knn_graph(emb, m=8, every=50)


_KNN_BODY = f"""cents AS (
  SELECT CAST(vec_id / 50 AS BIGINT) AS list_id,
         {_DVEC} AS centroid
  FROM embeddings WHERE vec_id % 50 = 0
),
corpus AS (SELECT vec_id, {_DVEC} AS v FROM embeddings),
assign_s AS (
  SELECT c.vec_id, ct.list_id, c.v,
         {_cos_sql('c.v', 'ct.centroid')} AS sim
  FROM corpus c, cents ct
),
assigned AS MATERIALIZED (
  SELECT vec_id, list_id, v FROM assign_s
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, list_id) = 1
),
knn_s AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_cos_sql('a.v', 'b.v')} AS cos
  FROM assigned a JOIN assigned b USING (list_id)
  WHERE a.vec_id <> b.vec_id
),
knn AS MATERIALIZED (
  SELECT src, dst,
         CAST(row_number() OVER (PARTITION BY src
                                 ORDER BY cos DESC, dst) AS INT) AS rank,
         cos
  FROM knn_s
  QUALIFY rank <= 8
)"""

SQL_KNN_GRAPH = f"WITH {_KNN_BODY}\nSELECT src, dst, rank, cos FROM knn"


def q_incremental_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph maintenance under batch ingest (functions/similarity.py
    incremental_knn): ~14% of the corpus (vec_id % 7 == 0) arrives as a
    new batch against the remaining store — batch vectors get their
    cluster-local top-8, store nodes whose lists gained a batch vector
    re-rank stored⊕new, and untouched store nodes are never recomputed.
    The graph-ANN counterpart of incremental_minhash's
    batch-vs-store-only discipline."""
    from ..functions.similarity import incremental_knn

    emb = read_table(spark, sf_dir, "embeddings")
    store = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    return incremental_knn(store, batch, m=8, every=50)


SQL_INCREMENTAL_KNN = f"""
WITH cents AS (
  SELECT CAST(vec_id / 50 AS BIGINT) AS list_id, {_DVEC} AS centroid
  FROM embeddings WHERE vec_id % 7 <> 0 AND vec_id % 50 = 0
),
store AS (SELECT vec_id, {_DVEC} AS v FROM embeddings
          WHERE vec_id % 7 <> 0),
batch AS (SELECT vec_id, {_DVEC} AS v FROM embeddings
          WHERE vec_id % 7 = 0),
as_s AS (
  SELECT c.vec_id, ct.list_id, c.v,
         {_cos_sql('c.v', 'ct.centroid')} AS sim
  FROM store c, cents ct
),
a_store AS MATERIALIZED (
  SELECT vec_id, list_id, v FROM as_s
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, list_id) = 1
),
as_b AS (
  SELECT c.vec_id, ct.list_id, c.v,
         {_cos_sql('c.v', 'ct.centroid')} AS sim
  FROM batch c, cents ct
),
a_batch AS MATERIALIZED (
  SELECT vec_id, list_id, v FROM as_b
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, list_id) = 1
),
stored_s AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_cos_sql('a.v', 'b.v')} AS cos
  FROM a_store a JOIN a_store b USING (list_id)
  WHERE a.vec_id <> b.vec_id
),
stored_top AS MATERIALIZED (
  SELECT src, dst, cos FROM stored_s
  QUALIFY row_number() OVER (PARTITION BY src
                             ORDER BY cos DESC, dst) <= 8
),
pool AS (SELECT vec_id, list_id, v FROM a_store
         UNION ALL SELECT vec_id, list_id, v FROM a_batch),
bc AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_cos_sql('a.v', 'b.v')} AS cos
  FROM a_batch a JOIN pool b USING (list_id)
  WHERE a.vec_id <> b.vec_id
),
batch_top AS (
  SELECT src, dst,
         CAST(row_number() OVER (PARTITION BY src
                                 ORDER BY cos DESC, dst) AS INT) AS rank,
         cos, 'batch' AS side
  FROM bc
  QUALIFY rank <= 8
),
sb AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_cos_sql('a.v', 'b.v')} AS cos
  FROM a_store a JOIN a_batch b USING (list_id)
  WHERE a.vec_id <> b.vec_id
),
touched AS (SELECT DISTINCT src FROM sb),
merged AS (
  SELECT s.src, s.dst, s.cos FROM stored_top s
  JOIN touched t ON t.src = s.src
  UNION ALL SELECT src, dst, cos FROM sb
),
store_top AS (
  SELECT src, dst,
         CAST(row_number() OVER (PARTITION BY src
                                 ORDER BY cos DESC, dst) AS INT) AS rank,
         cos, 'store' AS side
  FROM merged
  QUALIFY rank <= 8
)
SELECT * FROM batch_top UNION ALL SELECT * FROM store_top
"""


def q_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy beam search over the kNN graph (functions/similarity.py
    graph_ann_search, the NSW search half): fixed entry points, 2
    unrolled expand-score-prune rounds at beam 10, exact-cosine ranking
    of ≤ beam·(m+1) candidates per query — the corpus is never scanned
    after the graph build. in_exact flags brute-force-top-10 membership,
    so recall is measured in-band."""
    from ..functions.similarity import graph_ann_search, knn_graph

    emb = read_table(spark, sf_dir, "embeddings")
    edges = knn_graph(emb, m=8, every=50)
    return graph_ann_search(emb, emb.filter(F.col("vec_id") < 5).limit(5), edges,
                            k=10, beam=10, rounds=2)


def _graph_ann_sql(rounds: int = 2, beam: int = 10, k: int = 10) -> str:
    ctes = [_KNN_BODY, f"""q AS (
  SELECT vec_id AS query_id, {_DVEC} AS qv
  FROM embeddings WHERE vec_id < 5
),
seeds AS (SELECT MIN(vec_id) AS cand FROM embeddings
          GROUP BY vec_id // 50 ORDER BY vec_id // 50 LIMIT 4),
f0 AS (SELECT query_id, cand FROM q, seeds)"""]
    for r in range(1, rounds + 1):
        ctes.append(f"""e{r} AS (
  SELECT DISTINCT query_id, cand FROM (
    SELECT query_id, cand FROM f{r - 1}
    UNION ALL
    SELECT f.query_id, kg.dst AS cand
    FROM f{r - 1} f JOIN knn kg ON kg.src = f.cand
  ) t
),
s{r} AS MATERIALIZED (
  SELECT e.query_id, e.cand, {_cos_sql('q.qv', 'c.v')} AS cos,
         row_number() OVER (PARTITION BY e.query_id
             ORDER BY {_cos_sql('q.qv', 'c.v')} DESC, e.cand) AS rn
  FROM e{r} e
  JOIN corpus c ON c.vec_id = e.cand
  JOIN q ON q.query_id = e.query_id
  WHERE e.cand <> e.query_id
),
f{r} AS (SELECT query_id, cand FROM s{r} WHERE rn <= {beam})""")
    ctes.append(f"""exact_s AS (
  SELECT q.query_id, c.vec_id AS cand,
         {_cos_sql('q.qv', 'c.v')} AS cos
  FROM q, corpus c WHERE q.query_id <> c.vec_id
),
exact AS (
  SELECT query_id, cand FROM exact_s
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cos DESC, cand) <= {k}
)""")
    return (f"WITH {','.join(ctes)}\n"
            f"SELECT s.query_id, s.cand AS neighbor_id,"
            f" CAST(s.rn AS INT) AS rank, s.cos,\n"
            f"       CAST(CASE WHEN e.cand IS NOT NULL THEN 1 ELSE 0 END"
            f" AS INT) AS in_exact\n"
            f"FROM s{rounds} s LEFT JOIN exact e"
            f" ON e.query_id = s.query_id AND e.cand = s.cand\n"
            f"WHERE s.rn <= {k}")


SQL_GRAPH_ANN = _graph_ann_sql()


SQL_IVF_TOPK = f"""
WITH cents AS (
  SELECT CAST(vec_id / 50 AS BIGINT) AS list_id,
         {_DVEC} AS centroid
  FROM embeddings WHERE vec_id % 50 = 0
),
corpus AS (SELECT vec_id, {_DVEC} AS v FROM embeddings),
assign_s AS (
  SELECT c.vec_id, ct.list_id, c.v,
         {_cos_sql('c.v', 'ct.centroid')} AS sim
  FROM corpus c, cents ct
),
assign_r AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, list_id) AS rn
  FROM assign_s
),
assigned AS (SELECT vec_id, list_id, v FROM assign_r WHERE rn = 1),
q AS (SELECT vec_id AS query_id, {_DVEC} AS qv
      FROM embeddings WHERE vec_id < 5),
qc AS (
  SELECT query_id, qv, list_id,
         {_cos_sql('qv', 'centroid')} AS csim
  FROM q, cents
),
qr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY csim DESC, list_id) AS rn
  FROM qc
),
probes AS (SELECT query_id, qv, list_id FROM qr WHERE rn <= 3),
scored AS (
  SELECT p.query_id, a.vec_id, {_cos_sql('p.qv', 'a.v')} AS cos
  FROM probes p JOIN assigned a USING (list_id)
  WHERE p.query_id <> a.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, vec_id AS neighbor_id, rank, cos FROM r WHERE rank <= 10
"""


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: recall@10 of IVF (nprobe=3) against the
    exact brute-force top-10, per query vector — the metric that justifies
    the probe/cost trade-off."""
    from ..functions.ivf import ivf_topk
    from ..functions.similarity import cosine_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).limit(5)
    exact = cosine_topk(emb, queries, k=10) \
        .select("query_id", "neighbor_id")
    approx = ivf_topk(emb, queries, k=10, nprobe=3, every=50) \
        .select(F.col("query_id").alias("a_qid"),
                F.col("neighbor_id").alias("a_nid"))
    hits = exact.join(
        approx, (exact.query_id == approx.a_qid)
        & (exact.neighbor_id == approx.a_nid), "left")
    return (hits.groupBy("query_id")
            .agg(F.count("a_nid").alias("hits"),
                 (F.count("a_nid").cast("double") / 10.0).alias("recall")))


SQL_IVF_RECALL = f"""
SELECT e.query_id, COUNT(a.neighbor_id) AS hits,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / 10.0 AS recall
FROM ({{ann}}) e
LEFT JOIN ({{ivf}}) a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (functions/pq.py): 64-dim vectors compressed
    to 8 sub-codes packed in one BIGINT + the reconstruction error — the
    IVF-PQ storage layout, encoded with broadcast codebooks and map-side
    argmin."""
    from ..functions.pq import pq_codebooks, pq_encode

    emb = read_table(spark, sf_dir, "embeddings")
    return pq_encode(emb, pq_codebooks(emb))


def _sql_pq() -> str:
    sq = ("(c.v[cb.m*8+i] - cb.subvec[i])"
          " * (c.v[cb.m*8+i] - cb.subvec[i])")
    return f"""
WITH seeds AS (
  SELECT CAST(vec_id / 31 AS BIGINT) AS code, {_DVEC} AS v
  FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < 496
),
ms AS (SELECT unnest(generate_series(0, 7)) AS m),
cb AS (
  SELECT ms.m, seeds.code,
         list_transform(generate_series(1, 8),
                        i -> seeds.v[ms.m * 8 + i]) AS subvec
  FROM seeds, ms
),
corpus AS (SELECT vec_id, {_DVEC} AS v FROM embeddings),
scored AS (
  SELECT c.vec_id, cb.m, cb.code,
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, 8), i -> {sq})),
           (a, b) -> a + b) AS dist
  FROM corpus c, cb
),
r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                   ORDER BY dist, code) AS rn
      FROM scored),
best AS (SELECT vec_id, m, code, dist FROM r WHERE rn = 1)
SELECT vec_id,
  list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list(CAST(code AS BIGINT) ORDER BY m)),
              (a, b) -> a * 16 + b) AS packed_code,
  list_reduce(list_prepend(0.0, list(dist ORDER BY m)),
              (a, b) -> a + b) AS recon_err
FROM best GROUP BY vec_id
"""


SQL_PQ_CODES = _sql_pq()


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's SEARCH half (functions/pq.py pq_adc_topk): asymmetric
    distance computation — query-side L2 lookup tables against the
    codebooks, candidates scored by M integer-code table lookups. The
    corpus side never touches a float vector."""
    from ..functions.pq import pq_adc_topk, pq_codebooks, pq_encode

    emb = read_table(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb)
    codes = pq_encode(emb, cb)
    return pq_adc_topk(codes, emb.filter(F.col("vec_id") < 5).limit(5), cb, k=10)


def _sql_pq_adc() -> str:
    sq = ("(c.v[cb.m*8+i] - cb.subvec[i])"
          " * (c.v[cb.m*8+i] - cb.subvec[i])")
    sq_q = ("(q.qv[cb.m*8+i] - cb.subvec[i])"
            " * (q.qv[cb.m*8+i] - cb.subvec[i])")
    return f"""
WITH seeds AS (
  SELECT CAST(vec_id / 31 AS BIGINT) AS code, {_DVEC} AS v
  FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < 496
),
ms AS (SELECT unnest(generate_series(0, 7)) AS m),
cb AS (
  SELECT ms.m, seeds.code,
         list_transform(generate_series(1, 8),
                        i -> seeds.v[ms.m * 8 + i]) AS subvec
  FROM seeds, ms
),
corpus AS (SELECT vec_id, {_DVEC} AS v FROM embeddings),
scored0 AS (
  SELECT c.vec_id, cb.m, cb.code,
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, 8), i -> {sq})),
           (a, b) -> a + b) AS dist
  FROM corpus c, cb
),
r0 AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                    ORDER BY dist, code) AS rn
       FROM scored0),
codes AS (
  SELECT vec_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
                             list(CAST(code AS BIGINT) ORDER BY m)),
                (a, b) -> a * 16 + b) AS packed_code
  FROM r0 WHERE rn = 1 GROUP BY vec_id
),
q AS (SELECT vec_id AS query_id, {_DVEC} AS qv FROM embeddings
      WHERE vec_id < 5),
lut AS (
  SELECT q.query_id, cb.m, cb.code,
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, 8), i -> {sq_q})),
           (a, b) -> a + b) AS d
  FROM q, cb
),
dec AS (
  SELECT c.vec_id AS cand_id, ms.m,
         (c.packed_code >> ((7 - ms.m) * 4)) & 15 AS code
  FROM codes c, ms
),
adc AS (
  SELECT l.query_id, d.cand_id,
         list_reduce(list_prepend(0.0, list(l.d ORDER BY l.m)),
                     (a, b) -> a + b) AS adc_dist
  FROM dec d JOIN lut l ON l.m = d.m AND l.code = d.code
  GROUP BY 1, 2
),
rk AS (
  SELECT query_id, cand_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, cand_id) AS INT)
           AS rank
  FROM adc
)
SELECT query_id, cand_id, rank, adc_dist FROM rk WHERE rank <= 10
"""


SQL_PQ_ADC = _sql_pq_adc()


def q_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FAISS-style IVFPQ search (functions/pq.py
    ivf_pq_topk): coarse probe selection restricts candidates to 3
    lists, ADC over packed codes scores them — floats touch only the
    queries and codebooks."""
    from ..functions.pq import ivf_pq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(emb, emb.filter(F.col("vec_id") < 5).limit(5),
                       k=10, nprobe=3)


def _sql_ivf_pq() -> str:
    sq = ("(c.v[cb.m*8+i] - cb.subvec[i])"
          " * (c.v[cb.m*8+i] - cb.subvec[i])")
    sq_q = ("(q.qv[cb.m*8+i] - cb.subvec[i])"
            " * (q.qv[cb.m*8+i] - cb.subvec[i])")
    return f"""
WITH cents AS (
  SELECT CAST(vec_id / 50 AS BIGINT) AS list_id, {_DVEC} AS centroid
  FROM embeddings WHERE vec_id % 50 = 0
),
corpus AS (SELECT vec_id, {_DVEC} AS v FROM embeddings),
assign_s AS (
  SELECT c.vec_id, ct.list_id,
         {_cos_sql('c.v', 'ct.centroid')} AS sim
  FROM corpus c, cents ct
),
assign_r AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, list_id) AS rn
  FROM assign_s
),
assigned AS (SELECT vec_id, list_id FROM assign_r WHERE rn = 1),
seeds AS (
  SELECT CAST(vec_id / 31 AS BIGINT) AS code, {_DVEC} AS v
  FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < 496
),
ms AS (SELECT unnest(generate_series(0, 7)) AS m),
cb AS (
  SELECT ms.m, seeds.code,
         list_transform(generate_series(1, 8),
                        i -> seeds.v[ms.m * 8 + i]) AS subvec
  FROM seeds, ms
),
enc_s AS (
  SELECT c.vec_id, cb.m, cb.code,
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, 8), i -> {sq})),
           (a, b) -> a + b) AS dist
  FROM corpus c, cb
),
enc_r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                       ORDER BY dist, code) AS rn
          FROM enc_s),
codes AS (
  SELECT vec_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
                             list(CAST(code AS BIGINT) ORDER BY m)),
                (a, b) -> a * 16 + b) AS packed_code
  FROM enc_r WHERE rn = 1 GROUP BY vec_id
),
q AS (SELECT vec_id AS query_id, {_DVEC} AS qv
      FROM embeddings WHERE vec_id < 5),
qc AS (
  SELECT query_id, qv, list_id,
         {_cos_sql('qv', 'centroid')} AS csim
  FROM q, cents
),
qr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY csim DESC, list_id) AS rn
       FROM qc),
probes AS (SELECT query_id, list_id FROM qr WHERE rn <= 3),
lut AS (
  SELECT q.query_id, cb.m, cb.code,
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, 8), i -> {sq_q})),
           (a, b) -> a + b) AS d
  FROM q, cb
),
cand AS (
  SELECT p.query_id, a.vec_id AS cand_id, c2.packed_code
  FROM probes p
  JOIN assigned a USING (list_id)
  JOIN codes c2 ON c2.vec_id = a.vec_id
  WHERE p.query_id <> a.vec_id
),
dec AS (
  SELECT query_id, cand_id, ms.m,
         (packed_code >> ((7 - ms.m) * 4)) & 15 AS code
  FROM cand, ms
),
adc AS (
  SELECT d.query_id, d.cand_id,
         list_reduce(list_prepend(0.0, list(l.d ORDER BY l.m)),
                     (a, b) -> a + b) AS adc_dist
  FROM dec d JOIN lut l ON l.query_id = d.query_id AND l.m = d.m
                       AND l.code = d.code
  GROUP BY 1, 2
),
rk AS (
  SELECT query_id, cand_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, cand_id) AS INT)
           AS rank
  FROM adc
)
SELECT query_id, cand_id, rank, adc_dist FROM rk WHERE rank <= 10
"""


SQL_IVF_PQ = _sql_ivf_pq()


def q_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over the exploded token stream (functions/
    heavy.py): per-partition Misra-Gries candidates (mapInPandas, zero
    shuffle) + broadcast-semi-join exact recount — the long tail never
    enters a shuffle, yet the output is exact, so it oracle-checks
    against plain GROUP BY ... HAVING."""
    from ..functions.heavy import heavy_hitters

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    return heavy_hitters(toks, "tok", phi=0.01)


SQL_HEAVY_TOKENS = """
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
SELECT tok AS item, COUNT(*) AS n FROM toks GROUP BY tok
HAVING COUNT(*) > 0.01 * (SELECT COUNT(*) FROM toks)
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (functions/semantic.py): cluster by
    nearest deterministic centroid, drop vectors dominated by a
    within-threshold same-cluster neighbor. One corpus shuffle (cluster
    id); pairwise cost bounded by cluster size, never corpus x corpus."""
    from ..functions.semantic import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.3, every=50)


# shared IVF assignment CTE chain (mirrors functions/ivf.py ivf_assign and
# SQL_IVF_TOPK's prefix): every-50th vector is a centroid, argmax by
# (sim DESC, list_id) via row_number
_ASSIGN_CTES = f"""
cents AS (
  SELECT CAST(vec_id / 50 AS BIGINT) AS list_id,
         {{dvec}} AS centroid
  FROM embeddings WHERE vec_id % 50 = 0
),
corpus AS (SELECT vec_id, {{dvec}} AS v FROM embeddings),
assign_s AS (
  SELECT c.vec_id, ct.list_id, c.v, ct.centroid,
         {{cos_vc}} AS sim
  FROM corpus c, cents ct
),
assign_r AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, list_id) AS rn
  FROM assign_s
),
member AS (SELECT vec_id, list_id, v, sim AS csim
           FROM assign_r WHERE rn = 1)
"""


def _member_ctes() -> str:
    return _ASSIGN_CTES.format(dvec=_DVEC, cos_vc=_cos_sql("c.v", "ct.centroid"))


_PAIR_COS = _cos_sql("a.v", "b.v")

SQL_SEMANTIC_DEDUP = f"""
WITH {_member_ctes()},
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM member a JOIN member b ON a.list_id = b.list_id
   AND (b.csim < a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id))
  WHERE {_PAIR_COS} >= 0.3
)
SELECT m.vec_id, m.list_id, m.csim,
       CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
FROM member m LEFT JOIN dropped d USING (vec_id)
"""
SQL_SEMANTIC_SUMMARY = f"""
WITH {_member_ctes()},
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM member a JOIN member b ON a.list_id = b.list_id
   AND (b.csim < a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id))
  WHERE {_PAIR_COS} >= 0.3
),
verdicts AS (
  SELECT m.vec_id, m.list_id, m.csim,
         CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
  FROM member m LEFT JOIN dropped d USING (vec_id)
),
ex AS (
  SELECT list_id, vec_id AS exemplar_id
  FROM (SELECT list_id, vec_id,
               row_number() OVER (PARTITION BY list_id
                                  ORDER BY csim, vec_id) AS rn
        FROM verdicts WHERE is_dup = 0)
  WHERE rn = 1
)
SELECT c.list_id, c.n_members, c.n_dropped, ex.exemplar_id
FROM (SELECT list_id, COUNT(*) AS n_members,
             CAST(SUM(is_dup) AS BIGINT) AS n_dropped
      FROM verdicts GROUP BY list_id) c
JOIN ex USING (list_id)
"""


def q_semantic_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster retention: member/drop counts + kept exemplar (lowest
    centroid similarity — SemDeDup's exemplar rule)."""
    from ..functions.semantic import semantic_dedup, semantic_dedup_summary

    emb = read_table(spark, sf_dir, "embeddings")
    return semantic_dedup_summary(semantic_dedup(emb, threshold=0.3, every=50))


# ---------------------------------------------------------------------------
# multimodal (binary columns + Arrow-batched Python decode)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary payload -> metadata via mapInPandas (deterministic fake
    decode; see functions.multimodal for the real-codec seam)."""
    docs = attach_binary(read_table(spark, sf_dir, "documents"))
    return decode_metadata(docs)


SQL_MULTIMODAL_DECODE = """
SELECT doc_id,
  CAST(strlen(text) AS INT) AS n_bytes,
  CAST(320 + strlen(text) % 320 AS INT) AS width,
  CAST(240 + strlen(text) % 240 AS INT) AS height,
  CAST(strlen(text) % 5 + 1 AS INT) AS n_frames
FROM documents
"""


def q_alignment_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-score-style pair filtering (functions/similarity.py
    alignment_filter): every embedding scored against the vec_id=0
    anchor vector, kept iff cosine >= 0.1 — the LAION filter shape with
    the fixture embeddings standing in for CLIP vectors (vec_id == the
    multimodal documents' doc_id 1:1)."""
    from ..functions.similarity import alignment_filter

    emb = read_table(spark, sf_dir, "embeddings")
    return (alignment_filter(emb, emb.filter(F.col("vec_id") == 0).limit(1),
                             threshold=0.1)
            .select(F.col("vec_id").alias("doc_id"), "align_cos",
                    "kept"))


_ALIGN_COS = (f"{_dot_sql('e.v', 'anchor.av')}"
              f" / (sqrt({_dot_sql('e.v', 'e.v')})"
              f" * sqrt({_dot_sql('anchor.av', 'anchor.av')}))")

SQL_ALIGNMENT_FILTER = f"""
WITH anchor AS (SELECT {_DVEC} AS av FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id AS doc_id,
         {_ALIGN_COS} AS align_cos
  FROM (SELECT vec_id, {_DVEC} AS v FROM embeddings) e, anchor
)
SELECT doc_id, align_cos,
       CAST(CASE WHEN align_cos >= 0.1 THEN 1 ELSE 0 END AS INT) AS kept
FROM scored
"""


def q_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided audio-frame segmentation (functions/multimodal.py
    audio_windows): window=64 hop=48 over the payload, per-window md5
    fingerprints — the frame/hop decomposition at the codec seam."""
    from ..functions.multimodal import audio_windows

    docs = read_table(spark, sf_dir, "documents")
    return audio_windows(docs)


SQL_AUDIO_WINDOWS = """
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(CASE WHEN length(text) < 64 THEN 0
            ELSE (length(text) - 64) // 48 + 1 END AS INT) AS n_windows,
  CASE WHEN length(text) < 64 THEN ''
       ELSE md5(substr(text, 1, 64)) END AS win_fp_first,
  CASE WHEN length(text) < 64 THEN ''
       ELSE md5(substr(text,
                       ((length(text) - 64) // 48) * 48 + 1, 64))
  END AS win_fp_last
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-class histogram features via mapInPandas (the encoder seam)."""
    from ..functions.multimodal import extract_features

    docs = attach_binary(read_table(spark, sf_dir, "documents"))
    return extract_features(docs)


SQL_MULTIMODAL_FEATURES = """
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS INT) AS f_alpha,
  CAST(len(regexp_extract_all(text, '[0-9]')) AS INT) AS f_digit,
  CAST(len(regexp_extract_all(text, '[ \\t\\n\\r]')) AS INT) AS f_space,
  CAST(strlen(text)
       - len(regexp_extract_all(text, '[A-Za-z0-9 \\t\\n\\r]'))
       AS INT) AS f_other
FROM documents
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize-to-fit metadata via mapInPandas."""
    from ..functions.multimodal import resize_metadata

    docs = attach_binary(read_table(spark, sf_dir, "documents"))
    return resize_metadata(docs, target=128)


SQL_MULTIMODAL_RESIZE = """
WITH m AS (
  SELECT doc_id,
         CAST(320 + strlen(text) % 320 AS INT) AS width,
         CAST(240 + strlen(text) % 240 AS INT) AS height
  FROM documents
)
SELECT doc_id, width, height,
  CAST(greatest(1, (width * 128) // greatest(width, height)) AS INT) AS out_w,
  CAST(greatest(1, (height * 128) // greatest(width, height)) AS INT) AS out_h
FROM m
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True polynomial rolling hash (Karp-Rabin-style): left fold
    (acc*31 + ascii(char)) mod 2^31-1 over the text's characters — pure
    arithmetic, portable across engines (md5 fingerprints cover the
    cryptographic case; this is the cheap streaming-friendly one)."""
    docs = read_table(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    rhash = F.aggregate(
        chars, F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % 2147483647)
    return docs.select("doc_id", rhash.alias("rhash"))


SQL_ROLLING_FINGERPRINT = """
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
    (acc, c) -> (acc * 31 + c) % 2147483647) AS rhash
FROM documents
"""


CHUNK_SIZE, CHUNK_STRIDE = 32, 24
PACK_BUDGET, PACK_GROUPS = 256, 16


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (RAG/embedding prep) — pure
    Catalyst: sequence → slice → explode, no Python."""
    from ..functions.packing import chunk_docs

    docs = read_table(spark, sf_dir, "documents")
    return chunk_docs(docs, size=CHUNK_SIZE, stride=CHUNK_STRIDE)


SQL_CHUNK_DOCS = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id, toks,
    unnest(generate_series(1,
      CASE WHEN len(toks) <= {CHUNK_SIZE} THEN 1
           ELSE CAST(floor((len(toks) - {CHUNK_SIZE} + {CHUNK_STRIDE} - 1)
                     / {CHUNK_STRIDE}) AS INT) + 1 END)) AS chunk_id
  FROM t
),
p AS (
  SELECT doc_id, chunk_id,
    array_slice(toks, (chunk_id - 1) * {CHUNK_STRIDE} + 1,
      least(len(toks),
            (chunk_id - 1) * {CHUNK_STRIDE} + {CHUNK_SIZE})) AS piece
  FROM c
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(piece) AS BIGINT) AS n_tokens,
       md5(array_to_string(piece, ' ')) AS chunk_fp
FROM p
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing via applyInPandas — sequential
    within a hash group, embarrassingly parallel across groups. The DuckDB
    oracle restates the greedy walk as a recursive CTE."""
    from ..functions.packing import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=PACK_BUDGET, n_groups=PACK_GROUPS)


SQL_PACK_SEQUENCES = f"""
WITH RECURSIVE base AS (
  SELECT doc_id % {PACK_GROUPS} AS grp, doc_id,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST(row_number() OVER (PARTITION BY doc_id % {PACK_GROUPS}
                                 ORDER BY doc_id) AS BIGINT) AS rn
  FROM documents
),
packed AS (
  SELECT grp, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS pack_id,
         CAST(1 AS BIGINT) AS pack_pos, n_tokens AS fill
  FROM base WHERE rn = 1
  UNION ALL
  SELECT d.grp, d.rn, d.doc_id, d.n_tokens,
    CASE WHEN p.fill + d.n_tokens <= {PACK_BUDGET}
         THEN p.pack_id ELSE p.pack_id + 1 END,
    CASE WHEN p.fill + d.n_tokens <= {PACK_BUDGET}
         THEN p.pack_pos + 1 ELSE CAST(1 AS BIGINT) END,
    CASE WHEN p.fill + d.n_tokens <= {PACK_BUDGET}
         THEN p.fill + d.n_tokens ELSE d.n_tokens END
  FROM packed p JOIN base d ON d.grp = p.grp AND d.rn = p.rn + 1
)
SELECT grp, doc_id, n_tokens, pack_id, pack_pos FROM packed
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one row per (doc, frame) via mapInPandas."""
    docs = attach_binary(read_table(spark, sf_dir, "documents"))
    return sample_frames(docs)


SQL_FRAME_SAMPLE = """
SELECT doc_id,
  CAST(unnest(generate_series(0, strlen(text) % 5)) AS INT) AS frame_idx,
  CAST(strlen(text) // (strlen(text) % 5 + 1) AS INT) AS frame_bytes
FROM documents
"""


# per-source sampling rates (percent) — the data-mixing weights a training
# run applies; formula-derived so the oracle CASE is generated, not typed
SAMPLE_RATES = {f"src{i}": 30 + (i * 7) % 50 for i in range(20)}
N_SHARDS = 8
BENCH_MOD = 97          # doc_id % 97 == 0 → held-out "benchmark" doc
CONTAM_MIN_HITS = 3     # shared distinct 3-grams to call a doc contaminated


def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data pipeline in ONE plan — the composition
    a 100 TB pretraining run actually executes:

      1. quality gate: composite score >= 0.6 AND the composite
         corpus_gate (r11, r10 verdict next-round #5 — the Gopher A.1.1
         rule verdict and the Luhn card-PII flag now CONSUMED by the
         keep/drop decision, not just reported; min_words=8 matches the
         gopher_gate fixture calibration, min_stop_hits=0 because the
         synthetic vocabulary has none of the 8 canonical stopwords —
         the published floor would zero the corpus — and the gate rides
         the SAME quality_score projection: zero extra scan or join),
      2. near-dedup: drop the higher-id member of every MinHash-LSH pair
         (banded buckets + hot-shingle df cap — the scale path, never the
         uncapped inverted index),
      3. benchmark decontamination: drop train docs sharing >= 3 distinct
         3-grams with the held-out set (broadcast n-gram join),
      4. deterministic stratified sampling by source (md5-bucket, no RNG),
      5. training-shard assignment (shard, shard_pos) for export.

    Output: (doc_id, shard, shard_pos) — the export manifest. The
    corpus_gate funnel counts (before/after per source) are the
    corpus_gate constituent beside this one."""
    from ..functions.cleaning import corpus_gate_reason
    from ..functions.dedup import _with_digest, shingles

    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    scored = quality_score(train).select(
        "doc_id", "source", "quality",
        corpus_gate_reason("text", min_words=8,
                           min_stop_hits=0).alias("__gate"))
    good = (scored.filter((F.col("quality") >= 0.6)
                          & (F.col("__gate") == "ok"))
            .select("doc_id", "source"))
    # ONE digested shingle explode, pinned for this call, feeds dedup
    # signatures, dedup verification AND decontamination — the explode is
    # the pipeline's dominant cost, and it runs exactly once
    # (minhash_dedup_pairs pins its capped set; contamination joins on
    # the 8-byte digest, so its benchmark broadcast ships digests too)
    sh_all = _with_digest(shingles(docs)).localCheckpoint()
    dup_losers = (minhash_dedup_pairs(docs, num_hashes=8, bands=4,
                                      threshold=0.8, max_df=MAX_SHINGLE_DF,
                                      shingles_df=sh_all)
                  .select(F.col("doc_b").alias("doc_id")).distinct())
    grams = sh_all.select("doc_id", F.col("sid").alias("ngram"))
    contaminated = contamination(
        train, bench, n=3, min_hits=CONTAM_MIN_HITS,
        doc_grams=grams.filter(F.col("doc_id") % BENCH_MOD != 0),
        bench_grams=grams.filter(F.col("doc_id") % BENCH_MOD == 0),
    ).select("doc_id")
    kept = (good.join(dup_losers, "doc_id", "left_anti")
            .join(contaminated, "doc_id", "left_anti"))
    sampled = stratified_sample(kept, SAMPLE_RATES)
    return (assign_shards(sampled, N_SHARDS)
            .select("doc_id", "shard", "shard_pos"))


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty (functions/cleaning.py ngram_novelty): per val doc
    (doc_id % 7 == 0 slice), distinct 3-grams never seen in the train
    slice — the eval-contamination overlap metric, digest-joined so gram
    text never shuffles."""
    from ..functions.cleaning import ngram_novelty

    docs = read_table(spark, sf_dir, "documents")
    val = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    return ngram_novelty(val, train, n=3)


SQL_NGRAM_NOVELTY = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS ngram
  FROM t WHERE len(toks) >= 3
),
vg AS (SELECT DISTINCT doc_id, ngram FROM g WHERE doc_id % 7 = 0),
tg AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 7 <> 0)
SELECT vg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN tg.ngram IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_seen,
       CAST(COUNT(*) - SUM(CASE WHEN tg.ngram IS NOT NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
FROM vg LEFT JOIN tg USING (ngram)
GROUP BY vg.doc_id
"""


def q_decontam_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest contaminated span per train doc (functions/cleaning.py
    decontam_span; Brown et al. 2020 app. C / PaLM §C span accounting):
    consecutive shared 8-gram start positions certify the longest
    token span each train doc shares with the benchmark slice. The
    benchmark side carries PLANTED leaks — the 12-token prefix of every
    train doc with doc_id % 50 == 1 (id-shifted) — so the detector's
    full path (partial-leak runs, not just disjoint hits) executes on
    the fixture and known docs MUST surface with span >= 12."""
    from ..functions.cleaning import decontam_span

    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    bench = (docs.filter(F.col("doc_id") % BENCH_MOD == 0)
             .select("doc_id", "text"))
    plant = (train.filter(F.col("doc_id") % 50 == 1)
             .select((F.col("doc_id") + 900000).alias("doc_id"),
                     F.array_join(F.slice(F.split(F.col("text"), " "),
                                          1, 12), " ").alias("text")))
    return decontam_span(train, bench.unionByName(plant), n=8)


SQL_DECONTAM_SPAN = f"""
WITH tt AS (SELECT doc_id, {_TOKS} AS t FROM documents
            WHERE doc_id % {BENCH_MOD} <> 0),
tg AS (
  SELECT doc_id, g.i AS pos,
         array_to_string(list_slice(t, g.i, g.i + 7), ' ') AS gram
  FROM tt, unnest(generate_series(1, len(t) - 7)) AS g(i)
  WHERE len(t) >= 8
),
bb AS (
  SELECT {_TOKS} AS t FROM documents WHERE doc_id % {BENCH_MOD} = 0
  UNION ALL
  SELECT string_split(array_to_string(list_slice({_TOKS}, 1, 12), ' '),
                      ' ') AS t
  FROM documents
  WHERE doc_id % {BENCH_MOD} <> 0 AND doc_id % 50 = 1
),
bg AS (
  SELECT DISTINCT array_to_string(list_slice(t, g.i, g.i + 7), ' ')
           AS gram
  FROM bb, unnest(generate_series(1, len(t) - 7)) AS g(i)
  WHERE len(t) >= 8
),
shared AS (SELECT doc_id, pos FROM tg JOIN bg USING (gram)),
runs AS (
  SELECT doc_id,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS grp
  FROM shared
),
rl AS (SELECT doc_id, grp, COUNT(*) AS rl FROM runs GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(rl) AS BIGINT) AS n_shared,
       CAST(8 + MAX(rl) - 1 AS BIGINT) AS max_span_tokens
FROM rl GROUP BY doc_id
"""


def q_split_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (functions/cleaning.py
    split_corpus): per (source, split) doc counts + char totals — the
    assignment is a pure function of doc_id, so the oracle recomputing
    it from scratch proves run-to-run stability."""
    from ..functions.cleaning import split_corpus

    docs = read_table(spark, sf_dir, "documents")
    return (split_corpus(docs)
            .groupBy("source", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars")))


def _split_sql() -> str:
    # deferred: _hex_int_sql is defined later in this module
    h = _hex_int_sql("'split:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT source,
  CASE WHEN {h} % 100 < 5 THEN 'test'
       WHEN {h} % 100 < 10 THEN 'val'
       ELSE 'train' END AS split,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1, 2
"""


def q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection (functions/importance.py,
    arXiv:2302.03169): hashed-bigram bag log-likelihood ratio of each
    raw document under the target (doc_id % 10 == 0 slice) vs raw
    models, top-100 by summed log-importance. The B=256-bucket model
    broadcasts; bigram text never shuffles."""
    from ..functions.importance import (bucket_log_ratios,
                                       hashed_bigram_counts,
                                       importance_topk)

    docs = read_table(spark, sf_dir, "documents")
    # three consumers read the compact (id, bucket, c) table (both model
    # sides + the scoring pass) — checkpoint it once so the corpus-sized
    # bigram explode runs ONCE instead of per consumer (r12, guide §5;
    # the broadcast model's lineage otherwise re-ran it as its own job)
    counts = hashed_bigram_counts(docs).localCheckpoint(eager=False)
    is_target = F.col("id") % 10 == 0
    ratios = bucket_log_ratios(counts.filter(is_target),
                               counts.filter(~is_target))
    return (importance_topk(counts.filter(~is_target), ratios, k=100)
            .select(F.col("id").alias("doc_id"), "n_grams", "logw",
                    "rank"))


def _dsir_sql() -> str:
    from ..functions.importance import N_BUCKETS

    h = ("list_reduce(list_transform(string_split_regex("
         "substr(md5(bigram), 1, 12), ''), "
         "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)), "
         "(a,b) -> a*16+b)")
    half = N_BUCKETS * 0.5
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bg AS (
  SELECT doc_id, unnest({_BG}) AS bigram FROM t WHERE len(toks) >= 2
),
counts AS (
  SELECT doc_id AS id, CAST({h} % {N_BUCKETS} AS INT) AS bucket,
         COUNT(*) AS c
  FROM bg GROUP BY 1, 2
),
bins AS (SELECT CAST(unnest(generate_series(0, {N_BUCKETS - 1})) AS INT)
           AS bucket),
dense AS (
  SELECT b.bucket,
    CAST(coalesce((SELECT SUM(c) FROM counts WHERE id % 10 = 0
                   AND bucket = b.bucket), 0) AS DOUBLE) AS ct,
    CAST(coalesce((SELECT SUM(c) FROM counts WHERE id % 10 <> 0
                   AND bucket = b.bucket), 0) AS DOUBLE) AS cr
  FROM bins b
),
tot AS (SELECT SUM(ct) AS T, SUM(cr) AS R FROM dense),
ratios AS (
  SELECT bucket,
    round(ln((ct + 0.5) / (tot.T + {half}))
          - ln((cr + 0.5) / (tot.R + {half})), 9) AS lr
  FROM dense, tot
),
scored AS (
  SELECT c.id, CAST(SUM(c.c) AS BIGINT) AS n_grams,
    round(list_reduce(list_prepend(0.0,
      list(c.c * r.lr ORDER BY c.bucket)), (a, b) -> a + b), 9) AS logw
  FROM counts c JOIN ratios r USING (bucket)
  WHERE c.id % 10 <> 0
  GROUP BY c.id
),
ranked AS (
  SELECT id, n_grams, logw,
         row_number() OVER (ORDER BY logw DESC, id) AS rank
  FROM scored
)
SELECT id AS doc_id, n_grams, logw, rank FROM ranked WHERE rank <= 100
"""


SQL_DSIR_TOPK = _dsir_sql()


def _hex_int_sql(expr: str) -> str:
    """DuckDB restatement of Spark conv(substr(md5(x),1,6),16,10): fold the
    six hex nibbles left-to-right. Verified equal on both engines."""
    return ("list_reduce(list_transform(string_split_regex("
            f"substr(md5({expr}), 1, 6), ''), "
            "c -> instr('0123456789abcdef', c) - 1), (a,b) -> a*16+b)")


def _hex_int12_sql(expr: str) -> str:
    """48-bit variant (12 hex chars) — the kmv_hash restatement; BIGINT
    accumulator so the fold doesn't overflow INT32."""
    return ("list_reduce(list_transform(string_split_regex("
            f"substr(md5({expr}), 1, 12), ''), "
            "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)), "
            "(a,b) -> a*16+b)")


_DOC_HASH = _hex_int_sql("CAST(doc_id AS VARCHAR)")
_RATE_CASE = ("CASE " + " ".join(
    f"WHEN source = '{s}' THEN {p}"
    for s, p in sorted(SAMPLE_RATES.items())) + " ELSE 0 END")

SQL_CLEAN_CORPUS = f"""
WITH feats AS (
  SELECT doc_id, source,
    CAST(length(text) AS DOUBLE) / len({_TOKS}) AS q_mean_tok_len,
    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
      / len({_TOKS}) AS q_punct_ratio,
    CAST({_stopword_hits_sql('en')} AS DOUBLE)
      / {len(STOPWORDS['en'])} AS q_stopword_ratio
  FROM documents
  WHERE doc_id % {BENCH_MOD} <> 0
),
{{gatepass}},
good AS (
  SELECT doc_id, source FROM feats
  WHERE least(q_stopword_ratio * 2, 1.0) * 0.5
      + CASE WHEN q_mean_tok_len >= 3 AND q_mean_tok_len <= 10
             THEN 0.3 ELSE 0.0 END
      + CASE WHEN q_punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END >= 0.6
    AND doc_id IN (SELECT doc_id FROM gatepass)
),
{_CAPPED_SHINGLES_CTE},
sigs AS (SELECT doc_id, {_SIGS} FROM sh GROUP BY doc_id),
bands AS (SELECT doc_id, unnest([{_BANDS}]) AS band_key FROM sigs),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS c
  FROM cands
  JOIN sh a ON a.doc_id = doc_a
  JOIN sh b ON b.doc_id = doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
losers AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.8
),
benchgrams AS (
  SELECT DISTINCT shingle FROM sh0 WHERE doc_id % {BENCH_MOD} = 0
),
contaminated AS (
  SELECT t.doc_id
  FROM sh0 t JOIN benchgrams b USING (shingle)
  WHERE t.doc_id % {BENCH_MOD} <> 0
  GROUP BY t.doc_id
  HAVING COUNT(*) >= {CONTAM_MIN_HITS}
),
kept AS (
  SELECT doc_id, source FROM good
  WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
sampled AS (
  SELECT doc_id FROM kept
  WHERE {_DOC_HASH} % 100 < {_RATE_CASE}
),
shards AS (
  SELECT doc_id,
         CAST({_DOC_HASH} % {N_SHARDS} AS BIGINT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS sort_key
  FROM sampled
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY sort_key)
            AS BIGINT) AS shard_pos
FROM shards
"""


def q_user_features_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped applyInPandas: per-user feature rows computed in pandas,
    checked against the plain-SQL restatement."""
    from ..functions.grouped import user_features

    return user_features(read_table(spark, sf_dir, "events"))


SQL_USER_FEATURES = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MAX(value) AS max_single
FROM events GROUP BY user_id
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (functions/lm.py): per-document mean
    NLL + perplexity under an add-1-smoothed bigram model trained on the
    corpus itself — the perplexity-filter stage of a cleaning pipeline
    with the model fit kept inside the engine."""
    from ..functions.lm import lm_score

    docs = read_table(spark, sf_dir, "documents")
    return lm_score(docs)


SQL_LM_PERPLEXITY = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
bg AS (
  SELECT doc_id, g.i AS idx, t[g.i] AS w1, t[g.i] || ' ' || t[g.i+1] AS bg
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
),
c2 AS (SELECT bg, w1, COUNT(*) AS c2 FROM bg GROUP BY bg, w1),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
voc AS (SELECT COUNT(DISTINCT tok) AS v
        FROM (SELECT unnest(t) AS tok FROM toks)),
nll AS (
  SELECT b.doc_id, b.idx,
         ln(CAST(c1.c1 + voc.v AS DOUBLE) / CAST(c2.c2 + 1 AS DOUBLE))
           AS nll
  FROM bg b JOIN c2 USING (bg, w1) JOIN c1 USING (w1), voc
),
per AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         list_reduce(list_prepend(0.0, list(nll ORDER BY idx)),
                     (a, b) -> a + b) AS s
  FROM nll GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  coalesce(round(p.s / p.n_bigrams, 9), -1.0) AS avg_nll,
  coalesce(round(exp(round(p.s / p.n_bigrams, 9)), 6), -1.0) AS ppl
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def q_luhn_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-card PAN detection with Luhn mod-10 validation
    (functions/cleaning.py luhn_card_counts) over a planted-candidate
    corpus: every doc carries one 16-digit and one 15-digit candidate
    derived from doc_id (valid or not exactly as the checksum falls —
    BOTH engines run their own Luhn, so the verdict itself is the
    cross-check), plus a too-short and a too-long run pinning the
    13-19 length gate. The high-precision PII class the regex battery
    (email/ipv4/phone) can't express — card numbers need the checksum
    to avoid flagging every long number."""
    from ..functions.cleaning import luhn_card_counts

    docs = read_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" card "),
            F.lpad(F.col("doc_id").cast("string"), 16, "5"),
            F.lit(" alt "),
            F.lpad((F.col("doc_id") * 7 + 3).cast("string"), 15, "4"),
            F.lit(" junk 12345 and 99999999999999999999 end"))
        .alias("text"))
    nc, nv = luhn_card_counts("text")
    return planted.select("doc_id",
                          nc.alias("n_card_candidates"),
                          nv.alias("n_valid_cards"))


def q_iban_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IBAN detection with ISO 7064 mod-97-10 validation
    (functions/cleaning.py iban_counts) over a planted-candidate
    corpus: every doc carries one doc-derived 22-char GB-shaped
    candidate (valid exactly as the checksum falls — BOTH engines run
    their own mod-97, so the verdict is the cross-check), docs with
    doc_id % 4 == 0 additionally carry the ISO example IBAN
    GB82WEST12345698765432 (known valid), and a too-short run plus a
    lowercase decoy pin the shape gate. The bank-account PII class —
    like cards, detectable precisely only via its checksum."""
    from ..functions.cleaning import iban_counts

    docs = read_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" pay GB"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("WEST"),
            F.lpad(F.col("doc_id").cast("string"), 14, "1"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(" ok GB82WEST12345698765432"))
            .otherwise(F.lit("")),
            F.lit(" no DE4401 and gb82west12345698765432 end"))
        .alias("text"))
    nc, nv = iban_counts("text")
    return planted.select("doc_id",
                          nc.alias("n_iban_candidates"),
                          nv.alias("n_valid_iban"))


_IBAN_MOD97_SQL = """list_reduce(list_prepend(0,
      list_transform(generate_series(1,
          len(substring(s, 5) || substring(s, 1, 4))),
        i -> ascii((substring(s, 5) || substring(s, 1, 4))[i]))),
      (acc, a) -> CASE WHEN a >= 48 AND a <= 57
                       THEN (acc * 10 + (a - 48)) % 97
                       ELSE (acc * 100 + (a - 55)) % 97 END)"""

SQL_IBAN_DETECT = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' pay GB' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
              || 'WEST' || lpad(CAST(doc_id AS VARCHAR), 14, '1')
              || CASE WHEN doc_id % 4 = 0
                      THEN ' ok GB82WEST12345698765432' ELSE '' END
              || ' no DE4401 and gb82west12345698765432 end' AS text
  FROM documents
),
runs AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[^0-9A-Za-z]+'),
                     s -> len(s) >= 15 AND len(s) <= 34
                          AND regexp_matches(s,
                              '^[A-Z]{{2}}[0-9]{{2}}[A-Z0-9]+$')) AS rs
  FROM planted
)
SELECT doc_id,
  CAST(len(rs) AS BIGINT) AS n_iban_candidates,
  CAST(len(list_filter(rs, s -> {_IBAN_MOD97_SQL} = 1)) AS BIGINT)
    AS n_valid_iban
FROM runs
"""


_LUHN_SQL = """list_reduce(list_prepend(0,
      list_transform(generate_series(1, len(s)),
        i -> CASE WHEN (len(s) - i) % 2 = 1
                  THEN CASE WHEN CAST(s[i] AS INT) * 2 > 9
                            THEN CAST(s[i] AS INT) * 2 - 9
                            ELSE CAST(s[i] AS INT) * 2 END
                  ELSE CAST(s[i] AS INT) END)),
      (a, b) -> a + b)"""

SQL_LUHN_CARDS = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' card ' || lpad(CAST(doc_id AS VARCHAR), 16, '5')
              || ' alt ' || lpad(CAST(doc_id * 7 + 3 AS VARCHAR), 15, '4')
              || ' junk 12345 and 99999999999999999999 end' AS text
  FROM documents
),
runs AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[^0-9]+'),
                     s -> len(s) >= 13 AND len(s) <= 19) AS rs
  FROM planted
)
SELECT doc_id,
  CAST(len(rs) AS BIGINT) AS n_card_candidates,
  CAST(len(list_filter(rs, s -> {_LUHN_SQL} % 10 = 0)) AS BIGINT)
    AS n_valid_cards
FROM runs
"""


def q_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter verdicts (functions/cleaning.py
    gopher_gate; Rae et al. 2021 Appendix A.1.1): the published rule
    set — word count, mean word length, symbol ratio, alphabetic
    fraction, canonical stopword floor — with per-doc measured stats,
    pass/fail verdict and the first failing rule as the audit reason.
    min_words lowered to 8 for the short-doc fixture so verdicts vary
    (the published 50 would fail nearly every fixture doc on length
    alone and leave the later rules untested)."""
    from ..functions.cleaning import gopher_gate

    docs = read_table(spark, sf_dir, "documents")
    return gopher_gate(docs, min_words=8)


_GOPHER_STOP_SQL = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"

# The composite corpus gate restated in SQL (r11, r10 verdict next-round
# #5): Gopher A.1.1 stats + the Luhn-valid card-run count over the train
# slice. Spliced into SQL_CLEAN_CORPUS (defined ABOVE these constants,
# hence the deferred .replace below) and reused by the corpus_gate
# funnel constituent.
_GSTATS_CTE = f"""gstats AS (
  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS nw,
    CAST(floor(CAST(list_reduce(list_prepend(0, list_transform(t,
         x -> length(x))), (a, b) -> a + b) AS DOUBLE)
         / len(t) * 1000000.0 + 0.5) AS BIGINT) AS mwl,
    CAST(floor(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.', 0))
         AS DOUBLE) / len(t) * 1000000.0 + 0.5) AS BIGINT) AS symr,
    CAST(floor(CAST(len(list_filter(t, x -> regexp_matches(x,
         '[a-zA-Z]'))) AS DOUBLE) / len(t) * 1000000.0 + 0.5)
         AS BIGINT) AS af,
    CAST(len(list_intersect(t, {_GOPHER_STOP_SQL})) AS BIGINT)
      AS n_stop,
    CAST(len(list_filter(string_split_regex(text, '[^0-9]+'),
        s -> len(s) >= 13 AND len(s) <= 19 AND {_LUHN_SQL} % 10 = 0))
        AS BIGINT) AS nv
  FROM (SELECT doc_id, source, {_TOKS} AS t, text FROM documents
        WHERE doc_id % {BENCH_MOD} <> 0))"""

# the APPLIED rule set (min_stop_hits=0 — the stopword floor is a
# per-corpus calibration and the synthetic fixture vocabulary has none
# of the 8 canonical English function words; n_stop stays in gstats so
# the published floor is one conjunct away)
_GOPHER_OK = ("nw >= 8 AND nw <= 100000 AND mwl >= 3000000"
              " AND mwl <= 10000000 AND symr <= 100000 AND af >= 800000")
_GATE_OK = _GOPHER_OK + " AND nv = 0"

SQL_CLEAN_CORPUS = SQL_CLEAN_CORPUS.replace(
    "{gatepass}",
    _GSTATS_CTE + ",\ngatepass AS (SELECT doc_id FROM gstats WHERE "
    + _GATE_OK + ")")


def q_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-stage audit funnel (functions/cleaning.py corpus_gate_reason
    composed with text.quality_score; r11, r10 verdict next-round #5):
    per source, the before/after counts of clean_corpus's step-1 gate —
    docs in, quality-score passes, composite-gate passes, Gopher-rule
    failures (incl. null_text), card-PII flags, and docs kept by BOTH
    (exactly clean_corpus's `good` set). One projection + one map-side
    source aggregate — zero extra corpus scans."""
    from ..functions.cleaning import corpus_gate_reason

    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    g = quality_score(train).select(
        "doc_id", "source",
        (F.col("quality") >= 0.6).cast("int").alias("q_ok"),
        corpus_gate_reason("text", min_words=8,
                           min_stop_hits=0).alias("gr"))
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("q_ok").cast("bigint").alias("n_quality_ok"),
        F.sum((F.col("gr") == "ok").cast("int")).cast("bigint")
        .alias("n_gate_ok"),
        F.sum((~F.col("gr").isin("ok", "card_pii")).cast("int"))
        .cast("bigint").alias("n_gopher_fail"),
        F.sum((F.col("gr") == "card_pii").cast("int")).cast("bigint")
        .alias("n_card_pii"),
        F.sum(((F.col("gr") == "ok") & (F.col("q_ok") == 1))
              .cast("int")).cast("bigint").alias("n_kept"))


SQL_CORPUS_GATE = f"""
WITH {_GSTATS_CTE},
feats AS (
  SELECT doc_id, source,
    CAST(length(text) AS DOUBLE) / len({_TOKS}) AS q_mean_tok_len,
    CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
      / len({_TOKS}) AS q_punct_ratio,
    CAST({_stopword_hits_sql('en')} AS DOUBLE)
      / {len(STOPWORDS['en'])} AS q_stopword_ratio
  FROM documents
  WHERE doc_id % {BENCH_MOD} <> 0
),
q AS (
  SELECT doc_id, source,
    CASE WHEN least(q_stopword_ratio * 2, 1.0) * 0.5
      + CASE WHEN q_mean_tok_len >= 3 AND q_mean_tok_len <= 10
             THEN 0.3 ELSE 0.0 END
      + CASE WHEN q_punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END >= 0.6
      THEN 1 ELSE 0 END AS q_ok
  FROM feats
),
g AS (
  SELECT doc_id,
    CASE WHEN {_GATE_OK} THEN 1 ELSE 0 END AS gate_ok,
    CASE WHEN {_GOPHER_OK} THEN 0 ELSE 1 END AS gopher_fail,
    CASE WHEN ({_GOPHER_OK}) AND nv > 0 THEN 1 ELSE 0 END AS card_pii
  FROM gstats
)
SELECT q.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(q.q_ok) AS BIGINT) AS n_quality_ok,
  CAST(SUM(g.gate_ok) AS BIGINT) AS n_gate_ok,
  CAST(SUM(g.gopher_fail) AS BIGINT) AS n_gopher_fail,
  CAST(SUM(g.card_pii) AS BIGINT) AS n_card_pii,
  CAST(SUM(CASE WHEN g.gate_ok = 1 AND q.q_ok = 1 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_kept
FROM q JOIN g USING (doc_id)
GROUP BY q.source
"""

SQL_GOPHER_GATE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks, text FROM documents),
s AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS nw,
    CAST(list_reduce(list_prepend(0, list_transform(toks,
         x -> length(x))), (a, b) -> a + b) AS BIGINT) AS nchars,
    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.', 0)) AS BIGINT)
      AS n_sym,
    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
         AS BIGINT) AS n_alpha,
    CAST(len(list_intersect(toks, {_GOPHER_STOP_SQL})) AS BIGINT)
      AS n_stop
  FROM t
),
r AS (
  SELECT doc_id, nw,
    CAST(floor(CAST(nchars AS DOUBLE) / nw * 1000000.0 + 0.5)
         AS BIGINT) AS mwl,
    CAST(floor(CAST(n_sym AS DOUBLE) / nw * 1000000.0 + 0.5)
         AS BIGINT) AS symr,
    CAST(floor(CAST(n_alpha AS DOUBLE) / nw * 1000000.0 + 0.5)
         AS BIGINT) AS af,
    n_stop
  FROM s
),
v AS (
  SELECT *,
    -- NULL text (nw is NULL iff text is NULL on both engines) must
    -- fail loudly, not slip through the CASE to 'ok' (r11 ADVICE fix)
    CASE WHEN nw IS NULL THEN 'null_text'
         WHEN nw < 8 OR nw > 100000 THEN 'word_count'
         WHEN mwl < 3000000 OR mwl > 10000000 THEN 'mean_word_length'
         WHEN symr > 100000 THEN 'symbol_ratio'
         WHEN af < 800000 THEN 'alpha_frac'
         WHEN n_stop < 2 THEN 'stopwords'
         ELSE 'ok' END AS reason
  FROM r
)
SELECT doc_id, nw AS n_words, mwl AS mean_word_len_e6,
       symr AS symbol_ratio_e6, af AS alpha_frac_e6,
       n_stop AS n_stop_hits,
       CASE WHEN reason = 'ok' THEN 'pass' ELSE 'fail' END AS verdict,
       reason
FROM v
"""


def q_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (functions/lm.py
    kn_score; Kneser & Ney 1995, Chen & Goodman TR-10-98): the smoothing
    a KenLM-backed CCNet filter actually uses, beside the add-1
    baseline — fixed D = 0.75 discount, continuation counts from the
    same single digested bigram explode. avg NLL and ppl hash on both
    engines via the pinned-order ln fold."""
    from ..functions.lm import kn_score

    docs = read_table(spark, sf_dir, "documents")
    return kn_score(docs)


SQL_KN_PERPLEXITY = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
bg AS (
  SELECT doc_id, g.i AS idx, t[g.i] AS w1, t[g.i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1f FROM c2 GROUP BY w1),
n1b AS (SELECT w2, COUNT(*) AS n1b FROM c2 GROUP BY w2),
tt AS (SELECT COUNT(*) AS t FROM c2),
nll AS (
  SELECT b.doc_id, b.idx,
         -ln((CAST(c2.c2 AS DOUBLE) - 0.75) / c1.c1
             + 0.75 * c1.n1f / c1.c1
             * (CAST(n1b.n1b AS DOUBLE) / tt.t)) AS nll
  FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
  JOIN n1b USING (w2), tt
),
per AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         list_reduce(list_prepend(0.0, list(nll ORDER BY idx)),
                     (a, b) -> a + b) AS s
  FROM nll GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(round(p.s / p.n_bigrams, 9), -1.0) AS avg_nll_kn,
  coalesce(round(exp(round(p.s / p.n_bigrams, 9)), 6), -1.0) AS ppl_kn
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (functions/lm.py
    ccnet_buckets, Wenzek et al. LREC 2020): per source, exact terciles
    of the corpus-LM document scores — head kept outright, tail dropped
    or re-scored in the CCNet recipe. One per-group rank window over
    the lm_score chain; every bucket decision is integer arithmetic on
    deterministic ranks, so it hashes."""
    from ..functions.lm import ccnet_buckets

    docs = read_table(spark, sf_dir, "documents")
    return ccnet_buckets(docs)


SQL_CCNET_BUCKETS = f"""
WITH j AS (
  SELECT l.doc_id, l.n_bigrams, l.avg_nll, d.source
  FROM ({SQL_LM_PERPLEXITY}) l JOIN documents d USING (doc_id)
),
r AS (
  SELECT doc_id, source, n_bigrams, avg_nll,
         row_number() OVER (PARTITION BY source
                            ORDER BY avg_nll, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM j WHERE n_bigrams > 0
)
SELECT doc_id, source, n_bigrams, avg_nll,
       CASE WHEN rn * 3 <= n THEN 'head'
            WHEN rn * 3 <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM r
UNION ALL
SELECT doc_id, source, n_bigrams, avg_nll, 'skip' AS bucket
FROM j WHERE n_bigrams = 0
"""


def q_ccnet_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-store CCNet assignment (functions/lm.py
    ccnet_store_model + ccnet_apply): a NEW id-shifted batch — every
    doc carrying one unseen-bigram and one unseen-context pair — scored
    under the STORE-trained model via the add-1 backoff left joins,
    then bucketed against the store's frozen per-source tercile
    boundaries. The production CCNet step: frozen cutoffs applied to
    every new crawl, the store never re-ranked (Wenzek et al. LREC
    2020).

    End-to-end freshness (r11, r10 verdict next-round #4): the model
    AND the boundaries are written to parquet and the apply side
    consumes ONLY the re-read frames — the driver's entry hash
    certifies the persisted-store READ path (the incremental_bpe
    pattern), not an in-plan retrain. Idempotent-resume pinned by
    tests/test_lm.py."""
    from pathlib import Path

    from ..functions.lm import ccnet_apply, ccnet_store_model

    docs = read_table(spark, sf_dir, "documents")
    batch = docs.select(
        (F.col("doc_id") + 70000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" nv"),
                 (F.col("doc_id") % 5).cast("string"),
                 F.lit(" qq")).alias("text"),
        "source")
    model, bounds = ccnet_store_model(docs)
    store = (f"{_plan_store_root()}/ccnet/"
             f"{spark.sparkContext.applicationId}/"
             f"{Path(sf_dir).name}")
    model.write.mode("overwrite").parquet(f"{store}/model")
    bounds.write.mode("overwrite").parquet(f"{store}/bounds")
    return ccnet_apply(batch,
                       spark.read.parquet(f"{store}/model"),
                       spark.read.parquet(f"{store}/bounds"))


SQL_CCNET_ASSIGN = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
bg AS (
  SELECT doc_id, g.i AS idx, t[g.i] AS w1, t[g.i] || ' ' || t[g.i+1] AS bg
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
),
c2 AS (SELECT bg, w1, COUNT(*) AS c2 FROM bg GROUP BY bg, w1),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
voc AS (SELECT COUNT(DISTINCT tok) AS v
        FROM (SELECT unnest(t) AS tok FROM toks)),
nb AS (
  SELECT doc_id + 70000 AS doc_id,
         text || ' nv' || CAST(doc_id % 5 AS VARCHAR) || ' qq' AS text,
         source
  FROM documents
),
btoks AS (SELECT doc_id, source, {_TOKS} AS t FROM nb),
bbg AS (
  SELECT doc_id, g.i AS idx, t[g.i] AS w1, t[g.i] || ' ' || t[g.i+1] AS bg
  FROM btoks, unnest(generate_series(1, len(t) - 1)) AS g(i)
),
bnll AS (
  SELECT b.doc_id, b.idx,
         CASE WHEN c2.c2 IS NOT NULL
              THEN ln(CAST(c1.c1 + voc.v AS DOUBLE)
                      / CAST(c2.c2 + 1 AS DOUBLE))
              WHEN c1.c1 IS NOT NULL
              THEN ln(CAST(c1.c1 + voc.v AS DOUBLE))
              ELSE ln(CAST(voc.v AS DOUBLE)) END AS nll
  FROM bbg b LEFT JOIN c2 USING (bg, w1) LEFT JOIN c1 USING (w1), voc
),
bper AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         list_reduce(list_prepend(0.0, list(nll ORDER BY idx)),
                     (a, b) -> a + b) AS s
  FROM bnll GROUP BY doc_id
),
bscore AS (
  SELECT d.doc_id, d.source,
    CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
    coalesce(round(p.s / p.n_bigrams, 9), -1.0) AS avg_nll
  FROM nb d LEFT JOIN bper p USING (doc_id)
),
bounds AS (
  SELECT source AS grp,
         MAX(CASE WHEN bucket = 'head' THEN avg_nll END) AS head_cut,
         MAX(CASE WHEN bucket <> 'tail' THEN avg_nll END) AS mid_cut
  FROM ({{ccnet}}) WHERE bucket <> 'skip' GROUP BY source
)
SELECT s.doc_id, s.source, s.n_bigrams, s.avg_nll,
  CASE WHEN s.n_bigrams = 0 THEN 'skip'
       WHEN b.head_cut IS NOT NULL AND s.avg_nll <= b.head_cut
         THEN 'head'
       WHEN b.mid_cut IS NOT NULL AND s.avg_nll <= b.mid_cut
         THEN 'middle'
       ELSE 'tail' END AS bucket
FROM bscore s LEFT JOIN bounds b ON b.grp = s.source
"""

SQL_CCNET_ASSIGN = SQL_CCNET_ASSIGN.replace(
    "{ccnet}", SQL_CCNET_BUCKETS)


PHRASE = ("table", "scan", "merge")


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval (functions/retrieval.py phrase_match): docs
    containing the fixed test phrase consecutively, with match count and
    first position — the lexical-retrieval primitive BM25 bag-of-words
    can't express."""
    from ..functions.retrieval import phrase_match

    docs = read_table(spark, sf_dir, "documents")
    return phrase_match(docs, PHRASE)


_PHRASE_COND = " AND ".join(
    f"tk[i+{off}] = '{w}'" for off, w in enumerate(PHRASE))

SQL_PHRASE_MATCH = f"""
WITH t AS (SELECT doc_id, {_TOKS.replace('text', 'text')} AS tk
           FROM documents),
m AS (
  SELECT doc_id,
    list_filter(generate_series(1, greatest(len(tk) - {len(PHRASE) - 1}, 0)),
                i -> {_PHRASE_COND}) AS starts
  FROM t
)
SELECT doc_id, len(starts) AS n_matches,
       coalesce(starts[1], -1) AS first_pos
FROM m WHERE len(starts) > 0
"""


def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss 64->16 random projection with per-vector norm
    distortion (functions/projection.py). The oracle embeds the SAME
    md5-derived sign matrix as literals — computed by jl_matrix, so the
    two engines share one source of truth."""
    from ..functions.projection import jl_distortion

    emb = read_table(spark, sf_dir, "embeddings")
    return jl_distortion(emb, "embedding", in_dim=64, out_dim=16,
                         id_col="vec_id")


def _sql_jl() -> str:
    from ..functions.projection import jl_matrix

    m = jl_matrix(16, 64)
    signs = lambda j: "[" + ", ".join(f"{s:.1f}" for s in m[j]) + "]"
    proj = ",\n    ".join(
        f"list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        f"i -> e[i] * ({signs(j)})[i])), (a, b) -> a + b) * 0.25 AS p{j}"
        for j in range(16))
    psq = " + ".join(f"p{j} * p{j}" for j in range(16))
    return f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings),
p AS (
  SELECT vec_id, label, e,
    {proj}
  FROM v
)
SELECT vec_id, label,
  round(sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)),
                         (a, b) -> a + b)), 9) AS norm_orig,
  round(sqrt({psq}), 9) AS norm_proj,
  round(sqrt({psq})
        / sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)),
                           (a, b) -> a + b)), 9) AS distortion,
  round(p0, 9) AS proj_0, round(p1, 9) AS proj_1
FROM p
"""


SQL_JL_PROJECTION = _sql_jl()


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sampling (functions/cleaning.py priority_sample):
    20 documents drawn with probability ∝ n_chars via deterministic
    md5-uniforms, with the tau-threshold subset-sum estimator."""
    from ..functions.cleaning import priority_sample

    docs = read_table(spark, sf_dir, "documents")
    return priority_sample(docs, "n_chars", "doc_id", k=20)


def _sql_priority() -> str:
    h = _hex_int12_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH pr AS (
  SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS w,
         CAST(n_chars AS DOUBLE)
           / (({h} + 1) / 281474976710656.0) AS priority
  FROM documents
),
r AS (
  SELECT id, w, priority,
         row_number() OVER (ORDER BY priority DESC, id) AS rank
  FROM pr
),
tau AS (SELECT coalesce((SELECT priority FROM r WHERE rank = 21), 0.0)
               AS tau)
SELECT id, w, priority, tau.tau,
       greatest(CAST(w AS DOUBLE), tau.tau) AS w_hat, rank
FROM r, tau WHERE rank <= 20
"""


SQL_PRIORITY_SAMPLE = _sql_priority()


BPE_ROUNDS = 3


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (functions/bpe.py): 3 merge rounds over the
    corpus vocabulary. Output unions the learned merge table with every
    word's final segmentation."""
    from ..functions.bpe import bpe_train

    docs = read_table(spark, sf_dir, "documents")
    merges, words = bpe_train(docs, rounds=BPE_ROUNDS)
    m = merges.select(F.lit("bpe_merge").alias("kind"),
                      F.col("round").cast("bigint").alias("doc_id"),
                      F.col("n"),
                      F.concat_ws("+", "s1", "s2").alias("fp"),
                      F.lit(-1).cast("bigint").alias("m"))
    w = words.select(F.lit("bpe_word").alias("kind"),
                     F.lit(-1).cast("bigint").alias("doc_id"),
                     F.col("freq").alias("n"),
                     F.concat_ws(">", "word", "seg").alias("fp"),
                     F.col("n_syms").cast("bigint").alias("m"))
    # tokenizer APPLICATION: per-doc symbol counts under the trained
    # merges — a vocabulary-sized broadcast join onto the corpus token
    # stream, the compression metric a tokenizer eval reports
    toks = docs.select("doc_id", F.explode(F.split("text", " "))
                       .alias("word"))
    seg_sizes = words.select("word", "n_syms")
    per_doc = (toks.join(F.broadcast(seg_sizes), "word")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_words"),
                    F.sum("n_syms").alias("n_bpe_syms")))
    d = per_doc.select(F.lit("bpe_doc").alias("kind"), "doc_id",
                       F.col("n_bpe_syms").cast("bigint").alias("n"),
                       F.lit("").alias("fp"),
                       F.col("n_words").cast("bigint").alias("m"))
    return m.unionByName(w).unionByName(d)


def _bpe_chain(rounds: int = BPE_ROUNDS) -> str:
    """The shared unrolled-training CTE chain deriving
    w{{rounds}}(word, freq, syms) — per round, a pair-count CTE + a
    LIMIT-1 argmax + a recursive-CTE greedy merge (the
    consume-two-at-a-time scan the Spark fold is equivalent to; see
    functions/bpe.py docstring). Callers prefix WITH RECURSIVE (DuckDB
    quirk, NOTES.md); the recursion depth is the word length. Reused by
    the train, encode and BPE-pack oracles so all three restate ONE
    segmentation."""
    parts = [f"""
w0 AS (
  SELECT word, freq, string_split_regex(word, '') AS syms
  FROM (SELECT tok AS word, COUNT(*) AS freq
        FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
        GROUP BY tok)
)"""]
    for r in range(1, rounds + 1):
        p, b, s, wp, wc = (f"p{r}", f"b{r}", f"step{r}",
                           f"w{r - 1}", f"w{r}")
        parts.append(f"""
{p} AS (
  SELECT syms[g.i] AS s1, syms[g.i + 1] AS s2, SUM(freq) AS n
  FROM {wp}, unnest(generate_series(1, len(syms) - 1)) AS g(i)
  GROUP BY 1, 2
),
{b} AS (SELECT s1, s2, n FROM {p} ORDER BY n DESC, s1, s2 LIMIT 1),
{s} AS (
  SELECT word, freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM {wp}
  UNION ALL
  SELECT s.word, s.freq, s.syms,
    CASE WHEN s.i < len(s.syms) AND s.syms[s.i] = b.s1
              AND s.syms[s.i + 1] = b.s2
         THEN s.i + 2 ELSE s.i + 1 END,
    CASE WHEN s.i < len(s.syms) AND s.syms[s.i] = b.s1
              AND s.syms[s.i + 1] = b.s2
         THEN list_append(s.acc, b.s1 || b.s2)
         ELSE list_append(s.acc, s.syms[s.i]) END
  FROM {s} s, {b} b WHERE s.i <= len(s.syms)
),
{wc} AS (SELECT word, freq, acc AS syms FROM {s}
         WHERE i = len(syms) + 1)""")
    return ",".join(parts)


def _sql_bpe(rounds: int = BPE_ROUNDS) -> str:
    merges = "\nUNION ALL\n".join(
        f"SELECT 'bpe_merge' AS kind, CAST({r} AS BIGINT) AS doc_id,"
        f" CAST(n AS BIGINT) AS n, s1 || '+' || s2 AS fp,"
        f" CAST(-1 AS BIGINT) AS m FROM b{r}"
        for r in range(1, rounds + 1))
    return ("WITH RECURSIVE " + _bpe_chain(rounds) + "\n" + merges + f"""
UNION ALL
SELECT 'bpe_word' AS kind, CAST(-1 AS BIGINT) AS doc_id, freq AS n,
       word || '>' || array_to_string(syms, '|') AS fp,
       CAST(len(syms) AS BIGINT) AS m
FROM w{rounds}
UNION ALL
SELECT 'bpe_doc' AS kind, t.doc_id, CAST(SUM(len(w.syms)) AS BIGINT) AS n,
       '' AS fp, CAST(COUNT(*) AS BIGINT) AS m
FROM (SELECT doc_id, unnest({_TOKS}) AS word FROM documents) t
JOIN w{rounds} w USING (word)
GROUP BY t.doc_id
""")


SQL_BPE_TRAIN = _sql_bpe()


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE tokenization (functions/bpe.py bpe_encode): apply
    the 3-round trained segmentation to EVERY document — the tokenize
    step a training-data pipeline executes per doc per epoch. Output is
    one row per doc with exact word/token counts, the FULL ordered
    token stream ('|'-joined, '▁' word-start markers) and rt — the
    decode(encode(doc)) == doc round-trip flag, so the oracle hash
    certifies both the entire encoded corpus AND its invertibility."""
    from ..functions.bpe import bpe_decode, bpe_encode, bpe_train

    docs = read_table(spark, sf_dir, "documents")
    _merges, words = bpe_train(docs, rounds=BPE_ROUNDS)
    enc = bpe_encode(docs, words)
    return (enc.join(docs.select("doc_id", "text"), "doc_id")
            .select("doc_id", "n_words", "n_tokens", "stream",
                    (bpe_decode("stream") == F.col("text")).cast("int")
                    .alias("rt")))


def _sql_bpe_encode(rounds: int = BPE_ROUNDS) -> str:
    return f"""WITH RECURSIVE {_bpe_chain(rounds)},
t AS (
  SELECT doc_id, generate_subscripts({_TOKS}, 1) AS pos,
         unnest({_TOKS}) AS word
  FROM documents
),
e AS (
  SELECT t.doc_id, t.pos,
         COALESCE(w.syms, string_split_regex(t.word, '')) AS seg0
  FROM t LEFT JOIN w{rounds} w USING (word)
),
m AS (
  -- SentencePiece-style word-start marker on the first symbol
  SELECT doc_id, pos,
         list_concat(['▁' || seg0[1]], seg0[2:]) AS seg
  FROM e
),
g AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(seg)) AS BIGINT) AS n_tokens,
         string_agg(array_to_string(seg, '|'), '|' ORDER BY pos)
           AS stream
  FROM m GROUP BY doc_id
)
SELECT g.doc_id, g.n_words, g.n_tokens, g.stream,
       CAST(CASE WHEN substr(replace(replace(g.stream, '|', ''),
                                     '▁', ' '), 2) = d.text
                 THEN 1 ELSE 0 END AS INT) AS rt
FROM g JOIN documents d ON d.doc_id = g.doc_id
"""


SQL_BPE_ENCODE = _sql_bpe_encode()


_PLAN_STORE_ROOT: list[str] = []


def _plan_store_root() -> str:
    """Lazy process-private parquet-store root for the persisted-store
    entries (incremental_bpe's vocab table, ccnet_assign's frozen
    model + boundaries): an 0700 mkdtemp removed at interpreter exit
    (the parquet must survive until the driver COLLECTS the lazy frame,
    so in-function deletion is impossible — atexit is the earliest safe
    point). Not a fixed world-writable /tmp name (r11 ADVICE fix)."""
    if not _PLAN_STORE_ROOT:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="melt_spark_store_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _PLAN_STORE_ROOT.append(root)
    return _PLAN_STORE_ROOT[0]


def q_incremental_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BPE encode (r8 verdict next-round #7, the
    batch-vs-store discipline of incremental_minhash/incremental_knn):
    encode ONLY a new batch against the PERSISTED vocab/merge table —
    the shape a daily-crawl pipeline actually runs: the tokenizer is
    trained once, then every day's crawl is encoded against the frozen
    store. The batch is an id-shifted copy of the corpus with a novel
    trailing token per doc, so the encoder's out-of-vocabulary fallback
    (character segmentation) is exercised on every row; rt certifies
    the round-trip still holds for OOV streams. The vocab store is a
    REAL parquet round-trip (r10, r9 verdict #5 — the ivf write_index
    pattern): bpe_train's table is written to disk and the encoder
    consumes ONLY the re-read frame, so the driver's entry hash
    certifies the store-READ path — the daily-crawl resume shape the
    idempotency pytest proves — not an in-plan retrain. The store path
    is keyed by the Spark applicationId so concurrent drives (the
    judge runs one alongside the driver's) never race on a shared
    file; in production the path is the durable store beside the
    fingerprint store and training NEVER re-enters the encode plan
    (corpus-linear cost in the BATCH only). The store root is a
    process-private tempfile.mkdtemp (0700) removed at interpreter
    exit — not a fixed world-writable /tmp name that accumulates
    across drives and is squattable on a shared box (r11 ADVICE
    fix); the applicationId key still isolates concurrent drives
    sharing one interpreter."""
    from pathlib import Path

    from ..functions.bpe import bpe_decode, bpe_encode, bpe_train

    docs = read_table(spark, sf_dir, "documents")
    _merges, words = bpe_train(docs, rounds=BPE_ROUNDS)
    store = (f"{_plan_store_root()}/bpe/"
             f"{spark.sparkContext.applicationId}/"
             f"{Path(sf_dir).name}")
    words.write.mode("overwrite").parquet(store)      # persist the store
    vocab = spark.read.parquet(store)                 # encode reads DISK
    batch = docs.select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" nv"),
                 (F.col("doc_id") % 5).cast("string")).alias("text"))
    enc = bpe_encode(batch, vocab)
    return (enc.join(batch.select("doc_id", "text"), "doc_id")
            .select("doc_id", "n_words", "n_tokens", "stream",
                    (bpe_decode("stream") == F.col("text")).cast("int")
                    .alias("rt")))


def _sql_incremental_bpe(rounds: int = BPE_ROUNDS) -> str:
    return f"""WITH RECURSIVE {_bpe_chain(rounds)},
nb AS (
  SELECT doc_id + 50000 AS doc_id,
         text || ' nv' || CAST(doc_id % 5 AS VARCHAR) AS text
  FROM documents
),
t AS (
  SELECT doc_id, generate_subscripts({_TOKS}, 1) AS pos,
         unnest({_TOKS}) AS word
  FROM nb
),
e AS (
  SELECT t.doc_id, t.pos,
         COALESCE(w.syms, string_split_regex(t.word, '')) AS seg0
  FROM t LEFT JOIN w{rounds} w USING (word)
),
m AS (
  SELECT doc_id, pos,
         list_concat(['▁' || seg0[1]], seg0[2:]) AS seg
  FROM e
),
g AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(seg)) AS BIGINT) AS n_tokens,
         string_agg(array_to_string(seg, '|'), '|' ORDER BY pos)
           AS stream
  FROM m GROUP BY doc_id
)
SELECT g.doc_id, g.n_words, g.n_tokens, g.stream,
       CAST(CASE WHEN substr(replace(replace(g.stream, '|', ''),
                                     '▁', ' '), 2) = d.text
                 THEN 1 ELSE 0 END AS INT) AS rt
FROM g JOIN nb d ON d.doc_id = g.doc_id
"""


SQL_INCREMENTAL_BPE = _sql_incremental_bpe()


# BPE-pack budget: 3-round BPE tokens are near-character granularity, so
# the budget is ~8x the whitespace-word budget for comparable pack sizes
PACK_BPE_BUDGET = 2048


def q_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing under REAL tokenizer counts: train → encode →
    pack in one plan, so the pack manifest's budget is measured in the
    tokens the training loader actually consumes (pack_sequences'
    whitespace counts are the layout-only approximation). Same greedy
    walk, same Arrow-batched per-group packer."""
    from ..functions.bpe import bpe_encode, bpe_train
    from ..functions.packing import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    _merges, words = bpe_train(docs, rounds=BPE_ROUNDS)
    enc = bpe_encode(docs, words)
    return pack_sequences(enc, budget=PACK_BPE_BUDGET,
                          n_groups=PACK_GROUPS,
                          tokens_col=F.col("n_tokens"))


def _sql_pack_bpe(rounds: int = BPE_ROUNDS) -> str:
    # base MUST be MATERIALIZED: the recursive packer below references
    # it once per chain step, and an inlined base re-derives the ENTIRE
    # BPE train+segment chain each step — measured >5 min at sf0.1 vs
    # seconds materialized (the kcore exponential-inlining lesson)
    return f"""WITH RECURSIVE {_bpe_chain(rounds)},
tok AS (
  SELECT doc_id, unnest({_TOKS}) AS word FROM documents
),
cnt AS MATERIALIZED (
  SELECT tok.doc_id, CAST(SUM(len(w.syms)) AS BIGINT) AS n_tokens
  FROM tok JOIN w{rounds} w USING (word) GROUP BY tok.doc_id
),
base AS MATERIALIZED (
  SELECT doc_id % {PACK_GROUPS} AS grp, doc_id, n_tokens,
         CAST(row_number() OVER (PARTITION BY doc_id % {PACK_GROUPS}
                                 ORDER BY doc_id) AS BIGINT) AS rn
  FROM cnt
),
packed AS (
  SELECT grp, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS pack_id,
         CAST(1 AS BIGINT) AS pack_pos, n_tokens AS fill
  FROM base WHERE rn = 1
  UNION ALL
  SELECT d.grp, d.rn, d.doc_id, d.n_tokens,
    CASE WHEN p.fill + d.n_tokens <= {PACK_BPE_BUDGET}
         THEN p.pack_id ELSE p.pack_id + 1 END,
    CASE WHEN p.fill + d.n_tokens <= {PACK_BPE_BUDGET}
         THEN p.pack_pos + 1 ELSE CAST(1 AS BIGINT) END,
    CASE WHEN p.fill + d.n_tokens <= {PACK_BPE_BUDGET}
         THEN p.fill + d.n_tokens ELSE d.n_tokens END
  FROM packed p JOIN base d ON d.grp = p.grp AND d.rn = p.rn + 1
)
SELECT grp, doc_id, n_tokens, pack_id, pack_pos FROM packed
"""


SQL_PACK_BPE = _sql_pack_bpe()


def q_postings_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index layout costing (functions/retrieval.py
    postings_stats): per-term varint-encoded postings sizes (doc-id gaps +
    position gaps) vs the raw 8-byte baseline."""
    from ..functions.retrieval import postings_stats

    docs = read_table(spark, sf_dir, "documents")
    return postings_stats(docs)


def _sql_postings() -> str:
    vb = lambda g: f"(length(to_base({g}, 2)) + 6) // 7"
    return f"""
WITH ex AS (
  SELECT doc_id AS doc, tk[g.i] AS term, g.i AS pos
  FROM (SELECT doc_id, {_TOKS} AS tk FROM documents) t,
       unnest(generate_series(1, len(tk))) AS g(i)
),
td AS (
  SELECT term, doc, COUNT(*) AS tf, list(pos ORDER BY pos) AS ps
  FROM ex GROUP BY term, doc
),
td2 AS (
  SELECT term, tf,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(generate_series(1, len(ps)),
        i -> {vb("ps[i] - CASE WHEN i = 1 THEN 0 ELSE ps[i-1] END")})),
      (a, b) -> a + b) AS pos_bytes,
    {vb("doc - coalesce(lag(doc) OVER "
        "(PARTITION BY term ORDER BY doc), 0)")} AS doc_bytes
  FROM td
),
agg AS (
  SELECT term, COUNT(*) AS df, SUM(tf) AS total_tf,
         SUM(doc_bytes) AS doc_gap_bytes, SUM(pos_bytes) AS pos_gap_bytes
  FROM td2 GROUP BY term
)
SELECT term, CAST(df AS BIGINT) AS df, CAST(total_tf AS BIGINT) AS total_tf,
  CAST(doc_gap_bytes AS BIGINT) AS doc_gap_bytes,
  CAST(pos_gap_bytes AS BIGINT) AS pos_gap_bytes,
  CAST((df + total_tf) * 8 AS DOUBLE)
    / CAST(doc_gap_bytes + pos_gap_bytes AS DOUBLE) AS compression
FROM agg
"""


SQL_POSTINGS_STATS = _sql_postings()


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based dataset mixture weighting (the multi-source
    sampling-ratio computation behind multilingual/multi-corpus training
    mixes — Conneau & Lample's alpha-smoothed sampling, NeurIPS 2019):
    w_s ∝ n_s^alpha with alpha = 0.5, which up-weights small sources
    relative to proportional sampling. sqrt is IEEE-exact, and the
    normalizer folds per-source sqrt terms in source order from 0.0
    (sources are a human-scale list — the fold is driver-free but tiny),
    so weights are hash-exact at round(9).

    Output per source: n_docs, n_tokens, weight, expected_tokens (the
    per-epoch token budget w_s * total, floored)."""
    docs = read_table(spark, sf_dir, "documents")
    s = (docs.groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum(F.size(F.split("text", " "))).alias("n_tokens")))
    tot = s.agg(
        F.aggregate(
            F.array_sort(F.collect_list(
                F.struct("source",
                         F.sqrt(F.col("n_tokens").cast("double"))
                         .alias("r")))),
            F.lit(0.0), lambda acc, x: acc + x["r"]).alias("z"),
        F.sum("n_tokens").alias("t"))
    w = F.sqrt(F.col("n_tokens").cast("double")) / F.col("z")
    return (s.crossJoin(F.broadcast(tot))
            .select("source", "n_docs", "n_tokens",
                    F.round(w, 9).alias("weight"),
                    F.floor(w * F.col("t").cast("double")).cast("bigint")
                    .alias("expected_tokens")))


SQL_MIXTURE_WEIGHTS = f"""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len({_TOKS})) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT list_reduce(list_prepend(
           0.0, list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
           (a, b) -> a + b) AS z,
         SUM(n_tokens) AS t
  FROM s
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  round(sqrt(CAST(n_tokens AS DOUBLE)) / tot.z, 9) AS weight,
  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) / tot.z
             * CAST(tot.t AS DOUBLE)) AS BIGINT) AS expected_tokens
FROM s, tot
"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by TF-IDF (functions/retrieval.py
    tfidf_topk_terms): idf scaled to an integer once (idf_e9), so every
    downstream score/rank/hash is exact BIGINT arithmetic."""
    from ..functions.retrieval import tfidf_topk_terms

    docs = read_table(spark, sf_dir, "documents")
    return tfidf_topk_terms(docs, k=3)


SQL_TFIDF_KEYWORDS = f"""
WITH tf AS (
  SELECT doc_id, u.tok AS term, COUNT(*) AS tf
  FROM documents, unnest({_TOKS}) AS u(tok)
  GROUP BY doc_id, u.tok
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf,
         t.tf * CAST(round(ln(CAST(nd.n_docs AS DOUBLE)
                              / CAST(d.df AS DOUBLE)) * 1e9) AS BIGINT)
           AS score_e9
  FROM tf t JOIN dfreq d USING (term), nd
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score_e9,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY score_e9 DESC, term) AS INT) AS rank
FROM scored QUALIFY rank <= 3
"""


def q_bq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN (functions/similarity.py binary_topk):
    sign-bit signatures (two 32-bit words), Hamming-ranked top-30
    candidates for queries vec_id < 5, exact-cosine re-rank to top-10."""
    from ..functions.similarity import binary_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return binary_topk(emb, emb.filter(F.col("vec_id") < 5).limit(5),
                       k=10, n_cand=30)


def _bq_word_sql(lo: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN v[{lo + i}] > 0 THEN CAST({1 << i} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)" for i in range(32))
    return f"({terms})"


SQL_BQ_RERANK = f"""
WITH v_t AS (SELECT vec_id, {_DVEC} AS v FROM embeddings),
sig AS (
  SELECT vec_id, {_bq_word_sql(1)} AS w0, {_bq_word_sql(33)} AS w1
  FROM v_t
),
q AS (SELECT vec_id AS query_id, w0 AS qw0, w1 AS qw1
      FROM sig WHERE vec_id < 5),
cand AS (
  SELECT query_id, s.vec_id AS neighbor_id,
         bit_count(xor(qw0, s.w0)) + bit_count(xor(qw1, s.w1)) AS hamming
  FROM q, sig s WHERE s.vec_id <> query_id
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY hamming, s.vec_id) <= 30
),
rer AS (
  SELECT c.query_id, c.neighbor_id, c.hamming,
         {_dot_sql('qt.v', 'ct.v')}
           / (sqrt({_dot_sql('qt.v', 'qt.v')})
              * sqrt({_dot_sql('ct.v', 'ct.v')})) AS cos
  FROM cand c
  JOIN v_t qt ON qt.vec_id = c.query_id
  JOIN v_t ct ON ct.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, hamming, cos,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS INT)
         AS rank
FROM rer QUALIFY rank <= 10
"""


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-5 (functions/retrieval.py mmr_rerank) over the
    exact cosine top-20 candidates for queries vec_id < 5; lam=0.7,
    mu=0.3 as independent literals (1-0.7 is not 0.3 in IEEE)."""
    from ..functions.retrieval import mmr_rerank

    emb = read_table(spark, sf_dir, "embeddings")
    return mmr_rerank(emb, emb.filter(F.col("vec_id") < 5).limit(5),
                      k=5, n_cand=20)


def _mmr_sql(k: int = 5, n_cand: int = 20) -> str:
    """Unrolled greedy MMR oracle: one MATERIALIZED CTE pair per round
    (the kcore exponential-inlining lesson — round r references round
    r-1 twice, so inlining would re-derive the base 2^k times)."""
    cos = (f"{_dot_sql('qt.v', 'ct.v')}"
           f" / (sqrt({_dot_sql('qt.v', 'qt.v')})"
           f" * sqrt({_dot_sql('ct.v', 'ct.v')}))")
    parts = [f"""
WITH v_t AS (SELECT vec_id, {_DVEC} AS v FROM embeddings),
rel AS MATERIALIZED (
  SELECT qt.vec_id AS query_id, ct.vec_id AS id, {cos} AS rel
  FROM v_t qt, v_t ct
  WHERE qt.vec_id < 5 AND ct.vec_id <> qt.vec_id
  QUALIFY row_number() OVER (PARTITION BY qt.vec_id
                             ORDER BY rel DESC, ct.vec_id) <= {n_cand}
),
cva AS (SELECT r.query_id, r.id, v_t.v FROM rel r
        JOIN v_t ON v_t.vec_id = r.id),
pw AS MATERIALIZED (
  SELECT qt.query_id, qt.id AS a, ct.id AS b,
         {_dot_sql('qt.v', 'ct.v')}
           / (sqrt({_dot_sql('qt.v', 'qt.v')})
              * sqrt({_dot_sql('ct.v', 'ct.v')})) AS s
  FROM cva qt JOIN cva ct
    ON ct.query_id = qt.query_id AND ct.id <> qt.id
),
sel1 AS MATERIALIZED (
  SELECT query_id, id, 1 AS pick, 0.7 * rel AS score
  FROM rel
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY rel DESC, id) = 1
),
cum1 AS MATERIALIZED (SELECT query_id, id FROM sel1)"""]
    for r in range(2, k + 1):
        parts.append(f""",
mx{r} AS (
  SELECT p.query_id, p.a AS id, max(p.s) AS mx
  FROM pw p JOIN cum{r - 1} s
    ON s.query_id = p.query_id AND s.id = p.b
  GROUP BY 1, 2
),
sel{r} AS MATERIALIZED (
  SELECT c.query_id, c.id, {r} AS pick,
         0.7 * c.rel - 0.3 * m.mx AS score
  FROM rel c
  JOIN mx{r} m ON m.query_id = c.query_id AND m.id = c.id
  LEFT JOIN cum{r - 1} t ON t.query_id = c.query_id AND t.id = c.id
  WHERE t.id IS NULL
  QUALIFY row_number() OVER (PARTITION BY c.query_id
                             ORDER BY score DESC, c.id) = 1
),
cum{r} AS MATERIALIZED (
  SELECT query_id, id FROM cum{r - 1}
  UNION ALL SELECT query_id, id FROM sel{r}
)""")
    union = "\nUNION ALL ".join(
        f"SELECT query_id, id AS neighbor_id, pick, score FROM sel{r}"
        for r in range(1, k + 1))
    parts.append("\n" + union)
    return "".join(parts)


SQL_MMR_RERANK = _mmr_sql()


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by PMI (functions/text.py
    pmi_collocations, Church & Hanks 1990): one ln per surviving bigram
    TYPE, scaled to integer pmi_e9 so ranking and hashing are exact."""
    from ..functions.text import pmi_collocations

    docs = read_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, k=20)


SQL_PMI_COLLOCATIONS = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
bi AS (
  SELECT u.p[1] AS a, u.p[2] AS b, COUNT(*) AS c_ab
  FROM t, unnest(list_transform(range(1, len(toks)),
                                i -> [toks[i], toks[i+1]])) AS u(p)
  WHERE len(toks) >= 2
  GROUP BY 1, 2
),
uni AS (
  SELECT u.tok, COUNT(*) AS c
  FROM t, unnest(toks) AS u(tok) GROUP BY 1
),
tot AS (
  SELECT (SELECT SUM(c) FROM uni) AS n_tokens,
         (SELECT SUM(c_ab) FROM bi) AS n_bigrams
),
scored AS (
  SELECT bi.a || ' ' || bi.b AS bigram, bi.c_ab,
         CAST(round(ln(
             (CAST(bi.c_ab AS DOUBLE) * CAST(tot.n_tokens AS DOUBLE))
             / (CAST(tot.n_bigrams AS DOUBLE) * CAST(ua.c AS DOUBLE))
             * (CAST(tot.n_tokens AS DOUBLE) / CAST(ub.c AS DOUBLE))
           ) * 1e9) AS BIGINT) AS pmi_e9
  FROM bi
  JOIN uni ua ON ua.tok = bi.a
  JOIN uni ub ON ub.tok = bi.b, tot
  WHERE bi.c_ab >= 5
),
ranked AS (
  SELECT bigram, CAST(c_ab AS BIGINT) AS c_ab, pmi_e9,
         CAST(row_number() OVER (ORDER BY pmi_e9 DESC, bigram) AS INT)
           AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 20
"""


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-fixed-point Lloyd k-means (functions/kmeans.py), 8
    clusters seeded from vec_id < 8, 2 pinned iterations — per-cluster
    membership count, integer SSE and the first two centroid
    components."""
    from ..functions.kmeans import kmeans_train

    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_train(emb, n_clusters=8, iters=2)


def _kmeans_sql(k: int = 8, iters: int = 2, dims: int = 64,
                final: str | None = None) -> str:
    """Unrolled Lloyd oracle: per iteration one assignment CTE (argmin
    by (dist, cid)) and one centroid-update CTE; MATERIALIZED per the
    kcore inlining lesson. Empty clusters keep their previous centroid
    (LEFT JOIN + COALESCE per dimension)."""
    d = (f"list_reduce(list_transform(generate_series(1, {dims}),"
         " i -> (t.q[i] - c.c[i]) * (t.q[i] - c.c[i])), (x, y) -> x + y)")
    parts = [f"""
WITH q_t AS MATERIALIZED (
  SELECT vec_id AS id,
         list_transform({_DVEC},
                        x -> CAST(floor((x + 16.0) * 1000000.0 + 0.5)
                                  AS BIGINT)) AS q
  FROM embeddings
),
cc0 AS MATERIALIZED (
  SELECT CAST(id AS INT) AS cid, q AS c FROM q_t WHERE id < {k}
)"""]
    for r in range(1, iters + 2):      # iters updates + 1 final assign
        parts.append(f""",
a{r} AS MATERIALIZED (
  SELECT id, q, cid, dist FROM (
    SELECT t.id, t.q, c.cid, {d} AS dist
    FROM q_t t, cc{r - 1} c
  ) s
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist, cid) = 1
)""")
        if r <= iters:
            parts.append(f""",
s{r} AS (
  SELECT cid, g.i AS i, SUM(q[g.i]) AS s, COUNT(*) AS n
  FROM a{r}, generate_series(1, {dims}) g(i) GROUP BY cid, g.i
),
cc{r} AS MATERIALIZED (
  SELECT p.cid,
         -- SUM of BIGINT is HUGEINT in DuckDB (degrades to float64 on
         -- the driver's pandas path) — pin every component to BIGINT
         list(CAST(CASE WHEN s.n IS NULL THEN p.c[g.i]
                        ELSE s.s // s.n END AS BIGINT)
              ORDER BY g.i) AS c
  FROM cc{r - 1} p
  CROSS JOIN generate_series(1, {dims}) g(i)
  LEFT JOIN s{r} s ON s.cid = p.cid AND s.i = g.i
  GROUP BY p.cid
)""")
    if final is None:
        final = f""",
st AS (
  SELECT cid, COUNT(*) AS n_assigned, SUM(dist) AS sse
  FROM a{iters + 1} GROUP BY cid
)
SELECT c.cid, CAST(COALESCE(st.n_assigned, 0) AS BIGINT) AS n_assigned,
       CAST(COALESCE(st.sse, 0) AS BIGINT) AS sse,
       CAST(c.c[1] AS BIGINT) AS c1, CAST(c.c[2] AS BIGINT) AS c2
FROM cc{iters} c LEFT JOIN st USING (cid)"""
    parts.append(final)
    return "".join(parts)


SQL_KMEANS_TRAIN = _kmeans_sql()

# same trained chain, different final: the top-20 farthest-from-centroid
# vectors (functions/kmeans.py kmeans_outliers) — dist desc, id asc
SQL_KMEANS_OUTLIERS = _kmeans_sql(final="""
SELECT id AS vec_id, cid, CAST(dist AS BIGINT) AS dist
FROM a3 ORDER BY dist DESC, id LIMIT 20""")


WATERFILL_BUDGET, WATERFILL_CAP = 50_000, 4


def q_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min-fair token budget allocation across sources
    (functions/cleaning.py budget_waterfill): 50k-token budget, 4-epoch
    cap — the mixture-under-budget complement of the temperature
    weights."""
    from ..functions.cleaning import budget_waterfill
    from ..functions.text import tokens

    docs = (read_table(spark, sf_dir, "documents")
            .select("source", F.size(tokens("text")).alias("n_toks")))
    return budget_waterfill(docs, budget=WATERFILL_BUDGET,
                            cap_epochs=WATERFILL_CAP,
                            weight_col="n_toks")


SQL_WATERFILL = f"""
WITH srcs AS (
  SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
r AS (
  SELECT source, n_tokens,
         n_tokens * {WATERFILL_CAP} AS u,
         row_number() OVER (ORDER BY n_tokens * {WATERFILL_CAP}, source)
           AS rn,
         SUM(n_tokens * {WATERFILL_CAP}) OVER (
           ORDER BY n_tokens * {WATERFILL_CAP}, source
           ROWS UNBOUNDED PRECEDING) AS prefix,
         COUNT(*) OVER () AS n
  FROM srcs
),
k AS (
  SELECT COALESCE(MAX(rn), 0) AS k, COALESCE(MAX(prefix), 0) AS pk
  FROM r WHERE u * (n - rn + 1) <= {WATERFILL_BUDGET} - (prefix - u)
)
SELECT source, n_tokens, CAST(u AS BIGINT) AS cap_tokens,
       CAST(CASE WHEN rn <= k.k THEN u
            ELSE ({WATERFILL_BUDGET} - k.pk) // (n - k.k) END AS BIGINT)
         AS alloc_tokens
FROM r CROSS JOIN k
"""


def q_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus diversity profile (functions/text.py
    diversity_profile): TTR + distinct-3 ppm and the Zipf slope over the
    top-100 token types."""
    from ..functions.text import diversity_profile

    docs = read_table(spark, sf_dir, "documents")
    return diversity_profile(docs, top_r=100)


def _diversity_sql(top_r: int = 100) -> str:
    gram = ("list_transform(range(1, len(toks) - 1),"
            " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])")

    def fold(term: str) -> str:
        return ("list_reduce(list_prepend(0.0, list_transform(rc,"
                f" s -> {term})), (a, b) -> a + b)")

    lnr, lnc = "ln(CAST(s.r AS DOUBLE))", "ln(CAST(s.c AS DOUBLE))"
    return f"""
WITH tok AS MATERIALIZED (
  SELECT source, unnest({_TOKS}) AS tok FROM documents
),
tc AS MATERIALIZED (
  SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
),
ps AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM tc GROUP BY source
),
tri AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tri,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS d_tri
  FROM (SELECT source, unnest({gram}) AS g
        FROM (SELECT source, {_TOKS} AS toks FROM documents)
        WHERE len(toks) >= 3)
  GROUP BY source
),
top AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, tok) AS r
  FROM tc QUALIFY r <= {top_r}
),
f AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS nr,
         list(struct_pack(r := r, c := c) ORDER BY r) AS rc
  FROM top GROUP BY source
),
sl AS (
  SELECT source, nr,
         {fold(lnr)} AS sx, {fold(lnc)} AS sy,
         {fold(f"{lnr} * {lnc}")} AS sxy,
         {fold(f"{lnr} * {lnr}")} AS sxx
  FROM f
)
SELECT ps.source, n_tokens,
       CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_e6,
       CAST(d_tri * 1000000 // n_tri AS BIGINT) AS distinct3_e6,
       round((nr * sxy - sx * sy) / (nr * sxx - sx * sx), 9)
         AS zipf_slope
FROM ps JOIN tri USING (source) JOIN sl USING (source)
"""


SQL_DIVERSITY = _diversity_sql()


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (functions/text.py winnow_fingerprints,
    the MOSS algorithm): k=4 grams, window w=5, rightmost-min rule —
    every selected (pos, fp) row, zero shuffles."""
    from ..functions.text import winnow_fingerprints

    docs = read_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=4, w=5)



def _winnow_sql(k: int = 4, w: int = 5) -> str:
    pack = 1 << 48
    gram = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]"
                              for j in range(k))
    hex12 = ("list_reduce(list_transform(string_split_regex("
             f"substr(md5({gram}), 1, 12), ''), "
             "c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),"
             " (a,b) -> a*16+b)")
    red = (f"(a, b) -> CASE WHEN b % {pack} <= a % {pack}"
           " THEN b ELSE a END")
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - {k - 1}),
           i -> CAST(i AS BIGINT) * {pack} + {hex12}) AS grams
  FROM t WHERE len(toks) >= {k}
),
p AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(grams) >= {w} THEN
      list_transform(generate_series(1, len(grams) - {w - 1}),
        j -> list_reduce(grams[j:j+{w - 1}], {red}))
    ELSE [list_reduce(grams, {red})]
    END) AS picks
  FROM g
)
SELECT doc_id, u.pk // {pack} AS pos, u.pk % {pack} AS fp
FROM p, unnest(picks) AS u(pk)
"""


SQL_WINNOW = _winnow_sql()


def q_kmeans_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-outlier gate (functions/kmeans.py kmeans_outliers): the
    20 vectors farthest from their trained centroid — exact integer
    distances, TakeOrdered top-N."""
    from ..functions.kmeans import kmeans_outliers

    emb = read_table(spark, sf_dir, "embeddings")
    return kmeans_outliers(emb, n_clusters=8, iters=2, top_n=20)


def q_greedy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage selection (functions/cleaning.py
    greedy_coverage): 3 rounds over distinct 3-grams — the coverage-
    driven subset-selection complement of DSIR's importance weighting."""
    from ..functions.cleaning import greedy_coverage

    docs = read_table(spark, sf_dir, "documents")
    return greedy_coverage(docs, k=3, n=3)


def _coverage_sql(k: int = 3) -> str:
    gram = ("list_transform(range(1, len(toks) - 1),"
            " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])")
    parts = [f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS MATERIALIZED (
  SELECT DISTINCT doc_id AS id, u.ng AS g
  FROM t, unnest({gram}) AS u(ng)
  WHERE len(toks) >= 3
),
gain1 AS (SELECT id, COUNT(*) AS gain FROM g GROUP BY id),
p1 AS MATERIALIZED (
  SELECT 1 AS pick, id, gain FROM gain1 ORDER BY gain DESC, id LIMIT 1
),
cov1 AS MATERIALIZED (
  SELECT DISTINCT g.g FROM g JOIN p1 USING (id)
)"""]
    for r in range(2, k + 1):
        parts.append(f""",
avail{r} AS (
  SELECT g.id, g.g FROM g LEFT JOIN cov{r - 1} c ON c.g = g.g
  WHERE c.g IS NULL
),
gain{r} AS (SELECT id, COUNT(*) AS gain FROM avail{r} GROUP BY id),
p{r} AS MATERIALIZED (
  SELECT {r} AS pick, id, gain FROM gain{r} ORDER BY gain DESC, id
  LIMIT 1
),
cov{r} AS MATERIALIZED (
  SELECT g FROM cov{r - 1}
  UNION SELECT g.g FROM g JOIN p{r} USING (id)
)""")
    union = "\n  UNION ALL ".join(
        f"SELECT pick, id, gain FROM p{r}" for r in range(1, k + 1))
    parts.append(f"""
SELECT pick, id AS doc_id, CAST(gain AS BIGINT) AS gain,
       CAST(SUM(gain) OVER (ORDER BY pick) AS BIGINT) AS covered_total
FROM ({union}) u""")
    return "".join(parts)


SQL_GREEDY_COVERAGE = _coverage_sql()


def q_pareto_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier (skyline) selection (functions/cleaning.py
    pareto_front, Börzsönyi et al. ICDE 2001), two branches: documents
    un-dominated on length × lexical diversity (the "keep only
    un-dominated documents" quality gate — the fixture corpus correlates
    the two, so this frontier is small), and orders un-dominated on
    total price × recency (independent dims — a frontier with real
    depth, the machinery's actual exercise). Distributed via the
    exclusive running max over x DESC (util.global_order_scan
    cummax_excl), NOT the quadratic NOT-EXISTS self-join the oracle
    restates."""
    from ..functions.cleaning import pareto_front

    docs = read_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("x"),
        F.size(F.array_distinct(F.split("text", " "))).alias("y"))
    d = pareto_front(feats, "x", "y", "doc_id") \
        .select(F.lit("docs").alias("kind"), "x", "y", "n_points",
                "min_id")

    orders = read_table(spark, sf_dir, "orders")
    ofeats = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
        F.col("o_orderdate").cast("long").alias("y"))
    o = pareto_front(ofeats, "x", "y", "o_orderkey") \
        .select(F.lit("orders").alias("kind"), "x", "y", "n_points",
                "min_id")
    return d.unionByName(o)


def _pareto_sql(src: str, kind: str) -> str:
    return f"""
SELECT * FROM (
WITH pts AS (
  SELECT x, y, COUNT(*) AS n_points, MIN(id) AS min_id
  FROM ({src}) GROUP BY x, y
)
SELECT '{kind}' AS kind, x, y, n_points, min_id
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
) AS pf_{kind}"""


SQL_PARETO_DOCS = "\nUNION ALL\n".join([
    _pareto_sql(f"SELECT doc_id AS id, len({_TOKS}) AS x,"
                f" len(list_distinct({_TOKS})) AS y FROM documents",
                "docs"),
    _pareto_sql("SELECT o_orderkey AS id,"
                " CAST(round(o_totalprice * 100) AS BIGINT) AS x,"
                " CAST(floor(epoch(o_orderdate)) AS BIGINT) AS y"
                " FROM orders", "orders"),
])


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-coefficient near-dup pairs (functions/dedup.py
    containment_pairs): |A∩B| / min(|A|,|B|) >= 0.9 — the asymmetric
    doc-inside-doc detector Jaccard misses; same capped inverted-index
    candidate machinery as q_dedup_jaccard."""
    from ..functions.dedup import containment_pairs

    docs = read_table(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.9, max_df=MAX_SHINGLE_DF)


SQL_CONTAINMENT = f"""
WITH {_CAPPED_SHINGLES_CTE},
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(c AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(c AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.9
"""


def q_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup leakage matrix (functions/dedup.py
    cross_source_leakage) over the capped-Jaccard pair list at 0.8 —
    which corpus pairs bleed into each other."""
    from ..functions.dedup import cross_source_leakage, jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.8, max_df=MAX_SHINGLE_DF)
    return cross_source_leakage(docs, pairs)


SQL_LEAKAGE = f"""
WITH pairs AS ({SQL_DEDUP_JACCARD}),
j AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b,
         p.jaccard
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
  WHERE da.source <> db.source
)
SELECT source_a, source_b, COUNT(*) AS n_pairs,
       MAX(jaccard) AS max_sim
FROM j GROUP BY 1, 2
"""


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial NB source classifier (functions/classify.py), trained
    and scored on the corpus in one plan — per doc the argmax label and
    its integer nano-nat score (the fastText-gate stand-in)."""
    from ..functions.classify import nb_classify, nb_model

    docs = read_table(spark, sf_dir, "documents")
    model, labels = nb_model(docs)
    pred = nb_classify(docs, model, labels)
    actual = docs.select(F.col("doc_id").alias("id"),
                         F.col("source").alias("actual"))
    return (pred.join(actual, "id")
            .select(F.col("id").alias("doc_id"), "actual", "predicted",
                    "score_nano"))


# the shared NB score-table CTE chain: everything through the full
# (doc, label) score matrix — consumed by both the argmax classifier
# oracle (SQL_NB_CLASSIFY) and the calibration oracle (SQL_NB_CALIBRATION)
def _nb_scores_body(train_pred: str = "TRUE",
                    feat_sql: str | None = None,
                    label_sql: str = "source") -> str:
    """The shared NB train+score CTE chain. ``train_pred`` restricts the
    TRAINING corpus (counts, vocabulary, priors) to matching documents;
    the oracle scores every document and filters downstream (DuckDB
    materializes the CTEs once, so the extra rows are free here), while
    the Spark side scores only the docs it will consume — identical on
    every row either side actually reads. ``feat_sql``/``label_sql``
    parameterize the feature extractor and label column (r11: langid
    reuses the whole chain with char trigrams and the lang label)."""
    feat = feat_sql if feat_sql is not None else f"unnest({_TOKS})"
    return f"""tok AS MATERIALIZED (
  SELECT doc_id, {label_sql} AS source, {feat} AS tok FROM documents
),
tok_tr AS MATERIALIZED (
  SELECT * FROM tok WHERE {train_pred}
),
c AS MATERIALIZED (
  SELECT source AS label, tok, COUNT(*) AS c FROM tok_tr GROUP BY 1, 2
),
ns AS MATERIALIZED (
  SELECT label, CAST(SUM(c) AS BIGINT) AS n_s FROM c GROUP BY label
),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM c),
model AS MATERIALIZED (
  SELECT label, tok,
         CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE))
                    * 1000000000.0) AS BIGINT)
       - CAST(round(ln(1.0 / CAST(n_s + v AS DOUBLE))
                    * 1000000000.0) AS BIGINT) AS delta
  FROM c JOIN ns USING (label) CROSS JOIN v
),
nd AS (SELECT {label_sql} AS label, COUNT(*) AS n_docs FROM documents
       WHERE {train_pred} GROUP BY 1),
lab AS MATERIALIZED (
  SELECT label,
         CAST(round(ln(CAST(n_docs AS DOUBLE)
                       / (SELECT CAST(SUM(n_docs) AS DOUBLE) FROM nd))
                    * 1000000000.0) AS BIGINT) AS prior_nano,
         CAST(round(ln(1.0 / CAST(n_s + v AS DOUBLE))
                    * 1000000000.0) AS BIGINT) AS miss_nano
  FROM nd JOIN ns USING (label) CROSS JOIN v
),
dt AS MATERIALIZED (
  SELECT doc_id, tok, COUNT(*) AS c_dt FROM tok GROUP BY 1, 2
),
lens AS (
  SELECT d.doc_id, COALESCE(SUM(dt.c_dt), 0) AS len_d
  FROM documents d LEFT JOIN dt ON dt.doc_id = d.doc_id
  GROUP BY d.doc_id
),
seen AS MATERIALIZED (
  SELECT dt.doc_id, m.label, SUM(dt.c_dt * m.delta) AS s
  FROM dt JOIN model m USING (tok) GROUP BY 1, 2
),
scores AS (
  SELECT l.doc_id, lab.label,
         CAST(lab.prior_nano + l.len_d * lab.miss_nano
              + COALESCE(seen.s, 0) AS BIGINT) AS score_nano
  FROM lens l CROSS JOIN lab
  LEFT JOIN seen ON seen.doc_id = l.doc_id AND seen.label = lab.label
),
pred AS (
  SELECT doc_id, label AS predicted, score_nano
  FROM scores
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY score_nano DESC, label) = 1
)"""


_NB_SCORES_BODY = _nb_scores_body()

_CHAR3_SQL = ("unnest(list_transform(generate_series(1,"
              " length(lower(text)) - 2),"
              " i -> substring(lower(text), i, 3)))")


def q_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID (functions/classify.py
    langid_ngram; Cavnar & Trenkle SDAIR 1994 — the n-gram langid
    heuristic SURVEY §2's text-analysis battery lists): the NB chain
    over char trigrams, trained on docs with doc_id % 5 != 0 against
    the fixture's lang labels, evaluated per-doc on the held-out
    slice with the correctness flag in-band. (The synthetic fixture's
    text carries little true language signal — the constituent
    certifies determinism and cross-engine parity of the full
    train+score chain; the discrimination property is pinned on a real
    multilingual micro-corpus in tests/test_classify.py.)"""
    from ..functions.classify import langid_ngram

    docs = read_table(spark, sf_dir, "documents")
    return langid_ngram(docs)


SQL_LANGID_NGRAM = f"""
WITH {_nb_scores_body("doc_id % 5 <> 0", _CHAR3_SQL, "lang")}
SELECT p.doc_id, d.lang, p.predicted, p.score_nano,
       CAST(CASE WHEN p.predicted = d.lang THEN 1 ELSE 0 END AS INT)
         AS correct
FROM pred p JOIN documents d USING (doc_id)
WHERE p.doc_id % 5 = 0
"""

SQL_NB_CLASSIFY = f"""
WITH {_NB_SCORES_BODY}
SELECT p.doc_id, d.source AS actual, p.predicted, p.score_nano
FROM pred p JOIN documents d USING (doc_id)
"""


def q_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins + ECE for the self-trained NB classifier
    (functions/classify.py nb_calibration, Guo et al. ICML 2017) — the
    model-evaluation row a production quality gate publishes next to its
    confusion matrix: per confidence decile, stated confidence vs
    observed accuracy, plus the bin=-1 ECE/overall summary. Softmax exp
    terms fold over a sorted per-doc label array; everything after the
    single e6 rounding is exact integer arithmetic."""
    from ..functions.classify import nb_calibration

    docs = read_table(spark, sf_dir, "documents")
    return nb_calibration(docs)


SQL_NB_CALIBRATION = f"""
WITH {_NB_SCORES_BODY},
mx AS (SELECT doc_id, MAX(score_nano) AS mx FROM scores GROUP BY 1),
zt AS (
  SELECT s.doc_id,
         list_reduce(list_prepend(0.0,
           list(exp(CAST(s.score_nano - mx.mx AS DOUBLE) / 1000000000.0)
                ORDER BY s.label)),
           (a, b) -> a + b) AS z
  FROM scores s JOIN mx ON mx.doc_id = s.doc_id
  GROUP BY s.doc_id
),
confs AS (SELECT doc_id, CAST(round(1000000.0 / z) AS BIGINT) AS conf_e6
          FROM zt),
pd AS (
  SELECT c.conf_e6,
         CASE WHEN p.predicted = d.source THEN 1 ELSE 0 END AS ok,
         least(c.conf_e6 // 100000, 9) AS bin
  FROM confs c JOIN pred p USING (doc_id) JOIN documents d
    USING (doc_id)
),
bins AS (
  SELECT CAST(bin AS INT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ok) AS BIGINT) AS n_correct,
         CAST(SUM(conf_e6) // COUNT(*) AS BIGINT) AS conf_ppm,
         CAST(SUM(ok) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
  FROM pd GROUP BY bin
),
summary AS (
  SELECT CAST(-1 AS INT) AS bin, CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(n_correct) AS BIGINT) AS n_correct,
         CAST(SUM(abs(acc_ppm - conf_ppm) * n) // SUM(n) AS BIGINT)
           AS conf_ppm,
         CAST(SUM(n_correct) * 1000000 // SUM(n) AS BIGINT) AS acc_ppm
  FROM bins
)
SELECT * FROM bins UNION ALL SELECT * FROM summary
"""


def q_nb_abstain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-classification curve (functions/classify.py nb_abstain,
    Chow 1970): accuracy vs coverage when the classifier abstains below
    a top1−top2 margin threshold — the reject-option a production
    quality gate runs before trusting a label. Margins are differences
    of exact BIGINT nano-nats: no transcendental anywhere, the whole
    curve is integer arithmetic."""
    from ..functions.classify import nb_abstain

    docs = read_table(spark, sf_dir, "documents")
    return nb_abstain(docs)


SQL_NB_ABSTAIN = f"""
WITH {_NB_SCORES_BODY},
top2 AS (
  SELECT doc_id, label, score_nano,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_nano DESC, label) AS rn
  FROM scores
  QUALIFY rn <= 2
),
pd AS (
  SELECT doc_id, arg_min(label, rn) AS predicted,
         MAX(score_nano) - MIN(score_nano) AS margin
  FROM top2 GROUP BY doc_id
),
md AS (
  SELECT p.margin,
         CASE WHEN p.predicted = d.source THEN 1 ELSE 0 END AS ok
  FROM pd p JOIN documents d USING (doc_id)
),
tot AS (SELECT COUNT(*) AS n_total FROM md),
thr AS (SELECT unnest([0, 100000000, 250000000, 500000000,
                       1000000000, 2000000000]) AS thr_nano)
SELECT CAST(t.thr_nano AS BIGINT) AS thr_nano,
       CAST(SUM(CASE WHEN m.margin >= t.thr_nano THEN 1 ELSE 0 END)
            AS BIGINT) AS n_covered,
       CAST(SUM(CASE WHEN m.margin >= t.thr_nano THEN m.ok ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN m.margin >= t.thr_nano THEN 1 ELSE 0 END)
            * 1000000 // MAX(tot.n_total) AS BIGINT) AS coverage_ppm,
       CAST(CASE WHEN SUM(CASE WHEN m.margin >= t.thr_nano THEN 1
                              ELSE 0 END) > 0
                 THEN SUM(CASE WHEN m.margin >= t.thr_nano THEN m.ok
                              ELSE 0 END) * 1000000
                      // SUM(CASE WHEN m.margin >= t.thr_nano THEN 1
                                 ELSE 0 END)
                 ELSE -1 END AS BIGINT) AS acc_ppm
FROM md m CROSS JOIN thr t CROSS JOIN tot
GROUP BY t.thr_nano
"""


def q_conformal_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction sets (functions/classify.py
    conformal_nb): disjoint three-way salted-hash split — train NB on
    the 60%% band, calibrate the α=0.1 nonconformity quantile on the
    held-out 20%%, emit per-set-size counts + empirical coverage over
    the DISJOINT 20%% test band (docs the model never saw, so the
    distribution-free guarantee applies to the reported coverage) —
    beside the abstention curve."""
    from ..functions.classify import conformal_nb

    docs = read_table(spark, sf_dir, "documents")
    return conformal_nb(docs)


def _sql_conformal() -> str:
    bkt = _hex_int_sql("'cp:' || CAST(doc_id AS VARCHAR)") + " % 100"
    return f"""
WITH {_nb_scores_body(f"({bkt}) >= 40")},
cal AS (
  SELECT s.doc_id AS id, -s.score_nano AS nc
  FROM scores s JOIN documents d
    ON d.doc_id = s.doc_id AND d.source = s.label
  WHERE ({bkt.replace('doc_id', 's.doc_id')}) < 20
),
kk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
         LEAST((9 * (COUNT(*) + 1) + 9) // 10, COUNT(*)) AS k
  FROM cal
),
qh AS (
  -- empty calibration: LEFT JOIN keeps kk's one row and the +inf
  -- sentinel admits every label (melt_spark r10 fallback, bit-same)
  SELECT COALESCE(pick.nc, 9223372036854775807) AS q_hat_nano, kk.n_cal
  FROM kk LEFT JOIN (
    SELECT nc, rn FROM
      (SELECT nc, row_number() OVER (ORDER BY nc, id) AS rn FROM cal)
      CROSS JOIN kk WHERE rn = k
  ) pick ON TRUE
),
sets AS (
  SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS set_size,
         MAX(CASE WHEN d.source = s.label THEN 1 ELSE 0 END) AS cov
  FROM scores s JOIN documents d ON d.doc_id = s.doc_id
  CROSS JOIN qh
  WHERE ({bkt.replace('doc_id', 's.doc_id')}) >= 20
    AND ({bkt.replace('doc_id', 's.doc_id')}) < 40
    AND -s.score_nano <= q_hat_nano
  GROUP BY s.doc_id
),
dens AS (
  SELECT COALESCE(sets.set_size, 0) AS set_size,
         COALESCE(sets.cov, 0) AS cov
  FROM (SELECT DISTINCT doc_id FROM documents
        WHERE ({bkt}) >= 20 AND ({bkt}) < 40) t
  LEFT JOIN sets ON sets.doc_id = t.doc_id
)
SELECT CAST(set_size AS INT) AS set_size,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(cov) AS BIGINT) AS n_covered,
       MAX(qh.q_hat_nano) AS q_hat_nano, MAX(qh.n_cal) AS n_cal
FROM dens CROSS JOIN qh
GROUP BY set_size
"""


SQL_CONFORMAL_NB = _sql_conformal()


def q_lsh_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter planner — the S-curve table (Leskovec,
    Rajaraman, Ullman, "Mining of Massive Datasets" ch. 3) every LSH
    deployment consults before picking (bands, rows): for each divisor
    split of the signature's 8 hashes and each Jaccard decile s, the
    candidate probability 1-(1-s^r)^b, plus per-plan the threshold
    estimate (1/b)^(1/r) as the s_e1 = -1 row. Pure closed-form math
    (pow rounded to 9 decimals per the ln-fold discipline). 8 hashes
    matches the deployed dedup_minhash_lsh / minhash_recall signature,
    so the grid CONTAINS the shipped (bands=4, rows=2) operating point
    it justifies."""
    # spark.range + explode, NOT createDataFrame: a Python-list frame
    # evaluates through applySchemaToPythonRDD (Python worker spin-up on
    # every action — measured ~10 s for these 50 rows); range+array
    # literals stay entirely JVM-side (milliseconds)
    b = (spark.range(1).select(F.explode(F.array(
        *[F.lit(x) for x in (1, 2, 4, 8)])).alias("b"))
        .select(F.col("b").cast("int").alias("bands")))
    s = (spark.range(1).select(F.explode(F.array(
        *[F.lit(x) for x in range(1, 10)])).alias("s"))
        .select(F.col("s").cast("int").alias("s_e1")))
    g = (b.crossJoin(s)
         .withColumn("rows_per_band",
                     F.expr("8 div bands").cast("int"))
         .withColumn("sv", F.col("s_e1").cast("double") / 10.0))
    curve = g.select(
        "bands", "rows_per_band", "s_e1",
        F.round(1.0 - F.pow(1.0 - F.pow(F.col("sv"),
                                        F.col("rows_per_band")),
                            F.col("bands")), 9).alias("p_collide"))
    thresh = b.select(
        "bands", F.expr("8 div bands").cast("int").alias("rows_per_band"),
        F.lit(-1).cast("int").alias("s_e1"),
        F.round(F.pow(1.0 / F.col("bands"),
                      1.0 / F.expr("8 div bands")), 9)
        .alias("p_collide"))
    return curve.unionByName(thresh)


SQL_LSH_PLANNER = """
WITH b AS (SELECT unnest([1, 2, 4, 8]) AS bands),
s AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS s_e1)
SELECT CAST(bands AS INT) AS bands,
       CAST(8 // bands AS INT) AS rows_per_band,
       CAST(s_e1 AS INT) AS s_e1,
       round(1.0 - pow(1.0 - pow(CAST(s_e1 AS DOUBLE) / 10.0,
                                 8 // bands), bands), 9) AS p_collide
FROM b, s
UNION ALL
SELECT CAST(bands AS INT), CAST(8 // bands AS INT), CAST(-1 AS INT),
       round(pow(1.0 / bands, 1.0 / (8 // bands)), 9)
FROM b
"""


# --- URL/domain provenance gate (functions/provenance.py, r8) ----------
# The fixture corpus carries source labels but no URLs; the gate derives
# a deterministic URL per doc (subdomain by doc_id%3, TLD by doc_id%4 —
# including a multi-label .co.uk suffix so eTLD+1 extraction is actually
# exercised) and the SAME expression is restated in the oracle.
DOMAIN_BLOCKLIST = ["src1.com", "src2.co.uk"]
DOMAIN_CAP = 4


def _doc_urls(docs: DataFrame) -> DataFrame:
    sub = (F.when(F.col("doc_id") % 3 == 1, F.lit("www."))
           .when(F.col("doc_id") % 3 == 2, F.lit("cdn."))
           .otherwise(F.lit("")))
    # modulus 7 is coprime with the fixture's source cycle (doc_id %
    # 20), so every source spans every TLD and the blocklist/cap paths
    # actually fire
    t = F.col("doc_id") % 7
    tld = (F.when(t < 2, F.lit(".com"))
           .when(t < 4, F.lit(".org"))
           .when(t < 6, F.lit(".co.uk"))
           .otherwise(F.lit(".net")))
    return docs.withColumn(
        "url", F.concat(F.lit("https://"), sub, F.col("source"), tld,
                        F.lit("/p/"), F.col("doc_id").cast("string")))


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve (functions/text.py
    heaps_curve): distinct types vs cumulative tokens at 20 doc-id
    checkpoints + the fitted V = k·N^β exponent — the saturation
    readout a crawl/dedup pipeline watches (β stalls when new data
    stops bringing new vocabulary)."""
    from ..functions.text import heaps_curve

    docs = read_table(spark, sf_dir, "documents")
    return heaps_curve(docs, n_points=20)


SQL_HEAPS_LAW = f"""
WITH toks AS (
  SELECT doc_id AS d, unnest({_TOKS}) AS w FROM documents
),
fw AS (SELECT w, MIN(d) AS fd FROM toks GROUP BY 1),
pd AS (SELECT d, COUNT(*) AS nt FROM toks GROUP BY 1),
mx AS (SELECT MAX(doc_id) AS m FROM documents),
pts AS (
  SELECT pt, CAST(floor(m * pt / 20) AS BIGINT) AS max_doc
  FROM mx, (SELECT unnest(range(1, 21)) AS pt)
),
ty AS (
  SELECT pt, max_doc, CAST(COUNT(*) AS BIGINT) AS n_types
  FROM fw JOIN pts ON fd <= max_doc GROUP BY 1, 2
),
tk AS (
  SELECT pt, CAST(SUM(nt) AS BIGINT) AS n_tokens
  FROM pd JOIN pts ON d <= max_doc GROUP BY 1
),
curve AS (
  SELECT ty.pt, max_doc, n_tokens, n_types FROM ty JOIN tk USING (pt)
),
one AS (
  SELECT list_sort(list(struct_pack(pt := pt, max_doc := max_doc,
                                    n_tokens := n_tokens,
                                    n_types := n_types))) AS a
  FROM curve
),
f AS (
  SELECT a,
    list_reduce(list_transform(a, x ->
        ln(CAST(x.n_tokens AS DOUBLE))), (p, q) -> p + q) AS sx,
    list_reduce(list_transform(a, x ->
        ln(CAST(x.n_types AS DOUBLE))), (p, q) -> p + q) AS sy,
    list_reduce(list_transform(a, x ->
        ln(CAST(x.n_tokens AS DOUBLE))
        * ln(CAST(x.n_types AS DOUBLE))), (p, q) -> p + q) AS sxy,
    list_reduce(list_transform(a, x ->
        ln(CAST(x.n_tokens AS DOUBLE))
        * ln(CAST(x.n_tokens AS DOUBLE))), (p, q) -> p + q) AS sxx,
    CAST(len(a) AS DOUBLE) AS nn
  FROM one
)
SELECT CAST(x.pt AS INT) AS pt, x.max_doc AS max_doc,
       x.n_tokens AS n_tokens, x.n_types AS n_types,
       CAST(round((sxy * nn - sx * sy) / (sxx * nn - sx * sx)
                  * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS beta_e6
FROM (SELECT a, sx, sy, sxy, sxx, nn, unnest(a) AS x FROM f)
"""


def q_domain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL provenance gate (functions/provenance.py): registrable-domain
    (eTLD+1) extraction incl. multi-label public suffixes, blocklist
    drop, deterministic per-domain document cap, and the per-domain
    audit profile — the C4/RefinedWeb first-stage filter the cleaning
    family lacked. Pure string codegen + one domain shuffle."""
    from ..functions.provenance import domain_gate, domain_profile

    docs = _doc_urls(read_table(spark, sf_dir, "documents"))
    gated = domain_gate(docs, "url", DOMAIN_BLOCKLIST, DOMAIN_CAP)
    return domain_profile(gated).orderBy("domain")


_URL_SQL = ("'https://' || CASE CAST(doc_id % 3 AS INT) WHEN 1 THEN 'www.'"
            " WHEN 2 THEN 'cdn.' ELSE '' END || source ||"
            " CASE WHEN doc_id % 7 < 2 THEN '.com'"
            " WHEN doc_id % 7 < 4 THEN '.org'"
            " WHEN doc_id % 7 < 6 THEN '.co.uk' ELSE '.net' END"
            " || '/p/' || CAST(doc_id AS VARCHAR)")

_DOMAIN_SQL = """
  CASE WHEN len(labels) >= 3
            AND labels[-2] || '.' || labels[-1]
                IN ('co.uk', 'ac.uk', 'com.au', 'co.jp', 'org.uk')
       THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
       WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
       ELSE host END
"""

SQL_DOMAIN_GATE = f"""
WITH u AS (
  SELECT doc_id, n_chars, {_URL_SQL} AS url FROM documents
),
h AS (
  SELECT doc_id, n_chars,
         regexp_extract(lower(url),
                        '^[a-z][a-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)',
                        1) AS host
  FROM u
),
d AS (
  SELECT doc_id AS id, n_chars AS nc, {_DOMAIN_SQL} AS domain
  FROM (SELECT doc_id, n_chars, host, string_split(host, '.') AS labels
        FROM h)
),
r AS (
  SELECT id, nc, domain,
         domain IN ('src1.com', 'src2.co.uk') AS blocked,
         row_number() OVER (
           PARTITION BY domain, domain IN ('src1.com', 'src2.co.uk')
           ORDER BY id) AS rn
  FROM d
),
v AS (
  SELECT domain, nc,
         CASE WHEN blocked THEN 'blocked'
              WHEN rn > {DOMAIN_CAP} THEN 'capped'
              ELSE 'kept' END AS verdict
  FROM r
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN verdict = 'blocked' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_blocked,
       CAST(SUM(CASE WHEN verdict = 'capped' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_capped,
       CAST(SUM(CASE WHEN verdict = 'kept' THEN nc ELSE 0 END) AS BIGINT)
         AS kept_chars
FROM v GROUP BY domain ORDER BY domain
"""


def q_regex_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style regex pre-tokenization (functions/text.py
    regex_pretokens — the public gpt-2 encoder.py pattern, ASCII/RE2
    subset): per doc the exact pre-token stream a BPE trainer consumes,
    md5-hashed token-by-token so every boundary decision hashes. The
    text gets a deterministic mixed-case/contraction/digit/punct tail
    so all pattern branches execute on every row. Pure string codegen,
    zero shuffles beyond the scan."""
    from ..functions.text import regex_pretokens

    from ..functions.util import spread_input

    docs = spread_input(read_table(spark, sf_dir, "documents"), "doc_id")
    t = F.concat(F.col("text"), F.lit(" Don't stop, x9y 42 ok!"))
    toks = regex_pretokens(t)
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_toks"),
        F.aggregate(toks, F.lit(0).cast("bigint"),
                    lambda a, x: a + F.length(x)).alias("n_chars"),
        F.md5(F.concat_ws("\x01", toks)).alias("tok_md5"))


_PRETOK_SQL = ("'''s|''t|''re|''ve|''m|''ll|''d"
               "| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+'")

SQL_REGEX_PRETOKENIZE = f"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text || ' Don''t stop, x9y 42 ok!',
                            {_PRETOK_SQL}, 0) AS toks
  FROM documents
)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
       CAST(list_reduce(list_prepend(0, list_transform(toks,
            x -> length(x))), (a, b) -> a + b) AS BIGINT) AS n_chars,
       md5(array_to_string(toks, chr(1))) AS tok_md5
FROM t
"""


def q_pretoken_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility (functions/text.py
    pretoken_fertility): pretokens/word and chars/pretoken under the
    GPT-2 pre-tokenization — the compression readout a corpus-mixing
    decision consults next to diversity; exact counts, one e6
    quantization each."""
    from ..functions.text import pretoken_fertility

    docs = read_table(spark, sf_dir, "documents")
    return pretoken_fertility(docs)


SQL_PRETOKEN_FERTILITY = f"""
WITH per AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, {_PRETOK_SQL}, 0)) AS BIGINT)
           AS npt,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
         CAST(length(text) AS BIGINT) AS nc
  FROM documents
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(npt) AS BIGINT) AS n_pretokens,
         CAST(SUM(nw) AS BIGINT) AS n_words,
         CAST(SUM(nc) AS BIGINT) AS n_chars
  FROM per GROUP BY 1
)
SELECT source, n_docs, n_pretokens, n_words, n_chars,
  CAST(floor(CAST(n_pretokens AS DOUBLE) / n_words * 1000000.0 + 0.5)
       AS BIGINT) AS ppw_e6,
  CAST(floor(CAST(n_chars AS DOUBLE) / n_pretokens * 1000000.0 + 0.5)
       AS BIGINT) AS cpp_e6
FROM agg
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup on the canonical key (functions/provenance
    canonical_url) — the stage-zero dedup every crawler runs BEFORE
    fetching or hashing any content (C4/RefinedWeb). Each group of six
    consecutive doc_ids carries six decorations of the same resource
    (bare, www., utm param, fragment, trailing slash, userinfo+port+two
    trackers); per canonical URL the output reports how many docs and
    how many DISTINCT raw spellings collapsed onto it. Pure string
    codegen + one map-side-combined groupBy on the canonical key."""
    from ..functions.provenance import canonical_url

    docs = read_table(spark, sf_dir, "documents")
    gid = (F.col("doc_id") / 6).cast("bigint")
    v = (F.col("doc_id") % 6).cast("int")
    # host keyed on the GROUP (not the per-doc source) so each group's
    # six decorations really are one resource spelled six ways
    host = F.concat(F.lit("ex"), (gid % 7).cast("string"))
    gid = gid.cast("string")
    base = F.concat(host, F.lit(".com/a/"), gid)
    url = (F.when(v == 0, F.concat(F.lit("https://"), base))
           .when(v == 1, F.concat(F.lit("https://www."), base))
           .when(v == 2, F.concat(F.lit("https://"), base,
                                  F.lit("?utm_source=feed")))
           .when(v == 3, F.concat(F.lit("https://"), base,
                                  F.lit("#frag")))
           .when(v == 4, F.concat(F.lit("https://"), base, F.lit("/")))
           .otherwise(F.concat(
               F.lit("https://u:p@www."), host,
               F.lit(".com:8080/a/"), gid,
               F.lit("?utm_a=1&gclid=x"))))
    u = docs.select("doc_id", url.alias("url"))
    return (u.select("doc_id", "url",
                     canonical_url(F.col("url")).alias("canon"))
            .groupBy("canon")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.countDistinct("url").cast("bigint")
                 .alias("n_spellings"),
                 F.min("doc_id").alias("keeper")))


_CANON_SQL = """
  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
  || '://' ||
  regexp_replace(lower(regexp_extract(url,
    '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)', 1)),
    '^www\\.', '')
  || regexp_replace(
       regexp_extract(url,
         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
       '/+$', '')
  || regexp_replace(regexp_replace(
       CASE WHEN regexp_extract(url,
         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*[^?#]*[?]([^#]*)', 1) = ''
         THEN ''
         ELSE '&' || regexp_extract(url,
           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*[^?#]*[?]([^#]*)', 1)
       END,
       '&(utm_[a-zA-Z0-9_]+|gclid|fbclid)=[^&]*', '', 'g'),
       '^&', '?')
"""

SQL_URL_DEDUP = f"""
WITH u AS (
  SELECT doc_id,
    CASE CAST(doc_id % 6 AS INT)
      WHEN 0 THEN 'https://' || h || '.com/a/' || g
      WHEN 1 THEN 'https://www.' || h || '.com/a/' || g
      WHEN 2 THEN 'https://' || h || '.com/a/' || g || '?utm_source=feed'
      WHEN 3 THEN 'https://' || h || '.com/a/' || g || '#frag'
      WHEN 4 THEN 'https://' || h || '.com/a/' || g || '/'
      ELSE 'https://u:p@www.' || h || '.com:8080/a/' || g
           || '?utm_a=1&gclid=x'
    END AS url
  FROM (SELECT doc_id,
               'ex' || CAST((doc_id // 6) % 7 AS VARCHAR) AS h,
               CAST(doc_id // 6 AS VARCHAR) AS g
        FROM documents)
)
SELECT ({_CANON_SQL}) AS canon,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_spellings,
       MIN(doc_id) AS keeper
FROM u GROUP BY 1
"""


# deferred: _cluster_split_sql needs _hex_int_sql, defined above
SQL_CLUSTER_SPLIT = _cluster_split_sql()


PIPELINE_SUITE: dict[str, tuple] = {
    "domain_gate": (q_domain_gate, SQL_DOMAIN_GATE),
    "url_dedup": (q_url_dedup, SQL_URL_DEDUP),
    "regex_pretokenize": (q_regex_pretokenize, SQL_REGEX_PRETOKENIZE),
    "pretoken_fertility": (q_pretoken_fertility, SQL_PRETOKEN_FERTILITY),
    "ccnet_buckets": (q_ccnet_buckets, SQL_CCNET_BUCKETS),
    "ccnet_assign": (q_ccnet_assign, SQL_CCNET_ASSIGN),
    "heaps_law": (q_heaps_law, SQL_HEAPS_LAW),
    "conformal_nb": (q_conformal_nb, SQL_CONFORMAL_NB),
    "kmeans_train": (q_kmeans_train, SQL_KMEANS_TRAIN),
    "greedy_coverage": (q_greedy_coverage, SQL_GREEDY_COVERAGE),
    "pareto_docs": (q_pareto_docs, SQL_PARETO_DOCS),
    "containment": (q_containment, SQL_CONTAINMENT),
    "nb_classify": (q_nb_classify, SQL_NB_CLASSIFY),
    "nb_calibration": (q_nb_calibration, SQL_NB_CALIBRATION),
    "nb_abstain": (q_nb_abstain, SQL_NB_ABSTAIN),
    "lsh_planner": (q_lsh_planner, SQL_LSH_PLANNER),
    "kmeans_outliers": (q_kmeans_outliers, SQL_KMEANS_OUTLIERS),
    "winnow": (q_winnow, SQL_WINNOW),
    "waterfill": (q_waterfill, SQL_WATERFILL),
    "diversity": (q_diversity, SQL_DIVERSITY),
    "leakage": (q_leakage, SQL_LEAKAGE),
    "tfidf_keywords": (q_tfidf_keywords, SQL_TFIDF_KEYWORDS),
    "pmi_collocations": (q_pmi_collocations, SQL_PMI_COLLOCATIONS),
    "bq_rerank": (q_bq_rerank, SQL_BQ_RERANK),
    "mmr_rerank": (q_mmr_rerank, SQL_MMR_RERANK),
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "quality_scores": (q_quality_scores, SQL_QUALITY_SCORES),
    "repetition": (q_repetition, SQL_REPETITION),
    "rep_ngrams": (q_rep_ngrams, SQL_REP_NGRAMS),
    "dsir_topk": (q_dsir_topk, SQL_DSIR_TOPK),
    "ngram_novelty": (q_ngram_novelty, SQL_NGRAM_NOVELTY),
    "incremental_minhash": (q_incremental_minhash,
                            SQL_INCREMENTAL_MINHASH),
    "minhash_recall": (q_minhash_recall, SQL_MINHASH_RECALL),
    "contrastive": (q_contrastive, SQL_CONTRASTIVE),
    "split_corpus": (q_split_corpus, _split_sql()),
    "rrf_ndcg": (q_rrf_ndcg, SQL_RRF_NDCG),
    "alignment_filter": (q_alignment_filter, SQL_ALIGNMENT_FILTER),
    "audio_windows": (q_audio_windows, SQL_AUDIO_WINDOWS),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "span_dedup": (q_span_dedup, SQL_SPAN_DEDUP),
    "exact_substring": (q_exact_substring, SQL_EXACT_SUBSTRING),
    "dedup_jaccard": (q_dedup_jaccard, SQL_DEDUP_JACCARD),
    "prefix_jaccard": (q_prefix_jaccard, SQL_DEDUP_JACCARD),
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "mixture_weights": (q_mixture_weights, SQL_MIXTURE_WEIGHTS),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "cluster_split": (q_cluster_split, SQL_CLUSTER_SPLIT),
    "canonical_docs": (q_canonical_docs, SQL_CANONICAL_DOCS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "simhash_near_dup": (q_simhash_near_dup, SQL_SIMHASH_NEAR_DUP),
    "simhash64_near_dup": (q_simhash64_near_dup, SQL_SIMHASH64_NEAR_DUP),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_TOPK),
    "ann_int8_rerank": (q_ann_int8_rerank, SQL_ANN_INT8_RERANK),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "rrf_fusion": (q_rrf_fusion, SQL_RRF_FUSION),
    "rrf_recall": (q_rrf_recall, SQL_RRF_RECALL),
    "lsh_buckets": (q_lsh_buckets, SQL_LSH_BUCKETS),
    "knn_graph": (q_knn_graph, SQL_KNN_GRAPH),
    "graph_ann": (q_graph_ann, SQL_GRAPH_ANN),
    "incremental_knn": (q_incremental_knn, SQL_INCREMENTAL_KNN),
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "ivf_topk": (q_ivf_topk, SQL_IVF_TOPK),
    "ivf_recall": (q_ivf_recall,
                   SQL_IVF_RECALL.format(ann=SQL_ANN_TOPK, ivf=SQL_IVF_TOPK)),
    "semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "semantic_summary": (q_semantic_summary, SQL_SEMANTIC_SUMMARY),
    "heavy_tokens": (q_heavy_tokens, SQL_HEAVY_TOKENS),
    "lm_perplexity": (q_lm_perplexity, SQL_LM_PERPLEXITY),
    "kn_perplexity": (q_kn_perplexity, SQL_KN_PERPLEXITY),
    "luhn_cards": (q_luhn_cards, SQL_LUHN_CARDS),
    "gopher_gate": (q_gopher_gate, SQL_GOPHER_GATE),
    "corpus_gate": (q_corpus_gate, SQL_CORPUS_GATE),
    "decontam_span": (q_decontam_span, SQL_DECONTAM_SPAN),
    "iban_detect": (q_iban_detect, SQL_IBAN_DETECT),
    "langid_ngram": (q_langid_ngram, SQL_LANGID_NGRAM),
    "phrase_match": (q_phrase_match, SQL_PHRASE_MATCH),
    "jl_projection": (q_jl_projection, SQL_JL_PROJECTION),
    "priority_sample": (q_priority_sample, SQL_PRIORITY_SAMPLE),
    "bpe_train": (q_bpe_train, SQL_BPE_TRAIN),
    "bpe_encode": (q_bpe_encode, SQL_BPE_ENCODE),
    "incremental_bpe": (q_incremental_bpe, SQL_INCREMENTAL_BPE),
    "pack_bpe": (q_pack_bpe, SQL_PACK_BPE),
    "postings_stats": (q_postings_stats, SQL_POSTINGS_STATS),
    "pq_codes": (q_pq_codes, SQL_PQ_CODES),
    "pq_adc": (q_pq_adc, SQL_PQ_ADC),
    "ivf_pq": (q_ivf_pq, SQL_IVF_PQ),
    "multimodal_decode": (q_multimodal_decode, SQL_MULTIMODAL_DECODE),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "multimodal_resize": (q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "rolling_fingerprint": (q_rolling_fingerprint, SQL_ROLLING_FINGERPRINT),
    "chunk_docs": (q_chunk_docs, SQL_CHUNK_DOCS),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "frame_sample": (q_frame_sample, SQL_FRAME_SAMPLE),
    "clean_corpus": (q_clean_corpus, SQL_CLEAN_CORPUS),
    "user_features_pandas": (q_user_features_pandas, SQL_USER_FEATURES),
}
