"""Multinomial Naive Bayes document classification — the engine-native
stand-in for the fastText quality/domain classifier every large
training-data pipeline runs (CCNet, LREC 2020; RefinedWeb, arXiv:
2306.01116 — both gate documents with a linear text classifier; fastText
itself is Joulin et al., arXiv:1607.01759; multinomial NB per McCallum &
Nigam, AAAI-98 workshop).

Model: p(t|s) = (c_st + 1) / (N_s + V) with Laplace smoothing, prior
p(s) = docs_s / docs_total; score(d, s) = ln p(s) + Σ_t c_dt · ln p(t|s);
predicted label = argmax_s. Training and scoring both run inside the
engine, so the whole classifier is oracle-checkable.

Determinism (the integer-nano-nat trick — pagerank's fixed-point argument
applied to log-space): every ln() is taken of an IEEE divide of exact
integers (identical input both engines), multiplied by 1e9, rounded and
CAST to BIGINT **once, in the vocabulary-sized model table**. All
downstream arithmetic — per-document sums, the prior, the argmax — is
exact BIGINT addition/comparison: order-independent, so a shuffled
groupBy sum is safe (no ordered fold needed, unlike lm.py whose terms
stay float) and the argmax can never flip between engines. The only
cross-engine hazard left is ln's 1-ulp non-determinism landing exactly on
a .5e-9 rounding boundary — ~1e-7 odds per model entry, the same accepted
class as lm.py/BM25. Ties after that break by label ascending (pinned).

Spark-first shape, graded for 100 TB:
    counts = explode tokens -> digest -> groupBy   -- shuffle #1:
             (label, int64 hash, int)                 map-side combined
    model  = counts x label-totals x |V|           -- vocabulary-sized,
                                                      never corpus-sized
    score  = doc-token counts ⋈ model on hash      -- shuffle #2 keyed on
             -> groupBy (doc, label) SUM              the 8-byte digest;
                                                      token text never
                                                      enters an exchange
    base   = docs x labels (broadcast)             -- |docs|·|labels| int
                                                      rows; labels is the
                                                      tiny side, always
                                                      broadcast
Sparse-model completion: a (doc-token, label) pair absent from the model
contributes the smoothed miss mass ln(1/(N_s+V)). Rather than densify
vocab x labels, model rows carry delta = lp - miss and the base term adds
len_d · miss_s — algebraically identical, and the join stays inner on
only the pairs that exist.

The reference has no classifier surface; this extends the text-quality
family (lang-id, Gopher ratios, LM perplexity) with the supervised
gate those pipelines actually deploy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import tokens
from .util import spread_input

NANO = 10 ** 9


def _nano(col: Column) -> Column:
    """round(ln(x) * 1e9) as BIGINT — quantized once, exact forever."""
    return F.round(F.log(col) * F.lit(float(NANO)), 0).cast("bigint")


def char_ngrams(text_col: str, n: int = 3) -> Column:
    """Array of character n-grams of the lowercase text — the langid
    feature (Cavnar & Trenkle 1994). Empty array for short/NULL text."""
    c = F.lower(F.col(text_col))
    idx = F.when(F.length(c) >= n,
                 F.sequence(F.lit(1), F.length(c) - n + 1)) \
           .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.substr(c, i, F.lit(n)))


def _doc_tokens(docs: DataFrame, id_col: str, text_col: str,
                feats: Column | None = None) -> DataFrame:
    """(id, h, c_dt): per-document feature counts on xxhash64 digests.
    ``feats`` overrides the feature extractor (default: word tokens);
    langid passes char_ngrams — the whole NB chain is feature-agnostic
    once features are digests."""
    docs = spread_input(docs, id_col)
    f = feats if feats is not None else tokens(text_col)
    return (docs.select(F.col(id_col).alias("id"),
                        F.explode(f).alias("tok"))
            .select("id", F.xxhash64("tok").alias("h"))
            .groupBy("id", "h").agg(F.count(F.lit(1)).alias("c_dt")))


def nb_model(docs: DataFrame, label_col: str = "source",
             text_col: str = "text",
             id_col: str = "doc_id",
             feats: Column | None = None) -> tuple[DataFrame, DataFrame]:
    """Train on the labeled corpus. Returns (model, labels):
    model  = (label, h, delta_nano)  — vocabulary-sized, sparse;
    labels = (label, prior_nano, miss_nano) — one row per class, carrying
             ln-prior and the per-token miss mass, both in nano-nats.
    ``feats``: optional feature-array override (see _doc_tokens)."""
    f = feats if feats is not None else tokens(text_col)
    tok = (docs.select(F.col(label_col).alias("label"),
                       F.explode(f).alias("tok"))
           .select("label", F.xxhash64("tok").alias("h")))
    c = tok.groupBy("label", "h").agg(F.count(F.lit(1)).alias("c"))
    n_s = c.groupBy("label").agg(F.sum("c").cast("bigint").alias("n_s"))
    v = c.agg(F.countDistinct("h").alias("v"))

    denom = (F.col("n_s") + F.col("v")).cast("double")
    model = (c.join(n_s, "label").crossJoin(F.broadcast(v))
             .select("label", "h",
                     (_nano((F.col("c") + F.lit(1)).cast("double") / denom)
                      - _nano(F.lit(1.0) / denom)).alias("delta_nano")))

    nd = (docs.groupBy(F.col(label_col).alias("label"))
          .agg(F.count(F.lit(1)).alias("n_docs")))
    total = nd.agg(F.sum("n_docs").cast("bigint").alias("total"))
    labels = (nd.crossJoin(F.broadcast(total)).join(n_s, "label")
              .crossJoin(F.broadcast(v))
              .select("label",
                      _nano(F.col("n_docs").cast("double")
                            / F.col("total").cast("double"))
                      .alias("prior_nano"),
                      _nano(F.lit(1.0) / denom).alias("miss_nano")))
    return model, labels


def nb_scores(docs: DataFrame, model: DataFrame, labels: DataFrame,
              text_col: str = "text",
              id_col: str = "doc_id",
              feats: Column | None = None) -> DataFrame:
    """(id, label, score_nano): the FULL per-(document, label) score
    table — what nb_classify argmaxes over, exposed for consumers that
    need the whole posterior (calibration, margin-based abstention,
    top-2 disagreement audits). Exact BIGINT nano-nats throughout."""
    dt = _doc_tokens(docs, id_col, text_col, feats)
    # model is the broadcast side BY CONSTRUCTION (|V| x |labels| rows —
    # a text classifier model fits one machine by definition). Without
    # the hint, Catalyst's post-explode size estimate undersells dt and
    # builds the hash relation from the CORPUS side: the 64x probe
    # showed the tiny model streamed through ONE task probing an 8M-row
    # broadcast, 253 s single-threaded (docs/NB_FIXED_VOCAB.json — the
    # real cause of the 78x super-linear row, not vocab growth).
    seen = (dt.join(F.broadcast(model), "h")
            .groupBy("id", "label")
            .agg(F.sum(F.col("c_dt") * F.col("delta_nano")).alias("s")))
    lens = (docs.select(F.col(id_col).alias("id"))
            .join(dt.groupBy("id").agg(F.sum("c_dt").alias("len_d")),
                  "id", "left")
            .select("id", F.coalesce("len_d", F.lit(0)).alias("len_d")))
    base = (lens.crossJoin(F.broadcast(labels))
            .select("id", "label",
                    (F.col("prior_nano")
                     + F.col("len_d") * F.col("miss_nano")).alias("base")))
    return (base.join(seen, ["id", "label"], "left")
            .select("id", "label",
                    (F.col("base") + F.coalesce("s", F.lit(0)))
                    .cast("bigint").alias("score_nano")))


def nb_classify(docs: DataFrame, model: DataFrame, labels: DataFrame,
                text_col: str = "text",
                id_col: str = "doc_id",
                feats: Column | None = None) -> DataFrame:
    """(id, predicted, score_nano): argmax label per document — score
    desc, label asc on ties. Every input document gets a row; an empty
    document scores prior-only."""
    scores = nb_scores(docs, model, labels, text_col, id_col, feats)
    w = Window.partitionBy("id").orderBy(F.desc("score_nano"),
                                         F.asc("label"))
    return (scores.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", F.col("label").alias("predicted"), "score_nano"))


def nb_calibration(docs: DataFrame, label_col: str = "source",
                   text_col: str = "text", id_col: str = "doc_id",
                   n_bins: int = 10) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) for the
    self-trained NB classifier (Guo, Pleiss, Sun, Weinberger, "On
    calibration of modern neural networks", ICML 2017 — the standard
    binned-confidence evaluation): per confidence decile, how often is
    the argmax label actually right, and how far does stated confidence
    drift from observed accuracy.

    Confidence = softmax of the nano-nat scores: with the max score
    subtracted, conf = 1 / Σ_j exp((s_j - s_max)/1e9). The exp terms sum
    over a SORTED per-document label array (an ordered fold — labels
    per doc is tiny), because a shuffled float sum is not associative;
    the result is rounded ONCE to e6 integer units, after which binning,
    per-bin sums, accuracy and ECE are exact integer arithmetic (the
    BM25/psi ln-fold discipline applied to exp).

    Output: one row per non-empty bin (bin, n, n_correct, conf_ppm,
    acc_ppm) plus a bin = -1 summary row where conf_ppm carries the ECE
    and acc_ppm the overall accuracy — all BIGINT, hash-exact.
    """
    model, labels = nb_model(docs, label_col, text_col, id_col)
    # materialize the score matrix ONCE: both consumers below (softmax
    # confidence and the argmax prediction) reference it, and without
    # the checkpoint Catalyst re-derives the whole train+score chain
    # under each reference (the union-of-filters recompute trap — the
    # plan audit showed 71 shuffles before, 1 chain + cheap re-reads
    # after). |docs|·|labels| rows, bounded.
    scores = nb_scores(docs, model, labels, text_col, id_col) \
        .localCheckpoint(eager=True)
    g = (scores.groupBy("id")
         .agg(F.max("score_nano").alias("mx"),
              F.array_sort(F.collect_list(
                  F.struct("label", "score_nano"))).alias("arr")))
    z = F.aggregate(
        F.col("arr"), F.lit(0.0),
        lambda acc, x: acc + F.exp(
            (x["score_nano"] - F.col("mx")).cast("double")
            / F.lit(float(NANO))))
    conf = g.select("id", F.round(F.lit(1e6) / z).cast("bigint")
                    .alias("conf_e6"))
    wp = Window.partitionBy("id").orderBy(F.desc("score_nano"),
                                          F.asc("label"))
    pred = (scores.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") == 1)
            .select("id", F.col("label").alias("predicted")))
    actual = docs.select(F.col(id_col).alias("id"),
                         F.col(label_col).alias("actual"))
    per_doc = (conf.join(pred, "id").join(actual, "id")
               .select("conf_e6",
                       (F.col("predicted") == F.col("actual"))
                       .cast("long").alias("ok"),
                       F.least(F.expr("conf_e6 div 100000"),
                               F.lit(n_bins - 1)).cast("int")
                       .alias("bin")))
    bins = (per_doc.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("ok").alias("n_correct"),
                 F.sum("conf_e6").alias("conf_sum"))
            .select("bin", F.col("n").cast("bigint").alias("n"),
                    F.col("n_correct").cast("bigint").alias("n_correct"),
                    F.expr("conf_sum div n").alias("conf_ppm"),
                    F.expr("n_correct * 1000000 div n").alias("acc_ppm")))
    summary = (bins.agg(
        F.sum("n").alias("n"),
        F.sum("n_correct").alias("n_correct"),
        F.sum(F.abs(F.col("acc_ppm") - F.col("conf_ppm")) * F.col("n"))
        .alias("gap"))
        .select(F.lit(-1).alias("bin"),
                F.col("n").cast("bigint").alias("n"),
                F.col("n_correct").cast("bigint").alias("n_correct"),
                F.expr("gap div n").alias("conf_ppm"),
                F.expr("n_correct * 1000000 div n").alias("acc_ppm")))
    return bins.unionByName(summary)


ABSTAIN_THRESHOLDS_NANO = (0, 100_000_000, 250_000_000, 500_000_000,
                           1_000_000_000, 2_000_000_000)


def nb_abstain(docs: DataFrame, label_col: str = "source",
               text_col: str = "text", id_col: str = "doc_id",
               thresholds: tuple[int, ...] = ABSTAIN_THRESHOLDS_NANO
               ) -> DataFrame:
    """Selective-classification curve — accuracy vs coverage when the
    classifier ABSTAINS below a top1−top2 margin threshold (Chow, "On
    optimum recognition error and reject tradeoff", IEEE IT 1970; the
    reject-option every production quality gate runs: route low-margin
    documents to a bigger model or a human instead of guessing).

    The margin is a DIFFERENCE OF EXACT BIGINT nano-nat scores, so
    unlike nb_calibration's softmax there is no transcendental anywhere:
    coverage, accuracy and the curve are integer arithmetic end to end
    and hash-check with no rounding discipline at all.

    Output: one row per threshold (thr_nano, n_covered, n_correct,
    coverage_ppm, acc_ppm) — acc_ppm is -1 for an empty covered set.

    Scale shape: the nb_scores chain + one |docs|·|labels| window for
    (top1, top2), then a broadcast threshold grid × one aggregate.
    """
    model, labels = nb_model(docs, label_col, text_col, id_col)
    scores = nb_scores(docs, model, labels, text_col, id_col)
    w = Window.partitionBy("id").orderBy(F.desc("score_nano"),
                                         F.asc("label"))
    ranked = scores.withColumn("rn", F.row_number().over(w)) \
        .filter(F.col("rn") <= 2)
    per_doc = (ranked.groupBy("id")
               .agg(F.min_by("label", "rn").alias("predicted"),
                    F.max("score_nano").alias("s1"),
                    F.min("score_nano").alias("s2"))
               .select("id", "predicted",
                       (F.col("s1") - F.col("s2")).alias("margin")))
    actual = docs.select(F.col(id_col).alias("id"),
                         F.col(label_col).alias("actual"))
    # two consumers below (the threshold-grid aggregate and the total) —
    # materialize once or Catalyst re-derives the whole train+score
    # chain under each reference (the nb_calibration lesson; one row
    # per doc, bounded)
    md = (per_doc.join(actual, "id")
          .select("margin", (F.col("predicted") == F.col("actual"))
                  .cast("long").alias("ok"))
          .localCheckpoint(eager=True))
    spark = docs.sparkSession
    thr = spark.range(1).select(F.explode(F.array(
        *[F.lit(t) for t in thresholds])).alias("thr_nano"))
    tot = md.agg(F.count(F.lit(1)).alias("n_total"))
    g = (md.crossJoin(F.broadcast(thr))
         .groupBy("thr_nano")
         .agg(F.sum(F.when(F.col("margin") >= F.col("thr_nano"), 1)
                    .otherwise(0)).alias("n_covered"),
              F.sum(F.when(F.col("margin") >= F.col("thr_nano"),
                           F.col("ok")).otherwise(0)).alias("n_correct"))
         .crossJoin(F.broadcast(tot)))
    return g.select(
        F.col("thr_nano").cast("bigint"),
        F.col("n_covered").cast("bigint"),
        F.col("n_correct").cast("bigint"),
        F.expr("n_covered * 1000000 div n_total").alias("coverage_ppm"),
        F.when(F.col("n_covered") > 0,
               F.expr("n_correct * 1000000 div n_covered"))
        .otherwise(F.lit(-1)).cast("bigint").alias("acc_ppm"))


def conformal_nb(docs: DataFrame, label_col: str = "source",
                 text_col: str = "text", id_col: str = "doc_id",
                 cal_pct: int = 20) -> DataFrame:
    """Split-conformal prediction sets over the NB classifier (Vovk et
    al., "Algorithmic Learning in a Random World"; Angelopoulos & Bates,
    arXiv:2107.07511): the DISTRIBUTION-FREE coverage guarantee a
    production labeler wraps around any classifier — emit a SET of
    labels per document such that the true label is inside with
    probability >= 1 − α, no matter how miscalibrated the scores are.

    Proper THREE-WAY split: a salted portable-hash bucket (the
    split_corpus no-RNG discipline — doc_id %-style splits CORRELATE
    with the fixture's source cycle and would starve the training
    labels) routes bucket < cal_pct to CALIBRATION, the next cal_pct
    band to TEST, and the rest to TRAIN. All three are disjoint, so the
    reported empirical coverage is measured on docs the model never saw
    at fit time and the distribution-free 1−α guarantee applies to it
    (evaluating on the train split would bias coverage optimistically).
    Held-out calibration docs supply the nonconformity scores
    s = −score_nano(true label); q̂ is the ⌈(n+1)(1−α)⌉-th smallest
    (α = 0.1, the ceiling taken in exact integer arithmetic, CLAMPED to
    n_cal — a tiny calibration set degrades to q̂ = max score, and an
    EMPTY one (n_cal = 0) to the q̂ = +∞ sentinel, i.e. every test doc
    gets the full label set — instead of silently emitting zero rows),
    found by DISTRIBUTED exact rank (util.global_row_number — no
    single-reducer sort). Test docs get C(x) = {labels : −score ≤ q̂}.

    Returns one row per observed prediction-set size (set_size, n_docs,
    n_covered) — n_covered counts docs whose true label is in the set —
    plus q_hat_nano and n_cal repeated on each row; sum n_covered /
    sum n_docs is the empirical coverage the guarantee bounds.

    Scale shape: the nb chain scores ONLY the cal+test bands (2·cal_pct
    of the corpus — the train split never enters the corpus-linear
    doc-token shuffle, the r8 probe's 283 MB diet), one |cal+test|·
    |labels| score table (localCheckpoint'd — three consumers, the
    nb_abstain lesson), one range shuffle for the calibration rank,
    broadcast q̂, one map-side-combined set-size aggregate."""
    from .cleaning import hash_bucket
    from .util import global_row_number

    bkt = hash_bucket(
        F.concat(F.lit("cp:"), F.col(id_col).cast("string")))
    train = docs.filter(bkt >= 2 * cal_pct)
    model, labels = nb_model(train, label_col, text_col, id_col)
    scores = nb_scores(docs.filter(bkt < 2 * cal_pct), model, labels,
                       text_col, id_col).localCheckpoint(eager=True)
    actual = docs.select(F.col(id_col).alias("id"),
                         F.col(label_col).alias("__act"),
                         hash_bucket(F.concat(
                             F.lit("cp:"),
                             F.col(id_col).cast("string")))
                         .alias("__bkt"))
    cal = (scores.join(actual, "id")
           .filter((F.col("__bkt") < cal_pct)
                   & (F.col("label") == F.col("__act")))
           .select("id", (-F.col("score_nano")).alias("__nc")))
    # one row; materialized because BOTH the rank pick and the fallback
    # left-join read it — without this the whole cal chain (scores join,
    # documents scan) re-plans under each consumer
    k = (cal.agg(F.count(F.lit(1)).cast("bigint").alias("n_cal"))
         .select("n_cal",
                 F.expr("least((9 * (n_cal + 1) + 9) div 10, n_cal)")
                 .alias("__k"))
         .localCheckpoint(eager=False))
    ranked = global_row_number(cal, [F.col("__nc"), F.col("id")], "__rn")
    # EMPTY calibration band (n_cal = 0, so k = 0 matches no rank): fall
    # back to q_hat = +inf sentinel instead of an empty qh frame — the
    # r9 clamp only covered 1 <= n_cal < 9, and an empty qh turned the
    # final crossJoin into ZERO output rows (ADVICE r9). The honest
    # conformal degenerate: with no calibration evidence the
    # distribution-free set is the WHOLE label space (every label
    # passes -score <= q_hat), coverage trivially 1.
    pick = (ranked.crossJoin(F.broadcast(k.select("__k")))
            .filter(F.col("__rn") == F.col("__k"))
            .select(F.lit(1).alias("__one"), F.col("__nc").alias("__q")))
    qh = (k.select("n_cal", F.lit(1).alias("__one"))
          .join(pick, "__one", "left")
          .select(F.coalesce("__q", F.lit((1 << 63) - 1))
                  .alias("q_hat_nano"), "n_cal"))
    test_keys = actual.filter((F.col("__bkt") >= cal_pct)
                              & (F.col("__bkt") < 2 * cal_pct)) \
        .select("id", "__act")
    test = (scores.join(test_keys.select("id").distinct(), "id")
            .crossJoin(F.broadcast(qh)))
    in_set = test.filter(-F.col("score_nano") <= F.col("q_hat_nano"))
    sets = (in_set.join(actual.select("id", "__act"), "id")
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("set_size"),
                 F.max((F.col("label") == F.col("__act")).cast("int"))
                 .alias("__cov")))
    test_ids = test_keys.select("id")
    dens = (test_ids.join(sets, "id", "left")
            .select(F.coalesce("set_size", F.lit(0)).alias("set_size"),
                    F.coalesce("__cov", F.lit(0)).alias("__cov")))
    return (dens.groupBy("set_size")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("__cov").cast("bigint").alias("n_covered"))
            .crossJoin(F.broadcast(qh))
            .select(F.col("set_size").cast("int").alias("set_size"),
                    "n_docs", "n_covered", "q_hat_nano", "n_cal"))


def langid_ngram(docs: DataFrame, label_col: str = "lang",
                 text_col: str = "text", id_col: str = "doc_id",
                 n: int = 3, train_mod: int = 5) -> DataFrame:
    """Character-n-gram language identification (Cavnar & Trenkle,
    "N-gram-based text categorization", SDAIR 1994 — the classic langid
    heuristic; fastText's langid is its modern descendant): the NB
    chain over char_ngrams features, trained on the labeled slice with
    id % train_mod != 0 and evaluated on the HELD-OUT slice (% == 0) —
    the train/eval split every real langid deployment has, with
    correctness measured in-band per doc.

    Output (held-out docs): (id, lang, predicted, score_nano, correct).

    Scale shape: identical to nb_classify's — char n-grams explode to
    xxhash64 digests before any exchange (gram text never shuffles),
    the model is vocabulary-sized and broadcast, scoring is one
    digest join + per-(doc, label) sum. Exact BIGINT nano-nats, so
    predictions and scores hash cross-engine."""
    feats = char_ngrams(text_col, n)
    train = docs.filter(F.col(id_col) % train_mod != 0)
    holdout = docs.filter(F.col(id_col) % train_mod == 0)
    model, labels = nb_model(train, label_col, text_col, id_col, feats)
    pred = nb_classify(holdout, model, labels, text_col, id_col, feats)
    return (pred.join(holdout.select(F.col(id_col).alias("id"),
                                     F.col(label_col).alias("lang")),
                      "id")
            .select(F.col("id").alias(id_col), "lang", "predicted",
                    "score_nano",
                    (F.col("predicted") == F.col("lang")).cast("int")
                    .alias("correct")))
