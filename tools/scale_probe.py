"""Scaling probe: replicate the fixture tables N× and measure how the
headline operators' runtime grows. The point is 100 TB extrapolation
evidence: a well-partitioned op should scale near-linearly in rows (ratio
≈ N on a fixed-core box is the worst acceptable; sub-N means the fixed
overheads still dominate); anything super-linear indicates a quadratic
candidate-pair blowup or a collapsed partition.

Usage: python tools/scale_probe.py [N] [sf_dir] [name ...]
       (default 16 /root/testdata/sf0.1, every name in PROBES)
Writes docs/SCALING.md (docs/SCALING_<N>x.md when N is not 16) and prints
one JSON line. Each probe is timed by bench_some.measure, whose shuffle
bytes come from Spark's status store with the UI off.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

from bench_some import measure
from pyspark.sql import functions as F


def replicate(spark, sf_dir: str, out_dir: str, n: int) -> None:
    """documents/lineitem/orders/events replicated n× with shifted keys.
    Every 3rd token of each replica gets a replica suffix: token COUNT and
    most stopword occurrences survive (quality distribution ≈ unchanged),
    but any 3 consecutive tokens contain a modified one, so every 3-gram
    shingle differs across replicas — replicas are NOT near-dups; the
    result is n independent same-shape corpora. Verbatim replication would
    instead give every doc n-1 identical twins, and dedup's output pair
    count is inherently quadratic in duplicate multiplicity (a real
    mirrored-corpus stress, but not a linear-scaling probe; cluster-reduce
    with dedup_clusters when multiplicity is high)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    reps = spark.range(n).select(F.col("id").alias("rep"))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    max_doc = docs.agg(F.max("doc_id")).head()[0] + 1
    salted = F.array_join(
        F.transform(F.split(F.col("text"), " "),
                    lambda t, i: F.when(
                        (i + 1) % 3 == 0,
                        F.concat(t, F.lit("~r"),
                                 F.col("rep").cast("string"))).otherwise(t)),
        " ")
    (docs.crossJoin(reps)
     .select((F.col("doc_id") + F.col("rep") * max_doc).alias("doc_id"),
             salted.alias("text"), "lang", "source", "n_chars")
     .write.mode("overwrite").parquet(f"{out}/documents.parquet"))

    # ONE shift for both lineitem and orders keys: it must exceed BOTH
    # max(l_orderkey) and max(o_orderkey), else replica ranges collide
    # (an order with no lineitems makes max(o_orderkey) the larger one)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders_max = (spark.read.parquet(f"{sf_dir}/orders.parquet")
                  .agg(F.max("o_orderkey")).head()[0])
    max_ok = max(li.agg(F.max("l_orderkey")).head()[0], orders_max) + 1
    (li.crossJoin(reps)
     .select((F.col("l_orderkey") + F.col("rep") * max_ok).alias("l_orderkey"),
             *[c for c in li.columns if c != "l_orderkey"])
     .write.mode("overwrite").parquet(f"{out}/lineitem.parquet"))

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    (orders.crossJoin(reps)
     .select((F.col("o_orderkey") + F.col("rep") * max_ok).alias("o_orderkey"),
             *[c for c in orders.columns if c != "o_orderkey"])
     .write.mode("overwrite").parquet(f"{out}/orders.parquet"))

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    max_ev = ev.agg(F.max("event_id")).head()[0] + 1
    (ev.crossJoin(reps)
     .select((F.col("event_id") + F.col("rep") * max_ev).alias("event_id"),
             *[c for c in ev.columns if c != "event_id"])
     .write.mode("overwrite").parquet(f"{out}/events.parquet"))

    # embeddings replicated with a deterministic per-replica perturbation
    # (magnitude AND component mask vary with rep) so replicas are near
    # but not identical vectors — verbatim copies would make semantic
    # dedup's within-cluster pair count quadratic in multiplicity, the
    # same trap the documents salting avoids
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    max_v = emb.agg(F.max("vec_id")).head()[0] + 1
    perturbed = F.transform(
        F.col("embedding"),
        lambda x, i: x + F.when(
            (i + F.col("rep")) % 5 == 0,
            F.lit(0.02) * (F.col("rep") + 1).cast("double")
        ).otherwise(F.lit(0.0)).cast("float"))
    (emb.crossJoin(reps)
     .select((F.col("vec_id") + F.col("rep") * max_v).alias("vec_id"),
             perturbed.cast("array<float>").alias("embedding"), "label")
     .write.mode("overwrite").parquet(f"{out}/embeddings.parquet"))

    # remaining tables: symlink-free copy-through reads from sf_dir
    for t in ("region", "nation", "customer", "supplier", "part"):
        (spark.read.parquet(f"{sf_dir}/{t}.parquet")
         .write.mode("overwrite").parquet(f"{out}/{t}.parquet"))


PROBES = ["text_quality", "dedup_minhash_lsh", "clean_corpus",
          "tpch_q1", "latest_state",
          # r3 additions: sub-document span dedup + BM25 retrieval ride
          # their merged entries (dedup_exact, ann_cosine_topk)
          "dedup_exact", "ann_cosine_topk",
          # r4: the two span_dedup shuffle strategies head-to-head — the
          # digest path must show the shuffle-BYTES win its docstring claims
          "span_dedup_digest", "span_dedup_text",
          # r4: semantic dedup head-to-head — exact single-level assign
          # (O(N*k), super-linear when k ~ N/cluster_size: the measured 36x
          # ratio is the quadratic term, kept as the honest baseline) vs
          # the two-level coarse quantizer (O(N*sqrt(k)), the scale path)
          # + the KMV sketch riding distinct_users
          "semantic_dedup", "semantic_dedup_coarse", "distinct_users",
          # r4b: corpus-model LM scoring (the heaviest new op), the CMS
          # fixed-size-shuffle build, and the gap-fill spine+window pass
          "lm_perplexity", "cms_user_counts", "gapfill_hourly",
          # r5: incremental near-dup ingest (batch vs store), DSIR
          # importance scoring, n-gram novelty, the Bloom build+probe
          # (fixed-size shuffle like CMS), PQ ADC search, and the
          # zero-shuffle repeat/entropy text pass
          "incremental_minhash", "dsir_topk", "ngram_novelty",
          "bloom_filter", "pq_adc", "rep_ngrams",
          # r5 wave 2: composed IVFPQ, k-core peeling (graph grows with
          # orders x lineitem), the sketch-reuse overlap matrix, fuzzy
          # entity matching (fixed 200-name workload — expected ~flat),
          # CUSUM (per-key fold) and the alignment/audio scan passes
          "ivf_pq", "kcore", "kmv_overlap", "fuzzy_match",
          "cusum_monitor", "alignment_filter", "audio_windows",
          # r5 wave 3: NB classifier (vocab-sized model, digest-keyed
          # scoring), HITS (directed graph grows with orders x lineitem),
          # containment (inverted-index pair risk under the df cap),
          # integer k-means (fixed k*d shuffle per iteration), greedy
          # coverage (k anti-join rounds over the digest table), integer
          # EWMA (per-key fold)
          "nb_classify", "hits", "containment", "kmeans_train",
          "greedy_coverage", "ewma",
          # r5 wave 4: winnowing (zero-shuffle array selection), PPR
          # (seeded pagerank, saturating graph like hits), canonical
          # selection (CC + keep window), skew diagnostic (TakeOrdered
          # heads), budget waterfill (source-table-sized)
          "winnow", "ppr", "canonical_docs", "skew_report", "waterfill",
          "diversity", "leakage", "trimmed_mean",
          # r6: LPA + deterministic walks (graph grows with orders x
          # lineitem), the cluster-local kNN-graph build + beam search
          # (embeddings replicated), NB calibration (adds the softmax
          # fold to the nb chain), OHLC (pure map-side-combined agg),
          # golden records (fixed 200-name workload - expected ~flat)
          "lpa_communities", "random_walks", "knn_graph", "graph_ann",
          "nb_calibration", "ohlc_bars", "golden_records", "theil_sen",
          "incremental_knn", "knn_graph_coarse", "graph_ann_coarse",
          # r7: the two slowest constituents (exact motif censuses riding
          # the salted hub-skew wedge guard) — re-probed at depth after
          # the r6 shared-wedge changes — plus the round's new operators
          "adamic_adar", "butterflies", "exact_substring",
          "exact_quantiles",
          # r7: rfm after the global-ntile fix (the round-6 audit's one
          # single-reducer hit) — the probe row the verdict asked for
          "rfm_scores",
          # r7b: portable-hash HLL (fixed 64-register shuffle per key —
          # expected ~flat), Pareto frontier (cell shuffles over (x,y)
          # pairs), grid-DBSCAN (one point shuffle, then cell-sized)
          "hll_distinct", "pareto_docs", "dbscan_customers",
          # r7b: rank-sum + digit-law tests (per-key window ranks; 9-row
          # digit table — both expected ~linear scan cost)
          "mann_whitney", "benford_prices",
          # r7b wave 2: survival family (bounded duration-table folds —
          # expected ~linear scan cost) + the chi-square contingency
          "kaplan_meier", "log_rank", "chi2_weekday", "mad_outliers",
          # r7b wave 3: community quality (graph grows with orders x
          # lineitem) + attribution (per-user window carries)
          "modularity", "attribution", "pruning_eval",
          "random_group_ci", "cuped", "target_encoding", "fdr_battery",
          # r8: tokenizer encode (vocab broadcast join + per-doc
          # reassembly — expected ~linear), BPE-count packing (adds the
          # per-group Arrow walk), per-variant survival curves (bounded
          # folds), domain provenance gate (string codegen + one domain
          # shuffle), and the deliberately-skewed Mann-Whitney key
          # through the bucketed hatch (256 aggregate rows per key, no
          # one-task sort)
          "bpe_encode", "pack_bpe", "km_variants", "domain_gate",
          "mw_bucketed_skew",
          # r9: deliberately hot origin — ALL documents on one domain,
          # the worst case for the per-domain cap — through the salted
          # two-level top-k hatch (flat (domain,salt) tasks + a bounded
          # survivor rank, never a one-task sort)
          "domain_gate_hot",
          # r10: deliberately hot SOURCE — ALL documents in one ccnet
          # group, the worst case for the per-source tercile cut —
          # through the global_order_scan hatch (range shuffle splits
          # the group on (avg_nll, id); never a one-task sort)
          "ccnet_hot",
          # r9: batch-vs-store tokenizer encode + the exact-covariance
          # PCA readout (one map-side d^2/2 aggregate is the only
          # corpus-sized stage — expected ~linear, shuffle ~flat at d^2)
          "incremental_bpe", "embedding_pca", "url_dedup",
          "regex_pretokenize", "ccnet_buckets",
          # r10: all-but-the-top applied (pca chain + corrected-space
          # brute-force top-k — expected ~ embedding_pca + ann cost)
          "abtt_ann",
          # r10: Kneser-Ney perplexity (same digested-bigram shape as
          # lm_perplexity — expected the same ~linear profile) and the
          # Luhn card scan (pure per-row projection — expected ~flat
          # shuffle, linear time)
          "kn_perplexity", "luhn_cards", "ann_int8_rerank",
          # r11: the overscan tuning knob (r10 verdict next-round #6) —
          # the entry's overscan=4 bracketed by 2 and 8; with the salted
          # candidate stage the int8 scan dominates, so cost should be
          # ~flat in overscan while recall rises (recall measured by
          # tools/int8_recall_probe.py into the same docstring table)
          "int8_over2", "int8_over8",
          "ccnet_assign", "cluster_split",
          # r11: the composite gate funnel (quality + Gopher-structural
          # + Luhn card scan + one source aggregate — expected ~linear,
          # shuffle ~flat at source count)
          "corpus_gate",
          # r10: per-label centroid moments (one posexplode aggregate
          # carries the corpus — expected ~linear, shuffle ~flat at
          # labels x dims) + the fertility scan
          "embedding_drift", "pretoken_fertility", "gopher_gate",
          # r8 wave 2: the k-group/parametric/correlation tests (moment
          # aggregates and per-key rank windows — expected ~linear)
          "welch_ttest", "spearman_drift", "kruskal_wallis",
          # r8 wave 3: autocorrelation (bounded per-key day-span folds),
          # always-valid mSPRT (pure moments) and Heaps vocab growth
          # (two map-side groupBys + checkpoint-sized everything)
          "acf_daily", "msprt", "heaps_law", "conformal_nb",
          "gini_spend", "cochran_armitage", "srm_check", "did"]


def _span_query(via: str):
    """Standalone span_dedup probe (both shuffle strategies) on the same
    planted-copy corpus the suite's dedup_exact entry uses."""
    def q(spark, sf_dir):
        from melt_spark.functions.dedup import span_dedup
        from melt_spark.sources.parquet import read_table

        docs = read_table(spark, sf_dir, "documents")
        copy = docs.withColumn("doc_id", F.col("doc_id") + F.lit(1 << 40))
        return span_dedup(docs.unionByName(copy), k=8, via=via)
    return q


def _semantic_query(coarse_group):
    def q(spark, sf_dir):
        from melt_spark.functions.semantic import semantic_dedup
        from melt_spark.sources.parquet import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        return semantic_dedup(emb, threshold=0.3, every=50,
                              coarse_group=coarse_group)
    return q


def _knn_coarse_query():
    """knn_graph with the two-level coarse assignment — the O(N*sqrt(k))
    scale path vs the exact O(N*k) assignment (the 64x probe showed
    exact assign dominating; same head-to-head as semantic_dedup vs
    semantic_dedup_coarse)."""
    def q(spark, sf_dir):
        from melt_spark.functions.similarity import knn_graph
        from melt_spark.sources.parquet import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        return knn_graph(emb, m=8, every=50, coarse_group=16)
    return q


def _graph_ann_coarse_query():
    """Beam search over the COARSE-built kNN graph — the full graph-ANN
    stack on its 100 TB build path."""
    def q(spark, sf_dir):
        from pyspark.sql import functions as FF

        from melt_spark.functions.similarity import (graph_ann_search,
                                                     knn_graph)
        from melt_spark.sources.parquet import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        edges = knn_graph(emb, m=8, every=50, coarse_group=16)
        return graph_ann_search(emb, emb.filter(FF.col("vec_id") < 5),
                                edges, k=10, beam=10, rounds=2)
    return q


def _mw_skew_query():
    """Deliberately skewed Mann-Whitney key (r7 verdict next-round #3):
    ALL events collapse onto one test key, the worst case for exact
    per-key ranks — probed through the bucketed hatch (max_exact_rows=0)
    to show per-key cost is n_buckets aggregates, not a one-task sort."""
    def q(spark, sf_dir):
        from melt_spark.functions.hypothesis import mann_whitney_u
        from melt_spark.functions.sketches import kmv_hash
        from melt_spark.sources.parquet import read_table

        ev = read_table(spark, sf_dir, "events")
        base = ev.select(
            F.lit("all").alias("k"),
            F.round(F.col("value") * 100).cast("bigint").alias("v"),
            (kmv_hash(F.col("user_id")) % 2).cast("int").alias("g"))
        return mann_whitney_u(base, ["k"], "v", "g",
                              max_exact_rows=0, n_buckets=256)
    return q


def _domain_hot_query():
    """Deliberately hot domain (r8 verdict watch-item #4): ALL documents
    on one origin, the worst case for the per-domain cap — probed through
    the salted two-level top-k hatch to show the rank cost is n_salts
    flat tasks plus a bounded survivor rank, not a one-task sort of the
    whole origin."""
    def q(spark, sf_dir):
        from melt_spark.functions.provenance import (domain_gate,
                                                     domain_profile)
        from melt_spark.sources.parquet import read_table

        docs = read_table(spark, sf_dir, "documents").withColumn(
            "url", F.concat(F.lit("https://onehot.example.com/p/"),
                            F.col("doc_id").cast("string")))
        gated = domain_gate(docs, "url", ["blocked.example.org"],
                            max_per_domain=4)
        return domain_profile(gated)
    return q


def _ccnet_hot_query():
    """Deliberately hot source (r9 verdict what's-wrong #1): ALL
    documents in ONE ccnet group — the worst case for the per-source
    tercile cut — probed through the r10 global_order_scan hatch to
    show the rank cost is a balanced range shuffle on (avg_nll, id)
    plus a one-row broadcast, not a one-task sort of the whole source."""
    def q(spark, sf_dir):
        from melt_spark.functions.lm import ccnet_buckets
        from melt_spark.sources.parquet import read_table

        docs = (read_table(spark, sf_dir, "documents")
                .withColumn("source", F.lit("onehot")))
        return ccnet_buckets(docs)
    return q


def _int8_query(overscan: int):
    """int8 scan+rerank at a non-default overscan — the tuning curve a
    user consults before widening the quantizer (r10 verdict #6)."""
    def q(spark, sf_dir):
        from melt_spark.functions.similarity import int8_rerank_topk
        from melt_spark.sources.parquet import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        return int8_rerank_topk(
            emb, emb.filter(F.col("vec_id") < 5).limit(5),
            k=10, overscan=overscan)
    return q


# Hand-built probes: alternative strategies, non-default knobs and
# deliberately skewed inputs. Every other probe is a registry name. A
# hand-built probe shadows a registry name of its own (semantic_dedup
# probes the exact single-level assign at fixed knobs, beside _coarse).
CUSTOM = {"span_dedup_digest": _span_query("digest"),
          "span_dedup_text": _span_query("text"),
          "semantic_dedup": _semantic_query(None),
          "semantic_dedup_coarse": _semantic_query(16),
          "knn_graph_coarse": _knn_coarse_query(),
          "graph_ann_coarse": _graph_ann_coarse_query(),
          "int8_over2": _int8_query(2),
          "int8_over8": _int8_query(8),
          "mw_bucketed_skew": _mw_skew_query(),
          "domain_gate_hot": _domain_hot_query(),
          "ccnet_hot": _ccnet_hot_query()}


def probe_plans() -> dict:
    """name -> fn(spark, sf_dir): every registry name (a merged entry
    shadows its same-named constituent), with CUSTOM over both."""
    from melt_spark.plans.registry import all_named

    return {**all_named(), **CUSTOM}


def time_queries(spark, sf_dir: str, names, runs: int = 1):
    """{name: (best sec, shuffle write MB)}: bench_some.measure's min over
    `runs`, and the shuffle write bytes of the FIRST (cold) run, summed
    over its construction and execution jobs."""
    plans = probe_plans()
    out = {}
    for name in names:
        m = measure(spark, plans[name], sf_dir, runs)
        written = sum(m[span]["shuffle_write_bytes"]
                      for span in ("construct", "exec"))
        out[name] = (round(m["min"], 2), round(written / 1e6, 1))
        spark.catalog.clearCache()
    return out


def main() -> None:
    """Incremental: each invocation times any not-yet-recorded probes into
    docs/SCALING.json (so long runs resume across invocations), then
    renders docs/SCALING.md from whatever is recorded. Pass probe names as
    extra args to restrict one invocation to those queries."""
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = sys.argv[3:] or PROBES
    big_dir = f"/tmp/scale_probe_{n}x"
    docs = Path(__file__).resolve().parent.parent / "docs"
    # each replication factor gets its OWN json+md pair: a 64x run must
    # never clobber the 16x table (the round-over-round regression
    # signal) — the round-6 SCALING.md loss was exactly that
    suffix = "" if n == 16 else f"_{n}x"
    state_path = docs / f"SCALING{suffix}.json"
    md_path = docs / f"SCALING{suffix}.md"
    empty = {"n": n, "base": {}, "big": {},
             "shuffle_base": {}, "shuffle_big": {}}
    state = (json.loads(state_path.read_text())
             if state_path.exists() else dict(empty))
    if state.get("n") != n or "shuffle_base" not in state:
        # stale state (different replication factor, or pre-shuffle-metric
        # format) would render a SCALING.md with fabricated rows — start over
        state = dict(empty)

    missing = [name for name in only
               if name not in state["base"] or name not in state["big"]]
    if missing:
        from melt_spark.session import get_spark

        spark = get_spark("scale-probe")
        if not Path(big_dir, "documents.parquet").exists():
            replicate(spark, sf_dir, big_dir, n)

    for name in missing:
        for scale_key, shuffle_key, data_dir, runs in (
                ("base", "shuffle_base", sf_dir, 2),
                ("big", "shuffle_big", big_dir, 1)):
            if name not in state[scale_key]:
                res = time_queries(spark, data_dir, [name], runs=runs)
                sec, mb = res[name]
                state[scale_key][name] = sec
                state[shuffle_key][name] = mb
                state_path.write_text(json.dumps(state, indent=1))

    base, big = state["base"], state["big"]
    sh_base, sh_big = state["shuffle_base"], state["shuffle_big"]
    # render EVERY recorded probe (PROBES order first, any extras after):
    # the markdown table is a pure view of the json — tests pin the two
    done = [k for k in PROBES if k in base and k in big]
    done += sorted(k for k in base if k in big and k not in PROBES)
    ratios = {k: round(big[k] / base[k], 2) if base[k] > 0 else None
              for k in done}
    lines = [
        (f"# Scaling probe at {n}x (generated by tools/scale_probe.py"
         + ("" if n == 16 else f" {n}; companion to SCALING.md's 16x table")
         + ")"),
        "",
        f"Rows ×{n} on documents/lineitem/orders (shifted keys, replica-",
        "salted shingles — see replicate()), same local[*] box: fixed",
        f"cores, so ideal linear scaling shows ratio ≈ {n} once overheads",
        f"amortize; sub-{n} = overhead-dominated; super-linear = quadratic",
        "candidate blowup or a collapsed partition. Shuffle = total shuffle",
        ("WRITE bytes across the query's stages (Spark status store), "
         "cold run."),
        "",
        f"| query | 1× sec | {n}× sec | ratio | 1× shuffle MB "
        f"| {n}× shuffle MB |",
        "|---|---|---|---|---|---|",
    ]
    for k in done:
        lines.append(f"| {k} | {base[k]} | {big[k]} | {ratios[k]} "
                     f"| {sh_base.get(k)} | {sh_big.get(k)} |")
    lines += [
        "",
        "## Reading the r4 rows",
        "",
        "- `span_dedup_digest` vs `_text`: the digest path halves shuffle",
        "  BYTES (37.9 vs 78.9 MB) at higher CPU (md5 per span). On",
        "  local[*] with in-memory shuffle the text path can win wall-clock;",
        "  on a real cluster the network is the scarce resource — the bytes",
        "  column is the 100 TB-relevant one.",
        "- `semantic_dedup` vs `_coarse`: single-level centroid assign is",
        "  O(N·k); with cluster count k ∝ corpus (the SemDeDup regime) that",
        "  is the operator's quadratic term — the super-linear ratio is the",
        "  honest baseline, kept on purpose. The two-level coarse quantizer",
        "  (ivf.two_level_assign, O(N·√k)) is the scale path and probes",
        "  sub-linear.",
        "- `clean_corpus` 16× shuffle ≈ its 1× shuffle: after the digest",
        "  sweep the only corpus-sized exchange left is the input-",
        "  parallelization repartition (single-file fixture); every",
        "  dedup/decontamination exchange ships 8-byte digests.",
        "- Wall-clock on this VM swings up to ~3× between sessions at equal",
        "  code (see NOTES.md); the shuffle-bytes columns are stable and",
        "  are the primary regression signal.",
        "",
        "## Reading the r4b rows",
        "",
        "- `lm_perplexity`: model + scoring exchanges ship xxhash64 digests",
        "  (bigram text never shuffles — same discipline as span_dedup);",
        "  the remaining shuffle bytes are the per-doc (idx, nll) fold rows",
        "  of the scoring aggregation. The big-run seconds are a min-of-3",
        "  head-to-head (15.4/18.1/26.4 — the VM noise note above applies).",
        "- `cms_user_counts` ~2.3× at 16× rows and ~2× shuffle bytes: the",
        "  sketch's map-side combine caps every task's shuffle at d×w",
        "  cells, so the exchange is per-task-constant — the ratio is task",
        "  count, not data volume.",
        "- `gapfill_hourly` shuffle is flat 0.1 MB: the spine/window work",
        "  is keyed by (event_type, bucket) — series count × bucket span,",
        "  independent of event multiplicity per bucket.",
        "",
        "## Reading the r5 wave-3 rows",
        "",
        "- `nb_classify` ~linear (≈16× at 16× rows): model building and",
        "  scoring are both one pass over the exploded token table — the",
        "  honest corpus-proportional cost; all exchanges carry xxhash64",
        "  digests + counts, never token text.",
        "- `kmeans_train` ZERO shuffle bytes at both scales: assignment is",
        "  a broadcast-centroid projection and the update aggregation's",
        "  map-side combine leaves k·d rows per task — the fixed-size-",
        "  shuffle claim of the module docstring, verified.",
        "- `hits` / `ewma` near-flat: the purchase graph's distinct",
        "  (cust, supp) edge set and the per-type hourly bucket count both",
        "  SATURATE under replication (orderkeys shift, cust/supp keys and",
        "  the time range do not) — these probes show per-iteration",
        "  overhead, not edge-linear growth; hits' edge-linear term is the",
        "  two sum shuffles, bounded the same way pagerank's are.",
        "- `containment` 6.7× — same capped inverted index as the jaccard",
        "  row; the df cap keeps replica-salted shingles from pairing",
        "  across replicas, so candidate pairs grow linearly.",
        "- `greedy_coverage` 12×: k passes over the (id, gram-digest)",
        "  table; the covered-set broadcast stays k-documents small at any",
        "  corpus size.",
        "",
    ]
    hub_path = docs / "BUTTERFLY_HUB.json"
    if hub_path.exists():
        hb = json.loads(hub_path.read_text())
        lines += [
            "## Butterfly planted-hub skew probe "
            "(tools/butterfly_hub_probe.py)",
            "",
            f"One hub left-vertex of degree {hb['hub_degree']} planted in",
            f"{hb['n_background']} background vertices "
            f"({hb['n_edges']} edges). 'Unsalted' = bucket_size > hub",
            "degree (the r4 single-bucket plan).",
            "",
            "| variant | best s | butterflies | max pairs/join key "
            "| mean pairs/key | keys |",
            "|---|---|---|---|---|---|",
        ]
        for tag in ("unsalted", "salted_1024"):
            o = hb["results"][tag]
            lines.append(
                f"| {tag} | {o['sec']} | {o['butterflies']} "
                f"| {o['max_pairs_per_key']:,} "
                f"| {o['mean_pairs_per_key']:,} | {o['join_keys']} |")
        un = hb["results"]["unsalted"]
        sa = hb["results"]["salted_1024"]
        ratio = round(un["max_pairs_per_key"] / sa["max_pairs_per_key"], 1)
        lines += [
            "",
            f"Reading: identical counts; the hub's C(d,2) wedges drop from",
            f"ONE join key to ~{ratio}× smaller per-key maxima (bounded by",
            "~bucket_size² as buckets fill). The salted variant pays a",
            "~1.4× wall tax on local[32] (replication + wider keys) — the",
            "balance column is the 100 TB-relevant one: a 10^5-degree hub",
            "unsalted is 5×10^9 pairs materializing through a single",
            "task's aggregation state, which no executor survives, while",
            "salted caps every task at ~bucket_size² pairs.",
            "",
        ]
    bpe_path = docs / "BPE_ROUNDS.json"
    if bpe_path.exists():
        bp = json.loads(bpe_path.read_text())
        lines += [
            f"## BPE merge-round cost at {bp['rounds']} rounds "
            "(tools/bpe_probe.py)",
            "",
            "Per-round wall time with eager per-round checkpointing (the",
            "production pattern at thousand-round vocabularies). Claim:",
            "after the first shuffle builds the word-frequency table,",
            "round cost is bound by the VOCABULARY, not the corpus.",
            "",
            "| corpus | vocab words | setup s | mean s/round "
            "| rounds 1-4 mean | rounds 29-32 mean |",
            "|---|---|---|---|---|---|",
        ]
        for key, label in (("base", "sf0.1 (1×)"), ("big16x", "16×")):
            if key in bp:
                o = bp[key]
                lines.append(
                    f"| {label} | {o['vocab_words']} | {o['setup_sec']} "
                    f"| {o['round_mean_sec']} | {o['rounds_1_4_mean']} "
                    f"| {o['rounds_29_32_mean']} |")
        lines += [
            "",
            "Reading: per-round cost at 16× corpus ≈ per-round cost at",
            "1× (the word table grows only with vocabulary), and the",
            "29-32 vs 1-4 means show no lineage growth across rounds —",
            "checkpointing keeps round cost CONSTANT, so production",
            "round counts scale linearly in rounds, not corpus.",
            "",
        ]
    ab_path = docs / "AB_CLEAN_CORPUS.json"
    if ab_path.exists():
        ab = json.loads(ab_path.read_text())
        lines += [
            "## clean_corpus r3-vs-r4 plan head-to-head "
            "(tools/ab_clean_corpus.py at commit b26f2ed)",
            "",
            "Same session, same constituents (pipeline_suite.q_clean_corpus",
            "only — no mixture_weights on either side), runs alternating",
            "B/A/B/A so box drift cancels. r3 = text-keyed shingle plan",
            "(commit 013a223); r4 = digest-keyed cached-explode plan.",
            "",
            "| scale | plan | best s | all runs s | shuffle MB (per run) |",
            "|---|---|---|---|---|",
        ]
        for scale, rec in sorted(ab.items()):
            for tag, label in (("r3", "r3 text"), ("r4", "r4 digest")):
                o = rec[tag]
                lines.append(
                    f"| {scale} | {label} | {o['best_sec']} "
                    f"| {o['times_sec']} | {o['shuffle_mb']} |")
        lines += [
            "",
            "Verdict: the digest plan's shuffle is SCALE-FLAT (17.3 MB at",
            "sf0.1 → 15.8 MB at 16×) while the text plan's grows 18.5×",
            "(4.9 → 90.9 MB); wall-clock crosses over between 1× and 16×",
            "(digest 1.18× slower at sf0.1, 1.7× FASTER at 16×). The",
            "digest plan is kept: its toy-scale cost is the fixed overhead",
            "of per-shingle hashing, and the bytes/wall curves both bend",
            "its way exactly where a 100 TB run lives.",
            "",
        ]
    md_path.write_text("\n".join(lines))
    print(json.dumps({"n": n, "base": base, "big": big, "ratios": ratios,
                      "shuffle_base": sh_base, "shuffle_big": sh_big}))


if __name__ == "__main__":
    main()
