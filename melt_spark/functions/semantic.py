"""SemDeDup-style semantic deduplication over embedding columns.

MinHash/SimHash (dedup.py) catch *lexical* near-duplicates; training
corpora also carry *semantic* duplicates — paraphrases, translations,
boilerplate rewrites — that share almost no n-grams. The published recipe
(Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication", arXiv:2303.09540) is:

    1. k-means-cluster the embeddings,
    2. within each cluster compute pairwise cosine similarity,
    3. in each group of mutual near-duplicates keep ONE exemplar — the
       member with the LOWEST similarity to its centroid (the least
       "prototypical" example carries the most marginal information).

Spark-first shape (shares the IVF machinery, functions/ivf.py):

    assign:  corpus x broadcast(centroids) -> max_by argmax; the corpus
             shuffles ONCE, on cluster id.
    pairs:   cluster-local self-join — candidate generation is bounded by
             the largest cluster, never corpus x corpus. At 100 TB, pick
             k ~ N / desired_cluster_size so clusters stay O(10^3-10^4)
             vectors; skewed clusters can be sub-split by re-clustering
             (the paper does the same).
    keep:    pure relational dominance test, no iteration.

Keep-rule semantics: a vector is DROPPED iff some same-cluster vector
within `threshold` cosine *dominates* it — i.e. sorts earlier by
(centroid_sim ASC, id ASC). This keeps every minimal element of the
near-dup relation. It is deliberately the *pairwise* (non-transitive)
variant: an eps-chain a-b-c with cos(a,c) < eps keeps {a, c}, where the
paper's connected-component variant would keep {a} only. The pairwise rule
is one relational pass (no fixpoint), strictly more conservative (never
drops more), and composes with duplicate_groups() (dedup.py label
propagation) when full transitive grouping is wanted.

Determinism / oracle parity: centroids are the deterministic every-Nth
choice (ivf.deterministic_centroids) so the whole operator restates in
ANSI SQL; cosine is a left-to-right double fold + IEEE sqrt, bit-equal in
Spark and DuckDB (see similarity.py header). Swap in kmeans_centroids()
for trained clusters without touching the plan.

Reference parity note: the reference engine (reifying/melt) has no
semantic-dedup surface; this extends the corpus-pipeline family the same
way BM25/MinHash do (driver brief: training-data operators are first-class
alongside SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ivf import deterministic_centroids, ivf_assign
from .similarity import cosine


def semantic_dedup(corpus: DataFrame, threshold: float = 0.3,
                   every: int = 50, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids: DataFrame | None = None,
                   coarse_group: int | None = None) -> DataFrame:
    """Per-vector semantic-dedup verdict: (id, cluster, centroid_sim,
    is_dup). is_dup = 1 iff a dominating same-cluster neighbor sits within
    `threshold` cosine (see module docstring for the keep rule).

    threshold is data-dependent config: the synthetic embeddings corpus
    tops out at ~0.48 within-cluster cosine, so 0.3 (~p99) exercises a
    real drop set at every SF; production text embeddings run ~0.95+.

    coarse_group: when set, assignment goes through the two-level coarse
    quantizer (ivf.two_level_assign) — O(N*sqrt(k)) instead of O(N*k).
    With cluster count k proportional to corpus size (the SemDeDup
    regime), single-level assign is the operator's quadratic term; at
    100 TB always set this (group ~ sqrt(k)). Assignment becomes
    approximate, so the default (None) stays the oracle-checked exact
    path."""
    from .ivf import two_level_assign

    cents = centroids if centroids is not None else \
        deterministic_centroids(corpus, every, id_col, vec_col)
    if coarse_group:
        assigned = two_level_assign(corpus, cents, coarse_group,
                                    id_col, vec_col)
    else:
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
    # pinned for this call: the centroid-scoring crossJoin behind
    # `assigned` is the expensive pass, and member feeds BOTH sides of the
    # pair self-join plus the final verdict join — unpinned it would run
    # three times (localCheckpoint, not cache(), so a later call over
    # rewritten input never reads stale rows)
    member = (assigned.join(F.broadcast(cents), "list_id")
              .withColumn("csim", cosine(F.col("v"), F.col("centroid")))
              .select("list_id", F.col(id_col), "v", "csim")
              .localCheckpoint())

    a = member.alias("a")
    b = (member.select("list_id", F.col(id_col).alias("b_id"),
                       F.col("v").alias("b_v"),
                       F.col("csim").alias("b_csim")).alias("b"))
    # cluster-local candidate pairs; dominance = earlier (csim, id) order
    dominated = (a.join(b, "list_id")
                 .filter((F.col("b_csim") < F.col("csim"))
                         | ((F.col("b_csim") == F.col("csim"))
                            & (F.col("b_id") < F.col(id_col))))
                 .filter(cosine(F.col("v"), F.col("b_v")) >= threshold)
                 .select(id_col).distinct()
                 .withColumn("is_dup", F.lit(1)))

    return (member.join(dominated, id_col, "left")
            .select(id_col, "list_id", "csim",
                    F.coalesce("is_dup", F.lit(0)).alias("is_dup")))


def semantic_dedup_summary(verdicts: DataFrame,
                           id_col: str = "vec_id") -> DataFrame:
    """Per-cluster retention profile: members, drops, kept exemplar
    (lowest-centroid-sim survivor — the paper's exemplar definition)."""
    kept = verdicts.filter(F.col("is_dup") == 0)
    exemplar = kept.groupBy("list_id").agg(
        F.min_by(id_col, F.struct("csim", F.col(id_col)))
        .alias("exemplar_id"))
    counts = verdicts.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("is_dup").alias("n_dropped"))
    return counts.join(exemplar, "list_id")
