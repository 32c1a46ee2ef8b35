"""Semantic deduplication by cluster-then-prune (SemDeDup).

The published method for pruning semantically redundant training
data (public method: Abbas et al. 2023, *SemDeDup: Data-efficient
learning at web-scale through semantic deduplication*): cluster the
embedding space with k-means, then inside each cluster drop all but
one member of every group of near-identical embeddings. Clustering
first is what makes the quadratic part tractable — cosine pairs are
only scored WITHIN a cluster, so the pair space is Σ|cluster|²
instead of |corpus|².

Spark-first composition of pieces this engine already has:

- **Cluster** — ``operators.similarity.ivf_build`` (deterministic
  hash-sampled seeds + Lloyd rounds, centroids collected driver-side
  as the bounded model artifact, assignment via broadcast-centroid
  argmax — zero shuffle beyond the scan).
- **Pair** — equi-join on ``list_id``: Catalyst runs a shuffle-hash
  join keyed on the cluster id, so each cluster's pair enumeration
  happens inside its own partition; AQE skew-splits a pathological
  mega-cluster. The cosine threshold prunes pairs immediately after
  the dot product (no pair list is ever materialized un-filtered).
- **Prune** — ``operators.dedup.dup_groups`` union-find (min-id
  keeper per connected component) — the same deterministic
  keep rule as the text-dedup ladder, so downstream curation logic
  treats text dups and semantic dups identically.

At 100 TB: clusters ≫ executors, so the ``list_id`` shuffle spreads
evenly (n_lists is a knob — SemDeDup's paper uses ~10⁴ clusters for
web scale); the only driver-side state is the n_lists×dim centroid
table. Approximate by construction (k-means); planted-ground-truth pytest
pins the semantics, and since round 6 the gate row is a FULL hash
oracle — the assignment table is the committed artifact and
DuckDB recomputes the prune half (pairs, recursive-CTE closure,
keepers) from it.

No reference parity: the reference (/root/reference/src/, 549-line
word-count) has no embedding surface; extension scope per SURVEY §2.5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducewordcount_spark.functions.vectors import cosine_from_norms, norm
from mapreducewordcount_spark.operators.dedup import dup_groups
from mapreducewordcount_spark.operators.similarity import ivf_build


def semantic_dedup(embeddings: DataFrame, n_lists: int = 16,
                   threshold: float = 0.8, kmeans_iters: int = 2,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """→ one row per vector: (vec_id, list_id, group_id, keep).

    ``group_id`` is the min id of the vector's semantic-dup component
    (its own id when it has no ≥-threshold neighbor in its cluster);
    ``keep`` = 1 iff the vector IS its component's keeper. Pairs that
    straddle clusters are invisible by design — that recall trade is
    the method (mitigate with more Lloyd rounds / higher n_lists,
    not with a cross-cluster join).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold={threshold} must be in (0, 1]")
    return semantic_dedup_from_assignments(
        semantic_assignments(embeddings, n_lists, kmeans_iters,
                             id_col, vec_col),
        embeddings, threshold, id_col, vec_col)


def semantic_assignments(embeddings: DataFrame, n_lists: int = 16,
                         kmeans_iters: int = 2, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """(id, list_id) cluster routing — SemDeDup's write-time half,
    split out so the gate query can commit it as an oracle
    artifact and a production pipeline can persist it partitioned by
    ``list_id`` (the index build runs once; pruning re-runs as
    thresholds change)."""
    assigned, _cent = ivf_build(embeddings, id_col, vec_col,
                                n_lists=n_lists, kmeans_iters=kmeans_iters)
    return assigned.select(F.col("neighbor_id").alias("id"), "list_id")


def semantic_dedup_from_assignments(assignments: DataFrame,
                                    embeddings: DataFrame,
                                    threshold: float = 0.8,
                                    id_col: str = "vec_id",
                                    vec_col: str = "embedding") -> DataFrame:
    """The prune half of SemDeDup over a PRE-COMPUTED (id, list_id)
    assignment table (built in-plan or a persisted index):
    within-cluster exact-cosine pairs → min-id components →
    (vec_id, list_id, group_id, keep). Everything here is plain
    joins/aggregates — which is what lets the DuckDB oracle recompute
    it end-to-end from the same assignment artifact."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold={threshold} must be in (0, 1]")
    base = (assignments
            .join(embeddings.select(F.col(id_col).alias("id"),
                                    F.col(vec_col).alias("vec"),
                                    norm(vec_col).alias("nrm")), "id")
            .select("list_id", "id", "vec", "nrm"))
    a = base.select("list_id", F.col("id").alias("a_id"),
                    F.col("vec").alias("a_vec"), F.col("nrm").alias("a_n"))
    b = base.select("list_id", F.col("id").alias("b_id"),
                    F.col("vec").alias("b_vec"), F.col("nrm").alias("b_n"))
    pairs = (a.join(b, "list_id")
             .filter(F.col("a_id") < F.col("b_id"))
             .withColumn("cos", cosine_from_norms("a_vec", "b_vec",
                                                  "a_n", "b_n"))
             .filter(F.col("cos") >= threshold)
             .select("a_id", "b_id"))
    groups = dup_groups(pairs)  # (doc_id, group_id) for paired ids only
    return (assignments
            .select(F.col("id").alias(id_col), "list_id")
            .join(groups.withColumnRenamed("doc_id", id_col),
                  id_col, "left")
            .withColumn("group_id",
                        F.coalesce("group_id", F.col(id_col)))
            .withColumn("keep",
                        (F.col(id_col) == F.col("group_id")).cast("int")))
