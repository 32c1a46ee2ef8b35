#!/usr/bin/env python
"""IVF-PQ recall vs code size m (VERDICT r11 next#7, the second
axis): at fixed routing (n_probe=4 of 16 lists, refine=32), measure
recall@5 of the residual IVF-PQ shortlist against the exact cosine
scan for m ∈ {2, 4, 8, 16} — the bytes-per-vector knob. Prints a
markdown row per m for SCALE.md. Deterministic (hash-seeded), so the
table is a constant of the corpus, not a sample.

Usage: python tools/pq_m_sweep.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from mapreducewordcount_spark.operators import pq  # noqa: E402
from mapreducewordcount_spark.operators import similarity as sim  # noqa: E402
from mapreducewordcount_spark.session import get_spark  # noqa: E402
from mapreducewordcount_spark.sources.tables import load_table  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark("pq-m-sweep")
    emb = load_table(spark, SF, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    assigned, cent = sim.ivf_build(emb, n_lists=16, kmeans_iters=2)
    routed = sim.ivf_route(queries, cent, n_probe=4)
    exact = {(r.query_id, r.neighbor_id)
             for r in sim.cosine_topk(emb, queries, k=5)
             .select("query_id", "neighbor_id").collect()}
    n_q = queries.count()
    print(f"| m (bytes/vec) | recall@5 {Path(SF).name} |")
    print("|---|---|")
    for m in (2, 4, 8, 16):
        sl = pq.ivfpq_shortlist(assigned, cent, queries, routed,
                                m=m, refine=32)
        top5 = {(r.query_id, r.neighbor_id)
                for r in sim.shortlist_rerank(sl, emb, queries, k=5)
                .select("query_id", "neighbor_id").collect()}
        rec = len(top5 & exact) / (5 * n_q)
        print(f"| {m} | {rec:.2f} |")


if __name__ == "__main__":
    main()
