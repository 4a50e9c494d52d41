"""Scale probe for the link-graph operator: a power-law host graph (the
real web's shape — a few hub hosts receive a large share of all edges)
through `pagerank`, with wall time and per-iteration throughput.

The skew matters: a uniform random graph would never exercise the
hot-key paths the operator's docstring argues about.  Here host ids
are drawn zipf(1.5), so the top destination receives ~5-10% of ALL
edges (a reducer-skew landmine for any non-combinable plan).

Usage: python scripts/linkgraph_scale_probe.py [n_edges] [n_hosts] [cpus]
Writes BENCH/linkgraph_probe_<n_edges>_c<cpus>.json and prints it.

Weak-scaling evidence (the north rule's two-cluster-size criterion
applied to the graph op): run the probe at (N edges, c cores) and
(4N edges, 4c cores) — constant wall time = efficiency 1.0; the pair
of JSONs carries both walls.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_hosts = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    from pyspark.sql import functions as F

    from whoosh_novo_spark.operators.linkgraph import pagerank
    from whoosh_novo_spark.session import get_spark

    load0 = os.getloadavg()[0]
    spark = get_spark("wns-linkgraph-probe", cores=cpus, shuffle_partitions=cpus)
    os.makedirs("BENCH", exist_ok=True)

    # --- power-law host graph: src uniform-ish, dst zipf(1.5) ---------
    # inverse-CDF zipf via u^(-1/(s-1)) scaling, clamped to [0, n_hosts)
    edges = (
        spark.range(n_edges)
        .select(
            F.concat(
                F.lit("h"), (F.xxhash64("id") % n_hosts + n_hosts) % n_hosts
            ).alias("src"),
            F.concat(
                F.lit("h"),
                F.least(
                    F.lit(n_hosts - 1),
                    F.floor(
                        F.pow(
                            F.rand(seed=7) + 1e-12, F.lit(-2.0)
                        )  # zipf-ish tail, s=1.5
                    ),
                ),
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .persist()
    )
    m = edges.count()
    hot = (
        edges.groupBy("dst").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )

    t0 = time.time()
    pr = pagerank(edges, max_iter=10, tol=None)
    top = pr.orderBy(F.desc("rank")).limit(3).collect()
    pr_wall = time.time() - t0

    out = {
        "n_edges": m,
        "n_hosts": n_hosts,
        "cpus": cpus,
        "hot_dst_share": round(hot["count"] / m, 4),
        "pagerank_iters": 10,
        "pagerank_wall_sec": round(pr_wall, 1),
        "pagerank_edges_per_sec_per_iter": int(m * 10 / pr_wall),
        "pagerank_top3": [(r["node"], round(r["rank"], 6)) for r in top],
        "loadavg_start": round(load0, 2),
    }
    path = f"BENCH/linkgraph_probe_{n_edges}_c{cpus}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
