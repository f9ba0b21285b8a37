"""spark-submit entry point: graph analytics over the constructed KG.

Reads either a ready edge list (parquet with src, dst[, weight]) or a
(basket, item) co-occurrence table (e.g. the KG sink's (doc_id,
subj_id) mention pairs, or orders x parts) and materializes the graph
signal tables downstream curation consumes:

  pagerank/   (node, degree, pr)       entity salience
  triangles/  (node, n_triangles)      local clustering
  khop/       (node, hop)              seed-expansion neighborhoods
  components/ (node, component)        dedup/cluster ids
  communities/(node, label)            label-propagation communities
  walks/      (walk_id, start_node, step, node)  DeepWalk corpus
  hits/       (node, hub, auth)        directed hub/authority scores
  ppr/        (node, degree, pr)       seed-personalized PageRank
  clustering/ (node, degree, n_triangles, cc)   local clustering coeff
  closure/    (src, dst, depth)        bounded transitive closure
  linkpred/   (a, b, n_common, aa)     Adamic-Adar link prediction
  _metrics.json                        row counts + parameters

    ./scripts/make_pyfiles.sh
    spark-submit --master local[8] --py-files dist/generative_ner_spark.zip \
        jobs/graph_analytics.py --edges /data/edges -o /tmp/graph \
        --pagerank --triangles --khop-seeds /data/seeds --khop 3

Scale notes are in operators/graph.py. The canonical edge frame is
persisted here, so the stages don't re-read the input. Each stage builds
one of two edge forms from it: the symmetric adjacency partitioned and
sorted by src (undirected operators), or the distinct directed list
partitioned by src (hits, closure). It derives what else it needs from
that form and releases its caches before the next stage. PageRank and
personalized PageRank share one loop with ONE Exchange per iteration,
triangles are degree-oriented, BFS is frontier-only.
"""

from __future__ import annotations

import argparse
import json
import os


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="KG graph analytics")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--edges", help="parquet dir with (src, dst[, weight])")
    src.add_argument("--baskets",
                     help="parquet dir with a (basket, item) table to "
                          "build co-occurrence edges from")
    ap.add_argument("--basket-cols", default="basket,item",
                    help="basket/item column names, e.g. doc_id,subj_id")
    ap.add_argument("--max-basket", type=int, default=1024,
                    help="drop baskets larger than this (quadratic cap)")
    ap.add_argument("--output", "-o", required=True)
    ap.add_argument("--pagerank", action="store_true")
    ap.add_argument("--iterations", type=int, default=5)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--triangles", action="store_true")
    ap.add_argument("--khop-seeds", default=None,
                    help="parquet dir with a (node) seed table")
    ap.add_argument("--khop", type=int, default=3)
    ap.add_argument("--components", action="store_true")
    ap.add_argument("--communities", action="store_true",
                    help="label-propagation communities")
    ap.add_argument("--lpa-iterations", type=int, default=3)
    ap.add_argument("--walks", type=int, default=0,
                    help="random walks per node (0 = off)")
    ap.add_argument("--walk-len", type=int, default=4)
    ap.add_argument("--walk-salt", default="walk")
    ap.add_argument("--hits", action="store_true",
                    help="directed hub/authority scores (edges read as "
                         "src -> dst)")
    ap.add_argument("--hits-iterations", type=int, default=2)
    ap.add_argument("--ppr-seeds", default=None,
                    help="parquet dir with a (node) seed table: "
                         "personalized PageRank toward these seeds")
    ap.add_argument("--clustering", action="store_true",
                    help="per-node local clustering coefficient")
    ap.add_argument("--closure", type=int, default=0,
                    metavar="DEPTH",
                    help="bounded transitive closure to this depth "
                         "(directed; 0 = off)")
    ap.add_argument("--link-predict", action="store_true",
                    help="Adamic-Adar scores for non-adjacent 2-hop pairs")
    ap.add_argument("--link-min-score", type=float, default=0.0)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("graph-analytics").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from generative_ner_spark.operators import graph

    metrics: dict = {
        "iterations": args.iterations, "damping": args.damping,
        "khop": args.khop, "max_basket": args.max_basket,
    }
    if args.edges:
        edges = spark.read.parquet(args.edges).select("src", "dst")
    else:
        bcol, icol = (c.strip() for c in args.basket_cols.split(","))
        cap_metrics: dict = {}
        edges = graph.cooccurrence_edges(
            spark.read.parquet(args.baskets), bcol, icol,
            max_basket=args.max_basket, metrics=cap_metrics)
        metrics.update(cap_metrics)
    edges = edges.persist()
    metrics["n_edges"] = edges.count()

    if args.pagerank:
        out = os.path.join(args.output, "pagerank")
        graph.pagerank(edges, n_iter=args.iterations,
                       damping=args.damping
                       ).write.mode("overwrite").parquet(out)
        metrics["pagerank_rows"] = spark.read.parquet(out).count()
    if args.triangles:
        out = os.path.join(args.output, "triangles")
        graph.triangle_counts(edges).write.mode(
            "overwrite").parquet(out)
        metrics["triangle_rows"] = spark.read.parquet(out).count()
    if args.khop_seeds:
        seeds = spark.read.parquet(args.khop_seeds)
        out = os.path.join(args.output, "khop")
        graph.khop_neighbors(
            edges, seeds, k=args.khop, node_col=seeds.columns[0]
        ).write.mode("overwrite").parquet(out)
        metrics["khop_rows"] = spark.read.parquet(out).count()
    if args.components:
        out = os.path.join(args.output, "components")
        graph.components(edges).write.mode("overwrite").parquet(out)
        metrics["component_rows"] = spark.read.parquet(out).count()
    if args.communities:
        out = os.path.join(args.output, "communities")
        graph.label_propagation(
            edges, n_iter=args.lpa_iterations
        ).write.mode("overwrite").parquet(out)
        metrics["community_rows"] = spark.read.parquet(out).count()
    if args.walks > 0:
        out = os.path.join(args.output, "walks")
        graph.random_walks(
            edges, walk_len=args.walk_len, walks_per_node=args.walks,
            salt=args.walk_salt,
        ).write.mode("overwrite").parquet(out)
        metrics["walk_rows"] = spark.read.parquet(out).count()

    if args.hits:
        out = os.path.join(args.output, "hits")
        graph.hits(edges, n_iter=args.hits_iterations).write.mode(
            "overwrite").parquet(out)
        metrics["hits_rows"] = spark.read.parquet(out).count()
    if args.ppr_seeds:
        seeds = spark.read.parquet(args.ppr_seeds)
        seeds = seeds.select(seeds.columns[0]).toDF("node")
        out = os.path.join(args.output, "ppr")
        graph.personalized_pagerank(
            edges, seeds, n_iter=args.iterations, damping=args.damping,
        ).write.mode("overwrite").parquet(out)
        metrics["ppr_rows"] = spark.read.parquet(out).count()
    if args.clustering:
        out = os.path.join(args.output, "clustering")
        graph.clustering_coefficient(edges).write.mode(
            "overwrite").parquet(out)
        metrics["clustering_rows"] = spark.read.parquet(out).count()
    if args.closure > 0:
        out = os.path.join(args.output, "closure")
        graph.bounded_closure(edges, max_depth=args.closure).write.mode(
            "overwrite").parquet(out)
        metrics["closure_rows"] = spark.read.parquet(out).count()
    if args.link_predict:
        out = os.path.join(args.output, "linkpred")
        graph.adamic_adar(
            edges, min_score=args.link_min_score,
        ).write.mode("overwrite").parquet(out)
        metrics["linkpred_rows"] = spark.read.parquet(out).count()

    edges.unpersist()
    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "_metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1, sort_keys=True)
    print(json.dumps(metrics, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
