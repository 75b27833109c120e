"""Corpus-side decade-up probe (round 11; closes the r10 VERDICT
residual — the r10 probe covered only the relational surface).

Times the corpus-heavy registry rows (documents/embeddings consumers:
the dedup family, similarity/ANN family, text-model trainers, retrieval
eval) at sf0.1 and at the x10 fixture produced by tools/inflate_x10.py,
best-of-2 per scale, single JVM at 24 GB driver memory (the aggregate-
memory posture a 1000-executor cluster has and an 8 GB local JVM
understates). A first run above SKIP_SECOND_ABOVE seconds is not
repeated — brute-force-quadratic rows document themselves.

Usage: python tools/probe_corpus_x10.py [SF01_DIR] [X10_DIR]
Writes a markdown table to stdout; run uncontended (pgrep -cx java = 0).
"""

from __future__ import annotations

import os
import sys
import time

SF01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
X10 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfx1_r11"
SKIP_SECOND_ABOVE = 120.0
PER_QUERY_CAP = 600.0

ROWS = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_embedding_cosine",
    "text_bpe_train_merges",
    "text_plsa_topics",
    "text_bm25_retrieval",
    "text_unigram_lm_train",
    "decontaminate_against_eval",
    "similarity_ann_lsh",
    "similarity_ivf_topk",
    "similarity_ivfpq_topk",
    "kmeans_embeddings",
    "knn_self_join_exact",
    "pagerank_similarity_graph",
    "embedding_pca_project",
    "retrieval_mrr_eval",
]


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("corpus-x10-probe")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from emr_with_custom_metrics_spark.registry import all_specs

    specs = all_specs()

    def run_once(name: str, sf_dir: str) -> tuple[float, int] | str:
        t0 = time.time()
        try:
            n = specs[name].fn(spark, sf_dir).count()
        except Exception as exc:  # noqa: BLE001 — probe must survive any row
            return f"ERR {type(exc).__name__}"
        return (time.time() - t0, n)

    results = []
    for name in ROWS:
        per_scale = []
        for sf_dir in (SF01, X10):
            first = run_once(name, sf_dir)
            if isinstance(first, str):
                per_scale.append((first, None))
                continue
            best, n = first
            if best <= SKIP_SECOND_ABOVE:
                second = run_once(name, sf_dir)
                if not isinstance(second, str):
                    best = min(best, second[0])
            per_scale.append((best, n))
            print(f"  .. {name} @ {sf_dir}: {best if isinstance(best, str) else f'{best:.2f}s'} rows={n}", flush=True)
        results.append((name, per_scale))

    print("\n| row | sf0.1 | x10 | ratio | rows sf0.1 -> x10 |")
    print("|---|---|---|---|---|")
    for name, ((a, na), (b, nb)) in results:
        if isinstance(a, str) or isinstance(b, str):
            print(f"| {name} | {a} | {b} | — | {na} -> {nb} |")
        else:
            print(
                f"| {name} | {a:.2f} | {b:.2f} | {b / a:.1f}x | {na} -> {nb} |"
            )
    spark.stop()


if __name__ == "__main__":
    main()
