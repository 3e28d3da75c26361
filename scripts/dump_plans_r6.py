"""Dump .explain('formatted') for the headline + touched gate queries.

Usage: SPARK_GRAFT_CPUS=<n> python scripts/dump_plans_r6.py <out_dir> [suffix] [target ...]
(no targets: dump all of them)
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = sys.argv[1]
SUFFIX = sys.argv[2] if len(sys.argv) > 2 else "before"
ONLY = set(sys.argv[3:])


def main():
    from rify_spark.ops import dedup, quads, similarity, text
    from rify_spark.session import get_spark
    import __spark_entry__ as entrymod

    # master and shuffle width follow SPARK_GRAFT_CPUS (get_spark's
    # defaults: local[<cpus>], min(64, 2 * cpus) partitions)
    spark = get_spark(app_name="plan-dump")
    entrymod._ship(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    import tempfile
    corpus_path = os.path.join(tempfile.gettempdir(), "rify_bench_corpus_150x8")

    def kg_pipeline(s, d):
        from rify_spark.pipeline import run_pipeline
        return run_pipeline(s, s.read.parquet(corpus_path)).derived

    def _sparql_agg(s, d):
        from rify_spark.sparql import sparql_agg_count_gate
        return sparql_agg_count_gate(s, d)

    def _bfs(s, d):
        from rify_spark.ops.graph import graph_bfs_levels
        return graph_bfs_levels(s, d)

    def _kcore(s, d):
        from rify_spark.ops.graph import graph_kcore
        return graph_kcore(s, d)

    targets = {
        "ancestry_fixpoint": lambda s, d: quads.ancestry_closure(s, d),
        "kg_pipeline": kg_pipeline,
        "conjunctive_match": quads.conjunctive_match,
        "dedup_minhash": lambda s, d: dedup.minhash_signatures(docs),
        "dedup_lsh_pairs": lambda s, d: dedup.lsh_candidate_pairs(docs),
        "dedup_clusters": lambda s, d: dedup.neardup_clusters(docs),
        # the clusters plan starts at its edge checkpoint; this is its input
        "dedup_star_edges": lambda s, d: dedup._star_edges(docs),
        "text_quality": lambda s, d: text.quality_score(docs),
        "sparql_agg": _sparql_agg,
        "knn_bruteforce": lambda s, d: similarity.knn_bruteforce(emb),
        "knn_lsh": lambda s, d: similarity.knn_lsh(emb),
        "docs_pack": lambda s, d: text.pack_offsets(docs),
        "graph_bfs_levels": _bfs,
        "graph_kcore": _kcore,
    }
    os.makedirs(OUT, exist_ok=True)
    sc = spark.sparkContext
    for name, fn in targets.items():
        if ONLY and name not in ONLY:
            continue
        try:
            df = fn(spark, SF_DIR)
            txt = sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:  # noqa: BLE001
            txt = f"ERROR: {type(e).__name__}: {e}"
        with open(os.path.join(OUT, f"{name}_{SUFFIX}.txt"), "w") as f:
            f.write(txt)
        print("dumped", name, flush=True)


if __name__ == "__main__":
    main()
