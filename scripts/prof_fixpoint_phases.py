"""Decompose the KG pipeline's fixpoint window into phases: dict build,
encode, seed, seed scan, loop, derived+decode+count. Mirrors infer_df."""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("RIFY_SCALING_CPUS", "8"))
CORPUS_PATH = os.environ.get(
    "RIFY_SCALING_CORPUS", "/tmp/rify_scaling_corpus_10000x10"
)


def main() -> None:
    from rify_spark import dictionary as D
    from rify_spark.extract.canonicalize import canonicalize_quads
    from rify_spark.extract.code import assert_sha256, extract_triples
    from rify_spark.infer import InferConfig, derived_facts, fixpoint, seed_facts
    from rify_spark.pipeline import candidate_links, code_ontology_rules, link_mapping
    from rify_spark.rules import lower_rule
    from rify_spark.session import get_spark

    spark = get_spark(
        master=f"local[{CPUS}]", app_name=f"prof-phases-{CPUS}",
        shuffle_partitions=2 * CPUS,
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for k in ("spark.sql.codegen.wholeStage", "spark.sql.adaptive.enabled"):
        spark.conf.set(k, "false")

    t = {}
    t0 = time.time()
    code_files = assert_sha256(spark.read.parquet(CORPUS_PATH))
    triples = extract_triples(code_files).localCheckpoint(eager=False)
    t1 = time.time(); t["plan_extract"] = t1 - t0
    links = candidate_links(triples, 0.99).localCheckpoint(eager=False)
    mapping = link_mapping(links)
    t2 = time.time(); t["link_map"] = t2 - t1
    canonical = canonicalize_quads(triples, mapping).localCheckpoint(eager=True)
    t3 = time.time(); t["canonical_ckpt"] = t3 - t2

    rules = code_ontology_rules()
    cfg = InferConfig(input_deduped=True)
    bound_strs = list(dict.fromkeys(s for r in rules for s in r.bound_terms()))
    const_ids = D.hash_terms(spark, bound_strs)
    facts_in = D.encode_quads(canonical)
    dict_df = D.build_dict_audited(spark, canonical, bound_strs)
    t4 = time.time(); t["dict_audit"] = t4 - t3
    lrules = [lower_rule(r, i, lambda s: const_ids[s]) for i, r in enumerate(rules)]
    facts0 = seed_facts(spark, facts_in, lrules, D.ID_TYPE, assume_deduped=True)
    res = fixpoint(spark, facts0, lrules, cfg, track_deltas=True)
    t5 = time.time(); t["fixpoint_loop"] = t5 - t4
    derived = derived_facts(spark, res, facts_in, lrules, D.ID_TYPE)
    derived = D.decode_quads(derived, dict_df)
    n = derived.count()
    t6 = time.time(); t["derived_decode_count"] = t6 - t5
    t["iter_walls"] = [m.get("wall_s") for m in res.metrics]
    t["iter_sum"] = sum(m.get("wall_s", 0) for m in res.metrics)
    t["total"] = t6 - t0
    t["derived"] = n
    print(json.dumps({k: (round(v, 2) if isinstance(v, float) else v) for k, v in t.items()}))


if __name__ == "__main__":
    main()
