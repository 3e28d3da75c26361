"""A/B of the fixpoint's term representation: string terms (the default)
against the 128-bit dictionary ids (``InferConfig(encode_terms=True)``).

Runs perfbench's deep_closure call — ``infer_df`` with the two ancestry
rules (smart TC), derived quads written to parquet — over one random
recursive tree of RIFY_AB_TREE_N nodes (default 300,000; perfbench's
generator and seed 1), in one ``local[<cores>]`` session. The calls
alternate ABBA (encoded, strings, strings, encoded) by default; set
RIFY_AB_ORDER to another string of E/S letters. RIFY_AB_IRI_LEN=<n>
prefixes every node term with an IRI base of n characters (default 0:
perfbench's short ``node:<k>`` terms), for the long-IRI case. Both sides
must derive the same number of quads.

Prints one JSON line: {tree_n, iri_len, derived, walls: {"encoded": [...],
"strings": [...]}, order}.

    PYTHONPATH=. python scripts/encode_ab.py
    RIFY_AB_TREE_N=100000 RIFY_AB_IRI_LEN=160 PYTHONPATH=. python scripts/encode_ab.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

TREE_N = int(os.environ.get("RIFY_AB_TREE_N", "300000"))
ORDER = os.environ.get("RIFY_AB_ORDER", "ESSE")
IRI_LEN = int(os.environ.get("RIFY_AB_IRI_LEN", "0"))


def iri_base(n: int) -> str:
    """An IRI prefix of exactly ``n`` characters, ending in '/'."""
    return ("http://example.org/kg/" + "x" * n)[: n - 1] + "/"


def main() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import inputs
    from rify_spark.api import infer_df
    from rify_spark.infer import InferConfig
    from rify_spark.rules import Bound as B, Rule, Unbound as U
    from rify_spark.session import get_spark

    rules = [
        Rule.create(
            [[U("a"), B("parent"), U("b"), U("g")]],
            [[U("a"), B("ancestor"), U("b"), U("g")]],
        ),
        Rule.create(
            [
                [U("a"), B("ancestor"), U("b"), U("g")],
                [U("b"), B("ancestor"), U("c"), U("g")],
            ],
            [[U("a"), B("ancestor"), U("c"), U("g")]],
        ),
    ]

    work = tempfile.mkdtemp(prefix="rify_encode_ab_")
    spark = get_spark(
        master=f"local[{len(os.sched_getaffinity(0))}]",
        app_name="encode-ab",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        parent = inputs.tree_parents(TREE_N, 1)
        edges_path = os.path.join(work, "edges.parquet")
        edges = inputs.edge_table(np.arange(1, TREE_N), parent)
        if IRI_LEN > 0:
            base = pa.scalar(iri_base(IRI_LEN))
            for col in ("s", "o"):
                i = edges.schema.get_field_index(col)
                edges = edges.set_column(
                    i, col, pc.binary_join_element_wise(base, edges[col], "")
                )
        pq.write_table(edges, edges_path)
        cfgs = {"E": ("encoded", True), "S": ("strings", False)}
        walls: dict = {"encoded": [], "strings": []}
        derived_rows = set()
        for i, side in enumerate(ORDER):
            name, encode = cfgs[side]
            out = os.path.join(work, f"out{i}.parquet")
            t0 = time.perf_counter()
            derived, _ = infer_df(
                spark,
                spark.read.parquet(edges_path),
                rules,
                InferConfig(encode_terms=encode),
            )
            derived.write.mode("overwrite").parquet(out)
            walls[name].append(round(time.perf_counter() - t0, 1))
            derived_rows.add(spark.read.parquet(out).count())
        if len(derived_rows) != 1:
            raise AssertionError(f"sides disagree: {sorted(derived_rows)}")
        print(json.dumps({
            "tree_n": TREE_N,
            "iri_len": IRI_LEN,
            "derived": derived_rows.pop(),
            "walls": walls,
            "order": ORDER,
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
