"""End-to-end KG construction: code table -> canonical quads -> inference.

The north-star pipeline: read code_files(repo, path, commit, lang, content),
assert the sha256 ingest invariant, extract candidate triples with pandas
UDFs, score and keep entity links, canonicalize via connected components,
then run the rify-equivalent fixpoint with the code ontology rules.

Stage boundaries are all DataFrames, so each stage can be checkpointed to
parquet independently (resume mid-pipeline) and the fixpoint reuses
infer.py's iteration checkpoints.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field, replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .api import infer_df
from .extract.canonicalize import canonicalize_quads, scoped_components
from .extract.code import assert_sha256, extract_triples, link_score_udf
from .infer import InferConfig
from .rules import Bound as B, Rule, Unbound as U
from .session import scoped_conf, shuffle_width

DG_PRED = ["imports", "defines", "calls"]


def code_ontology_rules() -> list:
    """Inference rules over extracted code triples.

    The transitive ``depends_on`` closure is exactly the reference's
    ancestry-rule shape (src/infer.rs:127-139) applied to module graphs.
    """
    return [
        # a symbol defined in a module that calls another symbol makes its
        # module depend on the callee's module
        Rule.create(
            [
                [U("f"), B("calls"), U("t"), U("g")],
                [U("t"), B("defines"), U("m"), U("g")],
                [U("f"), B("defines"), U("n"), U("g")],
            ],
            [[U("n"), B("depends_on"), U("m"), U("g")]],
        ),
        # imports induce dependency
        Rule.create(
            [[U("n"), B("imports"), U("m"), U("g")]],
            [[U("n"), B("depends_on"), U("m"), U("g")]],
        ),
        # transitive closure of depends_on
        Rule.create(
            [
                [U("a"), B("depends_on"), U("b"), U("g")],
                [U("b"), B("depends_on"), U("c"), U("g")],
            ],
            [[U("a"), B("depends_on"), U("c"), U("g")]],
        ),
    ]


@dataclass
class PipelineResult:
    raw_triples: DataFrame
    links: DataFrame
    canonical: DataFrame
    derived: DataFrame
    metrics: dict = field(default_factory=dict)


def candidate_links(triples: DataFrame, threshold: float = 0.99) -> DataFrame:
    """Score (mention -> entity) candidate pairs, keep links above threshold.

    Candidates are generated by blocking on the identifier (the IRI
    fragment), so the join is an equi-join on a derived key — not a cross
    product — and the pandas-UDF scorer only sees blocked pairs.
    """
    mentions = (
        triples.filter(F.col("o").startswith("name://") | F.col("o").startswith("mod://"))
        .select(F.col("o").alias("mention"), F.col("g"))
        .distinct()
        .withColumn(
            "key", F.regexp_extract("mention", r"://([A-Za-z0-9_.]+)$", 1)
        )
        # "pkg.name" mentions block on their last component
        .withColumn("key", F.element_at(F.split("key", r"\."), -1))
    )
    entities = (
        triples.filter(F.col("s").startswith("repo://"))
        .select(F.col("s").alias("entity"), F.col("g"))
        .distinct()
        .withColumn("__frag", F.regexp_extract("entity", r"#([A-Za-z0-9_]+)$", 1))
        .withColumn("__mod", F.regexp_extract("entity", r"/([A-Za-z0-9_]+)\.py$", 1))
        .withColumn(
            "key",
            F.when(F.col("__frag") != "", F.col("__frag")).otherwise(F.col("__mod")),
        )
        .drop("__frag", "__mod")
    )
    pairs = mentions.join(entities, ["key", "g"], "inner")
    scored = pairs.select(
        "mention",
        "entity",
        "g",
        link_score_udf("mention", "entity").alias("score"),
    )
    return scored.filter(F.col("score") >= threshold)


def link_mapping(links: DataFrame) -> DataFrame:
    """Canonical-ID mapping(g, node, canon) from scored links.

    The link graph is bipartite (mention -> entity). When every mention
    links to exactly ONE entity, every component is a star centered on an
    entity, and the mapping IS the link table (mentions -> their entity,
    entities -> themselves) — one ambiguity-check count instead of a
    label-propagation loop with its per-round checkpoint + convergence
    barriers. Ambiguous mentions (one mention, several entities) chain
    entities into deeper components, so that case falls back to the exact
    graph-scoped connected components.

    Equivalence in the star case: CC elects min (rank, node) per component;
    entities (repo://, rank 0) always beat mentions (rank 1-2), and a star
    has exactly one entity — the same canon this shortcut assigns.
    """
    # one full aggregation returning a single row: a filter+limit(1)+count
    # formulation launches 2-3 incremental CollectLimit jobs; max() over the
    # same (tiny, mention-keyed) aggregate is ONE job and the aggregation
    # dominates either way
    row = (
        links.groupBy("g", "mention")
        .agg(F.countDistinct("entity").alias("n"))
        .agg(F.max("n").alias("mx"))
        .first()
    )
    ambiguous = (row["mx"] or 0) > 1
    if ambiguous:
        cc_edges = links.select(
            F.col("g"), F.col("mention").alias("a"), F.col("entity").alias("b")
        )
        return scoped_components(cc_edges)
    m2e = links.select(
        "g", F.col("mention").alias("node"), F.col("entity").alias("canon")
    )
    e2e = (
        links.select("g", F.col("entity").alias("node"))
        .distinct()
        .withColumn("canon", F.col("node"))
    )
    return m2e.unionByName(e2e)


def pipeline_fingerprint(
    rules: list, link_threshold: float, columns: list, input_id: str = ""
) -> str:
    """Job identity for stage checkpoints: the rule set, the link threshold,
    the input schema, and an input identity (the backing file list for a
    file-sourced input, or a caller-supplied id such as the --input path /
    --synthetic params) — so resuming against a *different* input of the
    same schema is refused rather than silently reusing stale stage parquet.
    Input *content* immutability under the same identity remains the
    caller's contract (standard warehouse-job semantics); the fixpoint's own
    checkpoints add their own rule/dtype fingerprint."""
    h = hashlib.sha256()
    h.update(f"thr={link_threshold};cols={sorted(columns)!r};in={input_id};".encode())
    for r in rules:
        if not hasattr(r, "to_json"):
            # a default object repr embeds the memory address — every process
            # would get a fresh fingerprint and every resume would be refused
            raise TypeError(
                f"pipeline rules must provide to_json() for a stable "
                f"checkpoint fingerprint; got {type(r).__name__}"
            )
        h.update(repr(r.to_json()).encode())
    return h.hexdigest()[:32]


def _stage_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    ckpt_dir: str,
    name: str,
    fingerprint: str,
    resume: bool,
    metrics: dict,
) -> DataFrame:
    """Persist one pipeline stage to parquet and return the parquet-backed
    DataFrame (meta.json written last = commit marker, mirroring
    checkpoint.CheckpointManager). With ``resume``, a complete stage with a
    matching fingerprint is read back instead of recomputed — so a killed
    pipeline restarts at the first incomplete stage, and the fixpoint inside
    then resumes mid-iteration via its own checkpoints."""
    d = os.path.join(ckpt_dir, name)
    mpath = os.path.join(d, "meta.json")
    data = os.path.join(d, "data.parquet")
    if resume and os.path.exists(mpath):
        with open(mpath) as f:
            meta = json.load(f)
        if meta.get("fingerprint") != fingerprint:
            raise ValueError(
                f"pipeline stage checkpoint at {d} belongs to a different "
                f"job (fingerprint {meta.get('fingerprint')!r} != "
                f"{fingerprint!r}); refusing to resume"
            )
        metrics[name] = {**meta, "resumed": True}
        return spark.read.parquet(data)
    t0 = time.time()
    if os.path.exists(mpath):
        os.remove(mpath)  # a crash mid-overwrite must not leave a stale commit marker
    df.write.mode("overwrite").parquet(data)
    out = spark.read.parquet(data)
    meta = {
        "stage": name,
        "rows": out.count(),
        "partitions": out.rdd.getNumPartitions(),
        "write_wall_s": round(time.time() - t0, 4),
        "fingerprint": fingerprint,
        "ts": time.time(),
    }
    with open(mpath, "w") as f:
        json.dump(meta, f)
    metrics[name] = meta
    return out


def _plan_size_bytes(df: DataFrame) -> Optional[int]:
    """Catalyst's size estimate for the input plan (file sizes for a parquet
    scan, row-count x row-width for a local relation). No job is run."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def run_pipeline(
    spark: SparkSession,
    code_files: DataFrame,
    rules: Optional[list] = None,
    link_threshold: float = 0.99,
    infer_config: Optional[InferConfig] = None,
    checkpoint_dir: Optional[str] = None,
    resume: bool = False,
    input_id: Optional[str] = None,
    time_stages: Optional[bool] = None,
    small_input_max_bytes: int = 1 << 30,
) -> PipelineResult:
    """See module docstring. With ``checkpoint_dir`` every stage boundary
    (raw triples, scored links, the canonical-ID mapping, canonical quads)
    lands in parquet with per-stage row/partition metrics, and the fixpoint
    checkpoints per-iteration under ``<dir>/fixpoint`` — the north rule's
    "resumable from checkpoint with per-partition lineage + metrics"."""
    rules = rules if rules is not None else code_ontology_rules()
    # stage timing: parquet-checkpointed runs have real (eager) stage
    # boundaries for free; the fast path keeps boundaries LAZY (each stage's
    # first consumer materializes it inside its own job — one fewer driver
    # barrier per stage), so its walls measure plan construction + whatever
    # upstream work the first action in that window pulls in. time_stages
    # forces a count at every boundary for attribution-grade walls.
    if time_stages is None:
        time_stages = bool(checkpoint_dir)
    stage_metrics: dict = {}
    if input_id is None:
        # file-backed inputs identify themselves; purely in-memory inputs
        # (synthetic test corpora) should pass input_id explicitly
        input_id = ";".join(sorted(code_files.inputFiles()))
    fp = pipeline_fingerprint(rules, link_threshold, code_files.columns, input_id)

    def stage(df: DataFrame, name: str, fallback_lc: bool = True) -> DataFrame:
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)
            return _stage_checkpoint(
                spark, df, checkpoint_dir, name, fp, resume, stage_metrics
            )
        # lazy: the stage's first consumer materializes the checkpoint
        # inside its own job (no dedicated per-stage barrier); later
        # consumers read it — pandas-UDF stages never recompute
        out = df.localCheckpoint(eager=False) if fallback_lc else df
        if time_stages and fallback_lc:
            out.count()  # force the boundary so stage walls are real
        return out

    # small-input mode: below ``small_input_max_bytes`` (Catalyst size
    # estimate, no job) every stage is floor-bound — whole-stage codegen
    # compile and AQE's per-exchange stage-materialization jobs are
    # driver-serial costs, invariant in core count, that dominate tiny
    # shuffles (profiled ~5 s of a ~33 s serial floor at 100k files / 8
    # cores). Both confs are flipped off for the stage jobs; a big input
    # (the 100-TB regime) keeps codegen + AQE, where they carry the data
    # path. The fixpoint makes the same decision per round on its own
    # (session.floor_regime), keyed to the live delta size.
    #
    # Scoping contract: the flips go through session.scoped_conf and are
    # restored when run_pipeline returns or raises, but the RETURNED
    # DataFrames are lazy — a stage a caller materializes after return
    # runs under the restored confs (harmless: everything width-sensitive
    # — the fixpoint, the pandas-UDF stages — materializes eagerly inside
    # the scoped block; only the derived set, a union scan of the
    # fixpoint's checkpointed deltas, floats).
    in_bytes = _plan_size_bytes(code_files)
    small_input = in_bytes is not None and in_bytes <= small_input_max_bytes
    with scoped_conf(spark) as set_conf:
        if small_input:
            set_conf("spark.sql.codegen.wholeStage", False)
            set_conf("spark.sql.adaptive.enabled", False)
            # with AQE off nothing coalesces the session's shuffle width, so
            # a tiny input pays (width) near-empty tasks per exchange — at
            # 32 cores / 64 partitions that doubled the pipeline wall vs 8
            # partitions (interleaved probe: 12.2s vs 6.2s at 1200 files).
            # Size the width from the same Catalyst estimate that gated
            # small mode (~32 MB per partition, floor 8).
            want = max(8, int(in_bytes) // (32 << 20) + 1)
            if want < shuffle_width(spark):
                set_conf("spark.sql.shuffle.partitions", want)

        t0 = time.time()
        code_files = assert_sha256(code_files)
        triples = stage(extract_triples(code_files), "triples")
        t_extract = time.time() - t0

        t0 = time.time()
        # links IS checkpointed (lazily): the ambiguity check, the mapping
        # branches, and the two canonicalize joins all read it — without a
        # checkpoint the pandas-UDF scorer would recompute for each
        links = stage(candidate_links(triples, link_threshold), "links")
        mapping = stage(link_mapping(links), "canonical_ids", fallback_lc=False)
        canonical = stage(canonicalize_quads(triples, mapping), "canonical")
        t_link_cc = time.time() - t0

        t0 = time.time()
        base = infer_config or InferConfig()
        # canonical quads end in dropDuplicates — the seed dedup shuffle is
        # redundant for this caller
        infer_config = replace(base, input_deduped=True)
        if small_input:
            # the seed-scan job (per-predicate stats + hot-key detection) is
            # one more fixed driver barrier; on a small input join order is
            # decided fine by the constants-first greedy and every delta
            # broadcasts (salting never fires), so both are pure overhead.
            # Big inputs keep stats + salting — they steer the data path.
            infer_config = replace(
                infer_config, use_stats=False, salt_hot_values=False
            )
        if checkpoint_dir and base.checkpoint_dir is None:
            infer_config = replace(
                infer_config,
                checkpoint_dir=os.path.join(checkpoint_dir, "fixpoint"),
                resume=resume,
            )
        derived, fx = infer_df(spark, canonical, rules, infer_config)
        t_fixpoint = time.time() - t0
    return PipelineResult(
        raw_triples=triples,
        links=links,
        canonical=canonical,
        derived=derived,
        metrics={
            "fixpoint_iterations": fx.iterations,
            "facts_rows": fx.facts_rows,
            "iteration_metrics": fx.metrics,
            "stage_checkpoints": stage_metrics,
            # stage walls. With eager boundaries (time_stages / parquet
            # checkpoints) each wall is exactly its stage's work. With lazy
            # boundaries the keys say what the window really contains:
            # extraction materializes inside the first downstream action
            # (link_mapping's ambiguity count), so the extract window only
            # covers the sha-invariant scan + plan building, and the link
            # window carries extraction's execution.
            "stage_walls": (
                {
                    "extract_s": round(t_extract, 2),
                    "link_cc_s": round(t_link_cc, 2),
                    "fixpoint_s": round(t_fixpoint, 2),
                    "eager_boundaries": True,
                }
                if (time_stages or checkpoint_dir)
                else {
                    "sha_plan_s": round(t_extract, 2),
                    "extract_link_cc_s": round(t_link_cc, 2),
                    "fixpoint_s": round(t_fixpoint, 2),
                    "eager_boundaries": False,
                }
            ),
        },
    )
