"""rify_spark — PySpark-native RDF-quad rule inference and KG construction.

A from-scratch Spark reimplementation of the capabilities of the reference
engine (docknetwork/rify: forward-chaining conjunctive-rule inference over
RDF quads with proof generation and validation), re-architected as
DataFrame programs over the string terms (opt-in dictionary
hash-encoding), rule-compiled join chains, semi-naive delta fixpoints with
checkpointed iterations, and driver-side proof replay. See SURVEY.md at the
repo root for the full mapping.

Public API (mirrors the reference's three entry points, src/lib.rs:14-17):

    from rify_spark import Rule, Unbound, Bound, infer, prove, validate
"""

from .api import TermCodec, infer, infer_df, prove  # noqa: F401
from .errors import (  # noqa: F401
    BadRuleApplication,
    CantProve,
    DictionaryCollision,
    ExhaustedSearchSpace,
    Invalid,
    InvalidRule,
    NoSuchRule,
    NoTranslation,
    NovelName,
    RifyError,
    UnboundImplied,
)
from .infer import FixpointResult, InferConfig, fixpoint, seed_facts  # noqa: F401
from .rules import Bound, Entity, Rule, RuleApplication, Unbound, decl_rules  # noqa: F401
from .rulesets import rdfs_rules  # noqa: F401
from .session import get_spark  # noqa: F401
from .validate import Valid, validate  # noqa: F401

__version__ = "0.1.0"
