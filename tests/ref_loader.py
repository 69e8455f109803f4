"""Load the reference matcher (/root/reference, read-only) as a differential
oracle — without importing its package __init__ (which needs langchain) and
without sklearn (shimmed with a 10-line numpy cosine).

This gives tests the REAL reference semantics (Entity.process, Relationship
combine, GraphMatcher pairwise matching) to compare our Spark engine against;
no reference code is copied into this repo.
"""

from __future__ import annotations

import importlib.util
import sys
import types

import numpy as np

REF = "/root/reference/itext2kg"


def _shim_module(name: str) -> types.ModuleType:
    """A shim module WITH a ModuleSpec — pyspark's startup probes
    sys.modules entries via importlib and rejects spec-less modules
    ("ValueError: <mod>.__spec__ is None")."""
    import importlib.machinery

    m = types.ModuleType(name)
    m.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
    return m


def _shim_sklearn():
    if "sklearn.metrics.pairwise" in sys.modules:
        return

    def cosine_similarity(A, B=None):
        if B is None:
            B = A
        A = np.asarray(A, dtype=np.float64)
        B = np.asarray(B, dtype=np.float64)
        An = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
        return An @ Bn.T

    sk = _shim_module("sklearn")
    met = _shim_module("sklearn.metrics")
    pw = _shim_module("sklearn.metrics.pairwise")
    pw.cosine_similarity = cosine_similarity
    sk.metrics = met
    met.pairwise = pw
    sys.modules["sklearn"] = sk
    sys.modules["sklearn.metrics"] = met
    sys.modules["sklearn.metrics.pairwise"] = pw


def _load(dotted: str, path: str):
    if dotted in sys.modules:
        return sys.modules[dotted]
    spec = importlib.util.spec_from_file_location(dotted, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[dotted] = mod
    try:
        spec.loader.exec_module(mod)
    except BaseException:
        # a half-built module left here would be served by the next call
        del sys.modules[dotted]
        raise
    return mod


def load_reference():
    """Returns a namespace with Entity, Relationship, RelationshipProperties,
    KnowledgeGraph, GraphMatcher from the reference, or None if unloadable."""
    try:
        _shim_sklearn()
        for pkg in (
            "itext2kg",
            "itext2kg.atom",
            "itext2kg.atom.models",
            "itext2kg.atom.graph_matching",
        ):
            if pkg not in sys.modules:
                m = types.ModuleType(pkg)
                m.__path__ = []
                sys.modules[pkg] = m

        ent = _load("itext2kg.atom.models.entity", f"{REF}/atom/models/entity.py")
        rel = _load(
            "itext2kg.atom.models.relationship", f"{REF}/atom/models/relationship.py"
        )
        kg = _load(
            "itext2kg.atom.models.knowledge_graph",
            f"{REF}/atom/models/knowledge_graph.py",
        )
        models = sys.modules["itext2kg.atom.models"]
        models.Entity = ent.Entity
        models.Relationship = rel.Relationship
        models.RelationshipProperties = rel.RelationshipProperties
        models.KnowledgeGraph = kg.KnowledgeGraph

        mi = _load(
            "itext2kg.atom.graph_matching.matcher_interface",
            f"{REF}/atom/graph_matching/matcher_interface.py",
        )
        matcher = _load(
            "itext2kg.atom.graph_matching.matcher",
            f"{REF}/atom/graph_matching/matcher.py",
        )
        ns = types.SimpleNamespace(
            Entity=ent.Entity,
            Relationship=rel.Relationship,
            RelationshipProperties=rel.RelationshipProperties,
            KnowledgeGraph=kg.KnowledgeGraph,
            GraphMatcher=matcher.GraphMatcher,
        )
        return ns
    except Exception:  # pragma: no cover - reference tree absent/changed
        return None


_REF = None


def get_reference():
    global _REF
    if _REF is None:
        _REF = load_reference()
    return _REF


def load_reference_merge_eval():
    """Load the published merge-eval module (ER/RR precision formulas,
    evaluation/merge/evaluate_itext2kg_merge.py) with its API-only imports
    stubbed; returns the module or None."""
    try:
        _shim_sklearn()
        if "langchain_openai" not in sys.modules:
            stub = types.ModuleType("langchain_openai")

            class OpenAIEmbeddings:  # never instantiated by the functions we call
                def __init__(self, *a, **k):
                    pass

            stub.OpenAIEmbeddings = OpenAIEmbeddings
            sys.modules["langchain_openai"] = stub
        return _load(
            "ref_evaluate_itext2kg_merge",
            "/root/reference/evaluation/merge/evaluate_itext2kg_merge.py",
        )
    except Exception:  # pragma: no cover
        return None


def _shim_dateparser():
    """The container has no `dateparser`; the evaluation scripts only call
    `dateparser.parse`. Shim it with the ENGINE's parse-or-None function
    (itext2kg_spark.merge.quality.parse_datetime) so the reference scoring
    code and the Spark operators share one parser — the parity target is the
    matching/temporal logic, not dateparser's fuzzy-locale heuristics."""
    if "dateparser" in sys.modules:
        return
    from itext2kg_spark.merge.quality import parse_datetime

    mod = _shim_module("dateparser")
    mod.parse = parse_datetime
    # marker so the engine's dateparser-first path never mistakes the shim
    # for the real module (it would recurse into parse_datetime)
    mod.__spark_graft_shim__ = True
    sys.modules["dateparser"] = mod


def _shim_matplotlib():
    if "matplotlib" in sys.modules:
        return
    mpl = _shim_module("matplotlib")
    plt = _shim_module("matplotlib.pyplot")
    mpl.pyplot = plt
    sys.modules["matplotlib"] = mpl
    sys.modules["matplotlib.pyplot"] = plt


class HashLG:
    """Stand-in for the reference's LangchainOutputParser embedding surface:
    async `calculate_embeddings(text=[...])` backed by the engine's
    deterministic hash embedder, so reference scoring and Spark operators
    score in an identical vector space."""

    def __init__(self, dim: int = 256, seed: int = 42):
        self.dim = dim
        self.seed = seed

    async def calculate_embeddings(self, text):
        from itext2kg_spark.extract.embed import hash_embed_texts

        return [list(v) for v in hash_embed_texts(list(text), self.dim, self.seed)]


def load_reference_quality():
    """evaluation/quintuples_quality/calculate_quintuples_quality.py, loaded
    live with dateparser/sklearn shimmed; returns the module or None."""
    try:
        _shim_sklearn()
        _shim_dateparser()
        return _load(
            "ref_calculate_quintuples_quality",
            "/root/reference/evaluation/quintuples_quality/"
            "calculate_quintuples_quality.py",
        )
    except Exception:  # pragma: no cover
        return None


def load_reference_stability():
    """evaluation/stability/calculate_stability_jaccard.py, loaded live."""
    try:
        _shim_sklearn()
        _shim_dateparser()
        return _load(
            "ref_calculate_stability_jaccard",
            "/root/reference/evaluation/stability/calculate_stability_jaccard.py",
        )
    except Exception:  # pragma: no cover
        return None


def load_reference_exhaustivity():
    """evaluation/exhaustivity/plot_exhaustivity_quintuples.py (the scoring
    function lives in the plot script), loaded live with matplotlib shimmed."""
    try:
        _shim_sklearn()
        _shim_dateparser()
        _shim_matplotlib()
        return _load(
            "ref_plot_exhaustivity_quintuples",
            "/root/reference/evaluation/exhaustivity/plot_exhaustivity_quintuples.py",
        )
    except Exception:  # pragma: no cover
        return None


def load_reference_exhaustivity_factoids():
    """evaluation/exhaustivity/plot_exhaustivity_factoids.py — the factoid
    variant (`find_matches_factoids_optimized`, its inner date mining uses
    module-level `dateparser`, shimmed to the engine's parse_datetime)."""
    try:
        _shim_sklearn()
        _shim_dateparser()
        _shim_matplotlib()
        return _load(
            "ref_plot_exhaustivity_factoids",
            "/root/reference/evaluation/exhaustivity/plot_exhaustivity_factoids.py",
        )
    except Exception:  # pragma: no cover
        return None


def load_reference_stability_row():
    """evaluation/stability/calculate_stability.py — the older non-Jaccard
    avg-max-cosine variant (`calculate_row_stability`)."""
    try:
        _shim_sklearn()
        return _load(
            "ref_calculate_stability_row",
            "/root/reference/evaluation/stability/calculate_stability.py",
        )
    except Exception:  # pragma: no cover
        return None


def load_reference_costs():
    """evaluation/costs/cost_estimation.py loaded live, with `tiktoken`
    shimmed to the ENGINE's deterministic token pattern (functions/cost.py
    TOKEN_PATTERN) — both systems then count with one tokenizer, so any
    difference is prompt-assembly/JSON/arithmetic divergence, the thing
    under test. The Pydantic schema models load from the reference's own
    atom/models/schemas.py (pure pydantic)."""
    try:
        if "tiktoken" not in sys.modules:
            from itext2kg_spark.functions.cost import _TOKEN_RE

            tk = _shim_module("tiktoken")

            class _Enc:
                @staticmethod
                def encode(s):
                    return _TOKEN_RE.findall(s)

            tk.get_encoding = lambda name: _Enc()
            sys.modules["tiktoken"] = tk
        for pkg in ("itext2kg", "itext2kg.atom", "itext2kg.atom.models"):
            if pkg not in sys.modules:
                m = types.ModuleType(pkg)
                m.__path__ = []
                sys.modules[pkg] = m
        _load(
            "itext2kg.atom.models.schemas", f"{REF}/atom/models/schemas.py"
        )
        return _load(
            "ref_cost_estimation",
            "/root/reference/evaluation/costs/cost_estimation.py",
        )
    except Exception:  # pragma: no cover
        return None


def load_reference_neo4j_storage():
    """The reference Neo4jStorage class (query BUILDERS only — the neo4j
    bolt driver module is shimmed; create_nodes/create_relationships never
    touch it), or None."""
    try:
        ns = load_reference()
        if ns is None:
            return None
        if "neo4j" not in sys.modules:
            neo = _shim_module("neo4j")

            class GraphDatabase:  # never used by the query builders
                @staticmethod
                def driver(*a, **k):
                    return None

            neo.GraphDatabase = GraphDatabase
            sys.modules["neo4j"] = neo
        if "itext2kg.graph_integration" not in sys.modules:
            gi = types.ModuleType("itext2kg.graph_integration")
            gi.__path__ = []
            sys.modules["itext2kg.graph_integration"] = gi
        _load("itext2kg.logging_config", f"{REF}/logging_config.py")
        _load(
            "itext2kg.graph_integration.storage_interface",
            f"{REF}/graph_integration/storage_interface.py",
        )
        st = _load(
            "itext2kg.graph_integration.neo4j_storage",
            f"{REF}/graph_integration/neo4j_storage.py",
        )
        return st.Neo4jStorage
    except Exception:  # pragma: no cover
        return None


def load_reference_distiller():
    """Load the reference DocumentsDistiller class (its combine logic needs
    no LLM — the langchain parser import is stubbed), or None."""
    try:
        for pkg in ("itext2kg", "itext2kg.llm_output_parsing",
                    "itext2kg.documents_distiller"):
            if pkg not in sys.modules:
                m = types.ModuleType(pkg)
                m.__path__ = []
                sys.modules[pkg] = m
        lop = "itext2kg.llm_output_parsing.langchain_output_parser"
        if lop not in sys.modules:
            stub = types.ModuleType(lop)

            class LangchainOutputParser:  # constructor-only stub
                def __init__(self, *a, **k):
                    pass

            stub.LangchainOutputParser = LangchainOutputParser
            sys.modules[lop] = stub
        dd = _load(
            "itext2kg.documents_distiller.documents_distiller",
            f"{REF}/documents_distiller/documents_distiller.py",
        )
        return dd.DocumentsDistiller
    except Exception:  # pragma: no cover
        return None
