"""Canonical-KG construction: quintuples -> (entities, edges) tables, with
incremental merge against an existing canonical store.

Reproduces the ATOM merge semantics (SURVEY.md §2.7) as one global dataflow:

  1. normalize names/labels/predicates (Entity.process / Relationship.process
     parity — itext2kg/atom/models/entity.py:30-38, relationship.py:34-36);
  2. weighted entity embeddings over distinct (name,label)
     (knowledge_graph.py:29-43, weights atom/atom.py:161-162);
  3. entity resolution: exact (name,label) equality + cosine >= θ_E clusters
     via similarity join + connected components (replaces matcher.py:41-94);
  4. predicate resolution at θ_R over distinct predicate names — endpoints
     ignored, exactly like _batch_match_relationships (matcher.py:105-153);
  5. endpoint/predicate remap = three hash joins against the mapping tables
     (replaces matcher.py:204-226);
  6. temporal resolution: groupBy canonical (src,pred,dst) aggregating
     t_obs/t_start/t_end/atomic_facts lists (replaces matcher.py:155-170 +
     relationship.py:38-76 list-extends). Lists keep duplicates (reference
     extends, never dedups) and are array_sort'ed for deterministic output —
     compare as multisets against the reference (SURVEY.md A4 note).

Incremental path: existing entities join the resolution with is_existing=1;
store-internal pairs are never candidates, so existing rows always map to
themselves and a cluster's representative is the store row whenever one is
present — matching `existing_knowledge_graph` behavior (atom/atom.py:196-208).
Existing edges then union with the batch's mention rows before the groupBy, so
re-observed edges extend their lists exactly like combine_timestamps.

Scale shape: every join here is key-equi (broadcastable mapping tables —
distinct names, not mentions); the single wide shuffle is the final groupBy on
the canonical triple, which Spark executes with partial (map-side) aggregation.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from itext2kg_spark.config import PipelineConfig
from itext2kg_spark.functions.normalize import norm_label, norm_name, norm_predicate
from itext2kg_spark.functions.timeparse import parse_timestamp_array_columns
from itext2kg_spark.functions.vectors import unit
from itext2kg_spark.merge.resolve import resolve_items

EDGE_GROUP_KEYS = ["src_name", "src_label", "pred", "dst_name", "dst_label"]

EDGE_LIST_COLS = ["t_obs", "t_start", "t_end", "atomic_facts"]


def _normalize_quintuples(q: DataFrame, mode: str = "atom") -> DataFrame:
    if mode == "star":  # legacy per-char rule, case-preserving labels (P3)
        from itext2kg_spark.functions.normalize import (
            norm_label_star,
            norm_name_star,
        )

        nn, nl, np_ = norm_name_star, norm_label_star, norm_label_star
    else:
        nn, nl, np_ = norm_name, norm_label, norm_predicate
    return (
        q.withColumn("subj_name", nn(F.col("subj_name")))
        .withColumn("subj_label", nl(F.col("subj_label")))
        .withColumn("obj_name", nn(F.col("obj_name")))
        .withColumn("obj_label", nl(F.col("obj_label")))
        .withColumn("pred", np_(F.col("pred")))
    )


def _mention_order() -> F.Column:
    # A sortable first-seen key per mention: the reference's merge tree folds
    # atomic facts in input order, so the earliest (url, fact_idx) mention's
    # surface form becomes the cluster representative.
    return F.struct(F.col("url"), F.col("fact_idx"))


def _entity_mentions(q: DataFrame) -> DataFrame:
    subj = q.select(
        F.col("subj_name").alias("name"),
        F.col("subj_label").alias("label"),
        _mention_order().alias("__ord"),
    )
    obj = q.select(
        F.col("obj_name").alias("name"),
        F.col("obj_label").alias("label"),
        _mention_order().alias("__ord"),
    )
    return (
        subj.union(obj)
        .groupBy("name", "label")
        .agg(F.min("__ord").alias("first_seen"))
    )


def embed_entities(
    distinct_entities: DataFrame, embedder, name_weight: float, label_weight: float
) -> DataFrame:
    """(name, label) -> + embedding (weighted sum, raw like the reference) +
    emb (unit-normalized, for matching).

    The input is already distinct on (name, label), so names and labels are
    embedded DIRECTLY — both pandas UDFs fuse into ONE ArrowEvalPython stage,
    no distinct shuffle, no join-back."""
    e = embedder.udf()
    d = distinct_entities.withColumn("__emb_n", e(F.col("name"))).withColumn(
        "__emb_l", e(F.col("label"))
    )
    combined = F.zip_with(
        "__emb_n",
        "__emb_l",
        lambda a, b: a * F.lit(float(name_weight)) + b * F.lit(float(label_weight)),
    )
    return (
        d.withColumn("embedding", combined)
        .withColumn("emb", unit(F.col("embedding")))
        .drop("__emb_n", "__emb_l")
    )


def canonicalize_kg(
    quintuples: DataFrame,
    cfg: PipelineConfig,
    embedder,
    existing_entities: DataFrame | None = None,
    existing_edges: DataFrame | None = None,
    existing_edges_merge: str = "union",
    temporal_empty: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """quintuples(url, obs_ts, fact, subj_*, pred, obj_*, t_start, t_end)
    -> (entities, edges) canonical DataFrames.

    Stored edge rows are unioned into the batch's mention stream before
    the one edge groupBy; existing_edges_merge="union" names that merge
    and is the only accepted value.

    entities: name, label, embedding array<float>
    edges:    src_name, src_label, pred, dst_name, dst_label,
              t_obs/t_start/t_end array<double>, atomic_facts array<string>
    """
    if existing_edges_merge != "union":
        raise ValueError(
            f"existing_edges_merge must be 'union', got {existing_edges_merge!r}"
        )
    # Materialize the quintuple mention table once — it feeds entity-mention
    # distinct, predicate distinct, and the final remap; recomputing the
    # distill/extract UDF lineage per action would triple the extraction cost
    # (the reference likewise materializes extraction output before merging).
    q = _normalize_quintuples(quintuples, cfg.mode)
    ent_hint = pred_hint = None
    if existing_entities is None and existing_edges is None:
        # Fresh batch: materialize via the SAME job that gathers cardinality
        # hints — one tiny agg over the lazily-checkpointed table (first
        # compute materializes it) yields approximate distinct-entity/
        # predicate counts, letting both resolutions skip their path-decision
        # count job and collect directly (see resolve_items n_items_hint —
        # approximation only picks between output-equivalent physical paths).
        q = q.localCheckpoint(eager=False)
        st = q.agg(
            F.approx_count_distinct(
                F.struct("subj_name", "subj_label")
            ).alias("ns"),
            F.approx_count_distinct(
                F.struct("obj_name", "obj_label")
            ).alias("no"),
            F.approx_count_distinct("pred").alias("np"),
        ).first()
        ent_hint = int(st["ns"]) + int(st["no"])
        pred_hint = int(st["np"])
    else:
        q = q.localCheckpoint()

    def _resolve_entities():
        ents = _entity_mentions(q).withColumn("is_existing", F.lit(False))
        if existing_entities is not None:
            ex = (
                existing_entities.select("name", "label")
                .withColumn("is_existing", F.lit(True))
                .withColumn(
                    "first_seen",
                    F.lit(None).cast(ents.schema["first_seen"].dataType),
                )
            )
            # batch rows that exactly equal a store row are dropped in favor
            # of the store row (exact-match pre-pass, matcher.py:41-63)
            ents = ex.unionByName(
                ents.join(
                    ex.select("name", "label"), ["name", "label"], "left_anti"
                )
            )
        ents = embed_entities(
            ents, embedder, cfg.embed.name_weight, cfg.embed.label_weight
        )
        return resolve_items(
            ents,
            cfg.match,
            cfg.match.ent_threshold,
            key_cols=["name", "label"],
            emb_col="emb",
            order_col="first_seen",
            emb_dim=cfg.embed.dim,
            n_items_hint=ent_hint,
        )

    def _resolve_predicates():
        preds = (
            q.select("pred", _mention_order().alias("__ord"))
            .groupBy("pred")
            .agg(F.min("__ord").alias("first_seen"))
            .withColumn("is_existing", F.lit(False))
        )
        if existing_edges is not None:
            exp = (
                existing_edges.select(F.col("pred"))
                .distinct()
                .withColumn("is_existing", F.lit(True))
                .withColumn(
                    "first_seen",
                    F.lit(None).cast(preds.schema["first_seen"].dataType),
                )
            )
            preds = exp.unionByName(
                preds.join(exp.select("pred"), ["pred"], "left_anti")
            )
        # table is already distinct on pred — embed directly, one stage
        preds = preds.withColumn("embedding", embedder.udf()(F.col("pred")))
        preds = preds.withColumn("emb", unit(F.col("embedding")))
        return resolve_items(
            preds,
            cfg.match,
            cfg.match.rel_threshold,
            key_cols=["pred"],
            emb_col="emb",
            order_col="first_seen",
            emb_dim=cfg.embed.dim,
            n_items_hint=pred_hint,
        )

    # Entity and predicate resolution are independent chains of small jobs
    # (checkpoint/count/CC iterations); running them on two driver threads
    # overlaps their serial latencies — Spark schedules concurrent jobs fine.
    # The pool threads take on the caller's local properties (job group,
    # description, scheduler pool) and session tags.
    inherit = inheritable_thread_target(quintuples.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fe = pool.submit(inherit(_resolve_entities))
        fp = pool.submit(inherit(_resolve_predicates))
        resolved_e = fe.result()
        resolved_p = fp.result()

    ent_map = resolved_e.select("name", "label", "canon_name", "canon_label")
    entities = resolved_e.where("is_rep").select(
        F.col("canon_name").alias("name"),
        F.col("canon_label").alias("label"),
        "embedding",
    )
    pred_map = resolved_p.select("pred", "canon_pred")

    # ---- remap + temporal aggregation ---------------------------------------
    sm = ent_map.select(
        F.col("name").alias("subj_name"),
        F.col("label").alias("subj_label"),
        F.col("canon_name").alias("src_name"),
        F.col("canon_label").alias("src_label"),
    )
    om = ent_map.select(
        F.col("name").alias("obj_name"),
        F.col("label").alias("obj_label"),
        F.col("canon_name").alias("dst_name"),
        F.col("canon_label").alias("dst_label"),
    )
    # P4: t_start/t_end string arrays -> epoch arrays with dateutil fallback
    # (relationship.py:44-57 parity, incl. fuzzy forms). Only this consumer
    # reads the temporal columns, so the parse lives here:
    #  * clean/dirty row split (parse_timestamp_array_columns) applied to the
    #    CHECKPOINTED quintuple table BEFORE the remap joins: both branches
    #    re-scan cheap checkpointed rows, the all-fast-path majority keeps a
    #    pure-JVM plan, and the three broadcast joins run ONCE over the
    #    branch union (splitting after the joins executed them once per
    #    branch — round-2 finding).
    #  * temporal_empty mode — the caller asserts every t_start/t_end array
    #    is empty BY CONSTRUCTION (the token extractor emits literal empty
    #    arrays; parsing an empty array is an empty array), so the parse
    #    collapses to typed empty literals: no clean/dirty union, no second
    #    checkpoint scan, and — decisively — no ArrowEvalPython fallback
    #    stage spinning up Python workers for a branch that is provably
    #    rowless (measured ~0.5s of the token-path count at sf0.1).
    if temporal_empty:
        empty_d = F.array().cast("array<double>")
        q_parsed = q.withColumn("t_start", empty_d).withColumn(
            "t_end", empty_d
        )
    else:
        q_parsed = parse_timestamp_array_columns(q, ["t_start", "t_end"])
    mentions = (
        q_parsed.join(F.broadcast(sm), ["subj_name", "subj_label"])
        .join(F.broadcast(om), ["obj_name", "obj_label"])
        .join(F.broadcast(pred_map), ["pred"])
        .select(
            "src_name",
            "src_label",
            F.col("canon_pred").alias("pred"),
            "dst_name",
            "dst_label",
            F.array(F.col("obs_ts").cast("double")).alias("t_obs"),
            "t_start",
            "t_end",
            F.array(F.col("fact")).alias("atomic_facts"),
        )
    )
    if existing_edges is not None:
        mentions = mentions.unionByName(
            existing_edges.select(*EDGE_GROUP_KEYS, *EDGE_LIST_COLS)
        )
    edges = mentions.groupBy(*EDGE_GROUP_KEYS).agg(
        *[
            F.array_sort(F.flatten(F.collect_list(c))).alias(c)
            for c in EDGE_LIST_COLS
        ]
    )
    return entities, edges
