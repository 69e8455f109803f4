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

Incremental path: only the batch keys that are not already stored are
embedded and resolved; a batch key equal to a stored key is that stored row.
The stored entities are a streamed candidate side with their stored vectors
(`existing_entities` must carry `embedding`; nothing is re-embedded), so no
store-internal pair is ever formed, stored rows always map to themselves and
a cluster's representative is the store row whenever one is present —
matching `existing_knowledge_graph` behavior (atom/atom.py:196-208). The
driver/distributed choice is keyed on the batch's new-key count. The output
is the stored entities unchanged plus the new representatives; the edge
remap reads a map of the new keys only, every other key mapping to itself.
Stored predicates carry no vector in the snapshot: when a batch brings a
new predicate they are re-embedded on the candidate side. Existing edges
then union with the batch's mention rows before the groupBy, so re-observed
edges extend their lists exactly like combine_timestamps.

Scale shape: every join here is key-equi (broadcastable mapping tables —
distinct names, not mentions); the single wide shuffle is the final groupBy on
the canonical triple, which Spark executes with partial (map-side) aggregation.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itext2kg_spark.config import PipelineConfig
from itext2kg_spark.functions.normalize import norm_label, norm_name, norm_predicate
from itext2kg_spark.functions.timeparse import parse_timestamp_array_columns
from itext2kg_spark.functions.vectors import unit
from itext2kg_spark.merge.resolve import resolve_items

EDGE_GROUP_KEYS = ["src_name", "src_label", "pred", "dst_name", "dst_label"]

EDGE_LIST_COLS = ["t_obs", "t_start", "t_end", "atomic_facts"]

# the caller's job properties a resolve thread takes on
_JOB_PROPERTIES = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
    "spark.job.tags",
    "spark.scheduler.pool",
)


def _in_caller_context(spark):
    """Wrap a function to run on a pool thread with the calling thread's job
    group, description, scheduler pool and job/session tags, read now and
    set inside the wrapped call. The wrapper is a plain frame of this
    module, so Spark still names each job after the program line that ran
    its action (a pyspark frame at the bottom of the thread's stack would
    name every job after the thread pool)."""
    sc = spark.sparkContext
    props = {k: sc.getLocalProperty(k) for k in _JOB_PROPERTIES}
    tags = spark.getTags()

    def wrap(fn):
        def run():
            for k, v in props.items():
                sc.setLocalProperty(k, v)
            for t in tags:
                spark.addTag(t)
            return fn()

        return run

    return wrap


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
    and is the only accepted value. `existing_entities` must carry its
    stored `embedding` column (ValueError otherwise): stored entities
    resolve against their stored vectors and are never re-embedded.
    `temporal_empty=True` asserts every t_start/t_end array is empty and
    raises ValueError on a nonempty one.

    entities: name, label, embedding array<float>
    edges:    src_name, src_label, pred, dst_name, dst_label,
              t_obs/t_start/t_end array<double>, atomic_facts array<string>
    """
    if existing_edges_merge != "union":
        raise ValueError(
            f"existing_edges_merge must be 'union', got {existing_edges_merge!r}"
        )
    if existing_entities is not None and "embedding" not in existing_entities.columns:
        raise ValueError(
            "existing_entities must carry the stored `embedding` column: "
            "stored entities resolve against their stored vectors"
        )
    # Materialize the quintuple mention table once — it feeds entity-mention
    # distinct, predicate distinct, and the final remap; recomputing the
    # distill/extract UDF lineage per action would triple the extraction cost
    # (the reference likewise materializes extraction output before merging).
    # The SAME job gathers cardinality hints — one tiny agg over the lazily
    # checkpointed table (first compute materializes it) yields approximate
    # distinct-entity/predicate counts, letting both resolutions skip their
    # path-decision count job and collect directly (see resolve_items
    # n_items_hint — approximation only picks between output-equivalent
    # physical paths) — and checks the caller's temporal_empty assertion.
    q = _normalize_quintuples(quintuples, cfg.mode).localCheckpoint(eager=False)
    hints = [
        F.approx_count_distinct(F.struct("subj_name", "subj_label")).alias("ns"),
        F.approx_count_distinct(F.struct("obj_name", "obj_label")).alias("no"),
        F.approx_count_distinct("pred").alias("np"),
    ]
    if temporal_empty:
        hints.append(
            F.max(F.greatest(F.size("t_start"), F.size("t_end"))).alias("nt")
        )
    st = q.agg(*hints).first()
    if temporal_empty and (st["nt"] or 0) > 0:
        raise ValueError(
            "temporal_empty=True but the quintuples carry a nonempty "
            "t_start/t_end array; pass temporal_empty=False to parse them"
        )
    ent_hint = int(st["ns"]) + int(st["no"])
    pred_hint = int(st["np"])

    def _resolve_entities():
        # Only batch keys absent from the store are embedded and resolved;
        # a batch key equal to a stored key IS the stored row (exact-match
        # pre-pass, matcher.py:41-63), and the stored rows join as a
        # streamed candidate side with their stored vectors.
        ents = _entity_mentions(q)
        store = None
        if existing_entities is not None:
            ents = ents.join(
                existing_entities.select("name", "label"), ["name", "label"],
                "left_anti",
            )
            store = existing_entities.select(
                "name", "label", unit(F.col("embedding")).alias("emb")
            )
        ents = embed_entities(
            ents, embedder, cfg.embed.name_weight, cfg.embed.label_weight
        )
        return resolve_items(
            ents,
            cfg.match,
            cfg.match.ent_threshold,
            key_cols=["name", "label"],
            order_col="first_seen",
            emb_dim=cfg.embed.dim,
            n_items_hint=ent_hint,
            store=store,
        )

    def _resolve_predicates():
        preds = (
            q.select("pred", _mention_order().alias("__ord"))
            .groupBy("pred")
            .agg(F.min("__ord").alias("first_seen"))
        )
        store = None
        if existing_edges is not None:
            # stored predicates carry no vector in the snapshot: they are
            # re-embedded (a dozen distinct names) on the candidate side,
            # which runs only when the batch brings a new predicate
            stored = existing_edges.select("pred").distinct()
            preds = preds.join(stored, ["pred"], "left_anti")
            store = stored.withColumn(
                "embedding", embedder.udf()(F.col("pred"))
            ).select("pred", unit(F.col("embedding")).alias("emb"))
        # table is already distinct on pred — embed directly, one stage
        preds = preds.withColumn("embedding", embedder.udf()(F.col("pred")))
        preds = preds.withColumn("emb", unit(F.col("embedding")))
        return resolve_items(
            preds,
            cfg.match,
            cfg.match.rel_threshold,
            key_cols=["pred"],
            order_col="first_seen",
            emb_dim=cfg.embed.dim,
            n_items_hint=pred_hint,
            store=store,
        )

    # Entity and predicate resolution are independent chains of small jobs
    # (collect/scoring/CC iterations); running them on two driver threads
    # overlaps their serial latencies — Spark schedules concurrent jobs fine.
    run = _in_caller_context(quintuples.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fe = pool.submit(run(_resolve_entities))
        fp = pool.submit(run(_resolve_predicates))
        resolved_e = fe.result()
        resolved_p = fp.result()

    # the maps cover the batch's new keys only; every other batch key is a
    # stored key and maps to itself (the remap's left joins + coalesce)
    ent_map = resolved_e.select("name", "label", "canon_name", "canon_label")
    entities = resolved_e.where("is_rep").select("name", "label", "embedding")
    if existing_entities is not None:
        # stored entities pass through unchanged; coalescing to the stored
        # table's partition count keeps the snapshot's file count from
        # growing by the new representatives' partitions every batch
        stored = existing_entities.select("name", "label", "embedding")
        entities = stored.unionByName(entities).coalesce(
            stored.rdd.getNumPartitions()
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
    # a mention with a null key has no canonical endpoint or predicate and
    # drops out (the left joins below would keep it)
    keys = ["subj_name", "subj_label", "pred", "obj_name", "obj_label"]
    mentions = (
        q_parsed.dropna(subset=keys)
        .join(F.broadcast(sm), ["subj_name", "subj_label"], "left")
        .join(F.broadcast(om), ["obj_name", "obj_label"], "left")
        .join(F.broadcast(pred_map), ["pred"], "left")
        .select(
            F.coalesce("src_name", "subj_name").alias("src_name"),
            F.coalesce("src_label", "subj_label").alias("src_label"),
            F.coalesce("canon_pred", "pred").alias("pred"),
            F.coalesce("dst_name", "obj_name").alias("dst_name"),
            F.coalesce("dst_label", "obj_label").alias("dst_label"),
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
