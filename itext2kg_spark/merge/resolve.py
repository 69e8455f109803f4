"""Threshold-based resolution of items (entities or predicate names) into
canonical representatives: candidates -> best-match linking -> connected
components -> deterministic representative per cluster.

Semantic core reproduced (SURVEY.md §2.7; matcher.py:176-232):
  (i)  exact key equality unifies items — free here, items are already
       distinct on their key so equal items share one row;
  (ii) cosine >= θ links an item to its best-scoring match (the reference's
       argmax-per-item, matcher.py:73-94); components of the best-match graph
       are the order-free closure of the reference's iterated pairwise merge;
  (iii) on a match the *existing/global* object wins (matcher.py:81-87 keeps
       the entities2 object; matcher.py:152 renames rels1 to rels2's name) —
       representatives prefer `is_existing`, then the earliest-seen surface
       form (the reference's merge tree folds facts in input order, so the
       accumulated left side's form survives), then lexicographic keys.

Two physical strategies, chosen by distinct-item count (mirroring Spark's own
small-side/broadcast reasoning):

  * driver path (n <= broadcast_limit): ONE Spark action — an over-fetched
    limit(n+1) collect of the full item rows that both picks the path and
    feeds it — then a BLAS n x n cosine, argmax linking, union-find,
    representative pick (microseconds of driver CPU), with the result built
    as a LocalRelation so downstream consumers never re-execute upstream
    lineage. A batch's distinct entity set is orders of magnitude smaller
    than its mention table, so this is the common case; the latency-critical
    serial path of every batch stays at ~2 jobs.
  * distributed path (n > broadcast_limit): LSH-banded candidate join +
    vectorized cosine verify + iterative DataFrame connected components
    (merge/components.py) + window-based representative selection. Unbounded
    scale; only engaged when the distinct set genuinely cannot sit on the
    driver (10^8+ distinct names).

Both return the same schema: items' columns + comp, is_rep, canon_<key>.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from itext2kg_spark.config import MatchConfig
from itext2kg_spark.merge.candidates import candidate_pairs
from itext2kg_spark.merge.components import _driver_union_find, connected_components


def _driver_resolve(
    rows: list,
    key_cols: list[str],
    threshold: float,
    inclusive: bool,
    has_existing: bool,
    order_col: str | None,
    link_mode: str = "best",
    emb_col: str = "emb",
):
    """numpy/union-find resolution over collected rows; returns list of
    (key..., comp, is_rep, canon_key...) tuples aligned with input order."""
    n = len(rows)
    if n == 0:
        return []
    keys = [tuple(r[c] for c in key_cols) for r in rows]
    mat = np.asarray([np.asarray(r[emb_col], dtype=np.float64) for r in rows])
    exist = (
        np.asarray([bool(r["is_existing"]) for r in rows])
        if has_existing
        else np.zeros(n, dtype=bool)
    )

    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    ok = sims >= threshold if inclusive else sims > threshold
    if has_existing:
        ok &= ~(exist[:, None] & exist[None, :])
    sims_masked = np.where(ok, sims, -np.inf)

    # representative ordering: is_existing desc, first_seen asc (nulls
    # last), keys asc — shared by the leader fold and the rep selection
    def order_key(i: int):
        first_seen = rows[i][order_col] if order_col else None
        if first_seen is None:
            mid = (1,)
        else:
            try:  # struct order cols (e.g. (url, fact_idx)) vs plain scalars
                mid = (0, tuple(first_seen))
            except TypeError:
                mid = (0, (first_seen,))
        return (0 if exist[i] else 1, mid, keys[i])

    if link_mode == "leader":
        # EXACT sequential-fold parity (matcher.py _batch_match_entities
        # applied item-by-item in arrival order, the iText2KG/star accumulate
        # loop): each item matches against the current SURVIVOR set only —
        # an absorbed item's surface form leaves the pool, so chains
        # (a~b, b~c, a≁c) never merge a and c, unlike connected components.
        # Store rows are the initial global list; batch rows fold in
        # first_seen order. argmax tie-break = leader insertion order,
        # identical to np.argmax over the reference's global list.
        fold_order = sorted(range(n), key=order_key)
        leaders: list[int] = [i for i in fold_order if exist[i]]
        pairs = []
        for i in fold_order:
            if exist[i]:
                continue
            if leaders:
                s = sims_masked[i, leaders]
                j = int(np.argmax(s))
                if s[j] > -np.inf:
                    pairs.append((i, leaders[j]))
                    continue
            leaders.append(i)
    else:
        # best-match link per item (argmax with min-index tie-break, like
        # the window orderBy sim desc, id asc in the distributed path)
        best = sims_masked.argmax(axis=1)
        linked = sims_masked[np.arange(n), best] > -np.inf
        if has_existing:
            # Links originate ONLY from batch rows: the reference computes
            # argmax for entities1 (batch) against entities2 (store), never
            # the reverse (matcher.py:65-94). A store row originating its own
            # best-match link could bridge two store entities through one
            # batch entity, demoting a store row and corrupting the
            # incremental store.
            linked &= ~exist
        pairs = [(int(i), int(best[i])) for i in np.nonzero(linked)[0]]

    comp_map = _driver_union_find(pairs)
    comps = [comp_map.get(i, i) for i in range(n)]

    # representative per component: min by order_key (is_existing desc,
    # first_seen asc nulls-last, keys asc) — in leader mode this is exactly
    # the fold's surviving leader
    members: dict[int, list[int]] = {}
    for i, c in enumerate(comps):
        members.setdefault(c, []).append(i)
    rep_of = {}
    for c, idxs in members.items():
        rep_of[c] = min(idxs, key=order_key)

    out = []
    for i in range(n):
        rep = rep_of[comps[i]]
        out.append(keys[i] + (comps[i], i == rep) + keys[rep])
    return out


def _distributed_leader(
    with_id: DataFrame, pairs: DataFrame, order: list, max_iter: int
) -> DataFrame:
    """Distributed sequential-fold (leader) resolution: (id, comp) where
    comp = the surviving leader each absorbed item folds into.

    Semantics identical to the driver fold (see _driver_resolve): items are
    processed in `order`; each item either absorbs into its best-scoring
    already-processed SURVIVOR at sim>=θ, or becomes a leader. The parallel
    formulation is an ord-prefix fixpoint: a node DECIDES once every
    candidate with smaller ord has decided; it absorbs into its best decided
    leader candidate (sim desc, ord asc — identical to the fold's argmax
    over the leader list) else leads. Rounds needed = longest candidate
    chain depth, each round one join + window; a node can never flip once
    decided, because its decision reads only decided (immutable) state.

    Note the fold rank is materialized with a global row_number — a
    single-partition sort over the DISTINCT-item table. Leader mode is the
    strict-parity mode; at corpus sizes where that sort hurts, the order-free
    default ('best'+CC) is the intended path.
    """
    w_ord = Window.orderBy(*order)
    nodes = (
        with_id.withColumn("__ord", F.row_number().over(w_ord))
        .select("id", "__ord")
        .localCheckpoint()
    )
    oa = nodes.select(F.col("id").alias("id_a"), F.col("__ord").alias("ord_a"))
    ob = nodes.select(F.col("id").alias("id_b"), F.col("__ord").alias("ord_b"))
    both = pairs.join(oa, "id_a").join(ob, "id_b")
    # direct every candidate edge from the later item to the earlier one
    directed = both.select(
        F.when(F.col("ord_a") > F.col("ord_b"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("src"),
        F.when(F.col("ord_a") > F.col("ord_b"), F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("dst"),
        F.when(F.col("ord_a") > F.col("ord_b"), F.col("ord_b"))
        .otherwise(F.col("ord_a"))
        .alias("dst_ord"),
        "sim",
    ).localCheckpoint()

    # status: decided nodes carry leader flag + comp (their leader's id)
    decided = nodes.limit(0).select(
        "id", F.lit(True).alias("leader"), F.col("id").alias("comp")
    )
    undecided = nodes
    for _ in range(max_iter):
        if undecided.isEmpty():
            break
        cand = directed.join(
            undecided.select(F.col("id").alias("src")), "src", "left_semi"
        )
        dst_status = decided.select(
            F.col("id").alias("dst"),
            F.col("leader").alias("dst_leader"),
        )
        cd = cand.join(dst_status, "dst", "left")
        per_src = cd.groupBy("src").agg(
            F.min(F.col("dst_leader").isNotNull().cast("int")).alias("__ready")
        )
        ready = per_src.where(F.col("__ready") == 1).select("src")
        # nodes with no candidates at all decide immediately as leaders
        no_cand = undecided.join(
            directed.select(F.col("src").alias("id")), "id", "left_anti"
        ).select("id")
        # best decided-leader target per ready src (fold argmax: sim desc,
        # leader-insertion order = ord asc)
        wbest = Window.partitionBy("src").orderBy(
            F.col("sim").desc(), F.col("dst_ord").asc()
        )
        best = (
            cd.join(ready, "src", "left_semi")
            .where(F.col("dst_leader"))
            .withColumn("__rn", F.row_number().over(wbest))
            .where(F.col("__rn") == 1)
            .select(F.col("src").alias("id"), F.col("dst").alias("comp"))
        )
        absorbed_now = best.select(
            "id", F.lit(False).alias("leader"), "comp"
        )
        lead_now = (
            ready.select(F.col("src").alias("id"))
            .join(best.select("id"), "id", "left_anti")
            .union(no_cand)
            .select("id", F.lit(True).alias("leader"), F.col("id").alias("comp"))
        )
        newly = absorbed_now.unionByName(lead_now).localCheckpoint()
        if newly.isEmpty():
            break
        decided = decided.unionByName(newly).localCheckpoint()
        undecided = undecided.join(newly.select("id"), "id", "left_anti")
    # anything still undecided at the iteration cap leads itself
    # (conservative: no merge is lost data, only an unmerged duplicate)
    return decided.select("id", "comp").unionByName(
        undecided.select("id", F.col("id").alias("comp"))
    )


def resolve_items(
    items: DataFrame,
    cfg: MatchConfig,
    threshold: float,
    key_cols: list[str],
    emb_col: str = "emb",
    n_items: int | None = None,
    order_col: str | None = None,
    emb_dim: int | None = None,
    n_items_hint: int | None = None,
) -> DataFrame:
    """items(key_cols..., emb [, is_existing][, order_col]) ->
    items + (comp, is_rep) + canonical keys `canon_<key>`.

    `emb` must be unit-normalized. Items cluster when connected through
    best-match links at cosine >= threshold (ATOM) / > threshold (star).
    Optional flag column `is_existing` marks canonical-store rows; they
    never ORIGINATE links (reference argmax runs batch-against-store only,
    matcher.py:65-94), so a component contains at most one store entity and
    store rows always canonicalize to themselves.
    `emb_dim` (vector width) byte-bounds the driver-collect path — without it
    the limit is row-count-only.
    `n_items_hint` — an approximate cardinality from the caller (e.g. one
    approx_count_distinct agg over an already-materialized mention table).
    When the hint sits clearly under the limit the decision count job is
    skipped and the driver path collects directly; the hint only ever picks
    between the two output-equivalent physical paths, so a few percent of
    estimator error cannot change results — at worst the collect carries a
    few percent more rows than the byte budget assumed.
    """
    has_existing = "is_existing" in items.columns
    spark = items.sparkSession

    # Budget TWO vectors per collected row: the full-row collect carries both
    # the raw `embedding` and the unit `emb` column for the entity/predicate
    # tables (budgeting one vector would let driver heap reach ~2x the
    # configured byte ceiling at wide embedding dims).
    limit = cfg.effective_broadcast_limit(2 * emb_dim if emb_dim else None)
    rows = None
    if n_items is None:
        # Path decision via a count whose plan PRUNES the embedding columns
        # (an unused deterministic ArrowEvalPython projection is removed by
        # column pruning, so no Python stage runs), then a plain collect on
        # the driver path. The previous one-action limit(n+1).collect()
        # looked cheaper but CollectLimitExec executes a global limit as up
        # to log4(partitions) sequential scale-up jobs — measured ~3x the
        # plain collect on a bench-scale entity table; two cheap jobs beat
        # one slow pseudo-job. The count stays O(distinct items) at any
        # scale and keys the distributed path off the exact cardinality.
        if (
            n_items_hint is not None
            and n_items_hint * 1.2 + 100 <= limit
        ):
            rows = items.collect()
            n_items = len(rows)
        else:
            n_items = items.count()

    if n_items <= limit:
        if rows is None:
            rows = items.collect()
        resolved = _driver_resolve(
            rows,
            key_cols,
            threshold,
            cfg.inclusive,
            has_existing,
            order_col,
            link_mode=cfg.link_mode,
            emb_col=emb_col,
        )
        # Build the output entirely on the driver: the collected rows already
        # carry every item column, so the result is a local relation — no
        # join-back, no re-execution of the upstream lineage, no checkpoint.
        # Downstream broadcast joins see a LocalRelation small side.
        from pyspark.sql.types import (
            BooleanType,
            LongType,
            StructField,
            StructType,
        )

        key_fields = {f.name: f for f in items.schema.fields}
        schema = StructType(
            list(items.schema.fields)
            + [
                StructField("comp", LongType(), False),
                StructField("is_rep", BooleanType(), False),
            ]
            + [
                StructField(f"canon_{c}", key_fields[c].dataType, True)
                for c in key_cols
            ]
        )
        k = len(key_cols)
        out_rows = [tuple(r) + res[k:] for r, res in zip(rows, resolved)]
        # Ship the local relation through Arrow (pandas input) rather than
        # the pickle parallelize path: every downstream consumer job (each
        # broadcast-map build, the entities projection) re-reads this data,
        # and the Arrow path measured ~2.5x faster per consumer. Fall back
        # to the row-list path for types Arrow can't convert.
        try:
            import pandas as pd

            pdf = pd.DataFrame(
                out_rows, columns=[f.name for f in schema.fields]
            )
            return spark.createDataFrame(pdf, schema)
        except Exception:  # noqa: BLE001 — conversion is a perf fast path
            return spark.createDataFrame(out_rows, schema)

    # ---- distributed path ----------------------------------------------------
    with_id = items.withColumn("id", F.xxhash64(*key_cols)).localCheckpoint()
    pairs = candidate_pairs(
        with_id,
        cfg,
        threshold,
        emb_col=emb_col,
        id_col="id",
        n_items=n_items,
        emb_dim=emb_dim,
    )
    order = []
    if has_existing:
        order.append(F.col("is_existing").desc())
    if order_col is not None:
        order.append(F.col(order_col).asc_nulls_last())
    order += [F.col(c).asc() for c in key_cols]

    if cfg.link_mode == "leader":
        if n_items > cfg.leader_sort_limit:
            raise ValueError(
                f"link_mode='leader' needs a global fold-order sort of the "
                f"distinct-item table ({n_items} rows > leader_sort_limit="
                f"{cfg.leader_sort_limit}); at this cardinality use the "
                f"order-free default link_mode='best' (raise "
                f"MatchConfig.leader_sort_limit to override)"
            )
        comp = _distributed_leader(
            with_id, pairs, order, max_iter=cfg.cc_max_iter
        )
    else:
        # Keep only each node's single best-scoring link (argmax parity with
        # the reference; weak non-best pairs above θ never form links there,
        # so including them would transitively over-merge distinct clusters
        # that share one borderline bridge pair).
        directed = pairs.select(
            F.col("id_a").alias("v"), F.col("id_b").alias("w"), "sim"
        ).union(
            pairs.select(F.col("id_b").alias("v"), F.col("id_a").alias("w"), "sim")
        )
        if has_existing:
            # links originate only from batch rows (see _driver_resolve):
            # store rows keep in-degree but never out-degree, so no two store
            # rows can land in one component.
            nonexist = with_id.where(~F.col("is_existing")).select(
                F.col("id").alias("v")
            )
            directed = directed.join(nonexist, "v", "left_semi")
        wbest = Window.partitionBy("v").orderBy(F.col("sim").desc(), F.col("w").asc())
        best = (
            directed.withColumn("__rn", F.row_number().over(wbest))
            .where(F.col("__rn") == 1)
            .select(F.col("v").alias("id_a"), F.col("w").alias("id_b"), "sim")
        )
        comp = connected_components(
            with_id.select("id"), best, max_iter=cfg.cc_max_iter
        )
    labeled = with_id.join(comp, "id", "left").withColumn(
        "comp", F.coalesce(F.col("comp"), F.col("id"))
    )

    w = Window.partitionBy("comp").orderBy(*order)
    ranked = labeled.withColumn("__rn", F.row_number().over(w))

    reps = ranked.where(F.col("__rn") == 1).select(
        F.col("comp"), *[F.col(c).alias(f"canon_{c}") for c in key_cols]
    )
    return ranked.withColumn("is_rep", F.col("__rn") == 1).drop("__rn").join(
        reps, "comp"
    )
