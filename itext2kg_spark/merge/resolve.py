"""Threshold-based resolution of items (entities or predicate names) into
canonical representatives: candidates -> best-match linking -> connected
components -> deterministic representative per cluster.

Semantic core reproduced (SURVEY.md §2.7; matcher.py:176-232):
  (i)  exact key equality unifies items — free here, items are already
       distinct on their key so equal items share one row, and a batch key
       that is already stored is the stored row;
  (ii) cosine >= θ links an item to its best-scoring match (the reference's
       argmax-per-item, matcher.py:73-94; ties go to the smallest
       id = xxhash64(key) on every path); components of the best-match graph
       are the order-free closure of the reference's iterated pairwise merge;
  (iii) on a match the *existing/global* object wins (matcher.py:81-87 keeps
       the entities2 object; matcher.py:152 renames rels1 to rels2's name) —
       representatives prefer the stored row, then the earliest-seen surface
       form (the reference's merge tree folds facts in input order, so the
       accumulated left side's form survives), then lexicographic keys.

Incremental shape: stored rows are a candidate side only. Links originate
only from batch rows (the reference's argmax runs batch-against-store,
matcher.py:65-94), so a component holds at most one stored row, which is its
representative, and a stored row always maps to itself. Only the batch rows
are resolved and returned; the stored side is streamed against the batch,
never collected, never scored against itself, and never carried through the
linking or representative windows.

Two physical strategies, chosen by the number of batch (non-store) rows,
which is the n x n the driver path holds (mirroring Spark's own
small-side/broadcast reasoning); the row limit is
`MatchConfig.effective_broadcast_limit`:

  * driver path (n <= limit): one collect of the batch rows, a
    BLAS n x n cosine among them, one streamed job that scores every stored
    row against the broadcast batch matrix and returns each batch row's best
    stored match, then argmax linking, union-find and the representative
    pick on the driver, with the result built as a LocalRelation so
    downstream consumers never re-execute upstream lineage. A batch's
    distinct entity set is orders of magnitude smaller than its mention
    table, so this is the common case.
  * distributed path (n > limit): bipartite candidate pairs from
    every batch row to the batch and the stored rows (the batch broadcast or
    LSH-banded, the rest streamed) + vectorized cosine verify + iterative
    DataFrame connected components (merge/components.py) over the batch ids
    and the stored ids they touch + a window-based representative pick over
    batch rows. Unbounded scale.

Both return the same schema: the batch rows' columns + comp (the
representative's id), is_rep, canon_<key>.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from itext2kg_spark.config import MatchConfig
from itext2kg_spark.merge.candidates import (
    TIE_DECIMALS,
    _broadcast_pairs,
    candidate_pairs,
)
from itext2kg_spark.merge.components import (
    CC_MAX_ITER,
    _driver_union_find,
    connected_components,
)

# Distinct-item ceiling for DISTRIBUTED leader-mode resolution: its fold
# rank is a global row_number (a single-partition sort of the distinct item
# table) and the fixpoint runs ~2 actions per chain-depth round — fine for a
# parity mode, pathological at extreme cardinality. Above this,
# resolve_items refuses with guidance to use the order-free default
# (link_mode="best"), rather than silently sorting 10^8 rows on one
# partition. The driver leader path is unaffected (it is already bounded by
# effective_broadcast_limit).
LEADER_SORT_LIMIT = 10_000_000


def _order_key(row, key_cols: list[str], order_col: str | None):
    """Representative / fold order of a batch row: first_seen asc (nulls
    last), keys asc. Stored rows precede every batch row."""
    first_seen = row[order_col] if order_col else None
    if first_seen is None:
        mid = (1,)
    else:
        try:  # struct order cols (e.g. (url, fact_idx)) vs plain scalars
            mid = (0, tuple(first_seen))
        except TypeError:
            mid = (0, (first_seen,))
    return (mid, tuple(row[c] for c in key_cols))


def _store_best(
    store: DataFrame,
    ids: np.ndarray,
    mat: np.ndarray,
    key_cols: list[str],
    threshold: float,
    inclusive: bool,
    link_mode: str,
) -> dict[int, tuple]:
    """Best stored match of each batch row: one job streams the stored rows
    against the broadcast batch matrix and returns, per batch id, only its
    best-scoring stored rows. Ties go to the smallest stored id in `best`
    mode and to the smallest key (the fold's leader order) in `leader` mode.
    Returns batch id -> (sim, stored id, stored keys)."""
    probe = store.select(F.xxhash64(*key_cols).alias("id"), "emb", *key_cols)
    tie = 1 if link_mode == "best" else 2
    best: dict[int, tuple] = {}
    for r in _broadcast_pairs(
        probe, ids, mat, threshold, inclusive, bipartite=True, top=True
    ).collect():
        keys = tuple(r[c] for c in key_cols)
        cand = (float(np.round(r["sim"], TIE_DECIMALS)), r["id_b"], keys)
        cur = best.get(r["id_a"])
        if cur is None or (-cand[0], cand[tie]) < (-cur[0], cur[tie]):
            best[r["id_a"]] = cand
    return best


def _driver_resolve(
    rows: list,
    key_cols: list[str],
    threshold: float,
    inclusive: bool,
    order_col: str | None,
    link_mode: str,
    store: DataFrame | None,
) -> list[tuple]:
    """numpy/union-find resolution of the collected batch rows (each with
    its `__id`, sorted by it); returns (comp, is_rep, canon keys...) per
    row, aligned with `rows`."""
    n = len(rows)
    if n == 0:
        return []
    ids = np.asarray([r["__id"] for r in rows], dtype=np.int64)
    mat = np.asarray([np.asarray(r["emb"], dtype=np.float64) for r in rows])
    keys = [tuple(r[c] for c in key_cols) for r in rows]
    store_best = (
        {}
        if store is None
        else _store_best(store, ids, mat, key_cols, threshold, inclusive, link_mode)
    )

    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    ok = sims >= threshold if inclusive else sims > threshold
    sims = np.where(ok, np.round(sims, TIE_DECIMALS), -np.inf)

    # link of row i: a batch row index, or a (sim, id, keys) stored match
    links: dict[int, int | tuple] = {}
    if link_mode == "leader":
        # EXACT sequential-fold parity (matcher.py _batch_match_entities
        # applied item-by-item in arrival order, the iText2KG/star accumulate
        # loop): each item matches against the current SURVIVOR set only —
        # an absorbed item's surface form leaves the pool, so chains
        # (a~b, b~c, a≁c) never merge a and c, unlike connected components.
        # Stored rows are the initial leader list and stay leaders, so a
        # stored match wins a tie against any batch leader; batch rows fold
        # in first_seen order, argmax tie-break = leader insertion order.
        leaders: list[int] = []
        fold = sorted(range(n), key=lambda i: _order_key(rows[i], key_cols, order_col))
        for i in fold:
            j = None
            if leaders:
                s = sims[i, leaders]
                k = int(np.argmax(s))
                if s[k] > -np.inf:
                    j = leaders[k]
            st = store_best.get(int(ids[i]))
            if st is not None and (j is None or st[0] >= sims[i, j]):
                links[i] = st
            elif j is not None:
                links[i] = j
            else:
                leaders.append(i)
    else:
        # best-match link per row: (sim desc, id asc) over the batch rows
        # (rows are id-sorted, so argmax's first index is the smallest id)
        # and the best stored match
        best = sims.argmax(axis=1)
        for i in range(n):
            j = int(best[i])
            st = store_best.get(int(ids[i]))
            if st is not None and (-st[0], st[1]) < (-sims[i, j], ids[j]):
                links[i] = st
            elif sims[i, j] > -np.inf:
                links[i] = j

    # union-find over ids: the batch rows' and the stored rows they link to
    stored_keys: dict[int, tuple] = {}  # stored id -> keys
    pairs = []
    for i, t in links.items():
        if isinstance(t, tuple):
            stored_keys[t[1]] = t[2]
            pairs.append((int(ids[i]), t[1]))
        else:
            pairs.append((int(ids[i]), int(ids[t])))
    root = _driver_union_find(pairs)
    # a component holds at most one stored row (each batch row has one
    # out-link and stored rows none), and that row is its representative
    stored_rep = {root[sid]: (sid, k) for sid, k in stored_keys.items()}
    members: dict[int, list[int]] = {}
    for i in range(n):
        members.setdefault(root.get(int(ids[i]), int(ids[i])), []).append(i)
    out: list[tuple] = [()] * n
    for c, idxs in members.items():
        if c in stored_rep:
            (rep_id, rep_keys), rep = stored_rep[c], None
        else:
            rep = min(idxs, key=lambda i: _order_key(rows[i], key_cols, order_col))
            rep_id, rep_keys = int(ids[rep]), keys[rep]
        for i in idxs:
            out[i] = (rep_id, i == rep) + rep_keys
    return out


def _distributed_leader(
    with_id: DataFrame, pairs: DataFrame, order: list
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
    for _ in range(CC_MAX_ITER):
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
            F.round("sim", TIE_DECIMALS).desc(), F.col("dst_ord").asc()
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
    order_col: str | None = None,
    emb_dim: int | None = None,
    n_items_hint: int | None = None,
    store: DataFrame | None = None,
) -> DataFrame:
    """items(key_cols..., emb [, order_col]) ->
    items + (comp, is_rep) + canonical keys `canon_<key>`.

    `emb` must be unit-normalized. Items cluster when connected through
    best-match links at cosine >= threshold (ATOM) / > threshold (star).
    `store(key_cols..., emb)` holds the canonical-store rows, disjoint from
    `items` on the key: they are candidates only, never ORIGINATE links
    (reference argmax runs batch-against-store only, matcher.py:65-94), so
    a component contains at most one store row and store rows always
    canonicalize to themselves. Only `items` rows are returned.
    `emb_dim` (vector width) byte-bounds the driver-collect path — without it
    the limit is row-count-only.
    `n_items_hint` — an approximate count of `items` from the caller (e.g. one
    approx_count_distinct agg over an already-materialized mention table).
    When the hint sits clearly under the limit the decision count job is
    skipped and the driver path collects directly; the hint only ever picks
    between the two output-equivalent physical paths, so a few percent of
    estimator error cannot change results — at worst the collect carries a
    few percent more rows than the byte budget assumed.
    """
    spark = items.sparkSession
    out_cols = items.columns + ["comp", "is_rep"] + [f"canon_{c}" for c in key_cols]

    # Budget TWO vectors per collected row: the full-row collect carries both
    # the raw `embedding` and the unit `emb` column for the entity/predicate
    # tables (budgeting one vector would let driver heap reach ~2x the
    # configured byte ceiling at wide embedding dims).
    limit = cfg.effective_broadcast_limit(2 * emb_dim if emb_dim else None)
    keyed = items.withColumn("__id", F.xxhash64(*key_cols))
    rows = None
    # Path decision via a count whose plan PRUNES the embedding columns (an
    # unused deterministic ArrowEvalPython projection is removed by column
    # pruning, so no Python stage runs), then a plain collect on the driver
    # path. The previous one-action limit(n+1).collect() looked cheaper but
    # CollectLimitExec executes a global limit as up to log4(partitions)
    # sequential scale-up jobs — measured ~3x the plain collect on a
    # bench-scale entity table; two cheap jobs beat one slow pseudo-job. The
    # count stays O(distinct items) at any scale and keys the distributed
    # path off the exact cardinality.
    if n_items_hint is not None and n_items_hint * 1.2 + 100 <= limit:
        rows = keyed.collect()
        n_items = len(rows)
    else:
        n_items = items.count()

    if n_items <= limit:
        if rows is None:
            rows = keyed.collect()
        rows.sort(key=lambda r: r["__id"])
        resolved = _driver_resolve(
            rows,
            key_cols,
            threshold,
            cfg.inclusive,
            order_col,
            cfg.link_mode,
            store,
        )
        # Build the output entirely on the driver: the collected rows already
        # carry every item column, so the result is a local relation — no
        # join-back, no re-execution of the upstream lineage, no checkpoint.
        # Downstream broadcast joins see a LocalRelation small side.
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
        out_rows = [tuple(r)[:-1] + res for r, res in zip(rows, resolved)]
        # Ship the local relation through Arrow (pandas input) rather than
        # the pickle parallelize path: every downstream consumer job (each
        # broadcast-map build, the entities projection) re-reads this data,
        # and the Arrow path measured ~2.5x faster per consumer. Fall back
        # to the row-list path for types Arrow can't convert.
        try:
            pdf = pd.DataFrame(out_rows, columns=out_cols)
            return spark.createDataFrame(pdf, schema)
        except Exception:  # noqa: BLE001 — conversion is a perf fast path
            return spark.createDataFrame(out_rows, schema)

    # ---- distributed path ----------------------------------------------------
    with_id = keyed.withColumnRenamed("__id", "id").localCheckpoint()
    # directed candidate links: every batch row (broadcast / banded side) to
    # every other batch row and every stored row (streamed side)
    right = with_id.select("id", "emb")
    if store is not None:
        store = store.select(F.xxhash64(*key_cols).alias("id"), *key_cols, "emb")
        right = right.unionByName(store.select("id", "emb"))
    pairs = candidate_pairs(
        with_id, cfg, threshold, n_items=n_items, emb_dim=emb_dim, right=right
    )
    batch_order = []
    if order_col is not None:
        batch_order.append(F.col(order_col).asc_nulls_last())
    batch_order += [F.col(c).asc() for c in key_cols]

    if cfg.link_mode == "leader":
        if n_items > LEADER_SORT_LIMIT:
            raise ValueError(
                f"link_mode='leader' needs a global fold-order sort of the "
                f"distinct-item table ({n_items} rows > LEADER_SORT_LIMIT="
                f"{LEADER_SORT_LIMIT}); at this cardinality use the "
                f"order-free default link_mode='best'"
            )
        # fold nodes: the batch rows plus the stored rows a pair touches,
        # which lead from the start (they sort first)
        nodes = with_id.select(
            "id", *key_cols, *([order_col] if order_col else []),
            F.lit(False).alias("__stored"),
        )
        if store is not None:
            pairs = pairs.localCheckpoint()
            touched = store.join(
                pairs.select(F.col("id_b").alias("id")).distinct(), "id", "left_semi"
            )
            nodes = nodes.unionByName(
                touched.select(
                    "id", *key_cols,
                    *([F.lit(None).alias(order_col)] if order_col else []),
                    F.lit(True).alias("__stored"),
                )
            )
        comp = _distributed_leader(
            nodes, pairs, [F.col("__stored").desc(), *batch_order]
        )
    else:
        # Keep only each batch row's single best-scoring link (argmax parity
        # with the reference; weak non-best pairs above θ never form links
        # there, so including them would transitively over-merge distinct
        # clusters that share one borderline bridge pair).
        wbest = Window.partitionBy("id_a").orderBy(
            F.round("sim", TIE_DECIMALS).desc(), F.col("id_b").asc()
        )
        best = (
            pairs.withColumn("__rn", F.row_number().over(wbest))
            .where(F.col("__rn") == 1)
            .select("id_a", "id_b")
        )
        comp = connected_components(best)
    labeled = with_id.join(comp, "id", "left").withColumn(
        "comp", F.coalesce(F.col("comp"), F.col("id"))
    )
    w = Window.partitionBy("comp").orderBy(*batch_order)
    ranked = labeled.withColumn("__rn", F.row_number().over(w))
    reps = ranked.where(F.col("__rn") == 1).select(
        "comp",
        F.col("id").alias("__rep"),
        *[F.col(c).alias(f"canon_{c}") for c in key_cols],
    )
    if store is not None:
        # the stored row of a component (at most one) is its representative
        stored_rep = (
            comp.join(with_id.select("id"), "id", "left_anti")
            .join(store.select("id", *key_cols), "id")
            .select(
                "comp",
                F.col("id").alias("__srep"),
                *[F.col(c).alias(f"__s_{c}") for c in key_cols],
            )
        )
        reps = reps.join(stored_rep, "comp", "left").select(
            "comp",
            F.coalesce("__srep", "__rep").alias("__rep"),
            *[
                F.coalesce(f"__s_{c}", f"canon_{c}").alias(f"canon_{c}")
                for c in key_cols
            ],
        )
    return (
        ranked.join(reps, "comp")
        .withColumn("is_rep", F.col("id") == F.col("__rep"))
        .withColumn("comp", F.col("__rep"))
        .select(*out_cols)
    )
