"""N-gram Jaccard near-dup detection — exact, set-based, no UDFs.

Formulation that scales: explode each document into its distinct word
n-grams, group by gram into a sorted id list (ONE exchange — the list's size
is the gram's document frequency, so the hot-gram cutoff is a filter in the
same pass), expand each list's i<j combinations inline, and count shared
grams per (id_a, id_b) to compute |A∩B| / (|A|+|B|-|A∩B|). Pair candidates
only materialize for documents that actually share a gram, so the cost
tracks true near-duplicate density, not n^2; the gram strings themselves
never cross a second exchange (only ids do). Hot grams (boilerplate) can
explode pair counts at web scale — callers should drop grams with document
frequency above a cutoff (`max_gram_df`) exactly like stopword removal in
MinHash pipelines; the cutoff also bounds the per-gram inline expansion at
max_gram_df*(max_gram_df-1)/2 struct rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Materialization guard for the gram table: the table is LARGER than
# the corpus (one row per distinct n-gram occurrence post-cutoff), so
# localCheckpoint — executor-local, non-fault-tolerant storage — is only safe
# while it is small. Above this Catalyst-estimated size the table goes to
# fault-tolerant DISK_ONLY persist instead (lineage retained: a lost executor
# recomputes its partitions rather than failing the query).
GRAM_LOCAL_CKPT_MAX_BYTES = 8 << 30


_STATS_UNKNOWN = (1 << 63) - 1  # Catalyst's Long.MaxValue "no estimate" marker


def _materialize(g: DataFrame, size_src: DataFrame | None = None) -> DataFrame:
    """Gram-table materialization: the table feeds THREE plan branches
    (per-doc sizes + both sides of the self-join), so without materialization
    the split+explode+distinct (+ df cutoff) lineage re-executes per branch —
    measured 2.8s -> 1.9s at sf0.1. LAZY either way (nothing runs until the
    caller's first action — plan builders must stay side-effect-free):
    localCheckpoint when the Catalyst size estimate of `size_src` (default
    `g`) is at most GRAM_LOCAL_CKPT_MAX_BYTES, fault-tolerant
    persist(DISK_ONLY) above it or when the estimate is unknown.

    `size_src` should be the INPUT docs plan, whose parquet-scan statistics
    are real, not the exploded gram plan whose stats degenerate to
    Long.MaxValue. The gram table is a small constant factor of the corpus
    text bytes, so the docs estimate is the right monotone proxy."""
    src = size_src if size_src is not None else g
    try:
        est = int(src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — stats are advisory
        est = _STATS_UNKNOWN
    if est < _STATS_UNKNOWN and est <= GRAM_LOCAL_CKPT_MAX_BYTES:
        return g.localCheckpoint(eager=False)
    return g.persist(StorageLevel.DISK_ONLY)


def drop_hot_grams(
    g: DataFrame, df_src: DataFrame, max_gram_df: int
) -> DataFrame:
    """Drop grams whose `df_src`-corpus document frequency EXCEEDS the
    cutoff, as a left_anti join against the HOT gram set. Semantically
    identical to the older inner/semi join against the KEEP set (every gram
    of `g` appears in `df_src`'s df count, so keep == not-hot), but the join
    build side inverts: keep is nearly the whole vocabulary (forcing a large
    shuffled join on the gram string), while hot — grams above the cutoff —
    is the small boilerplate tail by construction, which AQE broadcasts.
    Guide §3.1/§3.2: shuffle the small set, not its complement."""
    hot = (
        df_src.groupBy("gram")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") > max_gram_df)
        .select("gram")
    )
    return g.join(hot, "gram", "left_anti")


def df_filtered_grams(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = 1000,
) -> DataFrame:
    """Full-corpus gram table with the document-frequency cutoff applied.

    The cutoff MUST count df over the WHOLE corpus: candidate-verification
    paths that restrict the gram table to candidate ids BEFORE the cutoff
    would count candidate-local frequencies (candidate-df <= corpus-df), so a
    boilerplate gram with corpus df above the cutoff but candidate df below
    it would survive there while plain `jaccard_pairs` drops it — changing
    shared counts and |A|/|B| sizes. Verified paths therefore call this
    first, then left_semi-restrict, then run `jaccard_pairs(...,
    max_gram_df=None)`."""
    g = word_ngrams(docs, n, text_col, id_col)
    if max_gram_df is not None:
        g = drop_hot_grams(g, g, max_gram_df)
    return g


def restricted_filtered_grams(
    docs: DataFrame,
    cand_ids: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = 1000,
) -> DataFrame:
    """Candidate-restricted gram table with the FULL-corpus df cutoff — the
    shape candidate-verification paths need. Document frequency must count
    over the whole corpus (see df_filtered_grams), but the expensive
    gram-vs-df join only has to touch candidate docs' grams, so the
    left_semi restriction to `cand_ids` (a df with one `id` column) runs
    FIRST and the corpus-df filter second — identical output, candidate-
    proportional join cost. The unrestricted gram table feeds both the df
    count and the restricted branch, so it is materialized once."""
    g0 = _materialize(word_ngrams(docs, n, text_col, id_col), size_src=docs)
    gc = g0.join(cand_ids, "id", "left_semi")
    if max_gram_df is not None:
        gc = drop_hot_grams(gc, g0, max_gram_df)
    return gc


def word_ngrams(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, gram) — distinct word n-grams per document.

    Per-document dedup happens INSIDE the row (array_distinct over the gram
    array) rather than as a global .distinct(): (id, gram) distinctness is a
    per-document property, so the table needs NO exchange at all — it is a
    narrow projection off the doc scan (guide §2.4: remove shuffles
    outright)."""
    from itext2kg_spark.functions.partitioning import ensure_scan_parallelism

    d = ensure_scan_parallelism(docs).withColumn(
        "__toks", F.split(F.trim(F.col(text_col)), r"\s+")
    )
    grams = F.expr(
        f"CASE WHEN size(__toks) >= {n} THEN"
        f" array_distinct(transform(sequence(0, size(__toks) - {n}),"
        f"  i -> concat_ws(' ', slice(__toks, i + 1, {n}))))"
        f" ELSE array() END"
    )
    return d.select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = 1000,
    grams: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard_10k) for pairs with n-gram Jaccard >= threshold.

    `max_gram_df` is ON by default: a gram shared by d documents expands to
    d*(d-1)/2 candidate pairs, so one boilerplate gram across 1M pages is
    ~5e11 rows — the one way this equi-join formulation goes quadratic at web
    scale. Grams above the document-frequency cutoff are dropped BEFORE the
    self-join (and excluded from |A|/|B| so Jaccard stays consistent); pass
    None to disable for exact-parity runs.

    When `grams` is supplied (candidate-verification paths), `max_gram_df`
    counts df over THAT table — pass a full-corpus-filtered table (see
    restricted_filtered_grams) and max_gram_df=None to keep output identical
    to the unrestricted run. The grouped per-gram id-list table feeds both
    the sizes and the pair-expansion branches, so it is materialized once
    (see _materialize: executor-local checkpoint small, fault-tolerant
    DISK_ONLY persist big). max_gram_df=None (exact-parity runs) removes
    the bound on the inline per-gram pair expansion — at web scale always
    keep a cutoff."""
    g = grams if grams is not None else word_ngrams(docs, n, text_col, id_col)
    # ONE groupBy on the gram replaces the old df-count + join + self-join
    # shape (three exchanges of (id, gram) rows, the gram string shuffled on
    # both sides of the join): the sorted per-gram id list IS the document
    # frequency (the cutoff becomes a size() filter in the same pass), pair
    # candidates expand from it inline (i < j over an ascending list, so
    # id_a < id_b by construction), and the gram string is dropped before
    # anything is materialized — strictly fewer exchanges, and the bytes
    # that do shuffle are ids, not grams (guide §2.3/§2.4).
    by_gram = g.groupBy("gram").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    if max_gram_df is not None:
        by_gram = by_gram.where(F.size("ids") <= max_gram_df)
    by_gram = _materialize(by_gram.select("ids"), size_src=docs)
    sizes = (
        by_gram.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_grams"))
    )
    # i<j combinations via two codegen'd Generates (posexplode + explode of
    # the ascending-suffix slice) — measured ~2x faster than building the
    # pair structs with interpreted higher-order transform lambdas
    shared = (
        by_gram.select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    j = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return j.select(
        "id_a",
        "id_b",
        F.floor(F.col("jaccard") * 10000).cast("long").alias("jaccard_10k"),
    )
