"""Cross-document duplicated-SPAN removal — exact substring dedup.

Whole-document dedup (exact/minhash/simhash/ngram) drops documents; this
operator edits them: any window of ``k`` consecutive tokens that occurs in
more than one document is removed from every document except a deterministic
keeper (the minimum doc id that contains the window). Because every k-window
inside a longer shared span is itself duplicated, coverage-based removal
excises exactly the tokens lying inside cross-document duplicated spans of
length >= k — the k-gram-chain approximation of suffix-array substring
dedup from "Deduplicating Training Data Makes Language Models Better"
(Lee et al., 2022), re-expressed as two hash aggregations and one equi-join
instead of a monolithic suffix array.

Scale shape (the reason this formulation and not a suffix array):
- positional gram emission is pure Catalyst codegen (split + transform +
  posexplode) — no Python in the hot path;
- gram statistics (distinct-doc count, keeper id) are ONE hash aggregation
  over distinct (doc, gram) pairs — map-side partial agg applies, shuffle
  volume is O(distinct grams per doc) like the proven ngram/minhash ops;
- duplicated positions come from an equi-join of positional grams against
  the stats table (AQE handles hot boilerplate grams; the join output is
  bounded by corpus token count, never pairs-quadratic);
- per-document coverage is a higher-order-function mask (exists over the
  doc's own duplicated-start list) — per-row, JVM-side, no shuffle.

Tokenization contract (shared with dedup/ngram.py so oracles compose):
``split(trim(text), '\\s+')``; a whitespace-only text has zero tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itext2kg_spark.dedup.ngram import _materialize


def positional_ngrams(
    docs: DataFrame, k: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, gram): every k-token window with its 0-based start position.

    Unlike ngram.word_ngrams this keeps positions and duplicates — span
    removal needs to know WHERE a window sits, not just that the doc has it.
    """
    d = docs.withColumn("__toks", F.split(F.trim(F.col(text_col)), r"\s+"))
    grams = F.expr(
        f"CASE WHEN trim({text_col}) != '' AND size(__toks) >= {k} THEN"
        f" transform(sequence(0, size(__toks) - {k}),"
        f"  i -> concat_ws(' ', slice(__toks, i + 1, {k})))"
        f" ELSE array() END"
    )
    return d.select(
        F.col(id_col).alias("id"),
        F.posexplode(grams).alias("pos", "gram"),
    )


def duplicated_span_starts(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos) start positions of duplicated windows in NON-keeper docs.

    A window is duplicated when its gram occurs in >= 2 distinct documents;
    the keeper — the minimum doc id containing the gram — retains its copy.

    The positional gram table feeds two plan branches (the gram statistics
    aggregation and the probe side of the stats join), so without
    materialization the text scan + split + posexplode lineage re-executes
    per branch; it is materialized once with ngram's lazy size guard
    (executor-local checkpoint small, fault-tolerant DISK_ONLY persist big).
    """
    pg = _materialize(positional_ngrams(docs, k, text_col, id_col), size_src=docs)
    stats = (
        pg.select("id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("__nd"), F.min("id").alias("__keeper"))
        .where(F.col("__nd") >= 2)
    )
    return (
        pg.join(stats, "gram")
        .where(F.col("id") != F.col("__keeper"))
        .select("id", "pos")
    )


def span_dedup(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, clean_text, n_tokens, n_removed): corpus with cross-document
    duplicated spans cut out of every non-keeper document.

    ``clean_text`` re-joins the surviving tokens with single spaces (the
    operator's tokenization is whitespace-normalizing by contract);
    ``n_tokens`` counts the ORIGINAL tokens, ``n_removed`` how many were cut.
    Documents with no duplicated span pass through with n_removed = 0.

    The coverage mask is O(tokens x duplicated-starts) per document worst
    case — bounded by document length squared for a fully-duplicated doc,
    constant-bounded for web pages; it runs inside whole-stage codegen.
    """
    # the aggregated key is renamed to a reserved name BEFORE the join: if
    # the input already carries a column literally named 'id' (while
    # id_col='doc_id'), joining on F.col(id_col) == F.col('id') would be
    # ambiguous and drop('id') would eat the user's column
    dup = (
        duplicated_span_starts(docs, k, text_col, id_col)
        .groupBy("id")
        .agg(F.collect_list("pos").alias("__dups"))
        .withColumnRenamed("id", "__dup_id")
    )
    d = docs.join(
        dup, F.col(id_col) == F.col("__dup_id"), "left"
    ).drop("__dup_id")
    d = d.withColumn("__toks", F.split(F.trim(F.col(text_col)), r"\s+"))
    n_tokens = F.expr(
        f"CASE WHEN trim({text_col}) = '' THEN 0 ELSE size(__toks) END"
    )
    clean = F.expr(
        "CASE WHEN __dups IS NULL THEN __toks ELSE"
        " filter(transform(__toks, (t, i) ->"
        f"  IF(exists(__dups, p -> p <= i AND i < p + {k}), NULL, t)),"
        " t -> t IS NOT NULL) END"
    )
    return (
        d.withColumn("__n", n_tokens)
        .withColumn(
            "__clean", F.when(F.col("__n") == 0, F.array()).otherwise(clean)
        )
        .select(
            F.col(id_col),
            F.concat_ws(" ", "__clean").alias("clean_text"),
            F.col("__n").cast("long").alias("n_tokens"),
            (F.col("__n") - F.size("__clean")).cast("long").alias("n_removed"),
        )
    )
