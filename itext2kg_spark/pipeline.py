"""End-to-end pipeline: pages -> facts -> quintuples -> canonical KG.

Spark re-expression of `Atom.build_graph` / `build_graph_from_different_obs_times`
(itext2kg/atom/atom.py:155-234): where the reference fans out per observation
date and pairwise-merges per-snapshot KGs on driver threads, this pipeline
processes *all* observation timestamps of a batch in one dataflow — the t_obs
stamp is carried per-mention from warc_ts, and one global resolution replaces
the whole merge tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from itext2kg_spark.config import PipelineConfig, ATOM
from itext2kg_spark.extract.distill import distill_pages
from itext2kg_spark.extract.embed import HashEmbedder
from itext2kg_spark.extract.facts import split_atomic_facts
from itext2kg_spark.extract.quintuples import GrammarExtractor, extract_quintuples
from itext2kg_spark.merge.kg import canonicalize_kg
from itext2kg_spark.sources.store import KGStore


class KGPipeline:
    def __init__(
        self,
        cfg: PipelineConfig = ATOM,
        embedder=None,
        extractor=None,
        extraction: str = "grammar",
    ):
        """extraction="grammar" (default) uses the sentence-grammar
        extractor (or a custom `extractor`); extraction="token" routes every
        stage — including run_batch's incremental store path — through the
        pure-Catalyst token-triple extractor, the right mode for corpora
        with no grammar structure (arbitrary web text)."""
        self.cfg = cfg
        self.embedder = embedder or HashEmbedder(cfg.embed.dim, cfg.embed.seed)
        self.extractor = extractor or GrammarExtractor()
        self.extraction = extraction

    # -- stage views ----------------------------------------------------------
    def quintuples_from_pages(self, pages: DataFrame) -> DataFrame:
        """pages -> quintuple rows: distill, split into atomic facts, then
        extract (token, vectorized grammar, or the pluggable extractor UDF).
        """
        if self.extraction == "token":
            return self.token_quintuples_from_pages(pages)
        distilled = distill_pages(pages)
        facts = split_atomic_facts(distilled)
        if type(self.extractor) is GrammarExtractor:
            # row-identical vectorized path (pandas .str.extract — C regex
            # over the whole Arrow batch, no per-row Python loop); custom
            # extractors keep the pluggable per-batch UDF below
            from itext2kg_spark.extract.quintuples import (
                extract_quintuples_vectorized,
            )

            return extract_quintuples_vectorized(facts)
        return extract_quintuples(facts, self.extractor)

    def token_quintuples_from_pages(self, pages: DataFrame) -> DataFrame:
        """Pure-Catalyst extraction variant (TokenTripleExtractor): used when
        the corpus has no grammar structure (arbitrary web text) and by the
        oracle-checked queries. Emits the same quintuple schema with empty
        temporal arrays."""
        from itext2kg_spark.extract.quintuples import TokenTripleExtractor

        distilled = distill_pages(pages)
        facts = split_atomic_facts(distilled)
        q = TokenTripleExtractor.apply(facts, text_col="fact")
        return q.select(
            "url",
            "obs_ts",
            "lang",
            "fact_idx",
            "fact",
            "subj_name",
            "subj_label",
            "pred",
            "obj_name",
            "obj_label",
            F.array().cast("array<string>").alias("t_start"),
            F.array().cast("array<string>").alias("t_end"),
        )

    # -- one batch ------------------------------------------------------------
    def build_graph(
        self,
        pages: DataFrame,
        existing_entities: DataFrame | None = None,
        existing_edges: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        q = self.quintuples_from_pages(pages)
        return canonicalize_kg(
            q,
            self.cfg,
            self.embedder,
            existing_entities=existing_entities,
            existing_edges=existing_edges,
            # the token extractor emits literal empty temporal arrays, so
            # the timestamp parse collapses to typed empty literals
            temporal_empty=self.extraction == "token",
        )

    # -- incremental batches with checkpoint/resume ----------------------------
    def run_batch(self, pages: DataFrame, store: KGStore) -> int:
        """Merge one page batch into the store; returns the committed batch id.

        Equivalent of one `build_graph(existing_knowledge_graph=...)` call +
        checkpoint (atom/atom.py:196-208 + testing_atom.py batch loop). On a
        cluster this is an Iceberg MERGE INTO + snapshot commit.
        """
        return self.commit_batch(pages, store, {"n_pages": pages.count()})

    def commit_batch(self, pages: DataFrame, store: KGStore, metrics: dict) -> int:
        """Load the store's last snapshot, merge `pages` into it and commit
        the result as the next batch with `metrics` in its `_COMMITTED`
        marker; returns the batch id. The one commit path of `run_batch`
        and the streaming front end."""
        existing = store.load(pages.sparkSession)
        ents_prev, edges_prev = existing if existing else (None, None)
        entities, edges = self.build_graph(pages, ents_prev, edges_prev)
        batch_id = store.next_batch_id()
        store.write_snapshot(
            batch_id,
            entities,
            edges,
            metrics=metrics,
            lineage=partition_lineage(pages).withColumn(
                "batch_id", F.lit(batch_id)
            ),
        )
        return batch_id


def partition_lineage(df: DataFrame, key: str = "url") -> DataFrame:
    """Per-partition lineage/metrics rows (north rule): partition id, row
    count, distinct keys — written alongside each snapshot by callers."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("rows"),
        F.approx_count_distinct(key).alias(f"approx_distinct_{key}"),
    )
