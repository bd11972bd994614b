"""The KG-construction stage graph (SURVEY.md §7.2), written once.

pages → documents → {chunks, linked, bands → neardup_pairs →
components} → triples.  This module says which operators build each
stage from which inputs; every entry point composes these functions
instead of re-wiring the operators:

* per-document stages, each one function of a frame of pages or
  documents, so the same function builds a whole table or a delta:
  :func:`documents_of` (salted repartition + extract),
  :func:`chunks_of`, :func:`linked_of` (mention detection + linking),
  :func:`bands_of` (LSH band signatures);
* near-dup pairs: :func:`pairs_from_bands` verifies band-join
  candidates (all of them, or only those touching a delta), while
  :func:`run_pipeline` uses the fused ``neardup_pairs`` pass;
* components: ``connected_components`` over the pairs;
* :func:`triples_of`: the map-only union of the triple parts.

Consumers:

* :func:`run_pipeline` composes the stages in memory (documents
  persisted once for its four consumers) — the driver entry, the
  ``pipeline_triples`` query and the scaling worker in ``bench.py``;
* ``jobs/run_kg_pipeline.py`` composes them through the stage store:
  each stage writes its own table with a commit marker, a cold build
  applies the per-document functions to the committed documents, and
  a resume applies them to the documents delta and appends.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .operators.canonicalize import connected_components
from .operators.chunker import chunk_documents
from .operators.dedup import (
    band_signature_rows,
    candidate_pairs_from_bands,
    candidate_pairs_involving,
    neardup_pairs,
    verify_candidate_pairs,
)
from .operators.extract import extract_pages
from .operators.linking import link_mentions
from .operators.mentions import detect_mentions
from .operators.triples import (
    build_triples,
    chunk_triples,
    doc_triples,
    mention_triples,
    same_as_triples,
)
from .runtime.skew import salted_repartition
from .sources.gazetteer import gazetteer_df
from .sources.pages import load_pages


def documents_of(pages: DataFrame) -> DataFrame:
    # Salted repartition on (url_host, xxhash64(url) % salt): spreads
    # hot hosts AND guarantees the map stages actually fan out — a
    # small parquet input may arrive as one partition, which would
    # serialize the Arrow UDF stages regardless of cluster size.
    # 1× parallelism: chained Arrow stages pay a fixed per-task
    # setup cost, so over-partitioning is expensive (4× cores
    # measured 3× slower end-to-end at small inputs); on heavily
    # skewed REAL inputs where per-task runtimes vary, raise the
    # multiplier for packing slack — AQE still splits stragglers.
    n = pages.sparkSession.sparkContext.defaultParallelism
    return extract_pages(salted_repartition(pages, n_partitions=n))


# the per-document stages that are a single operator
chunks_of = chunk_documents
bands_of = band_signature_rows


def linked_of(documents: DataFrame) -> DataFrame:
    gaz = gazetteer_df(documents.sparkSession)
    return link_mentions(detect_mentions(documents, gaz), gaz)


def pairs_from_bands(
    documents: DataFrame,
    bands: DataFrame,
    threshold: float,
    delta_keys: DataFrame | None = None,
) -> DataFrame:
    """Verified near-dup pairs from a band table; with ``delta_keys``
    (one ``key`` column) only the pairs with ≥1 delta member."""
    if delta_keys is None:
        cands = candidate_pairs_from_bands(bands)
    else:
        delta_bands = bands.join(delta_keys, "key", "left_semi")
        cands = candidate_pairs_involving(delta_bands, bands)
    return verify_candidate_pairs(documents, cands, threshold=threshold)


def triples_of(
    documents: DataFrame,
    linked: DataFrame,
    components: DataFrame,
    chunks: DataFrame,
) -> DataFrame:
    return build_triples(
        doc_triples(documents),
        mention_triples(linked),
        same_as_triples(components),
        chunk_triples(chunks),
    )


@dataclass
class PipelineResult:
    documents: DataFrame
    chunks: DataFrame
    linked: DataFrame
    components: DataFrame
    triples: DataFrame


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    chunk_size: int = 1000,
    overlap: int = 200,
    neardup_threshold: float = 0.8,
) -> PipelineResult:
    # The documents stage feeds four independent consumers (chunker,
    # mentions, near-dup, doc triples) — persist it once instead of
    # re-running the UDF scan per branch.  At cluster scale the same
    # role is played by the stage's committed table.
    documents = documents_of(pages).persist()
    chunks = chunks_of(documents, chunk_size, overlap)
    linked = linked_of(documents)
    pairs = neardup_pairs(documents, threshold=neardup_threshold)
    # No nodes df: singletons never produce same_as edges, so label
    # propagation only needs the nodes that appear in pairs.
    components = connected_components(pairs)
    return PipelineResult(
        documents=documents,
        chunks=chunks,
        linked=linked,
        components=components,
        triples=triples_of(documents, linked, components, chunks),
    )


def run_pipeline_sf(spark: SparkSession, sf_dir: str, **kw) -> PipelineResult:
    # keep_keys=False: the pipeline consumes only the 5 north-rule
    # columns (extract_pages re-derives ids from url), and a REAL pages
    # table has no synthesized keys — load_pages raises on keep_keys=True
    # there, so the default would reject exactly the input shape this
    # entry point supports.
    return run_pipeline(spark, load_pages(spark, sf_dir, keep_keys=False), **kw)
