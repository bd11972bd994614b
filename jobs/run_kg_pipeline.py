#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Usage (cluster):
    python tools/package_pyfiles.py          # -> dist/src_to_kb_spark.zip
    spark-submit --py-files dist/src_to_kb_spark.zip \
        jobs/run_kg_pipeline.py --input /data/pages --output /data/kb

Usage (local smoke):
    spark-submit jobs/run_kg_pipeline.py \
        --input /root/testdata/sf0.001 --output /tmp/kb_out

Each stage writes its own parquet table under --output with a
``_committed_<stage>`` marker and per-partition lineage metrics
(``_metrics_<stage>.json``: rows and bytes per write task, read from
the files the write produced).  ``summary.json`` takes its row counts
from the committed tables' file metadata, so neither the metrics nor
the summary launch a Spark job.  Re-running with the same --output
resumes: committed stages are re-read, uncommitted input keys are
recomputed via anti-join (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").  A stage counts as committed only
under the identity it was built with, which its metrics sidecar
records: the table layer plus the parameters of every stage it derives
from.  So --chunk-size/--overlap rebuild chunks and triples,
--neardup-threshold or a new band scheme the near-dup family, and
--table-format/--table-prefix every stage.  Resume cost is O(delta), not O(corpus):
per-doc stages (documents, chunks, linked, bands) append rows derived from the
new docs only, near-dup pairs come from joining the delta's bands
against the committed bands table, and only the genuinely global
stages — components (over the small pair table) and triples (map-only
union) — recompute.  ``--table-format iceberg`` routes the same stage
I/O through Iceberg tables (``runtime/checkpoint.py``
:class:`IcebergFormat`): writes become catalog snapshots and each
``_committed_<stage>`` marker records the committed snapshot id — the
resume contract is identical, the markers just point into the catalog.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages table dir (or driver testdata sf dir)")
    ap.add_argument("--output", required=True, help="KB output dir")
    ap.add_argument("--chunk-size", type=int, default=1000)
    ap.add_argument("--overlap", type=int, default=200)
    ap.add_argument("--neardup-threshold", type=float, default=0.8)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--table-format", choices=("parquet", "iceberg"),
                    default="parquet",
                    help="physical stage-table layer: bare parquet dirs "
                         "under --output (default), or Iceberg tables "
                         "<--table-prefix>.<stage> in a configured Spark "
                         "catalog (markers then record snapshot ids)")
    ap.add_argument("--table-prefix", default="kb.main",
                    help="iceberg only: catalog.namespace holding the "
                         "stage tables")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from src_to_kb_spark import pipeline
    from src_to_kb_spark.operators import canonicalize, dedup
    from src_to_kb_spark.operators.extract import MAX_FILE_SIZE
    from src_to_kb_spark.runtime import checkpoint as ckpt
    from src_to_kb_spark.session import get_spark
    from src_to_kb_spark.sources.pages import load_pages

    # Under spark-submit a session already exists; reuse its conf.
    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark(
        "kg-pipeline", cpus=args.cpus
    )
    os.makedirs(args.output, exist_ok=True)
    # Physical table layer: --output always holds the control plane
    # (markers/metrics/identity sidecars); the stage DATA lives either in
    # parquet dirs under it (default) or in Iceberg tables, where every
    # commit marker records the committed snapshot id (north_star:
    # "resumes from the last committed Iceberg snapshot checkpoint").
    fmt = (
        ckpt.IcebergFormat(spark, args.table_prefix)
        if args.table_format == "iceberg"
        else ckpt.ParquetFormat(args.output)
    )

    # Resume identity of each stage: what it is built from, following
    # the stage graph — a committed stage is reused only under an equal
    # identity (runtime/checkpoint.py is_committed), so a parameter
    # change rebuilds exactly the stages derived from it.  The physical
    # layer heads every identity: a parquet run's marker says nothing
    # about Iceberg tables under a prefix, and vice versa.
    layer = {"table_format": args.table_format}
    if args.table_format == "iceberg":
        layer["table_prefix"] = args.table_prefix
    chunk_id = {**layer, "chunk_size": args.chunk_size,
                "overlap": args.overlap}
    bands_id = {**layer, "bands_scheme": dedup.BANDS_SCHEME}
    pairs_id = {**bands_id, "neardup_threshold": args.neardup_threshold}
    ids = {
        "documents": layer, "chunks": chunk_id, "linked": layer,
        "bands": bands_id, "neardup_pairs": pairs_id,
        "components": pairs_id, "triples": {**chunk_id, **pairs_id},
    }

    # the stage store, looked up on the checkpoint module at call time
    def committed(name):
        return ckpt.is_committed(args.output, name, ids[name])

    def write(df, name, **kw):
        ckpt.write_stage(df, args.output, name, fmt=fmt,
                         identity=ids[name], **kw)

    def read(name):
        return ckpt.read_stage(spark, args.output, name, fmt=fmt)

    # Untrusted-input precondition: every downstream triple part is
    # (subj, pred, obj)-unique ONLY for unique urls (operators/
    # triples.py build_triples docstring) — a crawl revisiting a page
    # would otherwise emit duplicate triples.  Enforce it once at
    # ingest (doc-granular shuffle, far cheaper than a distinct over
    # the full edge table).  The survivor is picked DETERMINISTICALLY
    # — latest warc_ts, content-checksum tiebreak — via max_by (one
    # shuffle WITH map-side partial aggregation; a row_number window
    # would sort whole url-partitions for the same answer).  A bare
    # dropDuplicates keeps an arbitrary row, making KB output
    # nondeterministic across runs when a url recurs with different
    # content.
    # Apply the extract size gate HERE, before dedup and before the
    # resume anti-join: a gated page never reaches the documents table,
    # so leaving it in `pages` would make it a PERMANENT phantom delta
    # — every no-op resume would re-detect it as new, invalidate the
    # downstream stages and recompute them, turning O(delta) resume
    # into O(corpus) forever.
    # keep_keys=False: the pipeline only consumes the 5 north-rule
    # columns, and a REAL pages table has no synthesized keys anyway
    # (load_pages raises on keep_keys=True there)
    raw_pages = load_pages(spark, args.input, keep_keys=False).filter(
        F.length("html") <= MAX_FILE_SIZE
    )
    page_cols = raw_pages.columns
    pages = (
        raw_pages.groupBy("url")
        .agg(
            F.max_by(
                F.struct(*[c for c in page_cols if c != "url"]),
                F.struct(
                    F.col("warc_ts"),
                    F.sha2(F.col("html"), 256),
                    F.sha2(F.col("text"), 256),
                ),
            ).alias("_p")
        )
        .select("url", "_p.*")
        .select(*page_cols)
    )

    DOWNSTREAM = ("chunks", "linked", "bands", "neardup_pairs",
                  "components", "triples")
    pending_marker = os.path.join(args.output, "_delta_pending")

    def invalidate(stages):
        for st in stages:
            ckpt.uncommit(args.output, st)

    # Crash recovery: a `_delta_pending` marker means a previous run
    # died between appending a documents delta and reconciling the
    # downstream stages — some of their `_committed` markers may be
    # stale (missing the delta's rows) with no way to tell which.
    # Invalidate them ALL; they rebuild from the (complete) documents
    # table.  The marker is removed only after every downstream stage
    # has been reconciled, so the window is correct at any crash point.
    if os.path.exists(pending_marker):
        invalidate(DOWNSTREAM)
        os.remove(pending_marker)

    # -- stage: documents (resume unit = url) ------------------------------
    docs_delta = None  # extracted rows appended this run, if resuming
    if committed("documents"):
        delta = ckpt.resume_delta(pages, spark, args.output, "documents",
                                  fmt=fmt, identity=ids["documents"])
        if delta.limit(1).count() > 0:
            docs_delta = pipeline.documents_of(delta).localCheckpoint()
            # pending marker BEFORE the append: from here until all
            # downstream stages reconcile, a crash must invalidate them
            with open(pending_marker, "w") as f:
                f.write("reconciling documents delta")
            write(docs_delta, "documents", mode="append")
    else:
        write(pipeline.documents_of(pages), "documents")
    documents = read("documents")

    # -- resume semantics for downstream stages ----------------------------
    # A documents delta invalidates every committed downstream result.
    # Per-document (map-only) stages — chunks, linked — propagate the
    # delta exactly: compute over the NEW documents only, append.
    # Near-dup is delta-aware too (r2 verdict #2): the band signatures
    # are their own committed stage table, so a delta only bands the
    # NEW docs and joins them against the committed bands — the band
    # UDF never re-touches the existing corpus.  Components update
    # INCREMENTALLY from the committed labeling when one exists
    # (quotient-graph contraction — the iterative CC work is O(delta);
    # see incremental_components); only triples (map-only union over
    # stage tables) recompute outright.
    # Seed eligibility is decided BEFORE invalidation: the marker comes
    # off below, but the parquet labels stay on disk and are exactly
    # the pre-delta fixpoint — a crash mid-delta re-enters through the
    # _delta_pending invalidation above, which also clears the seed.
    components_seed_ok = docs_delta is not None and committed("components")
    if docs_delta is not None:
        invalidate(("components", "triples"))

    # -- downstream stages (each committed-or-computed) --------------------
    def stage(name, build, per_doc=False, partition_by=None):
        """Commit ``name`` if it is not committed.  A per-document
        stage is ``build`` applied to the documents; on resume it
        propagates the delta exactly by appending ``build(delta)``.
        Any other stage is ``build()``."""
        if not committed(name):
            write(build(documents) if per_doc else build(), name,
                  partition_by=partition_by)
        elif per_doc and docs_delta is not None:
            write(build(docs_delta), name, mode="append",
                  partition_by=partition_by)
        return read(name)

    # chunks, mention-linking, and near-dup→components are independent
    # given the committed documents table — submit their stage writes
    # as concurrent Spark jobs (on a cluster: three parallel writers;
    # serializing them idles executors at every stage barrier)
    from concurrent.futures import ThreadPoolExecutor

    def mk_chunks():
        return stage(
            "chunks",
            lambda d: pipeline.chunks_of(d, args.chunk_size, args.overlap),
            per_doc=True,
        )

    def mk_linked():
        return stage("linked", pipeline.linked_of, per_doc=True)

    def mk_components():
        # bands stage table: 2 short strings per doc — per-document, so
        # it delta-appends like chunks/linked
        bands = stage("bands", pipeline.bands_of, per_doc=True)
        delta_pairs = None
        if not committed("neardup_pairs"):
            write(
                pipeline.pairs_from_bands(
                    documents, bands, args.neardup_threshold
                ),
                "neardup_pairs",
            )
        elif docs_delta is not None:
            # incremental near-dup: every NEW pair has ≥1 delta member
            # (delta urls are anti-joined fresh), so candidates =
            # bands(delta) ⋈ bands(full, incl. the just-appended delta
            # rows), verified against the full documents table, and
            # APPENDED — the committed pair set stays untouched.
            # localCheckpoint: the incremental-components path below
            # re-reads these rows; without it the verify join would
            # re-run per consumer.
            delta_pairs = pipeline.pairs_from_bands(
                documents, bands, args.neardup_threshold,
                delta_keys=docs_delta.select(F.col("url").alias("key")),
            ).localCheckpoint()
            write(delta_pairs, "neardup_pairs", mode="append")
        pairs = read("neardup_pairs")
        if (
            not committed("components")
            and components_seed_ok
            and delta_pairs is not None
        ):
            # incremental CC: seed from the committed labeling, contract
            # the delta pairs, iterate over O(delta) edges only.  The
            # eager checkpoint materializes the result BEFORE the
            # overwrite of the table it was read from.
            updated = canonicalize.incremental_components(
                read("components"), delta_pairs
            ).localCheckpoint()
            write(updated, "components")
        return stage(
            "components", lambda: canonicalize.connected_components(pairs)
        )

    with ThreadPoolExecutor(max_workers=3) as ex:
        f_chunks = ex.submit(mk_chunks)
        f_linked = ex.submit(mk_linked)
        f_comp = ex.submit(mk_components)
        chunks = f_chunks.result()
        linked = f_linked.result()
        components = f_comp.result()
    # partitioned by predicate: a query touching one predicate
    # (e.g. all same_as edges) scans one directory, not the table
    stage(
        "triples",
        lambda: pipeline.triples_of(documents, linked, components, chunks),
        partition_by=["pred"],
    )
    # every downstream stage is now consistent with the appended delta
    if os.path.exists(pending_marker):
        os.remove(pending_marker)

    # row counts from the committed tables' file metadata: no Spark job
    summary = {
        name: fmt.row_count(spark, name)
        for name in ("documents", "chunks", "linked", "neardup_pairs",
                     "components", "triples")
    }
    summary["stages"] = ckpt.run_metrics(args.output)
    with open(os.path.join(args.output, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "stages"}))
    return summary


if __name__ == "__main__":
    main()
