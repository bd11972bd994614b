"""Stage checkpointing, resume, and per-partition lineage metrics
(SURVEY.md §7.2 stage 8; north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Every pipeline stage writes to its own table; a ``_metrics`` sidecar
records the write's per-partition rows and bytes, wall time and the
stage's resume IDENTITY (the parameters and inputs it was built
under), and a ``_committed`` marker makes the write atomic-observable.
The rows and bytes come from the files the write itself produced
(parquet footers; the Iceberg snapshot summary) — recording them
launches no Spark job.  A stage is reusable iff its marker exists AND
its sidecar records the identity the caller asks for
(:func:`is_committed`) — the one resume rule for the pipeline job and
the driver's serving tables.  Restart = anti-join the committed keys.

The PHYSICAL table layer is pluggable (:class:`ParquetFormat` /
:class:`IcebergFormat`, ``--table-format`` on the pipeline job).  The
default writes bare parquet directories under ``out_dir``.  On an
Iceberg deployment the same stages go through
``df.writeTo(catalog.ns.stage)`` / ``spark.read.table(...)`` — writes
are snapshot-atomic in the catalog — and the ``_committed_<stage>``
marker CONTENT becomes the committed snapshot id, so "resumes from the
last committed Iceberg snapshot checkpoint" (BASELINE.json north_star)
is literally the marker contract: the control flow (markers, identity
sidecars, ``_delta_pending`` crash recovery) is identical across
formats, only the bytes under the table ident change.

The reference analog is the run-stats object + summary sink
(kb-generator.js:36-41, :487-509) and the API's background-generation
status map (api-server.js:259-296) — re-expressed as durable,
partition-grained artifacts instead of in-process state.
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Written(NamedTuple):
    """What one stage write added: the marker's commit reference (None:
    use the commit time), ``(partition_id, n_rows, bytes)`` per write
    task, and the totals."""

    commit_ref: str | None
    partitions: list[tuple[int, int, int]]
    n_rows: int
    bytes_written: int


_PART = re.compile(r"part-(\d+)")


def _part_files(table_dir: str) -> list[str]:
    """The parquet part files under ``table_dir``, at any depth (a
    ``partitionBy`` write nests them in ``key=value`` dirs); hidden
    and ``_``-prefixed entries are skipped, as Spark's reader does."""
    out = []
    for d, dirs, files in os.walk(table_dir):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in files if f.startswith("part-")]
    return out


class ParquetFormat:
    """Default physical layer: one parquet directory per stage under
    ``out_dir``.  ``commit_ref`` has no catalog snapshot to point at,
    so the marker carries the write timestamp (pre-round-5 behavior,
    byte-compatible with existing KBs)."""

    name = "parquet"

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def write(
        self,
        df: DataFrame,
        stage: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> Written:
        """Write ``df`` and measure the part files this call added
        (an append: those not there before) from their footers and
        sizes on the driver.  A task's files (one per ``partitionBy``
        value) sum under its ``part-NNNNN`` index.  The result is
        returned, not kept: one format object serves concurrent
        writers."""
        path = os.path.join(self.out_dir, stage)
        before = set(_part_files(path)) if mode == "append" else set()
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        per_task: dict[int, tuple[int, int]] = {}
        for f in _part_files(path):
            if f in before:
                continue
            pid = int(_PART.match(os.path.basename(f)).group(1))
            rows, size = per_task.get(pid, (0, 0))
            per_task[pid] = (rows + pq.read_metadata(f).num_rows,
                             size + os.path.getsize(f))
        parts = [(pid, r, b) for pid, (r, b) in sorted(per_task.items())]
        return Written(None, parts, sum(p[1] for p in parts),
                       sum(p[2] for p in parts))

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, stage))

    def row_count(self, spark: SparkSession, stage: str) -> int:
        """The stage table's rows, summed from its part files' footers."""
        return sum(
            pq.read_metadata(f).num_rows
            for f in _part_files(os.path.join(self.out_dir, stage))
        )


class IcebergFormat:
    """Iceberg physical layer: stages are tables
    ``<table_prefix>.<stage>`` in a configured Spark catalog; every
    write commits a snapshot and :func:`write_stage` records that
    snapshot id in the ``_committed_<stage>`` marker.

    Requires the Iceberg Spark runtime on the classpath and a catalog
    conf, e.g.::

        spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
          --conf spark.sql.catalog.kb=org.apache.iceberg.spark.SparkCatalog \\
          --conf spark.sql.catalog.kb.type=hadoop \\
          --conf spark.sql.catalog.kb.warehouse=/data/warehouse \\
          jobs/run_kg_pipeline.py --table-format iceberg --table-prefix kb.crawl ...

    Fails fast at construction when the catalog is not configured (the
    sandbox ships no Iceberg jar — ``tests/test_runtime.py`` pins the
    error message and skips the live path when the jar is absent)."""

    name = "iceberg"

    def __init__(self, spark: SparkSession, table_prefix: str):
        catalog = table_prefix.split(".", 1)[0]
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not impl:
            raise RuntimeError(
                f"--table-format iceberg needs a configured Spark "
                f"catalog: set spark.sql.catalog.{catalog} (e.g. "
                "org.apache.iceberg.spark.SparkCatalog) plus its "
                "type/warehouse confs, and ship the "
                "iceberg-spark-runtime jar via --packages"
            )
        self.table_prefix = table_prefix

    def _ident(self, stage: str) -> str:
        return f"{self.table_prefix}.{stage}"

    def _head(self, spark: SparkSession, stage: str, *keys: str):
        """``snapshot_id`` and the ``keys`` of the snapshot summary of
        the table's CURRENT snapshot (the `main` branch head in the
        `refs` metadata table) — metadata only, no data scan."""
        ident = self._ident(stage)
        cols = "".join(f", s.summary['{k}']" for k in keys)
        return spark.sql(
            f"SELECT r.snapshot_id{cols} FROM {ident}.refs r "
            f"JOIN {ident}.snapshots s ON s.snapshot_id = r.snapshot_id "
            "WHERE r.name = 'main'"
        ).first()

    def write(
        self,
        df: DataFrame,
        stage: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> Written:
        """Write ``df`` as one snapshot; its added records and file
        bytes come from the snapshot summary (no per-task breakdown)."""
        ident = self._ident(stage)
        spark = df.sparkSession
        w = df.writeTo(ident)
        if mode == "append" and spark.catalog.tableExists(ident):
            w.append()
        else:
            if partition_by:
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        # The table's CURRENT snapshot (_head), not `snapshots ORDER BY
        # committed_at`: committed_at has millisecond granularity, so a
        # timestamp sort is ambiguous even in the single-writer case.
        # Each stage table has ONE writer (this job) by design, so the
        # branch head read here IS this write's commit; under an
        # out-of-contract concurrent writer the head could advance
        # between commit and read — a far narrower window than the
        # timestamp sort, and "the last committed snapshot checkpoint"
        # (the resume contract) is still what the marker records.
        row = self._head(spark, stage, "added-records", "added-files-size")
        if row is None:
            return Written(None, [], 0, 0)
        return Written(f"snapshot={row[0]}", [], int(row[1] or 0),
                       int(row[2] or 0))

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.table(self._ident(stage))

    def row_count(self, spark: SparkSession, stage: str) -> int:
        """The stage table's rows: its current snapshot's
        ``total-records``."""
        row = self._head(spark, stage, "total-records")
        return int(row[1] or 0) if row else 0


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    fmt: ParquetFormat | IcebergFormat | None = None,
    identity: dict | None = None,
) -> dict:
    """Write a stage output + per-partition lineage metrics, and commit
    it under ``identity`` (a JSON-able dict of whatever the stage was
    built from; see :func:`is_committed`).

    Returns the metrics dict: {stage, mode, format, wall_sec, n_rows,
    bytes_written, partitions: [{partition_id, n_rows, bytes_written},
    ...], identity}.

    An overwrite removes the stage's marker BEFORE it writes, so a crash
    mid-write leaves the stage uncommitted under every identity — never
    a marker over data half-rebuilt under another one.  An append
    extends a stage committed under the same identity and keeps its
    marker; the job's ``_delta_pending`` marker covers that window.

    The rows and bytes are what ``fmt.write`` reports it added, one
    entry per write task — so the only Spark job is the write itself.
    An append's sidecar (``"mode": "append"``, the resume path's delta
    writes) describes the increment, not the cumulative table: O(delta)
    to record, like the write.  An Iceberg write reports totals only
    (``partitions`` is empty).
    """
    fmt = fmt or ParquetFormat(out_dir)
    if mode != "append":
        uncommit(out_dir, stage)
    t0 = time.time()
    w = fmt.write(df, stage, mode=mode, partition_by=partition_by)
    wall = time.time() - t0
    metrics = {
        "stage": stage,
        "mode": mode,
        "format": fmt.name,
        "wall_sec": round(wall, 3),
        "n_rows": w.n_rows,
        "bytes_written": w.bytes_written,
        "partitions": [
            {"partition_id": pid, "n_rows": n, "bytes_written": b}
            for pid, n, b in w.partitions
        ],
        "identity": identity,
    }
    with open(os.path.join(out_dir, f"_metrics_{stage}.json"), "w") as f:
        json.dump(metrics, f, indent=1)
    with open(os.path.join(out_dir, f"_committed_{stage}"), "w") as f:
        # parquet: commit wall time; iceberg: the committed snapshot id
        # — the marker IS the "last committed snapshot checkpoint"
        f.write(w.commit_ref or str(int(time.time())))
    return metrics


def is_committed(
    out_dir: str, stage: str, identity: dict | None = None
) -> bool:
    """True iff ``stage`` is committed under ``identity``: its marker
    exists and its sidecar records an equal identity.  A sidecar that
    records a different identity, none at all, or cannot be read means
    the stage must be rebuilt."""
    if not os.path.exists(os.path.join(out_dir, f"_committed_{stage}")):
        return False
    try:
        with open(os.path.join(out_dir, f"_metrics_{stage}.json")) as f:
            recorded = json.load(f).get("identity")
    except (OSError, ValueError):
        return False
    # compare in JSON form: tuples come back as lists
    return recorded == json.loads(json.dumps(identity))


def uncommit(out_dir: str, stage: str) -> None:
    """Remove ``stage``'s marker: it is rebuilt by the next run."""
    marker = os.path.join(out_dir, f"_committed_{stage}")
    if os.path.exists(marker):
        os.remove(marker)


def read_stage(
    spark: SparkSession, out_dir: str, stage: str,
    fmt: ParquetFormat | IcebergFormat | None = None,
) -> DataFrame:
    return (fmt or ParquetFormat(out_dir)).read(spark, stage)


def resume_delta(
    inputs: DataFrame, spark: SparkSession, out_dir: str, stage: str,
    key: str = "url",
    fmt: ParquetFormat | IcebergFormat | None = None,
    identity: dict | None = None,
) -> DataFrame:
    """Rows of ``inputs`` not yet present in the stage output committed
    under ``identity`` — the restart anti-join (left_anti keeps the big
    side map-local when the committed key set is broadcastable; at
    scale this is a shuffled anti-join on the key, which is exactly
    what we want)."""
    if not is_committed(out_dir, stage, identity):
        return inputs
    done = read_stage(spark, out_dir, stage, fmt=fmt).select(key).distinct()
    return inputs.join(done, on=key, how="left_anti")


def run_metrics(out_dir: str) -> list[dict]:
    out = []
    for fn in sorted(os.listdir(out_dir)):
        if fn.startswith("_metrics_") and fn.endswith(".json"):
            with open(os.path.join(out_dir, fn)) as f:
                out.append(json.load(f))
    return out
