"""Round-5 review-fix pins: incremental-CC property test.

The quotient-graph contraction in ``incremental_components``
(canonicalize.py) is EXACT by the min-label closure argument in its
docstring; this file checks the claim the adversarial way — random
graphs, random base/delta splits, merged labels must equal a
from-scratch run over the union.  The driver's oracle row
(`incremental_components` in __spark_entry__.py) pins one structured
holdout at sf0.01; hypothesis covers the shapes that row can't reach:
delta edges between two brand-new nodes, deltas that bridge many
committed components at once, self-loops, duplicate edges, and empty
bases/deltas.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from src_to_kb_spark.operators.canonicalize import (
    connected_components,
    incremental_components,
)

_NODES = [f"n{i:02d}" for i in range(10)]

_edge = st.tuples(
    st.sampled_from(_NODES), st.sampled_from(_NODES)
)


def _pairs_df(spark, edges):
    schema = "key_a string, key_b string"
    if not edges:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(edges, schema)


def _labels(df):
    return sorted((r["key"], r["canon_id"]) for r in df.collect())


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(_edge, max_size=12),
    delta=st.lists(_edge, max_size=8),
)
def test_incremental_components_equals_from_scratch(spark, base, delta):
    committed = connected_components(_pairs_df(spark, base))
    merged = incremental_components(committed, _pairs_df(spark, delta))
    scratch = connected_components(_pairs_df(spark, base + delta))
    # both sides label exactly the endpoints of NON-LOOP edges:
    # connected_components filters a == b before deriving its node
    # set, and incremental_components drops self-loop delta edges up
    # front for the same reason — a key appearing only in (x, x)
    # edges gets no label from either path
    assert _labels(merged) == _labels(scratch)


def test_dup_embedding_count_is_distinct_chunk_ids(spark):
    """The dup-vector metric counts DISTINCT chunk_ids whose merge saw
    more than one embedding — duplicate chunk ROWS in a malformed
    chunks table must not fan the count out (2 dup rows × 2 vectors is
    still 1 duplicated chunk_id)."""
    from pyspark.sql import functions as F

    from src_to_kb_spark.sinks.upload import (
        _docs_with_chunks,
        merge_embeddings_into_chunks,
    )

    docs = spark.createDataFrame(
        [("d1", "u1", 10, "en", "code", "t")],
        "doc_uid string, url string, size long, language_ext string, "
        "type string, text string",
    )
    chunks = spark.createDataFrame(
        [("c1", "d1", 0, "x", 1, 1), ("c1", "d1", 0, "x", 1, 1),
         ("c2", "d1", 1, "y", 2, 2)],
        "chunk_id string, doc_uid string, chunk_index int, "
        "content string, start_line int, end_line int",
    )
    emb = spark.createDataFrame(
        [("c1", [0.1]), ("c1", [0.2]), ("c2", [0.3])],
        "chunk_id string, embedding array<double>",
    )
    joined = _docs_with_chunks(
        docs, merge_embeddings_into_chunks(chunks, emb),
        with_embedding=True,
    )
    total = joined.agg(F.coalesce(F.sum("n_dup"), F.lit(0))).first()[0]
    assert total == 1


def test_flag_regressions_threshold_floor_and_driver_shape():
    """The drift tripwire reads the driver-shaped BENCH_r{N}.json
    (queries under parsed.queries), flags >1.25x ratios, and requires
    a >0.25 s absolute delta so sub-second queries at the scheduler
    noise floor (50 ms jitter on a 0.1 s query) don't cry wolf.  It
    is called with the latest round's own cpus and sf, so that round
    is the comparable baseline."""
    import json
    import os

    import bench

    here = os.path.dirname(os.path.abspath(bench.__file__))
    rounds = sorted(
        p for p in os.listdir(here) if p.startswith("BENCH_r")
    )
    assert rounds, "driver-recorded bench artifacts should exist"
    with open(os.path.join(here, rounds[-1])) as f:
        doc = json.load(f)
    prev = doc.get("queries") or (doc.get("parsed") or {}).get("queries")
    assert prev, "latest BENCH file must expose queries in either shape"

    big = max(prev, key=prev.get)      # multi-second query
    small = min(prev, key=prev.get)    # noise-floor query
    assert prev[small] < 1.0 <= prev[big]

    stamp = doc.get("parsed") or doc
    cpus, sf = stamp["cpus"], stamp["sf"]

    out = bench._flag_regressions({
        big: prev[big] * 1.5,          # ratio and delta both trip
        small: prev[small] * 1.5,      # ratio trips, delta is noise
    }, cpus, sf)
    assert out["baseline"] == rounds[-1]
    assert big in out["flagged"] and small not in out["flagged"]
    assert out["flagged"][big]["ratio"] == 1.5

    # within-threshold walls never flag regardless of magnitude
    out2 = bench._flag_regressions({big: prev[big] * 1.2}, cpus, sf)
    assert out2["flagged"] == {}


def test_flag_regressions_needs_a_comparable_baseline():
    """A 4-core sweep is never judged against the 32-core BENCH_r05:
    with no recorded round at the sweep's own cpus and sf the tripwire
    names no baseline and flags nothing, however slow the sweep."""
    import json
    import os

    import bench

    here = os.path.dirname(os.path.abspath(bench.__file__))
    with open(os.path.join(here, "BENCH_r05.json")) as f:
        doc = json.load(f)
    assert doc["cpus"] == 32 and doc["parsed"]["cpus"] == 32
    prev = doc["parsed"]["queries"]
    slow = {name: 10 * secs + 1 for name, secs in prev.items()}

    for cpus, sf in ((4, doc["parsed"]["sf"]), (32, "sf1")):
        out = bench._flag_regressions(slow, cpus, sf)
        assert out["baseline"] is None, (cpus, sf, out)
        assert out["reason"] == "no comparable baseline"
        assert out["flagged"] == {}

    # the driver's scalar sf and the sweep's sf path name one scale
    same = bench._flag_regressions(slow, 32, doc["sf"])
    assert same["baseline"] is not None and same["flagged"]
