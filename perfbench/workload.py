"""One benchmark run: seeded inputs, then a cold build and an O(delta)
resume of the shipped job, with every output checked after the clock
stops.  The traced run also times the compute-only pipeline.

The program is called in process through its public functions only.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.stats import self_times
from perfbench.tracer import Tracer, read_status

STAGES = ("documents", "chunks", "linked", "bands", "neardup_pairs",
          "components", "triples")
UDF_STAGES = STAGES[:5]  # the stages that evaluate Python UDFs
# On resume, documents and neardup_pairs evaluate their UDFs in the job's
# localCheckpoint() before write_stage, so only these three do so inside it.
RESUME_UDF_STAGES = ("chunks", "linked", "bands")
THRESHOLD = 0.8  # the job's default near-dup threshold
# predicates every generated doc gets (operators/triples.py)
PER_DOC = ("has_language", "has_type", "has_checksum", "has_chunk", "mentions",
           "linked_to")


@dataclass(frozen=True)
class Workload:
    name: str
    docs: int
    source: str  # "sf": sf-testdata-style documents; "dup": near-dup clusters


WORKLOADS = {
    "sf_build": Workload("sf_build", docs=2000, source="sf"),
    "dup_build": Workload("dup_build", docs=800, source="dup"),
}

END_TO_END = [
    ("setup_s", "s"), ("build_s", "s"), ("triples_per_s", "triples/s"),
    ("resume_s", "s"), ("resume_over_build", "ratio"),
    ("kb_bytes_per_input_byte", "ratio"), ("success_ratio", "ratio"),
]

# span name -> the program layer (module) it times
LAYER_OF_SPAN = {
    "build": "jobs.run_kg_pipeline",
    "resume": "jobs.run_kg_pipeline",
    "checkpoint.write_stage": "runtime.checkpoint",
    "ParquetFormat.write": "runtime.checkpoint",
    "checkpoint.resume_delta": "runtime.checkpoint",
    "canonicalize.connected_components": "operators.canonicalize",
    "canonicalize.incremental_components": "operators.canonicalize",
    "pipeline.connected_components": "operators.canonicalize",
    "pipeline": "pipeline",
    "pipeline.run_pipeline": "pipeline",
}


def per_layer_names() -> list[tuple[str, str]]:
    out = []
    for s in STAGES:
        out += [(f"build.{s}.wall_s", "s"), (f"build.{s}.metrics_s", "s"),
                (f"build.{s}.bytes_written", "B"), (f"build.{s}.rows", "count"),
                (f"build.{s}.spill_bytes", "B"), (f"build.{s}.task_skew", "ratio"),
                (f"resume.{s}.wall_s", "s")]
    for s in UDF_STAGES:
        out += [(f"build.{s}.py_run_s", "s"), (f"build.{s}.py_init_s", "s"),
                (f"build.{s}.arrow_bytes", "B")]
    out += [(f"resume.{s}.py_init_s", "s") for s in RESUME_UDF_STAGES]
    out += [
        ("resume.delta_s", "s"),
        ("dedup.candidates_per_doc", "ratio"), ("dedup.verify_yield", "ratio"),
        ("build.components.spark_jobs", "count"), ("build.components.cc_s", "s"),
        ("resume.components.cc_s", "s"), ("build.triples.shuffle_bytes", "B"),
        ("build.summary_s", "s"), ("build.spark_jobs", "count"),
        ("resume.spark_jobs", "count"), ("build.unattributed_s", "s"),
        ("resume.unattributed_s", "s"), ("build.unattributed_share", "ratio"),
        ("resume.unattributed_share", "ratio"),
        ("pipeline.wall_s", "s"),
        ("pipeline.py_udf_evals", "count"), ("pipeline.py_init_s", "s"),
        ("pipeline.py_run_s", "s"), ("pipeline.arrow_bytes", "B"),
    ]
    out += [(f"self.{layer}_s", "s")
            for layer in dict.fromkeys(LAYER_OF_SPAN.values())]
    out += [("proc.peak_rss_mb", "MB"), ("trace.overhead_s", "s"),
            ("trace.build_s", "s")]
    return out


@dataclass
class Ops:
    """Attempted and failed operations: job runs, pipeline runs, checks."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------

def start_session(work: str, cpus: int):
    from src_to_kb_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    keep = "100000"
    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in /tmp; JVM temp files in the checkout
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and execution of a run in the stores
            "spark.ui.retainedJobs": keep,
            "spark.ui.retainedStages": keep,
            "spark.sql.ui.retainedExecutions": keep,
        },
    )


@dataclass
class Inputs:
    full: str  # input dir: every doc
    cold: str  # input dir: every doc but the seeded 1% delta
    delta: set[str]  # urls of the delta docs
    docs: int
    input_bytes: int


def materialise(wl: Workload, seed: int, work: str) -> Inputs:
    """Write the full input table and the cold one without the seeded
    1% delta.  The program sees only these.

    sf: an sf-testdata-style ``documents`` table, which the job and the
    pipeline adapt with ``load_pages``; dup: a ``pages`` table."""
    full = os.path.join(work, "input_full")
    cold = os.path.join(work, "input_cold")
    if wl.source == "sf":
        table = inputs.sf_documents(wl.docs, seed)
        urls = inputs.sf_urls(table)
        name = "documents.parquet"
    else:
        table = inputs.dup_pages(wl.docs, seed)
        urls = table.column("url").to_pylist()
        name = "part-0.parquet"
    delta = inputs.delta_keys(urls, seed)
    keep = pa.array([u not in delta for u in urls])
    for path, t in ((full, table), (cold, table.filter(keep))):
        os.makedirs(path)
        pq.write_table(t, os.path.join(path, name))
    return Inputs(full, cold, delta, len(urls), dir_bytes(full))


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
    return total


# ---------------------------------------------------------------------------
# the measured cycle
# ---------------------------------------------------------------------------

def run_job(argv: list[str]) -> dict:
    import run_kg_pipeline

    # the job prints its summary; keep stdout for the result line
    with contextlib.redirect_stdout(sys.stderr):
        return run_kg_pipeline.main(argv)


def digest_columns():
    """count and order-independent value hash of a triples frame"""
    from pyspark.sql import functions as F

    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)")).alias("h"),
    )


def kb_digest(spark, kb: str) -> tuple[int, int]:
    from src_to_kb_spark.runtime.checkpoint import read_stage

    row = read_stage(spark, kb, "triples").agg(*digest_columns()).first()
    return int(row["n"]), int(row["h"] or 0)


def timed_pipeline(spark, tracer: Tracer, input_dir: str,
                   m: dict) -> tuple[int, int]:
    """run_pipeline's triples into a noop sink at the job's threshold;
    sets ``m["pipeline_s"]`` and returns the triples' digest."""
    from pyspark.sql import Observation

    from src_to_kb_spark import pipeline

    obs = Observation()
    with tracer.span("pipeline", "pipeline", root=True):
        t = time.perf_counter()
        with tracer.span("pipeline.run_pipeline"):
            res = pipeline.run_pipeline_sf(
                spark, input_dir, neardup_threshold=THRESHOLD)
        res.triples.observe(obs, *digest_columns()).write.format(
            "noop").mode("overwrite").save()
        m["pipeline_s"] = time.perf_counter() - t
    res.documents.unpersist()
    return int(obs.get["n"]), int(obs.get["h"] or 0)


def check_kb(spark, ops: Ops, kb: str, cold: dict, resumed: dict,
             cold_triples: str, inp) -> None:
    """The resume is O(delta) and loses nothing: every triple of the
    cold KB survives except same_as edges (a delta doc can join a
    cluster and lower its canonical id), every new triple outside
    same_as belongs to a delta doc, each delta doc got every per-doc
    predicate (all generated docs have text, chunks and gazetteer
    words), no triple is stored twice, and the job's summaries match
    the tables it wrote."""
    from pyspark.sql import functions as F

    from src_to_kb_spark.runtime.checkpoint import read_stage

    key = ["subj", "pred", "obj"]
    both = (
        spark.read.parquet(cold_triples)
        .select(*key, F.lit(1).alias("b"), F.lit(0).alias("a"))
        .unionByName(read_stage(spark, kb, "triples")
                     .select(*key, F.lit(0).alias("b"), F.lit(1).alias("a")))
        .groupBy(*key).agg(F.sum("b").alias("nb"), F.sum("a").alias("na"))
    )
    kept = F.col("pred") != "same_as"
    in_delta = F.col("subj").isin(sorted(inp.delta))

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    r = both.agg(
        n(kept & (F.col("nb") > 0) & (F.col("na") == 0)).alias("lost"),
        n(kept & (F.col("na") > 0) & (F.col("nb") == 0) & ~in_delta).alias("foreign"),
        n((F.col("nb") > 1) | (F.col("na") > 1)).alias("twice"),
        F.sum("nb").alias("n_before"),
        F.sum("na").alias("n_after"),
    ).first()
    ops.check(r["lost"] == 0, f"resume lost {r['lost']} triples of the cold KB")
    ops.check(r["foreign"] == 0,
              f"resume added {r['foreign']} triples outside the delta")
    covered = (read_stage(spark, kb, "triples")
               .filter(in_delta & F.col("pred").isin(*PER_DOC))
               .select("subj", "pred").distinct().count())
    want = len(PER_DOC) * len(inp.delta)
    ops.check(covered == want,
              f"delta docs have {covered} of {want} (doc, per-doc predicate) pairs")
    ops.check(r["twice"] == 0, f"{r['twice']} triples are stored more than once")
    ops.check(r["n_before"] == cold["triples"],
              f"cold summary says {cold['triples']} triples, KB had {r['n_before']}")
    ops.check(r["n_after"] == resumed["triples"],
              f"resume summary says {resumed['triples']} triples, KB has {r['n_after']}")
    ops.check(resumed["documents"] == inp.docs,
              f"resumed KB holds {resumed['documents']} of {inp.docs} docs")


def run(wl: Workload, seed: int, trace: bool, work: str, cpus: int) -> dict:
    """Set up, then one measured cycle in a fresh Spark session: a cold
    build of the job over the input without the delta, then a resume
    with the delta added.  Check the outputs and stop Spark.

    The cold build is the session's first Spark work, as it is for the
    job under spark-submit: it pays the one-off JVM code generation and
    Python worker start; the resume after it runs warm.  The traced run
    adds the noop pipeline over the full input, as the reference for
    the resumed KB and for the pipeline's layer metrics.
    """
    t0 = time.perf_counter()
    spark = start_session(work, cpus)
    since_ms = int(time.time() * 1000)
    tracer = Tracer(spark, trace)
    inp = materialise(wl, seed, work)
    m: dict[str, float] = {"setup_s": time.perf_counter() - t0}

    ops = Ops()
    kb = os.path.join(work, "kb")
    job_args = ["--cpus", str(cpus), "--neardup-threshold", str(THRESHOLD)]
    # A failed job run leaves nothing to measure: it raises and the run
    # ends without a result.
    with tracer.instrument():
        with tracer.span("build", "build", root=True):
            t = time.perf_counter()
            cold = run_job(["--input", inp.cold, "--output", kb, *job_args])
            m["build_s"] = time.perf_counter() - t
        m["triples_per_s"] = cold["triples"] / m["build_s"]
        # untimed: the resume rewrites the triples table
        cold_triples = os.path.join(work, "cold_triples")
        shutil.copytree(os.path.join(kb, "triples"), cold_triples)
        with tracer.span("resume", "resume", root=True):
            t = time.perf_counter()
            resumed = run_job(["--input", inp.full, "--output", kb, *job_args])
            m["resume_s"] = time.perf_counter() - t
        ops.attempted += 2
        m["resume_over_build"] = m["resume_s"] / m["build_s"]
        m["kb_bytes_per_input_byte"] = dir_bytes(kb) / inp.input_bytes
        if trace:
            pipeline_digest = timed_pipeline(spark, tracer, inp.full, m)
            ops.attempted += 1

    # ---- untimed correctness checks ----
    check_kb(spark, ops, kb, cold, resumed, cold_triples, inp)
    if trace:
        got = kb_digest(spark, kb)
        ops.check(got == pipeline_digest,
                  f"resumed KB triples {got} != pipeline triples {pipeline_digest}")
    m["success_ratio"] = 1.0 - ops.failed / ops.attempted

    layers = None
    if trace:
        layers, status = layer_metrics(spark, tracer, since_ms, kb, resumed, m)
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"spans": tracer.spans,
                       "self_s": self_times(tracer.spans),
                       "status": status}, f, indent=1)
    stop_session(spark)
    return {
        "ops": ops,
        "end_to_end": m,
        "layers": layers,
        "input_docs": inp.docs,
        "input_bytes": inp.input_bytes,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to end."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------

def layer_metrics(spark, tracer: Tracer, since_ms: int, kb: str, resumed: dict,
                  m: dict) -> tuple[dict, dict]:
    """The per-layer metrics, and the raw per-group status numbers."""
    from src_to_kb_spark.operators.dedup import candidate_pairs_from_bands
    from src_to_kb_spark.runtime.checkpoint import read_stage

    status = read_status(spark, since_ms)
    groups = status["groups"]
    spans = tracer.spans
    selfs = self_times(spans)
    roots = {s["name"]: s for s in spans if s["parent"] is None}
    by_id = {s["id"]: s for s in spans}

    def phase_of(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["name"]

    def dur(s):
        return s["end"] - s["start"]

    def writes(phase, stage):
        return [s for s in spans if s["name"] == "checkpoint.write_stage"
                and s["group"] == f"{phase}.{stage}"]

    def grp(name):
        return groups.get(name, {})

    out: dict[str, float] = {}
    for s in STAGES:
        g = grp(f"build.{s}")
        out[f"build.{s}.wall_s"] = sum(map(dur, writes("build", s)))
        # write_stage's self time: everything but ParquetFormat.write,
        # i.e. its separate post-write counting job
        out[f"build.{s}.metrics_s"] = sum(selfs[w["id"]] for w in writes("build", s))
        out[f"build.{s}.bytes_written"] = g.get("bytes_written", 0)
        out[f"build.{s}.rows"] = g.get("rows", 0)
        out[f"build.{s}.spill_bytes"] = g.get("spill_bytes", 0)
        out[f"build.{s}.task_skew"] = g.get("task_skew", 0.0)
        out[f"resume.{s}.wall_s"] = sum(map(dur, writes("resume", s)))
    for s in UDF_STAGES:
        g = grp(f"build.{s}")
        out[f"build.{s}.py_run_s"] = g.get("py_run_s", 0.0)
        out[f"build.{s}.py_init_s"] = g.get("py_init_s", 0.0)
        out[f"build.{s}.arrow_bytes"] = g.get("arrow_bytes", 0.0)
    for s in RESUME_UDF_STAGES:
        out[f"resume.{s}.py_init_s"] = grp(f"resume.{s}").get("py_init_s", 0.0)
    out["resume.delta_s"] = sum(
        dur(s) for s in spans if s["name"] == "checkpoint.resume_delta")

    candidates = candidate_pairs_from_bands(read_stage(spark, kb, "bands")).count()
    out["dedup.candidates_per_doc"] = candidates / max(resumed["documents"], 1)
    out["dedup.verify_yield"] = resumed["neardup_pairs"] / max(candidates, 1)

    out["build.components.spark_jobs"] = grp("build.components").get("spark_jobs", 0)
    for phase in ("build", "resume"):
        out[f"{phase}.components.cc_s"] = sum(
            dur(s) for s in spans
            if s["name"].endswith("_components") and phase_of(s) == phase)
    out["build.triples.shuffle_bytes"] = grp("build.triples").get("shuffle_bytes", 0)
    last_write = max((s["end"] for s in writes("build", "triples")),
                     default=roots["build"]["end"])
    out["build.summary_s"] = roots["build"]["end"] - last_write
    for phase in ("build", "resume"):
        r = roots[phase]
        out[f"{phase}.spark_jobs"] = sum(
            1 for j in status["jobs"] if r["start"] <= j["submitted"] <= r["end"])
        out[f"{phase}.unattributed_s"] = selfs[r["id"]]
        out[f"{phase}.unattributed_share"] = selfs[r["id"]] / dur(r)

    pipe = [g for k, g in groups.items() if k.split(".")[0] == "pipeline"]
    out["pipeline.wall_s"] = m["pipeline_s"]
    out["pipeline.py_udf_evals"] = grp("pipeline").get("py_udf_evals", 0)
    for key in ("py_init_s", "py_run_s", "arrow_bytes"):
        out[f"pipeline.{key}"] = sum(g.get(key, 0.0) for g in pipe)

    for name, layer in LAYER_OF_SPAN.items():
        key = f"self.{layer}_s"
        out[key] = out.get(key, 0.0) + sum(
            selfs[s["id"]] for s in spans if s["name"] == name)
    out["proc.peak_rss_mb"] = peak_rss_mb(spark)
    out["trace.overhead_s"] = tracer.overhead_s
    out["trace.build_s"] = m["build_s"]
    return out, status


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the Spark JVM (VmHWM)."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def prepare_workdir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
