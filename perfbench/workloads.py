"""The benchmark's workloads, metric names and the checks on them.

A workload is a list of registry queries (`graft.SparkEntry.queries`)
run in one JVM, query by query: each query runs all its executions back
to back, the way an iterative job repeats its own plans, with
`warmups` untimed executions after its cold one and at least
`min_timed` timed ones.

The seed fixes the query order and nothing else: the program only ever
receives the data directory. Both workloads run one query, so the seed
changes nothing they run; README.md says why.
"""
import os
import random
import re

# All workloads read these tables (TESTDATA.md); PERFBENCH_DATA overrides.
SCALE = "sf0.01"

WORKLOADS = {
    "graph_iterative": {
        "queries": ["q_pagerank"],
        "warmups": 7,
        "min_timed": 3,
    },
    "dedup_lsh": {
        "queries": ["q_label_spread"],
        "warmups": 18,
        "min_timed": 6,
    },
}

# Queries whose executed plans flip between runs (AQE stage-scheduling
# races, ROADMAP aim 3): they cannot give repeatable counts.
AQE_RACES = {"q_modularity", "q_ann_recall", "q_triangles_est"}

# Spark jobs per execution, by scale factor, from traced runs. A drift
# means either the program changed its job structure (update the table
# in the same change and say why) or the call-site attribution broke.
EXPECTED_JOBS = {
    "sf0.1": {
        "q_pagerank": 34, "q_pagerank_snap": 38, "q_hits": 45, "q_communities": 32,
        "q_kcore": 23, "q_dedup_minhash_cc_portable": 36, "q_dedup_embed": 79,
        "q_label_spread": 15, "q_pipeline_corpus": 41,
    },
    "sf0.01": {
        "q_pagerank": 33, "q_label_spread": 15,
    },
}

# Repo modules whose jobs and task time the traced run reports: those
# the workloads run code of. A job is charged to the module of its Spark
# call site; a job the sink write starts, to the module that registers
# the query (its lazy plan).
MODULES = ["PageRank", "Vectors", "Tables"]

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class WorkloadError(Exception):
    pass


def data_dir() -> str:
    return os.environ.get("PERFBENCH_DATA") or os.path.expanduser(os.path.join("~", "testdata", SCALE))


def order(name: str, seed: int) -> list:
    qs = list(WORKLOADS[name]["queries"])
    random.Random(f"{name}:{seed}").shuffle(qs)
    return qs


def validate(workloads=None, registry=None, metric_names=()) -> None:
    """Fails loudly on a workload that names a query missing from the
    registry (when the registry is given) or one of the AQE-race
    queries, and on a metric name outside [A-Za-z0-9_.-]."""
    workloads = WORKLOADS if workloads is None else workloads
    for w, spec in workloads.items():
        if not NAME.match(w):
            raise WorkloadError(f"workload name {w!r} is outside [A-Za-z0-9_.-]")
        racy = sorted(set(spec["queries"]) & AQE_RACES)
        if racy:
            raise WorkloadError(f"{w} names AQE-race queries, whose plans flip between runs: {racy}")
        if registry is not None:
            missing = sorted(q for q in spec["queries"] if q not in registry)
            if missing:
                raise WorkloadError(f"{w} names queries missing from SparkEntry.queries: {missing}")
    bad = sorted(m for m in metric_names if not NAME.match(m))
    if bad:
        raise WorkloadError(f"metric names outside [A-Za-z0-9_.-]: {bad}")


def job_drift(per_query_jobs: dict, scale: str) -> list:
    """(query, measured, expected) for each query whose traced job count
    differs from EXPECTED_JOBS at this scale."""
    expected = EXPECTED_JOBS.get(scale, {})
    return [(q, n, expected[q]) for q, n in sorted(per_query_jobs.items())
            if q in expected and n != expected[q]]
