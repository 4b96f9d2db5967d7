"""The benchmark's workloads: one timed pass, its check, and its traced pass.

Each workload calls the package only through its public entry points
(``plans.backfill.turn_features`` / ``backfill_features``, which runs
``operators.asof``, and ``plans.lineage.run_incremental``).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

from perfbench import verify
from perfbench.trace import (
    node_metric,
    spark_totals,
    stage_sum,
    task_skew,
)
from tgist_features_spark.functions.text import with_ngram_features
from tgist_features_spark.operators.ordering import canonical_order
from tgist_features_spark.plans.backfill import backfill_features, turn_features
from tgist_features_spark.plans.lineage import run_incremental
from tgist_features_spark.sources.table_io import TableIO

# every per-layer metric: name -> (unit, better); layers a workload does
# not run report 0
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.worker_warm_s": ("s", "lower"),
    "sources.scan_s": ("s", "lower"),
    "sources.input_bytes": ("bytes", "lower"),
    "ordering.self_s": ("s", "lower"),
    "ordering.shuffle_write_bytes": ("bytes", "lower"),
    "ordering.spill_bytes": ("bytes", "lower"),
    "ordering.task_skew": ("ratio", "lower"),
    "windows.self_s": ("s", "lower"),
    "windows.spill_bytes": ("bytes", "lower"),
    "text.self_s": ("s", "lower"),
    "text.python_run_s": ("s", "lower"),
    "text.bytes_to_python": ("bytes", "lower"),
    "text.bytes_from_python": ("bytes", "lower"),
    "asof.self_s": ("s", "lower"),
    "asof.python_run_s": ("s", "lower"),
    "asof.shuffle_write_bytes": ("bytes", "lower"),
    "asof.task_skew": ("ratio", "lower"),
    "asof.match_rate": ("ratio", "higher"),
    "lineage.write_s": ("s", "lower"),
    "lineage.readback_s": ("s", "lower"),
    "lineage.bytes_written": ("bytes", "lower"),
    "lineage.files_written": ("count", "lower"),
    "lineage.manifest_s": ("s", "lower"),
    "lineage.buckets_run": ("count", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.cpu_s": ("s", "lower"),
    "spark.run_s": ("s", "lower"),
    "spark.task_retries": ("count", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

_PY_RUN = "time to run Python workers"


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _read_pdf(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class Workload:
    """Shared plumbing: inputs on disk, a scratch directory for outputs."""

    name = ""

    def __init__(self, data_dir: str, run_dir: str):
        self.data = data_dir
        self.run_dir = run_dir
        with open(os.path.join(data_dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.spark = None

    def register(self, spark) -> None:
        """Input registration: open the input tables and count them."""
        raise NotImplementedError

    def run_pass(self) -> dict:
        """One timed pass; returns what its check needs."""
        raise NotImplementedError

    def check(self, info: dict) -> list[str]:
        raise NotImplementedError

    def summary(self, walls: list[float], infos: list[dict]) -> tuple[float, dict]:
        """From the steady passes: turns_per_s and the workload's own figures."""
        raise NotImplementedError

    def traced_pass(self, tracer) -> dict:
        raise NotImplementedError

    def layer_metrics(self, tracer, groups: dict, info: dict) -> dict:
        raise NotImplementedError

    def _feature_spans(self, tracer, transcripts, persist: bool):
        """scan -> canonical_order -> text UDF -> turn_features, each call
        building on the one before (see trace.py for the self-time rule)."""
        with tracer.span("sources"):
            _noop(transcripts)
        with tracer.span("ordering", child="sources"):
            _noop(canonical_order(transcripts))
        with tracer.span("text", child="ordering"):
            _noop(with_ngram_features(canonical_order(transcripts)))
        with tracer.span("windows", child="text"):
            feats = turn_features(transcripts)
            if persist:
                feats = feats.persist()
            _noop(feats)
        return feats

    @staticmethod
    def _feature_layers(tracer, groups: dict) -> dict:
        o, t, w = groups["ordering"], groups["text"], groups["windows"]
        return {
            "sources.scan_s": tracer.self_time("sources"),
            "sources.input_bytes": node_metric(groups["sources"], ("Scan parquet",),
                                               "size of files read"),
            "ordering.self_s": tracer.self_time("ordering"),
            "ordering.shuffle_write_bytes": stage_sum(o, "shuffleWriteBytes"),
            "ordering.spill_bytes": node_metric(o, ("Sort",), "spill size"),
            "ordering.task_skew": task_skew(o),
            "windows.self_s": tracer.self_time("windows"),
            "windows.spill_bytes": node_metric(w, ("Window",), "spill size"),
            "text.self_s": tracer.self_time("text"),
            "text.python_run_s": node_metric(t, ("ArrowEvalPython",), _PY_RUN),
            "text.bytes_to_python": node_metric(
                t, ("ArrowEvalPython",), "data sent to Python workers"),
            "text.bytes_from_python": node_metric(
                t, ("ArrowEvalPython",), "data returned from Python workers"),
        }


class Backfill(Workload):
    """scan -> turn_features (canonical order, window passes, text UDF),
    persisted -> as-of of the probes (the backfill job's default shape)."""

    name = "backfill"

    def __init__(self, data_dir: str, run_dir: str):
        super().__init__(data_dir, run_dir)
        self.out_path = os.path.join(run_dir, "out")
        self.probes_pdf = _read_pdf(os.path.join(data_dir, "probes"))
        self.expected = pd.read_pickle(os.path.join(data_dir, "expected.pkl"))
        self.known = set(pq.read_table(os.path.join(data_dir, "transcripts"),
                                       columns=["conv_id"])["conv_id"].to_pylist())

    def register(self, spark) -> None:
        self.spark = spark
        self.transcripts = spark.read.parquet(os.path.join(self.data, "transcripts"))
        self.n_turns = self.transcripts.count()
        self.probes = spark.read.parquet(os.path.join(self.data, "probes"))
        self.probes.count()

    def _backfill(self, feats) -> None:
        # the output is probe-sized; writing it (instead of a noop sink)
        # lets every pass's actual rows be checked without recomputing them
        backfill_features(feats, self.probes).write.mode("overwrite").parquet(self.out_path)

    def run_pass(self) -> dict:
        feats = turn_features(self.transcripts).persist()
        self._backfill(feats)
        feats.unpersist()
        return {}

    def check(self, info: dict) -> list[str]:
        out = _read_pdf(self.out_path)
        info["match_rate"] = float(out["ts"].notna().mean())
        return verify.check_backfill(out, self.probes_pdf, self.known, self.expected)

    def summary(self, walls, infos):
        p = statistics.median(walls)
        return self.n_turns / p, {"probes_per_s": len(self.probes_pdf) / p}

    def traced_pass(self, tracer) -> dict:
        feats = self._feature_spans(tracer, self.transcripts, persist=True)
        with tracer.span("asof"):
            self._backfill(feats)
        feats.unpersist()
        return {}

    def layer_metrics(self, tracer, groups, info):
        g = groups["asof"]
        return {
            **self._feature_layers(tracer, groups),
            "asof.self_s": tracer.self_time("asof"),
            "asof.python_run_s": node_metric(g, ("MapInPandas",), _PY_RUN),
            "asof.shuffle_write_bytes": stage_sum(g, "shuffleWriteBytes"),
            "asof.task_skew": task_skew(g),
            "asof.match_rate": info["match_rate"],
        }


class Materialize(Workload):
    """run_incremental into a fresh warehouse: crash after K of N buckets,
    resume, then a same-snapshot rerun that must be a no-op."""

    name = "materialize"
    LINEAGE = ("lineage.crash", "lineage.resume", "lineage.rerun")

    def __init__(self, data_dir: str, run_dir: str):
        super().__init__(data_dir, run_dir)
        self.n_buckets = self.meta["n_buckets"]
        self.crash_after = self.meta["crash_after"]
        self.snapshot = f"seed-{self.meta['seed']}"
        self.n_pass = 0

    def register(self, spark) -> None:
        self.spark = spark
        self.transcripts = spark.read.parquet(os.path.join(self.data, "transcripts"))
        self.n_turns = self.transcripts.count()

    def _fresh_warehouse(self) -> TableIO:
        self.n_pass += 1
        self.wh = os.path.join(self.run_dir, f"wh-{self.n_pass}")
        return TableIO(self.spark, self.wh, n_buckets=self.n_buckets)

    def _run(self, io, run_id: str, fail_after=None) -> dict:
        return run_incremental(self.spark, io, self.transcripts, self.snapshot, run_id,
                               n_buckets=self.n_buckets, fail_after_buckets=fail_after)

    def run_pass(self) -> dict:
        io = self._fresh_warehouse()
        t0 = time.perf_counter()
        crash = self._run(io, "crash", self.crash_after)
        t1 = time.perf_counter()
        resume = self._run(io, "resume")
        t2 = time.perf_counter()
        rerun = self._run(io, "rerun")
        t3 = time.perf_counter()
        return {"runs": [crash, resume, rerun], "crash_s": t1 - t0,
                "resume_s": t2 - t1, "noop_rerun_s": t3 - t2}

    def check(self, info: dict) -> list[str]:
        manifest = _read_pdf(os.path.join(self.wh, "manifest"))
        problems = verify.check_materialize(info["runs"], manifest, self.n_turns,
                                            self.n_buckets, self.snapshot)
        info["bytes_written"], info["files_written"] = _dir_bytes(
            os.path.join(self.wh, "features"))
        shutil.rmtree(self.wh, ignore_errors=True)
        return problems

    def summary(self, walls, infos):
        write = statistics.median(i["crash_s"] + i["resume_s"] for i in infos)
        return self.n_turns / write, {
            "resume_s": statistics.median(i["resume_s"] for i in infos),
            "noop_rerun_s": statistics.median(i["noop_rerun_s"] for i in infos),
            "write_amp": statistics.median(i["bytes_written"] for i in infos)
            / self.meta["input_bytes"],
        }

    def traced_pass(self, tracer) -> dict:
        self._feature_spans(tracer, self.transcripts, persist=False)
        io = self._fresh_warehouse()
        runs = []
        for name, fail in zip(self.LINEAGE, (self.crash_after, None, None)):
            with tracer.span(name):
                runs.append(self._run(io, name.split(".")[1], fail))
        return {"runs": runs}

    def layer_metrics(self, tracer, groups, info):
        phase = {"write": 0.0, "readback": 0.0, "manifest": 0.0}
        features = os.path.join(self.wh, "features")
        for g in self.LINEAGE:
            for e in groups[g]["sql"]:
                phase[_lineage_phase(e, features)] += e["duration"] / 1e3
        return {
            **self._feature_layers(tracer, groups),
            "lineage.write_s": phase["write"],
            "lineage.readback_s": phase["readback"],
            "lineage.manifest_s": phase["manifest"],
            "lineage.bytes_written": float(info["bytes_written"]),
            "lineage.files_written": float(info["files_written"]),
            "lineage.buckets_run": float(len(info["runs"][2]["buckets_run"])),
        }


def _lineage_phase(execution: dict, features_path: str) -> str:
    """Which run_incremental phase a SQL execution belongs to: the feature
    write, the read-back of the written buckets, or manifest bookkeeping
    (manifest reads/appends and the per-bucket input row counts)."""
    names = {n["nodeName"] for n in execution["nodes"]}
    on_features = features_path in execution["planDescription"]
    if on_features and "Execute InsertIntoHadoopFsRelationCommand" in names:
        return "write"
    if on_features:
        return "readback"
    return "manifest"


WORKLOADS = {w.name: w for w in (Backfill, Materialize)}


def all_layer_metrics(workload: Workload, tracer, groups: dict, info: dict,
                      overhead_s: float) -> dict:
    """Every per-layer metric but the session's; layers the workload does
    not run report 0."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(workload.layer_metrics(tracer, groups, info))
    m.update(spark_totals(groups))
    m["trace.overhead_s"] = overhead_s
    return m
