"""Traced run: spans around the calls into each layer's public functions.

The spans are recorded from outside the program. ``Tracer.installed()`` wraps
the package's layer entry points (and pyspark's parquet reader and writer,
where the checkpoint layer materializes a stage) for one pipeline run, and
puts the originals back afterwards. Every span sets a Spark job group of its
own, so the status tracker attributes each job to the innermost span open
when it ran. Spark is lazy: a layer's kernel runs inside the
``checkpoint.<stage>.write`` span that materializes it, so a write span is
counted to the layer that built its stage (``LAYER_OF_STAGE``). Stage and
task metrics come from the UI REST API, which only the traced session
enables. Spans stay in memory until ``Tracer.resolve`` reads them out.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

#: layer whose plan a checkpoint stage's write materializes; 'pairing' is
#: operators.topk or operators.lsh, whichever the workload routes to
LAYER_OF_STAGE = {"embeddings": "embed", "candidates": "pairing", "scored": "verify",
                  "clusters": "cluster"}


class Rest:
    """Reader for the UI REST API of the running application on this host."""

    def __init__(self, sc):
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))

    def get(self, path: str):
        with self._opener.open(self.base + path, timeout=30) as r:
            return json.load(r)

    def stage(self, stage_id: int) -> dict:
        """-> {tasks, shuffle_write_bytes, task_s: [...]} over the stage's
        attempts that ran (skipped stages contribute nothing)."""
        out = {"tasks": 0, "shuffle_write_bytes": 0, "task_s": []}
        for att in self.get(f"/stages/{stage_id}"):
            if att["status"] == "SKIPPED":
                continue
            out["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
            out["shuffle_write_bytes"] += att["shuffleWriteBytes"]
            tasks = self.get(f"/stages/{stage_id}/{att['attemptId']}/taskList?length=1000000")
            out["task_s"] += [t["duration"] / 1000 for t in tasks if "duration" in t]
        return out


class Tracer:
    """Spans of one traced pipeline run, each with its own Spark job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[dict] = []
        # job groups must not repeat across tracers of one application
        self._prefix = f"perfbench-{time.monotonic_ns()}"

    @contextmanager
    def span(self, name: str, layer: str | None = None, stage: str | None = None):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": layer,
            "stage": stage or (parent["stage"] if parent else None),
            "group": f"{self._prefix}-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1]["group"], self._open[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def _wrap(self, patched: list, owner, attr: str, name: str, layer: str | None,
              after=None, opens_stage: bool = False) -> None:
        """Replace ``owner.attr`` by a traced call. ``name`` may hold
        ``{stage}``: the enclosing checkpoint stage, or with ``opens_stage``
        the stage named by the call's first argument."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if opens_stage:
                stage = args[1]
            else:
                stage = tracer._open[-1]["stage"] if tracer._open else None
            with tracer.span(name.format(stage=stage), layer, stage) as rec:
                out = orig(*args, **kwargs)
                if after:
                    after(rec, args)
                return out

        setattr(owner, attr, traced)
        patched.append((owner, attr, orig))

    @contextmanager
    def installed(self):
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from deepblocker_spark import pipeline
        from deepblocker_spark.operators import cluster, embed, lsh, preprocess, topk
        from deepblocker_spark.plans import checkpoint
        from deepblocker_spark.sources import repo_files

        def vocab(rec, args):
            rec["vocab_size"] = len(args[0].weights or {})

        patched: list = []
        w = functools.partial(self._wrap, patched)
        try:
            w(repo_files, "load_repo_table", "repo_files.scan", "repo_files.scan")
            w(preprocess, "preprocess_table", "preprocess", "preprocess")
            w(pipeline.SparkSIFEmbedding, "preprocess", "embed.fit", "embed.fit", vocab)
            w(pipeline.SparkSIFEmbedding, "embed", "embed", "embed")
            w(embed, "compute_top_principal_component", "embed.pc", "embed.pc")
            w(topk.ExactTopKVectorPairing, "index", "topk.index", "pairing")
            w(topk.ExactTopKVectorPairing, "query", "topk.query", "pairing")
            w(lsh.LSHVectorPairing, "index", "lsh.index", "pairing")
            w(lsh.LSHVectorPairing, "query", "lsh.query", "pairing")
            w(cluster, "connected_components", "cluster", "cluster")
            w(checkpoint.CheckpointManager, "stage", "checkpoint.{stage}", "checkpoint",
              opens_stage=True)
            w(checkpoint, "partition_stats", "checkpoint.{stage}.fingerprint", "checkpoint")
            w(DataFrameWriter, "parquet", "checkpoint.{stage}.write", None)
            w(DataFrameReader, "parquet", "checkpoint.{stage}.read", "checkpoint")
            yield self
        finally:
            for owner, attr, orig in reversed(patched):
                setattr(owner, attr, orig)

    def _fence(self) -> None:
        """Wait until the status store has seen every job run so far: the
        listener bus is FIFO, so once a job submitted now shows as finished,
        all earlier jobs, stages and tasks are recorded too."""
        group = f"{self._prefix}-fence"
        self.sc.setJobGroup(group, "fence")
        try:
            self.sc.parallelize([0], 1).count()
        finally:
            self.sc._jsc.clearJobGroup()
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            ids = tracker.getJobIdsForGroup(group)
            infos = [tracker.getJobInfo(j) for j in ids]
            if infos and all(i is not None and i.status == "SUCCEEDED" for i in infos):
                return
            time.sleep(0.05)
        raise RuntimeError("status store did not catch up with the traced run")

    def resolve(self) -> dict:
        """Per-layer metrics of the tracer's one traced run: its first span
        is the root, every later span is nested in it."""
        self._fence()
        tracker = self.sc.statusTracker()
        rest = Rest(self.sc)
        spans = self.spans
        for s in spans:
            s["dur"] = s["end"] - s["start"]
            s["self"] = s["dur"]
        for s in spans[1:]:
            spans[s["parent"]]["self"] -= s["dur"]
        for s in spans:
            if s["layer"] is None:  # a stage's write: the layer that built it
                s["layer"] = LAYER_OF_STAGE.get(s["stage"], "checkpoint")
            s["jobs"] = list(tracker.getJobIdsForGroup(s["group"]))
            s["stages"] = sorted({sid for j in s["jobs"]
                                  for sid in tracker.getJobInfo(j).stageIds})

        stage_cache: dict[int, dict] = {}

        def layer_stats(members: list[dict]) -> dict:
            stage_ids = sorted({sid for s in members for sid in s["stages"]})
            for sid in stage_ids:
                if sid not in stage_cache:
                    stage_cache[sid] = rest.stage(sid)
            ran = [stage_cache[sid] for sid in stage_ids]
            task_s = [t for st in ran for t in st["task_s"]]
            return {
                "self_s": sum(s["self"] for s in members),
                "jobs": sum(len(s["jobs"]) for s in members),
                "stages": sum(1 for st in ran if st["tasks"]),
                "tasks": sum(st["tasks"] for st in ran),
                "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in ran),
                "max_task_s": max(task_s, default=0.0),
                "median_task_s": statistics.median(task_s) if task_s else 0.0,
            }

        def layer(name: str) -> dict:
            return layer_stats([s for s in spans if s["layer"] == name])

        out = {"all": layer_stats(spans), "spans": spans}
        for name in ("repo_files.scan", "preprocess", "embed.fit", "embed.pc", "embed",
                     "pairing", "verify", "cluster", "checkpoint"):
            out[name] = layer(name)
        out["vocab_size"] = sum(s.get("vocab_size", 0) for s in spans)
        return out

