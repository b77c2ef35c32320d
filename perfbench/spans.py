"""Layer spans and per-op Spark statistics for the traced run.

The tracer wraps engine functions by rebinding module attributes (the
engine's code is never edited) and keeps every span in memory:
``(name, layer, start, end, parent, op)``.  ``SparkStats`` reads job,
stage, task and shuffle counts for one job group from the live status
store, and Catalyst phase times from a collected DataFrame.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op: int | None = None
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self.txn_commits: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": self.op,
        }
        stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, module, attr: str, layer: str) -> None:
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(attr, layer):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._restore.append((module, attr, orig))

    def wrap_catalog(self, catalog: dict, names: list[str]) -> None:
        for n in names:
            q = catalog[n]
            orig = q.fn

            def traced(spark, sf_dir, _orig=orig, _n=n):
                with self.span(_n, "plans"):
                    return _orig(spark, sf_dir)

            catalog[n] = dataclasses.replace(q, fn=traced)
            self._restore.append((catalog, n, q))

    def wrap_txnlog_commit(self, txnlog) -> None:
        """Record every txnlog commit made inside an op: files it added
        and rewrote, their bytes, and the table's live bytes after it.
        The record is a count, kept with tracing off too; the span is
        only kept while tracing."""
        orig = txnlog._commit

        def traced(table, version, manifest):
            with self.span("_commit", "sources.txnlog"):
                orig(table, version, manifest)
            if self.op is None:
                return
            size = lambda p: os.path.getsize(os.path.join(table, p))  # noqa: E731
            added = manifest.get("added", [])
            files = manifest.get("files", [])
            rewrote = manifest.get("rewrote", [])
            self.txn_commits.append(
                {
                    "op": self.op,
                    "table": table,
                    "version": version,
                    "kind": manifest.get("op"),
                    "added": len(added),
                    "added_bytes": sum(size(p) for p in added),
                    "live_files": len(files),
                    "live_bytes": sum(size(e["path"]) for e in files),
                    "rewrote": len(rewrote),
                    "live_before": len(files) - len(added) + len(rewrote),
                }
            )

        txnlog._commit = traced
        self._restore.append((txnlog, "_commit", orig))

    def restore(self) -> None:
        for target, attr, orig in reversed(self._restore):
            if isinstance(target, dict):
                target[attr] = orig
            else:
                setattr(target, attr, orig)
        self._restore.clear()

    def self_times(self) -> dict[str, float]:
        """Total self time (span minus its children) per layer."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (
                s["end"] - s["start"] - child[i]
            )
        return out


class SparkStats:
    """Job-group statistics from ``statusTracker`` and the status store."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        jvm = sc._gateway.jvm
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._jlist = jvm.java.util.ArrayList

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def collect(self, group: str) -> dict:
        out = dict(
            jobs=0, stages=0, tasks=0, failed_tasks=0, shuffle_write_bytes=0,
            shuffle_read_bytes=0, records=0,
        )
        for j in self.tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                seq = self.store.stageData(
                    sid, False, self._jlist(), False, self._no_quantiles
                )
                for k in range(seq.size()):
                    sd = seq.apply(k)
                    done = sd.numCompleteTasks() + sd.numFailedTasks()
                    if done == 0:
                        continue  # skipped: its shuffle output was reused
                    out["stages"] += 1
                    out["tasks"] += done
                    out["failed_tasks"] += sd.numFailedTasks()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["records"] += sd.inputRecords() + sd.shuffleReadRecords()
        return out

    @staticmethod
    def catalyst_ms(df) -> dict:
        phases = df._jdf.queryExecution().tracker().phases()
        return {
            k: (phases.apply(k).durationMs() if phases.contains(k) else 0)
            for k in ("analysis", "optimization", "planning")
        }
