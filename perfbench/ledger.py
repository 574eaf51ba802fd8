"""Metric definitions and the per-layer ledger of a traced run.

`END_TO_END` and `PER_LAYER` are the lists BENCHMARK.json declares (a test
keeps the two in step).  Every workload reports every metric; a layer a
workload does not use reports 0, which is the prediction for it.
"""

from __future__ import annotations

import statistics

import numpy as np

from tracing import union_length
from workloads import Batch

#: (name, unit, better, bound); the bounds cover the run-to-run spread of ten
#: seeds per workload and the drift between two such sets on a 4-core host
#: (README.md, baseline.json, baseline-repeat.json)
END_TO_END = [
    ("latency_ms", "ms", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("rss_median_mb", "MB", "lower", 0.25),
    ("stored_bytes_per_row", "B", "lower", 0.05),
    ("setup_s", "s", "lower", 0.25),
]

PER_LAYER = [
    # service: the request path
    ("api.compile_ms", "ms", "lower"),
    ("api.plan_ms", "ms", "lower"),
    ("api.execute_ms", "ms", "lower"),
    ("api.assemble_ms", "ms", "lower"),
    ("cells.cover_ms", "ms", "lower"),
    ("cells.cover_cells", "count", "lower"),
    ("cells.cover_join_share", "ratio", "lower"),
    ("spark.jobs_per_request", "count", "lower"),
    ("spark.driver_ms", "ms", "lower"),
    ("spark.scan.bytes_per_request", "B", "lower"),
    ("spark.scan.files_per_request", "count", "lower"),
    ("functions.refine_rows_in", "count", "lower"),
    ("functions.refine_keep_ratio", "ratio", "higher"),
    ("knn.probes_per_query", "count", "lower"),
    # batch: spatial jobs
    ("batchjoin.join_s", "s", "lower"),
    ("batchjoin.join_candidate_rows", "count", "lower"),
    ("batchjoin.join_keep_ratio", "ratio", "higher"),
    ("batchjoin.join_python_bytes_in", "B", "lower"),
    ("batchjoin.knn_s", "s", "lower"),
    ("batchjoin.knn_rounds", "count", "lower"),
    ("batchjoin.knn_candidate_rows", "count", "lower"),
    ("tiles.corridor_s", "s", "lower"),
    ("tiles.heatmap_s", "s", "lower"),
    ("tiles.pixel_stats_s", "s", "lower"),
    ("imaging.decode_rows", "count", "lower"),
    # batch: curation operators
    ("operators.text.lsh_s", "s", "lower"),
    ("operators.text.lsh_xxh_s", "s", "lower"),
    ("operators.text.near_dup_s", "s", "lower"),
    ("operators.text.candidate_pairs", "count", "lower"),
    ("operators.curation.repetition_s", "s", "lower"),
    ("operators.images.phash_s", "s", "lower"),
    ("operators.images.candidate_pairs", "count", "lower"),
    ("operators.ann.batch_topk_s", "s", "lower"),
    ("operators.ann.brute_topk_s", "s", "lower"),
    ("operators.ann.partial_rows", "count", "lower"),
    ("operators.ann.topk_keep_ratio", "ratio", "higher"),
    # batch: the ingest write path
    ("prepare.prepare_s", "s", "lower"),
    ("streaming.stream_prepare_s", "s", "lower"),
    ("prepare.merge_s", "s", "lower"),
    ("prepare.compact_s", "s", "lower"),
    ("prepare.bytes_written", "B", "lower"),
    ("prepare.write_amplification", "ratio", "lower"),
    ("prepare.files_after_prepare", "count", "lower"),
    ("prepare.files_after_stream", "count", "lower"),
    ("prepare.files_after_merge", "count", "lower"),
    ("prepare.files_after_compact", "count", "lower"),
    ("api.readback_fragmented_ms", "ms", "lower"),
    ("api.readback_compacted_ms", "ms", "lower"),
    # every job, per operation, from the event log
    ("spark.scan.bytes", "B", "lower"),
    ("spark.exchange.shuffle_write_bytes", "B", "lower"),
    ("spark.exchange.shuffle_read_bytes", "B", "lower"),
    ("spark.exchange.spill_bytes", "B", "lower"),
    ("spark.python.bytes_in", "B", "lower"),
    ("spark.python.bytes_out", "B", "lower"),
    ("spark.python.rows_in", "count", "lower"),
    ("spark.executor.run_s", "s", "lower"),
    ("spark.executor.cpu_s", "s", "lower"),
    ("spark.executor.gc_s", "s", "lower"),
    ("spark.executor.busy_share", "ratio", "higher"),
    ("spark.stage.skew", "ratio", "lower"),
    ("spark.task.peak_exec_mem_mb", "MB", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
    ("spark.task.queue_ms", "ms", "lower"),
    # the traced run's own end-to-end figures; capture.py sets them against
    # the untraced runs of the same capture to give the cost of tracing
    ("trace.latency_ms", "ms", "lower"),
    ("trace.ops_per_s", "1/s", "higher"),
]


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def end_to_end(ops: list[dict], wl, wall_s: float, setups: list[float],
               rss_samples: list[int], stored: float) -> dict:
    return {
        "latency_ms": wl.latency_ms(ops),
        # information: too few samples to bound
        "latency_p90_ms": percentile(wl.latencies_ms(ops), 90),
        "ops_per_s": wl.ops_per_s(ops, wall_s),
        "rss_median_mb": statistics.median(rss_samples) / 2 ** 20,
        "stored_bytes_per_row": stored,
        "setup_s": statistics.median(setups),
    }


class Ledger:
    """Per-layer metrics from the spans of a traced run and its event log."""

    def __init__(self, tracer, evlog, ops: list[dict], cores: int,
                 refine_counts: tuple[int, int] = (0, 0)):
        """`refine_counts`: (rows in, rows kept) of the service refine UDF."""
        self.tr, self.ev, self.ops, self.cores = tracer, evlog, ops, cores
        self.refine_counts = refine_counts
        self.kids = tracer.children()

    # -------------------------------------------------------------- helpers

    def _spans(self, name: str) -> list[dict]:
        return [s for s in self.tr.spans if s["name"] == name and s["end"] is not None]

    def _sub(self, sids) -> list[int]:
        out = []
        for s in sids:
            out += self.tr.subtree(s, self.kids)
        return out

    def _tasks(self, sids) -> list[dict]:
        return [t for s in sids for t in self.ev.spans[s]["tasks"]] if sids else []

    def _sql(self, sids, pred) -> float:
        return sum(v for s in sids for k, v in self.ev.spans[s]["sql"].items() if pred(k))

    @staticmethod
    def _dur(spans) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    # -------------------------------------------------------------- layers

    def service(self) -> dict:
        reqs = self._spans("request")
        n = max(len(reqs), 1)
        plans = self._spans("api.plan")
        covers = [s["attrs"]["cover_cells"] for s in plans if "cover_cells" in s["attrs"]]
        from openpoiservice_spark import config

        sub = self._sub([r["id"] for r in reqs])
        driver = 0.0
        for r in reqs:
            jobs = [j for s in self.tr.subtree(r["id"], self.kids) for j in self.ev.spans[s]["jobs"]]
            driver += (r["end"] - r["start"]) - union_length(jobs, r["start"], r["end"])
        probes = [r["attrs"]["probes"] for r in reqs if r["attrs"].get("probes")]
        acc = self.refine_counts
        return {
            "api.compile_ms": 1000 * self._dur(self._spans("api.compile")) / n,
            "api.plan_ms": 1000 * sum(self.tr.self_time(s["id"], self.kids) for s in plans) / n,
            "api.execute_ms": 1000 * self._dur(self._spans("spark.collect")) / n,
            "api.assemble_ms": 1000 * sum(self.tr.self_time(r["id"], self.kids) for r in reqs) / n,
            "cells.cover_ms": 1000 * self._dur(self._spans("cells.cover")) / n,
            "cells.cover_cells": float(np.mean(covers)) if covers else 0.0,
            "cells.cover_join_share": (sum(c > config.ISIN_COVER_THRESHOLD for c in covers)
                                       / len(covers)) if covers else 0.0,
            "spark.jobs_per_request": sum(len(self.ev.spans[s]["jobs"]) for s in sub) / n,
            "spark.driver_ms": 1000 * driver / n,
            "spark.scan.bytes_per_request": sum(t["input_bytes"] for t in self._tasks(sub)) / n,
            "spark.scan.files_per_request": self._sql(
                sub, lambda k: k.startswith("Scan") and k.endswith("/number of files read")) / n,
            "functions.refine_rows_in": acc[0] / n,
            "functions.refine_keep_ratio": acc[1] / acc[0] if acc[0] else 0.0,
            "knn.probes_per_query": float(np.mean(probes)) if probes else 0.0,
        }

    def batch(self) -> dict:
        ops = {}
        for o in self.ops:
            ops.setdefault(o["name"], []).append(o)
        n_pass = max(len(ops.get("batchjoin.join", [])), 1)

        def secs(name):
            return float(np.mean([o["t1"] - o["t0"] for o in ops.get(name, [])])) \
                if ops.get(name) else 0.0

        def sub(name):
            return self._sub([o["span"] for o in ops.get(name, []) if "span" in o])

        def py(name, node, metric):
            return self._sql(sub(name), lambda k: k.startswith(f"python.{node}")
                             and k.endswith(f"/{metric}")) / n_pass

        def nrows(name):
            return float(np.mean([len(o["out"]) for o in ops.get(name, [])])) if ops.get(name) else 0.0

        join_in = py("batchjoin.join", "MapInArrow", "rows_in")
        partial = py("ann.batch_topk", "", "number of output rows")
        writes = ("prepare.prepare", "streaming.stream_prepare", "prepare.merge", "prepare.compact")
        written = sum(t["output_bytes"] for w in writes for t in self._tasks(sub(w))) / n_pass
        # bytes of the rows each step changed, at the table's mean row size
        changed = sum(o["state"]["bytes"] / max(o["state"]["rows"], 1) * o["rows_changed"]
                      for w in writes for o in ops.get(w, [])) / n_pass
        knn_rounds = [o["knn_rounds"] for o in ops.get("batchjoin.knn", []) if o.get("knn_rounds")]

        def files(name):
            return float(np.mean([o["state"]["files"] for o in ops.get(name, [])])) \
                if ops.get(name) else 0.0

        rb = 1000.0 / Batch.N_READBACK
        return {
            "batchjoin.join_s": secs("batchjoin.join"),
            "batchjoin.join_candidate_rows": join_in,
            "batchjoin.join_keep_ratio": (py("batchjoin.join", "MapInArrow", "number of output rows")
                                          / join_in) if join_in else 0.0,
            "batchjoin.join_python_bytes_in": py("batchjoin.join", "MapInArrow",
                                                 "data sent to Python workers"),
            "batchjoin.knn_s": secs("batchjoin.knn"),
            "batchjoin.knn_rounds": float(np.mean(knn_rounds)) if knn_rounds else 0.0,
            "batchjoin.knn_candidate_rows": py("batchjoin.knn", "", "rows_in"),
            "tiles.corridor_s": secs("tiles.corridor"),
            "tiles.heatmap_s": secs("tiles.heatmap"),
            "tiles.pixel_stats_s": secs("tiles.pixel_stats"),
            "imaging.decode_rows": py("tiles.pixel_stats", "MapInPandas", "rows_in"),
            "operators.text.lsh_s": secs("text.lsh_md5"),
            "operators.text.lsh_xxh_s": secs("text.lsh_xxh"),
            "operators.text.near_dup_s": secs("text.near_dup"),
            "operators.text.candidate_pairs": nrows("text.lsh_md5"),
            "operators.curation.repetition_s": secs("curation.repetition"),
            "operators.images.phash_s": secs("images.phash"),
            "operators.images.candidate_pairs": nrows("images.phash"),
            "operators.ann.batch_topk_s": secs("ann.batch_topk"),
            "operators.ann.brute_topk_s": secs("ann.brute_topk"),
            "operators.ann.partial_rows": partial,
            "operators.ann.topk_keep_ratio": nrows("ann.batch_topk") / partial if partial else 0.0,
            "prepare.prepare_s": secs("prepare.prepare"),
            "streaming.stream_prepare_s": secs("streaming.stream_prepare"),
            "prepare.merge_s": secs("prepare.merge"),
            "prepare.compact_s": secs("prepare.compact"),
            "prepare.bytes_written": written,
            "prepare.write_amplification": written / changed if changed else 0.0,
            "prepare.files_after_prepare": files("prepare.prepare"),
            "prepare.files_after_stream": files("streaming.stream_prepare"),
            "prepare.files_after_merge": files("prepare.merge"),
            "prepare.files_after_compact": files("prepare.compact"),
            "api.readback_fragmented_ms": secs("api.readback_fragmented") * rb,
            "api.readback_compacted_ms": secs("api.readback_compacted") * rb,
        }

    def jobs(self, window_s: float) -> dict:
        n = max(len(self.ops), 1)
        roots = [o["span"] for o in self.ops if "span" in o]
        sub = self._sub(roots)
        tasks = self._tasks(sub)
        skews = []
        for r in roots:
            stages = [st for s in self.tr.subtree(r, self.kids) for st in self.ev.spans[s]["stages"]]
            if stages:
                _, runs = max(stages, key=lambda st: st[0])
                if runs and statistics.median(runs) > 0:
                    skews.append(max(runs) / statistics.median(runs))
        run_s = sum(t["run_ms"] for t in tasks) / 1000.0

        def pysum(metric):
            return self._sql(sub, lambda k: k.startswith("python.") and k.endswith(f"/{metric}")) / n

        return {
            "spark.scan.bytes": sum(t["input_bytes"] for t in tasks) / n,
            "spark.exchange.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / n,
            "spark.exchange.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks) / n,
            "spark.exchange.spill_bytes": sum(t["spill"] for t in tasks) / n,
            "spark.python.bytes_in": pysum("data sent to Python workers"),
            "spark.python.bytes_out": pysum("data returned from Python workers"),
            "spark.python.rows_in": pysum("rows_in"),
            "spark.executor.run_s": run_s / n,
            "spark.executor.cpu_s": sum(t["cpu_ms"] for t in tasks) / 1000.0 / n,
            "spark.executor.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0 / n,
            "spark.executor.busy_share": run_s / (window_s * self.cores) if window_s else 0.0,
            "spark.stage.skew": float(np.mean(skews)) if skews else 0.0,
            "spark.task.peak_exec_mem_mb": max((t["peak_mem"] for t in tasks), default=0) / 2 ** 20,
            "spark.task.queue_ms": float(np.mean([t["queue_ms"] for t in tasks])) if tasks else 0.0,
        }
